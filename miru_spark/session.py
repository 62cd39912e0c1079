"""SparkSession factory with engine defaults.

Ships the miru_spark package to executor Python workers via addPyFile --
the programmatic equivalent of `spark-submit --py-files miru_spark.zip`
(the deployment mode BASELINE.json mandates), so the engine works no matter
where the driver process was launched from.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the miru_spark package for --py-files / addPyFile shipping.

    The file is named by a digest of the packaged sources (sha256 over
    each module's path and bytes, in path order), so identical sources
    share one path and different checkouts on one box never overwrite
    each other's zip mid-session. Written to a process-unique temp file
    and atomically renamed into place: concurrent driver processes
    (reader-replica stress, parallel jobs on one box) must never observe
    a half-written zip."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                sources.append(
                    (os.path.relpath(full, os.path.dirname(pkg_dir)), full)
                )
    sources.sort()
    digest = hashlib.sha256()
    blobs = []
    for rel, full in sources:
        with open(full, "rb") as f:
            data = f.read()
        blobs.append((rel, data))
        digest.update(rel.encode() + b"\0" + data + b"\0")
    out = os.path.join(
        tempfile.gettempdir(),
        f"miru_spark_pyfiles_{digest.hexdigest()[:16]}.zip",
    )
    tmp = f"{out}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, data in blobs:
            # a fixed timestamp keeps the bytes a function of the sources
            info = zipfile.ZipInfo(rel, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            zf.writestr(info, data)
    os.replace(tmp, out)
    return out


def get_spark(
    app_name: str = "miru_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("MIRU_SPARK_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = cores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MIRU_DRIVER_MEM", "8g"))
        # throughput GC: the build's explode shuffle is allocation-heavy
        # and G1 falls behind at high thread counts (GCLocker stalls)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("MIRU_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in a reused session
    return spark
