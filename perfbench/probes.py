"""Layer probes that need no Spark: analyzer and codec throughput, plus the
run-health record kept with every result."""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus

ANALYZER_DOCS = 2000


def analyzer_tokens_per_s(seed: int, tracer) -> float:
    """`analyze_block` over a fixed 2k-doc sample of the corpus."""
    from miru_spark.analyzer import analyze_block

    texts = corpus.generate(seed, 0, ANALYZER_DOCS)["text"].to_pylist()
    analyze_block(texts[:50], "en")  # import-time and first-call costs
    with tracer.span("analyzer:analyze_block"):
        t0 = time.perf_counter()
        toks = analyze_block(texts, "en")
        dt = time.perf_counter() - t0
    return sum(len(t) for t in toks) / dt


def posting_blobs(index_dir: str, limit: int = 4000) -> list[bytes]:
    """The `limit` largest docID blobs of the index's posting rows."""
    files = glob.glob(os.path.join(index_dir, "segments", "*", "*.parquet"))
    tbl = pa.concat_tables(
        pq.read_table(f, columns=["row_type", "n", "ids_bin"],
                      filters=[("row_type", "=", "p")])
        for f in files
    )
    order = pc.sort_indices(tbl["n"], sort_keys=[("n", "descending")])
    return tbl["ids_bin"].take(order[:limit]).to_pylist()


def codec_rates(index_dir: str, tracer) -> dict:
    """Decode and re-encode posting blobs read from the built index."""
    from miru_spark.codec import decode_postings, encode_postings

    blobs = posting_blobs(index_dir)
    with tracer.span("codec:decode_postings"):
        t0 = time.perf_counter()
        ids = [decode_postings(b) for b in blobs]
        dec = time.perf_counter() - t0
    with tracer.span("codec:encode_postings"):
        t0 = time.perf_counter()
        for a in ids:
            encode_postings(a)
        enc = time.perf_counter() - t0
    n = sum(len(a) for a in ids)
    return {
        "codec.decode_postings_per_s": n / dec,
        "codec.encode_postings_per_s": n / enc,
        "codec.decode_mb_per_s": sum(len(b) for b in blobs) / dec / 1e6,
    }


def postings_bytes(index_dir: str) -> int:
    """Bytes of the posting blobs (docIDs, tfs, doc lengths)."""
    total = 0
    cols = ["ids_bin", "tfs_bin", "dls_bin"]
    for f in glob.glob(os.path.join(index_dir, "segments", "*", "*.parquet")):
        tbl = pq.read_table(f, columns=["row_type"] + cols,
                            filters=[("row_type", "=", "p")])
        total += sum(int(pc.sum(pc.binary_length(tbl[c])).as_py() or 0)
                     for c in cols)
    return total


def content_bytes(index_dir: str) -> int:
    """Bytes of the index's content files (segments, stats, termstats).
    Lineage rows carry wall times and marker files carry nothing, so both
    are left out: the count repeats exactly for a given input."""
    return sum(dir_bytes(os.path.join(index_dir, sub))
               for sub in ("segments", "stats", "termstats"))


def dir_bytes(path: str) -> int:
    """Bytes of the parquet files under `path`."""
    return sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "miru_spark", "**",
                                              "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD of the checkout at `root`, or None when it is not a git one."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def children_cpu_s() -> float:
    """CPU seconds used so far by the live descendants of this process
    (the JVM and its Python workers), from /proc; 0 off Linux."""
    stats = {}
    for pid in os.listdir("/proc") if os.path.isdir("/proc") else ():
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields after the name: state ppid ... utime(12) stime(13)
        stats[int(pid)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    tree, ticks = {os.getpid()}, 0
    grew = True
    while grew:
        grew = False
        for pid, (ppid, t) in stats.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                ticks += t
                grew = True
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int] | None:
    """The aggregate `cpu` line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after) -> float | None:
    """Share of host CPU time stolen by other guests between two samples
    of `cpu_times()`: a noisy-neighbour datum for the run-health record."""
    if not before or not after or len(before) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))
