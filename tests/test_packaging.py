"""Deployment packaging: the --py-files zip must contain every module and
be importable on its own (what each executor's Python worker does when the
job ships via `spark-submit --py-files`; see jobs/*.py)."""

import hashlib
import os
import subprocess
import sys
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.session import package_zip

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "miru_spark"
)


def _pkg_modules():
    out = []
    for root, _dirs, files in os.walk(PKG_DIR):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                out.append(os.path.relpath(full, os.path.dirname(PKG_DIR)))
    return sorted(out)


def test_zip_contains_every_module():
    zpath = package_zip()
    with zipfile.ZipFile(zpath) as zf:
        names = sorted(zf.namelist())
        digest = hashlib.sha256()
        for n in names:
            digest.update(n.encode() + b"\0" + zf.read(n) + b"\0")
    assert names == _pkg_modules()
    # named by the sources' digest: two checkouts on one box never
    # share (and overwrite) one executor package
    assert os.path.basename(zpath) == (
        f"miru_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )


def test_zip_imports_standalone():
    # fresh interpreter, zip as the ONLY path to the package
    zpath = package_zip()
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import miru_spark.analyzer, miru_spark.codec, miru_spark.oracle, "
        "miru_spark.queryparse, miru_spark.extract; "
        "print(miru_spark.analyzer.__file__)" % zpath
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd="/tmp",
        timeout=60,
    )
    assert res.returncode == 0, res.stderr
    assert zpath in res.stdout


def test_package_zip_concurrent_writers():
    """Concurrent driver processes rebuild the shared py-files zip; no
    reader may ever observe a half-written archive (the pre-r4 race:
    in-place ZipFile write). Hammer it from 6 processes while checking
    integrity from the parent."""
    import subprocess
    import sys
    import zipfile

    from miru_spark.session import package_zip

    code = (
        "import sys; sys.path.insert(0, %r); "
        "from miru_spark.session import package_zip; "
        "[package_zip() for _ in range(5)]"
        % os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    procs = [
        subprocess.Popen([sys.executable, "-c", code]) for _ in range(6)
    ]
    out = package_zip()
    for _ in range(40):
        assert zipfile.is_zipfile(out)
        with zipfile.ZipFile(out) as zf:
            names = zf.namelist()
            assert any(n.endswith("session.py") for n in names)
            assert zf.testzip() is None
    for p in procs:
        assert p.wait() == 0
