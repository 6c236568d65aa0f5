"""The Python daemon module `get_spark` sets (basicocr_spark.worker_daemon):
its version check against Spark's pyspark.zip, and what a session's
workers then run. A worker imports the installed pyspark with no
pyspark.zip on its path, the daemon keeps the `-m pyspark.daemon`
command line with no kernel, pandas or pyarrow imported before it
forks, the driver JVM's command line never names `pyspark.daemon`, and
the zip stamp patch is live in a worker after a kernel task."""

import os
import subprocess
import sys
import zipfile
import zipimport

import pyspark

from basicocr_spark import fixtures as FX
from basicocr_spark import schemas as S
from basicocr_spark import worker_daemon as W
from basicocr_spark.operators import extraction as X

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_zip(path, version):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def _daemon(zip_path, *flags):
    """The module run as Spark runs a daemon, with `zip_path` first on its path."""
    return subprocess.run(
        [sys.executable, *flags, "-m", "basicocr_spark.worker_daemon", "pyspark.worker"],
        env=os.environ | {"PYTHONPATH": os.pathsep.join([zip_path, ROOT])},
        stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=60, check=False,
    )


def test_matching_zip_passes(tmp_path):
    assert W.zip_version(_spark_zip(tmp_path / "pyspark.zip", pyspark.__version__)) == pyspark.__version__
    assert W.version_error(str(tmp_path / "pyspark.zip"), pyspark.__version__) is None
    assert W.installed_version(sys.path) == pyspark.__version__


def test_mismatched_zip_fails_on_stderr_only(tmp_path):
    zip_path = _spark_zip(tmp_path / "pyspark.zip", "0.0.1")
    err = W.version_error(zip_path, pyspark.__version__)
    assert "0.0.1" in err and pyspark.__version__ in err
    out = _daemon(zip_path)
    assert out.returncode != 0 and out.stdout == ""
    assert "0.0.1" in out.stderr and pyspark.__version__ in out.stderr


def test_missing_pyspark_fails_on_stderr_only(tmp_path):
    zip_path = _spark_zip(tmp_path / "pyspark.zip", pyspark.__version__)
    assert W.installed_version([str(tmp_path)]) is None
    err = W.version_error(zip_path, None)
    assert pyspark.__version__ in err and "not installed" in err
    out = _daemon(zip_path, "-S")  # no site-packages: only the zip holds pyspark
    assert out.returncode != 0 and out.stdout == ""
    assert pyspark.__version__ in out.stderr and "not installed" in out.stderr


def test_installed_version_reads_the_first_pyspark_on_the_path(tmp_path):
    (tmp_path / "pyspark").mkdir()
    (tmp_path / "pyspark" / "__init__.py").write_text("")
    (tmp_path / "pyspark" / "version.py").write_text("__version__ = '9.9.9'\n")
    assert W.installed_version([str(tmp_path), *sys.path]) == "9.9.9"


def test_workers_import_pyspark_from_the_installed_package(spark):
    def probe(batches):
        import os
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        daemon = os.getppid()
        with open(f"/proc/{daemon}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode()
        with open(f"/proc/{daemon}/maps") as f:
            mapped = [ln.split()[-1] for ln in f if "/" in ln]
        yield pa.RecordBatch.from_pydict(
            {
                "pyspark_file": [pyspark.__file__],
                "zips": [[p for p in sys.path if os.path.basename(p) == "pyspark.zip"]],
                "daemon": [cmdline],
                "daemon_libs": [sorted({os.path.basename(p) for p in mapped})],
            }
        )

    schema = "pyspark_file string, zips array<string>, daemon string, daemon_libs array<string>"
    rows = spark.range(2, numPartitions=2).mapInArrow(probe, schema).collect()
    assert rows
    for r in rows:
        assert ".zip" not in r.pyspark_file and os.path.isfile(r.pyspark_file), r.pyspark_file
        assert r.zips == []
        assert "-m pyspark.daemon pyspark.worker" in r.daemon
        heavy = [lib for lib in r.daemon_libs if any(n in lib for n in ("arrow", "pandas", "numpy"))]
        assert heavy == [], heavy
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm}/cmdline", "rb") as f:
        assert b"pyspark.daemon" not in f.read()
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "basicocr_spark.worker_daemon"


def test_zip_stamp_patch_is_live_after_a_kernel_task(spark):
    """py4j's zip and the spark-core jar stay on the worker path, so a
    kernel task still installs the stamp check: unpickling the kernel
    imports the package in the worker."""
    docs = FX.gen_documents(20, 10, seed=3)
    df = spark.createDataFrame(
        [(d, [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]) for d, spans in docs],
        schema=S.DOCUMENTS,
    ).coalesce(1)
    kernel, broadcasts = X.fused_arrow_kernel(
        spark.sparkContext, FX.gen_media_logits(10, 3), FX.gen_dictionary(FX.SEED), FX.STOP_TERMS
    )

    def after_kernel(batches):
        import sys
        import zipimport

        import pyarrow as pa

        docs_out = sum(rb.num_rows for rb in kernel(batches))
        patched = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "docs": [docs_out],
                "patched": [f"{patched.__module__}.{patched.__qualname__}"],
                "eager": [sys.version_info < (3, 13)],
            }
        )

    try:
        row = df.mapInArrow(after_kernel, "docs long, patched string, eager boolean").first()
    finally:
        for b in broadcasts:
            b.unpersist()
    assert row.docs == len(docs)
    if row.eager:
        assert row.patched.startswith("basicocr_spark._reread_zip_archives_only_when_changed"), row.patched
    else:
        assert row.patched == "zipimport.zipimporter.invalidate_caches"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
