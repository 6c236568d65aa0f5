"""SparkSession factory tuned for the extraction workload.

Local-mode knobs mirror what a 1000-executor cluster deployment would set
cluster-wide: AQE on (dynamic coalescing + skew-join splitting — the
interleaved corpus is heavy-tailed in span count per doc), Arrow enabled
for every Python boundary, shuffle partitions sized to parallelism rather
than the 200 default.

Every driver JVM this factory launches maps a JDK dynamic class-data
archive, so it skips most class loading and verification. The archive is
keyed by the JDK and the Spark jars and lives in
`$XDG_CACHE_HOME/basicocr_spark/cds/` (default `~/.cache`). The first
session writes it when its JVM exits; every later session maps it.

Its Python workers import pyspark from the installed, bytecode-cached
package instead of Spark's source-only `pyspark.zip`: the daemon module
is `worker_daemon`, which drops the zip and execs `pyspark.daemon`.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import site
import subprocess
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# a dumping JVM writes the archive (140-200 MB) at exit: 10-13 s on a 4-vCPU host
_DUMP_WAIT_S = 60.0
# what puts more on the driver classpath than the conf dir and the jars
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CDS_OPTIONS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xshare")
DAEMON_MODULE = "basicocr_spark.worker_daemon"


class ClassDataPlan(NamedTuple):
    """How one driver JVM launch uses the class-data archive."""

    conf_dir: str  # the empty SPARK_CONF_DIR the archive's classpath holds
    java_option: str  # appended to spark.driver.extraJavaOptions
    archive: str  # <cache>/<key>.jsa
    dump: str | None  # <cache>/<key>.<pid>.tmp, promoted to `archive` on exit 0


def _archive_key(spark_home: str, environ) -> str | None:
    """Digest of what the JVM validates before it maps an archive: the JDK
    (the java binary spark-class runs, and its libjvm) and the jars on the
    classpath, by name, size and mtime. None when either is not found."""
    java_home = environ.get("JAVA_HOME")
    java = (
        os.path.join(java_home, "bin", "java")
        if java_home
        else shutil.which("java", path=environ.get("PATH"))
    )
    if not java or not os.path.isfile(java):
        return None
    java = os.path.realpath(java)
    libjvm = glob.glob(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.*"))
    jars = glob.glob(os.path.join(spark_home, "jars", "*.jar"))
    if not libjvm or not jars:
        return None
    parts = [java]
    for path in sorted(libjvm) + sorted(jars):
        st = os.stat(path)
        parts.append(f"{path}\0{st.st_size}\0{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:24]


def class_data_plan(
    spark_home: str, environ, conf: dict[str, str], pid: int
) -> ClassDataPlan | None:
    """Decide whether the driver JVM about to start maps the archive,
    dumps it at exit, or runs without one (None).

    JDK 17 neither dumps nor maps a dynamic archive whose classpath holds
    a non-empty directory, and Spark's launcher puts the conf dir on the
    classpath. Spark reads no `*.template`, so a conf dir of templates
    alone is swapped for an empty directory next to the archive, which
    changes no setting. A conf dir with any real file is left alone, and
    the JVM runs without an archive. So does a caller that sets its own
    class-data options or extra classpath, and an unwritable cache."""
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    if any(o in java_opts for o in _CDS_OPTIONS) or "spark.driver.extraClassPath" in conf:
        return None
    if any(environ.get(v) for v in _CLASSPATH_ENV):
        return None
    try:
        names = os.listdir(environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        names = []
    except OSError:
        return None
    if not all(n.endswith(".template") for n in names):
        return None
    key = _archive_key(spark_home, environ)
    if key is None:
        return None
    cache = environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    root = os.path.join(cache, "basicocr_spark", "cds")
    empty = os.path.join(root, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(root, os.W_OK):
            return None
    except OSError:
        return None
    archive = os.path.join(root, f"{key}.jsa")
    if os.path.isfile(archive):
        return ClassDataPlan(empty, f"-XX:SharedArchiveFile={archive}", archive, None)
    dump = os.path.join(root, f"{key}.{pid}.tmp")
    if os.path.exists(dump):  # this process's earlier JVM is still dumping
        return None
    # the dump warns on stdout once per class it skips (~600 lines for
    # Spark's signed and pre-JDK-6 classes); errors still print
    option = f"-XX:ArchiveClassesAtExit={dump} -Xlog:cds=error"
    return ClassDataPlan(empty, option, archive, dump)


def _remove_dead_dumps(root: str) -> None:
    """A dump whose process died before promoting it is torn or orphaned:
    delete it, so it neither reaches the keyed name nor fills the disk."""
    for path in glob.glob(os.path.join(root, "*.*.tmp")):
        try:
            os.kill(int(path.rsplit(".", 2)[-2]), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                os.remove(path)
        except (ValueError, OSError):
            continue


def _promote_at_exit(proc: subprocess.Popen, plan: ClassDataPlan) -> None:
    """At interpreter exit, wait (bounded) for the dumping JVM and promote
    its archive only if it exited 0: a refused dump exits 1 and writes
    nothing, and a torn one would crash the next JVM that maps it."""

    def promote() -> None:
        try:
            if proc.poll() is None:
                # the gateway JVM exits on EOF at its stdin, as it would
                # once this interpreter is gone
                with contextlib.suppress(OSError):
                    proc.stdin.close()
                proc.wait(_DUMP_WAIT_S)
            if proc.returncode == 0:
                os.replace(plan.dump, plan.archive)
        except (OSError, subprocess.TimeoutExpired):
            pass
        with contextlib.suppress(OSError):
            os.remove(plan.dump)

    atexit.register(promote)


def workers_run_daemon_module(environ, cwd: str) -> bool:
    """Whether the local Python workers of a JVM launched with `environ`
    in `cwd` can start `DAEMON_MODULE`: this package must be importable
    from a worker's starting path (its cwd, `PYTHONPATH` or site-packages;
    `--py-files` reach a worker only per task), and pyspark must be
    imported from a directory, not a zip, as the daemon will import it."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    start = [cwd, *environ.get("PYTHONPATH", "").split(os.pathsep), *site.getsitepackages()]
    return os.path.isfile(pyspark.__file__) and any(
        p and os.path.realpath(p) == root for p in start
    )


@contextlib.contextmanager
def _conf_dir(path: str | None):
    """SPARK_CONF_DIR set to `path` while the JVM launches, then restored."""
    saved = os.environ.get("SPARK_CONF_DIR")
    if path is not None:
        os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if path is not None:
            if saved is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved


def get_spark(
    parallelism: int | None = None,
    app_name: str = "basicocr_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local[N] thread count; also sets shuffle partitions.
    At cluster scale the same confs apply, with shuffle partitions sized
    to ~2-3x total cores and `spark.sql.files.maxPartitionBytes` left at
    128 MB so a 100 TB scan yields ~800k well-sized tasks.

    A JVM this call launches maps the class-data archive (see
    `class_data_plan`); its option is appended to the caller's
    `spark.driver.extraJavaOptions`, never in place of it. Its Python
    daemon module is `DAEMON_MODULE` when the workers can import it (see
    `workers_run_daemon_module`); a caller's `spark.python.daemon.module`
    wins.
    """
    n = parallelism or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # nested-schema pruning so span-routing reads only spans.kind /
        # spans.media_ref from parquet, not the full struct
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    conf = dict(extra_conf or {})
    plan = None
    # a JVM is launched only when no gateway is up (spark-submit starts its
    # own before Python runs)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        plan = class_data_plan(_find_spark_home(), os.environ, conf, os.getpid())
        if workers_run_daemon_module(os.environ, os.getcwd()):
            conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
    if plan is not None:
        _remove_dead_dumps(os.path.dirname(plan.archive))
        java_opts = conf.get("spark.driver.extraJavaOptions", "")
        conf["spark.driver.extraJavaOptions"] = f"{java_opts} {plan.java_option}".strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _conf_dir(plan and plan.conf_dir):
        spark = builder.getOrCreate()
    if plan is not None and plan.dump is not None:
        _promote_at_exit(SparkContext._gateway.proc, plan)
    spark.sparkContext.setLogLevel("WARN")
    return spark
