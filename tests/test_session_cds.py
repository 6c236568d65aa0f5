"""get_spark maps a class-data archive keyed by the JDK and the Spark jars:
the first session dumps it when its JVM exits, later sessions map it, the
caller's JVM options survive, a torn dump never reaches the keyed name,
and a conf dir with a real file is left alone. Its Python daemon module
is basicocr_spark.worker_daemon when the workers can import it, and a
caller's daemon or worker module wins."""

import json
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

from basicocr_spark import session as S

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session in a fresh interpreter; argv: extraJavaOptions, then "kill"
# to SIGKILL the JVM in the middle of its dump, or "exit" to leave as a
# program does
SESSION = r"""
import glob, json, os, signal, sys, time
from pyspark import SparkContext
from basicocr_spark.session import get_spark
spark = get_spark(2, extra_conf={"spark.driver.memory": "1g",
                                 "spark.driver.extraJavaOptions": sys.argv[1]})
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "args": list(mx.getInputArguments()),
    "sum": spark.range(100).selectExpr("sum(id)").first()[0],
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "from_defaults": spark.sparkContext.getConf().get("spark.bocr.from_defaults", None),
}), flush=True)
if sys.argv[2] == "kill":
    proc = SparkContext._gateway.proc
    proc.stdin.close()  # the JVM exits, dumping the archive as it goes
    tmp = os.path.join(os.environ["XDG_CACHE_HOME"], "basicocr_spark", "cds", "*.tmp")
    while proc.poll() is None and not [p for p in glob.glob(tmp) if os.path.getsize(p)]:
        time.sleep(0.01)
    os.kill(proc.pid, signal.SIGKILL)
    proc.wait()
    torn = [os.path.getsize(p) for p in glob.glob(tmp)]
    print(json.dumps({"torn_bytes": torn, "exit": proc.returncode}), flush=True)
"""


def _env(tmp_path, **extra):
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    env["PYTHONPATH"] = os.pathsep.join([ROOT, env.get("PYTHONPATH", "")])
    return env | extra


def _run(env, script, *argv):
    out = subprocess.run(
        [sys.executable, "-c", script, *argv],
        env=env, capture_output=True, text=True, timeout=300, check=False,
    )
    lines = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines, out.stderr[-3000:]
    return {k: v for ln in lines for k, v in ln.items()}


def _session(env, java_opts, end="exit"):
    return _run(env, SESSION, java_opts, end)


def _cds_dir(env):
    return os.path.join(env["XDG_CACHE_HOME"], "basicocr_spark", "cds")


def _fake_spark_home(path, jar_bytes=b"jar"):
    (path / "jars").mkdir(parents=True)
    (path / "jars" / "spark-core.jar").write_bytes(jar_bytes)
    (path / "conf").mkdir()
    (path / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    return str(path)


def _touch(path):
    with open(path, "wb") as f:
        f.write(b"archive")
    return path


def test_template_only_conf_dir_dumps_then_maps(tmp_path):
    env = _env(tmp_path)
    home = _fake_spark_home(tmp_path / "spark")
    plan = S.class_data_plan(home, env, {}, 123)
    root = _cds_dir(env)
    assert plan.conf_dir == os.path.join(root, "conf") and os.listdir(plan.conf_dir) == []
    assert plan.dump == plan.archive[: -len(".jsa")] + ".123.tmp"
    assert plan.java_option.startswith(f"-XX:ArchiveClassesAtExit={plan.dump}")
    os.replace(_touch(plan.dump), plan.archive)
    mapped = S.class_data_plan(home, env, {}, 123)
    assert mapped.dump is None and mapped.java_option == f"-XX:SharedArchiveFile={plan.archive}"


def test_real_conf_file_gets_no_archive(tmp_path):
    env = _env(tmp_path)
    home = _fake_spark_home(tmp_path / "spark")
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert S.class_data_plan(home, env, {}, 1) is None
    conf = tmp_path / "site-conf"
    conf.mkdir()
    (conf / "log4j2.properties").write_text("")
    assert S.class_data_plan(home, env | {"SPARK_CONF_DIR": str(conf)}, {}, 1) is None
    assert not os.path.exists(_cds_dir(env))


def test_caller_class_data_options_or_classpath_get_no_archive(tmp_path):
    env = _env(tmp_path)
    home = _fake_spark_home(tmp_path / "spark")
    for conf in (
        {"spark.driver.extraJavaOptions": "-Xshare:off"},
        {"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/x.jsa"},
        {"spark.driver.extraClassPath": "/opt/extra.jar"},
    ):
        assert S.class_data_plan(home, env, conf, 1) is None, conf
    assert S.class_data_plan(home, env | {"HADOOP_CONF_DIR": "/etc/hadoop"}, {}, 1) is None


def test_a_new_jar_set_gets_a_new_key(tmp_path):
    env = _env(tmp_path)
    a = S.class_data_plan(_fake_spark_home(tmp_path / "a"), env, {}, 1)
    b = S.class_data_plan(_fake_spark_home(tmp_path / "b", b"jar2"), env, {}, 1)
    assert a.archive != b.archive


def test_unwritable_cache_gets_no_archive(tmp_path):
    env = _env(tmp_path, XDG_CACHE_HOME=str(tmp_path / "file"))
    (tmp_path / "file").write_text("not a directory")
    assert S.class_data_plan(_fake_spark_home(tmp_path / "spark"), env, {}, 1) is None


def test_first_session_dumps_the_next_maps_and_caller_options_survive(tmp_path):
    env = _env(tmp_path)
    logs = [tmp_path / "cds1.log", tmp_path / "cds2.log"]
    first = _session(env, f"-Xlog:cds=info:file={logs[0]} -Dbocr.probe=1")
    plan = S.class_data_plan(_find_spark_home(), env, {}, 0)
    assert sorted(os.listdir(_cds_dir(env))) == sorted(["conf", os.path.basename(plan.archive)])
    second = _session(env, f"-Xlog:cds=info:file={logs[1]} -Dbocr.probe=1")
    assert "Mapped dynamic region" in logs[1].read_text()
    for r in (first, second):
        assert "-Dbocr.probe=1" in r["args"] and r["sum"] == 4950
    assert f"-XX:SharedArchiveFile={plan.archive}" in second["args"]
    # the conf dir is swapped only while the JVM launches
    assert first["conf_dir"] is None and second["conf_dir"] is None


def test_a_torn_dump_is_never_promoted_or_mapped(tmp_path):
    """A truncated dump planted under a dead pid is deleted, not mapped;
    the next session starts normally, and its own dump, torn when its JVM
    is killed in the middle of writing it, reaches no keyed name either."""
    env = _env(tmp_path)
    plan = S.class_data_plan(_find_spark_home(), env, {}, 0)
    dead = subprocess.Popen(["true"])
    dead.wait()
    planted = plan.archive[: -len(".jsa")] + f".{dead.pid}.tmp"
    with open(planted, "wb") as f:
        f.write(b"\x00" * 4096)
    r = _session(env, "-Dbocr.probe=1", end="kill")
    assert r["sum"] == 4950 and "-Dbocr.probe=1" in r["args"]
    # killed mid-dump: a partial archive was on disk when the JVM died
    assert r["exit"] == -9 and len(r["torn_bytes"]) == 1 and r["torn_bytes"][0] > 0
    assert not any(planted in a or "SharedArchiveFile" in a for a in r["args"])
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in r["args"])
    assert os.listdir(_cds_dir(env)) == ["conf"]


def test_session_with_real_conf_file_keeps_its_conf_dir_and_values(tmp_path):
    conf = tmp_path / "site-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.bocr.from_defaults on\n")
    env = _env(tmp_path, SPARK_CONF_DIR=str(conf))
    r = _session(env, "-Dbocr.probe=1")
    assert r["from_defaults"] == "on" and r["conf_dir"] == str(conf)
    assert not any("SharedArchiveFile" in a or "ArchiveClassesAtExit" in a for a in r["args"])
    assert not os.path.exists(_cds_dir(env))


# one session in a fresh interpreter, extra_conf in argv[1]: one Python
# task reports where its pyspark came from, its daemon's command line and
# the caller's worker modules it holds
DAEMON_SESSION = r"""
import json, sys
from basicocr_spark.session import get_spark
spark = get_spark(2, extra_conf=json.loads(sys.argv[1]))

def probe(batches):
    import os, sys
    import pyarrow as pa
    import pyspark
    for _ in batches:
        pass
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
        daemon = f.read().replace(b"\0", b" ").decode()
    yield pa.RecordBatch.from_pydict({
        "pyspark_file": [pyspark.__file__], "daemon": [daemon],
        "worker_modules": [sorted(m for m in sys.modules if m.startswith("pyspark_bocr"))],
    })

row = spark.range(1, numPartitions=1).mapInArrow(
    probe, "pyspark_file string, daemon string, worker_modules array<string>").first()
print(json.dumps(row.asDict() | {
    "daemon_module": spark.sparkContext.getConf().get("spark.python.daemon.module", None)}))
spark.stop()
"""


def _daemon_session(tmp_path, conf):
    # -Xshare:auto turns the class-data plan off: no archive is dumped
    conf = {"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-Xshare:auto"} | conf
    (tmp_path / "pyspark_bocr_worker.py").write_text("from pyspark.worker import main  # noqa: F401\n")
    env = _env(tmp_path)
    env["PYTHONPATH"] = os.pathsep.join([env["PYTHONPATH"], str(tmp_path)])
    return _run(env, DAEMON_SESSION, json.dumps(conf))


def test_workers_start_the_daemon_module_only_where_they_import_it(tmp_path):
    env = {"PYTHONPATH": str(tmp_path)}
    assert not S.workers_run_daemon_module(env, str(tmp_path))
    assert S.workers_run_daemon_module(env, ROOT)
    assert S.workers_run_daemon_module({"PYTHONPATH": os.pathsep.join([str(tmp_path), ROOT])}, "/")


def test_caller_worker_module_reaches_the_execd_daemon(tmp_path):
    r = _daemon_session(tmp_path, {"spark.python.worker.module": "pyspark_bocr_worker"})
    assert r["daemon_module"] == S.DAEMON_MODULE
    assert "-m pyspark.daemon pyspark_bocr_worker" in r["daemon"]
    assert r["worker_modules"] == ["pyspark_bocr_worker"]
    assert ".zip" not in r["pyspark_file"]


def test_caller_daemon_module_wins(tmp_path):
    r = _daemon_session(tmp_path, {"spark.python.daemon.module": "pyspark.daemon"})
    assert r["daemon_module"] == "pyspark.daemon"
    assert "pyspark.zip" in r["pyspark_file"]
