"""Outside-in measurement helpers: spans, Spark stage metrics, worker
memory, host calibration and process teardown.

Nothing here reaches inside basicocr_spark: layers are timed around
calls into their public functions, and Spark's per-job/per-stage
numbers are read from the Spark driver's status store.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    attrs) with epoch-second times, so Python spans and Spark job/stage
    spans (epoch ms in the status store) share one clock. When disabled
    every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "attrs": attrs}
        )
        return sid

    def self_times(self) -> list[dict]:
        """Per span name: count, total seconds, and self seconds (duration
        minus the union of the intervals its children cover, clipped to
        the span)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        rows: dict[str, list[float]] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered, cur_a, cur_b = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                a, b = max(c["start"], s["start"]), min(c["end"], s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            r = rows.setdefault(s["name"], [0, 0.0, 0.0])
            r[0] += 1
            r[1] += dur
            r[2] += dur - covered
        return [
            {"name": n, "count": c, "total_s": t, "self_s": st}
            for n, (c, t, st) in sorted(rows.items(), key=lambda kv: -kv[1][2])
        ]

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "self_time": self.self_times()}, f)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def job_stage_ids(sc, group: str) -> list[tuple[int, list[int]]]:
    """(job id, stage ids) for every job run under a job group."""
    st = sc.statusTracker()
    out = []
    for j in sorted(st.getJobIdsForGroup(group)):
        info = st.getJobInfo(j)
        out.append((j, list(info.stageIds) if info is not None else []))
    return out


def _epoch(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


def _graph_names(store, stage_id: int) -> list[str]:
    names: list[str] = []
    todo = [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        names.append(c.name())
        kids = c.childClusters()
        todo.extend(kids.apply(i) for i in range(kids.length()))
    return names


def stage_metrics(spark, stage_ids: set[int]) -> dict[int, dict]:
    """Completed-stage metrics for `stage_ids`, read through the
    5-argument AppStatusStore.stageList (works with spark.ui.enabled
    false). Skipped stages (reused shuffle output) are absent."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    statuses = jvm.java.util.ArrayList()
    statuses.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
    seq = store.stageList(
        statuses, False, False, gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList()
    )
    quant = gw.new_array(gw.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out: dict[int, dict] = {}
    for i in range(seq.length()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid not in stage_ids:
            continue
        skew = 1.0
        summ = store.taskSummary(sid, s.attemptId(), quant)
        if summ.isDefined():
            q = summ.get().executorRunTime()
            med, mx = q.apply(0), q.apply(1)
            skew = mx / med if med > 0 else 1.0
        out[sid] = {
            "start": _epoch(s.submissionTime()),
            "end": _epoch(s.completionTime()),
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
            "spill_mb": s.diskBytesSpilled() / 1e6,
            "task_skew": skew,
            "ops": _graph_names(store, sid),
        }
    return out


def add_spark_spans(tracer: Tracer, spark, groups: list[tuple[int, str]]) -> dict[str, list[dict]]:
    """Attach Spark job and stage spans under the tracer spans that ran
    them. `groups` pairs a tracer span id with the job group set while it
    ran. Returns {group: [metrics of each completed stage]}."""
    sc = spark.sparkContext
    jobs = {g: job_stage_ids(sc, g) for _, g in groups}
    stages = stage_metrics(spark, {s for js in jobs.values() for _, ss in js for s in ss})
    store = sc._jsc.sc().statusStore()
    out = {}
    for parent, g in groups:
        seen: list[dict] = []
        for jid, sids in jobs[g]:
            jd = store.job(jid)
            j0, j1 = _epoch(jd.submissionTime()), _epoch(jd.completionTime())
            if j0 is None or j1 is None:
                continue
            jspan = tracer.add("spark.job", j0, j1, parent, job_id=jid)
            for sid in sids:
                st = stages.get(sid)
                if st is None or st["start"] is None or st["end"] is None:
                    continue
                tracer.add("spark.stage", st["start"], st["end"], jspan, stage_id=sid,
                           **{k: v for k, v in st.items() if k not in ("start", "end")})
                seen.append(st)
        out[g] = seen
    return out


def spark_totals(stages: list[dict]) -> dict[str, float]:
    """Sum one pass's stage metrics; task skew is the skew of the stage
    with the most executor time (the one that sets the pass's length)."""
    keys = ("run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks")
    tot = {k: sum(s[k] for s in stages) for k in keys}
    tot["task_skew"] = max(stages, key=lambda s: s["run_s"])["task_skew"] if stages else 1.0
    return tot


# ---------------------------------------------------------------------------
# Python worker memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_py_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def py_worker_rss_mb() -> float:
    """Summed RSS of this process's Spark Python workers (the
    pyspark.daemon process tree), from /proc."""
    total = 0
    for pid in descendants(os.getpid()):
        if not _is_py_worker(pid):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total / 1e6


class RssSampler:
    """Background peak of py_worker_rss_mb(), sampled every `interval` s."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, py_worker_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, py_worker_rss_mb())


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


_SPIN = """
import time
def spin(seconds):
    t0 = time.perf_counter()
    x = 0
    while time.perf_counter() - t0 < seconds:
        for _ in range(10000):
            x += 1
    return x / (time.perf_counter() - t0)
print(spin({seconds}))
"""


def calibrate_mops(n_procs: int, seconds: float = 1.0) -> float:
    """Busy-loop Mops/s summed over n_procs concurrent processes (at most
    nproc, so the probe never oversubscribes the host it describes)."""
    code = _SPIN.format(seconds=seconds)
    procs = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
        for _ in range(n_procs)
    ]
    return sum(float(p.communicate()[0]) for p in procs) / 1e6


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# teardown
# ---------------------------------------------------------------------------


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, shut the JVM down and wait until the JVM and
    every Python worker it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = [proc.pid, *descendants(proc.pid)] if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + timeout
        time.sleep(0.1)


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
