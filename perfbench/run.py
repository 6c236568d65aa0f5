#!/usr/bin/env python3
"""basicocr_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload flagship_text --seed 1 --seconds 6 --trace 0

Run from the repository root. Starts Spark on local[N] (N = min(4,
nproc)) in this process and generates the workload's inputs from --seed.
A steady workload runs one warm-up pass, then repeats timed passes
(closed loop, one client) for --seconds; a cold-job workload times its
first pass, as spark-submit would run it. The output is checked against
an oracle, and one JSON object is printed as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced
and traced passes and reports the per-layer metrics, writing the spans
and a self-time table under .bench_build/perfbench/traces/. A JSON line
with host context and the workload's other figures precedes the result.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def parse_args(argv, workload_names):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workload_names)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def start_spark(work: str, n: int):
    """The program's own session factory, with every scratch path of the
    JVM and its Python workers kept inside the checkout."""
    from basicocr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the JVM spark-submit runs first
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return get_spark(
        parallelism=n,
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def host_context(n_local: int) -> dict:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    import probes

    return {
        "nproc": probes.nproc(),
        "local_n": n_local,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "duckdb": duckdb.__version__,
    }


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    import gen
    import probes
    import workloads

    args = parse_args(argv, sorted(workloads.WORKLOADS))
    # a terminated run still stops Spark and its workers (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the program under test must be importable from the checkout; without
    # it the benchmark fails here, before starting anything
    import basicocr_spark  # noqa: F401
    import __spark_entry__  # noqa: F401
    import run_extraction  # noqa: F401

    n_local = min(4, probes.nproc())
    work = os.path.join(BUILD, f"v{gen.GEN_VERSION}", f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)  # inputs are regenerated, never reused
    tracer = probes.Tracer(bool(args.trace))

    t_setup = time.perf_counter()
    spark = start_spark(work, n_local)
    try:
        t_session = time.perf_counter() - t_setup
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        with tracer.span("workload", workload=args.workload, seed=args.seed):
            t0 = time.perf_counter()
            wl.generate()
            t_gen = time.perf_counter() - t0
            # a cold-job workload is timed as spark-submit runs it: one job in
            # a fresh JVM, no warm-up (a traced run still warms up, so its
            # traced and untraced passes compare like with like)
            one_cold_pass = wl.cold_job and not args.trace
            t0 = time.perf_counter()
            warm = None if one_cold_pass else wl.run_pass(traced=False)
            spark.sparkContext.setJobGroup("bench.other", "outside timed passes")
            t_warm = time.perf_counter() - t0
            setup_s = t_session + t_gen + t_warm

            passes, traced = [], []
            with probes.RssSampler() as rss:
                deadline = time.perf_counter() + args.seconds
                for i in itertools.count():
                    # a traced run alternates untraced and traced passes
                    is_traced = bool(args.trace) and i % 2 == 1
                    tracer.enabled = is_traced
                    with tracer.span("pass", index=i) as sp:
                        p = wl.run_pass(traced=is_traced)
                    spark.sparkContext.setJobGroup("bench.other", "outside timed passes")
                    tracer.enabled = bool(args.trace)
                    p["span"] = sp["id"] if sp is not None else None
                    (traced if is_traced else passes).append(p)
                    done = one_cold_pass or time.perf_counter() >= deadline
                    if done and (not args.trace or traced):
                        break
        untraced_walls = [p["wall"] for p in passes]
        # oracle and host probes run after the timed region
        t0 = time.perf_counter()
        attempted, failed = wl.check()
        t_check = time.perf_counter() - t0
        ran = [p for p in [warm] + passes + traced if p is not None]
        failed += sum(not p["ok"] for p in ran)
        attempted += len(ran)
        calibration = probes.calibrate_mops(probes.nproc())

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "gen_version": gen.GEN_VERSION,
            "host": host_context(n_local) | {"calibration_mops": calibration},
            "passes": len(passes),
            "traced_passes": len(traced),
            "pass_wall_s": untraced_walls,
            "docs_per_pass": wl.n_docs,
            "input_bytes": wl.input_bytes,
            "setup": {"session_s": t_session, "inputs_s": t_gen, "warmup_s": t_warm},
            "failed_frac": {"value": failed / attempted, "unit": "fraction"},
            "oracle": {"attempted": attempted, "failed": failed, "seconds": t_check},
        } | wl.details
        if args.workload == "media_skew_job":
            context["resume_s"] = {
                "value": statistics.median(p["resume"] for p in passes + traced), "unit": "s"
            }

        if not args.trace:
            values = {
                "docs_per_s": statistics.median(wl.n_docs / w for w in untraced_walls),
                "wall_s": statistics.median(untraced_walls),
                "setup_s": setup_s,
                "py_worker_rss_peak_mb": rss.peak,
            }
        else:
            # Spark jobs ran under the job groups each pass names; hang them
            # under the span that ran them (the pass span by default)
            pairs = [
                (sid if sid is not None else p["span"], g)
                for p in traced
                for sid, g in p["groups"].values()
            ]
            by_group = probes.add_spark_spans(tracer, spark, pairs)
            for p in traced:
                p["stages"] = {k: by_group[g] for k, (_, g) in p["groups"].items()}
            values = wl.layers(traced)
            values["host.calibration_mops"] = calibration
            values["trace.overhead_frac"] = statistics.median(
                p["wall"] for p in traced
            ) / statistics.median(untraced_walls)
            path = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(path, context)
            context["trace_file"] = os.path.relpath(path, ROOT)
            _print_self_time(tracer)
    finally:
        probes.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    metrics = report(values, bool(args.trace))
    print(json.dumps({"context": context}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def report(values: dict[str, float], trace: bool) -> dict[str, dict]:
    """Every metric BENCHMARK.json declares for this mode, with its unit.
    A per-layer metric of a layer the workload does not run reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not trace and set(values) != set(units):
        raise KeyError(f"end-to-end metrics not measured: {sorted(set(units) - set(values))}")
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}


def _print_self_time(tracer) -> None:
    print(f"{'span':40s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}", file=sys.stderr)
    for r in tracer.self_times():
        print(f"{r['name']:40s} {r['count']:6d} {r['total_s']:10.3f} {r['self_s']:10.3f}",
              file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
