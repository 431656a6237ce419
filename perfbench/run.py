"""Benchmark of the market engine: one workload per invocation.

    python3 perfbench/run.py --workload backfill|serve|live|catalog \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The session is the engine's own
(`session.get_spark`) pinned to local[nproc]. A run sets up SETUP_REPS times
and reports the median as setup_s, warms up untimed, measures for --seconds,
then checks every output against ground truth. Figures are printed by name
with their unit; the last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
measures untraced, then traced (spans around every call into the engine,
with Spark job and task counts per call), prints the per-layer table and the
tracing overhead, writes the spans to .perfbench_work/traces/, and reports
the per-layer metrics. Any correctness mismatch makes the exit code 1; a
checkout without the engine makes it 2 without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time
from collections import defaultdict

from catalog_oracle import QUERIES as CATALOG_OPERATOR
from spans import Tracer, median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
# Per-layer metrics every workload reports, with their units (BENCHMARK.json's
# per_layer list); a layer the workload does not drive reads 0. Timings are
# per call, counts are ratios, so none grows with the work a run gets done.
LAYER_METRICS = {
    "session.start_s": "s",
    "trace.overhead_ms": "ms",
    "spark.jobs_per_op": "count/op",
    "spark.tasks_per_op": "count/op",
    "sources.fetcher.tick_ms": "ms",
    "sources.fetcher.retries_per_poll": "ratio",
    "sources.wire.to_df_ms": "ms",
    "sources.wire.normalize_ms": "ms",
    "sources.wire.malformed_per_row": "ratio",
    "streaming.ingest.append_ms": "ms",
    "streaming.ingest.useful_frac": "ratio",
    "streaming.ingest.stored_keys_per_fresh_row": "ratio",
    "storage.layout.write_ms": "ms",
    "storage.files_per_batch": "ratio",
    "storage.files_per_partition": "ratio",
    "storage.bytes_per_row": "B/row",
    "streaming.push.route_ms": "ms",
    "streaming.push.frames_per_affected_key": "ratio",
    "queries.build_s_per_op": "s",
    "queries.exec_s_per_op": "s",
    "queries.jobs_per_op": "count/op",
    **{f"operators.{m}.s": "s" for m in sorted(set(CATALOG_OPERATOR.values()) - {None})},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("backfill", "serve", "live", "catalog"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # keep every job's status, so a traced run can count them all
            "--conf spark.ui.retainedJobs=1000000",
            "--conf spark.ui.retainedStages=1000000",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None


def start_session(cpus: int):
    from hridaya_steam_market_tracker_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    t = time.perf_counter()
    spark = get_spark("perfbench")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)


def measure(W, name, run, state, out: list, phase: str):
    t = time.perf_counter()
    res = W.WORKLOADS[name][2](run, state)
    print(f"# {phase}: measured and checked in {time.perf_counter() - t:.2f} s")
    out.append((phase, res))
    for err in res.errors[:20]:
        print(f"# FAIL {err}", file=sys.stderr)
    return res


def end_to_end(res, setup_s) -> dict:
    ok = bool(res.latencies_s)
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (res.op_p50_s() * 1e3 if ok else float("nan"), "ms"),
        "op_tail_ms": (res.op_tail_s() * 1e3 if ok else float("nan"), "ms"),
        "throughput_per_s": (res.throughput, "1/s"),
        "retained_mb": (res.memory_mb, "MB"),
    }


def layer_table(tracer, res) -> tuple[dict, dict]:
    """Print the per-span table (self time excludes child spans). Returns the
    layer metrics of LAYER_METRICS that spans and the workload give, and the
    further figures: per read shape and per query."""
    by_name: dict[str, list] = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s)
    self_t = tracer.self_times()
    print("# span                                    calls   total_s    self_s    p50_ms   jobs  tasks")
    for span_name in sorted(by_name):
        calls, total, jobs, tasks = tracer.totals(span_name)
        p50 = median([s.end - s.start for s in by_name[span_name]]) * 1e3
        print(f"# {span_name:<38} {calls:>6} {total:>9.3f} {self_t[span_name]:>9.3f} "
              f"{p50:>9.2f} {jobs:>6} {tasks:>6}")

    def p50(span_name):
        return median([s.end - s.start for s in by_name[span_name]])

    def per_call(span_names, attr):
        spans = by_name[span_names[0]]
        return sum(getattr(s, attr) for n in span_names for s in by_name[n]) / len(spans)

    layer = {k: v for k, v in res.layer.items() if k in LAYER_METRICS}
    for span_name in ("sources.fetcher.tick", "sources.wire.to_df", "sources.wire.normalize",
                      "streaming.ingest.append", "storage.layout.write", "streaming.push.route"):
        if span_name in by_name:
            layer[f"{span_name}_ms"] = p50(span_name) * 1e3
    figures = {k: (v, "value") for k, v in res.layer.items() if k not in LAYER_METRICS}
    for shape in sorted({n.split(".")[1] for n in by_name if n.startswith("serve.")}):
        pair = [f"serve.{shape}.build", f"serve.{shape}.exec"]
        figures[f"serve.{shape}.build_ms"] = (p50(pair[0]) * 1e3, "ms")
        figures[f"serve.{shape}.exec_ms"] = (p50(pair[1]) * 1e3, "ms")
        figures[f"serve.{shape}.jobs"] = (per_call(pair, "jobs"), "count/call")
        figures[f"serve.{shape}.tasks"] = (per_call(pair, "tasks"), "count/call")
    queries = sorted({n.split(".")[1] for n in by_name if n.startswith("queries.")})
    operators: dict[str, float] = defaultdict(float)
    for q in queries:
        pair = [f"queries.{q}.build", f"queries.{q}.exec"]
        figures[f"queries.{q}.build_s"] = (p50(pair[0]), "s")
        figures[f"queries.{q}.exec_s"] = (p50(pair[1]), "s")
        figures[f"queries.{q}.jobs"] = (per_call(pair, "jobs"), "count/call")
        if CATALOG_OPERATOR[q]:
            operators[CATALOG_OPERATOR[q]] += p50(pair[0]) + p50(pair[1])
    if queries:
        # Each query's median, averaged over the queries: a partial last
        # pass does not shift the mix.
        layer["queries.build_s_per_op"] = sum(figures[f"queries.{q}.build_s"][0]
                                              for q in queries) / len(queries)
        layer["queries.exec_s_per_op"] = sum(figures[f"queries.{q}.exec_s"][0]
                                             for q in queries) / len(queries)
        layer["queries.jobs_per_op"] = sum(figures[f"queries.{q}.jobs"][0]
                                           for q in queries) / len(queries)
    layer.update({f"operators.{m}.s": sec for m, sec in operators.items()})
    return layer, figures


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark
        import workloads as W
        from tests import oracle  # noqa: F401  (catalog's correctness check)
    except ImportError as err:
        print(f"perfbench: the engine is not importable from {ROOT}: {err}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    name = args.workload
    spark, session_start = start_session(cpus)
    results: list = []   # (phase, Result)
    try:
        # The session starts once per process; the workload's own set-up is
        # repeated and its median added.
        run = W.Run(spark, Tracer(spark.sparkContext, False), args.seed, args.seconds, work)
        setup_times, state = [], None
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            state = W.WORKLOADS[name][0](run)
            setup_times.append(time.perf_counter() - t)
        setup_s = session_start + median(setup_times)
        t = time.perf_counter()
        W.WORKLOADS[name][1](run, state)
        print(f"# session {session_start:.2f} s, set-up {[round(x, 2) for x in setup_times]} s, "
              f"warm-up {time.perf_counter() - t:.2f} s")

        stamp = {
            "workload": name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "nproc": cpus, "master": spark.sparkContext.master, "spark": spark.version,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        if name == "live":
            stamp["offered_polls_per_s"] = round(W.offered_rate(state), 3)
        print("# stamp " + json.dumps(stamp))

        base = measure(W, name, run, state, results, "untraced")
        metrics = end_to_end(base, setup_s)
        if args.trace:
            metrics, spark = traced_phases(W, args, work, spark, run, state, results, stamp,
                                           metrics, session_start)
        for phase, res in results:
            for k, (v, u) in res.report.items():
                print(f"figure[{phase}] {k} {v:.6g} {u}")
        for k, (v, u) in metrics.items():
            print(f"metric {k} {v:.6g} {u}")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    results = [r for _, r in results]
    attempted = sum(r.attempted for r in results)
    failed = sum(r.failed for r in results)
    print(f"figure failed_frac {failed / max(1, attempted):.6g} ratio")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def traced_phases(W, args, work, spark, run, state, results, stamp, untraced, session_start):
    """The traced measurement, its per-layer figures and the tracing
    overhead; for backfill also the local[1] baseline. Returns the per-layer
    metrics and the session in use."""
    name = args.workload
    if name == "live":  # the untraced phase grew the sink: start again
        state = W.live_setup(run)
    traced_run = W.Run(spark, Tracer(spark.sparkContext, True), args.seed, args.seconds, work)
    traced = measure(W, name, traced_run, state, results, "traced")
    tracer = traced_run.tracer
    tracer.finish()
    found, figures = layer_table(tracer, traced)
    t_p50 = traced.op_p50_s() * 1e3
    overhead = t_p50 - untraced["op_p50_ms"][0]
    print(f"# tracing overhead: op_p50 {overhead:+.2f} ms "
          f"(traced {t_p50:.2f} ms, untraced {untraced['op_p50_ms'][0]:.2f} ms)")
    ops = max(1, traced.attempted)
    layer = {k: 0.0 for k in LAYER_METRICS}
    layer.update(found)
    layer.update({
        "session.start_s": session_start,
        "trace.overhead_ms": overhead,
        "spark.jobs_per_op": sum(s.jobs for s in tracer.spans) / ops,
        "spark.tasks_per_op": sum(s.tasks for s in tracer.spans) / ops,
    })
    figures["trace.spans"] = (len(tracer.spans), "count")
    if name == "backfill":
        # Single-threaded baseline: backfill at local[1] for half the run length.
        spark.stop()
        spark, _ = start_session(1)
        one = W.Run(spark, Tracer(spark.sparkContext, False), args.seed, args.seconds / 2, work)
        W.backfill_setup(one)
        res = measure(W, name, one, {}, results, "local1")
        figures["local1.ingest_rows_per_s"] = (res.throughput, "rows/s")
        figures["local1.pricehistory_batch_p50_s"] = (median(res.latencies_s), "s")
    for k, (v, u) in figures.items():
        print(f"figure[traced] {k} {v:.6g} {u}")
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{name}-seed{args.seed}.json"),
                {**stamp, "layer": layer, "figures": {k: v for k, (v, _) in figures.items()}})
    return {k: (v, LAYER_METRICS[k]) for k, v in layer.items()}, spark


if __name__ == "__main__":
    sys.exit(main())
