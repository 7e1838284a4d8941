"""Benchmark entry point.

    python3 perfbench/run.py --workload spatial_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Starts one Spark session on
``local[nproc]``, sets the workload up three times (``setup_s`` is the
session start plus the median set-up), runs an untimed warm-up cycle,
then measures the closed loop for ``--seconds``. Every operation is
checked against an independent answer outside the timed interval.

The last line of stdout is the result object: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced loop (the first half of the time runs untraced, the second half
traced; their difference is the tracing overhead). The line before it
is the report: every end-to-end metric named for the workload, tails
with their percentile and sample count, and the host facts.

Scratch goes under ``.perfbench_work/`` in the checkout and is removed
at exit; span dumps of traced runs stay in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DEFAULT_SF = 0.02  # 120 K points; the sizes scale linearly with sf

LAYER_NAMES = ("bench", "zorder", "spatial", "writer", "stream", "search", "dedup", "graph")
# the per-layer metrics a traced run of spatial_ingest or corpus_ingest
# prints (BENCHMARK.json); spatial_read's extra query types and its
# z-sorted write appear in the report line only
PER_LAYER = {
    "zorder.cover_ms": "ms",
    "zorder.cover_intervals": "count",
    **{
        f"spatial.{kind}.{m}": unit
        for kind in ("range_small", "knn")
        for m, unit in (("call_ms", "ms"), ("action_ms", "ms"), ("jobs_per_op", "count"),
                        ("scan_rows_per_result", "ratio"), ("executor_cpu_ms", "ms"))
    },
    "writer.compact_s": "s",
    "writer.files": "count",
    "writer.overlapping_span_pairs": "count",
    "write.seed_insert_s": "s",
    "index.buckets": "count",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.overhead_ms": "ms",
    "stream.jobs_per_trigger": "count",
    "dedup.pairs_s": "s",
    "dedup.pairs": "count",
    "graph.cc_s": "s",
    "graph.cc_jobs": "count",
    "dedup.keep_best_s": "s",
    "search.jobs_per_query": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    **{f"self_s.{layer}": "s" for layer in LAYER_NAMES},
    "trace.uncovered_s": "s",
    "trace.loop_s": "s",
    "trace.overhead_pct": "%",
}
LAYER_UNITS = {
    **PER_LAYER,
    **{f"spatial.{kind}.{m}": unit
       for kind in ("range_large", "point_get")
       for m, unit in (("call_ms", "ms"), ("action_ms", "ms"), ("jobs_per_op", "count"),
                       ("scan_rows_per_result", "ratio"), ("executor_cpu_ms", "ms"))},
    "writer.zsort_write_s": "s",
}


def driver_memory() -> str:
    """A fifth of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    return f"{min(4, max(1, kib // (5 * 1024 * 1024)))}g"


def configure(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and size the Spark driver's memory to the host. Must run before
    pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    # Python workers unpickle the package's UDFs, so they need the root too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )


def measure(wl, seconds: float, first_round: int):
    """Closed loop: whole rounds until ``seconds`` of timed work have run
    and the loop sits on a cycle boundary. Returns the operations, the
    timed seconds, the next round number and, per round, its timed
    seconds and operations."""
    from workloads import Clock

    clock = Clock()
    start = len(wl.ops)
    rounds = []
    r = first_round
    while True:
        before, first_op = clock.total, len(wl.ops)
        clock.start()
        wl.round(r, clock)
        clock.stop()
        rounds.append({"s": clock.total - before, "ops": wl.ops[first_op:]})
        r += 1
        if clock.total >= seconds and r % wl.cycle == 0:
            return wl.ops[start:], clock.total, r, rounds


def layer_metrics(wl, tracer, spans, setup_spans, ops, loop_s, per_op_s):
    from spans import dur_ms, self_times
    from workloads import p50

    tracer.resolve()
    out = {name: 0.0 for name in LAYER_UNITS}
    out.update(wl.layers(spans, ops))
    for name, key in (("writer.zsort_write", "writer.zsort_write_s"),
                      ("write.seed_insert", "write.seed_insert_s")):
        durs = [dur_ms(s) / 1000 for s in setup_spans if s["name"] == name]
        if durs:
            out[key] = p50(durs)
    for key, field, scale in (
        ("spark.jobs", "jobs", 1), ("spark.stages", "stages", 1),
        ("spark.stages_skipped", "stages_skipped", 1),
        ("spark.executor_cpu_s", "cpu_ms", 1e-3), ("spark.executor_run_s", "run_ms", 1e-3),
        ("spark.shuffle_read_bytes", "shuffle_read_bytes", 1),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes", 1),
    ):
        out[key] = sum(s["own"][field] for s in spans) * scale
    for layer, ms in self_times(spans).items():
        out[f"self_s.{layer}"] = ms / 1000
    roots_s = sum(dur_ms(s) for s in spans if s["parent"] is None) / 1000
    out["trace.loop_s"] = loop_s
    out["trace.uncovered_s"] = loop_s - roots_s
    # both halves run whole cycles of the same operation mix, so the
    # mean time per operation compares them
    out["trace.overhead_pct"] = 100.0 * (loop_s / len(ops) / per_op_s - 1.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("spatial_read", "spatial_ingest", "corpus_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="input scale (0.1 = 600 K points, 5000 documents)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tiny_md_hbase_spark", "__init__.py")):
        print(f"no tiny_md_hbase_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure(work)
    try:
        return run(args, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, work_root: str) -> int:
    from tiny_md_hbase_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    session_s = time.perf_counter() - t0
    gateway_proc = spark.sparkContext._gateway.proc
    try:
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id)
        ctx = types.SimpleNamespace(spark=spark, seed=args.seed, sf=args.sf,
                                    work=work, tracer=tracer)
        wl = WORKLOADS[args.workload](ctx)

        tracer.enabled = bool(args.trace)
        preps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            preps.append(time.perf_counter() - t)
        setup_spans = list(tracer.spans)
        tracer.enabled = False
        setup_s = session_s + statistics.median(preps)
        wl.warmup()

        seconds = args.seconds / 2 if args.trace else args.seconds
        ops, loop_s, r, rounds = measure(wl, seconds, 0)
        e2e = {"setup_s": {"value": setup_s, "unit": "s"}, **wl.gated(rounds)}
        report = {**e2e, **wl.report(ops, loop_s)}
        result_metrics = e2e
        if args.trace:
            first_span = len(tracer.spans)
            tracer.enabled = True
            tops, tloop_s, _, trounds = measure(wl, seconds, r)
            tracer.enabled = False
            spans = tracer.spans[first_span:]
            layers = layer_metrics(wl, tracer, spans, setup_spans, tops, tloop_s,
                                   loop_s / len(ops))
            report["traced"] = wl.gated(trounds)
            report["layers"] = {k: {"value": v, "unit": LAYER_UNITS[k]}
                                for k, v in layers.items()}
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            tracer.dump(os.path.join(work_root, "traces", f"{run_id}.json"))
            result_metrics = {k: report["layers"][k] for k in PER_LAYER}

        attempted = len(wl.ops)
        failed = sum(not o["ok"] for o in wl.ops)
        report["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "sf": args.sf,
            "nproc": nproc, "spark_cores": spark.sparkContext.defaultParallelism,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "setup_reps_s": preps, "session_start_s": session_s,
            "measured_rounds": len(rounds), "measured_ops": len(ops),
            "loop_s": loop_s, "round_s": [rd["s"] for rd in rounds],
            "op_ms": [[o["kind"], round(o["ms"])] for o in ops], "report": report,
        }))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                        for k, m in result_metrics.items()},
        }), flush=True)
        return 0
    finally:
        spark.stop()
        if gateway_proc is not None:
            gateway_proc.stdin.close()
            gateway_proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
