"""Benchmark entry point: one workload, one seed, one closed-loop window.

    python3 perfbench/run.py --workload recall_serve --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout of the engine. One process, one
load-generating thread, a closed loop: the next op starts when the previous
one returns. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of an untraced window.
``--trace 1`` runs the same window with tracing on, exactly ``MIN_UNITS``
units long, so it holds the same ops as an untraced run at that seed and its
counters repeat exactly. It reports per-layer metrics, among them the
window's own ``ops_per_s`` and ``cpu_s_per_op`` under tracing (tracing
overhead is these minus an untraced run's at the same seed; ``spread.py
--overhead`` computes it), and writes spans and per-layer detail to
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("recall_serve", "batch_queries", "delta_ingest")
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "heap_live_mb": "MB",
}
PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.executor_cpu_ms_per_op": "ms",
    "spark.in_jobs_ms_per_op": "ms",
    "spark.outside_jobs_ms_per_op": "ms",
    "session.materialize_calls_per_op": "count",
    "session.keyed_hits_per_op": "count",
    "session.cached_rdds": "count",
    "session.cache_mem_mb": "MB",
    "streaming.batches_per_op": "count",
    "trace.ops_per_s": "1/s",
    "trace.cpu_s_per_op": "s",
}
# Whole units a window runs at least, whatever --seconds says: one block of
# 20 requests, three query passes, three Delta cycles. A window's mix of ops and
# the warm-up state it starts from are then the same in every run at this
# host's speed, and --seconds can only add whole units. A traced window is
# exactly this many units.
MIN_UNITS = {"recall_serve": 1, "batch_queries": 3, "delta_ingest": 3}


def run_window(spark, units, min_units: int, seconds: float, tracer=None) -> dict:
    """Run at least ``min_units`` whole units, and more until ``seconds``
    have passed; return op latencies (a failed op is ``inf``) and the
    window's wall and CPU time."""
    from perfbench.harness import work_cpu_s

    lat: list[tuple[str, float]] = []
    cpu0, t0 = work_cpu_s(), time.perf_counter()
    for n, unit in enumerate(units, 1):
        for op in unit:
            if tracer is not None:
                tracer.begin_op(spark, op.kind, op.label)
            s = time.perf_counter()
            try:
                op.run()
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            d = time.perf_counter() - s
            if tracer is not None:
                tracer.end_op(spark, d, ok)
            lat.append((op.cls, d if ok else math.inf))
        if n >= min_units and time.perf_counter() - t0 >= seconds:
            break
    return {"lat": lat, "wall_s": time.perf_counter() - t0, "cpu_s": work_cpu_s() - cpu0}


def e2e(win: dict) -> dict:
    done = sum(1 for _, d in win["lat"] if math.isfinite(d))
    return {
        "ops_per_s": done / win["wall_s"],
        "cpu_s_per_op": win["cpu_s"] / max(1, done),
    }


def by_class(win: dict) -> dict:
    """The median (and p90 where at least 100 samples) per op class."""
    from perfbench.harness import pct_summary

    out = {}
    for cls in sorted({c for c, _ in win["lat"]}):
        for k, v in pct_summary([d for c, d in win["lat"] if c == cls]).items():
            out[f"{cls}_{k}"] = v
    return out


def layer_metrics(tracer, ops: list[dict], cache: dict) -> dict:
    n = max(1, len(ops))
    prog = sum(len(tracer.stream_progress(o)) for o in ops)
    c = tracer.counters
    return {
        "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
        "spark.stages_per_op": sum(o["stages"] for o in ops) / n,
        "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        "spark.shuffle_write_bytes_per_op": sum(o["shuffle_write_bytes"] for o in ops) / n,
        "spark.executor_cpu_ms_per_op": 1000 * sum(o["executor_cpu_s"] for o in ops) / n,
        "spark.in_jobs_ms_per_op": 1000 * sum(o["in_jobs_s"] for o in ops) / n,
        "spark.outside_jobs_ms_per_op": 1000 * sum(o["wall_s"] - o["in_jobs_s"] for o in ops) / n,
        "session.materialize_calls_per_op": c.get("session.materialize_calls", 0) / n,
        "session.keyed_hits_per_op": c.get("session.keyed_hits", 0) / n,
        "session.cached_rdds": cache["cached_rdds"],
        "session.cache_mem_mb": cache["cache_mem_mb"],
        "streaming.batches_per_op": prog / n,
    }


def host_facts(spark, args, data_dir: str) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version,
        "sf_dir": os.path.relpath(data_dir, ROOT),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench import datagen, harness

    try:
        import opencode_hive_archon_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    tmp = harness.prepare_env(ROOT)
    tracer = None
    if args.trace:
        from perfbench.tracer import Tracer

        tracer = Tracer()
        tracer.install_session_wrappers()  # before any operator module loads

    from perfbench import workloads

    b0 = time.perf_counter()
    data_dir = datagen.ensure_tables(
        os.path.join(ROOT, ".perfbench_data"), workloads.SCALES[args.workload])
    build_s = time.perf_counter() - b0  # one-time input build, not set-up

    spark = None
    try:
        phases = {"start": harness.process_start_s() - build_s}
        spark = harness.start_spark(tmp)
        phases["spark"] = harness.process_start_s() - build_s
        wl = workloads.make(args.workload, spark, data_dir, args.seed, tmp)
        listener = None
        if tracer is not None:
            wl.install_trace(tracer)
            listener = tracer.listener()
            spark.streams.addListener(listener)
        wl.setup()
        setup_s = harness.process_start_s() - build_s

        if tracer is None:
            win = run_window(spark, wl.units(), MIN_UNITS[args.workload], args.seconds)
        else:
            tracer.armed = True
            win = run_window(spark, wl.units(), MIN_UNITS[args.workload], 0, tracer)
            tracer.armed = False
            spark.streams.removeListener(listener)

        heap = harness.heap_live_mb(spark)
        errors = wl.check()
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)

        facts = host_facts(spark, args, data_dir)
        measured = {"setup_s": setup_s, "heap_live_mb": heap, **e2e(win)}
        summary = {**facts, **measured, **by_class(win), "attempted": len(win["lat"]),
                   "setup_phases": phases, "build_s": build_s}
        if tracer is None:
            metrics = {k: measured[k] for k in END_TO_END}
            units = END_TO_END
        else:
            from perfbench.tracer import Tracer

            cache = Tracer.cache_report(spark)
            layers = layer_metrics(tracer, tracer.ops, cache)
            layers.update({f"trace.{k}": measured[k] for k in ("ops_per_s", "cpu_s_per_op")})
            detail = wl.trace_layers(tracer, tracer.ops)
            detail.update({f"session.{k}": v for k, v in cache.items()})
            detail.update(tracer.counters)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"facts": facts, "end_to_end": measured, "per_layer": layers,
                 "layers": detail},
            )
            summary.update(layers=detail)
            metrics = {k: layers[k] for k in PER_LAYER}
            units = PER_LAYER
        print(json.dumps(summary, default=str), file=sys.stderr)
        failed = sum(1 for _, d in win["lat"] if not math.isfinite(d))
        result = {
            "correct": not errors,
            "attempted": len(win["lat"]),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics},
        }
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
