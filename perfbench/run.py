"""Warehouse benchmark: one command, three workloads, seeded inputs.

    python3 perfbench/run.py --workload {rebuild,ingest,roster} --seed N \\
        --seconds S --trace {0,1}

Prints a detail line (every figure of the run, host weather included),
then, as the LAST line, the result object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` the per-layer ones, from a run whose package entry points
are wrapped in spans (``spans.py``).  The spans are written to
``.perfbench_work/trace-<workload>.json``.

Exits 1 when any output check fails, 2 when the package is missing.
"""

from __future__ import annotations

import argparse
import collections
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    CPUS, WORK, Weather, median, peak_rss_mb, prepare_env, start_spark, stop_spark,
)

END_TO_END = {"op_s": "s", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.input_mb": "MB",
    "etl.run_hyperjoin_s": "s",
    "etl.build_dimensions_s": "s",
    "etl.write_star_s": "s",
    "constraints.gate_s": "s",
    "pipeline.sink_s": "s",
    "pipeline.add_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.latest_offset_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.wait_s": "s",
    "pipeline.batches": "count",
    "pipeline.rows_per_batch": "rows",
    "upsert.dim_upsert_s": "s",
    "upsert.write_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.driver_s": "s",
    "spark.busy_share": "fraction",
    "self.sources_s": "s",
    "self.etl_s": "s",
    "self.constraints_s": "s",
    "self.pipeline_s": "s",
    "self.upsert_s": "s",
    "trace.op_s": "s",
    "trace.bookkeeping_s": "s",
    "ingest.catchup_rows_per_s": "rows/s",
    "ingest.freshness_p90_s": "s",
    "ingest.aged_read_s": "s",
    "gen.late_max_s": "s",
    "check.error_rate": "fraction",
    "mem.peak_rss_mb": "MB",
}
LAYERS = ("sources", "etl", "constraints", "pipeline", "upsert")


def per_layer(wl: str, res, tracer, session_s: float) -> dict[str, float]:
    """The traced run's per-layer metrics.  Amounts are per operation
    (rebuild call, micro-batch, roster pass); a layer the workload never
    reaches reads 0."""
    n = max(1, res.layers.get("pipeline.batches", 0) if wl == "ingest" else len(res.ops))
    wall = sum(r["wall_s"] for r in tracer.spans if r["parent"] is None and r["name"] != "read")
    spark = tracer.spark_totals(wall)
    m = {"session.start_s": session_s, "sources.input_mb": spark["input_mb"] / n}
    m["etl.run_hyperjoin_s"] = tracer.total(["etl.run_hyperjoin", "etl.run_hyperjoin.exec"]) / n
    m["etl.build_dimensions_s"] = tracer.total(["etl.build_dimensions", "etl.build_dimensions.exec"]) / n
    m["etl.write_star_s"] = sum(r["self_s"] for r in tracer.spans if r["name"] == "etl.write_star") / n
    m["constraints.gate_s"] = tracer.total([
        "constraints.star_schema_checks", "constraints.pk_violations",
        "constraints.not_null_violations", "constraints.expect_clean",
    ]) / n
    sink = tracer.walls("pipeline.sink")
    upsert = [r for r in tracer.spans if r["name"] == "upsert.dim_upsert"]
    m["pipeline.sink_s"] = median(sink) if sink else 0.0
    for key in PER_LAYER:
        if key.startswith("pipeline.") and key != "pipeline.sink_s":
            m[key] = float(res.layers.get(key, 0.0))
    m["upsert.dim_upsert_s"] = median([r["wall_s"] for r in upsert]) if upsert else 0.0
    m["upsert.write_mb"] = median([r["output_mb"] for r in upsert]) if upsert else 0.0
    for key in ("jobs", "tasks", "task_s", "shuffle_write_mb", "spill_mb", "gc_s", "driver_s"):
        m[f"spark.{key}"] = spark[key] / n
    m["spark.busy_share"] = spark["busy_share"]
    for layer in LAYERS:
        m[f"self.{layer}_s"] = sum(r["self_s"] for r in tracer.spans if r["layer"] == layer) / n
    m["trace.op_s"] = median(res.ops)
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s / n
    for key in ("catchup_rows_per_s", "freshness_p90_s", "aged_read_s"):
        m[f"ingest.{key}"] = float(res.detail.get(key, 0.0))
    m["gen.late_max_s"] = float(res.detail.get("gen_late_max_s", 0.0))
    m["check.error_rate"] = res.failed / max(1, res.attempted)
    m["mem.peak_rss_mb"] = res.detail["peak_rss_mb"]
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    prepare_env()
    try:
        import workloads
    except ImportError as exc:  # the package is not in this checkout
        print(f"perfbench: cannot import the warehouse package: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    weather = Weather()
    t0 = time.perf_counter()
    spark = start_spark(trace=bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
    ctx = workloads.Context(spark, args.seed, args.seconds, session_s, tracer)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.uninstall()
            tracer.harvest()
            tracer.write(os.path.join(WORK, f"trace-{args.workload}.json"))
            jobs = collections.Counter()
            for r in tracer.spans:
                jobs[r["layer"]] += r["jobs"]
            res.detail["layer_jobs"] = dict(jobs)
        res.detail["peak_rss_mb"] = peak_rss_mb()
    finally:
        stop_spark(spark)

    op_s = median(res.ops)
    correct = res.failed == 0 and not math.isnan(op_s)
    e2e = {"op_s": op_s, "setup_s": res.setup_s}
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": CPUS,
        "op_samples": len(res.ops), "error_rate": res.failed / max(1, res.attempted),
        **res.detail, **e2e, "weather": weather.read(), "notes": res.notes[:20],
    }
    print(json.dumps({"detail": detail}, default=str))
    if args.trace:
        values, units = per_layer(args.workload, res, tracer, session_s), PER_LAYER
    else:
        values, units = e2e, END_TO_END
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print(json.dumps({
        "correct": correct, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }))
    for sub in ("rebuild", "ingest", "roster", "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
