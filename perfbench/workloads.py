"""The three workloads.  Each returns a ``Result``: the op samples whose
median is ``op_s``, the set-up time, the checked operation counts, and
the figures for the detail line and the traced run.

- ``rebuild``: ``etl.run_pipeline`` at sf0.1 volume, closed loop, one
  caller, calls back to back.
- ``ingest``: the streaming composition of ``run_pipeline_streaming``;
  a closed-loop catch-up over a staged backlog, then an open-loop live
  phase fed by ``livegen.py``, then a read of the aged star.
- ``roster``: all registry queries on the small fixture, in seeded order.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

import checks
import gen
from common import WORK, fresh_dir, median

REBUILD_COPIES = 100  # 600k lines, 20k products: sf0.1 volume
GEN_REPEATS = 3  # set-up input generation is timed this often; median reported
STREAM_ROWS = 12_000  # rows per stream file: two fixture copies
CATCHUP_FILES = 5
WARMUP_FILES = 4  # 1k-row files through a throwaway query before the timed phases
LIVE_INTERVAL_S = 2.0  # ~2x the per-batch time on 4 cores: the pipeline is about half busy
READ_REPEATS = 3


@dataclass
class Result:
    ops: list[float]
    setup_s: float
    attempted: int
    failed: int
    notes: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    session_s: float
    tracer: object = None  # spans.Tracer in a traced run

    def span(self, name: str, layer: str = "bench"):
        return nullcontext() if self.tracer is None else self.tracer.span(name, layer)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _generate(make, out_paths) -> tuple[float, bool]:
    """Run the input generator GEN_REPEATS times: (median seconds,
    whether every repeat wrote byte-identical files)."""
    times, digests = [], set()
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        make()
        times.append(time.perf_counter() - t0)
        digests.add(_digest(out_paths()))
    return median(times), len(digests) == 1


def _timed_loop(ctx: Context, op, check=None) -> list[float]:
    """Call ``op`` back to back until ``ctx.seconds`` have passed (at
    least once); returns each call's wall.  ``check`` runs untimed after
    each call."""
    walls, t_end = [], time.perf_counter() + ctx.seconds
    while not walls or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        with ctx.span("op"):
            result = op(len(walls))
        walls.append(time.perf_counter() - t0)
        if check is not None:
            check(result)
    return walls


# -- rebuild -----------------------------------------------------------------

def rebuild(ctx: Context) -> Result:
    from datawarehouse_etl_using_hyperjoin_spark import etl

    base, sf = f"{WORK}/rebuild/base", f"{WORK}/rebuild/sf"
    fresh_dir(f"{WORK}/rebuild")

    def make():
        gen.write_tables(gen.warehouse_tables(1, ctx.seed), base)
        gen.write_tables(gen.warehouse_tables(REBUILD_COPIES, ctx.seed), sf)

    gen_s, same = _generate(make, lambda: glob.glob(f"{WORK}/rebuild/*/*.parquet"))
    # warm-up: a cheap cold call takes most of the JIT and codegen cost,
    # then a full-size call; the first timed call still runs ~5% slow
    # without the second
    t0 = time.perf_counter()
    for warm in (base, sf):
        etl.run_pipeline(ctx.spark, warm, f"{WORK}/rebuild/out")
    warm_s = time.perf_counter() - t0
    expected = checks.expected_rebuild(sf)
    if ctx.tracer is not None:
        ctx.tracer.install()

    out = f"{WORK}/rebuild/out"
    notes = [] if same else ["generator not deterministic"]
    failed = 0

    def check(counts):
        nonlocal failed
        bad = checks.check_rebuild(counts, out, expected)
        failed += bool(bad)
        notes.extend(bad)

    ops = _timed_loop(ctx, lambda i: etl.run_pipeline(ctx.spark, sf, out), check)
    detail = {
        "rebuild_s": median(ops), "calls": ops, "warm_s": warm_s, "gen_s": gen_s,
        "lines": expected["fact_sales"],
    }
    return Result(ops, ctx.session_s + gen_s + warm_s, len(ops), failed + (not same), notes, detail)


# -- ingest ------------------------------------------------------------------

def _compose(spark, feed: str, master, out: str, checkpoint: str, on_commit):
    """read_parquet_stream -> stream_static_hyperjoin -> foreachBatch(
    make_star_sink(out)): the body of run_pipeline_streaming with its
    defaults, started instead of drained so the live phase can run."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming import pipeline

    stream = pipeline.read_parquet_stream(spark, feed)
    enriched = pipeline.stream_static_hyperjoin(stream, master)
    sink = pipeline.make_star_sink(out)

    def timed_sink(batch_df, batch_id):
        t0 = time.time()
        sink(batch_df, batch_id)
        on_commit(batch_id, t0, time.time())

    return (
        enriched.writeStream.outputMode("append").foreachBatch(timed_sink)
        .option("checkpointLocation", checkpoint).start()
    )


def _progress_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def ingest(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import master_data

    root = fresh_dir(f"{WORK}/ingest")
    sf, feed, warm_feed = f"{root}/sf", f"{root}/feed", f"{root}/warm_feed"
    live_files = max(2, round(ctx.seconds / LIVE_INTERVAL_S))
    n_files = CATCHUP_FILES + live_files

    def make():
        for d in (feed, warm_feed):
            fresh_dir(d)
        # master data at sf0.1 volume; the stream holds every line of just
        # enough fixture copies to fill the files, so its content is the
        # same for every seed
        tables = gen.warehouse_tables(REBUILD_COPIES, ctx.seed)
        gen.write_tables({t: tables[t] for t in ("part", "supplier", "nation")}, sf)
        txn = gen.transactions(gen.warehouse_tables(n_files * STREAM_ROWS // 6000, ctx.seed))
        gen.write_stream_files(txn, feed, STREAM_ROWS, CATCHUP_FILES)
        gen.write_stream_files(txn, feed, STREAM_ROWS, live_files, first=CATCHUP_FILES, hidden=True)
        warm = gen.transactions(gen.warehouse_tables(1, ctx.seed))
        gen.write_stream_files(warm, warm_feed, 1000, WARMUP_FILES)

    def outputs():
        return glob.glob(f"{sf}/*.parquet") + glob.glob(f"{feed}/.*") + glob.glob(f"{feed}/*")

    gen_s, same = _generate(make, outputs)
    master = master_data(ctx.spark, sf)
    commits: dict[int, tuple[float, float]] = {}

    def on_commit(batch_id, start, end):
        commits[batch_id] = (start, end)

    t0 = time.perf_counter()
    q = _compose(ctx.spark, warm_feed, master, f"{root}/warm_out", f"{root}/warm_ckpt", lambda *a: None)
    q.processAllAvailable()
    q.stop()
    warm_s = time.perf_counter() - t0
    if ctx.tracer is not None:
        ctx.tracer.install()

    out, ckpt = f"{root}/out", f"{root}/ckpt"
    with ctx.span("catchup") as rec:
        if rec is not None:
            ctx.tracer.root = rec["id"]
        t0 = time.perf_counter()
        q = _compose(ctx.spark, feed, master, out, ckpt, on_commit)
        q.processAllAvailable()
        catchup_s = time.perf_counter() - t0
    gen_log = f"{root}/livegen.jsonl"
    proc = None
    try:
        with ctx.span("live") as rec:
            if rec is not None:
                ctx.tracer.root = rec["id"]
            start = time.time() + 0.5
            proc = subprocess.Popen([
                sys.executable, os.path.join(os.path.dirname(__file__), "livegen.py"),
                "--dir", feed, "--start", str(start),
                "--interval", str(LIVE_INTERVAL_S), "--log", gen_log,
            ])
            deadline = start + live_files * LIVE_INTERVAL_S + 60
            while len(commits) < n_files and time.time() < deadline and q.exception() is None:
                time.sleep(0.02)
            proc.wait(timeout=30)
        if q.exception() is None:
            q.processAllAvailable()  # lets the last batch post its progress
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        progress = list(q.recentProgress)
        q.stop()
    if ctx.tracer is not None:
        ctx.tracer.root = None

    with open(gen_log) as f:
        published = [json.loads(line) for line in f]
    batch_of = checks.batch_files(ckpt)
    freshness, wait = [], []
    starts = {p["batchId"]: _progress_epoch(p["timestamp"]) for p in progress}
    for entry in published:
        bid = batch_of.get(entry["file"])
        if bid in commits:
            freshness.append(commits[bid][1] - entry["due"])
            if bid in starts:
                wait.append(max(0.0, starts[bid] - entry["due"]))

    # read phase: one fixed star query over the aged fact and dim
    def star_read():
        fact = ctx.spark.read.parquet(f"{out}/fact_enriched")
        dim = ctx.spark.read.parquet(f"{out}/dim_product")
        return (
            fact.join(dim, "product_id")
            .groupBy("product_name")
            .agg(F.sum(F.col("total_sale").cast("decimal(18,2)")).alias("sales"))
            .collect()
        )

    reads = []
    for _ in range(READ_REPEATS):
        t0 = time.perf_counter()
        with ctx.span("read"):
            rows = star_read()
        reads.append(time.perf_counter() - t0)

    attempted, failed, notes = checks.check_ingest(sf, feed, out, batch_of)
    if len(freshness) < live_files:
        notes.append(f"{live_files - len(freshness)} live files never committed")
    want_total = checks.expected_stream_total(sf, feed)
    read_total = sum((r["sales"] for r in rows), start=type(want_total)(0))
    attempted += 1
    if read_total != want_total:
        failed += 1
        notes.append(f"star read total {read_total} want {want_total}")
    if not same:
        failed += 1
        notes.append("generator not deterministic")
    if len(freshness) < 2:  # the live phase failed; checks report why
        freshness = [float("nan")] * 2
    batches = [p for p in progress if p.get("numInputRows")]
    durations = [p["durationMs"] for p in batches]

    def dur(key):
        vals = [d.get(key, 0) for d in durations]
        return median(vals) if vals else 0.0

    late = [e["published"] - e["due"] for e in published]
    detail = {
        "catchup_rows_per_s": CATCHUP_FILES * STREAM_ROWS / catchup_s,
        "freshness": [round(x, 3) for x in freshness],
        "trigger_ms": [d.get("triggerExecution") for d in durations],
        "freshness_p50_s": median(freshness),
        "freshness_p90_s": statistics.quantiles(freshness, n=10, method="inclusive")[-1],
        "aged_read_s": median(reads),
        "live_files": live_files,
        "live_interval_s": LIVE_INTERVAL_S,
        "gen_late_max_s": max(late) if late else 0.0,
    }
    layers = {
        "pipeline.add_batch_ms": dur("addBatch"),
        "pipeline.wal_commit_ms": dur("walCommit"),
        "pipeline.commit_offsets_ms": dur("commitOffsets"),
        "pipeline.latest_offset_ms": dur("latestOffset"),
        "pipeline.query_planning_ms": dur("queryPlanning"),
        "pipeline.wait_s": median(wait) if wait else 0.0,
        "pipeline.batches": len(durations),
        "pipeline.rows_per_batch": median([p["numInputRows"] for p in batches] or [0]),
    }
    return Result(freshness, ctx.session_s + gen_s + warm_s, attempted, failed, notes, detail, layers)


# -- roster ------------------------------------------------------------------

def roster(ctx: Context) -> Result:
    from datawarehouse_etl_using_hyperjoin_spark.queries import load_registry

    sf = f"{WORK}/roster/sf"
    fresh_dir(f"{WORK}/roster")
    gen_s, same = _generate(
        lambda: gen.write_tables(gen.base_tables(), sf), lambda: glob.glob(f"{sf}/*.parquet")
    )
    registry = load_registry()
    names = list(registry)
    random.Random(ctx.seed).shuffle(names)
    if ctx.tracer is not None:
        ctx.tracer.install()

    results = {}
    split: dict[str, list[float]] = {}

    def one_pass(i):
        for name in names:
            qd = registry[name]
            t0 = time.perf_counter()
            with ctx.span(f"{qd.module}.construct", f"queries.{qd.module}"):
                df = qd.fn(ctx.spark, sf)
            t1 = time.perf_counter()
            with ctx.span(f"{qd.module}.execute", f"queries.{qd.module}"):
                records = df.collect()
            t2 = time.perf_counter()
            c, e = split.setdefault(qd.module, [0.0, 0.0])
            split[qd.module] = [c + t1 - t0, e + t2 - t1]
            if i == 0:
                results[name] = (df.schema, df.columns, records)

    ops = _timed_loop(ctx, one_pass)
    con = checks.connect(sf)
    notes = [] if same else ["generator not deterministic"]
    failed = 0
    for name, (schema, columns, records) in results.items():
        bad = checks.check_query(con, registry[name].oracle, schema, columns, records)
        if bad:
            failed += 1
            notes.append(f"{name}: {bad}")
    detail = {
        "roster_s": median(ops), "queries": len(names), "passes": len(ops),
        "modules": {
            module: {"construct_s": c / len(ops), "execute_s": e / len(ops)}
            for module, (c, e) in split.items()
        },
    }
    return Result(ops, ctx.session_s + gen_s, len(results), failed + (not same), notes, detail)


WORKLOADS = {"rebuild": rebuild, "ingest": ingest, "roster": roster}
