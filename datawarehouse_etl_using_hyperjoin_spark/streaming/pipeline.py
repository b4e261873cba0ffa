"""Structured Streaming pipeline: the reference's thread-and-queue dataflow
re-expressed on the micro-batch planner (SURVEY.md §2.9).

Reference → Spark mapping:
- infinite rescan + per-tuple sleep producers
  (StreamGeneratorThread.java:53-97; MasterDataStreamGeneratorThread.java:
  22-71)           → ``readStream`` + trigger interval + maxFilesPerTrigger
- 100-row chunking (StreamGeneratorThread.java:20,58) → micro-batch bounds
- BlockingQueue buffers + hash table (StreamGeneratorThread.java:23-25)
                    → the master, checkpointed once per query and
                      broadcast to each micro-batch
- consume-once evict-on-match (StreamGeneratorThread.java:126)
                    → ``dropDuplicatesWithinWatermark`` on the stream key
- per-tuple JDBC dim updates (StreamGeneratorThread.java:151-354)
                    → ``foreachBatch`` keyed upsert (operators/upsert.py)

Timestamps are converted to TimestampType (session tz pinned UTC by
``session.get_spark``) because watermarks operate on event-time columns.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..etl import _run_together
from ..operators.etl import hyperjoin


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over a parquet directory (ST1).

    ``maxFilesPerTrigger`` is the micro-batch analogue of the reference's
    100-row chunk (StreamGeneratorThread.java:20,58).  Schema is mandatory
    for streams; when omitted it is inferred from a batch read of ``path``.
    """
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def with_event_time(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Ensure the event-time column is TimestampType (watermarkable)."""
    dt = dict(events.dtypes).get(ts_col)
    if dt == "bigint":  # nanos-as-long parquet read
        return events.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    if dt == "timestamp_ntz":
        return events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return events


def stream_static_hyperjoin(
    txn_stream: DataFrame, master: DataFrame
) -> DataFrame:
    """ST3: the streaming HyperJoin — stream transactions ⋈ static master.

    When ``txn_stream`` is a stream, the master is materialized once, here,
    with an eager ``localCheckpoint``: the reference builds its master hash
    table once and probes every chunk against it
    (StreamGeneratorThread.java:21,24,72-81).  Each micro-batch then only
    broadcasts rows already in memory instead of re-scanning and re-joining
    the master's inputs (part ⋈ supplier ⋈ nation for
    ``sources.fixtures.master_data``).  Catalyst broadcasts the master, so
    the stream side never shuffles.  A batch ``txn_stream`` keeps the lazy
    plan and runs no job here.

    The stream joins the master as it was when this function was called.
    A file-backed master already behaved so: its file listing is fixed when
    the DataFrame is created, so a file appended to the master directory
    mid-stream was never joined, and an overwritten master failed the next
    micro-batch (``FAILED_READ_FILE.FILE_NOT_EXIST``); now the stream
    survives the overwrite and keeps the start-time rows.  A non-file
    master (JDBC) used to be re-queried every micro-batch and is now read
    once.  To pick up new master data, start a new query with a new call.
    """
    if txn_stream.isStreaming:
        master = master.localCheckpoint(eager=True)
    return hyperjoin(txn_stream, master)


def consume_once(
    stream: DataFrame, key_cols: list[str], watermark: tuple[str, str] = ("ts", "10 minutes")
) -> DataFrame:
    """J4/ST2: each stream tuple joins at most once — the evict-on-match
    semantics of StreamGeneratorThread.java:126 as watermark-bounded
    streaming dedup state (state is dropped at watermark expiry instead of
    the reference's count-10 FIFO)."""
    col, delay = watermark
    return stream.withWatermark(col, delay).dropDuplicatesWithinWatermark(key_cols)


def windowed_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """ST4+ST5: watermarked tumbling/sliding window aggregation over the
    event stream (batch-checkable analogue: q_event_windows tumbling branch)."""
    win = (
        F.window(ts_col, window)
        if slide is None
        else F.window(ts_col, window, slide)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), "event_type")
        # decimal-sum convention (queries/__init__.py parity rules): the sum
        # is order-exact, so a drained streaming run is value-comparable to
        # the batch/oracle form bit-for-bit
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    condition,
    *,
    left_ts: str,
    right_ts: str,
    left_delay: str = "30 days",
    right_delay: str = "30 days",
    how: str = "inner",
) -> DataFrame:
    """ST3+: watermarked stream–stream join.

    The reference only ever joins a stream against (quasi-static) master
    data; a real warehouse also joins two live streams (orders ⋈ their
    lineitems).  Both sides carry a watermark and the ``condition`` must
    include an event-time bound relating ``left_ts``/``right_ts`` — that
    bound is what lets the state store evict rows once the other side can
    no longer match them (unbounded join state is the 100 TB failure mode).
    Outer variants emit the unmatched side only after its watermark passes
    the bound.
    """
    def watermarkable(df: DataFrame, ts: str, delay: str) -> DataFrame:
        # watermarks require TIMESTAMP; fixture parquet loads as ntz
        if dict(df.dtypes).get(ts) == "timestamp_ntz":
            df = df.withColumn(ts, F.col(ts).cast("timestamp"))
        return df.withWatermark(ts, delay)

    return watermarkable(left, left_ts, left_delay).join(
        watermarkable(right, right_ts, right_delay), condition, how
    )


def orders_lineitem_stream_join(
    orders_stream: DataFrame,
    lineitem_stream: DataFrame,
    *,
    ship_bound_days: int = 150,
) -> DataFrame:
    """Concrete stream–stream demo on the fixture roles: an order stream
    joined to its lineitem stream, lineitems shipping within
    ``ship_bound_days`` of the order date.  The time bound caps per-key
    state at O(bound × arrival rate) rows per side."""
    cond = F.expr(
        "o_orderkey = l_orderkey"
        f" AND l_shipdate >= o_orderdate"
        f" AND l_shipdate <= o_orderdate + interval {ship_bound_days} days"
    )
    return stream_stream_join(
        orders_stream,
        lineitem_stream,
        cond,
        left_ts="o_orderdate",
        right_ts="l_shipdate",
    ).select(
        "o_orderkey",
        "l_linenumber",
        "o_orderdate",
        "l_shipdate",
        "o_custkey",
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Test/demo sink: drain all available input synchronously into an
    in-memory table (S6 console-sink analogue that tests can read back)."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


#: Heap slice a single HDFS-backed state store instance should stay under.
#: The default provider keeps its state map on the executor heap; past
#: roughly this much per instance you either add instances or switch the
#: provider to RocksDB (provider comparison in BENCH_NOTES.md r5).
TARGET_STATE_BYTES_PER_INSTANCE = 256 << 20

_TYPE_BYTES = {
    "boolean": 1, "byte": 1, "short": 2, "int": 4, "integer": 4, "date": 4,
    "long": 8, "bigint": 8, "float": 4, "double": 8,
    "timestamp": 8, "timestamp_ntz": 8,
}


def estimate_row_bytes(schema) -> int:
    """Rough UnsafeRow width for a schema: 8-byte null/offset word per
    field plus a fixed-width or string/variable estimate.  Used only to
    PROJECT state size for :func:`choose_state_partitions` — order-of-
    magnitude is all the sizing rule needs."""
    total = 0
    for f in schema.fields:
        name = f.dataType.typeName()
        total += 8 + _TYPE_BYTES.get(name, 24)  # strings/decimals/etc ≈ 24B
    return max(total, 16)


def choose_state_partitions(
    projected_state_bytes: int,
    parallelism: int,
    *,
    target_bytes_per_instance: int = TARGET_STATE_BYTES_PER_INSTANCE,
    max_partitions: int = 2048,
) -> int:
    """Size a stateful query's state-store instance count at query birth.

    The instance count is ``spark.sql.shuffle.partitions`` at the FIRST
    micro-batch and is frozen into the checkpoint forever (Spark cannot
    repartition existing state), so it must be chosen before start — and
    the batch-side shuffle default is the wrong default: every instance
    pays a fixed checkpoint cost per micro-batch, measured at sf0.1 on the
    orders⋈lineitem drain as 13.0 s @64 instances vs 3.3 s @8 at ~46 MB
    total state (BENCH_NOTES.md r5 — a 4× swing from the knob alone).

    Rule (SCALE.md): as FEW instances as memory and parallelism allow —
    ``max(parallelism/8, ceil(state_bytes / target_bytes_per_instance))``:

    - the memory term keeps each instance's heap slice under
      ``target_bytes_per_instance`` (HDFS-backed provider state lives on
      the executor heap; at 100 TB-scale state this term dominates and
      grows the count linearly with state);
    - the parallelism floor (an eighth of the cores — 4 on local[32])
      keeps the join's probe work distributed even when state is tiny.
      r5 measured the per-instance fixed cost curve (13.0 s @64 / 7.9 @32
      / 4.6 @16 / 3.3 @8 on the orders⋈lineitem drain) and floored at
      parallelism/4; the r15 interleaved re-measurement extends it one
      more halving — stream-stream drain 4.8 s @8 → 4.1 s @4, tumbling
      drain 2.33 s @32 → 1.05 @8 → 0.83 @4 — while /16 and 1 measured
      WORSE (6.6-7.9 s @1), so /8 is the floor, not "fewer is always
      better";
    - ``max_partitions`` caps runaway projections (2048 instances ≈ 0.5 TB
      of state at the default target — past that, RocksDB + more
      executors, not more instances per executor.  The RocksDB provider
      itself was re-measured r15 at sf0.1: 8.9 s vs 4.8 s HDFS — native
      per-batch overhead dominates at SMALL state; it is the big-state
      backend, not a drop-in win).
    """
    floor = max(1, parallelism // 8)
    need = -(-max(projected_state_bytes, 0) // target_bytes_per_instance)
    return min(max(floor, need), max_partitions)


def run_to_noop(
    df: DataFrame,
    output_mode: str = "append",
    state_partitions: int | str | None = None,
    projected_state_bytes: int | None = None,
) -> dict[str, float]:
    """Benchmark sink: drain all available input synchronously through the
    no-op sink — FULL executor-side execution of every micro-batch, nothing
    collected to the driver.  The memory sink (:func:`run_to_memory`)
    collects every batch's rows into driver memory, so timing it measures the
    test harness as much as the engine; this is the drain the bench uses.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for THIS
    query's lifetime — for a stateful stream that is the number of state
    store instances, fixed FOREVER at the query's first checkpoint (Spark
    cannot repartition existing state), so it must be chosen at query
    birth.  Per-micro-batch cost carries a per-instance checkpoint term:
    at small state (tens of MB) fewer instances win — measured on the
    orders⋈lineitem join drain at sf0.1: 13.0 s @64 / 7.9 s @32 /
    4.6 s @16 / 3.3 s @8 (SCALE.md) — while state ≫ heap needs many, for
    memory and parallelism.  Size it from projected state bytes ÷
    executor memory, not from the batch-side shuffle default.  Default
    ``None`` keeps the session conf (the engine changes no default: the
    batch-oriented 32 stays right for everything non-streaming).
    ``state_partitions="auto"`` applies :func:`choose_state_partitions`
    to ``projected_state_bytes`` (required then) with the session's
    default parallelism — the sized default for stateful drains.

    Returns summed engine-reported micro-batch metrics from the progress
    events: {"n_batches", "input_rows", "batch_duration_ms_sum"} — the
    per-batch durations let fixed trigger overhead be separated from
    per-row throughput."""
    spark = df.sparkSession
    if state_partitions == "auto":
        if projected_state_bytes is None:
            raise ValueError('state_partitions="auto" needs projected_state_bytes')
        state_partitions = choose_state_partitions(
            projected_state_bytes, spark.sparkContext.defaultParallelism
        )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = df.writeStream.outputMode(output_mode).format("noop").start()
        q.processAllAvailable()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    n, rows, dur, instances = 0, 0, 0, 0
    for prog in q.recentProgress:
        n += 1
        rows += prog.get("numInputRows") or 0
        dur += (prog.get("durationMs") or {}).get("triggerExecution") or 0
        for op in prog.get("stateOperators") or []:
            instances = max(instances, op.get("numStateStoreInstances") or 0)
    q.stop()
    return {
        "n_batches": n,
        "input_rows": rows,
        "batch_duration_ms_sum": dur,
        "state_store_instances": instances,
    }


_INTERVAL_UNITS = (
    "microsecond", "millisecond", "second", "minute", "hour", "day", "week"
)


def _validate_lateness(lateness: str) -> str:
    """Fail fast on a malformed lateness string — it is interpolated into
    ``F.expr(f"INTERVAL {lateness}")``, where a bad value would otherwise
    surface as an opaque SQL parse error at FIRST BATCH execution instead
    of a clear argument error at construction time.  Accepts one or more
    ``<n> <unit>`` pairs (``"10 minutes"``, ``"1 hour 30 minutes"``)."""
    import re

    unit = "|".join(_INTERVAL_UNITS)
    if not isinstance(lateness, str) or not re.fullmatch(
        rf"\s*(\d+\s+({unit})s?)(\s+\d+\s+({unit})s?)*\s*", lateness,
        flags=re.IGNORECASE,
    ):
        raise ValueError(
            f"lateness must be '<n> <unit>' pairs with unit in "
            f"{_INTERVAL_UNITS}, got {lateness!r}"
        )
    return lateness


def quarantine_late(
    df: DataFrame,
    watermark_col: str = "ts",
    lateness: str = "10 minutes",
    *,
    high_watermark=None,
) -> tuple[DataFrame, DataFrame]:
    """Explicit too-late split: ``(on_time, late)`` relative to
    ``high_watermark - lateness``.

    Spark's watermark bounds streaming STATE; it does NOT drop too-late
    rows from the input a ``foreachBatch`` sink sees (measured —
    ``test_watermark_bounds_state_and_advances`` + SCALE.md).  In
    Dataflow-model terms (Akidau et al. 2015, VLDB): Spark gives the
    watermark-as-state-bound, and what a pipeline does with data behind
    the watermark is an explicit POLICY choice — drop, reprocess, or
    divert.  This operator is the divert arm.  The
    engine's keyed upserts absorb such stragglers idempotently, but any
    SUM-merging summary (``merge_summaries``) would double-count a
    straggler landing in an already-merged bucket.  This operator makes
    the late-data policy EXPLICIT instead of implicit in sink semantics:
    route ``late`` to an audit/quarantine relation, feed only
    ``on_time`` downstream.

    ``high_watermark`` is the stream's high-water event time as tracked
    by the CALLER (see :func:`make_quarantine_sink` for the persisted
    per-batch version); ``None`` (no history yet) marks nothing late.
    Rows with a NULL event time cannot be judged and stay on-time —
    quarantining them is a schema-validation concern, not a lateness
    one.  Pure column-expression split: two filters over the same batch,
    no shuffle, no state."""
    _validate_lateness(lateness)
    if high_watermark is None:
        return df, df.limit(0)
    cutoff = F.lit(high_watermark).cast("timestamp") - F.expr(
        f"INTERVAL {lateness}"
    )
    c = F.col(watermark_col).cast("timestamp")
    return df.filter(c.isNull() | (c >= cutoff)), df.filter(c < cutoff)


def make_quarantine_sink(
    inner_sink,
    out_dir: str,
    *,
    watermark_col: str = "ts",
    lateness: str = "10 minutes",
):
    """Wrap a ``foreachBatch`` sink with a persisted late-data quarantine:
    each batch is split by :func:`quarantine_late` against the maximum
    event time of all PRIOR batches (persisted at ``{out_dir}/_hwm``,
    one tiny row per batch partition), late rows land in
    ``{out_dir}/late/ingest_batch=N``, and only on-time rows reach
    ``inner_sink``.

    Replay discipline matches the corpus ingest sink: both the late
    partition and the high-watermark row are per-batch dynamic overwrites,
    and the high-watermark read EXCLUDES the current batch's own
    partition — a recovered replay therefore re-splits against the same
    cutoff and converges to the identical quarantine + downstream state
    instead of shifting the boundary or duplicating rows.

    Each ``_hwm`` partition stores ``(max_ts, cum_max_ts)``: the batch's
    own max event time AND the RUNNING max over all batches so far.
    Batch N's cutoff read is therefore a direct-path read of partition
    ``N-1`` — O(1) regardless of stream age — where the r8 form listed
    and read EVERY prior batch's file per batch: O(total batches) each,
    quadratic over a stream's lifetime (a real cost past ~10⁴
    micro-batches).  ``max_ts`` is kept in every row, so the full-scan
    fallback (first batch, batch-id gap, or a legacy pre-cum layout —
    where old files simply lack the cum column) computes the identical
    cutoff from max(max_ts); correctness never depends on the fast
    path.  Replay-safe: partition N-1 is immutable once batch N runs,
    and a replayed batch N overwrites only its own partition.

    The "no history yet" case is detected by an explicit Hadoop-FS
    existence check on ``_hwm`` (like the corpus sink's layout guard),
    NOT by swallowing the read exception: a transient read failure
    (corrupt parquet, IO blip) must FAIL the batch — silently resetting
    the high watermark to None would let every late row in that batch
    bypass quarantine and double-count in SUM-merging summaries, and
    would shift the replay cutoff this docstring promises is stable.
    """
    _validate_lateness(lateness)
    hwm_dir = f"{out_dir}/_hwm"

    def _prior_hwm(spark: SparkSession, batch_id: int):
        from ..fsutil import dir_exists, table_exists

        # O(1) fast path: the previous batch's partition carries the
        # running max (fsutil probes: JVM FileSystem.exists with a Spark
        # Connect read-probe fallback)
        prev_dir = f"{hwm_dir}/ingest_batch={int(batch_id) - 1}"
        if int(batch_id) > 0 and dir_exists(spark, prev_dir):
            prev = spark.read.parquet(prev_dir)
            if "cum_max_ts" in prev.columns:
                return prev.agg(F.max("cum_max_ts")).first()[0]
        # fallback: first batch, id gap, or legacy per-batch layout.
        # "no history yet" = dir absent OR holding no visible partition
        # (a crash between mkdir and commit leaves only _temporary; a
        # replay must see that as no-history, not fail forever) — any
        # OTHER read failure raises and fails the batch, it must never
        # silently reset the cutoff (r9)
        if not table_exists(spark, hwm_dir, visible_prefix="ingest_batch="):
            return None
        prior = spark.read.parquet(hwm_dir).where(
            F.col("ingest_batch") != int(batch_id)
        )
        # max over every batch's own max_ts == the running max, whatever
        # mix of legacy/cum files the dir holds
        return prior.agg(F.max("max_ts")).first()[0]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            hwm = _prior_hwm(spark, batch_id)
            on_time, late = quarantine_late(
                batch_df, watermark_col, lateness, high_watermark=hwm
            )
            late.write.mode("overwrite").parquet(
                f"{out_dir}/late/ingest_batch={int(batch_id)}"
            )
            inner_sink(on_time, batch_id)
            own = batch_df.agg(
                F.max(F.col(watermark_col).cast("timestamp"))
            ).first()[0]
            cum = max((v for v in (own, hwm) if v is not None), default=None)
            hwm_row = spark.createDataFrame(
                [(own, cum)], "max_ts timestamp, cum_max_ts timestamp"
            )
            hwm_row.write.mode("overwrite").parquet(
                f"{hwm_dir}/ingest_batch={int(batch_id)}"
            )
        finally:
            batch_df.unpersist()

    return sink


def compact_quarantine(
    spark: SparkSession,
    out_dir: str,
    *,
    keep_last: int = 2,
) -> dict[str, dict[str, int]]:
    """Maintenance pass for the quarantine sink's side artifacts — the
    last members of the per-batch-partition family to get one
    (``operators.corpus.compact_corpus`` docstring lists the others): a
    long-lived :func:`make_quarantine_sink` stream leaves one
    ``late/ingest_batch=N`` and one ``_hwm/ingest_batch=N`` partition
    dir PER MICRO-BATCH, so after 10⁵ batches both directories are 10⁵
    tiny dirs and every full read (late-data audits; the hwm
    full-scan fallback) pays O(stream age) listing.

    Merges all but the newest ``keep_last`` batch partitions of each
    (delegating to :func:`compact_corpus`).  Correctness is layout-
    independent on both sides: the hwm O(1) fast path reads partition
    ``N-1`` directly (kept verbatim — it is always among the newest
    ``keep_last``), and the fallback computes ``max(max_ts)`` over all
    prior rows, which partition relabeling preserves.  ``keep_last``
    keeps replayable (not-yet-committed) batches verbatim, same replay
    contract as the corpus sink.

    The common case for ``late`` is an EMPTY split (most batches have no
    stragglers): an empty-DF overwrite leaves a partition dir holding
    only ``_SUCCESS`` — no rows for compact_corpus to merge, but still a
    directory the listing pays for.  Old empty partitions are therefore
    DELETED outright (safe: no rows, and only the newest ``keep_last``
    can still replay-overwrite themselves); old data partitions merge
    via compact_corpus.  A ``late`` dir with no parquet footers at all
    is skipped after the reap.

    Connect boundary (r11, documented not hidden): the empty-partition
    reap needs filesystem deletes, which require the JVM gateway —
    under Spark Connect it is skipped (data partitions still compact;
    only zero-row directory shells accumulate until a gateway-backed
    session runs the pass)."""
    from pyspark.errors import AnalysisException

    from ..fsutil import dir_exists, hadoop_fs, list_visible
    from ..operators.corpus import compact_corpus

    out: dict[str, dict[str, int]] = {}
    for rel in ("late", "_hwm"):
        path = f"{out_dir}/{rel}"
        if not dir_exists(spark, path):
            continue
        if rel == "late":
            entries = list_visible(spark, path)
            if entries is not None:  # JVM gateway present
                ids = sorted(
                    int(n.split("=", 1)[1])
                    for n, is_dir in entries
                    if is_dir and n.startswith("ingest_batch=")
                )
                # zero-ROW partitions (an empty split still writes a
                # schema-only parquet file) are invisible to the
                # row-driven merge below; find them with ONE grouped
                # read and delete the old ones outright
                try:
                    nonempty = {
                        int(r[0])
                        for r in spark.read.parquet(path)
                        .select("ingest_batch").distinct().collect()
                    }
                except AnalysisException:
                    nonempty = set()  # no footers at all
                reap = (
                    ids[: max(0, len(ids) - keep_last)]
                    if keep_last > 0
                    else ids
                )
                for b in reap:
                    if b in nonempty:
                        continue
                    fs, jpath = hadoop_fs(
                        spark, f"{path}/ingest_batch={b}"
                    )
                    fs.delete(jpath, True)
        try:
            out[rel] = compact_corpus(spark, path, keep_last=keep_last)
        except AnalysisException as exc:
            if rel == "late" and "UNABLE_TO_INFER_SCHEMA" in str(exc):
                continue  # every batch's late split was empty
            raise
    return out


def make_star_sink(out_dir: str):
    """The ``foreachBatch`` body of :func:`run_pipeline_streaming` as a
    standalone factory: per micro-batch, keyed SCD1 upsert of the product
    dim + idempotent per-batch fact append under ``out_dir``.

    The batch goes to the dim sink as is: the dim sink collapses each
    key to one row by value (every non-key column, ascending), so two
    versions of one product in a batch leave the same dim row whatever
    their row order.  The dim upsert and the fact append share no
    output, so they are submitted together (``etl._run_together``) and
    both are awaited before the sink returns or raises: the replay
    window is the same as when they ran one after the other.  The dim
    sink merges each batch into the dim it wrote one batch earlier, kept
    in memory, and reads the dim from disk only when it cannot trust
    that copy; a batch whose product rows all equal rows of that copy
    leaves the dim unwritten (see
    :func:`..operators.upsert.upsert_parquet_sink`).

    Exposed separately so restart-recovery tests can wrap the EXACT
    production sink with crash injection (a raise after the writes but
    before the checkpoint commit is precisely the replay window the
    idempotency claims cover) instead of testing a lookalike.
    """
    from ..operators.upsert import upsert_parquet_sink

    dim_sink = upsert_parquet_sink(f"{out_dir}/dim_product", "product_id")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            dim_write = partial(
                dim_sink,
                batch_df.select("product_id", "product_name", "product_price"),
                batch_id,
            )
            fact = batch_df.select(
                "order_id", "line_number", "product_id", "quantity",
                "product_price_num", "total_sale",
            )
            fact_write = partial(
                fact.write.mode("overwrite").parquet,
                f"{out_dir}/fact_enriched/batch_id={batch_id}",
            )
            _run_together(batch_df.sparkSession, [dim_write, fact_write])
        finally:
            batch_df.unpersist()

    return sink


def run_pipeline_streaming(
    spark: SparkSession,
    txn_stream: DataFrame,
    master: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str | None = None,
    quarantine_lateness: str | None = None,
    quarantine_watermark_col: str = "order_date",
    maintenance_every: int | None = None,
    maintenance_keep_last: int = 2,
) -> dict[str, int]:
    """The reference's ``main()`` in its native streaming form, end-to-end
    (StreamGeneratorThread.java:373-406): transaction stream → HyperJoin
    enrichment (stream–static, broadcast master) → per-micro-batch keyed
    upsert of the product dimension + append of enriched fact rows.

    ``master`` is read once, when this function is called, and held in
    memory for the whole drain (see :func:`stream_static_hyperjoin`):
    master data changed during the drain reaches the next call.

    One ``foreachBatch`` sink does both writes so a micro-batch commits
    dim and fact together (the reference opened five JDBC connections per
    matched tuple, StreamGeneratorThread.java:134-158 — at-least-once at
    best).  Both writes are idempotent under micro-batch REPLAY: the dim
    upsert is keyed, and the fact rows land in a ``batch_id=N``
    subdirectory written with overwrite — a batch replayed after a crash
    between write and checkpoint commit rewrites its own directory
    instead of appending duplicates (foreachBatch alone is at-least-once;
    idempotent writes are what upgrade it to effectively-once).  Readers
    see one ``fact_enriched`` relation with ``batch_id`` as a partition
    column.  Drains synchronously; returns row counts.

    Per micro-batch the sink runs one shuffle for the dim: the batch's
    product rows and the current dim go through one window on
    ``product_id`` that dedups and merges at once.  The current
    dim is the copy the sink kept in memory after its last write, used
    only while the dim directory's listing is the one recorded after that
    write; the first batch after a start, the batch after a failed one,
    and a dim touched by any other writer read it from disk, so restart
    and replay see exactly what is committed.  Against that in-memory
    copy, a batch whose product rows all equal stored rows (the common
    case once the catch-up has seen every product) is found by one
    anti-join and skips the merge and the dim rewrite.  The dim upsert
    and the fact append run together and both finish before the
    micro-batch commits (see :func:`make_star_sink`).

    ``quarantine_lateness`` (opt-in) makes the engine path's late-data
    policy EXPLICIT instead of implicit in the sink's idempotency: the
    star sink is wrapped in :func:`make_quarantine_sink`, so rows whose
    ``quarantine_watermark_col`` falls more than ``quarantine_lateness``
    behind the high-water event time of all prior micro-batches are
    diverted to ``{out_dir}/late/ingest_batch=N`` (audit relation) and
    never reach the dim/fact writes.  The default policy (``None``)
    keeps the idempotent-upsert absorption unchanged.  The returned
    counts gain a ``"late"`` entry when quarantine is on.

    ``maintenance_every`` (opt-in, r11) closes the operational loop the
    per-artifact compaction passes left open (each existed but had to
    be remembered separately): every N-th committed micro-batch runs
    :func:`..maintenance.run_maintenance` over this pipeline's own aging
    artifacts — the ``fact_enriched/batch_id=N`` relation and, when
    quarantine is on, the ``late``/``_hwm`` per-batch dirs — so
    partition-dir counts stay bounded in stream age without any manual
    call.  ``maintenance_keep_last`` newest batches stay verbatim (the
    replay window); see ``maintenance.make_maintenance_sink`` for the
    mid-stream safety argument.  The dim does not age (keyed upsert
    rewrites in place) and needs no pass.
    """
    enriched = stream_static_hyperjoin(txn_stream, master)
    sink = make_star_sink(out_dir)
    if quarantine_lateness is not None:
        sink = make_quarantine_sink(
            sink,
            out_dir,
            watermark_col=quarantine_watermark_col,
            lateness=quarantine_lateness,
        )
    if maintenance_every is not None:
        from ..maintenance import make_maintenance_sink

        sink = make_maintenance_sink(
            sink,
            maintenance_every,
            keep_last=maintenance_keep_last,
            fact_dirs=[f"{out_dir}/fact_enriched"],
            quarantine_dirs=(
                [out_dir] if quarantine_lateness is not None else []
            ),
        )
    writer = enriched.writeStream.outputMode("append").foreachBatch(sink)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    fact_count = spark.read.parquet(f"{out_dir}/fact_enriched").count()
    dim_count = spark.read.parquet(f"{out_dir}/dim_product").count()
    counts = {
        "dim_product": dim_count,
        "fact_enriched": fact_count,
    }
    if quarantine_lateness is not None:
        from pyspark.errors import AnalysisException

        from ..fsutil import dir_exists

        late_dir = f"{out_dir}/late"
        try:
            counts["late"] = (
                spark.read.parquet(late_dir).count()
                if dir_exists(spark, late_dir)
                else 0
            )
        except AnalysisException:
            # dir exists but holds no parquet footers: every batch's
            # late split was empty (empty-DF overwrites write only
            # _SUCCESS)
            counts["late"] = 0
    return counts


def consume_once_stateful(stream: DataFrame, key_col: str, ttl_ms: int = 60_000) -> DataFrame:
    """The reference's literal evict-on-match (StreamGeneratorThread.java
    :126) as explicit keyed state with a processing-time TTL: the first
    row of a key is emitted and the key's state is registered; repeats
    are suppressed while the state lives; the timeout evicts the state so
    a key seen again after ``ttl_ms`` is re-admitted — the count-bound
    FIFO of the reference replaced by a time bound the state store owns
    (``dropDuplicatesWithinWatermark`` is the event-time flavor; this is
    the processing-time one, useful when the stream carries no usable
    event time).

    Run with ``trigger(availableNow=True)`` (or a real processing-time
    trigger) in drain-style tests: with a timeout configured, the default
    as-fast-as-possible trigger schedules empty batches indefinitely to
    service future timeouts, so ``processAllAvailable`` never settles.
    """
    import time as _time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedup(key, pdfs, state: GroupState):
        empty = pd.DataFrame({"key": pd.Series(dtype="int64"),
                              "n_suppressed": pd.Series(dtype="int64")})
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        if state.hasTimedOut:
            state.remove()
            yield empty
            return
        now_ms = int(_time.time() * 1000)
        first_time = not state.exists
        if first_time:
            admit_ms = now_ms
            state.update((1, admit_ms))
        else:
            (_, admit_ms) = state.get
        # GroupState clears the timeout on every invocation for a key, so
        # the duration must be re-armed each call; arming it relative to
        # the STORED admission time keeps expiry fixed at admit + ttl — a
        # continuously repeating key is re-admitted after ttl_ms, not
        # suppressed forever by a sliding window.
        state.setTimeoutDuration(max(1, int(admit_ms) + ttl_ms - now_ms))
        if first_time and n > 0:
            yield pd.DataFrame({"key": [key[0]], "n_suppressed": [n - 1]})
        else:
            yield empty

    return (
        stream.withColumn("key", F.col(key_col).cast("long"))
        .groupBy("key")
        .applyInPandasWithState(
            dedup,
            outputStructType="key long, n_suppressed long",
            stateStructType="seen int, admit long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
