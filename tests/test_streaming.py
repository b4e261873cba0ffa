"""Structured Streaming: stream-static hyperjoin, watermarked windows,
consume-once dedup, foreachBatch upsert sink — each drained synchronously
via the memory sink (processAllAvailable) and checked against its batch
analogue on the same rows."""

from __future__ import annotations

import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import (
    upsert_parquet_sink,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
    load_table,
    master_data,
    transactions,
)
from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
    consume_once,
    read_parquet_stream,
    run_to_memory,
    stream_static_hyperjoin,
    windowed_event_counts,
    with_event_time,
)


@pytest.fixture(scope="module")
def txn_stream_dir(spark, sf_dir, tmp_path_factory):
    """Transactions materialized as a 4-file parquet dir → 4 micro-batches
    at maxFilesPerTrigger=1 (the reference's chunked replay, ST1)."""
    path = str(tmp_path_factory.mktemp("txn_stream"))
    transactions(spark, sf_dir).repartition(4).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = with_event_time(load_table(spark, sf_dir, "events"))
    ev.repartition(3).write.mode("overwrite").parquet(path)
    return path


def _drain(spark, df, name):
    q = run_to_memory(df, name)
    try:
        return spark.sql(f"SELECT * FROM {name}")
    finally:
        q.stop()


def test_stream_static_hyperjoin_matches_batch(spark, sf_dir, txn_stream_dir):
    stream = read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1)
    master = master_data(spark, sf_dir)
    name = f"hj_{uuid.uuid4().hex[:8]}"
    out = _drain(spark, stream_static_hyperjoin(stream, master), name)
    batch = stream_static_hyperjoin(spark.read.parquet(txn_stream_dir), master)
    assert out.count() == batch.count()
    s = out.agg(F.sum(F.col("total_sale").cast("decimal(18,2)"))).first()[0]
    b = batch.agg(F.sum(F.col("total_sale").cast("decimal(18,2)"))).first()[0]
    assert s == b


def test_stream_static_hyperjoin_joins_the_start_time_master(
    spark, sf_dir, txn_stream_dir, tmp_path_factory
):
    """The stream joins the master as it was when the join was built.
    Mid-stream, a file appended to the master directory and then an
    overwrite of the whole directory change no output row, and the query
    does not fail (a file-backed master joined without a snapshot fails the
    micro-batch after the overwrite with FAILED_READ_FILE.FILE_NOT_EXIST)."""
    root = str(tmp_path_factory.mktemp("master_snapshot"))
    master_dir, out = f"{root}/master", f"{root}/out"
    full = master_data(spark, sf_dir)
    txn = spark.read.parquet(txn_stream_dir)
    held_out = txn.agg(F.min("product_id")).first()[0]
    start = full.filter(F.col("product_id") != held_out)
    start.write.parquet(master_dir)

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)
        if batch_id == 0:
            # a new master file that holds the product the start lacks
            full.filter(F.col("product_id") == held_out).write.mode(
                "append"
            ).parquet(master_dir)
        elif batch_id == 1:
            # every product repriced, written over the start's files
            full.withColumn("product_price", F.lit("$1.00")).write.mode(
                "overwrite"
            ).parquet(master_dir)

    stream = read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1)
    q = (
        stream_static_hyperjoin(stream, spark.read.parquet(master_dir))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{root}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
        assert q.lastProgress["batchId"] >= 3  # batches ran after both changes
    finally:
        q.stop()
    want = stream_static_hyperjoin(txn, start)
    got = spark.read.parquet(out).select(*want.columns)
    assert 0 < want.count() < txn.count()
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _plan_leaves(plan):
    """Leaf operators of a JVM physical plan, walked through AQE's wrapper
    and its query stages."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _plan_leaves(plan.executedPlan())
    if kind.endswith("QueryStageExec"):
        return _plan_leaves(plan.plan())
    children = plan.children()
    if children.size() == 0:
        return [plan]
    return [leaf for i in range(children.size()) for leaf in _plan_leaves(children.apply(i))]


def _assert_master_resident(q, stream_dir):
    """Plan lock on a drained stream-static HyperJoin: the last micro-batch
    scans files only for the stream, and the master comes from the scan
    of its checkpoint."""
    plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    leaves = {}
    for leaf in _plan_leaves(plan):
        leaves.setdefault(leaf.getClass().getSimpleName(), []).append(leaf)
    assert sorted((k, len(v)) for k, v in leaves.items()) == [
        ("FileSourceScanExec", 1), ("RDDScanExec", 1)
    ], leaves
    roots = leaves["FileSourceScanExec"][0].relation().location().rootPaths()
    paths = [roots.apply(i).toString() for i in range(roots.size())]
    assert paths and all(stream_dir in p for p in paths), paths
    assert leaves["RDDScanExec"][0].rdd().isCheckpointed()


def test_stream_static_hyperjoin_plan_scans_only_the_stream(
    spark, sf_dir, txn_stream_dir
):
    """A stream input is joined against one checkpoint of the master, taken
    at call time; a batch input keeps the lazy plan and runs no job at call
    time."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.etl import hyperjoin

    sc = spark.sparkContext
    master = master_data(spark, sf_dir)
    txn = spark.read.parquet(txn_stream_dir)
    stream = read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1)

    def sentinel(name):
        # job ids are sequential; the status store is fed asynchronously
        sc.setJobGroup(name, name)
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while not (ids := sc.statusTracker().getJobIdsForGroup(name)):
            assert time.monotonic() < deadline, name
            time.sleep(0.05)
        return set(ids)

    try:
        before = max(sentinel("hj-call-0"))
        batch = stream_static_hyperjoin(txn, master)
        between = min(sentinel("hj-call-1"))
        streamed = stream_static_hyperjoin(stream, master)
        after = min(sentinel("hj-call-2"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert between == before + 1  # batch call: no job
    assert after > between + 1  # stream call: the checkpoint's job
    kinds = [
        leaf.getClass().getSimpleName()
        for leaf in _plan_leaves(batch._jdf.queryExecution().executedPlan())
    ]
    assert "RDDScanExec" not in kinds
    assert kinds.count("FileSourceScanExec") > 1  # the master's own inputs

    q = run_to_memory(streamed, f"hj_{uuid.uuid4().hex[:8]}")
    try:
        _assert_master_resident(q, txn_stream_dir)
    finally:
        q.stop()
    # negative control: the join over the unsnapshotted master re-scans
    # the master's inputs in every micro-batch and fails the lock
    q = run_to_memory(hyperjoin(stream, master), f"hj_{uuid.uuid4().hex[:8]}")
    try:
        with pytest.raises(AssertionError):
            _assert_master_resident(q, txn_stream_dir)
    finally:
        q.stop()


def test_windowed_counts_match_batch_tumbling(spark, events_stream_dir):
    # single micro-batch: with multiple batches over time-shuffled files the
    # watermark correctly DROPS late events and counts diverge from batch —
    # that's ST5 semantics, not a bug; equality holds on one batch
    stream = read_parquet_stream(spark, events_stream_dir, max_files_per_trigger=10)
    name = f"win_{uuid.uuid4().hex[:8]}"
    # complete mode: append would hold back the final windows still inside
    # the watermark when the input is exhausted
    q = run_to_memory(windowed_event_counts(stream), name, output_mode="complete")
    out = spark.sql(f"SELECT * FROM {name}")
    q.stop()
    ev = spark.read.parquet(events_stream_dir)
    batch = ev.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    got = {(r.window_start, r.event_type): r.n_events for r in out.collect()}
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert got == want


def test_sliding_window_counts_match_batch_expansion(spark, events_stream_dir):
    """ST4 sliding form: 1-hour windows sliding every 30 min — each event
    lands in exactly 2 windows, checked against the batch expansion
    (explode each event into both covering half-hour-aligned starts)."""
    stream = read_parquet_stream(spark, events_stream_dir, max_files_per_trigger=10)
    name = f"slide_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(
        windowed_event_counts(stream, window="1 hour", slide="30 minutes"),
        name,
        output_mode="complete",
    )
    out = spark.sql(f"SELECT * FROM {name}")
    got = {(r.window_start, r.event_type): r.n_events for r in out.collect()}
    q.stop()
    ev = spark.read.parquet(events_stream_dir)
    # covering starts: the half-hour floor and the one 30 min before it
    half = F.expr(
        "date_trunc('hour', ts) + make_interval(0,0,0,0,0,"
        " CASE WHEN minute(ts) >= 30 THEN 30 ELSE 0 END, 0)"
    )
    starts = F.array(half, half - F.expr("INTERVAL 30 MINUTES"))
    batch = (
        ev.withColumn("window_start", F.explode(starts))
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert got == want
    # sanity: every event really appears twice across the sliding windows
    assert sum(got.values()) == 2 * ev.count()


def test_consume_once_drops_duplicate_keys(spark, events_stream_dir):
    # one batch per source leg (time-shuffled files + multi-batch would hit
    # legitimate watermark late-drops; see tumbling test note)
    stream = read_parquet_stream(spark, events_stream_dir, max_files_per_trigger=10)
    # duplicate the stream against itself: same rows arrive twice
    doubled = stream.unionByName(stream)
    name = f"once_{uuid.uuid4().hex[:8]}"
    out = _drain(spark, consume_once(doubled, ["event_id"]), name)
    n_unique = spark.read.parquet(events_stream_dir).select("event_id").distinct().count()
    assert out.count() == n_unique


def test_watermark_bounds_state_and_advances(spark, sf_dir, tmp_path_factory):
    """ST5: the watermark's actual contract — state behind the watermark
    is evicted (bounded state, the 100 TB-relevant guarantee) and the
    watermark advances with event time.  NOTE Spark does NOT guarantee
    too-late input is dropped for aggregations (observed: a batch entirely
    behind the watermark is re-aggregated and re-emitted as fresh windows
    — the docs' 'may or may not be dropped'); exact-once late handling
    belongs to the idempotent upsert sink, not the watermark."""
    import os
    import time

    path = str(tmp_path_factory.mktemp("late"))
    ev = with_event_time(load_table(spark, sf_dir, "events"))
    recent = ev.filter(F.col("ts") >= "2024-01-15")  # advances the watermark
    late = ev.filter(F.col("ts") < "2024-01-10")     # far behind it
    # file source processes files oldest-mtime-first: write recent first
    recent.coalesce(1).write.parquet(path + "/f1")
    time.sleep(1.1)
    late.coalesce(1).write.parquet(path + "/f2")
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(f"{path}/{d}"):
            if f.endswith(".parquet"):
                os.rename(f"{path}/{d}/{f}", f"{path}/batch{i}_{f}")

    stream = read_parquet_stream(spark, path, max_files_per_trigger=1)
    agg = windowed_event_counts(stream, watermark="1 hour")
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(agg, name, output_mode="append")
    progress = q.recentProgress
    q.stop()
    last = progress[-1]
    # watermark advanced to (max recent event time − 1 h)
    wm = last["eventTime"]["watermark"]
    assert wm.startswith("2024-01-30")
    # bounded state: everything behind the watermark was evicted — the
    # store holds far fewer rows than the ~600 windows the recent file
    # alone produced (an unbounded store would retain them all)
    n_state = last["stateOperators"][0]["numRowsTotal"]
    assert 0 <= n_state < 50, f"state not bounded: {n_state} rows retained"


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path_factory):
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        orders_lineitem_stream_join,
    )

    odir = str(tmp_path_factory.mktemp("orders_stream"))
    ldir = str(tmp_path_factory.mktemp("lineitem_stream"))
    load_table(spark, sf_dir, "orders").repartition(2).write.mode("overwrite").parquet(odir)
    load_table(spark, sf_dir, "lineitem").repartition(2).write.mode("overwrite").parquet(ldir)
    joined = orders_lineitem_stream_join(
        read_parquet_stream(spark, odir, max_files_per_trigger=10),
        read_parquet_stream(spark, ldir, max_files_per_trigger=10),
    )
    name = f"ss_{uuid.uuid4().hex[:8]}"
    out = _drain(spark, joined, name)
    o, l = spark.read.parquet(odir), spark.read.parquet(ldir)
    batch = o.join(
        l,
        F.expr(
            "o_orderkey = l_orderkey AND l_shipdate >= o_orderdate"
            " AND l_shipdate <= o_orderdate + interval 150 days"
        ),
    )
    assert out.count() == batch.count() > 0
    s = out.agg(F.sum(F.col("net_price").cast("decimal(18,2)"))).first()[0]
    b = batch.agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,2)"))
    ).first()[0]
    assert s == b


def _append_stream_file(df, root, tag):
    """Land one single-file batch in a stream dir; caller spaces calls by
    >1 s so the file source's oldest-mtime-first order equals tag order."""
    import os

    sub = f"{root}/_{tag}"
    df.coalesce(1).write.parquet(sub)
    for f in os.listdir(sub):
        if f.endswith(".parquet"):
            os.rename(f"{sub}/{f}", f"{root}/{tag}_{f}")


def test_stream_stream_outer_join_emission_is_watermark_gated(
    spark, tmp_path_factory
):
    """Outer stream-stream join contract: an unmatched left row is held in
    state while the time bound still admits a future match, and is emitted
    with NULLs only once the watermark passes the bound — rows inside the
    still-open region are NOT emitted even when input is exhausted."""
    import time
    from datetime import datetime

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        stream_stream_join,
    )

    ldir = str(tmp_path_factory.mktemp("ssj_left"))
    rdir = str(tmp_path_factory.mktemp("ssj_right"))
    ts = datetime.fromisoformat
    mk = lambda rows, sch: spark.createDataFrame(rows, sch)  # noqa: E731

    # batch 1: left k=1 (will never match) + a right row to move the right
    # watermark; batch 2 (much later event time) advances both watermarks
    # far past k=1's 5-minute match window, but NOT past k=2's.
    _append_stream_file(
        mk([(1, ts("2024-01-01 10:00:00"))], "k int, lts timestamp"), ldir, "b1"
    )
    _append_stream_file(
        mk([(900, ts("2024-01-01 10:00:00"))], "rk int, rts timestamp"), rdir, "b1"
    )
    time.sleep(1.1)
    _append_stream_file(
        mk([(2, ts("2024-01-01 12:00:00"))], "k int, lts timestamp"), ldir, "b2"
    )
    _append_stream_file(
        mk([(901, ts("2024-01-01 12:00:00"))], "rk int, rts timestamp"), rdir, "b2"
    )

    joined = stream_stream_join(
        read_parquet_stream(spark, ldir, max_files_per_trigger=1),
        read_parquet_stream(spark, rdir, max_files_per_trigger=1),
        F.expr("k = rk AND rts >= lts AND rts <= lts + interval 5 minutes"),
        left_ts="lts",
        right_ts="rts",
        left_delay="1 minute",
        right_delay="1 minute",
        how="left_outer",
    ).selectExpr("k", "lts", "rts")
    name = f"ssjo_{uuid.uuid4().hex[:8]}"
    out = _drain(spark, joined, name)
    rows = {r.k: r for r in out.collect()}
    # k=1: watermark (11:59) passed its 10:05 bound → emitted, NULL right
    assert 1 in rows and rows[1].rts is None
    # k=2: its 12:05 bound is still open → held in state, not emitted
    assert 2 not in rows


def test_dedup_within_watermark_state_expires_plain_dedup_never(
    spark, tmp_path_factory
):
    """The two dedup operators' state contracts, observed: plain
    dropDuplicates suppresses a key forever (state grows with key
    cardinality — the 100 TB failure mode), while
    dropDuplicatesWithinWatermark re-admits a key once the watermark has
    passed its expiry — bounded state, the semantics consume_once relies
    on for the reference's evict-on-match (StreamGeneratorThread.java:126).
    """
    import time
    from datetime import datetime

    root = str(tmp_path_factory.mktemp("dedup_wm"))
    ts = datetime.fromisoformat
    sch = "event_id int, ts timestamp"
    # b1: key 1 @10:00 — b2: key 50 @20:00 advances the watermark (10 min
    # delay → 19:50) past key 1's expiry (10:10) — b3: cleanup batch (state
    # eviction runs in the END-of-batch cleanup phase, so the evicting
    # watermark must be in force for one full batch before a repeat can be
    # re-admitted) — b4: key 1 again @19:55, after its state is gone
    _append_stream_file(
        spark.createDataFrame([(1, ts("2024-01-01 10:00:00"))], sch), root, "b1"
    )
    time.sleep(1.1)
    _append_stream_file(
        spark.createDataFrame([(50, ts("2024-01-01 20:00:00"))], sch), root, "b2"
    )
    time.sleep(1.1)
    _append_stream_file(
        spark.createDataFrame([(60, ts("2024-01-01 20:01:00"))], sch), root, "b3"
    )
    time.sleep(1.1)
    _append_stream_file(
        spark.createDataFrame([(1, ts("2024-01-01 19:55:00"))], sch), root, "b4"
    )

    stream = read_parquet_stream(spark, root, max_files_per_trigger=1)
    name = f"dwm_{uuid.uuid4().hex[:8]}"
    out = _drain(spark, consume_once(stream, ["event_id"]), name)
    # key 1 emitted TWICE: its dedup state was evicted in between
    assert out.filter(F.col("event_id") == 1).count() == 2
    assert out.count() == 4

    stream2 = read_parquet_stream(spark, root, max_files_per_trigger=1)
    name2 = f"dplain_{uuid.uuid4().hex[:8]}"
    out2 = _drain(spark, stream2.dropDuplicates(["event_id"]), name2)
    # plain dropDuplicates: key 1 suppressed forever
    assert out2.filter(F.col("event_id") == 1).count() == 1
    assert out2.count() == 3


def test_foreachbatch_upsert_sink(spark, sf_dir, tmp_path_factory, txn_stream_dir):
    target = str(tmp_path_factory.mktemp("dim")) + "/dim_product"
    stream = read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=2)
    dim_updates = stream.select(
        F.col("product_id"), F.col("order_date"), F.col("quantity")
    )
    q = (
        dim_updates.writeStream.outputMode("append")
        .option("checkpointLocation", target + "_ckpt")
        .foreachBatch(upsert_parquet_sink(target, "product_id"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    dim = spark.read.parquet(target)
    # keyed upsert: exactly one row per product key (U1; fixes the
    # reference's no-WHERE whole-table UPDATE bug U2 by design)
    assert dim.count() == dim.select("product_id").distinct().count() > 0
    shutil.rmtree(target + "_ckpt", ignore_errors=True)


def test_run_pipeline_streaming_end_to_end(spark, sf_dir, txn_stream_dir, tmp_path_factory):
    """The reference's main() in streaming form: stream → hyperjoin →
    dim upsert + fact append per micro-batch, compared to the batch run."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        run_pipeline_streaming,
    )

    out = str(tmp_path_factory.mktemp("dw_stream"))
    stream = read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1)
    master = master_data(spark, sf_dir)
    counts = run_pipeline_streaming(
        spark, stream, master, out, checkpoint_dir=out + "/_ckpt"
    )
    # fact: every stream row joined (master is 1:1 on product_id)
    batch = stream_static_hyperjoin(spark.read.parquet(txn_stream_dir), master)
    assert counts["fact_enriched"] == batch.count()
    # dim: keyed upsert left exactly one row per product seen in the stream
    dim = spark.read.parquet(f"{out}/dim_product")
    n_products = (
        spark.read.parquet(txn_stream_dir).select("product_id").distinct().count()
    )
    assert counts["dim_product"] == n_products
    assert dim.select("product_id").distinct().count() == n_products
    # fact values match the batch join (order-insensitive decimal sum)
    s = (
        spark.read.parquet(f"{out}/fact_enriched")
        .agg(F.sum(F.col("total_sale").cast("decimal(18,2)")))
        .first()[0]
    )
    b = batch.agg(F.sum(F.col("total_sale").cast("decimal(18,2)"))).first()[0]
    assert s == b


def test_consume_once_stateful_ttl_readmits_after_eviction(spark, tmp_path_factory):
    """Literal evict-on-match with a processing-time TTL: first sighting
    emits, repeats are suppressed while state lives, and a long-TTL run
    never re-admits within the drain window."""
    import time
    import uuid as _uuid

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        consume_once_stateful,
    )

    root = str(tmp_path_factory.mktemp("ttl"))
    sch = "event_id int, payload int"
    _append_stream_file(spark.createDataFrame([(1, 10), (1, 11), (2, 20)], sch), root, "b1")
    time.sleep(1.1)
    _append_stream_file(spark.createDataFrame([(1, 12), (3, 30)], sch), root, "b2")

    stream = read_parquet_stream(spark, root, max_files_per_trigger=1)
    name = f"ttl_{_uuid.uuid4().hex[:8]}"
    # availableNow (not processAllAvailable): with a processing-time
    # timeout configured the default trigger fires empty batches forever
    # to service future timeouts, so a drain-style wait never settles
    q = (
        consume_once_stateful(stream, "event_id", ttl_ms=3_600_000)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    # With a processing-time timeout registered the availableNow run keeps
    # scheduling batches to service FUTURE timeouts, so a blind
    # awaitTermination(120) burns its whole budget (r15: this one line was
    # a flat 2-minute sleep).  Poll for the expected rows instead — the
    # assertion is unchanged; the deadline only bounds a genuine failure.
    expect = {1: 1, 2: 0, 3: 0}
    deadline = time.time() + 120
    rows: dict = {}
    while time.time() < deadline:
        rows = {r.key: r.n_suppressed for r in spark.table(name).collect()}
        if rows == expect or not q.isActive:
            break
        q.awaitTermination(1)
    q.stop()
    # each key emitted exactly once; batch-1's duplicate of key 1 counted
    assert rows == expect


def test_streaming_dedup_on_rocksdb_state_store(spark, events_stream_dir):
    """The 100 TB state posture: the same consume-once dedup runs on the
    RocksDB state store provider (state spills to local disk instead of
    living on the JVM heap — the backend a large-key-cardinality stream
    needs).  Provider is read per-query at start, so setting the conf
    before .start() is sufficient."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        stream = read_parquet_stream(spark, events_stream_dir, max_files_per_trigger=10)
        doubled = stream.unionByName(stream)
        name = f"rocks_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(consume_once(doubled, ["event_id"]), name)
        out = spark.sql(f"SELECT * FROM {name}")
        n_unique = (
            spark.read.parquet(events_stream_dir).select("event_id").distinct().count()
        )
        got = out.count()
        # the query genuinely used RocksDB (progress reports the provider's
        # memory metrics only when active)
        progress = q.recentProgress
        q.stop()
        assert got == n_unique
        assert progress, "no progress recorded"
        mem = progress[-1]["stateOperators"][0].get("customMetrics", {})
        assert any("rocksdb" in k.lower() for k in mem), sorted(mem)[:5]
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_foreach_batch_upsert_recovers_from_mid_run_crash(
    spark, sf_dir, txn_stream_dir, tmp_path_factory
):
    """ST6 exactly-once, tested by replay instead of argued by reasoning:
    the production star sink crashes AFTER a micro-batch's dim+fact writes
    but BEFORE the checkpoint commit (the at-least-once replay window);
    a restart from the same checkpoint replays that batch, and the final
    dim/fact state is row-identical to an uninterrupted run."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_star_sink,
        run_pipeline_streaming,
    )

    master = master_data(spark, sf_dir)

    # reference run: uninterrupted drain
    ref_out = str(tmp_path_factory.mktemp("dw_ref"))
    run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1),
        master,
        ref_out,
        checkpoint_dir=ref_out + "/_ckpt",
    )

    # crash run: same sink, with one injected failure after batch 1's
    # writes land but before its checkpoint commit
    out = str(tmp_path_factory.mktemp("dw_crash"))
    ckpt = out + "/_ckpt"
    sink = make_star_sink(out)
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        sink(batch_df, batch_id)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash: writes done, commit pending")

    stream = read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1)
    enriched = stream_static_hyperjoin(stream, master)
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.processAllAvailable()
    q.stop()
    assert crashed["done"]
    # batch 1's data IS on disk (written, uncommitted) — the replay hazard
    assert spark.read.parquet(f"{out}/fact_enriched").count() > 0

    # restart from the same checkpoint: batch 1 replays, rest drains
    q2 = (
        stream_static_hyperjoin(
            read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1),
            master,
        )
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q2.processAllAvailable()
    q2.stop()

    # final state == uninterrupted run, row for row
    for table in ("dim_product", "fact_enriched"):
        got = spark.read.parquet(f"{out}/{table}")
        want = spark.read.parquet(f"{ref_out}/{table}")
        assert got.count() == want.count(), table
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table


def test_run_to_noop_state_partitions_knob(spark, events_stream_dir):
    """state_partitions pins the query's state-store instance count at
    birth (the un-repartitionable-after-checkpoint knob) without touching
    the session conf afterwards, and the drained result volume is
    unchanged."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        run_to_noop,
    )

    def counts():
        stream = read_parquet_stream(spark, events_stream_dir, max_files_per_trigger=1)
        return windowed_event_counts(stream)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    default = run_to_noop(counts(), output_mode="complete")
    tuned = run_to_noop(counts(), output_mode="complete", state_partitions=5)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert tuned["state_store_instances"] == 5
    assert default["state_store_instances"] == int(prev)
    assert tuned["input_rows"] == default["input_rows"]


def test_choose_state_partitions_sizing_rule():
    """The query-birth sizing rule (SCALE.md): parallelism/8 floor for
    small state, memory-bounded growth for large state, hard cap."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        choose_state_partitions,
    )

    # small state (the measured sf0.1 regime, ~46 MB): floor wins — 4 on
    # 32 cores, the empirically fastest instance count (r15 interleaved
    # re-measurement: 4.1 s @4 vs 4.8 @8 vs 13 @64 on the join drain,
    # 0.83 @4 vs 2.33 @32 on the tumbling drain; 1 instance was WORSE)
    assert choose_state_partitions(46 << 20, 32) == 4
    # large state: memory term dominates — ceil(100 GiB / 256 MiB) = 400
    assert choose_state_partitions(100 << 30, 32) == 400
    # huge projections hit the cap (past it: RocksDB + wider cluster)
    assert choose_state_partitions(1 << 50, 32) == 2048
    # degenerate inputs stay sane
    assert choose_state_partitions(0, 4) == 1
    assert choose_state_partitions(1, 1) == 1


def test_run_to_noop_auto_sizes_state_instances(spark, events_stream_dir):
    """state_partitions="auto" applies the chooser at query birth; the
    reported instance count equals the chooser's answer for the given
    projection and the drain result volume is unchanged."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        choose_state_partitions,
        run_to_noop,
    )

    def counts():
        stream = read_parquet_stream(spark, events_stream_dir, max_files_per_trigger=1)
        return windowed_event_counts(stream)

    projected = 10 << 20  # tiny state → parallelism floor
    want = choose_state_partitions(
        projected, spark.sparkContext.defaultParallelism
    )
    auto = run_to_noop(
        counts(),
        output_mode="complete",
        state_partitions="auto",
        projected_state_bytes=projected,
    )
    assert auto["state_store_instances"] == want
    with pytest.raises(ValueError):
        run_to_noop(counts(), output_mode="complete", state_partitions="auto")


def test_prepare_corpus_stream_gates_and_dedups_across_batches(
    spark, sf_dir, tmp_path_factory
):
    """Streaming corpus ingest (operators/corpus.prepare_corpus_stream):
    stateless gates match the batch chain, and the fingerprint dedup
    state survives ACROSS micro-batches — a duplicate arriving in a
    later file is dropped."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        corpus_metrics,
        prepare_corpus_stream,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("ingest_ts", F.timestamp_seconds(F.lit(1_000_000) + F.col("doc_id")))
    )
    # file 0: originals; file 1: exact duplicates under new ids (and later
    # timestamps) — the streaming dedup must drop every one of them
    path = str(tmp_path_factory.mktemp("corpus_stream"))
    docs.coalesce(1).write.parquet(f"{path}/part0")
    dups = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.timestamp_seconds(F.lit(1_100_000) + F.col("doc_id")).alias("ingest_ts"),
    )
    dups.coalesce(1).write.parquet(f"{path}/part1")

    schema = spark.read.parquet(f"{path}/part0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{path}/part*")
    )
    name = f"corpus_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(
        prepare_corpus_stream(stream, min_quality=0.2, min_tokens=5), name
    )
    out = spark.sql(f"SELECT * FROM {name}")
    q.stop()

    # batch expectation: same gates, one survivor per fingerprint; every
    # original passes before any injected dup (earlier timestamp), and
    # fixture texts are unique, so survivors == gated originals
    gated = corpus_metrics(docs, "doc_id", "text").filter(
        (F.col("quality_score") >= 0.2) & (F.col("ws_tokens") >= 5)
    )
    got_ids = {r.doc_id for r in out.select("doc_id").collect()}
    want_ids = {r.doc_id for r in gated.select("doc_id").collect()}
    assert got_ids == want_ids
    assert not any(i >= 1_000_000 for i in got_ids)  # all dups dropped
    # metric columns came through the stream
    assert {"quality_score", "lang_pred", "fingerprint", "ws_tokens"} <= set(
        out.columns
    )


def test_corpus_ingest_sink_dedups_against_at_rest_index(
    spark, sf_dir, tmp_path_factory
):
    """foreachBatch ingest (operators/corpus.make_corpus_ingest_sink):
    batch 2's near-duplicates of batch-1 docs are dropped by the join
    against the PERSISTED band index — the corpus itself is never
    re-read — and only survivors' bands are appended to the index."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    base = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    # batch 1: originals.  batch 2: drop-first-word near-dups of half of
    # batch 1 (high Jaccard -> LSH candidates) + genuinely fresh docs
    near = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    fresh = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 250))
        .select((F.col("doc_id") + 20_000).alias("doc_id"), "text")
    )
    src = str(tmp_path_factory.mktemp("ingest_src"))
    base.coalesce(1).write.parquet(f"{src}/b0")
    near.unionByName(fresh).coalesce(1).write.parquet(f"{src}/b1")

    out_dir = str(tmp_path_factory.mktemp("ingest_out")) + "/corpus"
    table = f"ingest_idx_{uuid.uuid4().hex[:8]}"
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    q = (
        stream.writeStream.foreachBatch(
            make_corpus_ingest_sink(out_dir, table, min_quality=0.0, min_tokens=1)
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    got_ids = {r.doc_id for r in got.select("doc_id").collect()}
    # batch-1 expectation: the fixture corpus has NATURAL near-dups among
    # docs 0-99 — the sink must keep exactly the batch-path survivors
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_bands_from_array,
        lsh_candidate_pairs,
        minhash_array,
    )

    b1_pairs = lsh_candidate_pairs(
        lsh_bands_from_array(
            minhash_array(base, "doc_id", "text", 3, 16), "doc_id", 16, 4
        ),
        "doc_id",
    )
    b1_losers = {r.id_b for r in b1_pairs.select("id_b").distinct().collect()}
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    expected_b1 = base_ids - b1_losers
    assert expected_b1 <= got_ids
    assert not (b1_losers & got_ids)  # within-batch losers never written
    # near-dups of already-indexed docs are dropped (allow the odd LSH
    # miss: 16 hashes x 4 bands on a high-jaccard pair -> P(miss) ~ 1e-3)
    near_kept = {i for i in got_ids if 10_000 <= i < 20_000}
    assert len(near_kept) <= 3, near_kept
    # fresh docs overwhelmingly survive (a few may near-dup each other
    # or batch-1 content — that is the operator working, not a bug)
    fresh_ids = {r.doc_id for r in fresh.select("doc_id").collect()}
    assert len(fresh_ids & got_ids) >= 0.8 * len(fresh_ids)
    # the index holds bands for survivors only
    idx_ids = {r.doc_id for r in spark.table(table).select("doc_id").distinct().collect()}
    assert idx_ids == got_ids
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_prepare_corpus_stream_hygiene_gates(spark, tmp_path_factory):
    """The r6 scrub + C4 stages stream unchanged: PII masked in-flight,
    brace docs dropped, clean docs pass with metrics attached."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        prepare_corpus_stream,
    )

    body = "the data of value and in it for on is the part merge row"
    rows = [
        (1, f"write to ann@example.com {body}"),
        (2, "code { " + body),
        (3, f"plain {body}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "ingest_ts", F.timestamp_seconds(F.lit(1_000_000) + F.col("doc_id"))
    )
    path = str(tmp_path_factory.mktemp("hyg_stream")) + "/in"
    docs.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema(
        spark.read.parquet(path).schema
    ).parquet(path)
    name = f"hyg_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(
        prepare_corpus_stream(
            stream, min_quality=0.0, min_tokens=3,
            scrub=True, c4=True, c4_opts={"min_words": 3, "max_words": 100},
        ),
        name,
    )
    out = {r["doc_id"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    q.stop()
    assert set(out) == {1, 3}  # brace doc rejected in-flight
    assert "<EMAIL>" in out[1]["text"] and "ann@" not in out[1]["text"]
    assert "quality_score" in out[3].asDict()


def test_corpus_ingest_sink_replay_is_exactly_once(
    spark, sf_dir, tmp_path_factory
):
    """r7: foreachBatch replay convergence.  Re-running the ingest sink
    for a batch id it already processed must produce the IDENTICAL
    corpus and index (partition-dir overwrite + dynamic index-partition
    overwrite + self-match exclusion), not appended duplicates — the
    exactly-once guarantee the r6 docstring deferred."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    b0 = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 80)
        .localCheckpoint(eager=True)
    )
    # batch 1: near-dups of half of batch 0 + fresh docs
    b1 = (
        b0.filter(F.col("doc_id") % 2 == 0)
        .select(
            (F.col("doc_id") + 10_000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
        .unionByName(
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 240))
        )
        .localCheckpoint(eager=True)
    )
    out_dir = str(tmp_path_factory.mktemp("replay_out")) + "/corpus"
    table = f"replay_idx_{uuid.uuid4().hex[:8]}"
    sink = make_corpus_ingest_sink(out_dir, table, min_quality=0.0, min_tokens=1)

    def state():
        corpus = spark.read.parquet(out_dir)
        idx = spark.table(table)
        return (
            sorted(r.doc_id for r in corpus.select("doc_id").collect()),
            sorted(
                (r["id"] if "id" in idx.columns else r[0], r.band, r.band_hash)
                for r in idx.drop("ingest_batch").collect()
            ),
        )

    sink(b0, 0)
    s_after_0 = state()
    sink(b0, 0)  # replay batch 0 against an index that already has it
    assert state() == s_after_0

    sink(b1, 1)
    s_after_1 = state()
    assert len(s_after_1[0]) > len(s_after_0[0])  # fresh docs landed once
    sink(b1, 1)  # replay batch 1
    assert state() == s_after_1


def test_corpus_ingest_sink_rejects_flat_legacy_layout(
    spark, sf_dir, tmp_path_factory
):
    """r8 (ADVICE): an out_dir populated by the pre-r7 sink holds FLAT
    appended parquet; mixing it with ingest_batch=N partition dirs would
    make spark.read.parquet reject or misread the corpus.  The sink must
    fail loudly with a migration message on first write — mirroring
    upsert_lsh_index_batch's guard on the index table — and accept a
    fresh (or already-partitioned) directory."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 20)
    )
    legacy = str(tmp_path_factory.mktemp("legacy_out")) + "/corpus"
    docs.coalesce(1).write.parquet(legacy)  # r6 flat layout
    sink = make_corpus_ingest_sink(
        legacy, f"legacy_idx_{uuid.uuid4().hex[:8]}",
        min_quality=0.0, min_tokens=1,
    )
    with pytest.raises(ValueError, match="ingest_batch"):
        sink(docs, 0)

    # fresh dir: first batch writes, and a SECOND sink instance pointed at
    # the now ingest_batch=N-partitioned dir still passes the guard
    ok = str(tmp_path_factory.mktemp("ok_out")) + "/corpus"
    make_corpus_ingest_sink(
        ok, f"ok_idx_{uuid.uuid4().hex[:8]}", min_quality=0.0, min_tokens=1
    )(docs, 0)
    make_corpus_ingest_sink(
        ok, f"ok_idx2_{uuid.uuid4().hex[:8]}", min_quality=0.0, min_tokens=1
    )(docs.filter(F.col("doc_id") < 5), 1)
    got = spark.read.parquet(ok)
    assert {"ingest_batch"} <= set(got.columns)


def test_quarantine_late_split_and_sink_convergence(spark, tmp_path_factory):
    """r8: explicit late-data policy (VERDICT item).  Spark's watermark
    does not drop too-late aggregation input (pinned by
    test_watermark_bounds_state_and_advances) — quarantine_late makes the
    policy explicit.  (a) the split: rows older than high_watermark −
    lateness go to the late relation, NULL event times stay on-time;
    (b) make_quarantine_sink: a straggler lands in the quarantine dir and
    never reaches the downstream summary, and a REPLAYED batch re-splits
    against the same cutoff (own _hwm partition excluded) so the
    quarantine, the clean relation, and the sum-merged summary all
    converge instead of double-counting."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
        quarantine_late,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts string, amount long"
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "amount")

    # (a) pure split
    df = batch(
        [
            (1, "2026-01-01 10:20:00", 5),
            (2, "2026-01-01 09:00:00", 7),   # late vs cutoff 10:00
            (3, None, 9),                     # unjudgeable -> on-time
        ]
    )
    on_time, late = quarantine_late(
        df, "ts", "30 minutes",
        high_watermark="2026-01-01 10:30:00",
    )
    assert {r.user_id for r in on_time.collect()} == {1, 3}
    assert {r.user_id for r in late.collect()} == {2}
    # no history yet -> nothing late
    ot0, l0 = quarantine_late(df, "ts", "30 minutes", high_watermark=None)
    assert l0.count() == 0 and ot0.count() == 3

    # (b) the persisted sink
    out = str(tmp_path_factory.mktemp("quarantine")) + "/stream"

    def inner(clean: DataFrame, batch_id: int) -> None:
        clean.write.mode("overwrite").parquet(
            f"{out}/clean/ingest_batch={int(batch_id)}"
        )

    sink = make_quarantine_sink(inner, out, watermark_col="ts",
                                lateness="30 minutes")
    b0 = batch([(1, "2026-01-01 10:00:00", 10),
                (2, "2026-01-01 10:30:00", 20)])
    b1 = batch([(3, "2026-01-01 11:00:00", 30),
                (4, "2026-01-01 09:00:00", 40)])  # straggler
    sink(b0, 0)
    sink(b1, 1)

    def summary():
        clean = spark.read.parquet(f"{out}/clean")
        return {
            r.user_id: r.total
            for r in clean.groupBy("user_id")
            .agg(F.sum("amount").alias("total"))
            .collect()
        }

    late_ids = {
        r.user_id for r in spark.read.parquet(f"{out}/late").collect()
    }
    assert late_ids == {4}
    want = {1: 10, 2: 20, 3: 30}
    assert summary() == want

    # replay batch 1 (recovered foreachBatch): identical split, no growth
    sink(b1, 1)
    assert {
        r.user_id for r in spark.read.parquet(f"{out}/late").collect()
    } == {4}
    assert summary() == want


def test_quarantine_hwm_running_max_and_legacy_fallback(
    spark, tmp_path_factory
):
    """r9: the _hwm relation stores (max_ts, cum_max_ts) so batch N's
    cutoff read is a DIRECT-PATH read of partition N-1 — O(1) however
    old the stream — instead of listing+reading every prior batch's file
    (quadratic over a stream's lifetime).  (a) cum_max_ts is the running
    max across batches, carried through an all-NULL-ts batch; (b) the
    cutoff tracks the running max, not the previous batch's own max;
    (c) a legacy _hwm layout (max_ts only) still yields the identical
    cutoff via the full-scan fallback, and the sink upgrades the dir
    incrementally (new partitions carry cum)."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts string, amount long"
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "amount")

    out = str(tmp_path_factory.mktemp("q_runmax")) + "/stream"

    def inner(clean, batch_id):
        clean.write.mode("overwrite").parquet(
            f"{out}/clean/ingest_batch={int(batch_id)}"
        )

    sink = make_quarantine_sink(inner, out, watermark_col="ts",
                                lateness="30 minutes")
    sink(batch([(1, "2026-01-01 12:00:00", 1)]), 0)
    sink(batch([(2, "2026-01-01 09:00:00", 1)]), 1)   # all-late batch
    sink(batch([(3, None, 1)]), 2)                     # all-NULL ts batch
    # batch 3: 11:00 is late vs the RUNNING max 12:00 (batches 1/2 must
    # not lower or lose the watermark), 11:45 is on-time
    sink(batch([(4, "2026-01-01 11:00:00", 1),
                (5, "2026-01-01 11:45:00", 1)]), 3)
    hwm = spark.read.parquet(f"{out}/_hwm")
    rows = {r.ingest_batch: (r.max_ts, r.cum_max_ts) for r in hwm.collect()}
    noon = rows[0][0]
    assert rows[0] == (noon, noon)
    assert rows[1][1] == noon            # late batch never lowers cum
    assert rows[2] == (None, noon)       # NULL-ts batch carries cum
    assert rows[3][1] == noon
    late_ids = {
        r.user_id for r in spark.read.parquet(f"{out}/late").collect()
    }
    assert late_ids == {2, 4}

    # (c) legacy layout: max_ts-only partitions, no cum column
    out2 = str(tmp_path_factory.mktemp("q_legacy")) + "/stream"

    def inner2(clean, batch_id):
        clean.write.mode("overwrite").parquet(
            f"{out2}/clean/ingest_batch={int(batch_id)}"
        )

    spark.createDataFrame(
        [("2026-01-01 12:00:00",)], "max_ts string"
    ).select(F.to_timestamp("max_ts").alias("max_ts")).write.parquet(
        f"{out2}/_hwm/ingest_batch=0"
    )
    sink2 = make_quarantine_sink(inner2, out2, watermark_col="ts",
                                 lateness="30 minutes")
    sink2(batch([(6, "2026-01-01 09:00:00", 1),
                 (7, "2026-01-01 12:30:00", 1)]), 1)
    assert {
        r.user_id for r in spark.read.parquet(f"{out2}/late").collect()
    } == {6}
    # the dir upgraded: batch 1's partition carries the running max, so
    # batch 2 takes the O(1) path and still quarantines correctly
    up = spark.read.parquet(f"{out2}/_hwm/ingest_batch=1")
    assert "cum_max_ts" in up.columns
    sink2(batch([(8, "2026-01-01 10:00:00", 1)]), 2)
    assert {
        r.user_id for r in spark.read.parquet(f"{out2}/late").collect()
    } == {6, 8}


def test_quarantine_lateness_validated_at_construction(spark):
    """r9 (ADVICE): a malformed lateness string fails as a clear
    ValueError at construction, not an opaque SQL parse error at first
    batch execution."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
        quarantine_late,
    )

    df = spark.range(1).select(
        F.current_timestamp().alias("ts"), F.col("id")
    )
    with pytest.raises(ValueError, match="lateness"):
        quarantine_late(df, "ts", "10 parsecs", high_watermark="2026-01-01")
    with pytest.raises(ValueError, match="lateness"):
        make_quarantine_sink(lambda b, i: None, "/tmp/x", lateness="; DROP")
    # compound intervals are fine
    ot, late = quarantine_late(
        df, "ts", "1 hour 30 minutes", high_watermark="2026-01-01 00:00:00"
    )
    assert ot.count() + late.count() == 1


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_quarantine_sink_recovers_from_mid_run_crash(spark, tmp_path_factory):
    """r9 (VERDICT item 4): the quarantine sink's replay-convergence claim
    tested by KILL/RESTART through a real checkpointed streaming query,
    not just a re-invoked foreachBatch body: the wrapped sink crashes
    AFTER the quarantining batch's writes (late partition + downstream +
    _hwm all on disk, checkpoint commit pending); a restart from the same
    checkpoint replays that batch, and the final quarantine + downstream
    relations are row-identical to an uninterrupted run — the replayed
    split re-reads the _hwm EXCLUDING its own batch, so the cutoff is the
    one the first attempt used, not one shifted by its own max_ts row."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
    )

    root = str(tmp_path_factory.mktemp("qcrash_stream"))
    sch = "user_id long, ts timestamp, amount long"

    def batch(rows):
        return spark.createDataFrame(
            [(u, ts, a) for u, ts, a in rows],
            "user_id long, ts string, amount long",
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "amount")

    _append_stream_file(
        batch([(1, "2026-01-01 10:00:00", 10), (2, "2026-01-01 10:30:00", 20)]),
        root, "b0",
    )
    time.sleep(1.1)
    _append_stream_file(
        batch([(3, "2026-01-01 11:00:00", 30), (4, "2026-01-01 09:00:00", 40)]),
        root, "b1",  # user 4 is the straggler vs hwm 10:30 − 30 min
    )
    del sch

    def make_inner(out):
        def inner(clean, batch_id):
            clean.write.mode("overwrite").parquet(
                f"{out}/clean/ingest_batch={int(batch_id)}"
            )
        return inner

    def drain(sink_fn, ckpt):
        q = (
            read_parquet_stream(spark, root, max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .foreachBatch(sink_fn)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    # reference: uninterrupted run
    ref_out = str(tmp_path_factory.mktemp("qcrash_ref")) + "/stream"
    drain(
        make_quarantine_sink(make_inner(ref_out), ref_out,
                             watermark_col="ts", lateness="30 minutes"),
        ref_out + "_ckpt",
    )

    # crash run: fail after the quarantining batch's writes land
    out = str(tmp_path_factory.mktemp("qcrash")) + "/stream"
    ckpt = out + "_ckpt"
    sink = make_quarantine_sink(make_inner(out), out,
                                watermark_col="ts", lateness="30 minutes")
    crashed = {"done": False}

    def crashing_sink(batch_df, batch_id):
        sink(batch_df, batch_id)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash: writes done, commit pending")

    q = (
        read_parquet_stream(spark, root, max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .foreachBatch(crashing_sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.processAllAvailable()
    q.stop()
    assert crashed["done"]
    # the replay hazard is real: batch 1's quarantine AND its _hwm row
    # are already on disk, uncommitted
    assert spark.read.parquet(f"{out}/late").count() == 1
    assert spark.read.parquet(f"{out}/_hwm").count() == 2

    # restart from the same checkpoint: batch 1 replays through the
    # normal (non-crashing) sink
    drain(sink, ckpt)

    # final state == uninterrupted run, row for row
    for rel in ("late", "clean", "_hwm"):
        got = spark.read.parquet(f"{out}/{rel}")
        want = spark.read.parquet(f"{ref_out}/{rel}")
        assert got.count() == want.count(), rel
        assert got.exceptAll(want).count() == 0, rel
        assert want.exceptAll(got).count() == 0, rel
    assert {
        r.user_id for r in spark.read.parquet(f"{out}/late").collect()
    } == {4}


def test_run_pipeline_streaming_quarantine_policy(
    spark, sf_dir, tmp_path_factory
):
    """r9 (VERDICT item 5): the ENGINE pipeline path — not just the demo —
    carries the explicit late-data policy: with quarantine_lateness set,
    a straggler micro-batch's too-late transactions land in {out}/late
    and never reach the fact relation, while the dim/fact state over the
    on-time rows matches the default-policy run on the same rows."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        run_pipeline_streaming,
    )
    import time

    txns = transactions(spark, sf_dir)  # order_date spans 1995..2001
    recent = txns.filter(F.year("order_date") >= 1998)
    old = txns.filter(F.year("order_date") <= 1996).limit(7)
    n_old = old.count()
    assert n_old > 0 and recent.count() > 0

    root = str(tmp_path_factory.mktemp("pipe_q_stream"))
    _append_stream_file(recent, root, "b0")
    time.sleep(1.1)
    _append_stream_file(old, root, "b1")  # every row years late

    master = master_data(spark, sf_dir)
    out = str(tmp_path_factory.mktemp("pipe_q_out"))
    counts = run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, root, max_files_per_trigger=1),
        master,
        out,
        checkpoint_dir=out + "/_ckpt",
        quarantine_lateness="365 days",
        quarantine_watermark_col="order_date",
    )
    # master is 1:1 on product_id: every on-time row joins, no straggler does
    assert counts["late"] == n_old
    assert counts["fact_enriched"] == recent.count()
    late_ids = {
        (r.order_id, r.line_number)
        for r in spark.read.parquet(f"{out}/late")
        .select("order_id", "line_number").collect()
    }
    want_late = {
        (r.order_id, r.line_number)
        for r in old.select("order_id", "line_number").collect()
    }
    assert late_ids == want_late
    fact = spark.read.parquet(f"{out}/fact_enriched")
    assert (
        fact.join(
            spark.read.parquet(f"{out}/late").select("order_id", "line_number"),
            ["order_id", "line_number"],
            "left_semi",
        ).count()
        == 0
    )
    # dim upsert saw only on-time products
    assert counts["dim_product"] == recent.select("product_id").distinct().count()


def test_compact_fact_enriched_batch_partitions(
    spark, sf_dir, txn_stream_dir, tmp_path_factory
):
    """r9: the star pipeline's fact_enriched/batch_id=N relation ages
    exactly like the corpus dir (one partition per micro-batch forever);
    compact_corpus(batch_col='batch_id') merges the committed history —
    values identical, partitions collapsed, the newest kept verbatim."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        compact_corpus,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        run_pipeline_streaming,
    )

    out = str(tmp_path_factory.mktemp("dw_compact"))
    run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, txn_stream_dir, max_files_per_trigger=1),
        master_data(spark, sf_dir),
        out,
        checkpoint_dir=out + "/_ckpt",
    )
    fact_dir = f"{out}/fact_enriched"
    before = spark.read.parquet(fact_dir)
    batches = {
        int(r[0]) for r in before.select("batch_id").distinct().collect()
    }
    assert len(batches) >= 3
    n = before.count()
    s = before.agg(
        F.sum(F.col("total_sale").cast("decimal(18,2)"))
    ).first()[0]
    stats = compact_corpus(
        spark, fact_dir, keep_last=1, batch_col="batch_id"
    )
    assert stats["rows"] == n
    after = spark.read.parquet(fact_dir)
    assert after.count() == n
    assert after.agg(
        F.sum(F.col("total_sale").cast("decimal(18,2)"))
    ).first()[0] == s
    kept = max(batches)
    merged_epoch = max(b for b in batches if b != kept)
    assert {
        int(r[0]) for r in after.select("batch_id").distinct().collect()
    } == {merged_epoch, kept}


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_quarantine_composed_with_corpus_sink_replay_convergence(
    spark, tmp_path_factory
):
    """r10 (verdict item 6): BOTH foreachBatch wrappers in one batch scope
    — make_quarantine_sink(make_corpus_ingest_sink(...)) composes two
    _hwm-style side artifacts (the quarantine's _hwm/late partitions and
    the corpus sink's ingest_batch dirs + LSH index partitions).  Each is
    individually replay-convergent; this pins the COMPOSITION: a crash
    after a batch's writes (all four artifacts on disk, checkpoint commit
    pending) followed by a restart converges every artifact row-for-row
    with an uninterrupted run."""
    import time
    import uuid as _uuid

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        read_lsh_index,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
    )

    def docs(ids, ts):
        # genuinely novel text per id (hash words) so nothing near-dup-
        # strips; one straggler timestamp makes the quarantine bite
        base = spark.createDataFrame(
            [(i, t) for i, t in zip(ids, ts)], "doc_id long, ts_s string"
        )
        return base.select(
            "doc_id",
            F.to_timestamp("ts_s").alias("ts"),
            F.concat_ws(
                " ",
                *[
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"_{i}")))
                    for i in range(8)
                ],
            ).alias("text"),
        )

    root = str(tmp_path_factory.mktemp("qc_stream"))
    _append_stream_file(
        docs([1, 2, 3], ["2026-01-01 10:00:00"] * 2 + ["2026-01-01 10:30:00"]),
        root, "b0",
    )
    time.sleep(1.1)
    _append_stream_file(
        docs([4, 5], ["2026-01-01 11:00:00", "2026-01-01 09:00:00"]),
        root, "b1",  # doc 5 is the straggler vs hwm 10:30 − 30 min
    )

    def drain(sink_fn, ckpt):
        q = (
            read_parquet_stream(spark, root, max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .foreachBatch(sink_fn)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def composed(out, idx):
        inner = make_corpus_ingest_sink(
            f"{out}/corpus", idx, min_quality=0.0, min_tokens=1
        )
        return make_quarantine_sink(
            inner, out, watermark_col="ts", lateness="30 minutes"
        )

    ref_out = str(tmp_path_factory.mktemp("qc_ref")) + "/stream"
    ref_idx = f"qc_ref_{_uuid.uuid4().hex[:8]}"
    out = str(tmp_path_factory.mktemp("qc_crash")) + "/stream"
    idx = f"qc_crash_{_uuid.uuid4().hex[:8]}"
    try:
        drain(composed(ref_out, ref_idx), ref_out + "_ckpt")

        sink = composed(out, idx)
        crashed = {"done": False}

        def crashing_sink(batch_df, batch_id):
            sink(batch_df, batch_id)
            if batch_id == 1 and not crashed["done"]:
                crashed["done"] = True
                raise RuntimeError("injected crash: writes done, commit pending")

        ckpt = out + "_ckpt"
        q = (
            read_parquet_stream(spark, root, max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .foreachBatch(crashing_sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        with pytest.raises(StreamingQueryException, match="injected crash"):
            q.processAllAvailable()
        q.stop()
        assert crashed["done"]
        # the replay hazard is real for BOTH wrappers: batch 1's late
        # split, its _hwm row, its corpus partition, and its index
        # partition are all on disk, uncommitted
        assert spark.read.parquet(f"{out}/late").count() == 1
        assert spark.read.parquet(f"{out}/_hwm").count() == 2
        assert spark.read.parquet(f"{out}/corpus").filter(
            F.col("ingest_batch") == 1
        ).count() > 0

        # restart from the same checkpoint: batch 1 replays through the
        # normal sink — a FRESH composition (new layout-guard memo), as
        # a real restarted driver would build
        drain(composed(out, idx), ckpt)

        # every artifact converges with the uninterrupted run
        for rel in ("late", "_hwm", "corpus"):
            got = spark.read.parquet(f"{out}/{rel}")
            want = spark.read.parquet(f"{ref_out}/{rel}")
            assert got.count() == want.count(), rel
            assert got.exceptAll(want).count() == 0, rel
            assert want.exceptAll(got).count() == 0, rel
        g = read_lsh_index(spark, idx).select(
            "doc_id", "band", "band_hash", "ingest_batch"
        )
        w = read_lsh_index(spark, ref_idx).select(
            "doc_id", "band", "band_hash", "ingest_batch"
        )
        assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0
        # the straggler was quarantined BEFORE the corpus sink saw it:
        # not in the corpus, not in the index
        corpus_ids = {
            r.doc_id for r in spark.read.parquet(f"{out}/corpus").collect()
        }
        assert 5 not in corpus_ids and corpus_ids == {1, 2, 3, 4}
        assert g.filter(F.col("doc_id") == 5).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ref_idx}")
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_compact_quarantine_bounds_partition_growth(spark, tmp_path_factory):
    """r10: the quarantine sink's side artifacts age one partition dir
    per micro-batch forever — the last members of the per-batch-
    partition family to get a compaction pass.  After compacting: (a)
    late rows and hwm semantics are identical (the next batch's O(1)
    fast path reads its kept N-1 partition; a batch after an id GAP
    exercises the full-scan fallback over the MERGED layout and gets
    the same running max), (b) partition counts drop, (c) an
    all-empty-late stream compacts without error."""
    import os

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        compact_quarantine,
        make_quarantine_sink,
    )

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts string, amount long"
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "amount")

    out = str(tmp_path_factory.mktemp("q_compact")) + "/stream"

    def inner(clean, batch_id):
        clean.write.mode("overwrite").parquet(
            f"{out}/clean/ingest_batch={int(batch_id)}"
        )

    sink = make_quarantine_sink(inner, out, watermark_col="ts",
                                lateness="30 minutes")
    # 6 batches: running max lands at 12:00 in batch 0; stragglers in
    # batches 2 and 4
    sink(batch([(1, "2026-01-01 12:00:00", 1)]), 0)
    sink(batch([(2, "2026-01-01 11:40:00", 1)]), 1)
    sink(batch([(3, "2026-01-01 09:00:00", 1)]), 2)   # late
    sink(batch([(4, "2026-01-01 11:50:00", 1)]), 3)
    sink(batch([(5, "2026-01-01 10:00:00", 1)]), 4)   # late
    sink(batch([(6, "2026-01-01 11:35:00", 1)]), 5)

    def parts(rel):
        return {
            d for d in os.listdir(f"{out}/{rel}")
            if d.startswith("ingest_batch=")
        }

    late_before = {r.user_id for r in spark.read.parquet(f"{out}/late").collect()}
    hwm_max_before = (
        spark.read.parquet(f"{out}/_hwm").agg(F.max("max_ts")).first()[0]
    )
    assert len(parts("_hwm")) == 6 and len(parts("late")) == 6

    stats = compact_quarantine(spark, out, keep_last=2)
    assert set(stats) == {"late", "_hwm"}
    assert len(parts("_hwm")) == 3 and len(parts("late")) == 3  # merged+2 kept

    # rows and the running max survive the merge
    assert {r.user_id for r in spark.read.parquet(f"{out}/late").collect()} == late_before
    assert (
        spark.read.parquet(f"{out}/_hwm").agg(F.max("max_ts")).first()[0]
        == hwm_max_before
    )

    # next batch: O(1) fast path (partition 5 kept verbatim) — a
    # straggler still quarantines against the ORIGINAL running max
    sink(batch([(7, "2026-01-01 11:00:00", 1)]), 6)
    # and after an id gap the full-scan fallback over the merged layout
    # computes the same cutoff
    sink(batch([(8, "2026-01-01 10:30:00", 1), (9, "2026-01-01 11:45:00", 1)]), 9)
    assert {
        r.user_id for r in spark.read.parquet(f"{out}/late").collect()
    } == late_before | {7, 8}

    # (c) a stream whose every late split was empty: each late partition
    # is a schema-only zero-row parquet file; old ones are reaped, kept
    # ones stay replayable, and the pass reports zero late rows
    out2 = str(tmp_path_factory.mktemp("q_compact_clean")) + "/stream"

    def inner2(clean, batch_id):
        clean.write.mode("overwrite").parquet(
            f"{out2}/clean/ingest_batch={int(batch_id)}"
        )

    sink2 = make_quarantine_sink(inner2, out2, watermark_col="ts",
                                 lateness="30 minutes")
    for b in range(4):
        sink2(batch([(10 + b, f"2026-01-01 12:0{b}:00", 1)]), b)
    assert len(os.listdir(f"{out2}/late")) >= 4
    stats2 = compact_quarantine(spark, out2, keep_last=2)
    assert "_hwm" in stats2
    assert stats2.get("late", {}).get("rows", 0) == 0
    late_dirs2 = {
        d for d in os.listdir(f"{out2}/late") if d.startswith("ingest_batch=")
    }
    assert late_dirs2 == {"ingest_batch=2", "ingest_batch=3"}
