"""The reference's end-to-end pipeline, batch form (SURVEY.md §3.5).

Mirrors the three reference entry points:

- :func:`ingest`        ≈ the two producer threads (batch here; the
  streaming form is ``streaming.pipeline.read_parquet_stream``)
- :func:`run_hyperjoin` ≈ the consumer loop §3.4 (probe → enrich)
- :func:`load_star`     ≈ the five dim loads + fact load
  (createDW.sql:2-98; StreamGeneratorThread.java:128-138)
- :func:`run_pipeline`  ≈ ``StreamGeneratorThread.main()``
  (StreamGeneratorThread.java:373-406)

Scale posture: the fact table is written partitioned by order-date month —
the partition key that makes both time-range partition pruning and
incremental (per-month) recomputes work at 100 TB; dims are single
unpartitioned tables (they are small by definition).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.constraints import (
    fact_counts,
    fk_violations,
    not_null_violations,
    pk_counts,
    pk_violations,
    raise_violations,
)
from .operators.etl import assemble_fact, build_dim, first_match, hyperjoin
from .sources.fixtures import load_table, master_data, transactions

# The createDW.sql contract (createDW.sql:2-98): dim name → (dim PK, fact
# FK into it).  FACT_NOT_NULL is this framework's TIGHTENING of that
# contract, not a mirror of it: createDW.sql:83-98 declares no NOT NULL
# fact columns (only PRIMARY KEY(OrderID)), and the reference's customer
# load even maps non-numeric keys to NULL — here every FK plus the
# implicit PK and core measures must be present before a fact batch is
# published.
STAR_DIM_KEYS: dict[str, tuple[str, str]] = {
    "dim_product": ("product_id", "product_id"),
    "dim_supplier": ("supplier_id", "supplier_id"),
    "dim_store": ("store_id", "store_id"),
    "dim_order": ("order_id", "order_id"),
    "dim_customer": ("customer_id", "customer_id"),
}
FACT_NOT_NULL = [
    "order_id", "line_number", "customer_id", "product_id",
    "store_id", "supplier_id", "order_date", "quantity", "sales",
]


def ingest(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Load the two source relations (transaction stream + master data)."""
    return transactions(spark, sf_dir), master_data(spark, sf_dir)


def run_hyperjoin(txn: DataFrame, master: DataFrame) -> DataFrame:
    """Cleanse + first-match dedup + equi-join + enrich (§3.4 loop)."""
    m = first_match(master, "product_id", [F.col("supplier_id"), F.col("store_id")])
    return hyperjoin(txn, m)


def build_dimensions(
    spark: SparkSession, sf_dir: str, master: DataFrame
) -> dict[str, DataFrame]:
    """The five SCD1 dimensions of createDW.sql:2-80."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_id"),
        F.to_date("o_orderdate").alias("order_date"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("customer_segment"),
    )
    return {
        "dim_product": build_dim(
            master, "product_id", ["product_id", "product_name", "product_price"]
        ),
        "dim_supplier": build_dim(
            master.select("supplier_id", "supplier_name"),
            "supplier_id",
            ["supplier_id", "supplier_name"],
        ),
        "dim_store": build_dim(
            master.select("store_id", "store_name"),
            "store_id",
            ["store_id", "store_name"],
        ),
        "dim_order": build_dim(orders, "order_id", ["order_id", "order_date"]),
        "dim_customer": build_dim(
            cust, "customer_id", ["customer_id", "customer_name", "customer_segment"]
        ),
    }


def write_star(
    spark: SparkSession,
    dims: dict[str, DataFrame],
    fact: DataFrame,
    out_dir: str,
    *,
    validate: bool = False,
) -> dict[str, int]:
    """Persist a star schema; with ``validate``, enforce the createDW.sql
    constraints on load the way the reference's MySQL did.

    Validation order mirrors the reference: every dim's PK is checked
    before any dim is written (createDW.sql:8,26,38,49,67 — a dup/NULL
    key aborts the load), all five in one aggregate action whose per-dim
    row totals are also the returned dim counts.  Then the fact is
    written to a STAGING path, and its FK-per-dim and NOT NULL contracts
    (createDW.sql:83-98) are checked against the data as written, all in
    one parquet scan that also returns the fact row count (no recompute
    of the assembly plan).  Only a clean fact is promoted to the
    published path; a violating batch raises with the staging dir left
    for inspection and the published fact unchanged (note: the dims HAVE
    been refreshed by that point — a rejected fact batch leaves new dims
    paired with the previous fact until the batch is fixed and re-run;
    SCD1 dims are idempotent so the re-run converges).  Violation samples
    are only fetched for a failed check.  Promotion is a near-atomic
    two-rename swap (live → ``.old``, staging → live, delete ``.old``) so
    the published path is never absent; on HDFS the same gate promotes
    via FileSystem.rename, and on object stores it composes with a
    table-format commit instead (sources/table_formats.py) — the gate
    logic (validate the WRITTEN data, publish only clean) is identical.
    """
    counts: dict[str, int] = {}
    if validate:
        keys = {name: [STAR_DIM_KEYS[name][0]] for name in dims}
        counts, bad = pk_counts({name: (df, keys[name]) for name, df in dims.items()})
        raise_violations(bad, lambda: {
            f"pk_{name}": pk_violations(df, keys[name]) for name, df in dims.items()
        })
    for name, df in dims.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        if not validate:
            counts[name] = spark.read.parquet(f"{out_dir}/{name}").count()

    target = f"{out_dir}/fact_sales"
    staging = f"{out_dir}/fact_sales.staging" if validate else target
    fact.write.mode("overwrite").partitionBy("order_month").parquet(staging)
    if not validate:
        counts["fact_sales"] = spark.read.parquet(target).count()
        return counts
    written = spark.read.parquet(staging)
    star = {
        name: (spark.read.parquet(f"{out_dir}/{name}"), pk, fk)
        for name, (pk, fk) in STAR_DIM_KEYS.items()
    }
    counts["fact_sales"], bad = fact_counts(written, star, FACT_NOT_NULL)
    raise_violations(bad, lambda: {
        **{f"fk_{name}": fk_violations(written, dim, fk, pk)
           for name, (dim, pk, fk) in star.items()},
        "fact_not_null": not_null_violations(written, FACT_NOT_NULL),
    })
    # two-rename swap: published path is never absent mid-promote
    if os.path.isdir(target):
        old = target + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        os.rename(target, old)
        os.rename(staging, target)
        shutil.rmtree(old)
    else:
        os.rename(staging, target)
    return counts


def load_star(
    spark: SparkSession, sf_dir: str, out_dir: str, *, validate: bool = False
) -> dict[str, int]:
    """Build and persist the full star schema; returns row counts.

    Fact is partitioned by order month (dynamic partition pruning +
    bounded incremental rebuilds at scale); dims are plain parquet.
    ``validate`` runs the createDW.sql integrity gate on load (see
    :func:`write_star`).
    """
    _, master = ingest(spark, sf_dir)
    dims = build_dimensions(spark, sf_dir, master)
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation")}
    fact = assemble_fact(
        t["lineitem"], t["orders"], t["customer"], t["part"], t["supplier"], t["nation"]
    ).withColumn("order_month", F.date_format("order_date", "yyyy-MM"))
    return write_star(spark, dims, fact, out_dir, validate=validate)


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """≈ StreamGeneratorThread.main(): ingest → hyperjoin → star load.

    Returns per-table row counts (the reference's success signal was
    console prints + rowsAffected checks, StreamGeneratorThread.java:
    172-176 — counts are the relational equivalent).
    """
    txn, master = ingest(spark, sf_dir)
    enriched = run_hyperjoin(txn, master)
    # the flagship pipeline publishes only an integrity-checked star — the
    # reference's MySQL constraints were enforced on load (createDW.sql)
    counts = load_star(spark, sf_dir, out_dir, validate=True)
    counts["enriched_stream"] = enriched.count()
    return counts


def refresh_fact_month(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    month: str,
    *,
    compact: bool = True,
    target_file_mb: int = 128,
    cluster_by: list[str] | None = None,
    refresh_summary: bool = False,
) -> int:
    """Incremental fact maintenance: rebuild ONE order-month partition.

    The month-partitioned layout's payoff (SCALE.md): a late-arriving
    correction or backfill recomputes and atomically replaces only the
    affected partition — ``partitionOverwriteMode=dynamic`` makes the
    overwrite touch exactly the partitions present in the written frame,
    leaving every other month's files untouched.  At 100 TB this is the
    difference between rewriting ~0.1% and rewriting everything.

    Per-month refresh is also exactly where small files accumulate (each
    rewrite lands one file per shuffle partition regardless of bytes), so
    by default the refreshed month's directory is immediately compacted
    to ~``target_file_mb`` files (``sources.files.compact_table`` on the
    leaf partition dir — its staging/old side dirs are hidden names, so
    concurrent scans of the table root never see them).  ``cluster_by``
    additionally range-clusters the rewrite (e.g. ``["order_id"]``) so
    min/max footer stats stay selective on the cluster key.

    ``refresh_summary`` chains :func:`refresh_summary_month` after the
    rewrite (+compaction) so the materialized rollup never serves stale
    months — pass it whenever the warehouse publishes ``summary_sales``.

    Returns the row count of the refreshed partition.
    """
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation")}
    fact = assemble_fact(
        t["lineitem"], t["orders"], t["customer"], t["part"], t["supplier"], t["nation"]
    ).withColumn("order_month", F.date_format("order_date", "yyyy-MM"))
    one_month = fact.filter(F.col("order_month") == month)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        one_month.write.mode("overwrite").partitionBy("order_month").parquet(
            f"{out_dir}/fact_sales"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    if compact:
        from .sources.files import compact_table

        compact_table(
            spark,
            f"{out_dir}/fact_sales/order_month={month}",
            target_file_mb=target_file_mb,
            sort_by=cluster_by,
        )
    if refresh_summary:
        refresh_summary_month(spark, out_dir, month)
    return one_month.count()


def expire_fact_months(
    spark: SparkSession,
    out_dir: str,
    keep_from: str,
    *,
    tables: tuple[str, ...] = ("fact_sales", "summary_sales"),
) -> dict[str, list[str]]:
    """Retention pass: drop every ``order_month`` partition strictly older
    than ``keep_from`` (inclusive lower bound, 'yyyy-MM') from the fact
    and, when present, the summary.

    Month partitioning makes retention a pure METADATA operation — no
    scan, no rewrite, no tombstones: expired months are directory
    deletes, and every surviving file is untouched (readers see either
    the old or the new listing, never partial months).  This is the
    lifecycle complement of :func:`refresh_fact_month` — data enters and
    leaves the warehouse one month-partition at a time.  The reference
    kept all history forever (its MySQL DW had no retention story).

    Lexicographic comparison IS chronological for zero-padded 'yyyy-MM'.
    Returns {table: [expired months]} so callers can log/audit the drop.
    """
    import glob

    expired: dict[str, list[str]] = {}
    for table in tables:
        root = f"{out_dir}/{table}"
        if not os.path.isdir(root):
            continue
        dropped = []
        for p in sorted(glob.glob(f"{root}/order_month=*")):
            month = os.path.basename(p).split("=", 1)[1]
            if month < keep_from:
                shutil.rmtree(p)
                dropped.append(month)
        expired[table] = dropped
    return expired


# The materialized-summary grain: month × product × store.  Measures are
# MERGEABLE ONLY (sums, counts, min/max) — a mean or percentile stored
# here could not be maintained per-partition; derive ratios at query
# time (e.g. avg = sum_sale / n_lines).
SUMMARY_KEYS = ["order_month", "product_id", "store_id"]


def build_summary(fact: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """Aggregate the published fact to the summary grain — the
    materialized rollup a 100 TB warehouse answers dashboard-shaped
    queries from without scanning the fact.

    The reference rebuilt its whole DW per run (StreamGeneratorThread
    re-INSERTs everything); here the summary composes with the
    month-partitioned fact: because every measure is mergeable and
    ``order_month`` is both a fact partition AND a summary grain key,
    one fact partition maps to exactly one summary partition, so
    :func:`refresh_summary_month` maintains the rollup incrementally —
    never re-aggregating history.

    ``extra_keys``: additional grouping columns (e.g. a batch/side tag,
    so several partial summaries come out of ONE fact pass and Spark's
    ReuseExchange shares the aggregation between them — see
    ``q_summary_incremental``).
    """
    return fact.groupBy(*SUMMARY_KEYS, *extra_keys).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("sales").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_sale"),
        F.min("sales").alias("min_sale"),
        F.max("sales").alias("max_sale"),
    )


def _fold_summaries(u: DataFrame) -> DataFrame:
    """Combine partial summaries at the same grain into one row per key
    — the partial-aggregate combine step.  Every measure is mergeable by
    design: counts add, sums add, min/min and max/max.  The money sums
    re-enter DECIMAL(18,2) before adding so the folded value is
    BIT-IDENTICAL to a full rebuild regardless of how the fact was
    split: each stored double is itself a cast of an exact decimal, and
    double→decimal(18,2) round-trips exactly while |sum| < ~4.5e13
    (beyond that, last-ulp agreement — same envelope as operators/lm.py
    exact_dp).  One hash exchange on the summary grain, sized by the
    SUMMARY (not the fact)."""
    return u.groupBy(*SUMMARY_KEYS).agg(
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum(F.col("sum_qty").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(F.col("sum_sale").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_sale"),
        F.min("min_sale").alias("min_sale"),
        F.max("max_sale").alias("max_sale"),
    )


def merge_summaries(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two summary relations at the same grain
    (:func:`_fold_summaries` over their union) — the combine step of
    incremental rollup maintenance when a delta does NOT align with a
    fact partition (late rows, cross-month backfills; the aligned case
    is :func:`refresh_summary_month`)."""
    return _fold_summaries(old.unionByName(delta))


def refresh_summary_incremental(
    spark: SparkSession, fact_root: str, summary_root: str
) -> dict[str, int]:
    """Cursor-driven rollup maintenance over a MANIFEST-layout fact
    (r13, VERDICT r12 #5 — the in-repo consumer of
    ``read_manifest_table_changes``): each call reads exactly the fact
    rows appended since the last refresh (O(new data) — a ledger diff
    unions only the post-cursor generations, never a table scan),
    aggregates them to one PARTIAL summary, and commits it to a
    manifest batch table at ``summary_root`` in one conditional PUT.

    The CURSOR IS THE LEDGER: each partial commits under the fact head
    seq it covered, so the next refresh resumes from
    ``max(committed batch ids)`` with no side-channel cursor file to
    tear — a replayed/raced refresh of the same head is detected by the
    ledger and skipped (exactly-once), and a crash before publish
    changes nothing.  Read the rollup back with
    :func:`read_summary_incremental` (combine-on-read over the
    partials); :func:`..maintenance.run_maintenance` compacts the
    partials like any manifest table — sound because the fold is
    order-insensitive.

    Boundaries are the CDC read's, surfaced loudly: the cursor manifest
    must still be retained (``manifest_vacuum`` window), and a
    compaction that merged post-cursor fact batches makes their rows
    inseparable — size the fact's maintenance ``keep_last`` above the
    refresh lag, exactly the documented retention-vs-reader contract.

    Returns ``{"cursor_from", "cursor_to", "refreshed"}`` (``refreshed``
    0 = nothing new, no publish)."""
    from .manifest import manifest_read
    from .sources.manifest_table import (
        manifest_table_append,
        read_manifest_table,
        read_manifest_table_changes,
    )

    head_m = manifest_read(spark, fact_root)
    if head_m is None:
        raise ValueError(
            f"no manifest table at {fact_root!r} — the summary cursor "
            "consumes a manifest-layout fact"
        )
    head = int(head_m["seq"])
    summary_m = manifest_read(spark, summary_root)
    cursor = (
        max((int(b) for b in summary_m.get("batches", {})), default=0)
        if summary_m is not None
        else 0
    )
    if head <= cursor:
        return {"cursor_from": cursor, "cursor_to": cursor, "refreshed": 0}
    # both reads are pinned as_of the captured head: a fact append
    # landing between the head capture and the read must NOT be folded
    # into this partial, because the cursor commits as `head` — an
    # unpinned read would aggregate the racing batch now AND re-read it
    # on the next refresh (double count).  Pinned, the partial covers
    # exactly the batches committed at or before its recorded batch_id.
    if cursor == 0:
        # first refresh: baseline over the whole fact
        delta = read_manifest_table(spark, fact_root, as_of=head)
    else:
        delta = read_manifest_table_changes(spark, fact_root, cursor, as_of=head)
    partial = build_summary(delta)
    res = manifest_table_append(partial, summary_root, batch_id=head)
    return {
        "cursor_from": cursor,
        "cursor_to": head,
        "refreshed": 0 if res is None else 1,
    }


def read_summary_incremental(
    spark: SparkSession, summary_root: str
) -> DataFrame:
    """The materialized rollup: combine-on-read over the committed
    partial summaries (:func:`_fold_summaries` — exchanges a
    summary-sized relation only).  Equal to ``build_summary`` over the
    full fact after every refresh, bit-identically (the decimal
    re-entry argument in the fold's docstring)."""
    from .sources.manifest_table import read_manifest_table

    return _fold_summaries(read_manifest_table(spark, summary_root))


def write_summary(spark: SparkSession, out_dir: str) -> int:
    """Full build of the summary table from the published fact, written
    partitioned by ``order_month`` (same incremental unit as the fact).
    Run once at bootstrap; afterwards :func:`refresh_summary_month` keeps
    it current month by month."""
    fact = spark.read.parquet(f"{out_dir}/fact_sales")
    build_summary(fact).write.mode("overwrite").partitionBy("order_month").parquet(
        f"{out_dir}/summary_sales"
    )
    return spark.read.parquet(f"{out_dir}/summary_sales").count()


def refresh_summary_month(spark: SparkSession, out_dir: str, month: str) -> int:
    """Incremental rollup maintenance: after a fact partition is refreshed
    (:func:`refresh_fact_month`), re-aggregate ONLY that month.

    The source scan is partition-pruned to the one refreshed month (a
    literal filter on the fact's partition column), and the write
    dynamically overwrites only that month's summary partition — cost is
    O(one month), independent of table history.  Correct because the
    grain includes the partition key and every measure is mergeable:
    no summary row aggregates across months, so months refresh
    independently."""
    fact = spark.read.parquet(f"{out_dir}/fact_sales").filter(
        F.col("order_month") == month
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        build_summary(fact).write.mode("overwrite").partitionBy(
            "order_month"
        ).parquet(f"{out_dir}/summary_sales")
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.read.parquet(f"{out_dir}/summary_sales")
        .filter(F.col("order_month") == month)
        .count()
    )


def dashboard_agg(
    spark: SparkSession,
    out_dir: str,
    keys: list[str],
    *,
    months: list[str] | None = None,
) -> DataFrame:
    """Aggregate-aware dashboard query (the classic aggregate navigator):
    mergeable measures at any grain COARSER than or equal to the summary
    grain are answered from ``summary_sales`` — re-merged, never re-
    derived (sum of sums, sum of counts, min of mins, max of maxes) — and
    only a grain the summary cannot serve (a key outside
    ``SUMMARY_KEYS``) falls back to scanning the fact.  At 100 TB that is
    the difference between reading a few thousand rollup rows and a full
    fact scan for every dashboard refresh; correctness is guaranteed by
    the summary's mergeable-only measure contract (see
    :func:`build_summary`).

    ``months`` prunes to the given ``order_month`` partitions on either
    path (partition filter → only those leaf dirs are read).  Money/qty
    re-merges go through exact DECIMAL (the stored doubles are exact
    2-dp values, so the cast is lossless) — the re-merged total is
    bit-identical to a direct fact aggregation regardless of
    partitioning.  Output: keys + n_lines, sum_qty, sum_sale, min_sale,
    max_sale, avg_sale.
    """
    from_summary = set(keys) <= set(SUMMARY_KEYS)
    src = spark.read.parquet(
        f"{out_dir}/{'summary_sales' if from_summary else 'fact_sales'}"
    )
    if months is not None:
        src = src.filter(F.col("order_month").isin(*months))
    if from_summary:
        agg = src.groupBy(*keys).agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum(F.col("sum_qty").cast("decimal(28,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("sum_sale").cast("decimal(28,2)"))
            .cast("double")
            .alias("sum_sale"),
            F.min("min_sale").alias("min_sale"),
            F.max("max_sale").alias("max_sale"),
        )
    else:
        agg = src.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(F.col("sales").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_sale"),
            F.min("sales").alias("min_sale"),
            F.max("sales").alias("max_sale"),
        )
    return agg.withColumn("avg_sale", F.col("sum_sale") / F.col("n_lines"))
