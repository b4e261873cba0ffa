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
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .operators.constraints import (
    fact_counts,
    fk_violations,
    not_null_violations,
    pk_counts,
    pk_violations,
    raise_violations,
)
from .operators.etl import assemble_fact, build_dim, first_match, hyperjoin
from .operators.text import ensure_compute_parallelism
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


def _run_together(spark: SparkSession, actions: list) -> list:
    """Run independent Spark actions at once, one thread per action, and
    return their results in order.

    Each thread inherits the caller's local properties (job group,
    description, scheduler pool), so the jobs it launches are attributed
    and cancellable like the caller's own.  Every action runs to its end
    before the first failure, in submission order, is re-raised, so no
    job is still running when this returns or raises."""
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
    return [f.result() for f in futures]


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
) -> dict[str, int]:
    """Persist a star schema, enforcing the createDW.sql constraints on
    load the way the reference's MySQL did.

    The order is fixed: PK gate → writes → FK/NOT NULL gate → promote.

    1. Every dim's PK is checked before anything is written
       (createDW.sql:8,26,38,49,67 — a dup/NULL key aborts the load), all
       five in one aggregate action whose per-dim row totals are also the
       returned dim counts.
    2. The five dim writes and the fact's STAGING write are independent,
       so they are submitted together (one thread each, the caller's job
       group inherited) and all six are awaited.  The staged fact goes
       through a ``REBALANCE`` on ``order_month``: the write runs in
       several tasks even from a single input split, lands one file per
       month at small size, and AQE splits an oversized month to the
       advisory partition size at scale.  A failed write lets the other
       writes finish and then raises; the published fact is unchanged,
       but ``fact_sales.staging`` may be left in place and the dims that
       did write are refreshed.
    3. The FK-per-dim and NOT NULL contracts (createDW.sql:83-98) are
       checked against the data as written, all in one parquet scan that
       also returns the fact row count (no recompute of the assembly
       plan).  The staged fact and the dims are read back with the
       schemas the load already holds, so the read-back infers no schema
       from file footers; it only lists the files (the staged fact's
       month dirs in one listing job sized to the cores, see
       ``session.ENGINE_CONF``).  A violating batch raises with the
       staging dir left for inspection and the published fact
       unchanged (the dims HAVE been
       refreshed by then — a rejected fact batch leaves new dims paired
       with the previous fact until the batch is fixed and re-run; SCD1
       dims are idempotent so the re-run converges).  Violation samples
       are only fetched for a failed check.
    4. Only a clean fact is promoted to the published path, by a
       near-atomic two-rename swap (live → ``.old``, staging → live,
       delete ``.old``) so the published path is never absent; on HDFS
       the same gate promotes via FileSystem.rename.
    """
    keys = {name: [STAR_DIM_KEYS[name][0]] for name in dims}
    counts, bad = pk_counts({name: (df, keys[name]) for name, df in dims.items()})
    raise_violations(bad, lambda: {
        f"pk_{name}": pk_violations(df, keys[name]) for name, df in dims.items()
    })
    target = f"{out_dir}/fact_sales"
    staging = f"{out_dir}/fact_sales.staging"
    staged = fact.hint("rebalance", "order_month").write.mode("overwrite")
    _run_together(spark, [
        *(partial(df.write.mode("overwrite").parquet, f"{out_dir}/{name}")
          for name, df in dims.items()),
        partial(staged.partitionBy("order_month").parquet, staging),
    ])
    written = spark.read.schema(fact.schema).parquet(staging)
    star = {
        name: (spark.read.schema(dims[name].schema).parquet(f"{out_dir}/{name}"), pk, fk)
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


def load_star(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """Build and persist the full star schema; returns row counts.

    Fact is partitioned by order month (dynamic partition pruning +
    bounded incremental rebuilds at scale); dims are plain parquet.
    The createDW.sql integrity gate runs on load (see :func:`write_star`).

    When ``lineitem``'s scan offers fewer splits than
    ``defaultParallelism`` (a small table written as one file), it is
    hash-partitioned on ``l_orderkey`` before the fact is assembled, so
    the scan, the broadcast-join probes and the rebalance write run on
    every core instead of in one task.  The key is the fact's
    co-partitionable join key; a round-robin spread would sort its one
    input partition first.  A lineitem that arrives in enough files is
    not touched.
    """
    _, master = ingest(spark, sf_dir)
    dims = build_dimensions(spark, sf_dir, master)
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation")}
    lineitem = ensure_compute_parallelism(t["lineitem"], keys=("l_orderkey",))
    fact = assemble_fact(
        lineitem, t["orders"], t["customer"], t["part"], t["supplier"], t["nation"]
    ).withColumn("order_month", F.date_format("order_date", "yyyy-MM"))
    return write_star(spark, dims, fact, out_dir)


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, int]:
    """≈ StreamGeneratorThread.main(): ingest → hyperjoin → star load.

    The enriched-stream count and the star load share no data, so they
    run at the same time (the reference likewise ran its producers and
    its join/load consumer concurrently); inside the load, the dim
    writes and the fact staging write overlap too, while the load keeps
    its order PK gate → writes → FK/NOT NULL gate → promote (see
    :func:`write_star`).  Every job either side launches carries the
    caller's job group, and both sides finish before this returns or
    raises.

    Returns per-table row counts (the reference's success signal was
    console prints + rowsAffected checks, StreamGeneratorThread.java:
    172-176 — counts are the relational equivalent).
    """
    txn, master = ingest(spark, sf_dir)
    enriched = run_hyperjoin(txn, master)
    # the flagship pipeline publishes only an integrity-checked star — the
    # reference's MySQL constraints were enforced on load (createDW.sql)
    counts, n_enriched = _run_together(
        spark, [partial(load_star, spark, sf_dir, out_dir), enriched.count]
    )
    counts["enriched_stream"] = n_enriched
    return counts


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
    one fact partition maps to exactly one summary partition, so the
    rollup can be maintained incrementally (:func:`merge_summaries`) —
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
    incremental rollup maintenance, including deltas that do NOT align
    with a fact partition (late rows, cross-month backfills)."""
    return _fold_summaries(old.unionByName(delta))
