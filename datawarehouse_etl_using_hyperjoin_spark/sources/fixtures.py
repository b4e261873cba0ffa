"""Fixture readers + reference role-mapping views.

The reference's two source relations (FIXTURES.md §A):

- ``transaction.transactions`` — the stream side, 7 columns read by
  StreamGeneratorThread.java:59-65
- ``master.master_data`` — the master side, 7 columns read by
  MasterDataStreamGeneratorThread.java:44-53

are emulated over the driver fixture tables (FIXTURES.md §C):
``transactions`` ≈ lineitem ⋈ orders ⋈ customer, ``master_data`` ≈
part ⋈ supplier ⋈ nation (store ≈ nation).  Both views are plain DataFrame
compositions, so Catalyst prunes/pushes through them like any subquery.

Scale note: at 100 TB the stream side (lineitem/orders) dominates; the view
keeps the join key (`l_orderkey`) untouched so AQE can plan a shuffle join
on the big⋈big edge and broadcast the small customer side automatically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_EPOCH_NTZ = "timestamp_ntz'1970-01-01 00:00:00'"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table; normalizes the events nano-timestamp.

    ``events.parquet`` carries TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as LongType and is
    rebuilt here as ``timestamp_ntz`` (micros; the fixture data is
    micro-precision so truncation is lossless).  ntz is used so results are
    independent of the driver's session timezone, matching DuckDB's naive
    timestamps.

    The returned DataFrame is memoized per (session, sf_dir, name):
    DataFrames are immutable, so reuse is safe, and it removes the repeated
    file-listing + footer-read + analysis cost every role view would
    otherwise pay per query (fixed overhead that would also be pure waste
    on a 1000-executor driver).  The cache dies with the session object.
    """
    cache: dict[tuple[str, str], DataFrame] | None = getattr(
        spark, "_hyperjoin_table_cache", None
    )
    if cache is None:
        cache = {}
        try:
            spark._hyperjoin_table_cache = cache
        except Exception:
            cache = None
    if cache is not None and (sf_dir, name) in cache:
        return cache[(sf_dir, name)]
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_EPOCH_NTZ})")
        )
    if cache is not None:
        cache[(sf_dir, name)] = df
    return df


def transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transaction stream as a relation (FIXTURES.md §C).

    Columns mirror StreamGeneratorThread.java:59-65 / DataItem
    (StreamGeneratorThread.java:413-419): order id/date, product id,
    customer id/name (+segment standing in for Gender), quantity.
    ``line_number`` is carried as the uniqueness tiebreaker for
    deterministic LIMIT queries.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    # customer grows linearly with the fact table, so it carries NO forced
    # broadcast hint (same size-gating rationale as assemble_fact): AQE
    # broadcasts it while it fits under autoBroadcastJoinThreshold and
    # degrades to a shuffle join beyond — never OOM-bait at 100×.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_number"),
            F.col("o_orderdate").alias("order_date"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_suppkey").alias("supplier_id"),
            F.col("o_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("customer_segment"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extended_price"),
            F.col("l_discount").alias("discount"),
        )
    )


TRANSACTIONS_ORACLE = """
SELECT l_orderkey          AS order_id,
       l_linenumber        AS line_number,
       o_orderdate         AS order_date,
       l_partkey           AS product_id,
       l_suppkey           AS supplier_id,
       o_custkey           AS customer_id,
       c_name              AS customer_name,
       c_mktsegment        AS customer_segment,
       l_quantity          AS quantity,
       l_extendedprice     AS extended_price,
       l_discount          AS discount
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
"""


_MODULUS_CACHE: dict[str, tuple[int, int]] = {}


def _modulus_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(|supplier|, |nation|) for one fixture dir, memoized process-wide.

    The counts are properties of the data directory, not of the session, so
    the cache key is just ``sf_dir``.  Each count is a parquet
    metadata-only aggregate (no row scan).
    """
    got = _MODULUS_CACHE.get(sf_dir)
    if got is None:
        n_supp = load_table(spark, sf_dir, "supplier").count()
        n_nation = load_table(spark, sf_dir, "nation").count()
        got = _MODULUS_CACHE[sf_dir] = (int(n_supp), int(n_nation))
    return got


def master_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's master_data relation (FIXTURES.md §A.2/§C).

    One row per product: part enriched with a deterministic supplier
    (``p_partkey % |supplier|``) and store (≈ nation, ``p_partkey %
    |nation|``).  ``product_price`` is rebuilt as the reference's dirty
    ``"$123.45"`` VARCHAR (createDW.sql:5) so the P3 cleanse operator has
    real work to do (MasterDataStreamGeneratorThread.java:46-49).

    Supplier/nation are tiny at every scale → broadcast.  The moduli
    (|supplier|, |nation|) are computed ONCE per sf_dir and folded in as
    literals (memoized below): parquet row counts come from footer metadata,
    so the probe costs milliseconds, and a literal modulus lets Catalyst
    constant-fold `p_partkey % N` instead of carrying two crossjoined
    single-row subqueries through every downstream plan (which added ~1 s of
    fixed planning/execution overhead to each hyperjoin/fact-assembly run).
    """
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n_supp, n_nation = _modulus_counts(spark, sf_dir)
    enriched = part.withColumn(
        "supplier_id", F.col("p_partkey") % F.lit(n_supp)
    ).withColumn("store_id", F.col("p_partkey") % F.lit(n_nation))
    return (
        enriched.join(F.broadcast(supp), enriched.supplier_id == supp.s_suppkey)
        .join(F.broadcast(nation), enriched.store_id == nation.n_nationkey)
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_name").alias("product_name"),
            F.concat(
                F.lit("$"),
                F.col("p_retailprice").cast(T.DecimalType(12, 2)).cast("string"),
            ).alias("product_price"),
            F.col("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            F.col("store_id"),
            F.col("n_name").alias("store_name"),
        )
    )


MASTER_DATA_ORACLE = """
SELECT p_partkey AS product_id,
       p_name    AS product_name,
       '$' || CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS product_price,
       p_partkey % n_supp   AS supplier_id,
       s_name    AS supplier_name,
       p_partkey % n_nation AS store_id,
       n_name    AS store_name
FROM part
CROSS JOIN (SELECT count(*) AS n_supp FROM supplier)
CROSS JOIN (SELECT count(*) AS n_nation FROM nation)
JOIN supplier ON s_suppkey   = p_partkey % n_supp
JOIN nation   ON n_nationkey = p_partkey % n_nation
"""
