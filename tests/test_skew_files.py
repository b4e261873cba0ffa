"""Skew mitigation at the engine level: AQE splits a hot join partition."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB skew story, pinned to an actual plan: a deliberately
    skewed join (one hot key with ~1000× the rows of the others) under
    AQE with test-scaled thresholds must (a) produce the correct result
    and (b) show OptimizeSkewedJoin splitting the hot partition —
    ``skew=true`` on the join node of the final adaptive plan."""
    saved = {}
    confs = {
        # no broadcast: force a shuffle join so skew splitting applies
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # scale the skew detector down to test-sized data
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    }
    for k, v in confs.items():
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        hot = spark.range(300_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v"),
            F.repeat(F.lit("x"), 32).alias("pad"),
        )
        tail = spark.range(2_000).select(
            (F.pmod(F.col("id"), 8) + 1).alias("k"), F.col("id").alias("v"),
            F.repeat(F.lit("x"), 32).alias("pad"),
        )
        left = hot.unionByName(tail)
        right = spark.range(9).select(
            F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("name")
        )
        joined = left.join(right, "k").groupBy("name").agg(F.count("*").alias("n"))
        got = {r.name: r.n for r in joined.collect()}
        assert got["dim_0"] == 300_000
        assert all(got[f"dim_{i}"] == 250 for i in range(1, 9))
        # the final adaptive plan of the executed join must mark the
        # skewed-partition split.  Two subtleties: the plan must come from
        # the SAME QueryExecution that ran (a write/count plans a fresh,
        # unexecuted one), and the join must be terminal — AQE declines
        # the split when the join feeds another exchange it would inflate.
        join_df = left.join(right, "k")
        join_df.collect()
        plan = join_df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
