"""JDBC source/sink round trip against Spark's embedded Derby driver: the
batched append, then a range-partitioned parallel read of the same table."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.sources.jdbc import (
    read_jdbc,
    write_jdbc_append,
)

DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_write_append_then_partitioned_read(spark):
    url = f"jdbc:derby:memory:jdbc_{uuid.uuid4().hex[:8]};create=true"
    df = spark.range(100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).cast("int").alias("v")
    )
    write_jdbc_append(df, url, "T", batch_size=17, **DERBY)
    got = read_jdbc(
        spark, url, "T", partition_column="k", lower_bound=0, upper_bound=100,
        num_partitions=4, **DERBY,
    )
    assert got.rdd.getNumPartitions() == 4
    row = got.agg(F.count("*").alias("n"), F.sum("k").alias("s")).first()
    assert (row.n, row.s) == (100, 4950)
    assert got.agg(F.sum("v")).first()[0] == 9900
