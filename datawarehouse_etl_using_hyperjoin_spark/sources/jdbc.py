"""JDBC source/sink — the reference's production I/O path.

Reference: per-thread ``DriverManager.getConnection`` + ``SELECT *`` scans
(StreamGeneratorThread.java:48-55; MasterDataStreamGeneratorThread.java:
30-40) and per-tuple autocommit UPDATE sinks (StreamGeneratorThread.java:
151-354).  Spark-side equivalents below; no roster query reads JDBC (the
fixture path uses parquet throughout), so tests/test_jdbc.py runs them
against Spark's embedded Derby driver.

Scale posture: a naive JDBC read is a single-connection single-partition
scan — the 100 TB version must set ``partitionColumn/lowerBound/upperBound/
numPartitions`` so executors read key ranges in parallel, and sinks write
with rewriteBatchedStatements instead of the reference's
connection-per-tuple (5 opens per matched row, StreamGeneratorThread.java:
134-138).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    **options: str,
) -> DataFrame:
    """Parallel JDBC table scan (S1/S2).

    With a numeric ``partition_column`` the scan fans out to
    ``num_partitions`` range-predicated queries — the difference between a
    1-connection trickle (the reference's design) and a cluster-wide
    parallel read.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc_append(
    df: DataFrame, url: str, table: str, *, batch_size: int = 10_000, **options: str
) -> None:
    """Batched JDBC append (S4 fact-load path) — one connection per
    partition, ``batchsize`` rows per round trip (vs. the reference's
    connection-per-tuple autocommit, StreamGeneratorThread.java:158-176)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode("append")
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()
