"""At-rest layout helpers for parquet tables: bucketed catalog tables,
Z-order keys and small-file compaction.

The reference reads only JDBC (StreamGeneratorThread.java:48-55); the
warehouse's own tables are parquet, and these helpers decide how their
files are laid out so scans prune and joins skip the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    *,
    n_buckets: int = 8,
    sort: bool = True,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Save as a bucketed (+ sorted) catalog table.

    Bucketing pre-shuffles the data ONCE at write time: every join or
    aggregation on the bucket key between equal-bucket-count tables then
    runs exchange-free (the scan itself reports the hash partitioning).
    This is the at-rest answer to the fact ⋈ dim shuffle — at 100 TB the
    fact table is written bucketed by its dominant join key and the
    per-query shuffle disappears.  ``sort`` additionally orders within
    buckets, upgrading the join to sort-merge without a sort step.
    """
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.mode(mode).format("parquet")
    if partition_by:
        # partitioning composes with bucketing: files inside each
        # partition carry the table-level bucket spec, so bucketed scans
        # (and their exchange-free joins/aggs) keep working across
        # partitions while a partition can be atomically replaced
        # (dynamic overwrite) — the exactly-once unit for batch appends
        writer = writer.partitionBy(*partition_by)
    writer = writer.bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def zorder_value(cols, bounds: dict[str, tuple[float, float]], *, bits: int = 16):
    """Morton (Z-order) key: interleave the bits of each column's
    ``bits``-level linear quantization — rows close in EVERY dimension get
    close keys, so range-clustering on this one key gives parquet
    min/max footer locality on ALL the named columns at once (single-key
    range clustering can only narrow its own column).

    ``bounds`` maps column → (min, max) — literals, so the expression is
    deterministic under plan re-evaluation (the same reason
    exact_group_quantiles embeds its chunk boundaries).  Linear
    quantization is skew-sensitive; for heavy skew pre-transform the
    column (log, rank) before z-ordering.  All JVM-side bit arithmetic:
    no UDF, no shuffle beyond the caller's range partitioning.

    Public technique (Morton 1966; used by Delta/Iceberg OPTIMIZE
    ZORDER); implementation is original.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    assert n * bits <= 63, "z-value must fit a signed long"
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        lo, hi = bounds[c]
        span = (hi - lo) or 1.0
        # linear quantization to [0, 2^bits)
        q = F.least(
            F.lit((1 << bits) - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * (1 << bits)).cast(
                    "long"
                ),
            ),
        )
        # spread bit i of q to position i*n + ci of the z-value (unrolled:
        # shift amounts must be Python ints, and `bits` is a constant)
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)).cast("long"), i * n + ci
            )
    return z


def with_zorder(df: DataFrame, cols: list[str], *, bits: int = 16, out_col: str = "__zorder"):
    """Attach a :func:`zorder_value` column, deriving each column's
    (min, max) bounds from one metadata-cheap aggregate pass (2·k scalar
    literals collected driver-side — bounded by the column count, never
    by rows)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__lo_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    bounds = {c: (row[f"__lo_{c}"], row[f"__hi_{c}"]) for c in cols}
    return df.withColumn(out_col, zorder_value(cols, bounds, bits=bits))


def compact_table(
    spark: SparkSession,
    path: str,
    *,
    target_file_mb: int = 128,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    transform=None,
) -> dict[str, int]:
    """Rewrite a parquet table directory into ~``target_file_mb`` files —
    the small-files maintenance pass every streaming/incremental sink
    needs at scale.

    Micro-batch sinks, per-month refreshes, and dynamic-partition
    overwrites each land a few small files per trigger; after weeks a
    100 TB table is millions of kilobyte files and every scan pays
    open/footer/list costs per file instead of per-128 MB split.  This
    pass sizes the rewrite from the CURRENT on-disk bytes (catalog
    listing only — no data pass), bin-packs to ``ceil(bytes / target)``
    output files via a round-robin ``repartition`` (or a range
    ``repartitionByRange`` when ``sort_by`` is given, which additionally
    clusters the data so min/max footer stats become selective on that
    key family; ``zorder_by`` instead clusters on a Morton key so the
    stats narrow on EVERY listed column — see :func:`zorder_value`), and
    replaces the directory
    via a near-atomic two-rename swap: the live dir is renamed aside
    first, staging is renamed into place, and only then is the old copy
    deleted — so the published path is never absent and a crash mid-swap
    leaves the data recoverable in the dot-prefixed side dirs.  Both side
    dirs (``.<name>.compacting``, ``.<name>.old``) are HIDDEN names —
    dot-prefixed basenames are excluded by Spark/Hadoop path filters — so
    ``path`` may be a LEAF PARTITION directory inside a partitioned
    table (``.../order_month=1995-03``) and concurrent scans of the table
    root never see staging or old data as extra partitions.  (Local
    filesystem here; on HDFS use FileSystem.rename, on object stores a
    table-format commit — the pack-from-listing sizing logic is the
    portable part.)

    Returns {"files_before", "files_after", "rows"} so callers can assert
    the compaction actually compacted.  Partitioned layouts pass
    ``partition_by`` to preserve the partition scheme (each partition is
    packed independently by the writer).

    ``transform`` (optional, DataFrame → DataFrame) is applied to the
    read relation before packing — the hook schema-migration passes use
    to piggyback a column backfill on the rewrite they were going to pay
    for anyway (e.g. :func:`...operators.corpus.compact_corpus`
    relabelling the merged batch partitions to one epoch).  It must be row-preserving;
    the returned ``rows`` count is taken AFTER the transform.
    """
    import math
    import os
    import shutil

    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    files = df.inputFiles()
    n_before = len(files)
    total_bytes = 0
    for f in files:
        local = f.removeprefix("file:")
        try:
            total_bytes += os.path.getsize(local)
        except OSError:
            # non-local fs: per-file byte sizes are unknowable from here,
            # so merge ~8 inputs per output file as a heuristic (estimate
            # bytes via the Hadoop FileSystem API to size properly there)
            total_bytes = 0
            break
    n_out = max(1, math.ceil(total_bytes / (target_file_mb << 20))) if total_bytes else max(
        1, n_before // 8
    )
    if zorder_by:
        # multi-column clustering: range-partition + sort on the Morton
        # key so EVERY zorder_by column's min/max footer stats narrow per
        # file (sort_by narrows only its leading key); the helper column
        # is dropped before write
        from pyspark.sql import functions as F

        packed = (
            with_zorder(df, zorder_by)
            .repartitionByRange(n_out, F.col("__zorder"))
            .sortWithinPartitions("__zorder")
            .drop("__zorder")
        )
    elif sort_by:
        from pyspark.sql import functions as F

        packed = df.repartitionByRange(n_out, *[F.col(c) for c in sort_by]).sortWithinPartitions(*sort_by)
    else:
        packed = df.repartition(n_out)
    live = path.rstrip("/").removeprefix("file:")
    parent, base = os.path.split(live)
    staging = os.path.join(parent, f".{base}.compacting")
    old = os.path.join(parent, f".{base}.old")
    writer = packed.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    rows = spark.read.parquet(staging).count()
    # two-rename swap: move the live dir aside, promote staging, then
    # delete the old copy — the published path is never absent, and a
    # crash between steps leaves data in the hidden side dirs
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(staging, live)
    shutil.rmtree(old)
    n_after = len(spark.read.parquet(path).inputFiles())
    return {"files_before": n_before, "files_after": n_after, "rows": rows}
