"""Mergeable sketches — incremental statistics at rest.

``approx_count_distinct`` answers one query
over one scan and throws its state away.  At 100 TB the useful form is
the MERGEABLE sketch (Spark's Apache-DataSketches-backed HllSketch,
``hll_sketch_agg``): sketch each ingest batch / date partition ONCE
(linear, map-side, a few KB per group), persist the sketches as a tiny
side table, and answer "distinct users over any date range / any group
rollup" by UNIONING sketches — no re-scan of the fact data, ever.  Sketch
union is exact over the sketch state (associative + commutative), so
estimates are identical no matter how the data was batched — the same
backfill-safety property the deterministic samplers rely on.

The estimate carries the standard HLL relative error (~1.04/√2^lg_k;
lg_k=12 ≈ 1.6%); the trade against exact count-distinct (one expensive
expand/shuffle per query — see q_agg_multi's plan note) is the whole
point at scale.

The quantile family below follows the same pattern for percentiles:
DDSketch-style log-γ bucketing (Masson/Rim/Lee, "DDSketch: A Fast and
Fully-Mergeable Quantile Sketch with Relative-Error Guarantees",
VLDB 2019).  The sketch is stored RELATIONALLY — one (group, bucket,
count) row per occupied bucket — so merge is a plain groupBy-sum (exact,
batching-invariant) and estimation is one window cumsum; no binary blobs,
no UDFs, and any engine that can sum can maintain it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch of ``value_col``'s distinct values per group:
    (group_cols..., sketch binary).

    This is the INGEST-side pass — run once per batch/partition and
    persist; cost is one map-side-combined aggregation (sketch update is
    algebraic), shuffle carries ≈2^lg_k bytes per group.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    )


def merge_sketches(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Union persisted sketches to any coarser grouping and estimate:
    (group_cols..., n_distinct_est).

    ``group_cols=None`` (or ``[]``) merges everything to one row.  This is
    the QUERY-side pass — it reads only the sketch table, so a year of
    daily sketches answers a year-range distinct count in milliseconds.
    """
    est = F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_distinct_est")
    if group_cols:
        return sketches.groupBy(*group_cols).agg(est)
    return sketches.agg(est)


def updated_sketches(
    existing: DataFrame,
    new_batch: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Incremental maintenance: fold a new raw batch into a persisted
    sketch table — sketch the batch, union with the existing sketches per
    group.  The result is bit-identical to sketching (existing ∪ batch)
    from scratch, so replays/backfills converge instead of drifting.
    """
    fresh = distinct_sketches(new_batch, group_cols, value_col, lg_k)
    return (
        existing.select(*group_cols, "sketch")
        .unionByName(fresh)
        .groupBy(*group_cols)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )


# --- DDSketch-style mergeable quantile sketch ------------------------------
#
# Bucket i holds values with γ^(i-1) < x ≤ γ^i, γ = (1+α)/(1-α); the bucket
# midpoint 2γ^i/(γ+1) is within relative error α of every value in the
# bucket.  Zero and negative values get their own buckets (negatives bucket
# |x| with the index order flipped), and the three ranges are packed into ONE
# sortable bigint key so the quantile walk is a single ORDER BY:
#
#   x < 0 : key = -OFFSET - i(|x|)      (ascending key == ascending value)
#   x = 0 : key = 0
#   x > 0 : key = +OFFSET + i(x)
#
# |i| ≤ log_γ(DBL_MAX) ≈ 7×10^5 even at α = 0.0005, far below OFFSET.
_QSKETCH_OFFSET = 10_000_000


def _gamma(alpha: float) -> float:
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def quantile_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    alpha: float = 0.01,
) -> DataFrame:
    """One relational quantile sketch of ``value_col`` per group:
    (group_cols..., qbucket, cnt) — one row per occupied log-γ bucket.

    INGEST-side pass, same contract as :func:`distinct_sketches`: run once
    per batch/date-partition and persist.  One map-side-combined
    aggregation; the shuffle carries only occupied buckets (≤ a few
    thousand rows per group at α = 0.01, independent of data volume).
    NULLs are excluded (SQL aggregate convention).

    The log-ratio is rounded to 9 dp before ``ceil`` so bucket assignment
    is reproducible across engines whose ``ln`` differs in the last ulp
    (the sketch is relational state other engines may maintain/query); the
    induced boundary shift is ≤ 1e-9 relative, absorbed by α.
    """
    g = _gamma(alpha)
    x = F.col(value_col).cast("double")
    idx = F.ceil(F.round(F.log(F.abs(x)) / math.log(g), 9)).cast("long")
    key = (
        F.when(x > 0, F.lit(_QSKETCH_OFFSET) + idx)
        .when(x < 0, F.lit(-_QSKETCH_OFFSET) - idx)
        .when(x == 0, F.lit(0))
    )
    return (
        df.select(*group_cols, key.alias("qbucket"))
        .filter(F.col("qbucket").isNotNull())
        .groupBy(*group_cols, "qbucket")
        .agg(F.count("*").alias("cnt"))
    )


def merge_quantile_sketches(
    sketches: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Union persisted quantile sketches to any coarser grouping: plain
    groupBy-sum over bucket counts.  Exact over the sketch state
    (associative + commutative), so any PARTITION of the data into batches
    gives identical estimates.  Unlike HLL union, counts are additive, not
    idempotent — re-merging the SAME batch double-counts, so the ingest
    path must be exactly-once per batch (the fact sink's batch_id-keyed
    overwrite provides exactly that)."""
    return sketches.groupBy(*group_cols, "qbucket").agg(
        F.sum("cnt").alias("cnt")
    )


def sketch_quantiles(
    sketches: DataFrame,
    group_cols: list[str],
    qs: list[float],
    alpha: float = 0.01,
) -> DataFrame:
    """Estimate quantiles from a (merged) sketch table: one row per group
    with a ``p{q}`` double column per requested quantile (``0.5`` →
    ``p50``, ``0.999`` → ``p99_9``).

    QUERY-side pass — reads only the sketch table.  One window cumsum in
    bucket-key order (value order by construction), then each quantile
    picks the first bucket whose cumulative count covers rank
    ⌊q·(n−1)⌋+1 and decodes the bucket midpoint, which is within relative
    error α of the true quantile value.
    """
    g = _gamma(alpha)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("qbucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*group_cols)
    cum = sketches.select(
        *group_cols,
        "qbucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("total"),
    )
    # |i| ≪ OFFSET, so the sign ranges are separated by wide gaps around
    # ±OFFSET/2 (i may be negative for |x| < 1, putting positive-range keys
    # below OFFSET — hence the half-offset thresholds, not exact ones).
    mag = F.lit(2.0) * F.pow(F.lit(g), F.abs(F.col("qbucket")) - _QSKETCH_OFFSET) / (g + 1.0)
    est = (
        F.when(F.col("qbucket") >= _QSKETCH_OFFSET // 2, mag)
        .when(F.col("qbucket") <= -_QSKETCH_OFFSET // 2, -mag)
        .otherwise(F.lit(0.0))
    )
    aggs = []
    for q in qs:
        rank = F.floor(F.lit(float(q)) * (F.col("total") - 1)) + 1
        name = f"p{q * 100:g}".replace(".", "_")
        aggs.append(
            F.min(F.when(F.col("cum") >= rank, est)).alias(name)
        )
    return cum.groupBy(*group_cols).agg(*aggs)


def exact_group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs: list[float],
    *,
    chunks: int | None = None,
) -> DataFrame:
    """EXACT linear-interpolated quantiles per group (SQL ``percentile_cont``
    semantics), computed from the value DISTRIBUTION rather than Spark's
    ``percentile`` aggregate.

    ``percentile``'s implementation accumulates a value→count map per
    partial-aggregation buffer and merges the maps through the shuffle —
    for near-continuous values that is one giant serialized map per task
    and a single merge+sort per group on one core (measured 8.1 s for 3
    groups × 200 k rows at sf0.1 where this form takes ~1 s).  Here the
    multiset is compressed relationally first — groupBy(group, value)
    partial-aggregates map-side like any count — then one cumulative
    window over the per-group distribution finds, for each quantile
    ``q``, the values at ranks ⌊(n−1)q⌋+1 and ⌈(n−1)q⌉+1, interpolated as
    ``v_lo·(1−frac) + v_hi·frac`` with ``frac = (n−1)q − ⌊(n−1)q⌋`` — the
    exact expression shape DuckDB's ``quantile_cont`` evaluates (NOT the
    algebraically-equal ``v_lo + frac·(v_hi − v_lo)``, which rounds
    differently in the last ulp), so results are bit-identical.
    Shape at scale: one narrow shuffle + a window over distinct values —
    no value maps, no row-at-a-time state.

    Output: ``group_cols`` + one double column per q (``0.5`` → ``p50``,
    ``0.999`` → ``p99_9``), NULL for groups with no non-null values —
    callers wanting those groups join this back outer.

    ``chunks`` picks the cumulative-sum strategy.  Default (``None``): one
    window per group — optimal while each group's distinct-value
    distribution fits a single task's sort.  ``chunks=N`` switches to a
    DISTRIBUTED prefix sum for huge per-group distributions (the regime
    where a per-group window serializes onto one core): N−1 approximate
    value boundaries are computed once and embedded as literals (so chunk
    assignment is a deterministic per-row expression — safe under plan
    re-evaluation, unlike ``repartitionByRange``'s re-sampled
    boundaries), local cumsums run per (group, chunk) in parallel, and a
    per-(group, chunk) totals prefix — rows = groups × N, broadcast —
    shifts each chunk by everything before it.  Counts are integers, so
    both strategies produce identical ranks and identical results; the
    boundaries only balance work, never affect values.

    Measured crossover (tools/scale_probe.py, SCALE.md r5): on a 32-core
    host the strategies break even around ~3 M distinct values per group;
    below that the chunked form's boundary-sampling pass and extra
    shuffle volume lose, above it the default's one-core-per-group sort
    ceiling dominates.  Rule of thumb: ``chunks=N`` when per-group
    distributions exceed a few million values.
    """
    vals = df.filter(F.col(value_col).isNotNull()).select(*group_cols, value_col)
    dist = vals.groupBy(*group_cols, value_col).agg(F.count("*").alias("__c"))
    if chunks is None:
        wcum = (
            Window.partitionBy(*group_cols)
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # group total from a second frame over the SAME window partitioning
        # — one Window node, no second scan/aggregate/join for the counts
        wt = Window.partitionBy(*group_cols)
        cum = dist.withColumn("__cum", F.sum("__c").over(wcum)).withColumn(
            "__n", F.sum("__c").over(wt)
        )
    else:
        probs = [i / chunks for i in range(1, chunks)]
        row = dist.agg(
            F.percentile_approx(value_col, probs, 1000).alias("b")
        ).first()
        bounds = sorted(set(row.b or []))
        if bounds:
            barr = F.array(*[F.lit(float(b)) for b in bounds])
            chunk_of = F.aggregate(
                barr,
                F.lit(0),
                lambda acc, b: acc + (F.col(value_col) >= b).cast("int"),
            )
        else:
            chunk_of = F.lit(0)
        ch = dist.withColumn("__chunk", chunk_of)
        wloc = (
            Window.partitionBy(*group_cols, "__chunk")
            .orderBy(value_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        loc = ch.withColumn("__loc", F.sum("__c").over(wloc))
        woff = (
            Window.partitionBy(*group_cols)
            .orderBy("__chunk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wtot = Window.partitionBy(*group_cols)
        offs = (
            ch.groupBy(*group_cols, "__chunk")
            .agg(F.sum("__c").alias("__t"))
            .select(
                *group_cols,
                "__chunk",
                F.coalesce(F.sum("__t").over(woff), F.lit(0)).alias("__off"),
                F.sum("__t").over(wtot).alias("__n"),
            )
        )
        cum = (
            loc.join(F.broadcast(offs), [*group_cols, "__chunk"])
            .withColumn("__cum", F.col("__loc") + F.col("__off"))
        )
    lo_his = []
    for q in qs:
        pos = (F.col("__n") - 1) * F.lit(float(q))
        name = f"p{q * 100:g}".replace(".", "_")
        lo_his += [
            F.min(
                F.when(F.col("__cum") >= F.floor(pos) + 1, F.col(value_col))
            ).alias(f"__{name}_lo"),
            F.min(
                F.when(F.col("__cum") >= F.ceil(pos) + 1, F.col(value_col))
            ).alias(f"__{name}_hi"),
        ]
    g = cum.groupBy(*group_cols, "__n").agg(*lo_his)
    out_cols = list(group_cols)
    for q in qs:
        pos = (F.col("__n") - 1) * F.lit(float(q))
        name = f"p{q * 100:g}".replace(".", "_")
        frac = pos - F.floor(pos)
        out_cols.append(
            (
                F.col(f"__{name}_lo") * (F.lit(1.0) - frac)
                + F.col(f"__{name}_hi") * frac
            ).alias(name)
        )
    return g.select(*out_cols)
