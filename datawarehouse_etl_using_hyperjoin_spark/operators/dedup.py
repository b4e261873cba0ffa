"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The LLM-corpus dedup family (BASELINE.json north_star), built entirely from
DataFrame primitives — explode/groupBy/join — so every stage is a plain
shuffle Catalyst can plan, and the quadratic all-pairs comparison is always
bounded by a blocking key (LSH band, bucket, or source) before any join.

Scale notes (100 TB):
- Signatures are one narrow shuffle keyed by (doc, seed): linear in corpus
  size, partial-aggregated map-side (min is algebraic).
- Candidate generation joins on band hash — the join explodes only within
  a band bucket; skewed buckets (boilerplate docs) are the known hazard and
  AQE skew-join splitting plus an optional bucket-size cap handle them.
- All hashing is md5 (deterministic across engines/runs); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ensure_compute_parallelism moved to .text in r14 (the text/lm/importance
# operators need it and this module already imports from text); re-exported
# here for its existing importers (bloom, corpus, tests).
from .text import ensure_compute_parallelism, normalize_text  # noqa: F401


def exact_dedup_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with the
    representative (minimum) id and duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (id, shingle).

    Documents shorter than k words contribute their whole text as the one
    shingle, so no document silently disappears from the signature stage.
    """
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        ),
    ).otherwise(F.array(F.trim(F.col(text_col))))
    return (
        df.select(F.col(id_col), F.explode(grams).alias("shingle"))
        .dropDuplicates([id_col, "shingle"])
    )


def shingle_array(text_col: str, k: int = 3):
    """Word k-gram shingles of a text column, as an array expression (no
    explode — stays one Tungsten value per row).

    NOTE: the tokenizing ``split`` sits INSIDE the transform lambda, and
    higher-order functions are interpreted (no codegen, no subexpression
    elimination), so the regex split re-runs once per shingle — fine for
    one-off use, ~3× the whole stage on a hot path.  Hot paths should use
    :func:`with_shingle_array`, which stages the token array as a named
    projection first."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    return F.when(
        F.size(w) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        ),
    ).otherwise(F.array(F.trim(F.col(text_col))))


def with_shingle_array(
    df: DataFrame, text_col: str, k: int = 3, out: str = "shingles"
) -> DataFrame:
    """``df`` plus a word-k-gram shingle array column ``out`` — same values
    as :func:`shingle_array`, but the token array is projected ONCE as a
    named column first.  Because the named array is referenced several
    times (two sizes + the slice in the lambda), CollapseProject keeps it
    in its own stage instead of re-inlining the regex split into the
    interpreted per-element lambda — measured 3.6 s → 1.1 s for the 8-gram
    arrays over the sf0.1 corpus (same CollapseProject lesson as the
    minhash ``__h32`` staging below and the r3 simhash rewrite)."""
    toks = df.withColumn(
        "__shingle_toks", F.split(F.trim(F.col(text_col)), r"\s+")
    )
    grams = F.when(
        F.size("__shingle_toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("__shingle_toks") - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice("__shingle_toks", i, k)),
        ),
    ).otherwise(F.array(F.trim(F.col(text_col))))
    return toks.withColumn(out, grams).drop("__shingle_toks")


# Universal-hash MinHash family: g_i(h) = (a_i·h + b_i) mod p over the
# 32-bit base hash h = first 8 hex chars of md5(shingle).  p is the largest
# prime < 2^32; a < 2^30 keeps a·h < 2^62 (no bigint overflow under ANSI
# arithmetic in either engine).  Constants generated once with seed 42.
MINHASH_P = 4294967291
MINHASH_PARAMS = (
    (686579304, 478163327),
    (26855093, 3184935163),
    (295310486, 1051802512),
    (239670712, 599310825),
    (790779947, 440213415),
    (726600540, 3181143731),
    (957970517, 2342331444),
    (93349857, 2536146025),
    (453035111, 136505587),
    (31994524, 402418010),
    (234760739, 999270936),
    (542621109, 2585650756),
    (28492781, 2410529190),
    (213500299, 3075280817),
    (697808099, 3012167820),
    (585126462, 1801823908),
)


def minhash_params(n_hashes: int, seed: int = 42) -> tuple[tuple[int, int], ...]:
    """Universal-hash constants for ``n_hashes`` signature functions.

    The first 16 come from the frozen table above (the declared-query
    oracle SQL embeds those constants — never regenerate them); beyond 16
    the family extends deterministically from ``seed``, so any (bands ×
    rows_per_band) combination is available for tuning sweeps while every
    run of the same configuration is reproducible.
    """
    if n_hashes <= len(MINHASH_PARAMS):
        return MINHASH_PARAMS[:n_hashes]
    import random

    rng = random.Random(f"minhash:{seed}:{len(MINHASH_PARAMS)}")
    extra = tuple(
        (rng.randrange(1, 1 << 30), rng.randrange(0, 1 << 32))
        for _ in range(n_hashes - len(MINHASH_PARAMS))
    )
    return MINHASH_PARAMS + extra


def lsh_candidate_probability(s: float, n_bands: int, rows_per_band: int) -> float:
    """P(candidate | Jaccard = s) for banded MinHash LSH: 1 − (1 − s^r)^b.

    The standard S-curve (Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* §3.4.2) — the tuning contract the sweep test verifies
    empirically.
    """
    return 1.0 - (1.0 - s**rows_per_band) ** n_bands


def lsh_threshold(n_bands: int, rows_per_band: int) -> float:
    """Approximate similarity threshold of a banding: (1/b)^(1/r) — the
    inflection point of the S-curve.  Pick (b, r) so the threshold sits
    just below the near-dup similarity you want to catch; more bands →
    lower threshold, higher recall, more candidate pairs to verify."""
    return (1.0 / n_bands) ** (1.0 / rows_per_band)


def minhash_array(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash signatures computed entirely array-side: (id, minhashes).

    Each shingle is md5-hashed ONCE; the n signature hashes are derived by
    integer universal hashing (a_i·h + b_i mod p) — the textbook MinHash
    permutation family, and ~n× cheaper than hashing per (seed, shingle).
    min over the shingle *multiset* equals min over the set, so no dedup
    pass is needed, and the whole signature is two narrow projections —
    zero shuffles, zero row blowup (the explode+groupBy formulation
    shuffled n_hashes × n_shingles rows/doc).

    The base-hash projection is compute-bound, so parallelism must come
    from partition count, not data size — a small text corpus arrives in
    few scan splits and would otherwise pin the stage to a couple of
    cores.  ``parallelism`` (default: the cluster's defaultParallelism)
    repartitions first; same decouple-compute-from-scan-splits pattern as
    the multimodal decode stage.
    """
    params = minhash_params(n_hashes)
    df = ensure_compute_parallelism(df, parallelism)
    # staged shingles: the regex split must not re-run per shingle inside
    # the interpreted lambda (see with_shingle_array)
    staged = with_shingle_array(df, text_col, k, out="__grams")
    base = F.transform(
        F.col("__grams"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )
    # Separate projection for the md5 pass: the signature refers to it 16×,
    # and CollapseProject keeps multiply-referenced non-trivial aliases in
    # their own stage, so the md5 work runs once per row.
    hashed = staged.select(F.col(id_col), base.alias("__h32"))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("__h32"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P),
                )
            )
            for a, b in params
        ]
    )
    return hashed.select(F.col(id_col), sig.alias("minhashes"))


def minhash_signatures(
    sh: DataFrame, id_col: str, n_hashes: int = 16
) -> DataFrame:
    """MinHash signature rows: (id, seed, minhash) for seed ∈ [0, n_hashes).

    Row-per-seed formulation over exploded shingles — same hash family and
    values as :func:`minhash_array` (kept for composition with
    shingle-level pipelines and as the cross-check in tests; prefer the
    array form, which needs no shuffle).
    """
    params = sh.sparkSession.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(minhash_params(n_hashes))],
        ["seed", "a", "b"],
    )
    return (
        sh.withColumn(
            "h", F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
        )
        .crossJoin(F.broadcast(params))
        .withColumn("g", (F.col("a") * F.col("h") + F.col("b")) % F.lit(MINHASH_P))
        .groupBy(id_col, "seed")
        .agg(F.min("g").alias("minhash"))
    )


def minhash_signature_string(sig: DataFrame, id_col: str) -> DataFrame:
    """Collapse signature rows to one ordered string per doc (seed order,
    first 8 hex chars per hash): (id, signature)."""
    return sig.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                lambda s: F.substring(s["minhash"], 1, 8),
            ),
            ":",
        ).alias("signature")
    )


def lsh_bands_from_array(
    sig: DataFrame, id_col: str, n_hashes: int = 16, n_bands: int = 4
) -> DataFrame:
    """Band the array-form signature: (id, band, band_hash) — n_bands rows
    per doc (vs n_hashes × n_shingles in the exploded formulation)."""
    rpb = n_hashes // n_bands
    band = F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band")
    return sig.select(F.col(id_col), band, F.col("minhashes")).select(
        F.col(id_col),
        "band",
        F.md5(
            F.array_join(
                F.transform(
                    F.slice("minhashes", F.col("band") * rpb + 1, rpb),
                    lambda h: h.cast("string"),
                ),
                "|",
            )
        ).alias("band_hash"),
    )


def lsh_band_hashes(
    sig: DataFrame, id_col: str, n_hashes: int = 16, n_bands: int = 4
) -> DataFrame:
    """Band the signature rows: (id, band, band_hash).

    band = seed div rows_per_band; band_hash = md5 of the ordered minhashes
    in the band.  Docs sharing any band_hash are LSH candidates.
    """
    rows_per_band = n_hashes // n_bands
    return (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                        lambda s: s["minhash"],
                    ),
                    "|",
                )
            ).alias("band_hash")
        )
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, max_bucket: int = 1000
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b, n_shared_bands) from the band
    table, via bucket grouping + array-side pair generation.

    One shuffle (groupBy band bucket), then pairs are enumerated inside
    each bucket's collected id array — the upstream signature plan is
    evaluated ONCE (a self-join would evaluate it per join side and re-run
    the md5 work twice).  ``max_bucket`` caps pathological buckets
    (boilerplate-heavy corpora): members beyond the cap are near-identical
    anyway, and an uncapped bucket is quadratic — the documented 100 TB
    skew guard (SCALE.md).
    """
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.size("ids")),
                        lambda j: F.struct(
                            F.element_at("ids", i).alias("id_a"),
                            F.element_at("ids", j).alias("id_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )


def lsh_incremental_pairs(
    new_bands: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs for an INCREMENTAL dedup batch: a new document batch
    against an already-indexed corpus, plus pairs within the new batch.

    The 100 TB workflow: the historical corpus's band table (id, band,
    band_hash — from :func:`lsh_bands_from_array`) is persisted once as the
    dedup *index*, bucketed by ``band_hash`` at rest (:func:`write_lsh_index`
    / :func:`read_lsh_index` — the index-side groupBy below then plans with
    no exchange); each
    incoming batch computes only its own signatures (linear in batch size)
    and equi-joins the index on (band, band_hash) — never re-reading, let
    alone re-hashing, the 100 TB corpus.  Output: (id_a, id_b,
    n_shared_bands, pair_type) where pair_type ∈ {'new_vs_index',
    'new_vs_new'}; for new_vs_index pairs id_a is the index doc.

    Skew guard: index buckets are collected to capped arrays first
    (``max_bucket``, same rationale as :func:`lsh_candidate_pairs`), so a
    boilerplate band bucket costs O(cap) per new doc, not O(bucket).

    The remaining linear term (measured, SCALE.md r5) is ONE exchange-free
    columnar scan of the index per call — shuffle tracks the batch, not
    the corpus.  When ingest cadence makes that scan dominant, amortize
    it: union several ingest batches' bands into one ``new_bands`` and
    dedup them against the index in a single call (within-batch pairs are
    still found — ``new_vs_new`` covers the union).
    """
    index_buckets = (
        index_bands.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("__index_ids"))
        .filter(F.size("__index_ids") <= max_bucket)
    )
    cross = (
        new_bands.join(index_buckets, on=["band", "band_hash"], how="inner")
        .select(
            F.explode("__index_ids").alias("id_a"),
            F.col(id_col).alias("id_b"),
        )
        # a doc present in both the index and the batch (re-ingest /
        # backfill overlap) would otherwise emit a self-pair, and a
        # min-id survivor rule downstream would delete it as its own dup
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
        .withColumn("pair_type", F.lit("new_vs_index"))
    )
    within = lsh_candidate_pairs(new_bands, id_col, max_bucket).withColumn(
        "pair_type", F.lit("new_vs_new")
    )
    return cross.unionByName(within)


def lsh_ingest_pairs(
    batches: "list[DataFrame]",
    index_bands: DataFrame,
    id_col: str,
    max_bucket: int = 1000,
) -> DataFrame:
    """Amortized multi-batch ingest dedup: candidate pairs for SEVERAL
    ingest batches against the persisted index in ONE index scan.

    :func:`lsh_incremental_pairs` pays one exchange-free columnar scan of
    the at-rest index per call — the measured linear term of incremental
    dedup (SCALE.md).  When batches arrive faster than that scan
    amortizes (micro-batch cadence over a huge index), union K batches'
    band tables and dedup them together: the index is scanned ONCE for
    all K, while the per-batch signature work is unchanged (it was
    already linear in each batch).

    Pair-set equivalence to sequential ingest (append index after each
    batch) holds by construction and is pinned in
    tests/test_corpus.py: a cross-batch pair (doc in batch i, doc in
    batch j>i) that sequential ingest reports as new_vs_index is reported
    here as new_vs_new — same canonical (id_a, id_b) set, labels differ
    only for pairs spanning batches inside the window.
    """
    new_bands = batches[0]
    for b in batches[1:]:
        new_bands = new_bands.unionByName(b)
    return lsh_incremental_pairs(new_bands, index_bands, id_col, max_bucket)


def write_lsh_index(
    bands: DataFrame,
    table: str,
    *,
    n_buckets: int = 32,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Persist a band table (id, band, band_hash) as the at-rest LSH dedup
    index: a catalog table BUCKETED BY ``band_hash``.

    This is the layout :func:`lsh_incremental_pairs` assumes: the index's
    groupBy(band, band_hash) bucket-collection runs EXCHANGE-FREE off the
    bucketed scan (``HashPartitioning(band_hash)`` already clusters every
    (band, band_hash) group into one partition), so each incoming batch
    pays only its own shuffle — the 100 TB corpus index is never
    re-shuffled, batch after batch.  Append new batches' bands with
    ``mode='append'`` (bucketing is preserved per-file).
    """
    from ..sources.files import write_bucketed

    write_bucketed(
        bands, table, "band_hash", n_buckets=n_buckets, sort=True, mode=mode,
        partition_by=partition_by,
    )


def upsert_lsh_index_batch(
    bands: DataFrame, table: str, batch_id: int, *, n_buckets: int = 32
) -> None:
    """EXACTLY-ONCE batch append to the at-rest LSH index: the index
    table is additionally PARTITIONED BY ``ingest_batch`` (bucketing by
    ``band_hash`` is table-level, so the exchange-free incremental scan
    is unchanged — spike-verified), and each batch lands via dynamic
    partition overwrite: a foreachBatch replay REPLACES its own
    partition instead of appending duplicate bands.  First batch creates
    the table."""
    tagged = bands.withColumn("ingest_batch", F.lit(int(batch_id)))
    spark = bands.sparkSession
    if not spark.catalog.tableExists(table):
        from ..sources.files import write_bucketed

        write_bucketed(
            tagged, table, "band_hash", n_buckets=n_buckets, sort=True,
            mode="overwrite", partition_by=["ingest_batch"],
        )
        return
    cols = spark.table(table).columns
    if "ingest_batch" not in cols:
        raise ValueError(
            f"LSH index table {table!r} predates the exactly-once layout "
            "(no ingest_batch partition column) — rebuild it via "
            "write_lsh_index(..., partition_by=['ingest_batch']) or start "
            "a fresh table"
        )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        # insertInto is position-based: align to the table's column order
        tagged.select(*cols).write.mode("overwrite").insertInto(table)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_lsh_index(spark, table: str) -> DataFrame:
    """Read the persisted LSH index written by :func:`write_lsh_index` —
    the ``index_bands`` side of :func:`lsh_incremental_pairs`."""
    return spark.table(table)


def _bucket_spec(spark, table: str) -> tuple[int, list[str]]:
    """(n_buckets, bucket columns) from the catalog, via DESCRIBE
    FORMATTED — the spec a same-layout rewrite must reproduce."""
    n, cols = 0, []
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if r.col_name == "Num Buckets":
            n = int(r.data_type)
        elif r.col_name == "Bucket Columns":
            cols = [
                c.strip(" `") for c in r.data_type.strip("[]").split(",")
            ]
    if not n or not cols:
        raise ValueError(f"table {table!r} is not bucketed")
    return n, cols


def compact_lsh_index(
    spark, table: str, *, keep_last: int = 2
) -> dict[str, int]:
    """Maintenance pass for the at-rest LSH index — the bucketed-table
    sibling of ``compact_ivf_index``: every
    :func:`upsert_lsh_index_batch` lands ``n_buckets`` files in its own
    ``ingest_batch`` partition, so after B batches the table is B×32
    files and each per-batch incremental scan pays open/footer/listing
    per file — O(stream age) per batch, the same quadratic-lifetime
    shape the quarantine _hwm read had before r9.

    Merges every batch partition EXCEPT the newest ``keep_last`` into
    one partition (carrying the largest merged batch id), rewriting
    with the table's own bucket spec read from the catalog — the
    exchange-free incremental-join property survives.  ``keep_last``
    exists for the replay contract: a recovered ``foreachBatch`` replay
    overwrites its own partition, and only not-yet-committed batches
    can replay, so merging COMMITTED history is safe while the newest
    partitions stay replayable verbatim.  Swap is staging-table →
    two catalog renames (same discipline as compact_table's dir swap):
    a crash before the first rename leaves the live table untouched;
    between renames the NAME is briefly absent (re-run the rename to
    recover), and a crash after the renames but before the partition
    re-discovery leaves the table reading EMPTY until ``MSCK REPAIR
    TABLE`` is re-run (files intact) — run it from the maintenance
    schedule, not the hot path.

    Returns {"files_before", "files_after", "batches_before",
    "batches_after"}; no-op (zeros changed) when fewer than two
    partitions are old enough to merge."""
    t = spark.table(table)
    files_before = len(t.inputFiles())
    batches = sorted(
        int(r[0]) for r in t.select("ingest_batch").distinct().collect()
    )
    old = batches[: len(batches) - keep_last] if keep_last > 0 else batches
    out = {
        "files_before": files_before,
        "batches_before": len(batches),
    }
    if len(old) < 2:
        return {**out, "files_after": files_before,
                "batches_after": len(batches)}
    n_buckets, bucket_cols = _bucket_spec(spark, table)
    epoch = max(old)
    merged = t.where(F.col("ingest_batch").isin(old)).withColumn(
        "ingest_batch", F.lit(int(epoch))
    )
    frame = merged.unionByName(
        t.where(~F.col("ingest_batch").isin(old))
    )
    from ..sources.files import write_bucketed

    staging = f"{table}__compacting"
    backup = f"{table}__old"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    # row count the rewrite must preserve (compaction only relabels
    # ingest_batch — it never drops or dedups rows); parquet count()
    # reads footers only
    expected = t.count()
    write_bucketed(
        frame, staging, bucket_cols, n_buckets=n_buckets, sort=True,
        mode="overwrite", partition_by=["ingest_batch"],
    )
    # validate the rewrite BEFORE touching the live table: a
    # silently-short staging write (lost task output, partial commit)
    # must abort while the live table is still untouched
    got = spark.table(staging).count()
    if got != expected:
        spark.sql(f"DROP TABLE {staging}")
        raise RuntimeError(
            f"compact_lsh_index: staging rewrite of {table!r} holds {got} "
            f"rows, expected {expected} — aborted before the swap, live "
            "table untouched"
        )
    spark.sql(f"ALTER TABLE {table} RENAME TO {backup}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
    # managed-table RENAME moves the data dir but orphans the catalog's
    # per-partition locations (they still point at the old path) —
    # re-discover them or the renamed table reads as EMPTY
    spark.sql(f"MSCK REPAIR TABLE {table}")
    # re-validate AFTER the swap and BEFORE dropping the backup — the
    # backup is the only remaining handle to the old data, so a
    # post-swap shortfall (bad MSCK, damaged move) rolls back instead
    got = spark.table(table).count()
    if got != expected:
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {backup} RENAME TO {table}")
        spark.sql(f"MSCK REPAIR TABLE {table}")
        raise RuntimeError(
            f"compact_lsh_index: post-swap table {table!r} reads {got} "
            f"rows, expected {expected} — rolled back to the pre-compaction "
            "table"
        )
    spark.sql(f"DROP TABLE {backup}")
    after = spark.table(table)
    return {
        **out,
        "files_after": len(after.inputFiles()),
        "batches_after": after.select("ingest_batch").distinct().count(),
    }


_HEX = "0123456789abcdef"


def simhash64(
    df: DataFrame, id_col: str, text_col: str, parallelism: int | None = None
) -> DataFrame:
    """64-bit SimHash per document, as a 64-char bitstring: (id, simhash).

    Each distinct word votes its md5's first 64 bits (16 hex nibbles ×
    4 bits); the per-position vote sign is the fingerprint bit.  Bitstring
    output keeps the value engine-portable (no int64 sign issues).

    Computed array-side: distinct words and their md5s once per row, then
    the 64 position votes fold over the hash array — two projections, zero
    shuffles (the explode formulation shuffled 64 × n_words rows per doc).
    Compute-bound → repartition first, as in :func:`minhash_array`.
    """
    df = ensure_compute_parallelism(df, parallelism)
    words = F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
    hashed = df.select(
        F.col(id_col), F.transform(words, F.md5).alias("__whs")
    )
    # One pass over the words: each hash's 16 hex nibbles decode to ints
    # ONCE (16 string probes per word — not one per output bit), and a
    # single aggregate folds the 64-int vote vector (vote(pos) = Σ_words
    # (2·bit − 1); fingerprint bit = sign).  Everything lives in one
    # expression on purpose: an alias referenced inside a per-position
    # lambda would be inlined by CollapseProject and re-evaluated 64× —
    # the exact trap the per-position formulation fell into.  Bit values
    # are unchanged vs the oracle's per-position form.
    sim = F.expr(
        "array_join("
        " transform("
        "   aggregate("
        f"    transform(__whs, h -> transform(sequence(1, 16), i ->"
        f"      instr('{_HEX}', substring(h, i, 1)) - 1)),"
        "     array_repeat(0, 64),"
        "     (acc, nibs) -> zip_with(acc, sequence(0, 63), (a, pos) ->"
        "       a + 2 * (CAST((nibs[CAST(pos / 4 AS INT)]"
        "              >> CAST(pos % 4 AS INT)) AS INT) & 1) - 1)"
        "   ),"
        "   v -> case when v > 0 then '1' else '0' end"
        " ), '')"
    )
    return hashed.select(F.col(id_col), sim.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    k: int = 3,
) -> DataFrame:
    """n-gram Jaccard similarity for all pairs sharing ``block_col``.

    The blocking key bounds the quadratic work (at 100 TB you never
    compare shingles unblocked); output: (id_a, id_b, n_common, jaccard).

    Shape: per-(block, shingle) buckets are grouped once and pairs are
    enumerated array-side inside each bucket — a shingle self-join would
    evaluate the exploded-shingle plan once per join leg.  Each doc's
    shingle count rides ALONG the exploded rows into the bucket structs
    (r15): the union-size denominator is then already present on every
    enumerated pair, so the shingle array is computed once per doc
    (r14's separate ``sizes`` projection re-ran the split + k-gram
    transform for a second full pass) and the two per-side count joins
    disappear outright — jaccard needs zero joins.
    """
    df = ensure_compute_parallelism(df)  # compute-bound: need > scan splits
    staged = with_shingle_array(df, text_col, k, out="__grams").withColumn(
        "__dist", F.array_distinct("__grams")
    )
    sh = staged.select(
        F.col(id_col),
        F.col(block_col),
        F.size("__dist").cast("long").alias("__n"),
        F.explode("__dist").alias("shingle"),
    )
    # collect_set of (id, n) structs: n is a function of id, so set
    # cardinality and the id-major sort order match the id-only form
    buckets = (
        sh.groupBy(block_col, "shingle")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col(id_col).alias("i"), F.col("__n").alias("n")))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )
    pair = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.size("ids") - 1),
                    lambda i: F.transform(
                        F.sequence(i + 1, F.size("ids")),
                        lambda j: F.struct(
                            F.element_at("ids", i)["i"].alias("id_a"),
                            F.element_at("ids", i)["n"].alias("n_a"),
                            F.element_at("ids", j)["i"].alias("id_b"),
                            F.element_at("ids", j)["n"].alias("n_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    # n_a/n_b are functionally determined by id_a/id_b — grouping on all
    # four keeps one aggregate and no first()/join.  A duplicated id can
    # sit in one bucket twice (once per distinct shingle count), which
    # would enumerate an id_a == id_b self-pair; drop those.
    return (
        pair.select("p.id_a", "p.n_a", "p.id_b", "p.n_b")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "n_a", "id_b", "n_b")
        .agg(F.count("*").cast("long").alias("n_common"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def passage_windows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 30,
    stride: int = 1,
) -> DataFrame:
    """Token windows for passage-level dedup: (id, start, passage_hash) —
    a ``window``-word md5 every ``stride`` tokens (plus one tail window
    ending at the last token, so trailing text is always covered).

    ``stride=1`` (default) carries the exact-substring GUARANTEE: any
    ≥``window``-token string shared by two documents yields at least one
    identical window hash in both, wherever it sits.  ``stride > 1``
    cuts the hashing cost ``stride``× but two occurrences then match
    only if their positions agree modulo the stride — fine for
    fixed-offset templates, wrong for arbitrary repeats (the
    alignment-robust sparse alternative is winnowing, Schleimer et al.
    2003, which selects the min hash per window of hashes).

    Token grain, one explode — linear in corpus tokens, no shuffle; the
    window hash is computed array-side from the doc's token array (no
    self-join of token rows).  Per-window md5 hashing is compute-bound →
    repartition first (r14; no-op at scale), as in
    :func:`minhash_array`.
    """
    docs = ensure_compute_parallelism(docs)
    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    starts = F.when(
        F.col("__n") <= window, F.array(F.lit(0))
    ).otherwise(
        F.array_distinct(
            F.concat(
                F.sequence(
                    F.lit(0), F.col("__n") - window, F.lit(stride)
                ),
                F.array(F.col("__n") - window),  # tail coverage
            )
        )
    )
    return toks.select(
        F.col(id_col),
        F.explode(starts).alias("start"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        "start",
        F.md5(
            F.array_join(F.slice("__toks", F.col("start") + 1, window), " ")
        ).alias("passage_hash"),
    )


def repeated_passages(
    windows: DataFrame, id_col: str, *, min_docs: int = 2
) -> DataFrame:
    """Passages appearing in ≥ ``min_docs`` DISTINCT documents:
    (passage_hash, n_docs, n_occurrences, rep_id) — the cross-document
    boilerplate / license-block / template detector of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    windowed: their suffix-array exact-substring pass becomes one
    groupBy over window hashes, the shape Spark scales.

    One shuffle on passage_hash.  At 100 TB the output is a small
    relation (only passages that actually repeat across documents);
    persist it and strip against it incrementally like the LSH index.
    """
    return (
        windows.groupBy("passage_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("rep_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def write_passage_index(
    flagged: DataFrame, table: str, *, n_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist the flagged repeated-passage relation (passage_hash,
    n_docs, n_occurrences, rep_id) as the at-rest strip index, BUCKETED
    BY ``passage_hash`` — the steady-state form of passage dedup: the
    flagged set is built (and appended to) once per ingest epoch, and
    every subsequent strip pass joins straight against the persisted
    index instead of re-building + checkpointing the corpus-wide window
    relation (:func:`strip_repeated_passages` with ``flagged`` = the
    read-back table and ``windows=None`` — the pass then only hashes the
    documents it is actually stripping).  Measured steady-state walls in
    BENCH_NOTES.md r6.  Bucketing matters once the index outgrows the
    broadcast threshold: the probe-side join shuffles ONLY the window
    rows, never the index."""
    from ..sources.files import write_bucketed

    write_bucketed(
        flagged, table, "passage_hash", n_buckets=n_buckets, sort=True, mode=mode
    )


def strip_repeated_passages(
    docs: DataFrame,
    flagged: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 30,
    stride: int = 1,
    keep_first: bool = True,
    windows: DataFrame | None = None,
) -> DataFrame:
    """Remove flagged repeated passages from every document (or every
    document except the representative when ``keep_first``): tokens
    covered by any flagged window are dropped and the remaining tokens
    re-joined; a column ``n_stripped_tokens`` records how much was cut.

    Plan shape: recompute the doc's windows (linear), semi-join the
    (small) flagged relation, explode covered positions, per-doc
    collect_set, then one array filter over the token array — everything
    JVM-side, one broadcastable join + one narrow per-doc aggregate.

    ``windows``: pass the already-computed ``passage_windows`` relation to
    avoid re-hashing the corpus when the caller just derived ``flagged``
    from it — worthwhile when the window relation is materialized
    (checkpoint/persist/at rest); when it is a lazy plan, passing it
    merely inlines the same recompute.  INVARIANT (unverifiable here —
    provenance is the caller's): the relation MUST have been built by
    ``passage_windows`` over these ``docs`` with these exact ``window``
    and ``stride`` values.  ``window`` is still used to expand each
    matched start position into covered token positions, so a relation
    built with different parameters silently strips the wrong spans.
    A cheap schema guard below rejects obviously-wrong relations; it
    cannot detect a parameter mismatch.
    """
    if windows is not None:
        required = {"passage_hash", "start", id_col}
        missing = required - set(windows.columns)
        if missing:
            raise ValueError(
                f"windows relation lacks column(s) {sorted(missing)}; it must "
                f"come from passage_windows(docs, window={window}, stride={stride})"
            )
    win = (
        windows
        if windows is not None
        else passage_windows(docs, id_col, text_col, window=window, stride=stride)
    )
    hit = win.join(
        flagged.select("passage_hash", "rep_id"), "passage_hash", "inner"
    )
    if keep_first:
        hit = hit.filter(F.col(id_col) != F.col("rep_id"))
    covered = (
        hit.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + window - 1)
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__cut"))
    )
    toks = docs.withColumn(
        "__toks", F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    )
    joined = toks.join(covered, id_col, "left")
    kept = F.filter(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.when(
                F.col("__cut").isNull() | ~F.array_contains("__cut", i), t
            ),
        ),
        lambda t: t.isNotNull(),
    )
    return joined.select(
        *[c for c in docs.columns if c != text_col],
        F.array_join(kept, " ").alias(text_col),
        F.coalesce(F.size("__cut"), F.lit(0)).cast("long").alias(
            "n_stripped_tokens"
        ),
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    w: int = 12,
    positions: bool = True,
    hash_fn=None,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every k-gram, then keep only the MINIMUM hash of
    each window of ``w`` consecutive k-gram hashes.  Output: (id, pos,
    fingerprint) with positions of the selected k-grams —
    ``positions=False`` returns just (id, fingerprint), which halves the
    window-selection work (one slice per window instead of two; measured
    ~2× on the 100 K-doc probe) and is all detection-only callers like
    :func:`fingerprint_matches` need.

    Guarantee (theirs): any substring of at least ``w + k − 1`` tokens
    shared by two documents contributes at least one IDENTICAL
    fingerprint to both, at ANY offsets — the alignment robustness
    stride-1 :func:`passage_windows` buys with a dense output, delivered
    sparsely: expected fingerprint density is 2/(w+1), so the shuffle
    that finds cross-document repeats carries ~2/(w+1) of the rows the
    dense pass would (measured 470.9 MB → 32.0 MB at 100 K docs,
    SCALE.md).  Hashing cost is the same (every k-gram is hashed —
    locally, array-side, never shuffled); winnowing is purely a
    shuffle/at-rest-size optimization, the one that matters at 100 TB.

    All array-side: k-gram hashes and the per-window min selection
    happen inside each document's token array; `array_distinct` drops
    re-selections of the same position across adjacent windows.  On tied
    hashes the LEFTMOST minimum is selected (one native `array_position`
    call), not the paper's rightmost: with 64-bit hashes a tie is either
    identical k-grams (same selection wherever window contents match) or
    a ~2⁻⁶⁴ collision, and the flat expression matters — a per-element
    argmin fold here re-inlined an O(w) slice per element (O(w²) per
    window, outside codegen) and ran 26× slower (the r3 simhash
    CollapseProject lesson, re-learned; BENCH_NOTES).
    """
    # ``hash_fn``: Column→Column 64-bit hash of the joined k-gram string.
    # Default xxhash64 (native, fastest).  Pass an engine-portable hash
    # (e.g. md5-prefix → BIGINT) when the fingerprints must match another
    # engine's — xxhash64 exists only in Spark.
    if hash_fn is None:
        hash_fn = F.xxhash64
    # per-k-gram hashing + per-window min selection are compute-bound →
    # repartition first (r14; no-op at scale), as in minhash_array
    toks = ensure_compute_parallelism(docs).select(
        F.col(id_col),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    # k-gram hash at every start: 64-bit hash of the joined k tokens
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.col("__n") - k + 1)),
        lambda i: hash_fn(F.array_join(F.slice("__toks", i, k), " ")),
    )
    with_h = toks.withColumn("__h", hashes).withColumn("__m", F.size("__h"))
    starts = F.sequence(F.lit(1), F.greatest(F.lit(1), F.col("__m") - w + 1))
    if not positions:
        selected = F.array_distinct(
            F.transform(starts, lambda s: F.array_min(F.slice("__h", s, w)))
        )
        return (
            with_h.select(F.col(id_col), F.explode(selected).alias("fingerprint"))
            .distinct()
        )

    # leftmost-minimum with its position, via one native array_position
    # call per window (see docstring for why not a per-element argmin fold)
    def window_min(start):
        win = F.slice("__h", start, w)
        mn = F.array_min(win)
        return F.struct(
            (start + F.array_position(win, mn) - 1).cast("int").alias("pos"),
            mn.alias("fingerprint"),
        )

    selected = F.array_distinct(F.transform(starts, window_min))
    return (
        with_h.select(F.col(id_col), F.explode(selected).alias("s"))
        .select(
            F.col(id_col),
            F.col("s.pos").cast("int").alias("pos"),
            F.col("s.fingerprint").alias("fingerprint"),
        )
        .distinct()
    )


def fingerprint_matches(
    fingerprints: DataFrame, id_col: str, *, min_docs: int = 2
) -> DataFrame:
    """Fingerprints appearing in ≥ ``min_docs`` distinct documents —
    the sparse analogue of :func:`repeated_passages`: (fingerprint,
    n_docs, rep_id).  One shuffle over the WINNOWED rows only."""
    return (
        fingerprints.groupBy("fingerprint")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("rep_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def write_fingerprint_index(
    fingerprints: DataFrame, table: str, *, n_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist (id, fingerprint) rows as the at-rest repeat index,
    BUCKETED BY fingerprint — same layout contract as
    :func:`write_lsh_index`: the index-side groupBy in
    :func:`incremental_fingerprint_matches` plans exchange-free, so each
    ingest batch pays only its own shuffle.  Append new batches with
    ``mode='append'``."""
    from ..sources.files import write_bucketed

    write_bucketed(
        fingerprints, table, "fingerprint", n_buckets=n_buckets, sort=True, mode=mode
    )


def incremental_fingerprint_matches(
    new_fp: DataFrame, index_fp: DataFrame, id_col: str, *, max_bucket: int = 1000
) -> DataFrame:
    """Cross-document repeats for an INGEST BATCH against the persisted
    fingerprint index plus within the batch itself — the incremental
    form of :func:`fingerprint_matches`, mirroring
    :func:`lsh_incremental_pairs`: the corpus is never re-hashed, the
    index side groups exchange-free off the bucketed layout, and the
    only per-batch cost is the batch's own fingerprints plus one
    columnar index scan.

    Output: (fingerprint, n_docs, rep_id, match_type) with match_type ∈
    {'new_vs_index', 'new_vs_new'}; for index matches rep_id is the
    smallest INDEXED doc id and n_docs counts batch docs + capped index
    docs sharing the fingerprint.
    """
    idx = (
        index_fp.groupBy("fingerprint")
        .agg(
            F.countDistinct(id_col).alias("__idx_docs"),
            F.min(id_col).alias("__idx_rep"),
        )
        .filter(F.col("__idx_docs") <= max_bucket)
    )
    vs_index = (
        new_fp.join(idx, "fingerprint", "inner")
        .groupBy("fingerprint", "__idx_docs", "__idx_rep")
        .agg(F.countDistinct(id_col).alias("__new_docs"))
        .select(
            "fingerprint",
            (F.col("__idx_docs") + F.col("__new_docs")).alias("n_docs"),
            F.col("__idx_rep").alias("rep_id"),
            F.lit("new_vs_index").alias("match_type"),
        )
    )
    within = fingerprint_matches(new_fp, id_col).withColumn(
        "match_type", F.lit("new_vs_new")
    )
    return vs_index.unionByName(within.select(
        "fingerprint", "n_docs", "rep_id", "match_type"
    ))


# ----------------------------------------------------------- line-level dedup
def segment_fixed_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    words_per_line: int = 10,
) -> DataFrame:
    """Segment documents into fixed-width pseudo-lines of ``words_per_line``
    words → (id, pos, line).

    Real crawl text is split on newlines; the fixture corpus is
    single-line word soup, so a fixed word width stands in for the
    delimiter while exercising the identical downstream machinery.
    Array-side windowing (sequence + slice) then ONE explode — the
    tokenizer runs once per document, not once per line.
    """
    k = words_per_line
    # per-line slicing/joining is compute-bound → repartition first
    # (r14; no-op at scale)
    staged = ensure_compute_parallelism(df).select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks")
    )
    n_lines = F.ceil(F.size("__toks") / F.lit(float(k))).cast("long")
    lines = F.transform(
        F.sequence(F.lit(0).cast("long"), n_lines - 1),
        lambda ln: F.struct(
            ln.alias("pos"),
            F.concat_ws(" ", F.slice("__toks", ln * k + 1, k)).alias("line"),
        ),
    )
    return staged.select(F.col(id_col), F.explode(lines).alias("s")).select(
        id_col, "s.pos", "s.line"
    )


def rank_duplicate_lines(
    lines: DataFrame, id_col: str, pos_col: str = "pos", line_col: str = "line"
) -> DataFrame:
    """Rank every line within its corpus-wide content-hash group: rank 1 is
    the canonical first occurrence (ordered by (id, pos) — deterministic
    across runs and partitionings), rank > 1 is a duplicate.

    This is CCNet's paragraph-level dedup primitive (Wenzek et al. 2020,
    §3.1: duplicated paragraphs — headers, navigation, boilerplate — are
    removed corpus-wide before language ID).  ONE shuffle: a window
    partitioned by the md5 line hash; linear in total corpus lines at any
    scale, with no join and no second exchange.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("line_hash").orderBy(id_col, pos_col)
    return lines.withColumn("line_hash", F.md5(F.col(line_col))).withColumn(
        "dup_rank", F.row_number().over(w)
    )


def dedup_lines_in_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    words_per_line: int = 10,
    sep: str = " | ",
) -> DataFrame:
    """Corpus-wide line-level dedup with document reassembly: segment every
    document into lines, keep only each line's first corpus-wide
    occurrence, and rebuild the surviving text in original line order.

    Output: (id, n_lines, n_kept, text_dedup) for every document.

    Scale shape (the CCNet recipe at web scale): one explode (linear), one
    hash-partitioned window over line hashes (the only corpus-wide
    shuffle), one per-document regroup.  Reassembly sorts each document's
    own kept lines inside its row (``array_sort`` of (pos, line) structs —
    ``collect_list`` order is nondeterministic, the sort restores it), so
    no global ordering is ever required.
    """
    lines = segment_fixed_lines(
        docs, id_col, text_col, words_per_line=words_per_line
    )
    ranked = rank_duplicate_lines(lines, id_col)
    kept_struct = F.when(
        F.col("dup_rank") == 1, F.struct(F.col("pos"), F.col("line"))
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum((F.col("dup_rank") == 1).cast("long"))
            .cast("long")
            .alias("n_kept"),
            F.array_sort(F.collect_list(kept_struct)).alias("__kept"),
        )
        .select(
            id_col,
            "n_lines",
            "n_kept",
            F.concat_ws(
                sep, F.transform("__kept", lambda s: s.line)
            ).alias("text_dedup"),
        )
    )
