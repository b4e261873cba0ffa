"""Corpus-prep composition + incremental LSH dedup tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
    corpus_metrics,
    prepare_corpus,
    write_corpus,
)
from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
    lsh_bands_from_array,
    lsh_incremental_pairs,
    minhash_array,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table


def _docs_with_dups(spark, sf_dir):
    """documents ∪ exact copies (id+1e6) ∪ drop-one-word copies (id+2e6)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    exact = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    near = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


def test_prepare_corpus_removes_exact_and_near_dups(spark, sf_dir):
    corpus = _docs_with_dups(spark, sf_dir)
    prepared = prepare_corpus(corpus, min_quality=0.0, min_tokens=1)
    kept_ids = [r.doc_id for r in prepared.select("doc_id").collect()]
    # exact copies (id+1e6) always lose to their original (min-id survivor)
    assert not any(1_000_000 <= i < 2_000_000 for i in kept_ids)
    # near-dup copies (id+2e6) collide with their original in LSH → removed
    n_near_survivors = sum(1 for i in kept_ids if i >= 2_000_000)
    n_docs = prepared.sparkSession.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert n_near_survivors < 0.05 * n_docs  # near-total removal
    # originals overwhelmingly survive (the banding is probabilistic: a few
    # moderately-similar fixture docs share a band by chance and the min-id
    # survivor rule drops the larger one — that IS the thinning semantics)
    assert sum(1 for i in kept_ids if i < 1_000_000) >= 0.9 * n_docs


def test_prepare_corpus_quality_gate_and_split(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prepared = prepare_corpus(docs, min_quality=0.0, min_tokens=1, train_pct=90)
    splits = dict(
        prepared.groupBy("split").count().rdd.map(lambda r: (r["split"], r["count"])).collect()
    )
    total = sum(splits.values())
    assert set(splits) <= {"train", "eval"}
    assert 0.75 * total <= splits.get("train", 0) <= 0.98 * total
    # deterministic: same input → identical assignment
    again = prepare_corpus(docs, min_quality=0.0, min_tokens=1, train_pct=90)
    assert (
        prepared.select("doc_id", "split")
        .exceptAll(again.select("doc_id", "split"))
        .count()
        == 0
    )
    # gate actually filters: an impossible threshold keeps nothing
    assert prepare_corpus(docs, min_quality=2.0).count() == 0


def test_write_corpus_partitions_by_split(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prepared = prepare_corpus(docs, min_quality=0.0, min_tokens=1)
    out = str(tmp_path / "corpus")
    write_corpus(prepared, out)
    back = spark.read.parquet(out)
    assert back.count() == prepared.count()
    # partition pruning: the split filter lands in PartitionFilters (scan
    # prunes whole split directories, not rows)
    import os

    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    assert os.path.isdir(f"{out}/split=train")
    train = back.filter(F.col("split") == "train")
    plan = plan_string(train)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "split" in pf[0], plan


def test_lsh_incremental_pairs_new_vs_index_and_within(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    # index = the original corpus
    index_bands = lsh_bands_from_array(
        minhash_array(docs, "doc_id", "text"), "doc_id"
    )
    # new batch = near-dup of each indexed doc (id+1e6) plus an exact pair
    # existing only within the batch (id+2e6 / id+3e6 of the same text)
    near = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    batch_dup_a = docs.limit(5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    batch_dup_b = docs.limit(5).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    new = near.unionByName(batch_dup_a).unionByName(batch_dup_b)
    new_bands = lsh_bands_from_array(minhash_array(new, "doc_id", "text"), "doc_id")

    pairs = lsh_incremental_pairs(new_bands, index_bands, "doc_id")
    cross = pairs.filter(F.col("pair_type") == "new_vs_index")
    within = pairs.filter(F.col("pair_type") == "new_vs_new")

    # near-dups hit their indexed original: id_a (index side) < 1e6
    n_docs = docs.count()
    self_hits = cross.filter(
        F.col("id_b") - F.col("id_a") == 1_000_000
    ).count()
    assert self_hits >= 0.9 * n_docs  # drop-one-word → ≈ all collide
    assert cross.filter(F.col("id_a") >= 1_000_000).count() == 0
    # exact duplicates within the batch pair up with all 16 bands shared
    batch_pairs = within.filter(
        (F.col("id_a") >= 2_000_000) & (F.col("id_b") >= 3_000_000)
    ).collect()
    assert len(batch_pairs) == 5
    assert all(p.n_shared_bands == 4 for p in batch_pairs)


def test_lsh_incremental_pairs_excludes_self_pairs_on_reingest(spark, sf_dir):
    """A doc present in both the index and the batch (re-ingest/backfill
    overlap) must not pair with itself — a min-id survivor rule downstream
    would otherwise delete it as its own duplicate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    bands = lsh_bands_from_array(minhash_array(docs, "doc_id", "text"), "doc_id")
    pairs = lsh_incremental_pairs(bands, bands, "doc_id")
    assert pairs.filter(F.col("id_a") == F.col("id_b")).count() == 0


def test_corpus_metrics_is_single_projection_no_python(spark, sf_dir):
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = plan_string(corpus_metrics(docs), "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert plan.count("Exchange") == 0  # metrics add no shuffle


def test_contamination_check_flags_leaked_eval_docs(spark, sf_dir):
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        contamination_check,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # "benchmark" = 10 fixture docs; the corpus contains them verbatim
    bench = docs.filter(F.col("doc_id") < 10)
    report = contamination_check(docs, bench, k=8)
    rows = {r.doc_id: r for r in report.collect()}
    # every leaked doc is fully contaminated
    for i in range(10):
        assert i in rows and rows[i].contamination == 1.0
    # the report stays small: the fixture generator reuses sentences, so a
    # handful of other docs legitimately share 8-grams (the checker is
    # doing its job surfacing them), but the bulk of the corpus is clean
    n_docs = docs.count()
    assert len(rows) < 10 + 0.05 * n_docs


def test_contamination_check_partial_overlap(spark, sf_dir):
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        contamination_check,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    # corpus doc = first 30 words of an eval doc + its own tail
    half = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(w, 1, 30), F.array(F.lit("zzz_unique_tail_token"))
        ).alias("text"),
    )
    report = contamination_check(half, docs.filter(F.col("doc_id") < 5), k=8)
    rows = report.filter(F.col("doc_id") >= 500_000).collect()
    assert rows and all(0.5 < r.contamination < 1.0 for r in rows)


def test_scrub_pii_masks_and_counts(spark):
    from datawarehouse_etl_using_hyperjoin_spark.operators.text import (
        pii_hit_count,
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+x@example.org or +1 (415) 555-0173"),
            (2, "server 10.0.12.7 charged card 4111 1111 1111 1111 ok"),
            (3, "perfectly clean prose with no identifiers at all"),
        ],
        "id int, text string",
    )
    out = {r.id: r for r in df.select(
        "id", scrub_pii(F.col("text")).alias("clean"),
        pii_hit_count(F.col("text")).alias("hits"),
    ).collect()}
    assert "<EMAIL>" in out[1].clean and "<PHONE>" in out[1].clean
    assert "jane" not in out[1].clean and "555" not in out[1].clean
    assert "<IP>" in out[2].clean and "<CARD>" in out[2].clean
    assert "4111" not in out[2].clean
    assert out[3].clean == "perfectly clean prose with no identifiers at all"
    assert out[3].hits == 0 and out[1].hits >= 2 and out[2].hits >= 2


def test_prepare_corpus_transitive_mode(spark, sf_dir):
    corpus = _docs_with_dups(spark, sf_dir)
    kept = prepare_corpus(corpus, min_quality=0.0, min_tokens=1, transitive=True)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # same guarantee as the pairwise rule on this (monotone-id) corpus:
    # no exact copies survive, near-dups nearly all removed
    assert not any(1_000_000 <= i < 2_000_000 for i in ids)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(1 for i in ids if i >= 2_000_000) < 0.05 * n_docs


def test_write_corpus_caps_records_per_file(spark, sf_dir, tmp_path):
    import glob

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prepared = prepare_corpus(docs, min_quality=0.0, min_tokens=1).coalesce(1)
    out = str(tmp_path / "capped")
    write_corpus(prepared, out, max_records_per_file=50)
    files = glob.glob(f"{out}/split=*/*.parquet")
    assert len(files) > 1  # one task still produced multiple capped files
    for f in files:
        assert spark.read.parquet(f).count() <= 50


def test_persisted_lsh_index_reads_exchange_free_and_matches(spark, sf_dir):
    """write_lsh_index/read_lsh_index round trip: the persisted index is
    bucketed by band_hash, its bucket-collection groupBy plans with NO
    Exchange on the index side (the at-rest layout lsh_incremental_pairs
    documents), and the incremental pairs from the persisted index equal
    the in-memory path exactly."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        read_lsh_index,
        write_lsh_index,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    index_bands = lsh_bands_from_array(
        minhash_array(docs, "doc_id", "text"), "doc_id"
    )
    new = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    new_bands = lsh_bands_from_array(minhash_array(new, "doc_id", "text"), "doc_id")

    try:
        write_lsh_index(index_bands, "lsh_idx", n_buckets=8)
        idx = read_lsh_index(spark, "lsh_idx")

        # index-side bucket collection: bucketed scan feeds the groupBy
        # (band, band_hash) directly — zero shuffles on the corpus side
        buckets = idx.groupBy("band", "band_hash").agg(
            F.array_sort(F.collect_set("doc_id")).alias("ids")
        )
        plan = plan_string(buckets, "simple")
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan

        got = lsh_incremental_pairs(new_bands, idx, "doc_id")
        want = lsh_incremental_pairs(new_bands, index_bands, "doc_id")
        g = sorted((r.id_a, r.id_b, r.n_shared_bands, r.pair_type) for r in got.collect())
        x = sorted((r.id_a, r.id_b, r.n_shared_bands, r.pair_type) for r in want.collect())
        assert g == x and g
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx")


def test_persisted_lsh_index_append_batches(spark, sf_dir):
    """The incremental workflow appends each ingested batch's bands to the
    index (write_lsh_index mode='append'); the appended table still reads
    exchange-free and contains both batches' bands."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        read_lsh_index,
        write_lsh_index,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = lsh_bands_from_array(
        minhash_array(docs.filter(F.col("doc_id") < 250), "doc_id", "text"), "doc_id"
    )
    b2 = lsh_bands_from_array(
        minhash_array(docs.filter(F.col("doc_id") >= 250), "doc_id", "text"), "doc_id"
    )
    try:
        write_lsh_index(b1, "lsh_idx_app", n_buckets=4)
        write_lsh_index(b2, "lsh_idx_app", n_buckets=4, mode="append")
        idx = read_lsh_index(spark, "lsh_idx_app")
        assert idx.count() == b1.count() + b2.count()
        buckets = idx.groupBy("band", "band_hash").agg(
            F.count("*").alias("n")
        )
        plan = plan_string(buckets, "simple")
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_idx_app")


def test_incremental_lsh_full_plan_index_side_exchange_free(spark, sf_dir):
    """The COMPLETE lsh_incremental_pairs plan over the persisted bucketed
    index: the index side must contribute ZERO exchanges (its groupBy
    clusters off the bucketed scan), proven structurally — the same plan
    with the identical band table stored as plain parquet carries strictly
    more Exchange nodes, and the bucketed plan's exchange count equals the
    plain plan's minus the index-side aggregation exchange(s)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        read_lsh_index,
        write_lsh_index,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    index_bands = lsh_bands_from_array(
        minhash_array(docs, "doc_id", "text"), "doc_id"
    )
    new = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    new_bands = lsh_bands_from_array(
        minhash_array(new, "doc_id", "text"), "doc_id"
    ).persist()
    new_bands.count()

    import tempfile

    plain_path = tempfile.mkdtemp(prefix="lsh_plain_") + "/bands"
    try:
        write_lsh_index(index_bands, "lsh_idx_plan", n_buckets=8)
        idx = read_lsh_index(spark, "lsh_idx_plan")
        idx.write.mode("overwrite").parquet(plain_path)
        plain = spark.read.parquet(plain_path)

        bucketed_plan = plan_string(
            lsh_incremental_pairs(new_bands, idx, "doc_id"), "simple"
        )
        plain_plan = plan_string(
            lsh_incremental_pairs(new_bands, plain, "doc_id"), "simple"
        )
        assert "Bucketed: true" in bucketed_plan
        n_bucketed = bucketed_plan.count("Exchange")
        n_plain = plain_plan.count("Exchange")
        assert n_bucketed < n_plain, (bucketed_plan, plain_plan)
    finally:
        new_bands.unpersist()
        spark.sql("DROP TABLE IF EXISTS lsh_idx_plan")


def test_lsh_ingest_pairs_equals_sequential_ingest(spark, sf_dir):
    """Amortized multi-batch ingest (lsh_ingest_pairs: K batches, ONE
    index scan) finds exactly the canonical pair set that sequential
    per-batch ingest (pairs → append → pairs) finds; n_shared_bands — a
    property of the two signatures — matches pair for pair.  Only the
    label differs for pairs spanning batches inside the window
    (sequential: new_vs_index; amortized: new_vs_new)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_incremental_pairs,
        lsh_ingest_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim(F.col("text")), r"\s+")
    drop_first = F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1))

    base = docs.filter(F.col("doc_id") < 300)
    index0 = lsh_bands_from_array(minhash_array(base, "doc_id", "text"), "doc_id")
    # batch1: near-dups of base docs 0-99; batch2: near-dups of base docs
    # 50-149 — so batch2 collides with BOTH the index and batch1
    b1_docs = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), drop_first.alias("text")
    )
    b2_docs = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 150)).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), drop_first.alias("text")
    )
    b1 = lsh_bands_from_array(minhash_array(b1_docs, "doc_id", "text"), "doc_id")
    b2 = lsh_bands_from_array(minhash_array(b2_docs, "doc_id", "text"), "doc_id")

    def canon(rows):
        return sorted(
            (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.n_shared_bands)
            for r in rows
        )

    seq1 = lsh_incremental_pairs(b1, index0, "doc_id").collect()
    index1 = index0.unionByName(b1)
    seq2 = lsh_incremental_pairs(b2, index1, "doc_id").collect()
    sequential = canon(seq1 + seq2)

    amortized_rows = lsh_ingest_pairs([b1, b2], index0, "doc_id").collect()
    amortized = canon(amortized_rows)

    assert amortized == sequential and len(sequential) > 100
    # the window must actually contain cross-batch pairs for this test to
    # mean anything — and those carry the new_vs_new label in the
    # amortized result
    cross = [
        r
        for r in amortized_rows
        if min(r.id_a, r.id_b) >= 1_000_000 and max(r.id_a, r.id_b) >= 2_000_000
    ]
    assert cross and all(r.pair_type == "new_vs_new" for r in cross)


def test_prepare_corpus_repetition_gate(spark, sf_dir):
    """The Gopher repetition gate drops a planted crawler-trap doc and
    keeps the natural corpus, without any extra join in the plan."""
    from pyspark.sql import Row

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    trap = spark.createDataFrame(
        [Row(doc_id=9_900_000, text="buy now " * 40)]
    )
    corpus = docs.unionByName(trap)
    kept = prepare_corpus(
        corpus, min_quality=0.0, min_tokens=1, max_top_bigram_frac=0.4
    )
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 9_900_000 not in kept_ids
    # the gate is surgical: at most a handful of fixture docs trip it
    assert len(kept_ids) >= 0.9 * docs.count()
    # and it exposes the measured signal as a column
    assert "top_bigram_frac" in kept.columns


def test_prepare_corpus_perplexity_gate(spark, sf_dir):
    """The CCNet LM gate drops out-of-distribution garbage; a pretrained
    model can be supplied (the production persist-the-counts shape)."""
    from pyspark.sql import Row

    from datawarehouse_etl_using_hyperjoin_spark.operators.lm import (
        train_ngram_lm,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    garbage = spark.createDataFrame(
        [Row(doc_id=9_900_001, text="zxqv wkjh qpzm vbnx hjkl zzyx qwpo mnbv")]
    )
    corpus = docs.unionByName(garbage)
    # threshold picked from the in-distribution score band: fixture docs
    # score well under 200 against a model trained on themselves
    lm = train_ngram_lm(docs, "doc_id", "text")
    kept = prepare_corpus(
        corpus, min_quality=0.0, min_tokens=1, max_perplexity=200.0, lm=lm
    )
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 9_900_001 not in kept_ids
    assert len(kept_ids) >= 0.9 * docs.count()


def test_corpus_diff_statuses(spark):
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "Same   TEXT"),  # same after normalization -> unchanged
         (2, "did change"), (4, "brand new")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_prepare_corpus_hygiene_stages(spark):
    """scrub + corpus-wide line dedup + C4 gates compose inside the prep
    chain: PII masked, boilerplate lines removed corpus-wide, brace docs
    dropped — and the survivors still get metrics + split."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        prepare_corpus,
    )

    boiler = "subscribe to our newsletter now"  # 5 words = one line
    body_a = "the data of value and in it for on is the part merge row"
    body_b = "a filter of sort and in it for on is the scan batch key"
    body_c = "to group a window and on it in for is a vector hash join"
    rows = [
        (1, f"{boiler} {body_a}"),
        (2, f"{boiler} {body_b}"),                     # dup boilerplate line
        (3, f"mail me at bob@example.com {body_c}"),   # PII (distinct body —
        # sharing body_a would make it an LSH near-dup of doc 1 and thin it)
        (4, "code {" + f" {body_b}"),                  # C4 brace reject
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = prepare_corpus(
        docs,
        min_quality=0.0,
        min_tokens=3,
        scrub=True,
        line_dedup_words=5,
        c4=True,
        c4_opts={"min_words": 3, "max_words": 100},
    )
    kept = {r["doc_id"]: r for r in out.collect()}
    assert 4 not in kept                       # brace gate fired
    assert 1 in kept and "split" in out.columns
    # boilerplate survives only in its first holder
    assert boiler in kept[1]["text"]
    assert 2 in kept and boiler not in kept[2]["text"]
    assert "<EMAIL>" in kept[3]["text"] and "bob@" not in kept[3]["text"]


def test_compact_lsh_index_merges_history_and_keeps_bucketing(spark, sf_dir):
    """r9: the LSH-index maintenance pass — B upsert batches leave
    B x n_buckets files and per-batch incremental scans pay listing
    per file (O(stream age), the shape the quarantine _hwm fix killed).
    compact_lsh_index merges all but the newest keep_last batch
    partitions into one: (a) the band set is identical, (b) the bucket
    spec survives (index-side groupBy still plans exchange-free off the
    bucketed scan), (c) file count drops, (d) the kept partitions stay
    replayable verbatim (a re-upsert of a kept batch overwrites its own
    partition, no growth), and (e) a second pass is a no-op."""
    import uuid as _uuid

    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        compact_lsh_index,
        read_lsh_index,
        upsert_lsh_index_batch,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    table = f"lsh_cmp_{_uuid.uuid4().hex[:8]}"

    def bands_of(b):
        return lsh_bands_from_array(
            minhash_array(
                docs.filter(F.col("doc_id") % 5 == b), "doc_id", "text"
            ),
            "doc_id",
        )

    try:
        for b in range(5):
            upsert_lsh_index_batch(bands_of(b), table, b, n_buckets=4)
        idx = read_lsh_index(spark, table)
        want = {
            (r.doc_id, r.band, r.band_hash)
            for r in idx.select("doc_id", "band", "band_hash").collect()
        }
        stats = compact_lsh_index(spark, table, keep_last=2)
        assert stats["batches_before"] == 5
        assert stats["batches_after"] == 3  # merged {0,1,2} -> 2; kept 3,4
        assert stats["files_after"] < stats["files_before"]
        after = read_lsh_index(spark, table)
        got = {
            (r.doc_id, r.band, r.band_hash)
            for r in after.select("doc_id", "band", "band_hash").collect()
        }
        assert got == want
        assert {
            int(r[0]) for r in after.select("ingest_batch").distinct().collect()
        } == {2, 3, 4}
        # bucket spec survived: exchange-free index-side aggregation
        plan = plan_string(
            after.groupBy("band", "band_hash").agg(F.count("*").alias("n")),
            "simple",
        )
        assert "Exchange" not in plan and "Bucketed: true" in plan, plan
        # kept batches stay replayable verbatim: idempotent re-upsert
        n = after.count()
        upsert_lsh_index_batch(bands_of(4), table, 4, n_buckets=4)
        assert read_lsh_index(spark, table).count() == n
        # second pass: only one old-enough partition -> no-op
        again = compact_lsh_index(spark, table, keep_last=2)
        assert again["batches_after"] == again["batches_before"] == 3
        assert again["files_after"] == again["files_before"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compacting")
        spark.sql(f"DROP TABLE IF EXISTS {table}__old")


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_compact_corpus_merges_old_batches(spark, sf_dir, tmp_path):
    """r9: the corpus-dir member of the at-rest maintenance triad —
    merge all-but-newest ingest_batch partitions: doc set identical,
    partition count drops, the ingest sink's layout guard still accepts
    the dir, and a subsequent streamed batch keeps ingesting."""
    import uuid as _uuid

    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        compact_corpus,
        make_corpus_ingest_sink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path / "corpus")
    idx = f"cc_idx_{_uuid.uuid4().hex[:8]}"
    sink = make_corpus_ingest_sink(out, idx, min_quality=0.0, min_tokens=1)
    try:
        for b in range(4):
            sink(docs.filter(F.col("doc_id") % 4 == b), b)
        before = spark.read.parquet(out)
        want_ids = {r.doc_id for r in before.select("doc_id").collect()}
        n_rows = before.count()
        stats = compact_corpus(spark, out, keep_last=2)
        assert stats["rows"] == n_rows
        after = spark.read.parquet(out)
        assert {r.doc_id for r in after.select("doc_id").collect()} == want_ids
        assert {
            int(r[0]) for r in after.select("ingest_batch").distinct().collect()
        } == {1, 2, 3}
        # the sink's layout guard still accepts the compacted dir and a
        # new batch ingests (fresh sink instance: the guard memoizes)
        sink2 = make_corpus_ingest_sink(out, idx, min_quality=0.0, min_tokens=1)
        # genuinely novel text (hash words) — a shared-prefix variant of
        # an ingested doc would be near-dup-stripped against the index
        extra = docs.filter(F.col("doc_id") < 3).select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.concat_ws(
                " ",
                *[F.md5(F.concat(F.col("doc_id").cast("string"),
                                 F.lit(f"_{i}")))
                  for i in range(8)],
            ).alias("text"),
        )
        sink2(extra, 4)
        assert spark.read.parquet(out).filter(
            F.col("ingest_batch") == 4
        ).count() > 0
        # second pass with nothing old enough: no-op
        again = compact_corpus(spark, out, keep_last=4)
        assert again["files_after"] == again["files_before"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_compact_lsh_index_aborts_on_short_rewrite(spark, sf_dir, monkeypatch):
    """r10 (ADVICE): a silently-short staging rewrite must ABORT BEFORE
    the catalog swap — the backup drop used to be the only thing between
    a lost-task shortfall and destroying the sole handle to the old
    data.  Simulate the shortfall by patching write_bucketed to drop a
    row; the live table must come through untouched."""
    import uuid as _uuid

    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        compact_lsh_index,
        read_lsh_index,
        upsert_lsh_index_batch,
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources import files as files_mod

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    table = f"lsh_short_{_uuid.uuid4().hex[:8]}"

    try:
        for b in range(4):
            upsert_lsh_index_batch(
                lsh_bands_from_array(
                    minhash_array(
                        docs.filter(F.col("doc_id") % 4 == b), "doc_id", "text"
                    ),
                    "doc_id",
                ),
                table,
                b,
                n_buckets=4,
            )
        before = {
            (r.doc_id, r.band, r.band_hash, r.ingest_batch)
            for r in read_lsh_index(spark, table).collect()
        }

        real = files_mod.write_bucketed

        def short_write(frame, *args, **kwargs):
            return real(frame.limit(frame.count() - 1), *args, **kwargs)

        monkeypatch.setattr(files_mod, "write_bucketed", short_write)
        with pytest.raises(RuntimeError, match="live table untouched"):
            compact_lsh_index(spark, table, keep_last=2)
        monkeypatch.undo()

        after = {
            (r.doc_id, r.band, r.band_hash, r.ingest_batch)
            for r in read_lsh_index(spark, table).collect()
        }
        assert after == before  # live table byte-for-byte semantics intact
        # and the aborted staging table is gone
        assert not spark.catalog.tableExists(f"{table}__compacting")
        # a clean retry then succeeds
        stats = compact_lsh_index(spark, table, keep_last=2)
        assert stats["batches_after"] < stats["batches_before"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        spark.sql(f"DROP TABLE IF EXISTS {table}__compacting")
        spark.sql(f"DROP TABLE IF EXISTS {table}__old")


def test_corpus_sink_id_uniqueness_within_and_across_batches(spark, tmp_path):
    """r10 fix: the corpus's id-uniqueness invariant.  (a) An id re-sent
    in a LATER batch previously slipped past the near-dup probe (its
    band match is a self-pair, which the survivor rule filters) and
    landed twice; it must be dropped against the index — first write
    wins.  (b) Duplicate id rows WITHIN a batch keep exactly one
    deterministic survivor.  (c) Replay of a batch still converges
    (the id guard reads the index EXCLUDING the batch's own
    partition)."""
    import uuid as _uuid

    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    out = str(tmp_path / "corpus")
    idx = f"uniq_idx_{_uuid.uuid4().hex[:8]}"
    sink = make_corpus_ingest_sink(out, idx, min_quality=0.0, min_tokens=1)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    try:
        sink(docs([(1, "alpha beta gamma delta epsilon zeta"),
                   (2, "one two three four five six"),
                   # (b) duplicate id within the batch
                   (2, "one two three four five six")]), 0)
        got = sorted(
            (r.doc_id, r.ingest_batch)
            for r in spark.read.parquet(out).select("doc_id", "ingest_batch").collect()
        )
        assert got == [(1, 0), (2, 0)]

        # (a) same id re-sent in a later batch (same text AND changed
        # text): both dropped — the index is the id authority
        sink(docs([(1, "alpha beta gamma delta epsilon zeta"),
                   (2, "totally different words now appear here"),
                   (3, "seven eight nine ten eleven twelve")]), 1)
        got = sorted(
            (r.doc_id, r.ingest_batch)
            for r in spark.read.parquet(out).select("doc_id", "ingest_batch").collect()
        )
        assert got == [(1, 0), (2, 0), (3, 1)]

        # (c) replay batch 1: converges, id 3 not self-dropped
        sink(docs([(1, "alpha beta gamma delta epsilon zeta"),
                   (2, "totally different words now appear here"),
                   (3, "seven eight nine ten eleven twelve")]), 1)
        got2 = sorted(
            (r.doc_id, r.ingest_batch)
            for r in spark.read.parquet(out).select("doc_id", "ingest_batch").collect()
        )
        assert got2 == got
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_corpus_layout_guard_connect_fallback(spark, tmp_path, monkeypatch):
    """r11 (ADVICE): under Spark Connect (list_visible -> None) the
    corpus batch-dir guard used to silently no-op, so a pre-r7 flat corpus
    dir could be mixed with ingest_batch=N partitions — exactly the
    misread the guard exists to fail loudly on.  The Connect fallback
    schema-probes the dir instead: a flat layout (no ingest_batch
    column) raises before the first write; a fresh dir and a proper
    partitioned dir both pass."""
    import uuid as _uuid

    import pytest

    from datawarehouse_etl_using_hyperjoin_spark import fsutil
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    monkeypatch.setattr(fsutil, "list_visible", lambda s, p: None)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    batch = docs([(1, "alpha beta gamma delta epsilon zeta"),
                  (2, "one two three four five six")])

    # pre-r7 flat corpus dir: plain appended parquet, no partition column
    flat = str(tmp_path / "flat_corpus")
    batch.write.parquet(flat)
    idx1 = f"cg_idx_{_uuid.uuid4().hex[:8]}"
    try:
        with pytest.raises(ValueError, match="ingest_batch"):
            make_corpus_ingest_sink(flat, idx1, min_quality=0.0, min_tokens=1)(
                batch, 0
            )

        # fresh dir passes and ingests; the SAME sink's partitioned
        # output passes a fresh guard too
        out = str(tmp_path / "fresh_corpus")
        idx2 = f"cg_idx_{_uuid.uuid4().hex[:8]}"
        try:
            sink = make_corpus_ingest_sink(out, idx2, min_quality=0.0, min_tokens=1)
            sink(batch, 0)
            sink2 = make_corpus_ingest_sink(out, idx2, min_quality=0.0, min_tokens=1)
            sink2(docs([(3, "seven eight nine ten eleven twelve")]), 1)
            assert spark.read.parquet(out).count() == 3
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {idx2}")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx1}")


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_corpus_sink_doc_metadata_dim(spark, tmp_path):
    """r14 (VERDICT r13 #5): ``doc_meta_dir=`` threads the SAME
    ``upsert_parquet_sink`` the star dim uses through the corpus
    ingest — one keyed merge per batch recording every quality-gated
    doc's metrics and fate.  Pinned: statuses (kept / duplicate_text /
    duplicate_id / near_dup), key-uniqueness at rest, a re-sent
    previously-dropped id UPDATING its row (the merge story — the
    corpus itself stays first-write-wins), and a replayed batch
    converging to the same dim."""
    import uuid as _uuid

    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    TEXT_A = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strange potions under a silver moon casting long shadows "
        "across the quiet valley floor tonight"
    )
    NEAR_A = TEXT_A.split(" ", 1)[1]  # drop one word: near-dup of A
    TEXT_B = "one two three four five six seven eight nine ten"
    TEXT_C = (
        "completely different content about databases and distributed "
        "systems design"
    )
    TEXT_D = (
        "fresh new document content for doc three second attempt at "
        "ingestion"
    )

    out = str(tmp_path / "corpus")
    meta_dir = str(tmp_path / "doc_meta")
    idx = f"meta_idx_{_uuid.uuid4().hex[:8]}"
    sink = make_corpus_ingest_sink(
        out, idx, min_quality=0.0, min_tokens=1, doc_meta_dir=meta_dir
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def dim():
        return {
            r.doc_id: (r.status, r.last_ingest_batch)
            for r in spark.read.parquet(meta_dir).collect()
        }

    try:
        sink(docs([(1, TEXT_A), (2, TEXT_B), (3, TEXT_B)]), 0)
        assert dim() == {
            1: ("kept", 0),
            2: ("kept", 0),
            3: ("duplicate_text", 0),  # same fingerprint, min id wins
        }
        sink(docs([(2, "changed text for two"), (4, NEAR_A),
                   (5, TEXT_C)]), 1)
        got = dim()
        assert got[2] == ("duplicate_id", 1)  # index is the id authority
        assert got[4] == ("near_dup", 1)      # LSH hit vs indexed doc 1
        assert got[5] == ("kept", 1)
        assert got[1] == ("kept", 0)          # untouched rows persist

        # replay batch 1: corpus, index AND dim all converge (the keyed
        # merge lands the same rows again)
        before = dim()
        sink(docs([(2, "changed text for two"), (4, NEAR_A),
                   (5, TEXT_C)]), 1)
        assert dim() == before

        # a previously-DROPPED id re-sent with fresh text goes through
        # (it never reached the index) and its dim row UPDATES — the
        # keyed-merge story the append-only corpus can't tell
        sink(docs([(3, TEXT_D)]), 2)
        got = dim()
        assert got[3] == ("kept", 2)
        # dim is key-unique at rest; corpus stays first-write-wins
        t = spark.read.parquet(meta_dir)
        assert t.count() == t.select("doc_id").distinct().count() == 5
        corpus_ids = sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )
        assert corpus_ids == [1, 2, 3, 5]
        # the dim carries the gate metrics for every row
        row = t.where(F.col("doc_id") == 1).collect()[0]
        assert row.ws_tokens == len(TEXT_A.split())
        assert row.fingerprint is not None and row.quality_score > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_corpus_sink_doc_meta_crash_between_commits_converges(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the corpus/index writes but BEFORE the dim merge:
    the replayed batch converges — corpus partition overwrite is
    byte-idempotent, the index upsert is keyed by batch, and the dim
    merge commits on the retry."""
    import os
    import uuid as _uuid

    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.operators import upsert
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )

    out = str(tmp_path / "corpus")
    meta_dir = str(tmp_path / "doc_meta")
    idx = f"crash_idx_{_uuid.uuid4().hex[:8]}"
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    real = upsert.upsert_parquet_sink
    calls = {"n": 0}

    def crashing_factory(path, key):
        inner = real(path, key)

        def dim_sink(df, batch_id):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("crash before dim publish")
            return inner(df, batch_id)

        return dim_sink

    try:
        with monkeypatch.context() as mp:
            mp.setattr(upsert, "upsert_parquet_sink", crashing_factory)
            sink = make_corpus_ingest_sink(
                out, idx, min_quality=0.0, min_tokens=1, doc_meta_dir=meta_dir
            )
        with pytest.raises(RuntimeError, match="crash before dim"):
            sink(batch, 0)
        # corpus landed, dim did not — the crash window
        assert spark.read.parquet(out).count() == 2
        assert not os.path.exists(meta_dir)
        sink(batch, 0)  # replay converges everywhere
        assert spark.read.parquet(out).count() == 2
        t = spark.read.parquet(meta_dir)
        assert sorted(
            (r.doc_id, r.status) for r in t.collect()
        ) == [(1, "kept"), (2, "kept")]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
