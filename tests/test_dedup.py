"""Dedup operator semantics: exact, MinHash (array ≡ exploded), LSH pairs,
SimHash, n-gram Jaccard."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
    exact_dedup_clusters,
    lsh_bands_from_array,
    lsh_candidate_pairs,
    minhash_array,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash64,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table


def _docs(spark, sf_dir, n=50):
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n)
    )


def test_exact_dedup_collapses_copies(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    clusters = exact_dedup_clusters(corpus, "doc_id", "text")
    assert clusters.count() == docs.count()
    assert clusters.agg(F.min("n_docs")).first()[0] == 2
    # representative is always the original (minimum) id
    assert clusters.filter(F.col("rep_id") >= 1000).count() == 0


def test_minhash_array_matches_exploded_formulation(spark, sf_dir):
    docs = _docs(spark, sf_dir, 20)
    arr = minhash_array(docs, "doc_id", "text", 3, 8)
    exploded = minhash_signatures(shingles(docs, "doc_id", "text", 3), "doc_id", 8)
    arr_rows = {
        (r.doc_id, i): h
        for r in arr.collect()
        for i, h in enumerate(r.minhashes)
    }
    exp_rows = {(r.doc_id, r.seed): r.minhash for r in exploded.collect()}
    assert arr_rows == exp_rows


def test_row_form_banding_and_signature_string_consistent(spark, sf_dir):
    """The row-per-seed composition surface: lsh_band_hashes over exploded
    signatures must produce the identical band table as the array form,
    and minhash_signature_string must render the seed-ordered 8-hex-prefix
    string of the same values."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_band_hashes,
        minhash_signature_string,
    )

    docs = _docs(spark, sf_dir, 15)
    sig_rows = minhash_signatures(shingles(docs, "doc_id", "text", 3), "doc_id", 8)
    row_bands = {
        (r.doc_id, r.band): r.band_hash
        for r in lsh_band_hashes(sig_rows, "doc_id", 8, 2).collect()
    }
    arr = minhash_array(docs, "doc_id", "text", 3, 8)
    arr_bands = {
        (r.doc_id, r.band): r.band_hash
        for r in lsh_bands_from_array(arr, "doc_id", 8, 2).collect()
    }
    assert row_bands == arr_bands
    sigs = {r.doc_id: r.signature for r in
            minhash_signature_string(sig_rows, "doc_id").collect()}
    vals = {r.doc_id: r.minhashes for r in arr.collect()}
    for doc_id, s in sigs.items():
        assert s == ":".join(str(h)[:8] for h in vals[doc_id])


def test_lsh_finds_injected_near_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    w = F.split(F.trim(F.col("text")), r"\s+")
    pert = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    corpus = docs.unionByName(pert)
    sig = minhash_array(corpus, "doc_id", "text", 3, 16)
    pairs = lsh_candidate_pairs(lsh_bands_from_array(sig, "doc_id", 16, 4), "doc_id")
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 1000) for r in docs.collect()}
    # near-dup recall: the drop-one-word copies share ≈97% of shingles,
    # so nearly all originals must collide with their copy
    assert len(expected & found) >= 0.8 * len(expected)


def test_simhash_shape_and_stability(spark, sf_dir):
    docs = _docs(spark, sf_dir, 20)
    out = {r.doc_id: r.simhash for r in simhash64(docs, "doc_id", "text").collect()}
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in out.values())
    again = {r.doc_id: r.simhash for r in simhash64(docs, "doc_id", "text").collect()}
    assert out == again  # deterministic


def test_ngram_jaccard_scores_injected_dups_high(spark, sf_dir):
    docs = _docs(spark, sf_dir, 30).withColumn("block", F.lit(1))
    w = F.split(F.trim(F.col("text")), r"\s+")
    pert = docs.select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
        F.col("block"),
    )
    pairs = ngram_jaccard_pairs(
        docs.unionByName(pert), "doc_id", "text", "block", 3
    )
    dup_pairs = pairs.filter(F.col("id_b") == F.col("id_a") + 1000)
    scores = [r.jaccard for r in dup_pairs.collect()]
    assert scores and min(scores) > 0.7
    assert pairs.filter((F.col("jaccard") < 0) | (F.col("jaccard") > 1)).count() == 0


def test_ngram_jaccard_pairs_never_pairs_an_id_with_itself(spark):
    """A duplicated id with two different texts lands in a shared bucket
    twice (once per shingle count); no id_a == id_b pair may come out."""
    docs = spark.createDataFrame(
        [(1, "a b c d e", 0), (1, "a b c d e f g", 0), (2, "a b c d e", 0)],
        "doc_id long, text string, block int",
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", "block", 3).collect()
    assert pairs
    assert [r for r in pairs if r.id_a == r.id_b] == []
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def _synthetic_pairs(spark, n_pairs, shared, fresh, tag):
    """n_pairs doc pairs with controlled word-set Jaccard:
    shared/(shared + 2*fresh).  Word vocab is disjoint across pairs."""
    rows = []
    for p in range(n_pairs):
        base = [f"w{p}_{i}" for i in range(shared)]
        a_extra = [f"a{p}_{i}" for i in range(fresh)]
        b_extra = [f"b{p}_{i}" for i in range(fresh)]
        rows.append((tag + 2 * p, " ".join(base + a_extra)))
        rows.append((tag + 2 * p + 1, " ".join(base + b_extra)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_lsh_banding_sweep_matches_s_curve(spark):
    """(b, r) tuning contract: recall of high-similarity pairs and
    rejection of low-similarity pairs track the 1-(1-s^r)^b S-curve as the
    banding changes — including n_hashes > 16 via the generative hash
    family (minhash_params)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_candidate_probability,
        lsh_threshold,
        minhash_params,
    )

    # frozen prefix + deterministic extension
    assert minhash_params(16) == minhash_params(32)[:16]
    assert minhash_params(32) == minhash_params(32)
    assert abs(lsh_threshold(4, 4) - 0.25 ** 0.25) < 1e-12

    n_pairs = 40
    # shared=90, fresh=5  → J = 90/100 = 0.90 (well above every threshold)
    # shared=10, fresh=45 → J = 10/100 = 0.10 (well below every threshold)
    hi = _synthetic_pairs(spark, n_pairs, 90, 5, 10_000)
    lo = _synthetic_pairs(spark, n_pairs, 10, 45, 20_000)
    corpus = hi.unionByName(lo)

    for n_hashes, n_bands in ((16, 8), (16, 4), (32, 8)):
        rpb = n_hashes // n_bands
        sig = minhash_array(corpus, "doc_id", "text", k=1, n_hashes=n_hashes)
        pairs = lsh_candidate_pairs(
            lsh_bands_from_array(sig, "doc_id", n_hashes, n_bands), "doc_id"
        )
        found = {(r.id_a, r.id_b) for r in pairs.collect()}
        hi_found = sum(
            ((10_000 + 2 * p, 10_000 + 2 * p + 1) in found) for p in range(n_pairs)
        )
        lo_found = sum(
            ((20_000 + 2 * p, 20_000 + 2 * p + 1) in found) for p in range(n_pairs)
        )
        p_hi = lsh_candidate_probability(0.90, n_bands, rpb)
        p_lo = lsh_candidate_probability(0.10, n_bands, rpb)
        # generous two-sided bands around the binomial expectation
        assert hi_found >= (p_hi - 0.25) * n_pairs, (n_hashes, n_bands, hi_found)
        assert lo_found <= p_lo * n_pairs + 4, (n_hashes, n_bands, lo_found)


def test_lsh_bucket_cap_bounds_boilerplate_skew(spark):
    """A boilerplate-heavy corpus (one 200-doc identical cluster) must not
    go quadratic: the bucket cap drops the pathological bucket while
    ordinary near-dup pairs survive."""
    n_boiler = 200
    boiler = spark.createDataFrame(
        [(i, "terms of service apply to all content on this site") for i in range(n_boiler)],
        ["doc_id", "text"],
    )
    normal = _synthetic_pairs(spark, 10, 90, 5, 100_000)
    corpus = boiler.unionByName(normal)
    sig = minhash_array(corpus, "doc_id", "text", k=1, n_hashes=16)
    bands = lsh_bands_from_array(sig, "doc_id", 16, 4)

    capped = lsh_candidate_pairs(bands, "doc_id", max_bucket=100)
    n_capped = capped.count()
    # every surviving pair is a real near-dup pair, none from boilerplate
    assert capped.filter(F.col("id_a") < 100_000).count() == 0
    assert n_capped >= 8  # the injected near-dups still collide

    uncapped = lsh_candidate_pairs(bands, "doc_id", max_bucket=10**9)
    # without the cap the boilerplate cluster alone adds C(200,2) pairs
    assert uncapped.count() >= n_capped + (n_boiler * (n_boiler - 1)) // 2


def test_repeated_passage_detection_and_strip(spark, sf_dir):
    """Exact-substring (windowed) dedup: a 40-word passage planted in two
    documents at DIFFERENT offsets is detected (stride=1 guarantee) and
    stripped from the non-representative copy; unique docs are untouched;
    a stride that misaligns the copies misses them (the documented
    trade-off)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        passage_windows,
        repeated_passages,
        strip_repeated_passages,
    )

    passage = " ".join(f"boiler{i}" for i in range(40))
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, uniq("a", 7) + " " + passage + " " + uniq("b", 20)),
            (2, uniq("c", 13) + " " + passage + " " + uniq("d", 5)),
            (3, uniq("e", 60)),
        ],
        ["doc_id", "text"],
    )
    win = passage_windows(docs, "doc_id", "text", window=30)
    flagged = repeated_passages(win, "doc_id")
    f = flagged.collect()
    assert f and all(r.n_docs == 2 and r.rep_id == 1 for r in f)

    out = {
        r.doc_id: r
        for r in strip_repeated_passages(
            docs, flagged, "doc_id", "text", window=30
        ).collect()
    }
    # representative keeps its text verbatim (lower-cased join)
    assert out[1].n_stripped_tokens == 0
    assert "boiler0" in out[1].text
    # the copy loses every planted token but keeps its unique words
    assert out[2].n_stripped_tokens >= 40
    assert "boiler" not in out[2].text
    assert "c0" in out[2].text and "d4" in out[2].text
    # untouched unique doc
    assert out[3].n_stripped_tokens == 0 and "e59" in out[3].text

    # stride>1 with misaligned offsets (7 vs 13 -> differ mod 5): no hits
    win5 = passage_windows(docs, "doc_id", "text", window=30, stride=5)
    assert repeated_passages(win5, "doc_id").count() == 0

    # on the fixture corpus every flagged passage is a TRUE repeat: the
    # occurrences' 30-token slices are literally identical across docs
    # (the fixture's planted near-dup docs share long runs — the operator
    # finds exactly those)
    fixture = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    fw = passage_windows(fixture, "doc_id", "text", window=30)
    frep = repeated_passages(fw, "doc_id")
    assert frep.count() > 0
    probe = frep.limit(1).collect()[0].passage_hash
    occ = fw.filter(F.col("passage_hash") == probe).limit(3).collect()
    assert len(occ) >= 2
    texts = {r.doc_id: r.start for r in occ}
    slices = set()
    for did, start in texts.items():
        toks = (
            fixture.filter(F.col("doc_id") == did).collect()[0].text.lower().split()
        )
        slices.add(" ".join(toks[start : start + 30]))
    assert len(slices) == 1  # one identical passage, several documents


def test_winnowing_guarantee_and_sparsity(spark, sf_dir):
    """Winnowing (k=8, w=12): any shared run of >= w+k-1 = 19 tokens at
    ARBITRARY offsets yields a common fingerprint; the selected
    fingerprints are sparse (expected density 2/(w+1) ~ 0.154); and the
    fixture corpus's planted near-dup docs surface via fingerprint
    matches just as the dense pass finds them."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        fingerprint_matches,
        winnow_fingerprints,
    )

    passage = " ".join(f"shared{i}" for i in range(19))  # exactly w+k-1
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, uniq("a", 7) + " " + passage + " " + uniq("b", 23)),
            (2, uniq("c", 13) + " " + passage + " " + uniq("d", 9)),
            (3, uniq("e", 50)),
        ],
        ["doc_id", "text"],
    )
    fp = winnow_fingerprints(docs, "doc_id", "text")
    m = fingerprint_matches(fp, "doc_id").collect()
    assert m and all(r.n_docs == 2 and r.rep_id == 1 for r in m)
    # doc 3 shares nothing: none of its fingerprints repeat
    fp3 = {r.fingerprint for r in fp.filter(F.col("doc_id") == 3).collect()}
    assert fp3.isdisjoint({r.fingerprint for r in m})

    # sparsity on the fixture corpus: selected positions ≪ k-gram count,
    # near the 2/(w+1) expectation
    fixture = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    n_tokens = fixture.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).collect()[0][0]
    n_fp = winnow_fingerprints(fixture, "doc_id", "text").count()
    density = n_fp / n_tokens
    assert 0.05 < density < 0.30, density

    # the planted fixture near-dups are found sparsely too
    matches = fingerprint_matches(
        winnow_fingerprints(fixture, "doc_id", "text"), "doc_id"
    )
    assert matches.count() > 0


def test_winnowing_value_only_matches_positions_variant(spark, sf_dir):
    """positions=False returns exactly the fingerprint set of the full
    variant (per doc), just without offsets."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    full = winnow_fingerprints(docs, "doc_id", "text")
    lean = winnow_fingerprints(docs, "doc_id", "text", positions=False)
    a = {(r.doc_id, r.fingerprint) for r in full.collect()}
    b = {(r.doc_id, r.fingerprint) for r in lean.collect()}
    assert b == {(d, f) for d, f in a}
    assert lean.columns == ["doc_id", "fingerprint"]


def test_incremental_fingerprint_index(spark, sf_dir):
    """The at-rest fingerprint index: bucketed round trip plans the
    index-side group exchange-free, a new batch's repeats against the
    corpus surface WITHOUT re-hashing it, and batch appends keep the
    layout."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        incremental_fingerprint_matches,
        winnow_fingerprints,
        write_fingerprint_index,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    fp = winnow_fingerprints(docs, "doc_id", "text")
    # batch: near-copies of docs 0-49 (share long runs -> fingerprints)
    w = F.split(F.trim(F.col("text")), r"\s+")
    batch = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    new_fp = winnow_fingerprints(batch, "doc_id", "text")
    try:
        write_fingerprint_index(fp, "fp_idx", n_buckets=8)
        idx = spark.table("fp_idx")
        # index-side aggregation is exchange-free off the bucketed scan
        plan = plan_string(
            idx.groupBy("fingerprint").agg(F.countDistinct("doc_id").alias("n")),
            "simple",
        )
        assert "Exchange" not in plan and "Bucketed: true" in plan, plan

        m = incremental_fingerprint_matches(new_fp, idx, "doc_id")
        rows = m.collect()
        vs_index = [r for r in rows if r.match_type == "new_vs_index"]
        assert vs_index  # drop-one-word copies still share fingerprints
        assert all(r.rep_id < 1_000_000 and r.n_docs >= 2 for r in vs_index)

        # append a second batch; the table keeps both and stays bucketed
        write_fingerprint_index(new_fp, "fp_idx", n_buckets=8, mode="append")
        idx2 = spark.table("fp_idx")
        assert idx2.count() == fp.count() + new_fp.count()
        plan2 = plan_string(
            idx2.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n")), "simple"
        )
        assert "Exchange" not in plan2, plan2
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_idx")


def test_strip_against_at_rest_passage_index(spark, sf_dir, tmp_path):
    """Steady-state passage strip: the flagged relation persisted once
    (bucketed by passage_hash) and read back yields the identical strip
    as the inline rebuild — and the windows-relation schema guard rejects
    obviously-wrong relations."""
    import pytest as _pytest

    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        passage_windows,
        repeated_passages,
        strip_repeated_passages,
        write_passage_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(300)
    win = passage_windows(docs, "doc_id", "text", window=15)
    flagged = repeated_passages(win, "doc_id", min_docs=2)

    table = f"passage_idx_{uuid.uuid4().hex[:8]}"
    write_passage_index(flagged, table)
    try:
        idx = spark.table(table)
        inline = strip_repeated_passages(
            docs, flagged, "doc_id", "text", window=15
        )
        steady = strip_repeated_passages(
            docs, idx, "doc_id", "text", window=15
        )
        assert inline.exceptAll(steady).count() == 0
        assert steady.exceptAll(inline).count() == 0
        assert steady.filter(F.col("n_stripped_tokens") > 0).count() > 0

        # schema guard: a relation without window columns is rejected
        with _pytest.raises(ValueError, match="passage_windows"):
            strip_repeated_passages(
                docs, flagged, "doc_id", "text", window=15, windows=flagged
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
