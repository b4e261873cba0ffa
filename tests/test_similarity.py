"""Similarity-search semantics: brute-force top-k vs numpy ground truth,
bucketed ANN consistency, near-dup pairs."""

from __future__ import annotations

import pytest

import numpy as np
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
    ann_bucketed_topk,
    cosine_topk,
    near_dup_pairs,
    sign_bucket,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table


def test_cosine_topk_matches_numpy(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 3)
    out = cosine_topk(queries, em, k=5).collect()

    rows = em.collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    for qid in range(3):
        qv = Vn[ids == qid][0]
        sims = Vn @ qv
        sims[ids == qid] = -np.inf
        expect = set(ids[np.argsort(-sims)[:5]])
        got = {r.neighbor_id for r in out if r.query_id == qid}
        assert got == expect, f"query {qid}"


def test_ann_bucketed_is_subset_of_bucket_bruteforce(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 5)
    approx = ann_bucketed_topk(queries, em, k=3, m=8).collect()
    # every returned neighbor must share the query's sign bucket
    buckets = {
        r.vec_id: r.b
        for r in em.select("vec_id", sign_bucket(F.col("embedding"), 8).alias("b")).collect()
    }
    for r in approx:
        assert buckets[r.query_id] == buckets[r.neighbor_id]
        assert -1.0 <= r.cos <= 1.0


def test_near_dup_pairs_finds_perturbed_copies(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    base = em.select("vec_id", "embedding")
    pert = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, 63), F.array(F.lit(0.5).cast("float"))
        ).alias("embedding"),
    )
    pairs = near_dup_pairs(base.unionByName(pert), threshold=0.85).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # most perturbed copies stay above the threshold vs their original
    expected = {(i, i + 1000) for i in range(40)}
    assert len(found & expected) >= 25
    # and no unrelated fixture pair sneaks in (max fixture cosine ≈ 0.48)
    assert all((a, b) in expected for a, b in found)


def _recall_vs_exact(spark, sf_dir, approx_df, k):
    """Fraction of exact top-k (query, neighbor) pairs the approximate
    search recovered."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        cosine_topk,
    )

    em = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(em.filter(F.col("vec_id") < 8), em, k=k)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(r.query_id, r.neighbor_id) for r in approx_df.collect()}
    return len(want & got) / len(want)


def test_multiprobe_recall_dominates_single_bucket(spark, sf_dir):
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_bucketed_topk,
        ann_multiprobe_topk,
    )

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 8)
    k = 3
    single = _recall_vs_exact(spark, sf_dir, ann_bucketed_topk(q, em, k=k), k)
    multi = _recall_vs_exact(spark, sf_dir, ann_multiprobe_topk(q, em, k=k), k)
    assert multi >= single
    # every query must at least produce candidates under multi-probe
    out = ann_multiprobe_topk(q, em, k=k)
    assert out.select("query_id").distinct().count() == 8


def test_qdprobe_recall_between_single_and_full_multiprobe(spark, sf_dir):
    """Query-directed probing (own + 3 smallest-margin flips) candidates
    are a superset of the single bucket and a subset of the full 1-flip
    neighborhood, so recall must be sandwiched between the two."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_multiprobe_topk,
        ann_qdprobe_topk,
    )

    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 8)
    k = 3
    single = _recall_vs_exact(spark, sf_dir, ann_bucketed_topk(q, em, k=k), k)
    qd = _recall_vs_exact(spark, sf_dir, ann_qdprobe_topk(q, em, k=k, nprobe=4), k)
    full = _recall_vs_exact(spark, sf_dir, ann_multiprobe_topk(q, em, k=k), k)
    assert single <= qd <= full
    # nprobe=m+1 probes the whole 1-flip neighborhood: identical to full
    qd_all = ann_qdprobe_topk(q, em, k=k, m=8, nprobe=9)
    full_df = ann_multiprobe_topk(q, em, k=k, m=8)
    got_qd = {(r.query_id, r.neighbor_id) for r in qd_all.collect()}
    got_full = {(r.query_id, r.neighbor_id) for r in full_df.collect()}
    assert got_qd == got_full


def test_kmeans_refine_improves_quantization_and_is_deterministic(spark, sf_dir):
    """One Lloyd iteration must not worsen mean nearest-centroid cosine
    (the k-means objective under cosine distance), and the decimal-sum
    means make the refined centroids bit-identical across runs."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        cosine,
        ivf_seed_centroids,
        kmeans_refine,
    )

    em = load_table(spark, sf_dir, "embeddings")
    seeds = ivf_seed_centroids(em, 16)
    trained = kmeans_refine(em, seeds, iters=1)

    def mean_best_cos(cent):
        scored = em.crossJoin(F.broadcast(cent)).withColumn(
            "c", cosine(F.col("embedding"), F.col("centroid"))
        )
        best = scored.groupBy("vec_id").agg(F.max("c").alias("best"))
        return best.agg(F.avg("best")).collect()[0][0]

    assert mean_best_cos(trained) >= mean_best_cos(seeds) - 1e-12
    # determinism: a second run reproduces every centroid bit-for-bit
    a = {r.centroid_id: r.centroid for r in trained.collect()}
    b = {
        r.centroid_id: r.centroid
        for r in kmeans_refine(em, seeds, iters=1).collect()
    }
    assert a == b
    # refined centroids are dense doubles of the embedding dimension
    dim = len(em.first().embedding)
    assert all(len(v) == dim for v in a.values())


def test_ivf_recall_grows_with_nprobe(spark, sf_dir):
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_topk,
        ivf_assign,
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 16)
    assert cent.count() == 16
    # assignment is total and unique: every vector lands in exactly 1 cell
    assign = ivf_assign(em, cent)
    assert assign.count() == em.count()
    assert assign.select("vec_id").distinct().count() == em.count()

    q = em.filter(F.col("vec_id") < 8)
    k = 3
    r1 = _recall_vs_exact(spark, sf_dir, ann_ivf_topk(q, em, cent, k=k, nprobe=1), k)
    r4 = _recall_vs_exact(spark, sf_dir, ann_ivf_topk(q, em, cent, k=k, nprobe=4), k)
    r16 = _recall_vs_exact(spark, sf_dir, ann_ivf_topk(q, em, cent, k=k, nprobe=16), k)
    assert r1 <= r4 <= r16
    # probing every cell IS brute force: recall must be perfect
    assert r16 == 1.0


def test_ivf_index_search_matches_on_the_fly_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """The at-rest IVF index must (a) return bit-identical results to the
    on-the-fly ann_ivf_topk under the same centroids, and (b) prune
    non-probed cells from the file listing (PartitionFilters + fewer
    input files than the full index)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ann_ivf_topk,
        ivf_seed_centroids,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 16)
    path = str(tmp_path / "ivf_index")
    write_ivf_index_manifest(em, path, centroids=cent)
    index = read_ivf_index_manifest(spark, path)

    q = em.filter(F.col("vec_id") < 8)
    k, nprobe = 3, 4
    via_index = ann_ivf_index_topk(q, index, cent, k=k, nprobe=nprobe)
    on_the_fly = ann_ivf_topk(q, em, cent, k=k, nprobe=nprobe)
    key = lambda r: (r.query_id, r.rank)
    a = {key(r): (r.neighbor_id, r.centroid_id, round(r.cos, 12)) for r in via_index.collect()}
    b = {key(r): (r.neighbor_id, r.centroid_id, round(r.cos, 12)) for r in on_the_fly.collect()}
    assert a == b and len(a) == 8 * k

    # pruning evidence: the probed-cell filter reaches PartitionFilters…
    pruned = index.filter(F.col("centroid_id").isin([0, 1, 2]))
    plan = plan_string(pruned)
    pf = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l and "centroid_id" in l
    ]
    assert pf, f"no centroid_id PartitionFilters:\n{plan}"
    # …and the executed pruned scan READS strictly fewer files than the
    # index holds (inputFiles() lists pre-pushdown, so witness at runtime)
    read_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert len(read_files) == 3  # one file per probed cell at this size
    assert len(read_files) < len(index.inputFiles())


def test_ivf_append_is_incremental_and_equals_batch_rebuild(spark, sf_dir, tmp_path):
    """ivf_append_manifest lands a new batch inside the existing cells
    (history untouched) and a search over the appended index equals one
    over a full rebuild of the union."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        ivf_append_manifest,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") < 400)
    batch = em.filter(F.col("vec_id") >= 400)
    cent = ivf_seed_centroids(em, 16)

    inc_path = str(tmp_path / "ivf_inc")
    write_ivf_index_manifest(base, inc_path, centroids=cent)
    base_files = set(read_ivf_index_manifest(spark, inc_path).inputFiles())
    ivf_append_manifest(batch, inc_path)
    appended = read_ivf_index_manifest(spark, inc_path)
    # append-only: every pre-append file is still present (history not rewritten)
    assert base_files <= set(appended.inputFiles())
    assert appended.count() == em.count()

    full_path = str(tmp_path / "ivf_full")
    write_ivf_index_manifest(em, full_path, centroids=cent)
    q = em.filter(F.col("vec_id") < 8)
    key = lambda r: (r.query_id, r.rank)
    a = {
        key(r): (r.neighbor_id, round(r.cos, 12))
        for r in ann_ivf_index_topk(q, appended, cent, k=3, nprobe=4).collect()
    }
    b = {
        key(r): (r.neighbor_id, round(r.cos, 12))
        for r in ann_ivf_index_topk(
            q, read_ivf_index_manifest(spark, full_path), cent, k=3, nprobe=4
        ).collect()
    }
    assert a == b


def test_quantize_embeddings_roundtrip_error_bounded(spark, sf_dir):
    """int8 quantization: codes are tinyint (4x storage), reconstruction
    error is elementwise <= scale/2, and the zero vector is exact."""
    from pyspark.sql import types as T

    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        dequantize,
        quantize_embeddings,
    )

    em = load_table(spark, sf_dir, "embeddings").limit(100)
    qd = quantize_embeddings(em)
    elem = dict(qd.dtypes)["qembedding"]
    assert elem == "array<tinyint>"
    rows = qd.withColumn(
        "deq", dequantize(F.col("qembedding"), F.col("qscale"))
    ).select("embedding", "deq", "qscale").collect()
    for r in rows:
        bound = r.qscale / 2 + 1e-12
        for orig, rec in zip(r.embedding, r.deq):
            assert abs(orig - rec) <= bound

    zero = spark.createDataFrame(
        [(0, [0.0] * 8)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    zr = quantize_embeddings(zero).collect()[0]
    assert zr.qscale == 0.0 and all(v == 0 for v in zr.qembedding)


def test_quantized_topk_recall_and_rerank_exactness(spark, sf_dir):
    """Quantized top-k recovers nearly all exact top-k pairs; the reranked
    variant re-scores candidates with exact float cosine, so its cos
    values match cosine_topk's bit-for-bit on shared pairs and its recall
    dominates the unreranked one."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
        quantize_embeddings,
    )

    em = load_table(spark, sf_dir, "embeddings")
    corpus_q = quantize_embeddings(em)
    q = em.filter(F.col("vec_id") < 8)
    k = 5
    exact = cosine_topk(q, em, k=k)
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.collect()
    }

    quant = cosine_topk_quantized(q, corpus_q, k=k)
    got = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    recall_q = len(want & got) / len(want)
    assert recall_q >= 0.8, recall_q

    rr_rows = cosine_topk_quantized(q, corpus_q, k=k, rerank=3 * k).collect()
    got_rr = {(r.query_id, r.neighbor_id) for r in rr_rows}
    recall_rr = len(want & got_rr) / len(want)
    assert recall_rr >= recall_q
    for r in rr_rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cos == exact_cos[key]


def test_semantic_dedup_survivors_and_cell_guard(spark):
    """SemDeDup semantics: within-cell near-dups drop (keep-smallest),
    cross-cell near-dups survive by design, and an over-cap cell passes
    through undeduped (the quadratic-explosion guard)."""
    from pyspark.sql import functions as F

    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        semantic_dedup,
    )

    def vec(*xs):
        return [float(x) for x in xs]

    # two well-separated directions -> two cells under the seed quantizer
    rows = [
        (0, vec(1, 0, 0, 0)),          # cell A representative
        (1, vec(0, 1, 0, 0)),          # cell B representative
        (2, vec(0.99, 0.1, 0, 0)),     # near-dup of 0, same cell -> drops
        (3, vec(0.1, 0.99, 0, 0)),     # near-dup of 1, same cell -> drops
        (4, vec(-1, 0.2, 0, 0)),       # unrelated -> survives
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(rows[:2], ["vec_id", "embedding"]).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    out = semantic_dedup(vecs, cents, threshold=0.9)
    kept = {r.vec_id for r in out.collect()}
    assert kept == {0, 1, 4}

    # cap: with max_cell below the cell size, nothing is joined or dropped
    capped = semantic_dedup(vecs, cents, threshold=0.9, max_cell=1)
    assert {r.vec_id for r in capped.collect()} == {0, 1, 2, 3, 4}


def test_quantized_ivf_index_serving_prunes_floats_and_reranks_exactly(
    spark, sf_dir, tmp_path
):
    """r8: the int8 at-rest IVF serving path (ann_ivf_index_topk_quantized).
    (a) Column pruning: the candidate-scoring scan over the quantized
    index selects ONLY (id, codes, scale) — the float embedding column's
    pages are never read even though the index stores it for reranking.
    (b) Reranking over the ENTIRE probed candidate pool reproduces the
    float at-rest path bit-exactly (same cells, same floats, same exact
    cosine), so the cheap first stage loses nothing that the rerank
    budget covers."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ann_ivf_index_topk_quantized,
        ivf_seed_centroids,
        quantize_embeddings,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 16).localCheckpoint(eager=True)
    qpath = str(tmp_path / "ivf_quant")
    write_ivf_index_manifest(quantize_embeddings(em), qpath, centroids=cent)
    idx_q = read_ivf_index_manifest(spark, qpath)
    q = em.filter(F.col("vec_id") < 8)

    # (a) codes-only serving never reads the float column of the index
    codes = ann_ivf_index_topk_quantized(q, idx_q, cent, k=5, nprobe=4)
    plan = plan_string(codes)
    idx_reads = [
        l for l in plan.splitlines()
        if "ReadSchema" in l and "qembedding" in l
    ]
    assert idx_reads, f"no quantized index scan in plan:\n{plan}"
    assert all("embedding:array<float>" not in l for l in idx_reads), idx_reads
    # probed-cell partition pruning still reaches the scan
    assert any(
        "PartitionFilters" in l and "centroid_id" in l
        for l in plan.splitlines()
    ), plan
    assert codes.count() == 8 * 5

    # (b) full-pool rerank == float at-rest serving, bit-exact
    fpath = str(tmp_path / "ivf_float")
    write_ivf_index_manifest(em, fpath, centroids=cent)
    idx_f = read_ivf_index_manifest(spark, fpath)
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.centroid_id, r.cos)
        for r in ann_ivf_index_topk(q, idx_f, cent, k=5, nprobe=4).collect()
    }
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.centroid_id, r.cos)
        for r in ann_ivf_index_topk_quantized(
            q, idx_q, cent, k=5, nprobe=4, rerank=10**6
        ).collect()
    }
    assert got == want and len(got) == 8 * 5

    # sanity: a realistic rerank budget (4k) stays close to the float path
    small = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_index_topk_quantized(
            q, idx_q, cent, k=5, nprobe=4, rerank=20
        ).collect()
    }
    overlap = sum(
        1 for key, nb in small.items() if want.get(key, (None,))[0] == nb
    )
    assert overlap / len(want) >= 0.8, overlap


def test_quantized_rerank_cell_local_fetch(spark, sf_dir, tmp_path):
    """r9: the per-cell candidate-fetch predicate (fetch='cell_local') —
    the shape whose row-group skipping actually fires on an id-sorted
    at-rest index (a GLOBAL candidate list cannot skip sorted row groups
    at all: every ~rows·C-wide id range contains some other cell's
    candidate; measured 2.5x fetch-byte reduction, SCALE.md r9).
    (a) results are bit-identical to the global fetch; (b) the fetch
    filter anchors on the cell_id DATA column the index duplicates from
    the partition value; (c) cell_local without that column (in-memory
    index relation) and unknown fetch values fail loudly at
    construction."""
    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk_quantized,
        ivf_assign,
        ivf_seed_centroids,
        quantize_embeddings,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 16).localCheckpoint(eager=True)
    quant = quantize_embeddings(ivf_assign(em, cent))
    qpath = str(tmp_path / "ivf_quant_cl")
    write_ivf_index_manifest(
        quantize_embeddings(em), qpath, centroids=cent, sort_by="vec_id"
    )
    idx = read_ivf_index_manifest(spark, qpath)
    assert "cell_id" in idx.columns  # the r9 data-column duplicate
    q = em.filter(F.col("vec_id") < 8)

    key = lambda r: (r.query_id, r.rank)
    want = {key(r): (r.neighbor_id, round(r.cos, 9)) for r in
            ann_ivf_index_topk_quantized(
                q, idx, cent, k=5, nprobe=4, rerank=20).collect()}
    cl = ann_ivf_index_topk_quantized(
        q, idx, cent, k=5, nprobe=4, rerank=20, fetch="cell_local"
    )
    got = {key(r): (r.neighbor_id, round(r.cos, 9)) for r in cl.collect()}
    assert got == want and len(got) == 8 * 5
    # the per-cell predicate reached the float-fetch scan
    plan = plan_string(cl)
    assert any(
        "cell_id" in l and "PushedFilters" in l for l in plan.splitlines()
    ), plan

    # in-memory index (no cell_id column) must refuse cell_local
    with pytest.raises(ValueError, match="cell_id"):
        ann_ivf_index_topk_quantized(
            q, quant, cent, k=5, nprobe=4, rerank=20, fetch="cell_local"
        )
    with pytest.raises(ValueError, match="fetch"):
        ann_ivf_index_topk_quantized(q, idx, cent, k=5, fetch="bogus")


def test_ivf_split_oversized_rebalances_hot_cell(spark, sf_dir, tmp_path):
    """r9: hot-cell mitigation — the vector-index analogue of salted-join
    skew handling.  A 2-centroid quantizer makes one cell hold most of
    the corpus; splitting it (a) preserves the vector set exactly (no
    loss, no dup), (b) yields subcells strictly smaller than the parent
    that sum to it, (c) retires the parent centroid id and appends fresh
    non-colliding subcell ids with the input relation's array type, and
    (d) leaves full-pool search results IDENTICAL (probing all cells is
    cell-structure-invariant), while small-nprobe probe cost now scales
    with subcell sizes.  A no-op pass (nothing oversized) leaves the
    quantizer unchanged."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        ivf_split_oversized_manifest,
        read_ivf_centroids,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 2).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf_hot")
    write_ivf_index_manifest(em, path, centroids=cent, sort_by="vec_id")
    sizes = {
        int(r.centroid_id): r["count"]
        for r in read_ivf_index_manifest(spark, path)
        .groupBy("centroid_id").count().collect()
    }
    hot, n_hot = max(sizes.items(), key=lambda kv: kv[1])
    n_total = em.count()
    q = em.filter(F.col("vec_id") < 8)

    def full_pool(c):
        n_cells = c.count()
        return {
            (r.query_id, r.rank): r.neighbor_id
            for r in ann_ivf_index_topk(
                q, read_ivf_index_manifest(spark, path), c, k=3, nprobe=n_cells
            ).collect()
        }

    want = full_pool(cent)
    max_rows = n_hot - 1  # only the hot cell is oversized
    assert ivf_split_oversized_manifest(spark, path, max_rows=max_rows, k=2) == [hot]
    new_cent = read_ivf_centroids(spark, path)
    idx = read_ivf_index_manifest(spark, path)
    # (a) the vector set is exactly preserved
    assert idx.count() == n_total
    assert idx.select("vec_id").distinct().count() == n_total
    # (b)+(c) parent retired, subcells smaller and sum to the parent
    new_sizes = {
        int(r.centroid_id): r["count"]
        for r in idx.groupBy("centroid_id").count().collect()
    }
    assert hot not in new_sizes
    subcells = set(new_sizes) - set(sizes)
    assert len(subcells) == 2
    assert all(new_sizes[s] < n_hot for s in subcells)
    assert sum(new_sizes[s] for s in subcells) == n_hot
    cent_ids = {int(r.centroid_id) for r in new_cent.collect()}
    assert cent_ids == (set(sizes) - {hot}) | subcells
    assert (
        new_cent.schema["centroid"].dataType
        == cent.schema["centroid"].dataType
    )
    # cell_id data column kept consistent on the new partitions
    assert idx.filter(
        F.col("centroid_id").isin([int(s) for s in subcells])
        & (F.col("cell_id") != F.col("centroid_id"))
    ).count() == 0
    # (d) full-pool search is cell-structure-invariant
    assert full_pool(new_cent) == want
    # no-op pass: nothing oversized anymore at this threshold -> the
    # quantizer is unchanged
    assert ivf_split_oversized_manifest(spark, path, max_rows=n_hot, k=2) == []
    again = read_ivf_centroids(spark, path)
    assert {int(r.centroid_id) for r in again.collect()} == cent_ids

    # the QUANTIZED at-rest index (the 100 TB serving shape) splits the
    # same way: codes survive the per-cell rewrite and cell_local
    # serving over the split index still bit-matches the global fetch
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk_quantized,
        quantize_embeddings,
    )

    qpath = str(tmp_path / "ivf_hot_quant")
    write_ivf_index_manifest(
        quantize_embeddings(em), qpath, centroids=cent, sort_by="vec_id"
    )
    ivf_split_oversized_manifest(spark, qpath, max_rows=max_rows, k=2)
    nc2 = read_ivf_centroids(spark, qpath)
    qidx = read_ivf_index_manifest(spark, qpath)
    assert {"qembedding", "qscale", "cell_id"} <= set(qidx.columns)
    assert qidx.count() == n_total
    key = lambda r: (r.query_id, r.rank)
    g = {key(r): r.neighbor_id for r in ann_ivf_index_topk_quantized(
        q, qidx, nc2, k=3, nprobe=4, rerank=12, fetch="global").collect()}
    c = {key(r): r.neighbor_id for r in ann_ivf_index_topk_quantized(
        q, qidx, nc2, k=3, nprobe=4, rerank=12, fetch="cell_local").collect()}
    assert g == c and len(g) == 8 * 3


def _local_files(df):
    return [f.removeprefix("file:") for f in df.inputFiles()]


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_compact_ivf_index_packs_and_sorts(spark, sf_dir, tmp_path):
    """r9: the IVF maintenance pass — after N appends a cell is N small
    files with interleaved id ranges; compaction (a) shrinks file count,
    (b) restores id-sorted in-file order (what cell_local row-group
    skipping needs), and (c) changes NO search result."""
    import pyarrow.parquet as pq

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        compact_ivf_index_manifest,
        ivf_append_manifest,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk_quantized,
        ivf_seed_centroids,
        quantize_embeddings,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 8).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf_appended")
    # initial write + 3 appended batches -> >=4 files per touched cell
    write_ivf_index_manifest(
        em.filter(F.col("vec_id") % 4 == 0), path, centroids=cent
    )
    for b in range(1, 4):
        ivf_append_manifest(em.filter(F.col("vec_id") % 4 == b), path)
    q = em.filter(F.col("vec_id") < 8)

    def results(fetch="global"):
        idx = read_ivf_index_manifest(spark, path)
        # quantize on the fly for the quantized operator's columns
        return {
            (r.query_id, r.rank): r.neighbor_id
            for r in ann_ivf_index_topk_quantized(
                q,
                quantize_embeddings(idx) if "qembedding" not in idx.columns else idx,
                cent, k=3, nprobe=4, rerank=12, fetch=fetch,
            ).collect()
        }

    before_files = len(read_ivf_index_manifest(spark, path).inputFiles())
    want = results()
    stats = compact_ivf_index_manifest(spark, path, target_file_mb=128)
    assert stats["files_before"] == before_files
    assert stats["files_after"] < before_files
    # in-file id order restored per live cell file
    for f in _local_files(read_ivf_index_manifest(spark, path)):
        ids = pq.read_table(f, columns=["vec_id"])["vec_id"].to_pylist()
        assert ids == sorted(ids), f
    assert results() == want
    assert results(fetch="cell_local") == want


def test_write_ivf_index_sort_by_orders_rows_within_files(spark, sf_dir, tmp_path):
    """r8: write_ivf_index_manifest(sort_by=id) must leave every written
    file internally id-sorted (narrow row-group min/max -> the rerank
    candidate fetch can skip row groups at scale), without changing
    search results."""
    import glob

    import pyarrow.parquet as pq

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ivf_assign,
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 8).localCheckpoint(eager=True)
    sorted_path = str(tmp_path / "ivf_sorted")
    write_ivf_index_manifest(em, sorted_path, centroids=cent, sort_by="vec_id")
    files = glob.glob(sorted_path + "/data/centroid_id=*/g=*/*.parquet")
    assert files
    for f in files:
        ids = pq.read_table(f, columns=["vec_id"])["vec_id"].to_pylist()
        assert ids == sorted(ids), f
    # identical search results to the unsorted (in-memory) assignment
    plain = ivf_assign(em, cent)
    q = em.filter(F.col("vec_id") < 8)
    key = lambda r: (r.query_id, r.rank)
    a = {key(r): r.neighbor_id for r in ann_ivf_index_topk(
        q, read_ivf_index_manifest(spark, sorted_path), cent, k=3, nprobe=4).collect()}
    b = {key(r): r.neighbor_id for r in ann_ivf_index_topk(
        q, plain, cent, k=3, nprobe=4).collect()}
    assert a == b


def test_ivf_split_recall_recovers_at_nprobe_plus_one(spark, sf_dir, tmp_path):
    """r10 (verdict #7): splitting a hot cell moves cell boundaries, so
    recall at EQUAL nprobe may dip (measured 1.000 -> 0.975, SCALE.md
    r9).  The actionable guidance — bump nprobe by one per split
    generation — is pinned here: recall@k at nprobe+1 over the split
    index is >= recall@k at nprobe over the unsplit index, while still
    scanning fewer rows than the unsplit hot cell forced."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        ivf_split_oversized_manifest,
        read_ivf_centroids,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        cosine_topk,
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 4).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf_recall")
    write_ivf_index_manifest(em, path, centroids=cent, sort_by="vec_id")
    sizes = {
        int(r.centroid_id): r["count"]
        for r in read_ivf_index_manifest(spark, path)
        .groupBy("centroid_id").count().collect()
    }
    n_hot = max(sizes.values())
    q = em.filter(F.col("vec_id") < 16)
    k = 5
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, em, k=k).collect()
    }

    def recall(c, nprobe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ann_ivf_index_topk(
                q, read_ivf_index_manifest(spark, path), c, k=k, nprobe=nprobe
            ).collect()
        }
        return len(got & exact) / len(exact)

    base = recall(cent, 2)
    ivf_split_oversized_manifest(spark, path, max_rows=n_hot - 1, k=2)
    new_cent = read_ivf_centroids(spark, path)
    assert new_cent.count() > cent.count()  # something actually split
    assert recall(new_cent, 3) >= base


def test_compact_ivf_index_custom_id_col(spark, sf_dir, tmp_path):
    """r10 (ADVICE): an index built with a non-default id column must
    survive the maintenance pass — id_col flows through to the sort —
    and a WRONG id_col fails with a clear ValueError, not an opaque
    AnalysisException."""
    import pyarrow.parquet as pq
    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        compact_ivf_index_manifest,
        ivf_append_manifest,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings").withColumnRenamed(
        "vec_id", "doc_id"
    )
    cent = ivf_seed_centroids(em, 4, id_col="doc_id").localCheckpoint(eager=True)
    path = str(tmp_path / "ivf_docid")
    # two generations, so the pass has something to merge and re-sort
    write_ivf_index_manifest(
        em.filter(F.col("doc_id") % 2 == 0), path, centroids=cent,
        id_col="doc_id", sort_by="doc_id",
    )
    ivf_append_manifest(em.filter(F.col("doc_id") % 2 == 1), path, id_col="doc_id")
    n = em.count()

    with pytest.raises(ValueError, match="id column 'vec_id' not in"):
        compact_ivf_index_manifest(spark, path)  # default id_col is wrong here

    stats = compact_ivf_index_manifest(spark, path, id_col="doc_id")
    assert stats["gens_after"] < stats["gens_before"]
    idx = read_ivf_index_manifest(spark, path)
    assert idx.count() == n and "cell_id" in idx.columns
    for f in _local_files(idx):
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), f
