"""Similarity-search semantics: brute-force top-k vs numpy ground truth,
bucketed ANN consistency, near-dup pairs."""

from __future__ import annotations


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


def _write_cell_index(vectors, centroids, path):
    """The at-rest IVF index: the cell assignment of ``vectors`` (with
    any payload columns beside the vector, e.g. int8 codes) written with
    ``partitionBy("centroid_id")``, rows sorted by (cell, id) within each
    file.  Returns the index read back."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ivf_assign,
    )

    assigned = ivf_assign(vectors, centroids)
    extra = [c for c in vectors.columns if c not in assigned.columns]
    if extra:
        assigned = assigned.join(vectors.select("vec_id", *extra), "vec_id")
    (
        assigned.withColumn("centroid_id", F.col("centroid_id").cast("long"))
        .sortWithinPartitions("centroid_id", "vec_id")
        .write.partitionBy("centroid_id")
        .parquet(path)
    )
    return vectors.sparkSession.read.parquet(path)


def test_ivf_index_search_matches_on_the_fly_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """The at-rest IVF index must (a) return bit-identical results to the
    on-the-fly ann_ivf_topk under the same centroids (literal-pruned
    serving, reranked over the whole probed pool), as does the roster's
    in-memory form (prune="join"), and (b) prune non-probed cells from
    the file listing (PartitionFilters + fewer input files than the full
    index)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk_quantized,
        ann_ivf_topk,
        ivf_assign,
        ivf_seed_centroids,
        quantize_embeddings,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 16).localCheckpoint(eager=True)
    path = str(tmp_path / "ivf_index")
    index = _write_cell_index(quantize_embeddings(em), cent, path)

    q = em.filter(F.col("vec_id") < 8)
    k, nprobe = 3, 4
    via_index = ann_ivf_index_topk_quantized(
        q, index, cent, k=k, nprobe=nprobe, rerank=10**6
    )
    in_memory = ann_ivf_index_topk_quantized(
        q, quantize_embeddings(ivf_assign(em, cent)), cent, k=k,
        nprobe=nprobe, rerank=10**6, prune="join",
    )
    on_the_fly = ann_ivf_topk(q, em, cent, k=k, nprobe=nprobe)
    key = lambda r: (r.query_id, r.rank)
    a = {key(r): (r.neighbor_id, r.centroid_id, round(r.cos, 12)) for r in via_index.collect()}
    b = {key(r): (r.neighbor_id, r.centroid_id, round(r.cos, 12)) for r in on_the_fly.collect()}
    c = {key(r): (r.neighbor_id, r.centroid_id, round(r.cos, 12)) for r in in_memory.collect()}
    assert a == b == c and len(a) == 8 * k

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
    float IVF search bit-exactly (same cells, same floats, same exact
    cosine), so the cheap first stage loses nothing that the rerank
    budget covers."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk_quantized,
        ann_ivf_topk,
        ivf_seed_centroids,
        quantize_embeddings,
    )
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 16).localCheckpoint(eager=True)
    qpath = str(tmp_path / "ivf_quant")
    idx_q = _write_cell_index(quantize_embeddings(em), cent, qpath)
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

    # (b) full-pool rerank == float IVF search, bit-exact
    want = {
        (r.query_id, r.rank): (r.neighbor_id, r.centroid_id, r.cos)
        for r in ann_ivf_topk(q, em, cent, k=5, nprobe=4).collect()
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
