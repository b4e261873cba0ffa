"""Scale probe: do the headline plan shapes hold when the data grows ~17×?

Synthesizes a 10M-row lineitem-shaped table (deterministic, seed-free
column arithmetic over spark.range) in /tmp, then measures the three core
plan shapes — scan+filter+agg (Q1 shape), broadcast-join+agg (HyperJoin
shape), window ranking — at both sf0.1 (600 K rows) and 10 M rows, and
reports rows/sec so sub-linear scaling is visible immediately.

    python tools/scale_probe.py [n_rows]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.session import get_spark


def synth_lineitem(spark, n_rows: int, path: str) -> None:
    df = (
        spark.range(n_rows)
        .select(
            (F.col("id") / 4).cast("long").alias("l_orderkey"),
            F.pmod(F.xxhash64("id"), 2000).alias("l_partkey"),
            F.pmod(F.xxhash64("id") + 7, 100).alias("l_suppkey"),
            (F.pmod(F.xxhash64("id") + 13, 50) + 1).cast("double").alias("l_quantity"),
            (F.pmod(F.xxhash64("id") + 17, 9000000) / 100 + 900).alias("l_extendedprice"),
            (F.pmod(F.xxhash64("id") + 23, 11) / 100).alias("l_discount"),
            F.element_at(
                F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                (F.pmod(F.xxhash64("id") + 29, 3) + 1).cast("int"),
            ).alias("l_returnflag"),
        )
    )
    df.write.mode("overwrite").parquet(path)


def synth_documents(spark, n_docs: int, path: str, n_words: int = 80) -> None:
    """Deterministic synthetic corpus: n_docs texts of n_words drawn from a
    4096-word hash vocabulary (no RNG; reproducible across runs)."""
    words = F.transform(
        F.sequence(F.lit(1), F.lit(n_words)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * 131 + i), 4096).cast("string"),
        ),
    )
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    ).write.mode("overwrite").parquet(path)


def synth_lang_documents(
    spark, n_docs: int, path: str, n_langs: int = 6, n_words: int = 140
) -> None:
    """Deterministic lang-labeled corpus for the language-ID probe:
    ``n_langs`` synthetic languages with DISJOINT 4-letter alphabets
    (lang 0 writes over a-d, lang 1 over e-h, ...), each doc = n_words
    5-char words hash-drawn from its language's alphabet.  Disjoint
    alphabets make accuracy a trivially checkable invariant (any
    misclassification = a probe bug), while gram counts / exchange sizes
    match a real corpus of the same shape.  No RNG — reproducible."""
    letters = F.array(*[F.lit(c) for c in "abcdefghijklmnopqrstuvwx"])
    lang_idx = F.pmod(F.col("id"), n_langs)
    word = lambda i: F.concat_ws(  # noqa: E731
        "",
        F.transform(
            F.sequence(F.lit(1), F.lit(5)),
            lambda j: F.element_at(
                letters,
                (
                    lang_idx * 4
                    + F.pmod(F.xxhash64(F.col("id") * 131 + i * 7 + j), 4)
                    + 1
                ).cast("int"),
            ),
        ),
    )
    words = F.transform(F.sequence(F.lit(1), F.lit(n_words)), word)
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("lang"), lang_idx.cast("string")).alias("lang"),
        F.concat_ws(" ", words).alias("text"),
    ).write.mode("overwrite").parquet(path)


def measure_langid(spark, docs) -> dict[str, float]:
    """Wall + accuracy for the FULL trained-langid branch shape as
    q_text_quality runs it: one shared gram explode (checkpointed —
    rebuilt inside the timed run; it is part of the work), profile
    training, rank-order serving.  Linear claim under test: two keyed
    exchanges over (id|lang, gram) rows, per-doc work capped by
    max_chars=600, broadcast profiles — wall should track doc count."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.text import (
        char_ngram_profile,
        exploded_ngrams,
        langid_rank_order,
    )

    def pipeline():
        grams = exploded_ngrams(
            docs.select("doc_id", "lang", "text"),
            ["doc_id", "lang"], "text", 3, 600,
        ).localCheckpoint(eager=True)
        profiles = char_ngram_profile(
            docs, "lang", "text", n=3, top_k=50,
            grams=grams.select("lang", "gram"),
        )
        return langid_rank_order(
            docs, profiles, "doc_id", "text", n=3, top_k=50,
            grams=grams.select("doc_id", "gram"),
        )

    def drop_checkpoints():
        # every pipeline() run eagerly localCheckpoints its gram relation
        # (60 M rows at 100 k docs); dropping it after each materialization
        # keeps run N identical to run 1 instead of measuring run 1 plus
        # N−1 stale checkpoints' worth of heap pressure (observed: 29 s
        # spread at 20× before this)
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    pipeline().write.mode("overwrite").format("noop").save()  # warm
    drop_checkpoints()
    walls = []
    for _ in range(3):
        t0 = time.time()
        pipeline().write.mode("overwrite").format("noop").save()
        walls.append(time.time() - t0)
        drop_checkpoints()
    wall = sorted(walls)[1]  # median-of-3: one GC pause can't poison a size
    hits = (
        pipeline()
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            F.sum((F.col("lang_pred") == F.col("lang")).cast("long")).alias("ok"),
            F.count(F.lit(1)).alias("n"),
        )
        .first()
    )
    return {
        "wall_sec": round(wall, 3),
        "spread_sec": round(max(walls) - min(walls), 3),
        "accuracy": round(hits.ok / hits.n, 4),
    }


def shuffle_write_bytes(spark) -> int:
    """Cumulative shuffle-write bytes across all completed stages, from the
    driver's AppStatusStore (works with spark.ui.enabled=false — the store
    backs the UI, it doesn't require it).  Take a delta around a run to
    attribute shuffle volume to it."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return sum(stages.apply(i).shuffleWriteBytes() for i in range(stages.size()))


# Launch-time conf for any probe session that reads _stage_totals:
# the status store EVICTS stages past spark.ui.retainedStages (default
# 1000), which silently corrupts cumulative-sum deltas in BOTH
# directions once a probe has run enough jobs (observed: a 24.5 MB
# column scan "reading" 2.0 MB).  Metered probes must create their
# session with get_spark(..., extra_conf=METERED_SESSION_CONF).
METERED_SESSION_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
}


def _stage_totals(spark) -> tuple[int, int]:
    """(shuffle-write bytes, input bytes) summed over completed stages.

    Callers must drain the listener bus first (the status store is fed
    asynchronously) and run under METERED_SESSION_CONF (see above) —
    run_metered does both."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.5)  # best effort on builds without the accessor
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    sw = sum(stages.apply(i).shuffleWriteBytes() for i in range(stages.size()))
    ib = sum(stages.apply(i).inputBytes() for i in range(stages.size()))
    return sw, ib


def _jvm_rchar(spark) -> int | None:
    """Logical bytes the local JVM has requested via read syscalls
    (/proc/<pid>/io rchar) — the trustworthy file-read meter in local
    mode, where driver and every executor thread are ONE process.  The
    status store's per-stage inputBytes proved unusable here: parquet
    FileScan bytes underreport on local fs AND reads of localCheckpoint
    blocks count as 'input' (r8 diagnosis: a 24.5 MB column scan
    'reading' 2.0 MB while a checkpoint-fed join 'read' 45 MB)."""
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
    except Exception:  # pragma: no cover - non-Linux / Spark Connect
        return None
    return None


def run_metered(spark, df) -> dict[str, float]:
    """Warm once, then time a materialization and attribute its shuffle
    volume and file reads: {wall_sec, shuffle_mb, read_mb}.  On local
    NVMe the wall barely moves with scan size (the 100 TB regime is
    IO/network-bound); read_mb — OS-level logical read bytes of the one
    local JVM (see :func:`_jvm_rchar`) — is the scale-relevant
    read-amplification signal."""
    df.write.mode("overwrite").format("noop").save()
    sw0, _ = _stage_totals(spark)
    rc0 = _jvm_rchar(spark)
    t0 = time.time()
    df.write.mode("overwrite").format("noop").save()
    wall = time.time() - t0
    rc1 = _jvm_rchar(spark)
    sw1, _ = _stage_totals(spark)
    out = {
        "wall_sec": round(wall, 2),
        "shuffle_mb": round((sw1 - sw0) / (1 << 20), 1),
    }
    if rc0 is not None and rc1 is not None:
        out["read_mb"] = round((rc1 - rc0) / (1 << 20), 1)
    else:
        # explicit absent-marker: rchar metering unavailable here
        # (non-Linux / Spark Connect) — consumers see null, not a
        # silently missing key
        out["read_mb"] = None
    return out


def synth_intervals(spark, n_intervals: int, lo_max: float = 1e6, width_max: float = 500.0):
    """Deterministic half-open intervals [lo, hi) — overlapping, edge-heavy
    (every 7th hi lands exactly on a bucket edge, the boundary case the
    integer-exact bucket arithmetic exists for)."""
    base = spark.range(n_intervals).select(
        F.col("id").alias("interval_id"),
        (F.pmod(F.xxhash64("id"), int(lo_max * 100)) / 100).alias("lo"),
    )
    return base.withColumn(
        "hi",
        F.when(
            F.pmod(F.col("interval_id"), 7) == 0,
            ((F.floor(F.col("lo") / 100) + 1) * 100).cast("double"),
        ).otherwise(
            F.col("lo")
            + F.pmod(F.xxhash64(F.col("interval_id") + 3), int(width_max * 100)) / 100
            + 0.01
        ),
    )


def measure_range_join(spark, facts, n_intervals: int = 2000) -> dict[str, float]:
    """The bucketized range join (operators/rangejoin.py) joining fact
    values into overlapping intervals: O(N + M·spread) equi-join work, one
    probe-side shuffle at most — vs the nested-loop theta join stock Spark
    would plan."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.rangejoin import (
        range_join_bucketed,
    )

    ivals = synth_intervals(spark, n_intervals)
    joined = range_join_bucketed(
        facts.select(F.col("l_extendedprice").alias("v")),
        ivals,
        value="v",
        lo="lo",
        hi="hi",
        bucket_width=100.0,
    ).groupBy("interval_id").agg(F.count("*").alias("n"))
    return run_metered(spark, joined)


def measure_incremental_lsh(
    spark, docs, batch_frac: float = 0.02
) -> dict[str, dict[str, float]]:
    """The incremental-dedup claim, measured: dedup a small new batch
    against the persisted bucketed index (lsh_incremental_pairs) vs
    re-running full-corpus candidate generation over corpus+batch.  At
    100 TB the full path is off the table entirely; the probe shows the
    incremental path's cost tracks the BATCH size (wall and shuffle bytes)
    while the full path tracks the CORPUS."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_bands_from_array,
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_array,
        read_lsh_index,
        write_lsh_index,
    )

    n = docs.count()
    batch = docs.filter(F.col("doc_id") < int(n * batch_frac)).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    index_bands = lsh_bands_from_array(minhash_array(docs, "doc_id", "text"), "doc_id")
    write_lsh_index(index_bands, "scale_probe_lsh_idx", n_buckets=32)
    try:
        idx = read_lsh_index(spark, "scale_probe_lsh_idx")
        new_bands = lsh_bands_from_array(
            minhash_array(batch, "doc_id", "text"), "doc_id"
        )
        incremental = lsh_incremental_pairs(new_bands, idx, "doc_id")
        full = lsh_candidate_pairs(
            lsh_bands_from_array(
                minhash_array(docs.unionByName(batch), "doc_id", "text"), "doc_id"
            ),
            "doc_id",
        )
        return {
            "incremental_batch_vs_index": run_metered(spark, incremental),
            "full_recompute": run_metered(spark, full),
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS scale_probe_lsh_idx")


def measure_lsh_batch_amortization(
    spark, docs, k_batches: int = 4, batch_frac: float = 0.02
) -> dict[str, object]:
    """The multi-batch ingest amortization (lsh_ingest_pairs), measured:
    K small batches deduped against the persisted index SEQUENTIALLY
    (K calls → K exchange-free index scans) vs in ONE amortized call
    (1 index scan).  The delta is the per-call index-scan term — the cost
    that dominates when ingest cadence outpaces index size."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_bands_from_array,
        lsh_incremental_pairs,
        lsh_ingest_pairs,
        minhash_array,
        read_lsh_index,
        write_lsh_index,
    )

    n = docs.count()
    per_batch = int(n * batch_frac)
    batches = []
    for i in range(k_batches):
        b = docs.filter(
            (F.col("doc_id") >= i * per_batch) & (F.col("doc_id") < (i + 1) * per_batch)
        ).select((F.col("doc_id") + (i + 1) * 10_000_000).alias("doc_id"), "text")
        batches.append(
            lsh_bands_from_array(minhash_array(b, "doc_id", "text"), "doc_id")
        )
    index_bands = lsh_bands_from_array(minhash_array(docs, "doc_id", "text"), "doc_id")
    write_lsh_index(index_bands, "scale_probe_lsh_amort", n_buckets=32)
    try:
        idx = read_lsh_index(spark, "scale_probe_lsh_amort")
        seq_wall, seq_shuffle = 0.0, 0.0
        for b in batches:
            m = run_metered(spark, lsh_incremental_pairs(b, idx, "doc_id"))
            seq_wall += m["wall_sec"]
            seq_shuffle += m["shuffle_mb"]
        amort = run_metered(spark, lsh_ingest_pairs(batches, idx, "doc_id"))
        return {
            "k_batches": k_batches,
            "docs_per_batch": per_batch,
            "sequential": {"wall_sec": round(seq_wall, 2), "shuffle_mb": round(seq_shuffle, 1)},
            "amortized_one_scan": amort,
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS scale_probe_lsh_amort")


def measure_passage_dedup(spark, docs) -> dict[str, dict[str, float]]:
    """Dense stride-1 passage windows vs winnowed fingerprints finding
    cross-document repeats: same guarantee family, the winnowed pass
    should move ~2/(w+1) of the dense pass's shuffle volume."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        fingerprint_matches,
        passage_windows,
        repeated_passages,
        winnow_fingerprints,
    )

    dense = repeated_passages(
        passage_windows(docs, "doc_id", "text", window=19), "doc_id"
    )
    sparse = fingerprint_matches(
        winnow_fingerprints(docs, "doc_id", "text", k=8, w=12, positions=False),
        "doc_id",
    )
    return {
        "dense_stride1_windows": run_metered(spark, dense),
        "winnowed_fingerprints": run_metered(spark, sparse),
    }


def measure_corpus_quality(spark, docs) -> dict[str, dict[str, float]]:
    """The r5 corpus-quality operators at probe scale: bigram-LM training
    + scoring (default float mode vs the exact-decimal mode the oracle
    uses — measuring what partition-invariance costs), Gopher repetition
    metrics, and decontamination against a 1K-doc benchmark (the corpus
    side must stay one explode + one broadcast join as it grows)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        contamination_check,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.lm import (
        lm_perplexity,
        train_ngram_lm,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.text import (
        repetition_metrics,
    )

    uni, big = train_ngram_lm(docs, "doc_id", "text")
    uni, big = uni.cache(), big.cache()
    uni.count(), big.count()  # isolate training from the scoring probes
    out = {
        "lm_score_float": run_metered(
            spark, lm_perplexity(docs, uni, big, "doc_id", "text")
        ),
        "lm_score_exact_dp9": run_metered(
            spark, lm_perplexity(docs, uni, big, "doc_id", "text", exact_dp=9)
        ),
        "repetition_metrics": run_metered(
            spark, repetition_metrics(docs, "doc_id", "text")
        ),
        "contamination_vs_1k_bench": run_metered(
            spark,
            contamination_check(docs, docs.limit(1000), k=8),
        ),
    }
    uni.unpersist(), big.unpersist()
    return out


def synth_vectors(spark, n: int, dim: int, path: str) -> None:
    """Deterministic synthetic embeddings: n vectors of dim floats in
    [-1, 1) from hash arithmetic (no RNG)."""
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id") * 97 + i), 1000) / 500.0 - 1.0
        ).cast("float"),
    )
    spark.range(n).select(
        F.col("id").alias("vec_id"), emb.alias("embedding")
    ).write.mode("overwrite").parquet(path)


def synth_clustered_vectors(
    spark, n: int, dim: int, path: str, *, n_blobs: int = 32,
    spread: float = 0.15,
) -> None:
    """Deterministic CLUSTERED embeddings: ``n_blobs`` hash-derived blob
    centers in [-1, 1)^dim, each vector = its blob's center plus a small
    hash-derived offset (±spread).  Real embedding spaces are strongly
    clustered (that is WHY IVF works — and also why a probed cell can
    miss true neighbors that sit just across a cell boundary), so this is
    the honest regime for the recall-vs-nprobe curve; the uniform
    ``synth_vectors`` generator is IVF's easy case.  No RNG anywhere —
    bit-stable across runs and partitionings."""
    blob = F.pmod(F.xxhash64("id"), n_blobs)
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.pmod(F.xxhash64(blob * 131 + i), 1000) / 500.0 - 1.0
            + (F.pmod(F.xxhash64(F.col("id") * 97 + i), 1000) / 500.0 - 1.0)
            * spread
        ).cast("float"),
    )
    spark.range(n).select(
        F.col("id").alias("vec_id"), emb.alias("embedding")
    ).write.mode("overwrite").parquet(path)


def synth_skewed_vectors(
    spark, n: int, dim: int, path: str, *, n_blobs: int = 8,
    hot_weight: int = 7, spread: float = 0.15,
) -> None:
    """Deterministic SKEWED clustered embeddings: blob 0 receives
    ``hot_weight`` of every 10 + (n_blobs-1) hash slots, the remaining
    blobs one each — the ingest-drift regime where one IVF cell ends up
    holding most of the corpus.  Same hash-derived construction as
    :func:`synth_clustered_vectors` (no RNG, bit-stable)."""
    slot = F.pmod(F.xxhash64("id"), hot_weight + n_blobs - 1)
    blob = F.when(slot < hot_weight, F.lit(0)).otherwise(
        slot - hot_weight + 1
    )
    emb = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: (
            F.pmod(F.xxhash64(blob * 131 + i), 1000) / 500.0 - 1.0
            + (F.pmod(F.xxhash64(F.col("id") * 97 + i), 1000) / 500.0 - 1.0)
            * spread
        ).cast("float"),
    )
    spark.range(n).select(
        F.col("id").alias("vec_id"), emb.alias("embedding")
    ).write.mode("overwrite").parquet(path)


def measure_ivf_hotcell(
    spark, vecs, *, n_cells: int = 8, n_queries: int = 8, k: int = 10,
    nprobe: int = 2, lloyd_iters: int = 1, split_k: int = 4,
) -> dict[str, object]:
    """r9: the hot-cell claim, measured — a cell is the probe's SCAN
    UNIT, so when ingest drift concentrates the corpus into one cell,
    every probe touching it pays that cell's full size and nprobe stops
    mattering.  Builds the at-rest index over a skewed corpus, serves
    queries that live INSIDE the hot blob (the worst case — they always
    probe the hot cell), then applies ``ivf_split_oversized_manifest``
    and serves the same queries against the SAME index with its updated
    quantizer.  Split passes loop until no cell is oversized (one pass
    splits each oversized cell k-ways; a 50%-of-corpus cell needs two).

    Reports the cell-size histogram, recall vs exact brute force, wall,
    read bytes, and — the number the split actually re-bounds —
    ``scored_rows``: Σ over queries of their probed cells' sizes, i.e.
    candidate-scoring work.  (Union scan bytes move much less for a
    query BATCH: different queries probe different subcells, so the
    union of probed partitions stays wide even though each query's own
    scoring set collapsed; per-query latency and work follow
    scored_rows/Q.)  Recall may move when boundaries move — the honest
    number to watch alongside the cost drop."""
    from pyspark.sql import Window

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        ivf_split_oversized_manifest,
        read_ivf_centroids,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        cosine,
        cosine_topk,
        ivf_seed_centroids,
        kmeans_refine,
    )

    q = vecs.filter(F.col("vec_id") < n_queries).localCheckpoint(eager=True)
    ground = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, vecs, k=k).select("query_id", "neighbor_id").collect()
    }
    cent = kmeans_refine(
        vecs, ivf_seed_centroids(vecs, n_cells), iters=lloyd_iters
    ).localCheckpoint(eager=True)
    root = tempfile.mkdtemp(prefix="scale_probe_ivfhot_") + "/index"
    write_ivf_index_manifest(vecs, root, centroids=cent, sort_by="vec_id")

    def sizes():
        return sorted(
            (
                r["count"]
                for r in read_ivf_index_manifest(spark, root)
                .groupBy("centroid_id").count().collect()
            ),
            reverse=True,
        )

    def scored_rows(centroids) -> int:
        """Σ over queries of their nprobe probed cells' row counts —
        the candidate-scoring work the serve pays, computed from the
        same top-nprobe-centroids ranking the operator uses."""
        qs = (
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("__qv"),
            )
            .crossJoin(F.broadcast(centroids))
            .withColumn("__qc", cosine(F.col("__qv"), F.col("centroid")))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("__qc").desc(), F.col("centroid_id")
        )
        probed = (
            qs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= nprobe)
            .select("query_id", "centroid_id")
        )
        sz = read_ivf_index_manifest(spark, root).groupBy("centroid_id").count()
        return int(
            probed.join(sz, on="centroid_id").agg(F.sum("count")).first()[0]
        )

    def serve(centroids):
        df = ann_ivf_index_topk(
            q, read_ivf_index_manifest(spark, root), centroids, k=k, nprobe=nprobe
        )
        m = run_metered(spark, df)
        got = {
            (r.query_id, r.neighbor_id)
            for r in df.select("query_id", "neighbor_id").collect()
        }
        m["recall_at_k"] = round(len(got & ground) / len(ground), 3)
        m["scored_rows"] = scored_rows(centroids)
        return m

    n_total = vecs.count()
    max_rows = int(n_total / n_cells * 2)
    before_sizes = sizes()
    before = serve(cent)
    passes = 0
    while passes < 6:
        passes += 1
        if not ivf_split_oversized_manifest(
            spark, root, max_rows=max_rows, k=split_k
        ):
            break  # nothing oversized
    after_sizes = sizes()
    after = serve(read_ivf_centroids(spark, root))
    return {
        "n_vectors": n_total,
        "n_queries": n_queries,
        "k": k,
        "nprobe": nprobe,
        "max_rows": max_rows,
        "split_passes": passes,
        "cell_sizes_before": before_sizes,
        "cell_sizes_after": after_sizes,
        "hot_cell_serve_before": before,
        "hot_cell_serve_after": after,
    }


def measure_ivf_index(
    spark, vecs, n_cells: int = 64, n_queries: int = 16, nprobe: int = 4
) -> dict[str, object]:
    """The at-rest IVF index claim, measured: ANN over the cell-partitioned
    index (probed cells pruned from the file listing before any bytes are
    read) vs the on-the-fly path (full corpus assigned per query batch) vs
    brute force.  Also reports the fraction of index files the pruned scan
    actually reads — the number that becomes ~nprobe/C of corpus bytes at
    100 TB."""
    import tempfile as _tf

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ann_ivf_topk,
        cosine_topk,
        ivf_seed_centroids,
    )

    cent = ivf_seed_centroids(vecs, n_cells).persist()
    cent.count()
    path = _tf.mkdtemp(prefix="scale_probe_ivf_") + "/index"
    write_ivf_index_manifest(vecs, path, centroids=cent)
    index = read_ivf_index_manifest(spark, path)
    q = vecs.filter(F.col("vec_id") < n_queries)

    at_rest = run_metered(
        spark, ann_ivf_index_topk(q, index, cent, k=5, nprobe=nprobe)
    )
    fly = run_metered(spark, ann_ivf_topk(q, vecs, cent, k=5, nprobe=nprobe))
    brute = run_metered(spark, cosine_topk(q, vecs, k=5))

    # pruning fraction: rebuild the probe-cell filter and count files the
    # executed scan touches vs the full listing
    probes = ann_ivf_index_topk(q, index, cent, k=5, nprobe=nprobe).select(
        "centroid_id"
    ).distinct()
    cells = [r[0] for r in probes.collect()]
    read_files = (
        index.filter(F.col("centroid_id").isin(cells))
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    cent.unpersist()
    return {
        "n_cells": n_cells,
        "nprobe": nprobe,
        "n_queries": n_queries,
        "at_rest_index": at_rest,
        "on_the_fly_assign": fly,
        "brute_force": brute,
        "files_read_fraction": round(read_files / max(1, len(index.inputFiles())), 3),
    }


def measure_ivf_recall(
    spark, vecs, *, n_cells_list=(64, 256), n_queries: int = 64, k: int = 10,
    nprobes=(1, 2, 4, 8), lloyd_iters: int = 1,
) -> dict[str, object]:
    """Recall@k vs nprobe against the exact brute-force ground truth —
    the operating-point curve an IVF user picks from: each nprobe row
    reports how much of the true top-k the probed cells contain and what
    the probe costs, so recall is bought with measured wall, not faith."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
        ivf_seed_centroids,
        kmeans_refine,
    )

    q = vecs.filter(F.col("vec_id") < n_queries).localCheckpoint(eager=True)

    t0 = time.time()
    ground = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, vecs, k=k).select("query_id", "neighbor_id").collect()
    }
    brute_wall = time.time() - t0

    out: dict[str, object] = {
        "n_vectors": vecs.count(),
        "n_queries": n_queries,
        "k": k,
        "brute_force": {"wall_sec": round(brute_wall, 2), "recall_at_k": 1.0},
    }
    for n_cells in n_cells_list:
        cent = kmeans_refine(
            vecs, ivf_seed_centroids(vecs, n_cells), iters=lloyd_iters
        ).localCheckpoint(eager=True)
        for np_ in nprobes:
            t0 = time.time()
            got = {
                (r.query_id, r.neighbor_id)
                for r in ann_ivf_topk(q, vecs, cent, k=k, nprobe=np_)
                .select("query_id", "neighbor_id")
                .collect()
            }
            wall = time.time() - t0
            out[f"cells_{n_cells}_nprobe_{np_}"] = {
                "wall_sec": round(wall, 2),
                "recall_at_k": round(len(got & ground) / len(ground), 3),
            }
    return out


def measure_ivf_quantized(
    spark, vecs, *, n_cells: int = 64, n_queries: int = 64, k: int = 10,
    nprobe: int = 4, lloyd_iters: int = 1,
) -> dict[str, object]:
    """int8-quantized at-rest IVF SERVING vs float serving, measured at
    the SCALE.md-recommended operating point (clustered corpus, nprobe≥4):
    wall, read bytes (read_mb from /proc/<jvm>/io rchar — the
    read-amplification signal that rules at 100 TB; null when rchar
    metering is unavailable, i.e. non-Linux / Spark Connect), and
    recall@k vs exact brute force, for (a) the float
    index, (b) codes-only quantized serving, (c) quantized + float rerank
    of 4k candidates.  The quantized index stores BOTH codes and floats;
    parquet column pruning keeps the float pages unread in stage 1, so
    variant (c) buys back float-exact ordering for a query-bound extra
    read."""
    import tempfile as _tf

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk,
        ann_ivf_index_topk_quantized,
        cosine_topk,
        ivf_seed_centroids,
        kmeans_refine,
        quantize_embeddings,
    )

    q = vecs.filter(F.col("vec_id") < n_queries).localCheckpoint(eager=True)
    ground = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(q, vecs, k=k).select("query_id", "neighbor_id").collect()
    }
    cent = kmeans_refine(
        vecs, ivf_seed_centroids(vecs, n_cells), iters=lloyd_iters
    ).localCheckpoint(eager=True)
    root = _tf.mkdtemp(prefix="scale_probe_ivfq_")
    write_ivf_index_manifest(vecs, root + "/float", centroids=cent)
    # id-sorted cells: narrow row-group id ranges let the rerank stage's
    # candidate-id fetch skip row groups (only bites once cells span
    # multiple row groups — free either way)
    write_ivf_index_manifest(
        quantize_embeddings(vecs), root + "/quant", centroids=cent,
        sort_by="vec_id",
    )
    idx_f = read_ivf_index_manifest(spark, root + "/float")
    idx_q = read_ivf_index_manifest(spark, root + "/quant")

    def recall(df) -> float:
        got = {
            (r.query_id, r.neighbor_id)
            for r in df.select("query_id", "neighbor_id").collect()
        }
        return round(len(got & ground) / len(ground), 3)

    variants = {
        "float_index": lambda: ann_ivf_index_topk(
            q, idx_f, cent, k=k, nprobe=nprobe
        ),
        "quantized_codes_only": lambda: ann_ivf_index_topk_quantized(
            q, idx_q, cent, k=k, nprobe=nprobe
        ),
        "quantized_rerank_4k": lambda: ann_ivf_index_topk_quantized(
            q, idx_q, cent, k=k, nprobe=nprobe, rerank=4 * k
        ),
    }
    def column_mb(path: str) -> dict[str, float]:
        import glob as _glob

        import pyarrow.parquet as _pq

        tot: dict[str, int] = {}
        for f in _glob.glob(path + "/data/centroid_id=*/g=*/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    key = c.path_in_schema.split(".")[0]
                    tot[key] = tot.get(key, 0) + c.total_compressed_size
        return {k_: round(v / (1 << 20), 2) for k_, v in sorted(tot.items())}

    out: dict[str, object] = {
        "n_vectors": vecs.count(),
        "n_cells": n_cells,
        "n_queries": n_queries,
        "k": k,
        "nprobe": nprobe,
        # at-rest column footprint: the byte ratio that rules once cell
        # files are GB-sized and per-file overhead amortizes away
        "index_column_mb": column_mb(root + "/quant"),
    }
    for name, make in variants.items():
        m = run_metered(spark, make())
        m["recall_at_k"] = recall(make())
        out[name] = m
    return out


def measure_ivf_rowgroup_skip(
    spark, vecs, *, n_cells: int = 16, n_queries: int = 4, k: int = 10,
    nprobe: int = 4, rerank_mult: int = 4, lloyd_iters: int = 1,
    block_bytes: int = 128 << 10, page_bytes: int = 32 << 10,
) -> dict[str, object]:
    """VERDICT r9 item 3: prove the id-sorted-cell row-group-skipping
    claim with cells that actually SPAN multiple row groups (the r8
    probe's 256-cell point was footer-dominated — single row group per
    cell, 'identical numbers at probe scale as expected').

    Simulates the GB-cell regime by shrinking ``parquet.block.size`` (set
    on the Hadoop conf for the two index writes) instead of inflating rows (same row-groups-per-cell geometry, probe
    cost): each cell holds tens of row groups, candidates per cell ≪ row
    groups per cell — the regime where skipping can bite.  Measures the
    REAL operator's rerank candidate fetch (stage 1 runs eagerly at
    construction via the operator's bounded collect, so ``run_metered``
    on the returned frame meters the fetch) across the matrix
    {insertion-order, id-sorted} × {global In at Spark's default
    threshold 10 (degraded to a [min,max] range), global In at the
    engine threshold (real In predicate), per-cell cell_local
    predicate}; the "unsorted" layout is the index written with
    ``sort_by="qscale"``, an order unrelated to the id (the manifest
    writer always sorts within a cell).  What r9 established (and this probe pins): a GLOBAL
    candidate list cannot skip id-sorted row groups at all — cell
    membership is a similarity property, so every ~rows·C-wide sorted
    id range contains some other cell's candidate — and only
    sorted+cell_local drops read bytes; cell_local on the unsorted
    layout is a measured PESSIMIZATION (column-index two-pass, zero
    skips).  Results must be identical across all variants.  read_mb is
    null on non-Linux (see :func:`run_metered`)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ann_ivf_index_topk_quantized,
        ivf_seed_centroids,
        kmeans_refine,
        quantize_embeddings,
    )

    q = vecs.filter(F.col("vec_id") < n_queries).localCheckpoint(eager=True)
    cent = kmeans_refine(
        vecs, ivf_seed_centroids(vecs, n_cells), iters=lloyd_iters
    ).localCheckpoint(eager=True)
    # every writer task lands one file per cell it holds; the reported
    # geometry (cell files, row groups per file) says how many row
    # groups each file spans at this block size
    quant = quantize_embeddings(vecs).localCheckpoint(eager=True)
    root = tempfile.mkdtemp(prefix="scale_probe_ivfrg_")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    opts = {
        "parquet.block.size": str(block_bytes),
        "parquet.page.size": str(page_bytes),
    }
    saved = {k_: hconf.get(k_) for k_ in opts}
    try:
        for k_, v in opts.items():
            hconf.set(k_, v)
        for layout, order in (("unsorted", "qscale"), ("sorted", "vec_id")):
            write_ivf_index_manifest(
                quant, f"{root}/{layout}", centroids=cent, sort_by=order
            )
    finally:
        for k_, v in saved.items():
            if v is None:
                hconf.unset(k_)
            else:
                hconf.set(k_, v)

    def cell_geometry(path: str) -> dict[str, float]:
        """row groups per cell file + mean id-range width per row group
        (the narrow-min/max evidence sorting is supposed to buy)."""
        n_files, n_groups, widths = 0, 0, []
        for f in _glob.glob(path + "/data/centroid_id=*/g=*/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            n_files += 1
            n_groups += md.num_row_groups
            idx = next(
                i for i in range(len(md.schema))
                if md.schema.column(i).name == "vec_id"
            )
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is not None and st.has_min_max:
                    widths.append(st.max - st.min)
        return {
            "cell_files": n_files,
            "row_groups": n_groups,
            "row_groups_per_cell": round(n_groups / max(n_files, 1), 1),
            "mean_rowgroup_id_range": round(
                sum(widths) / max(len(widths), 1)
            ),
        }

    thr_key = "spark.sql.parquet.pushdown.inFilterThreshold"
    engine_thr = spark.conf.get(thr_key)
    out: dict[str, object] = {
        "n_vectors": vecs.count(),
        "n_cells": n_cells,
        "n_queries": n_queries,
        "k": k,
        "nprobe": nprobe,
        "rerank": rerank_mult * k,
        "parquet_block_bytes": block_bytes,
        "geometry": {
            "unsorted": cell_geometry(root + "/unsorted"),
            "sorted": cell_geometry(root + "/sorted"),
        },
    }
    results: dict[str, set] = {}
    variants = (
        ("global_thr10", "global", "10"),
        ("global_in", "global", engine_thr),
        ("cell_local", "cell_local", engine_thr),
    )
    for layout in ("unsorted", "sorted"):
        idx = read_ivf_index_manifest(spark, f"{root}/{layout}")
        for name, fetch, thr in variants:
            spark.conf.set(thr_key, thr)
            try:
                df = ann_ivf_index_topk_quantized(
                    q, idx, cent, k=k, nprobe=nprobe,
                    rerank=rerank_mult * k, fetch=fetch,
                )
                m = run_metered(spark, df)
                results[f"{layout}.{name}"] = {
                    (r.query_id, r.neighbor_id, r.rank)
                    for r in df.select(
                        "query_id", "neighbor_id", "rank"
                    ).collect()
                }
                out[f"{layout}_{name}"] = m
            finally:
                spark.conf.set(thr_key, engine_thr)
    first = next(iter(results.values()))
    out["results_invariant_across_variants"] = all(
        v == first for v in results.values()
    )
    return out


def measure_quarantine_hwm(
    spark, *, n_batches: int = 400, probe_points=(10, 50, 150, 400),
) -> dict[str, object]:
    """r9: the quarantine sink's cutoff read is O(1) in stream age (each
    _hwm partition carries the running max, so batch N reads partition
    N-1 by direct path).  This probe measures exactly what changed: at
    growing _hwm partition counts, the wall of (a) the r8 full-relation
    read (list + read every prior batch's file, then max) vs (b) the r9
    direct-path read of the previous partition — plus end-to-end sink
    flatness (mean per-batch sink wall over the first vs last 10
    batches of a real run through make_quarantine_sink)."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
    )

    root = tempfile.mkdtemp(prefix="scale_probe_qhwm_") + "/stream"
    hwm_dir = f"{root}/_hwm"

    def inner(clean, batch_id):
        clean.write.mode("overwrite").format("noop").save()

    sink = make_quarantine_sink(inner, root, watermark_col="ts",
                                lateness="30 minutes")

    def batch(i: int):
        # event times advance one minute per batch (epoch 2026-01-01)
        return spark.createDataFrame(
            [(j, i * 60, 1) for j in range(10)],
            "user_id long, off long, amount long",
        ).select(
            "user_id",
            F.timestamp_seconds(F.lit(1767225600) + F.col("off")).alias("ts"),
            "amount",
        )

    walls: list[float] = []
    reads: dict[str, dict[str, float]] = {}
    points = sorted(set(probe_points))
    for i in range(n_batches):
        t0 = time.time()
        sink(batch(i), i)
        walls.append(time.time() - t0)
        if (i + 1) in points:
            # (a) the r8 full-relation read at this partition count
            t0 = time.time()
            full = (
                spark.read.parquet(hwm_dir)
                .where(F.col("ingest_batch") != i + 1)
                .agg(F.max("max_ts"))
                .first()[0]
            )
            full_w = time.time() - t0
            # (b) the r9 direct-path read of the previous partition
            t0 = time.time()
            fast = (
                spark.read.parquet(f"{hwm_dir}/ingest_batch={i}")
                .agg(F.max("cum_max_ts"))
                .first()[0]
            )
            fast_w = time.time() - t0
            assert full == fast, (full, fast)  # same cutoff, by design
            reads[f"partitions_{i + 1}"] = {
                "full_relation_read_sec": round(full_w, 3),
                "direct_path_read_sec": round(fast_w, 3),
            }
    k = 10
    return {
        "n_batches": n_batches,
        "rows_per_batch": 10,
        "reads_at_partition_count": reads,
        "sink_wall_first10_mean_sec": round(sum(walls[1:1 + k]) / k, 3),
        "sink_wall_last10_mean_sec": round(sum(walls[-k:]) / k, 3),
    }


def measure_zorder_pruning(spark, n_rows: int = 10_000_000) -> dict[str, object]:
    """The multi-column clustering claim at probe scale: a selective
    filter on the SECOND z-ordered column should touch a small fraction
    of files (parquet min/max row-group/file skipping), where a layout
    sorted on the first column alone must scan everything for that
    predicate."""
    from datawarehouse_etl_using_hyperjoin_spark.sources.files import with_zorder

    df = spark.range(n_rows).select(
        (F.pmod(F.xxhash64("id"), 1000000) / 1000000.0).alias("x"),
        (F.pmod(F.xxhash64(F.col("id") + 7), 1000000) / 1000000.0).alias("y"),
        F.pmod(F.xxhash64(F.col("id") + 13), 1000).alias("payload"),
    )
    layouts = {}
    base = tempfile.mkdtemp(prefix="zorder_probe_")
    df.repartition(32).write.mode("overwrite").parquet(base + "/plain")
    df.repartitionByRange(32, "x").sortWithinPartitions("x").write.mode(
        "overwrite"
    ).parquet(base + "/xsorted")
    with_zorder(df, ["x", "y"]).repartitionByRange(32, "__zorder").sortWithinPartitions(
        "__zorder"
    ).drop("__zorder").write.mode("overwrite").parquet(base + "/zorder")

    out: dict[str, object] = {}
    for name in ("plain", "xsorted", "zorder"):
        t = spark.read.parquet(f"{base}/{name}")
        q = t.filter((F.col("y") >= 0.40) & (F.col("y") < 0.41)).agg(
            F.sum("payload").alias("s")
        )
        m = run_metered(spark, q)
        files_hit = (
            t.filter((F.col("y") >= 0.40) & (F.col("y") < 0.41))
            .select(F.input_file_name())
            .distinct()
            .count()
        )
        m["files_with_matches"] = files_hit
        m["files_total"] = len(t.inputFiles())
        out[name] = m
    return out


def measure_bucketed_fact_customer_join(
    spark, li, n_customers: int
) -> dict[str, dict[str, float]]:
    """The OTHER growing-dim edge (fact ⋈ customer — the dim the engine
    refuses to force-broadcast because it grows with the fact): at-rest
    bucketed-by-custkey layouts vs plain parquet, broadcast disabled."""
    li = li.withColumn(
        "l_custkey", F.pmod(F.xxhash64(F.col("l_orderkey") + 3), n_customers)
    )
    cust = spark.range(n_customers).select(
        F.col("id").alias("c_custkey"),
        F.pmod(F.xxhash64("id"), 25).alias("c_nationkey"),
        (F.pmod(F.xxhash64(F.col("id") + 11), 10000) / 100).alias("c_acctbal"),
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.files import write_bucketed

    spark.sql("DROP TABLE IF EXISTS probe_li_cust_bkt")
    spark.sql("DROP TABLE IF EXISTS probe_cust_bkt")
    write_bucketed(li, "probe_li_cust_bkt", "l_custkey", n_buckets=32)
    write_bucketed(cust, "probe_cust_bkt", "c_custkey", n_buckets=32)
    plain_li = tempfile.mkdtemp(prefix="probe_lic_") + "/t"
    plain_cust = tempfile.mkdtemp(prefix="probe_cust_") + "/t"
    li.write.mode("overwrite").parquet(plain_li)
    cust.write.mode("overwrite").parquet(plain_cust)

    def agg(l, c):
        return (
            l.join(c, F.col("l_custkey") == F.col("c_custkey"))
            .groupBy("c_nationkey")
            .agg(F.sum(F.col("l_quantity") * F.col("c_acctbal")).alias("v"))
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = {
            "bucketed": run_metered(
                spark,
                agg(spark.table("probe_li_cust_bkt"), spark.table("probe_cust_bkt")),
            ),
            "plain": run_metered(
                spark, agg(spark.read.parquet(plain_li), spark.read.parquet(plain_cust))
            ),
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS probe_li_cust_bkt")
        spark.sql("DROP TABLE IF EXISTS probe_cust_bkt")
    return out


def measure_bucketed_fact_join(spark, li, n_orders: int) -> dict[str, dict[str, float]]:
    """The engine's only big⋈big edge (SCALE.md: lineitem ⋈ orders) with
    its at-rest answer, measured at probe scale: both sides written
    bucketed by the order key, the join plans exchange-free off the
    bucketed scans; vs the same join from plain parquet, which shuffles
    both sides.  Broadcast is disabled — at 100 TB neither side fits."""
    orders = spark.range(n_orders).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id"), 5).alias("o_priority"),
        (F.pmod(F.xxhash64(F.col("id") + 31), 900000) / 100).alias("o_totalprice"),
    )
    spark.sql("DROP TABLE IF EXISTS probe_li_bkt")
    spark.sql("DROP TABLE IF EXISTS probe_ord_bkt")
    from datawarehouse_etl_using_hyperjoin_spark.sources.files import write_bucketed

    write_bucketed(li, "probe_li_bkt", "l_orderkey", n_buckets=32)
    write_bucketed(orders, "probe_ord_bkt", "o_orderkey", n_buckets=32)
    plain_li = tempfile.mkdtemp(prefix="probe_li_") + "/t"
    plain_ord = tempfile.mkdtemp(prefix="probe_ord_") + "/t"
    li.write.mode("overwrite").parquet(plain_li)
    orders.write.mode("overwrite").parquet(plain_ord)

    def agg(l, o):
        return (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_priority")
            .agg(F.sum(F.col("l_quantity") * F.col("o_totalprice")).alias("v"))
        )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = {
            "bucketed": run_metered(
                spark, agg(spark.table("probe_li_bkt"), spark.table("probe_ord_bkt"))
            ),
            "plain": run_metered(
                spark, agg(spark.read.parquet(plain_li), spark.read.parquet(plain_ord))
            ),
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS probe_li_bkt")
        spark.sql("DROP TABLE IF EXISTS probe_ord_bkt")
    return out


def measure_dedup(spark, docs) -> float:
    """Wall for the linear dedup stages: MinHash signatures → band table →
    bucket-grouped candidate pairs (the north-star corpus-thinning path)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        lsh_bands_from_array,
        lsh_candidate_pairs,
        minhash_array,
    )

    def pipeline():
        sig = minhash_array(docs, "doc_id", "text")
        bands = lsh_bands_from_array(sig, "doc_id")
        return lsh_candidate_pairs(bands, "doc_id")

    pipeline().write.mode("overwrite").format("noop").save()
    t0 = time.time()
    pipeline().write.mode("overwrite").format("noop").save()
    return time.time() - t0


def measure_selection(spark, docs) -> dict[str, float]:
    """r6 selection/scoring family wall seconds on ``docs`` (doc_id, text):
    DSIR end-to-end, classifier serving, temperature mixing, one BPE
    pair-count round.  All linear-plus-broadcast shapes — the probe shows
    whether wall tracks corpus size."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.bpe import (
        pair_counts,
        symbolize,
        word_histogram,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.classifier import (
        score_quality,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.importance import (
        dsir_select,
        hashed_ngram_features,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import (
        temperature_sample,
    )

    # imbalanced synthetic strata (~60/30/10) for the temperature probe
    strat = docs.withColumn(
        "stratum",
        F.when(F.pmod("doc_id", 10) < 6, "a")
        .when(F.pmod("doc_id", 10) < 9, "b")
        .otherwise("c"),
    )
    weights = spark.range(10_000).select(
        F.col("id").alias("bucket"),
        ((F.pmod(F.col("id") * 37 + 11, 2001) - 1000) / F.lit(1000.0)).alias(
            "weight"
        ),
    )

    def timed(make) -> float:
        make().write.mode("overwrite").format("noop").save()
        t0 = time.time()
        make().write.mode("overwrite").format("noop").save()
        return round(time.time() - t0, 3)

    target = docs.filter(F.pmod("doc_id", 10) == 0)
    return {
        "dsir_select": timed(
            lambda: dsir_select(docs, target, "doc_id", "text", 100,
                                target_subset=True)
        ),
        "quality_score": timed(
            lambda: score_quality(
                hashed_ngram_features(docs, "doc_id", "text"),
                weights, -0.5, "doc_id",
            )
        ),
        "temperature_sample": timed(
            lambda: temperature_sample(strat, "stratum", "doc_id")
        ),
        "bpe_pair_counts": timed(
            lambda: pair_counts(symbolize(word_histogram(docs, "text")))
        ),
    }


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def measure_stream_join_state(
    spark,
    sf_dir: str = "/root/testdata/sf0.1",
    delays=("5 days", "30 days", "150 days"),
    provider: str | None = None,
) -> dict[str, dict]:
    """State-store size of the orders⋈lineitem stream–stream join as a
    function of watermark delay — measuring the claim (streaming/pipeline
    .py stream_stream_join) that the event-time bound is what keeps join
    state finite.

    Each side is replayed as a time-ordered multi-file stream (range-
    partitioned on event time, one file per micro-batch) so the watermark
    actually advances between micro-batches and expired state is evicted;
    the reported numbers come from the engine's own stateOperators
    progress metrics after a full drain.

    ``provider`` optionally pins the state-store provider class for the
    run (e.g. :data:`ROCKSDB_PROVIDER`, the 100 TB posture's
    past-memory-threshold provider) — r10: the growth curve itself, not
    just compatibility, measured under RocksDB; RocksDB's own memory/SST
    metrics are reported when present.
    """
    import shutil

    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        read_parquet_stream,
        stream_stream_join,
    )

    def time_ordered_stream_dir(df, ts_col, prefix, n_files=24):
        path = tempfile.mkdtemp(prefix=prefix)
        # range-partition on event time: part-0000i covers the i-th time
        # slice, and the file source feeds files in path order → the
        # watermark advances monotonically across micro-batches
        df.repartitionByRange(n_files, F.col(ts_col)).write.mode("overwrite").parquet(path)
        return path

    opath = time_ordered_stream_dir(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "sjs_ord_"
    )
    lpath = time_ordered_stream_dir(
        load_table(spark, sf_dir, "lineitem"), "l_shipdate", "sjs_li_"
    )
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    if provider is not None:
        spark.conf.set(provider_key, provider)
    out: dict[str, dict] = {}
    for delay in delays:
        # the join bound is fixed (150 days, the shape the engine ships);
        # delay controls how long PAST the bound state lingers before the
        # watermark lets the store evict it
        cond = F.expr(
            "o_orderkey = l_orderkey AND l_shipdate >= o_orderdate"
            " AND l_shipdate <= o_orderdate + interval 150 days"
        )
        joined = stream_stream_join(
            read_parquet_stream(spark, opath, max_files_per_trigger=1),
            read_parquet_stream(spark, lpath, max_files_per_trigger=1),
            cond,
            left_ts="o_orderdate",
            right_ts="l_shipdate",
            left_delay=delay,
            right_delay=delay,
        ).select("o_orderkey", "l_linenumber")
        ckpt = tempfile.mkdtemp(prefix="sjs_ckpt_")
        t0 = time.time()
        q = (
            joined.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        drain_wall = time.time() - t0
        # aggregate across ALL micro-batches (lastProgress is per-batch):
        # the peak is the number that must fit in executor memory at scale
        totals, removed, mem = [], 0, []
        rocks_mem, rocks_sst = [], []
        n_batches = 0
        for prog in q.recentProgress:
            n_batches += 1
            ops = prog.get("stateOperators") or []
            if ops:
                totals.append(ops[0].get("numRowsTotal") or 0)
                removed += ops[0].get("numRowsRemoved") or 0
                mem.append(ops[0].get("memoryUsedBytes") or 0)
                cm = ops[0].get("customMetrics") or {}
                rocks_mem.append(cm.get("rocksdbTotalMemoryUsage") or 0)
                rocks_sst.append(cm.get("rocksdbSstFileSize") or 0)
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        out[delay] = {
            "state_rows_peak": max(totals) if totals else None,
            "state_rows_at_drain": totals[-1] if totals else None,
            "state_rows_evicted_total": removed,
            "state_memory_peak_bytes": max(mem) if mem else None,
            "drain_wall_sec": round(drain_wall, 2),
            "n_batches": n_batches,
            "sec_per_batch": round(drain_wall / max(n_batches, 1), 3),
        }
        if any(rocks_mem) or any(rocks_sst):
            out[delay]["rocksdb_memory_peak_bytes"] = max(rocks_mem)
            out[delay]["rocksdb_sst_peak_bytes"] = max(rocks_sst)
    if provider is not None:
        if prev_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev_provider)
    return out


def measure_simhash(spark, docs) -> float:
    """Wall for the zero-shuffle simhash fingerprint (rewritten r3:
    single-pass nibble-decoded vote folding)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import simhash64

    simhash64(docs, "doc_id", "text").write.mode("overwrite").format("noop").save()
    t0 = time.time()
    simhash64(docs, "doc_id", "text").write.mode("overwrite").format("noop").save()
    return time.time() - t0


def measure(spark, li, parts) -> dict[str, float]:
    def run(df):
        df.write.mode("overwrite").format("noop").save()
        t0 = time.time()
        df.write.mode("overwrite").format("noop").save()
        return time.time() - t0

    q1 = li.filter(F.col("l_discount") > 0.02).groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"),
        F.count("*").alias("n"),
    )
    hyper = (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .groupBy("p_band")
        .agg(F.sum(F.col("l_quantity") * F.col("p_price")).alias("sales"))
    )
    w = Window.partitionBy("l_partkey").orderBy(F.col("l_extendedprice").desc())
    topk = (
        li.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
        .groupBy("l_returnflag").agg(F.count("*").alias("n"))
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.sketches import (
        exact_group_quantiles,
    )

    quant = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9]
    )
    quant_dist = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9], chunks=32
    )
    return {
        "q1_agg": run(q1),
        "hyperjoin_agg": run(hyper),
        "window_topk": run(topk),
        "exact_quantiles": run(quant),
        "exact_quantiles_chunked": run(quant_dist),
    }


def measure_cc_depth(
    spark, n_edges: int = 1_000_000, chain_lens=(10, 100, 1000),
    prop_round_cap: int = 150,
) -> dict[str, dict]:
    """Convergence-depth crossover: min-label propagation (O(diameter)
    rounds) vs large-star/small-star (O(log² n) rounds) on ~``n_edges``
    path graphs of controlled chain length.

    Chain length L = component diameter; propagation needs ~L rounds
    (each round = 2 shuffles + a convergence count + a localCheckpoint
    materialization, so wall grows linearly with depth), big-star stays
    flat.  ``prop_round_cap`` bounds the propagation run for deep chains
    — a DNF at the cap is itself the measurement."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.graph import (
        connected_components,
        connected_components_bigstar,
    )

    out: dict[str, dict] = {}
    for L in chain_lens:
        n_chains = max(1, n_edges // L)
        # edge k: chain c = k // L, position p = k % L; path c0-c1-...-cL
        edges = (
            spark.range(n_chains * L)
            .select(
                F.expr(f"id div {L} * {L + 1} + id % {L}").alias("id_a"),
                F.expr(f"id div {L} * {L + 1} + id % {L} + 1").alias("id_b"),
            )
            .localCheckpoint(eager=True)
        )
        entry: dict[str, dict] = {"n_edges": n_chains * L, "chain_len": L}
        for name, fn in (
            ("propagation", connected_components),
            ("bigstar", connected_components_bigstar),
        ):
            stats: dict = {}
            cap = prop_round_cap if name == "propagation" else 60
            t0 = time.time()
            try:
                labels = fn(edges, max_iter=cap, stats=stats)
                # force full materialization + sanity: every chain collapses
                # to its head label -> n_chains distinct components
                n_comp = labels.select("component").distinct().count()
                wall = time.time() - t0
                assert n_comp == n_chains, (L, name, n_comp, n_chains)
                entry[name] = {
                    "wall_sec": round(wall, 2),
                    "rounds": stats.get("rounds"),
                }
            except RuntimeError:
                entry[name] = {
                    "wall_sec": round(time.time() - t0, 2),
                    "rounds": f">{cap} (DNF at cap)",
                }
        out[f"chain_{L}"] = entry
    return out


def measure_hygiene(spark, docs) -> dict[str, float]:
    """r6 web-hygiene family wall seconds on ``docs`` (doc_id, text):
    corpus-wide line dedup (with planted exact copies so the window does
    real elimination), the URL+C4 column-gate pass, and BM25 scoring.
    Line dedup is the only shuffling member (one window exchange + one
    regroup); the rest are linear column passes."""
    import time as _t

    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        dedup_lines_in_docs,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.retrieval import (
        bm25_scores,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.text import c4_gates
    from datawarehouse_etl_using_hyperjoin_spark.operators.web import (
        normalize_url,
        url_domain,
    )

    out: dict[str, float] = {}

    def wall(label, df):
        t0 = _t.time()
        df.write.format("noop").mode("overwrite").save()
        out[label] = round(_t.time() - t0, 2)

    with_dups = docs.unionByName(
        docs.where(F.pmod("doc_id", 3) == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    wall("line_dedup", dedup_lines_in_docs(with_dups, "doc_id", "text"))
    urls = docs.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://WWW.s"),
            F.pmod("doc_id", 64).cast("string"),
            F.lit(".Example.COM:443/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&id=1#f"),
        ),
    )
    gated = c4_gates(
        urls.withColumn("url_norm", normalize_url(F.col("url")))
        .withColumn("domain", url_domain(F.col("url_norm"))),
        "doc_id", "text",
    )
    wall("url_c4_gates", gated)
    wall("bm25", bm25_scores(docs, "doc_id", "text",
                             ("w1", "w17", "w256", "w999", "w2048")))
    return out


def synth_events(spark, n_events: int, n_users: int, path: str) -> None:
    """Deterministic synthetic event stream shaped like the fixture
    events table (ts, user_id, event_type) with a funnel-weighted type
    mix (~60% view / 30% click / 10% purchase) and the fixture's
    ~67 events/user density preserved, so per-user fold arrays stay the
    same size while total rows scale."""
    h = F.xxhash64(F.col("id") * 2654435761)
    etype = (
        F.when(F.pmod(h, 10) < 6, "view")
        .when(F.pmod(h, 10) < 9, "click")
        .otherwise("purchase")
    )
    spark.range(n_events).select(
        F.timestamp_seconds(
            F.lit(1700000000) + F.pmod(F.xxhash64(F.col("id") * 31 + 7), 86400 * 90)
        ).cast("timestamp_ntz").alias("ts"),
        F.pmod(F.xxhash64(F.col("id") * 17 + 3), n_users).alias("user_id"),
        etype.alias("event_type"),
    ).write.mode("overwrite").parquet(path)


def measure_events(spark, events) -> dict[str, float]:
    """Event-analytics family wall seconds on ``events`` (ts, user_id,
    event_type): greedy 3-stage funnel + its report (ONE exchange, per-
    user array fold), and the weekly cohort-retention triangle (two keyed
    aggregations + a user-keyed join)."""
    import time as _t

    from datawarehouse_etl_using_hyperjoin_spark.operators.events import (
        cohort_retention,
        funnel,
        funnel_report,
    )

    out: dict[str, float] = {}

    def wall(label, df):
        t0 = _t.time()
        df.write.format("noop").mode("overwrite").save()
        out[label] = round(_t.time() - t0, 2)

    stages = ("view", "click", "purchase")
    wall("funnel", funnel(events, "user_id", "ts", "event_type", stages))
    wall(
        "funnel_report",
        funnel_report(
            funnel(events, "user_id", "ts", "event_type", stages), len(stages)
        ),
    )
    wall("cohort_retention", cohort_retention(events, "user_id", "ts"))

    # Skew: one mega-user holding 10% of all events — the funnel fold is
    # per-row sequential, so this should cost one oversized row, not a
    # skewed join (the docstring claim under test).
    mega = events.limit(events.count() // 10).select(
        "ts", F.lit(-1).cast("long").alias("user_id"), "event_type"
    )
    wall(
        "funnel_mega_user",
        funnel(events.unionByName(mega), "user_id", "ts", "event_type", stages),
    )
    return out


def measure_corpus_diff(spark, docs) -> dict[str, float]:
    """corpus_diff wall: old = docs, new = docs with 1/5 dropped, 1/7
    rewritten and a 1/9-sized tail appended — every status arm exercised.
    The full-outer join carries only (id, 32-byte md5) per side."""
    import time as _t

    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import corpus_diff

    changed = F.pmod("doc_id", 7) == 0
    new = (
        docs.where(F.pmod("doc_id", 5) != 0)
        .select(
            "doc_id",
            F.when(changed, F.concat(F.col("text"), F.lit(" v2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.where(F.pmod("doc_id", 9) == 0).select(
                (F.col("doc_id") + 50_000_000).alias("doc_id"), "text"
            )
        )
    )
    t0 = _t.time()
    corpus_diff(docs, new).write.format("noop").mode("overwrite").save()
    return {"corpus_diff": round(_t.time() - t0, 2)}


def measure_fact_layout(
    spark,
    sf_dir: str,
    *,
    mult: int = 20,
    n_batches: int = 20,
    maintenance_every: int | None = None,
    min_merge_mb: int | None = None,
) -> dict[str, dict]:
    """r11: what the LEDGERED manifest fact commit costs vs the
    partition layout, isolated to the sink (the rest of the composed
    pipeline is identical — ``star_pipeline`` measures that).  The SAME
    enriched batches drive ``make_star_sink`` in both layouts; per-batch
    wall and the manifest's publish overhead (one KB-scale PUT + a
    read-back of the live manifest per batch) are what differ.  Also
    records a replayed delivery's cost in each layout: the partition
    layout re-executes the full batch write (idempotent overwrite), the
    manifest layout detects it in the ledger and skips the fact write
    after the dim upsert.

    ``maintenance_every`` (r12, VERDICT r11 Next #4) adds a THIRD
    variant: the manifest layout with ``make_maintenance_sink`` live on
    the same cadence hook the pipeline exposes — demonstrating, inside
    the composed 20× sink, that the generation count stays BOUNDED at
    O(keep_last + every) instead of O(stream age), per-batch wall stays
    flat (the cadence passes pay for themselves), and the aged full-read
    cost the r11 probe decomposed (~0.5 s manifest resolution +
    generation-root listing) is retired.  Every variant records
    ``gens_per_batch`` (manifest layouts) and a final ``read_wall_sec``."""
    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
        master_data,
        transactions,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_star_sink,
        stream_static_hyperjoin,
    )

    master = master_data(spark, sf_dir).localCheckpoint(eager=True)
    big = (
        transactions(spark, sf_dir)
        .crossJoin(
            F.broadcast(spark.range(mult).withColumnRenamed("id", "__rep"))
        )
        .withColumn(
            "order_id", F.col("order_id") + F.col("__rep") * F.lit(10_000_000)
        )
        .drop("__rep")
    )
    enriched = stream_static_hyperjoin(big, master).withColumn(
        "__b", F.pmod(F.xxhash64("order_id", "line_number"), F.lit(n_batches))
    ).localCheckpoint(eager=True)
    batches = [
        enriched.filter(F.col("__b") == b).drop("__b")
        for b in range(n_batches)
    ]
    out: dict[str, dict] = {
        "mult": mult, "n_batches": n_batches, "rows": enriched.count(),
    }
    variants: list[tuple[str, int | None, int | None]] = [
        ("partition", None, None), ("manifest", None, None),
    ]
    if maintenance_every:
        # untier by forcing an effectively-infinite freeze threshold so
        # the quadratic-rewrite shape is measured next to the tiered one
        variants.append(("manifest", int(maintenance_every), 1 << 20))
        if min_merge_mb:
            variants.append(
                ("manifest", int(maintenance_every), int(min_merge_mb))
            )
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        read_manifest_table,
    )

    for layout, every, tier in variants:
        root = tempfile.mkdtemp(prefix="fact_layout_") + "/dw"
        fact_root = f"{root}/fact_enriched"
        sink = make_star_sink(root, fact_layout=layout)
        inner_sink = sink  # replay timing bypasses the maintenance
        # wrapper: with (n_batches-1) % every == 0 the wrapped call
        # would run a full compaction pass inside the replay timer,
        # misreporting the ledger-skip cost this field isolates
        if every:
            from datawarehouse_etl_using_hyperjoin_spark.maintenance import (
                make_maintenance_sink,
            )

            passes: list[dict] = []

            def on_stats(bid, st, _p=passes, _r=fact_root):
                s = st.get(f"manifest_table:{_r}", {})
                _p.append({
                    "batch": bid,
                    "merged_rows": (
                        s.get("rows", 0)
                        if s.get("gens_after") != s.get("gens_before")
                        else 0
                    ),
                })

            sink = make_maintenance_sink(
                sink, every, keep_last=2, manifest_tables=[fact_root],
                min_merge_mb=tier, on_stats=on_stats,
            )
        walls, gens_per_batch = [], []
        for b, df in enumerate(batches):
            t0 = time.time()
            sink(df, b)
            walls.append(round(time.time() - t0, 2))
            if layout == "manifest":
                gens_per_batch.append(
                    len(manifest_read(spark, fact_root)["gens"])
                )
        t0 = time.time()
        # re-delivery of a committed batch (inner sink: see note above)
        inner_sink(batches[-1], n_batches - 1)
        replay_wall = round(time.time() - t0, 2)
        t0 = time.time()
        if layout == "manifest":
            fact_rows = read_manifest_table(spark, fact_root).count()
        else:
            fact_rows = spark.read.parquet(fact_root).count()
        read_wall = round(time.time() - t0, 2)
        key = layout
        if every:
            key += f"+maint{every}"
            if tier and tier < (1 << 20):
                key += f"+tier{tier}mb"
        out[key] = {
            "total_wall_sec": round(sum(walls), 2),
            "first3_wall": walls[:3],
            "last3_wall": walls[-3:],
            "replay_wall_sec": replay_wall,
            "read_wall_sec": read_wall,
            "fact_rows": fact_rows,
        }
        if gens_per_batch:
            out[key]["gens_per_batch"] = gens_per_batch
        if every:
            out[key]["maintenance_passes"] = passes
            out[key]["rewritten_rows_total"] = sum(
                p["merged_rows"] for p in passes
            )
        assert out[key]["fact_rows"] == out["partition"]["fact_rows"]
    return out


def measure_manifest_stats(
    spark,
    *,
    n_batches: int = 64,
    rows_per_batch: int = 200_000,
) -> dict:
    """Generation-stats data skipping on an AGED manifest table (r12).

    An event-time-keyed stream (batch b covers day b — the natural
    append-mostly-ordered shape of a log/fact table) ages into
    ``n_batches`` generations; a narrow time-window read is the probe.
    Four measurements:

    1. append cost with vs without stats collection (the per-batch
       single-row agg the stats add);
    2. the aged narrow read, unpruned (``read + filter``) vs pruned
       (``where=``): wall, generations touched, files touched;
    3. the same read after a PLAIN compaction (one merged generation —
       the worst case for generation stats: the merged range spans
       everything, pruning degrades to the residual filter);
    4. after a RANGE-SPLIT clustered compaction: pruning restored on
       the compacted layout.
    """
    import datetime as _dt
    import shutil as _sh

    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        compact_manifest_table,
        manifest_table_append,
        plan_manifest_read,
        read_manifest_table,
    )

    day0 = F.to_date(F.lit("2024-01-01"))

    def batch(b: int):
        return (
            spark.range(rows_per_batch)
            .select(
                (F.col("id") + b * rows_per_batch).alias("doc_id"),
                F.date_add(day0, b).alias("d"),
                (F.rand(seed=b) * 100).alias("score"),
                F.concat(F.lit("payload-"), F.col("id")).alias("text"),
            )
        )

    out: dict = {}
    roots = {}
    for variant, cols, bloom in (
        ("no_stats", None, None),
        ("stats", ["d"], None),
        ("bloom", ["d"], ["doc_id"]),
    ):
        root = tempfile.mkdtemp(prefix="manstats_") + "/t"
        roots[variant] = root
        t0 = time.time()
        for b in range(n_batches):
            manifest_table_append(
                batch(b), root, b,
                stats_cols=cols if b == 0 else None,  # sticky thereafter
                bloom_cols=bloom if b == 0 else None,
            )
        out[f"append_wall_{variant}"] = round(time.time() - t0, 2)

    root = roots["stats"]
    lo, hi = (
        _dt.date(2024, 1, 1) + _dt.timedelta(days=n_batches // 2),
        _dt.date(2024, 1, 1) + _dt.timedelta(days=n_batches // 2 + 1),
    )
    where = [("d", "between", (lo, hi))]

    def timed_reads(label: str) -> None:
        t0 = time.time()
        full = read_manifest_table(spark, root).where(
            F.col("d").between(F.lit(lo), F.lit(hi))
        )
        n_full = full.count()
        files_full = len(full.inputFiles())
        unpruned = round(time.time() - t0, 3)
        t0 = time.time()
        pruned = read_manifest_table(spark, root, where=where)
        n_pruned = pruned.count()
        files_pruned = len(pruned.inputFiles())
        pruned_wall = round(time.time() - t0, 3)
        plan = plan_manifest_read(spark, root, where)
        assert n_full == n_pruned, (label, n_full, n_pruned)
        out[label] = {
            "rows": n_full,
            "unpruned_wall": unpruned,
            "pruned_wall": pruned_wall,
            "gens_total": plan["total"],
            "gens_scanned": plan["scanned"],
            "files_unpruned": files_full,
            "files_pruned": files_pruned,
        }

    timed_reads("aged_read")

    # OR-window read (r13): TWO disjoint day ranges in one predicate —
    # pruning is the union of the per-disjunct survivor sets, so the
    # read touches both ranges' generations and nothing else (the shape
    # that fell back to an unpredicated scan when where= was AND-only)
    lo2, hi2 = (
        _dt.date(2024, 1, 1) + _dt.timedelta(days=n_batches // 4),
        _dt.date(2024, 1, 1) + _dt.timedelta(days=n_batches // 4 + 1),
    )
    or_where = [(
        "or",
        [[("d", "between", (lo, hi))], [("d", "between", (lo2, hi2))]],
    )]
    t0 = time.time()
    or_read = read_manifest_table(spark, root, where=or_where)
    or_rows = or_read.count()
    or_wall = round(time.time() - t0, 3)
    or_plan = plan_manifest_read(spark, root, or_where)
    t0 = time.time()
    or_full = read_manifest_table(spark, root).where(
        F.col("d").between(F.lit(lo), F.lit(hi))
        | F.col("d").between(F.lit(lo2), F.lit(hi2))
    )
    n_or_full = or_full.count()
    or_unpruned = round(time.time() - t0, 3)
    assert or_rows == n_or_full, (or_rows, n_or_full)
    out["or_window_read"] = {
        "rows": or_rows,
        "unpruned_wall": or_unpruned,
        "pruned_wall": or_wall,
        "gens_total": or_plan["total"],
        "gens_scanned": or_plan["scanned"],
    }

    # Bloom point lookup on the bloom-enabled aged table: a doc_id exists
    # in exactly one generation, but every generation's [min,max] id
    # range matches it — min/max stats cannot prune, the Bloom can
    broot = roots["bloom"]
    target_id = (n_batches // 2) * rows_per_batch + 7
    t0 = time.time()
    full = read_manifest_table(spark, broot).where(
        F.col("doc_id") == target_id
    )
    n_full = full.count()
    lookup_unpruned = round(time.time() - t0, 3)
    t0 = time.time()
    pruned = read_manifest_table(
        spark, broot, where=[("doc_id", "=", target_id)]
    )
    n_pruned = pruned.count()
    files_pruned = len(pruned.inputFiles())
    lookup_pruned = round(time.time() - t0, 3)
    plan = plan_manifest_read(spark, broot, [("doc_id", "=", target_id)])
    assert n_full == n_pruned == 1, (n_full, n_pruned)
    out["point_lookup"] = {
        "unpruned_wall": lookup_unpruned,
        "bloom_wall": lookup_pruned,
        "gens_total": plan["total"],
        "gens_scanned": plan["scanned"],
        "files_pruned": files_pruned,
    }

    # copy-on-write keyed delete on the bloom table: pruning decides the
    # rewrite set, so erasing a handful of ids from the 64-generation
    # table should rewrite ~1 generation, not the table
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_delete,
    )

    victims = [target_id, target_id + 1, target_id + 2]
    t0 = time.time()
    dstats = manifest_table_delete(
        spark, broot, [("doc_id", "in", victims)]
    )
    out["point_delete"] = {
        "wall": round(time.time() - t0, 3),
        "rows_deleted": dstats["rows_deleted"],
        "gens_rewritten": dstats["gens_rewritten"],
        "gens_untouched": dstats["gens_untouched"],
    }

    # keyed MERGE (r13): upsert 3 keys into the aged 64-generation
    # table — the rewrite set is pruning-chosen, so the merge rewrites
    # ~1 true-holder generation + appends 1 batch generation, never the
    # table (the object-store-atomic dim-upsert path)
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        manifest_read as _mread,
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_merge,
    )

    mkeys = [target_id + 10, target_id + 11, target_id + 12]
    upd = spark.createDataFrame(
        [(k, _dt.date(2024, 6, 1), 0.0, "merged") for k in mkeys],
        "doc_id long, d date, score double, text string",
    )
    gens_pre = set(_mread(spark, broot)["gens"])
    t0 = time.time()
    manifest_table_merge(upd, broot, "doc_id", 900_000)
    merge_wall = round(time.time() - t0, 3)
    gens_post = set(_mread(spark, broot)["gens"])
    out["point_merge"] = {
        "wall": merge_wall,
        "rows_upserted": len(mkeys),
        "gens_untouched": len(gens_pre & gens_post),
        "gens_total_before": len(gens_pre),
    }

    # skipping BACKFILL at aged geometry (r13, VERDICT r12 #6): the
    # 64-generation pre-tracking table gains stats+blooms with NO data
    # rewrite (identical generation ids), then the same 2-day window
    # read prunes — how a 100 TB table that predates tracking gets
    # pruning
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        backfill_manifest_skipping,
    )

    nroot = roots["no_stats"]
    gens_pre = set(_mread(spark, nroot)["gens"])
    t0 = time.time()
    bstats = backfill_manifest_skipping(
        spark, nroot, stats_cols=["d"], bloom_cols=["doc_id"]
    )
    backfill_wall = round(time.time() - t0, 3)
    gens_post = set(_mread(spark, nroot)["gens"])
    assert gens_pre == gens_post  # no data rewrite, ever
    t0 = time.time()
    bread = read_manifest_table(spark, nroot, where=where)
    b_rows = bread.count()
    bwall = round(time.time() - t0, 3)
    bplan = plan_manifest_read(spark, nroot, where)
    out["backfill_aged"] = {
        "wall": backfill_wall,
        "stats_backfilled": bstats["stats_backfilled"],
        "blooms_backfilled": bstats["blooms_backfilled"],
        "gens_rewritten": 0,
        "window_read_wall": bwall,
        "window_rows": b_rows,
        "gens_scanned": bplan["scanned"],
        "gens_total": bplan["total"],
    }

    # snapshot the aged table for the clustered variant BEFORE the plain
    # compaction rewrites it in place
    root2 = tempfile.mkdtemp(prefix="manstats_") + "/t"
    _sh.copytree(roots["stats"], root2, dirs_exist_ok=True)

    # plain compaction: everything melts into ONE generation — stats'
    # worst case, measured honestly
    compact_manifest_table(spark, root, keep_last=2, min_merge_mb=1 << 20)
    timed_reads("after_plain_compaction")

    # clustered rebuild of the same aged table: range-split into ~64 MB
    # generations on the time key
    root = root2
    compact_manifest_table(
        spark, root, keep_last=2, min_merge_mb=1 << 20,
        sort_by=["d"], range_split_mb=64,
    )
    timed_reads("after_range_split_compaction")
    return out


def measure_dv_delete(
    spark,
    *,
    n_batches: int = 64,
    rows_per_batch: int = 200_000,
) -> dict:
    """Probe for merge-on-read DELETE (VERDICT r13 #1): is a
    deletion-vector sidecar decisively cheaper than copy-on-write for a
    WIDE LOW-SELECTIVITY delete — a handful of rows in EVERY generation
    of an aged table (the GDPR-ish erasure where key pruning cannot
    shrink the rewrite set because every generation truly holds a row)?

    Builds the aged 64-generation table (12.8 M rows, stats+Bloom on
    doc_id), picks one victim id per generation, then measures:

    1. CoW wall (``manifest_table_delete`` — rewrites all 64 gens);
    2. DV-prototype build wall: ONE scan recording matched
       (file, row_index) positions via ``_metadata``, written as a
       KB-scale parquet sidecar — no data rewrite;
    3. reader tax: full-scan aggregate and a pruned 2-day window read,
       plain vs with the DV anti-applied (broadcast anti-join on
       (file, pos)) — the recurring cost every merge-on-read reader
       pays until compaction materializes.
    """
    import datetime as _dt
    import shutil as _sh

    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_append,
        manifest_table_delete,
        read_manifest_table,
    )

    day0 = F.to_date(F.lit("2024-01-01"))

    def batch(b: int):
        return spark.range(rows_per_batch).select(
            (F.col("id") + b * rows_per_batch).alias("doc_id"),
            F.date_add(day0, b).alias("d"),
            (F.rand(seed=b) * 100).alias("score"),
            F.concat(F.lit("payload-"), F.col("id")).alias("text"),
        )

    root = tempfile.mkdtemp(prefix="dvprobe_") + "/t"
    t0 = time.time()
    for b in range(n_batches):
        manifest_table_append(
            batch(b), root, b,
            stats_cols=["d"] if b == 0 else None,
            bloom_cols=["doc_id"] if b == 0 else None,
        )
    out: dict = {"build_wall": round(time.time() - t0, 2)}
    victims = [b * rows_per_batch + 7 for b in range(n_batches)]

    # reader baseline BEFORE any delete
    def agg_wall():
        t0 = time.time()
        n = read_manifest_table(spark, root).where(
            F.col("score") < 50
        ).count()
        return round(time.time() - t0, 3), n

    out["full_agg_plain_wall"], n_plain = agg_wall()

    # window-read baseline BEFORE any delete
    lo = _dt.date(2024, 1, 1) + _dt.timedelta(days=n_batches // 2)
    hi = lo + _dt.timedelta(days=1)
    t0 = time.time()
    w_plain = read_manifest_table(
        spark, root, where=[("d", "between", (lo, hi))]
    ).count()
    out["window_read_plain_wall"] = round(time.time() - t0, 3)

    # --- CoW on a copy of the same aged table ---
    root2 = tempfile.mkdtemp(prefix="dvprobe_") + "/t"
    _sh.copytree(root, root2, dirs_exist_ok=True)
    t0 = time.time()
    dstats = manifest_table_delete(
        spark, root2, [("doc_id", "in", victims)]
    )
    out["cow_delete_wall"] = round(time.time() - t0, 2)
    out["cow_gens_rewritten"] = dstats["gens_rewritten"]
    out["cow_rows_deleted"] = dstats["rows_deleted"]

    # --- DV (the shipped strategy="dv") on the original ---
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        materialize_manifest_deletes,
    )

    t0 = time.time()
    vstats = manifest_table_delete(
        spark, root, [("doc_id", "in", victims)], strategy="dv"
    )
    out["dv_delete_wall"] = round(time.time() - t0, 3)
    out["dv_gens_vectored"] = vstats["gens_vectored"]
    out["dv_rows_deleted"] = vstats["rows_deleted"]
    out["dv_bytes"] = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(f"{root}/dv")
        for f in fs
        if f.endswith(".parquet")
    )

    # reader tax while vectors are live (merge-on-read)
    t0 = time.time()
    n_dv = read_manifest_table(spark, root).where(
        F.col("score") < 50
    ).count()
    out["full_agg_dv_wall"] = round(time.time() - t0, 3)
    t0 = time.time()
    w_dv = read_manifest_table(
        spark, root, where=[("d", "between", (lo, hi))]
    ).count()
    out["window_read_dv_wall"] = round(time.time() - t0, 3)
    out["window_rows_plain"] = w_plain
    out["window_rows_dv"] = w_dv

    # explicit materialization: pays the CoW wall ONCE, off the delete
    # path, after which reads drop the anti-join
    t0 = time.time()
    mstats = materialize_manifest_deletes(spark, root)
    out["materialize_wall"] = round(time.time() - t0, 2)
    out["materialize_gens"] = mstats["gens_materialized"]
    t0 = time.time()
    n_mat = read_manifest_table(spark, root).where(
        F.col("score") < 50
    ).count()
    out["full_agg_after_materialize_wall"] = round(time.time() - t0, 3)

    out["full_agg_rows_check"] = {
        "plain": n_plain,
        "dv": n_dv,
        "materialized": n_mat,
        "cow": read_manifest_table(spark, root2)
        .where(F.col("score") < 50)
        .count(),
    }
    return out


def measure_merge_antijoin(
    spark,
    *,
    n_batches: int = 64,
    rows_per_batch: int = 200_000,
) -> dict:
    """Probe for the merge's no-driver-key-list degradation path
    (VERDICT r13 #4): past ``_MERGE_INLIST_MAX`` (100 k) distinct batch
    keys, ``manifest_table_merge`` never collects keys — candidate
    pruning is skipped and the rewrite filter is an anti-JOIN over all
    generations.  The documented claim is "the right plan anyway for a
    merge that touches most of the table"; this measures it at the aged
    64-generation / 12.8 M-row geometry:

    * mid-size merge (50 k keys, one key per 256 rows — IN-LIST path:
      driver collect + InSet rewrite filter);
    * huge merge (~150 k keys, one per 85 rows — ANTI-JOIN path);
    both spread across ALL generations, so the rewrite set is the whole
    table either way and the walls isolate the path mechanics, not the
    rewrite size.
    """
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        manifest_read as _mread,
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        _MERGE_INLIST_MAX,
        manifest_table_append,
        manifest_table_merge,
        read_manifest_table,
    )

    day0 = F.to_date(F.lit("2024-01-01"))

    def batch(b: int):
        return spark.range(rows_per_batch).select(
            (F.col("id") + b * rows_per_batch).alias("doc_id"),
            F.date_add(day0, b).alias("d"),
            (F.rand(seed=b) * 100).alias("score"),
            F.concat(F.lit("payload-"), F.col("id")).alias("text"),
        )

    root = tempfile.mkdtemp(prefix="mergeprobe_") + "/t"
    t0 = time.time()
    for b in range(n_batches):
        manifest_table_append(
            batch(b), root, b,
            stats_cols=["d", "doc_id"] if b == 0 else None,
            bloom_cols=["doc_id"] if b == 0 else None,
        )
    out: dict = {"build_wall": round(time.time() - t0, 2)}
    n_rows = n_batches * rows_per_batch

    def upd(modulus: int, residue: int):
        return spark.range(n_rows).where(
            F.col("id") % modulus == residue
        ).select(
            F.col("id").alias("doc_id"),
            F.to_date(F.lit("2024-06-01")).alias("d"),
            F.lit(0.0).alias("score"),
            F.lit("merged").alias("text"),
        )

    for label, modulus in (("inlist_50k", 256), ("antijoin_150k", 85)):
        u = upd(modulus, 13)
        n_keys = u.count()
        gens_pre = set(_mread(spark, root)["gens"])
        t0 = time.time()
        manifest_table_merge(u, root, "doc_id", 1000 + modulus)
        wall = round(time.time() - t0, 2)
        m = _mread(spark, root)
        out[label] = {
            "n_keys": n_keys,
            "path": (
                "inlist" if n_keys <= _MERGE_INLIST_MAX else "antijoin"
            ),
            "wall": wall,
            "gens_untouched": len(gens_pre & set(m["gens"])),
            "gens_total_after": len(m["gens"]),
        }
        # the merged keys read back with the batch's values, key-unique
        t = read_manifest_table(
            spark, root, where=[("d", "=", _probe_date("2024-06-01"))]
        )
        assert t.count() >= n_keys, (label, t.count(), n_keys)
    out["rows_final"] = read_manifest_table(spark, root).count()
    assert out["rows_final"] == n_rows  # merges replaced, never added
    return out


def _probe_date(s: str):
    import datetime as _dt

    return _dt.date.fromisoformat(s)


def measure_ivf_fetch(
    spark,
    *,
    n_vecs: int = 2_000_000,
    dim: int = 32,
    n_cells: int = 64,
    n_batches: int = 8,
) -> dict:
    """IVF point fetch by id with vs without Bloom sidecars (r13,
    VERDICT r12 #4): an aged manifest index (build + ``n_batches``
    appends), then fetch one id.  Without sidecars the fetch lists and
    scans every (cell, generation) dir; with them the plan is pure
    driver bit math over KB-scale sidecars and the read touches O(true
    holder) dirs.  Parquet row-group stats compose inside the survivors
    (the (cell, id)-sorted in-file order)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        ivf_append_manifest,
        ivf_enable_id_blooms,
        ivf_fetch_by_id,
        plan_ivf_fetch,
        read_ivf_index_manifest,
        write_ivf_index_manifest,
    )

    vec_path = tempfile.mkdtemp(prefix="ivffetch_") + "/vectors"
    synth_clustered_vectors(spark, n_vecs, dim, vec_path, n_blobs=n_cells)
    vecs = spark.read.parquet(vec_path)
    per = n_vecs // (n_batches + 1)
    root = tempfile.mkdtemp(prefix="ivffetch_") + "/ivf"
    write_ivf_index_manifest(
        vecs.where(F.col("vec_id") < per), root, n_centroids=n_cells
    )
    for b in range(n_batches):
        ivf_append_manifest(
            vecs.where(
                (F.col("vec_id") >= (b + 1) * per)
                & (F.col("vec_id") < (b + 2) * per)
            ),
            root, batch_id=b,
        )
    target = per * (n_batches // 2) + 17
    out: dict = {}

    # without sidecars: full (cell, generation) listing + filter
    t0 = time.time()
    full = read_ivf_index_manifest(spark, root).where(
        F.col("vec_id") == target
    )
    n_full = full.count()
    out["fetch_unbloomed_wall"] = round(time.time() - t0, 3)
    out["dirs_total"] = plan_ivf_fetch(spark, root, [target])["total"]

    t0 = time.time()
    bstats = ivf_enable_id_blooms(spark, root)
    out["enable_wall"] = round(time.time() - t0, 3)
    out["gens_built"] = bstats["gens_built"]

    t0 = time.time()
    got = ivf_fetch_by_id(spark, root, [target])
    n_bloom = got.count()
    out["fetch_bloom_wall"] = round(time.time() - t0, 3)
    plan = plan_ivf_fetch(spark, root, [target])
    assert n_full == n_bloom == 1, (n_full, n_bloom)
    out["dirs_scanned"] = plan["scanned"]
    out["dirs_skipped"] = plan["skipped"]
    # warm second fetch: sidecars now LRU-cached on the driver
    t0 = time.time()
    assert ivf_fetch_by_id(spark, root, [target + 1]).count() == 1
    out["fetch_bloom_warm_wall"] = round(time.time() - t0, 3)
    return out


def measure_manifest_zorder(
    spark,
    *,
    n_rows: int = 8_000_000,
    n_batches: int = 16,
    split_mb: float = 2,
) -> dict:
    """Z-order vs single-column clustering on a 2-D query workload
    (r12).  A table with two INDEPENDENT uniform keys (x, y) — the
    adversarial case for single-column sort — is compacted two ways at
    the same generation size; the probe reads are a ~8% x-window and a
    ~8% y-window.  Reported per layout: generations scanned / total and
    the pruned read wall per dimension."""
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        compact_manifest_table,
        manifest_table_append,
        plan_manifest_read,
        read_manifest_table,
    )

    per = n_rows // n_batches
    out: dict = {}
    for variant, kwargs in (
        ("xsort", dict(sort_by=["x"])),
        ("zorder", dict(zorder_by=["x", "y"])),
    ):
        root = tempfile.mkdtemp(prefix="manz_") + "/t"
        for b in range(n_batches):
            batch = spark.range(per).select(
                (F.col("id") + b * per).alias("doc_id"),
                F.pmod(F.xxhash64((F.col("id") + b * per) * 2), F.lit(10_000))
                .alias("x"),
                F.pmod(F.xxhash64((F.col("id") + b * per) * 3), F.lit(10_000))
                .alias("y"),
            )
            manifest_table_append(
                batch, root, b, stats_cols=["x", "y"] if b == 0 else None
            )
        t0 = time.time()
        compact_manifest_table(
            spark, root, keep_last=0, min_merge_mb=1 << 20,
            range_split_mb=split_mb, **kwargs,
        )
        compact_wall = round(time.time() - t0, 2)
        stats: dict = {"compact_wall": compact_wall}
        for col in ("x", "y"):
            where = [(col, "between", (4000, 4800))]
            plan = plan_manifest_read(spark, root, where)
            t0 = time.time()
            n = read_manifest_table(spark, root, where=where).count()
            stats[col] = {
                "wall": round(time.time() - t0, 3),
                "rows": n,
                "gens_scanned": plan["scanned"],
                "gens_total": plan["total"],
            }
        out[variant] = stats
    return out


def measure_star_pipeline(
    spark,
    sf_dir: str,
    *,
    mult: int = 20,
    n_batches: int = 20,
    dim_mult: int = 1,
) -> dict[str, dict]:
    """r11 (VERDICT r10 "Next" #5): the COMPOSED star pipeline — stream →
    hyperjoin enrichment → quarantine split → dim upsert + fact append,
    the exact ``run_pipeline_streaming`` dataflow driven through a real
    ``writeStream``/``foreachBatch`` — at ``mult``× the sf transaction
    volume, recording per-batch wall and WRITE BYTES as the stream ages.

    Two stream shapes, because batch key coverage decides how much of
    the dim a batch touches:

    * ``dense``  — batches are random row slices, so every batch touches
      ~every product;
    * ``sparse`` — batches are product-id range slices (category-sharded
      ingest), so each batch touches ~1/n_batches of the key space.

    ``dim_mult > 1`` moves the composition into the LARGE-dim regime:
    the dim is pre-seeded (bulk initial load, the engine's S5 shape)
    with the master replicated ``dim_mult``× under shifted product ids,
    so the stream's per-batch upserts hit a dim ``dim_mult``× larger
    than the touched key set — the flat sink rewrites the whole dim
    every batch (``all_manifest_pipeline`` measures the write-bounded
    manifest dim).
    """
    import os as _os

    from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import (
        upsert_parquet_sink,
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
        master_data,
        transactions,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
        make_star_sink,
        read_parquet_stream,
        stream_static_hyperjoin,
    )

    txns = transactions(spark, sf_dir)
    master = master_data(spark, sf_dir).localCheckpoint(eager=True)
    n_products = master.count()
    big = (
        txns.crossJoin(
            F.broadcast(
                spark.range(mult).withColumnRenamed("id", "__rep")
            )
        )
        .withColumn(
            "order_id", F.col("order_id") + F.col("__rep") * F.lit(10_000_000)
        )
        .drop("__rep")
    )

    def files_of(root):
        out = {}
        for dirpath, _dirs, files in _os.walk(root):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                p = _os.path.join(dirpath, fn)
                out[_os.path.relpath(p, root)] = _os.path.getsize(p)
        return out

    streams = {}
    for shape in ("dense", "sparse"):
        path = tempfile.mkdtemp(prefix="star_pipe_") + f"/txn_{shape}"
        if shape == "dense":
            big.repartition(n_batches).write.parquet(path)
        else:
            big.repartitionByRange(
                n_batches, F.col("product_id")
            ).write.parquet(path)
        streams[shape] = path

    dim_seed = None
    if dim_mult > 1:
        dim_seed = (
            master.select("product_id", "product_name", "product_price")
            .crossJoin(
                F.broadcast(
                    spark.range(dim_mult).withColumnRenamed("id", "__rep")
                )
            )
            .withColumn(
                "product_id",
                F.col("product_id") + F.col("__rep") * F.lit(1_000_000),
            )
            .drop("__rep")
        )

    out: dict[str, dict] = {
        "mult": mult, "n_batches": n_batches,
        "txn_rows": big.count(),
        "dim_rows": n_products * dim_mult,
        "dim_mult": dim_mult,
    }
    for shape, stream_path in streams.items():
        out_dir = tempfile.mkdtemp(prefix="star_pipe_") + "/dw"
        if dim_seed is not None:
            upsert_parquet_sink(f"{out_dir}/dim_product", "product_id")(dim_seed, 0)
        per_batch = []
        inner = make_quarantine_sink(
            make_star_sink(out_dir),
            out_dir,
            watermark_col="order_date",
            lateness="3650 days",
        )
        # baseline AFTER any dim pre-seed, so batch 0's write bytes
        # measure the batch, not the bulk load
        state = {"before": files_of(out_dir)}

        def sink(batch_df, batch_id, _inner=inner, _s=state, _pb=per_batch, _out=out_dir):
            t0 = time.time()
            _inner(batch_df, batch_id)
            wall = time.time() - t0
            after = files_of(_out)
            written = sum(
                sz for p, sz in after.items()
                if _s["before"].get(p) != sz
            )
            dim_written = sum(
                sz for p, sz in after.items()
                if p.startswith("dim_product")
                and _s["before"].get(p) != sz
            )
            _s["before"] = after
            _pb.append(
                {
                    "batch": batch_id,
                    "wall_sec": round(wall, 2),
                    "write_mb": round(written / 1e6, 2),
                    "dim_write_mb": round(dim_written / 1e6, 2),
                }
            )

        enriched = stream_static_hyperjoin(
            read_parquet_stream(spark, stream_path, max_files_per_trigger=1),
            master,
        )
        q = (
            enriched.writeStream.outputMode("append")
            .option("checkpointLocation", out_dir + "/_ckpt")
            .foreachBatch(sink)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        walls = [b["wall_sec"] for b in per_batch]
        dim_mb = [b["dim_write_mb"] for b in per_batch]
        out[f"{shape}_flat"] = {
            "batches": len(per_batch),
            "total_wall_sec": round(sum(walls), 2),
            "first3_wall": walls[:3],
            "last3_wall": walls[-3:],
            "dim_write_mb_first3": dim_mb[:3],
            "dim_write_mb_last3": dim_mb[-3:],
            "dim_write_mb_total": round(sum(dim_mb), 2),
            "fact_rows": spark.read.parquet(
                f"{out_dir}/fact_enriched"
            ).count(),
            "per_batch": per_batch,
        }
    return out


def measure_all_manifest_pipeline(
    spark,
    sf_dir: str,
    *,
    mult: int = 20,
    n_batches: int = 20,
    maintenance_every: int = 5,
    n_docs: int = 100_000,
) -> dict:
    """r14 (VERDICT r13 #6): the composed pipelines in FULL all-manifest
    posture — every at-rest artifact on the generation-manifest protocol
    under ONE maintenance cadence — at 20× volume:

    * STAR: ``run_pipeline_streaming`` with ``fact_layout + dim_layout
      = "manifest"`` (quarantine on, so the ``late``/``_hwm`` side
      artifacts ride ``side_layout="manifest"`` automatically) and
      ``maintenance_every`` live — fact appends, dim keyed merges, side
      appends and their compactions/vacuums all commit through
      conditional-PUT manifests;
    * CORPUS: ``make_corpus_ingest_sink(corpus_layout="manifest",
      doc_meta_dir=...)`` wrapped in ``make_maintenance_sink`` — corpus
      appends + doc-metadata dim merges (the r14 second
      ``manifest_upsert_sink`` consumer) under the same cadence.

    Pass criterion: every family's generation count stays BOUNDED
    (≈ tiered-big + keep_last + cadence window, NOT O(batches)) and the
    stream drains with per-batch wall flat — the five manifest
    consumers compose under one cadence without stepping on each
    other's commits.
    """
    from datawarehouse_etl_using_hyperjoin_spark.maintenance import (
        make_maintenance_sink,
    )
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        manifest_read as _mread,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        make_corpus_ingest_sink,
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
        master_data,
        transactions,
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        read_manifest_table,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        read_parquet_stream,
        run_pipeline_streaming,
    )

    out: dict = {"mult": mult, "n_batches": n_batches,
                 "maintenance_every": maintenance_every}

    # ---- STAR, all-manifest, cadence live ----
    txns = transactions(spark, sf_dir)
    master = master_data(spark, sf_dir).localCheckpoint(eager=True)
    big = (
        txns.crossJoin(
            F.broadcast(spark.range(mult).withColumnRenamed("id", "__rep"))
        )
        .withColumn(
            "order_id", F.col("order_id") + F.col("__rep") * F.lit(10_000_000)
        )
        .drop("__rep")
    )
    stream_path = tempfile.mkdtemp(prefix="allman_") + "/txn"
    big.repartition(n_batches).write.parquet(stream_path)
    dw = tempfile.mkdtemp(prefix="allman_") + "/dw"
    t0 = time.time()
    counts = run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, stream_path, max_files_per_trigger=1),
        master,
        dw,
        quarantine_lateness="60 days",
        fact_layout="manifest",
        dim_layout="manifest",
        fact_stats_cols=["order_id", "product_id"],
        maintenance_every=maintenance_every,
    )
    out["star_wall"] = round(time.time() - t0, 2)
    out["star_counts"] = {k: int(v) for k, v in counts.items()}

    def gens(root) -> int:
        m = _mread(spark, root)
        return len(m["gens"]) if m else -1

    out["star_gens"] = {
        "fact": gens(f"{dw}/fact_enriched"),
        "dim": gens(f"{dw}/dim_product"),
        "late": gens(f"{dw}/late"),
        "hwm": gens(f"{dw}/_hwm"),
    }
    # parity: manifest fact row count equals the drained on-time rows
    assert (
        read_manifest_table(spark, f"{dw}/fact_enriched").count()
        == counts["fact_enriched"]
    )

    # ---- CORPUS + doc-meta dim, all-manifest, cadence live ----
    docs_path = tempfile.mkdtemp(prefix="allman_") + "/docs"
    synth_documents(spark, n_docs, docs_path)
    docs = spark.read.parquet(docs_path)
    corpus_out = tempfile.mkdtemp(prefix="allman_") + "/corpus"
    meta_dir = tempfile.mkdtemp(prefix="allman_") + "/doc_meta"
    idx = f"allman_idx_{int(time.time())}"
    corpus_sink = make_maintenance_sink(
        make_corpus_ingest_sink(
            corpus_out, idx, min_quality=0.0, min_tokens=1,
            corpus_layout="manifest", corpus_stats_cols=["doc_id"],
            doc_meta_dir=meta_dir,
        ),
        maintenance_every,
        manifest_tables=[corpus_out, meta_dir],
    )
    per = docs.count() // n_batches
    t0 = time.time()
    walls = []
    try:
        for b in range(n_batches):
            tb = time.time()
            corpus_sink(
                docs.where(
                    (F.col("doc_id") >= b * per)
                    & (F.col("doc_id") < (b + 1) * per)
                ),
                b,
            )
            walls.append(round(time.time() - tb, 2))
        out["corpus_wall"] = round(time.time() - t0, 2)
        out["corpus_batch_walls_first3"] = walls[:3]
        out["corpus_batch_walls_last3"] = walls[-3:]
        out["corpus_gens"] = {
            "corpus": gens(corpus_out),
            "doc_meta": gens(meta_dir),
        }
        out["corpus_rows"] = read_manifest_table(spark, corpus_out).count()
        meta = read_manifest_table(spark, meta_dir)
        out["doc_meta_rows"] = meta.count()
        # the dim stays key-unique at rest through merges + compactions
        assert out["doc_meta_rows"] == (
            meta.select("doc_id").distinct().count()
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx}")
    return out


def measure_composed_pipeline(spark, docs) -> dict[str, float]:
    """r10 (verdict #4): the five demo stages (trained langid gate →
    quality classifier → Bloom decontamination → batched LSH ingest
    dedup → selection/pack/shard) composed as ONE job, so cross-stage
    interactions (cache pressure, AQE coalescing across stage
    boundaries, shuffle-file accumulation) are inside the measurement.
    Mirrors examples/llm_pipeline_demo.py stage-for-stage on a
    lang-labeled synthetic corpus; stage 4 runs the foreachBatch body
    over 4 deterministic slices (the streaming machinery's fixed
    trigger overhead would otherwise swamp the 1× point).
    Returns wall + shuffle-write volume for the whole composition."""
    import uuid as _uuid

    from datawarehouse_etl_using_hyperjoin_spark.operators.classifier import (
        export_weights,
        quality_gate,
        score_quality,
        train_quality_classifier,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
        corpus_metrics,
        decontaminate_stream,
        make_corpus_ingest_sink,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.importance import (
        hashed_ngram_features,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import (
        pack_documents,
        shuffle_shard,
        temperature_sample,
        write_shards,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.text import (
        char_ngram_profile,
        exploded_ngrams,
        langid_rank_order,
    )

    root = tempfile.mkdtemp(prefix="composed_pipe_")
    index = f"pipe_lsh_{_uuid.uuid4().hex[:8]}"
    n_raw = docs.count()
    # inject drop-one-word near-dups so the ingest dedup has real work
    w = F.split(F.trim("text"), r"\s+")
    dups = docs.select(
        (F.col("doc_id") + 100_000_000).alias("doc_id"), "lang",
        F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1)).alias("text"),
    )
    corpus = docs.unionByName(dups).localCheckpoint(eager=True)

    from pyspark.storagelevel import StorageLevel

    sw0, _ = _stage_totals(spark)
    t0 = time.time()
    try:
        # 1. trained language-ID gate (one shared gram explode).  The
        # gram relation is the composition's biggest intermediate
        # (~700 grams/doc → 140M rows at 20×): a MEMORY_AND_DISK
        # localCheckpoint of it OOMs the 8g local JVM, so the shared
        # subtree is pinned DISK_ONLY — exactly what a 100 TB job would
        # do with a reused explode this size.
        grams = exploded_ngrams(
            corpus.select("doc_id", "lang", "text"),
            ["doc_id", "lang"], "text", 3, 600,
        ).persist(StorageLevel.DISK_ONLY)
        grams.count()  # materialize the shared subtree once
        profiles = char_ngram_profile(
            corpus, "lang", "text", n=3, top_k=50,
            grams=grams.select("lang", "gram"),
        ).localCheckpoint(eager=True)
        pred = langid_rank_order(
            corpus, profiles, "doc_id", "text", n=3, top_k=50,
            grams=grams.select("doc_id", "gram"),
        )
        keep_langs = [
            r.lang for r in profiles.select("lang").distinct().collect()
        ]
        lang_ok = corpus.join(
            pred.filter(F.col("lang_pred").isin(keep_langs)).select("doc_id"),
            "doc_id",
        ).localCheckpoint(eager=True)
        # 2. quality classifier (weak labels → weights → gate)
        feats = hashed_ngram_features(lang_ok, "doc_id", "text")
        weak = corpus_metrics(lang_ok, "doc_id", "text").select(
            "doc_id",
            (F.col("quality_score") >= 0.45).cast("double").alias("label"),
        )
        model = train_quality_classifier(feats, weak, "doc_id", "label")
        weights, intercept = export_weights(model, spark)
        scored = score_quality(feats, weights, intercept, "doc_id")
        gated = quality_gate(
            lang_ok, scored, "doc_id", min_score=0.5
        ).localCheckpoint(eager=True)
        # 3. Bloom decontamination vs a benchmark slice
        benchmark = docs.filter(F.pmod("doc_id", 97) == 0).select("text")
        clean = decontaminate_stream(
            gated, benchmark, id_col="doc_id", text_col="text", k=8
        ).localCheckpoint(eager=True)
        # 4. exactly-once LSH ingest dedup, 4 micro-batch slices
        out_dir = f"{root}/corpus"
        sink = make_corpus_ingest_sink(
            out_dir, index, min_quality=0.0, min_tokens=1
        )
        for b in range(4):
            sink(clean.filter(F.pmod("doc_id", 4) == b), b)
        ingested = spark.read.parquet(out_dir)
        # 5. selection, packing, ordered shard write
        picked = temperature_sample(ingested, "lang_pred", "doc_id", alpha=0.7)
        packed = pack_documents(picked, "ws_tokens", 1024)
        sharded = shuffle_shard(
            packed.select("doc_id", "lang_pred", "ws_tokens", "bin_id", "text"),
            "doc_id", 8,
        )
        write_shards(sharded, f"{root}/shards", 8)
        wall = time.time() - t0
        sw1, _ = _stage_totals(spark)
        survivors = ingested.count()
        shard_rows = spark.read.parquet(f"{root}/shards").count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {index}")
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
    return {
        "n_docs_in": 2 * n_raw,
        "survivors": survivors,
        "shard_rows": shard_rows,
        "wall_sec": round(wall, 2),
        "shuffle_write_mb": round((sw1 - sw0) / 1e6, 2),
        "sec_per_100k_docs": round(wall * 100_000 / (2 * n_raw), 2),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "events":
        spark = get_spark(
            "scale-probe-ev", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
            load_table,
        )

        ev_small = load_table(spark, "/root/testdata/sf0.1", "events").select(
            F.col("ts").cast("timestamp_ntz").alias("ts"), "user_id", "event_type"
        )
        n_big = int(os.environ.get("SCALE_PROBE_EVENTS", 10_000_000))
        ev_path = tempfile.mkdtemp(prefix="scale_probe_") + "/events"
        synth_events(spark, n_big, n_big // 67, ev_path)
        ev_big = spark.read.parquet(ev_path)
        docs_small = spark.read.parquet(
            "/root/testdata/sf0.1/documents.parquet"
        ).select("doc_id", "text")
        n_docs = int(os.environ.get("SCALE_PROBE_DOCS", 100_000))
        docs_path = tempfile.mkdtemp(prefix="scale_probe_") + "/documents"
        synth_documents(spark, n_docs, docs_path)
        docs_big = spark.read.parquet(docs_path)
        print(json.dumps({
            "events": {
                "n_events": {"small": ev_small.count(), "big": n_big},
                "small": measure_events(spark, ev_small),
                "big": measure_events(spark, ev_big),
            },
            "diff": {
                "n_docs": {"small": docs_small.count(), "big": n_docs},
                "small": measure_corpus_diff(spark, docs_small),
                "big": measure_corpus_diff(spark, docs_big),
            },
        }, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "langid":
        # r8: the trained-langid branch is the suite's most expensive
        # entry (4.99 s at sf0.1) — prove the two-exchange shape is
        # LINEAR in document count and record the constant.  Sizes are
        # multiples of the sf0.1 documents count (5 000).
        spark = get_spark(
            "scale-probe-langid",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        base = int(os.environ.get("SCALE_PROBE_DOCS", 5_000))
        out: dict[str, dict] = {}
        for mult in (1, 5, 10, 20):
            path = tempfile.mkdtemp(prefix="scale_probe_") + "/lang_docs"
            synth_lang_documents(spark, base * mult, path)
            m = measure_langid(spark, spark.read.parquet(path))
            # each pipeline() run localCheckpoints its gram relation;
            # drop them between sizes or the stale RDDs of every prior
            # size pressure the heap during the next measurement
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            m["n_docs"] = base * mult
            m["sec_per_100k_docs"] = round(
                m["wall_sec"] * 100_000 / (base * mult), 3
            )
            out[f"{mult}x"] = m
        print(json.dumps({"langid": out}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "cc_depth":
        spark = get_spark(
            "scale-probe-cc", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"cc_depth": measure_cc_depth(spark)}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "hygiene":
        spark = get_spark(
            "scale-probe-hyg", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        docs_small = spark.read.parquet(
            "/root/testdata/sf0.1/documents.parquet"
        ).select("doc_id", "text")
        n_big = int(os.environ.get("SCALE_PROBE_DOCS", 100_000))
        docs_path = tempfile.mkdtemp(prefix="scale_probe_") + "/documents"
        synth_documents(spark, n_big, docs_path)
        docs_big = spark.read.parquet(docs_path)
        print(json.dumps({
            "hygiene": {
                "n_docs": {"small": docs_small.count(), "big": n_big},
                "small": measure_hygiene(spark, docs_small),
                "big": measure_hygiene(spark, docs_big),
            }
        }, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "selection":
        spark = get_spark(
            "scale-probe-sel", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        docs_small = spark.read.parquet(
            "/root/testdata/sf0.1/documents.parquet"
        ).select("doc_id", "text")
        n_big = int(os.environ.get("SCALE_PROBE_DOCS", 100_000))
        docs_path = tempfile.mkdtemp(prefix="scale_probe_") + "/documents"
        synth_documents(spark, n_big, docs_path)
        docs_big = spark.read.parquet(docs_path)
        print(json.dumps({
            "selection": {
                "n_docs": {"small": docs_small.count(), "big": n_big},
                "small": measure_selection(spark, docs_small),
                "big": measure_selection(spark, docs_big),
            }
        }, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "shard_write":
        # The ordered-shard write path at probe scale: write_shards
        # (repartition ON shard + sortWithinPartitions + partitioned
        # write: per-shard parallel sorts, corpus/N each) vs the naive
        # global orderBy(shard, pos) write (one range-partitioned total
        # sort feeding the same layout).  Claim under test: identical
        # layout, no global sort anywhere in the fast path.
        from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import (
            shuffle_shard,
            write_shards,
        )

        spark = get_spark(
            "scale-probe-shards",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        n_rows = int(os.environ.get("SCALE_PROBE_ROWS", 10_000_000))
        n_shards = int(os.environ.get("SCALE_PROBE_SHARDS", 64))
        docs = spark.range(n_rows).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        sharded = shuffle_shard(
            docs, "doc_id", n_shards
        ).localCheckpoint(eager=True)
        root = tempfile.mkdtemp(prefix="scale_probe_shards_")

        t0 = time.time()
        write_shards(sharded, f"{root}/fast", n_shards)
        fast = time.time() - t0

        t0 = time.time()
        (
            sharded.orderBy("shard_id", "shard_pos")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .parquet(f"{root}/naive")
        )
        naive = time.time() - t0

        shard_dirs = [
            d for d in os.listdir(f"{root}/fast") if d.startswith("shard_id=")
        ]
        files_per_shard = {
            len([f for f in os.listdir(f"{root}/fast/{d}")
                 if f.endswith(".parquet")])
            for d in shard_dirs
        }
        # order inside one shard file must be the epoch order
        probe = spark.read.parquet(
            f"{root}/fast/{shard_dirs[0]}"
        ).select("shard_pos").limit(10000).collect()
        ordered = all(
            probe[i]["shard_pos"] <= probe[i + 1]["shard_pos"]
            for i in range(len(probe) - 1)
        )
        print(json.dumps({"shard_write": {
            "n_rows": n_rows,
            "n_shards": n_shards,
            "write_shards_sec": round(fast, 2),
            "naive_global_sort_sec": round(naive, 2),
            "shard_dirs": len(shard_dirs),
            "files_per_shard": sorted(files_per_shard),
            "first_shard_ordered": ordered,
        }}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "emb_ingest":
        # r10: the embedding sibling of stream_ingest — a real streaming
        # query driving foreachBatch(make_embedding_ingest_sink): each
        # micro-batch is semantic-deduped against the PERSISTED
        # sign-LSH-bucketed embedding index; re-embedded vectors
        # (positive-scaled copies = cosine 1.0, same bucket) planted in
        # later batches must all be caught by the at-rest index.  Also
        # meters incremental-vs-full: the incremental probe's cost
        # tracks the BATCH, the full near_dup_pairs recompute tracks the
        # CORPUS.
        from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
            embedding_incremental_pairs,
            make_embedding_ingest_sink,
            near_dup_pairs,
            read_embedding_index,
            sign_bucket,
        )

        spark = get_spark(
            "scale-probe-embing",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        n = int(os.environ.get("SCALE_PROBE_VECS", 100_000))
        dim = int(os.environ.get("SCALE_PROBE_DIM", 32))
        n_batches = int(os.environ.get("SCALE_PROBE_BATCHES", 4))
        root = tempfile.mkdtemp(prefix="scale_probe_embing_")
        synth_vectors(spark, n, dim, f"{root}/vecs")
        vecs = spark.read.parquet(f"{root}/vecs")
        scaled = lambda df, s: df.select(  # noqa: E731 — cos-1.0 copy
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * s).cast("float")).alias(
                "embedding"
            ),
        )
        src = f"{root}/src"
        for b in range(n_batches):
            part = vecs.filter(F.col("vec_id") % n_batches == b)
            if b > 0:
                part = part.unionByName(scaled(
                    vecs.filter(F.col("vec_id") % n_batches == b - 1)
                    .filter(F.col("vec_id") % 10 == 0),
                    1.5,
                ))
            part.coalesce(1).write.parquet(f"{src}/b{b}")
        out_dir = f"{root}/corpus"
        table = f"probe_embing_{os.path.basename(root).rsplit('_', 1)[-1]}"
        stream = (
            spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )
        t0 = time.time()
        q = (
            stream.writeStream.foreachBatch(
                make_embedding_ingest_sink(out_dir, table, n_buckets=32)
            )
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1200)
        wall = time.time() - t0
        batches = [
            {
                "batch": p["batchId"],
                "rows_in": p["numInputRows"],
                "batch_sec": round(p["batchDuration"] / 1000.0, 2),
            }
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        kept = spark.read.parquet(out_dir)
        report = {
            "n_vectors": n,
            "dim": dim,
            "batches": batches,
            "total_wall_sec": round(wall, 2),
            "kept": kept.count(),
            # re-embedded copies that SURVIVED — must be 0: every one
            # hits the persisted index at cosine 1.0 in its own bucket
            "reembed_survivors": kept.filter(
                F.col("vec_id") >= 10_000_000
            ).count(),
            "index_rows": spark.table(table).count(),
        }
        # incremental-vs-full metering on a fresh small batch
        batch = scaled(vecs.filter(F.col("vec_id") % 40 == 0), 0.7)
        idx = read_embedding_index(spark, table)
        inc = embedding_incremental_pairs(batch, idx)
        full = near_dup_pairs(
            vecs.unionByName(batch).select(
                "vec_id", "embedding",
                sign_bucket(F.col("embedding")).alias("bucket"),
            ),
            block=F.col("bucket"),
        )
        report["incremental_batch_vs_index"] = run_metered(spark, inc)
        report["full_recompute"] = run_metered(spark, full)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        print(json.dumps({"emb_ingest": report}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "stream_ingest":
        # END-TO-END streaming corpus ingest at bench scale: a real
        # Structured Streaming query (file source, one batch per
        # trigger) driving foreachBatch(make_corpus_ingest_sink) — each
        # micro-batch is gated, near-dup'd against the PERSISTED at-rest
        # LSH band index, survivors + their bands appended.  This is the
        # wiring the batch-side amortization table (SCALE.md r5/r6)
        # prescribes; here the whole loop runs under the streaming
        # engine with checkpointing, and the per-batch progress comes
        # from the query's own recentProgress.
        from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
            make_corpus_ingest_sink,
        )

        spark = get_spark(
            "scale-probe-ingest",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        n_docs = docs.count()
        n_batches = int(os.environ.get("SCALE_PROBE_BATCHES", 5))
        root = tempfile.mkdtemp(prefix="scale_probe_ingest_")
        src = f"{root}/src"
        # deterministic batch split; later batches REPLAY ~10% of the
        # previous batch's docs under new ids (the re-crawl case the
        # at-rest index must catch)
        for b in range(n_batches):
            part = docs.filter(F.col("doc_id") % n_batches == b)
            if b > 0:
                replay = (
                    docs.filter(F.col("doc_id") % n_batches == b - 1)
                    .filter(F.col("doc_id") % 10 == 0)
                    .select(
                        (F.col("doc_id") + 10_000_000).alias("doc_id"),
                        "text",
                    )
                )
                part = part.unionByName(replay)
            part.coalesce(1).write.parquet(f"{src}/b{b}")
        # unique table name per run: DROP TABLE alone can leave the
        # managed location behind after a failed run, and saveAsTable
        # then refuses the name (LOCATION_ALREADY_EXISTS)
        out_dir = f"{root}/corpus"
        table = f"probe_ingest_idx_{os.path.basename(root).rsplit('_', 1)[-1]}"
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/b*")
        )
        t0 = time.time()
        q = (
            stream.writeStream.foreachBatch(
                make_corpus_ingest_sink(
                    out_dir, table, min_quality=0.0, min_tokens=1
                )
            )
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(1200)
        wall = time.time() - t0
        batches = [
            {
                "batch": p["batchId"],
                "rows_in": p["numInputRows"],
                "batch_sec": round(p["batchDuration"] / 1000.0, 2),
            }
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        kept = spark.read.parquet(out_dir)
        idx_rows = spark.table(table).count()
        print(json.dumps({"stream_ingest": {
            "sf_dir": sf_dir,
            "input_docs": n_docs,
            "n_batches": len(batches),
            "batches": batches,
            "total_wall_sec": round(wall, 2),
            "kept_docs": kept.count(),
            # replays that SURVIVED into the corpus — must be 0: every
            # re-crawled doc should hit the persisted band index
            "replayed_survivors": kept.filter(
                F.col("doc_id") >= 10_000_000
            ).count(),
            "index_band_rows": idx_rows,
        }}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bpe_encode":
        # wall-time crossover of the two BPE encoders vs merge-list size:
        # the column-expression fold stacks one `aggregate` per merge
        # (plan depth = len(merges)), the Arrow-batched pandas encoder is
        # flat.  The merge list is the top-N adjacent pairs from one
        # pair_counts pass — contents don't matter for the structural
        # cost, only the count does.
        from datawarehouse_etl_using_hyperjoin_spark.operators.bpe import (
            bpe_encode,
            bpe_encode_pandas,
            pair_counts,
            symbolize,
            word_histogram,
        )

        spark = get_spark(
            "scale-probe-bpe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .localCheckpoint(eager=True)
        )
        top_pairs = [
            (r["a"], r["b"])
            for r in pair_counts(symbolize(word_histogram(docs, "text")))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(int(os.environ.get("SCALE_PROBE_MERGES_MAX", 512)))
            .collect()
        ]
        out = {}
        for n_merges in (16, 32, 64, 128, 256, 512):
            if n_merges > len(top_pairs):
                break
            m = top_pairs[:n_merges]
            row = {}
            for label, enc in (("column", bpe_encode),
                               ("pandas", bpe_encode_pandas)):
                if label == "column" and n_merges > int(
                    os.environ.get("SCALE_PROBE_COLUMN_MAX", 256)
                ):
                    continue  # plan construction alone becomes minutes
                t0 = time.time()
                enc(docs, m, "doc_id", "text").agg(
                    F.sum(F.size("tokens"))
                ).collect()
                row[label] = round(time.time() - t0, 2)
            out[f"merges_{n_merges}"] = row
        print(json.dumps({"bpe_encode": out}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf_quantized":
        spark = get_spark(
            "scale-probe-ivfq", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        vec_path = tempfile.mkdtemp(prefix="scale_probe_") + "/vectors"
        n_vecs = int(os.environ.get("SCALE_PROBE_VECS", 200_000))
        synth_clustered_vectors(
            spark, n_vecs, 32, vec_path,
            n_blobs=int(os.environ.get("SCALE_PROBE_BLOBS", 32)),
            spread=float(os.environ.get("SCALE_PROBE_SPREAD", 0.15)),
        )
        vecs = spark.read.parquet(vec_path).localCheckpoint(eager=True)
        print(json.dumps({"ivf_quantized": measure_ivf_quantized(
            spark, vecs,
            n_cells=int(os.environ.get("SCALE_PROBE_CELLS", 64)),
            n_queries=int(os.environ.get("SCALE_PROBE_QUERIES", 64)),
            nprobe=int(os.environ.get("SCALE_PROBE_NPROBE", 4)),
            lloyd_iters=int(os.environ.get("SCALE_PROBE_LLOYD_ITERS", 1)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "quarantine_hwm":
        spark = get_spark(
            "scale-probe-qhwm",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"quarantine_hwm": measure_quarantine_hwm(
            spark,
            n_batches=int(os.environ.get("SCALE_PROBE_BATCHES", 400)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "fact_layout":
        spark = get_spark(
            "scale-probe-factlayout",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"fact_layout": measure_fact_layout(
            spark,
            os.environ.get("SCALE_PROBE_SF_DIR", "/root/testdata/sf0.1"),
            mult=int(os.environ.get("SCALE_PROBE_MULT", 20)),
            n_batches=int(os.environ.get("SCALE_PROBE_BATCHES", 20)),
            maintenance_every=int(
                os.environ.get("SCALE_PROBE_MAINT_EVERY", 0)
            ) or None,
            min_merge_mb=int(
                os.environ.get("SCALE_PROBE_MIN_MERGE_MB", 0)
            ) or None,
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "manifest_stats":
        spark = get_spark(
            "scale-probe-manstats",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"manifest_stats": measure_manifest_stats(
            spark,
            n_batches=int(os.environ.get("SCALE_PROBE_BATCHES", 64)),
            rows_per_batch=int(
                os.environ.get("SCALE_PROBE_ROWS_PER_BATCH", 200_000)
            ),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf_fetch":
        spark = get_spark(
            "scale-probe-ivffetch",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"ivf_fetch": measure_ivf_fetch(
            spark,
            n_vecs=int(os.environ.get("SCALE_PROBE_VECS", 2_000_000)),
            n_cells=int(os.environ.get("SCALE_PROBE_CELLS", 64)),
            n_batches=int(os.environ.get("SCALE_PROBE_BATCHES", 8)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "manifest_zorder":
        spark = get_spark(
            "scale-probe-manz",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"manifest_zorder": measure_manifest_zorder(
            spark,
            n_rows=int(os.environ.get("SCALE_PROBE_ROWS", 8_000_000)),
            n_batches=int(os.environ.get("SCALE_PROBE_BATCHES", 16)),
            split_mb=float(os.environ.get("SCALE_PROBE_SPLIT_MB", 2)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "star_pipeline":
        spark = get_spark(
            "scale-probe-star",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({"star_pipeline": measure_star_pipeline(
            spark,
            os.environ.get("SCALE_PROBE_SF_DIR", "/root/testdata/sf0.1"),
            mult=int(os.environ.get("SCALE_PROBE_MULT", 20)),
            n_batches=int(os.environ.get("SCALE_PROBE_BATCHES", 20)),
            dim_mult=int(os.environ.get("SCALE_PROBE_DIM_MULT", 1)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "pipeline":
        spark = get_spark(
            "scale-probe-pipeline",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        base = int(os.environ.get("SCALE_PROBE_DOCS", 5_000))
        out = {}
        for mult in (1, 20):
            path = tempfile.mkdtemp(prefix="scale_probe_") + "/pipe_docs"
            synth_lang_documents(spark, base * mult, path)
            m = measure_composed_pipeline(spark, spark.read.parquet(path))
            m["mult"] = mult
            out[f"{mult}x"] = m
        if out["1x"]["wall_sec"]:
            out["wall_ratio_20x"] = round(
                out["20x"]["wall_sec"] / out["1x"]["wall_sec"], 2
            )
        print(json.dumps({"composed_pipeline": out}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "rocksdb_state":
        spark = get_spark(
            "scale-probe-rocks",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({
            "stream_join_state_rocksdb": measure_stream_join_state(
                spark, provider=ROCKSDB_PROVIDER
            ),
            "stream_join_state_default_hdfs": measure_stream_join_state(spark),
        }, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf_hotcell":
        spark = get_spark(
            "scale-probe-ivfhot",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        vec_path = tempfile.mkdtemp(prefix="scale_probe_") + "/vectors"
        n_vecs = int(os.environ.get("SCALE_PROBE_VECS", 400_000))
        synth_skewed_vectors(
            spark, n_vecs, 32, vec_path,
            n_blobs=int(os.environ.get("SCALE_PROBE_BLOBS", 8)),
        )
        vecs = spark.read.parquet(vec_path).localCheckpoint(eager=True)
        print(json.dumps({"ivf_hotcell": measure_ivf_hotcell(
            spark, vecs,
            n_cells=int(os.environ.get("SCALE_PROBE_CELLS", 8)),
            nprobe=int(os.environ.get("SCALE_PROBE_NPROBE", 2)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf_rowgroup":
        spark = get_spark(
            "scale-probe-ivfrg",
            cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        vec_path = tempfile.mkdtemp(prefix="scale_probe_") + "/vectors"
        n_vecs = int(os.environ.get("SCALE_PROBE_VECS", 400_000))
        synth_clustered_vectors(
            spark, n_vecs, 32, vec_path,
            n_blobs=int(os.environ.get("SCALE_PROBE_BLOBS", 16)),
            spread=float(os.environ.get("SCALE_PROBE_SPREAD", 0.15)),
        )
        vecs = spark.read.parquet(vec_path).localCheckpoint(eager=True)
        print(json.dumps({"ivf_rowgroup": measure_ivf_rowgroup_skip(
            spark, vecs,
            n_cells=int(os.environ.get("SCALE_PROBE_CELLS", 16)),
            n_queries=int(os.environ.get("SCALE_PROBE_QUERIES", 4)),
            nprobe=int(os.environ.get("SCALE_PROBE_NPROBE", 4)),
            block_bytes=int(os.environ.get("SCALE_PROBE_BLOCK", 128 << 10)),
        )}, indent=2))
        return
    if len(sys.argv) > 1 and sys.argv[1] in ("ivf_recall", "ivf_recall_clustered"):
        clustered = sys.argv[1] == "ivf_recall_clustered"
        spark = get_spark(
            "scale-probe-ivf", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
            extra_conf=METERED_SESSION_CONF,
        )
        spark.sparkContext.setLogLevel("ERROR")
        vec_path = tempfile.mkdtemp(prefix="scale_probe_") + "/vectors"
        n_vecs = int(os.environ.get("SCALE_PROBE_VECS", 200_000))
        if clustered:
            synth_clustered_vectors(
                spark, n_vecs, 32, vec_path,
                n_blobs=int(os.environ.get("SCALE_PROBE_BLOBS", 32)),
                spread=float(os.environ.get("SCALE_PROBE_SPREAD", 0.15)),
            )
        else:
            synth_vectors(spark, n_vecs, 32, vec_path)
        vecs = spark.read.parquet(vec_path).localCheckpoint(eager=True)
        key = "ivf_recall_clustered" if clustered else "ivf_recall"
        cells = tuple(
            int(c)
            for c in os.environ.get("SCALE_PROBE_CELLS", "64,256").split(",")
        )
        iters = int(os.environ.get("SCALE_PROBE_LLOYD_ITERS", 1))
        print(json.dumps({key: measure_ivf_recall(
            spark, vecs, n_cells_list=cells, lloyd_iters=iters
        )}, indent=2))
        return
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    spark = get_spark(
        "scale-probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", 32)),
        extra_conf=METERED_SESSION_CONF,
    )
    spark.sparkContext.setLogLevel("ERROR")

    parts = F.broadcast(
        spark.range(2000).select(
            F.col("id").alias("p_partkey"),
            (F.pmod(F.col("id"), 7)).alias("p_band"),
            (F.col("id") % 1000 + 900.0).alias("p_price"),
        )
    )

    small = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag",
    )
    n_small = small.count()

    big_path = tempfile.mkdtemp(prefix="scale_probe_") + "/lineitem"
    synth_lineitem(spark, n_rows, big_path)
    big = spark.read.parquet(big_path)

    # dedup shape: fixture corpus vs a synthetic corpus n_docs_big wide
    docs_small = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs_small = docs_small.count()
    n_docs_big = int(os.environ.get("SCALE_PROBE_DOCS", 100_000))
    docs_path = tempfile.mkdtemp(prefix="scale_probe_") + "/documents"
    synth_documents(spark, n_docs_big, docs_path)
    docs_big = spark.read.parquet(docs_path)

    t_small = measure(spark, small, parts)
    t_big = measure(spark, big, parts)
    t_small["minhash_lsh_pairs"] = measure_dedup(spark, docs_small)
    t_big["minhash_lsh_pairs"] = measure_dedup(spark, docs_big)
    t_small["simhash64"] = measure_simhash(spark, docs_small)
    t_big["simhash64"] = measure_simhash(spark, docs_big)
    stream_state = measure_stream_join_state(spark)
    rows_in = {
        "minhash_lsh_pairs": (n_docs_small, n_docs_big),
        "simhash64": (n_docs_small, n_docs_big),
    }
    report = {
        "n_small": n_small,
        "n_big": n_rows,
        "n_docs_small": n_docs_small,
        "n_docs_big": n_docs_big,
        "scale_factor": round(n_rows / n_small, 1),
        "queries": {},
    }
    for k in t_small:
        in_s, in_b = rows_in.get(k, (n_small, n_rows))
        rs, rb = in_s / t_small[k], in_b / t_big[k]
        report["queries"][k] = {
            "small_sec": round(t_small[k], 2),
            "big_sec": round(t_big[k], 2),
            "small_rows_per_sec": int(rs),
            "big_rows_per_sec": int(rb),
            "throughput_ratio_big_vs_small": round(rb / rs, 2),
        }
    report["stream_join_state_vs_watermark_delay"] = stream_state

    # r5 metered probes: wall + attributed shuffle bytes (run_metered)
    report["metered"] = {
        "range_join_2k_intervals": {
            "small": measure_range_join(spark, small),
            "big": measure_range_join(spark, big),
        },
        "incremental_lsh": {
            "small_corpus": measure_incremental_lsh(spark, docs_small),
            "big_corpus": measure_incremental_lsh(spark, docs_big),
        },
        "bucketed_fact_orders_join": measure_bucketed_fact_join(
            spark, big, n_orders=n_rows // 4
        ),
        "lsh_batch_amortization": measure_lsh_batch_amortization(spark, docs_big),
        "passage_dedup": measure_passage_dedup(spark, docs_big),
        "bucketed_fact_customer_join": measure_bucketed_fact_customer_join(
            spark, big, n_customers=n_rows // 20
        ),
        "zorder_pruning": measure_zorder_pruning(spark, n_rows),
        "corpus_quality": measure_corpus_quality(spark, docs_big),
    }
    vec_path = tempfile.mkdtemp(prefix="scale_probe_") + "/vectors"
    n_vecs = int(os.environ.get("SCALE_PROBE_VECS", 200_000))
    synth_vectors(spark, n_vecs, 32, vec_path)
    report["metered"]["ivf_index_200k_vecs"] = measure_ivf_index(
        spark, spark.read.parquet(vec_path)
    )
    # exact-quantiles strategy crossover: 3 groups → per-group distributions
    # of n/3 rows; the default windowed strategy serializes each group's
    # cumulative walk on one core, the chunked prefix sum distributes it
    from datawarehouse_etl_using_hyperjoin_spark.operators.sketches import (
        exact_group_quantiles,
    )

    quant_rows = {}
    for label, df in (("600k", small), (f"{n_rows // 1_000_000}M", big)):
        quant_rows[label] = {
            "default": run_metered(
                spark,
                exact_group_quantiles(df, ["l_returnflag"], "l_extendedprice", [0.5, 0.9]),
            ),
            "chunked_32": run_metered(
                spark,
                exact_group_quantiles(
                    df, ["l_returnflag"], "l_extendedprice", [0.5, 0.9], chunks=32
                ),
            ),
        }
    report["metered"]["exact_group_quantiles_strategies"] = quant_rows
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
