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
    every batch.
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
