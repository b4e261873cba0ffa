"""Similarity search over an ``array<float>`` embedding column.

Two paths (BASELINE.json north_star):

- **Brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set against the full corpus; per-pair dot product via
  ``zip_with`` + ``aggregate`` (a sequential JVM-side fold, deterministic
  and engine-portable — no Python, no shuffle beyond the final top-k).
- **Sign-LSH bucketed ANN** — the scale path: hyperplane-sign bucketing on
  the leading dimensions partitions the corpus into 2^m buckets; probes
  only join their own bucket, turning the O(N·Q) scan into O(N·Q / 2^m)
  expected work.  At 100 TB the bucket id becomes the shuffle/cluster key
  and each bucket is scanned co-located.

Everything is expressed on the array column directly — embeddings are never
exploded row-per-element, so the 64-float payload stays one Tungsten value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import ensure_compute_parallelism
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Deterministic sequential-fold dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cos, rank).

    The query set is broadcast (it is small by construction); the corpus is
    scanned once, partition-parallel, and the per-query top-k is a window
    ranking — at scale swap the window for a groupBy(query) partial top-k
    if k·|queries| is large.
    """
    # norms once per side, not per pair (the semantic_dedup precompute
    # convention): dot/(qn*cn) is the same doubles in the same order as
    # cosine(), one interpreted fold per pair instead of three
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
        ).withColumn("__qn", norm(F.col("__qvec")))
    )
    # fold-heavy scoring takes its parallelism from partition count, not
    # the 1-2 scan splits a small corpus arrives in (r14; no-op at scale)
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
    ).withColumn("__cn", norm(F.col("__cvec")))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn")),
        )
        .drop("__qvec", "__cvec", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(vec: Column, m: int = 8) -> Column:
    """Sign-LSH bucket id: the concatenated sign bits of the first m dims.

    Axis-aligned hyperplane LSH — deterministic, engine-portable, and a
    valid coarse quantizer for ANN probing (probe = same bucket).
    """
    bits = F.transform(
        F.slice(vec, 1, m), lambda x: F.when(x >= 0, "1").otherwise("0")
    )
    return F.array_join(bits, "")


def ann_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
) -> DataFrame:
    """Approximate top-k: probe only the query's own sign bucket.

    Recall < 1 by design (near neighbors across a hyperplane are missed —
    multi-probe would flip bits); the win is the 2^m candidate reduction.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            sign_bucket(F.col(vec_col), m).alias("bucket"),
        ).withColumn("__qn", norm(F.col("__qvec")))
    )
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        sign_bucket(F.col(vec_col), m).alias("bucket"),
    ).withColumn("__cn", norm(F.col("__cvec")))
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn")),
        )
        .drop("__qvec", "__cvec", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _sign_bits(vec: Column, m: int) -> Column:
    return F.transform(
        F.slice(vec, 1, m), lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0"))
    )


def probe_buckets(vec: Column, m: int = 8) -> Column:
    """Multi-probe bucket list: the vector's own sign bucket plus every
    bucket at Hamming distance 1 (each of the m bits flipped once).

    Sign-LSH's recall hole is a near neighbor sitting just across one
    hyperplane; probing the 1-flip neighborhood closes most of it for
    (m+1)× the candidate work — still a 2^m/(m+1) reduction vs brute
    force.  All array-side; each corpus vector keeps exactly one bucket,
    so probe expansion happens only on the (small) query side and no
    candidate is generated twice.
    """
    bits = _sign_bits(vec, m)
    own = F.array_join(bits, "")
    flips = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda i: F.array_join(
            F.zip_with(
                bits,
                F.sequence(F.lit(1), F.lit(m)),
                lambda bit, j: F.when(
                    j == i, F.when(bit == "1", F.lit("0")).otherwise(F.lit("1"))
                ).otherwise(bit),
            ),
            "",
        ),
    )
    return F.concat(F.array(own), flips)


def ann_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
) -> DataFrame:
    """Approximate top-k with 1-flip multi-probe: each query joins its own
    bucket and the m adjacent buckets.  Strictly dominates
    :func:`ann_bucketed_topk` on recall at (m+1)× its candidate cost."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qvec"),
            F.explode(probe_buckets(F.col(vec_col), m)).alias("bucket"),
        ).withColumn("__qn", norm(F.col("__qvec")))
    )
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        sign_bucket(F.col(vec_col), m).alias("bucket"),
    ).withColumn("__cn", norm(F.col("__cvec")))
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn")),
        )
        .drop("__qvec", "__cvec", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_qdprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
    nprobe: int = 4,
) -> DataFrame:
    """Query-directed multi-probe sign-LSH (cf. Lv et al., "Multi-Probe
    LSH", VLDB'07): probe the query's own bucket plus the ``nprobe - 1``
    1-flip buckets with the *smallest sign margin* |v[i]| — the hyperplanes
    the query sits closest to, hence the flips most likely to hide a true
    neighbor.  Recall ≈ the full 1-flip neighborhood's at a fixed
    candidate budget of ``nprobe``/(m+1) of its cost; the knob is
    independent of m, so bucket granularity and probe effort decouple.

    Probe expansion stays on the (broadcast) query side; each corpus
    vector keeps exactly one bucket, so no candidate is produced twice.
    """
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        _sign_bits(F.col(vec_col), m).alias("__bits"),
    )
    own = q0.select(
        "query_id", "__qvec", F.array_join("__bits", "").alias("bucket")
    )
    i = F.col("__i")
    flipped = F.array_join(
        F.zip_with(
            F.col("__bits"),
            F.sequence(F.lit(1), F.lit(m)),
            lambda bit, j: F.when(
                j == i, F.when(bit == "1", F.lit("0")).otherwise(F.lit("1"))
            ).otherwise(bit),
        ),
        "",
    )
    wm = Window.partitionBy("query_id").orderBy(F.col("__margin").asc(), i.asc())
    flips = (
        q0.select(
            "query_id",
            "__qvec",
            "__bits",
            F.explode(F.sequence(F.lit(1), F.lit(m))).alias("__i"),
        )
        .withColumn("__margin", F.abs(F.element_at("__qvec", i).cast("double")))
        .withColumn("bucket", flipped)
        .withColumn("__rn", F.row_number().over(wm))
        .filter(F.col("__rn") <= nprobe - 1)
        .select("query_id", "__qvec", "bucket")
    )
    probes = F.broadcast(
        own.unionByName(flips).withColumn("__qn", norm(F.col("__qvec")))
    )
    c = ensure_compute_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        sign_bucket(F.col(vec_col), m).alias("bucket"),
    ).withColumn("__cn", norm(F.col("__cvec")))
    scored = (
        probes.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn")),
        )
        .drop("__qvec", "__cvec", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_seed_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: the ``n_centroids``
    smallest-id vectors as (centroid_id, centroid) — a reproducible,
    SQL-expressible stand-in for offline k-means.  In production the
    centroids table is trained offline (e.g. Lloyd iterations on a sample)
    and published as a small dimension table; everything downstream —
    assignment join, probe join — is identical either way.
    """
    return (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid"))
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell assignment: each vector → its max-cosine centroid (ties break
    to the smaller centroid_id).

    Broadcast C centroids × one corpus scan, then a per-vector MAX
    aggregate over (cosine, -centroid_id, vector) structs — bit-identical
    tie-breaking to a (cc DESC, centroid_id ASC) rank, without the rank:
    the earlier row_number window shuffled AND sorted all C candidate
    rows per vector, while the aggregate's map-side combine collapses
    them to one row per vector before the exchange — C× less shuffle
    traffic, no sort.  (A fully shuffle-free inline-literal argmax was
    measured 2-3× slower here: higher-order-function folds are
    interpreted, and C of them in one projection beat the codegen'd
    join+aggregate only in theory.  For quantizers too large to
    broadcast-join cheaply, the scale path is a Pandas-UDF matmul
    against the broadcast centroid matrix.)

    At 100 TB the assignment is written once and the cell id becomes the
    table's partition/cluster key, so probes prune whole cells at scan
    time (partition pruning, no shuffle)."""
    # norms precomputed per SIDE (guide §2.3 "don't recompute in the
    # join"): each vector's norm is one fold per corpus row instead of
    # one per (row × centroid) pair, and each centroid's norm one per
    # centroid instead of one per pair.  dot/(vn*cn) evaluates the same
    # doubles in the same order as cosine(), so assignments (and the
    # downstream trained centroids) stay bit-identical — the
    # semantic_dedup precompute convention.
    scored = (
        ensure_compute_parallelism(corpus).withColumn("__vn", norm(F.col(vec_col)))
        .crossJoin(
            F.broadcast(centroids.withColumn("__cn", norm(F.col("centroid"))))
        )
        .withColumn(
            "__cc",
            dot(F.col(vec_col), F.col("centroid"))
            / (F.col("__vn") * F.col("__cn")),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("__cc").alias("cc"),
                (-F.col("centroid_id")).alias("nid"),
                F.col(vec_col).alias("v"),
            )
        ).alias("b")
    )
    return best.select(
        F.col(id_col),
        F.col("b.v").alias(vec_col),
        (-F.col("b.nid")).alias("centroid_id"),
    )


def kmeans_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd iterations: assign → per-cell element-wise mean.

    Returns (centroid_id, centroid array<double>) after ``iters`` rounds.
    This is the "train the IVF coarse quantizer" step done as a real
    distributed computation instead of a driver-side numpy loop: each round
    is one corpus scan (broadcast C centroids), a posexplode to
    (cell, dim) grain, and a partial-aggregated mean — the shuffle carries
    only C×D mean cells, never vectors.

    Determinism: the per-dimension mean is computed as an exact
    ``DECIMAL(27,9)`` sum (order-independent) divided in double at the end,
    so repeated runs — and the DuckDB oracle — produce bit-identical
    centroids regardless of partitioning.  Cells that receive no vectors
    are dropped (deterministically, on every engine); reseeding of empty
    cells is a production-tuning concern out of scope here.

    At 100 TB: train on a sample (``corpus.sample(...)``) — Lloyd means
    need only statistical coverage — then publish the centroid table as a
    small dimension; the full-corpus ``ivf_assign`` is the only full scan.
    """
    cur = centroids
    for _ in range(iters):
        assigned = ivf_assign(corpus, cur, id_col=id_col, vec_col=vec_col)
        means = (
            assigned.select("centroid_id", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    F.sum(
                        F.col("val").cast("double").cast(T.DecimalType(27, 9))
                    ).cast("double")
                    / F.count(F.lit(1))
                ).alias("mval")
            )
        )
        cur = (
            means.groupBy("centroid_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("__pm")
            )
            .select(
                "centroid_id",
                F.transform("__pm", lambda s: s["mval"]).alias("centroid"),
            )
        )
    return cur


def ann_ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    assigned: DataFrame | None = None,
    probes: DataFrame | None = None,
) -> DataFrame:
    """IVF search: score only the cells of the query's ``nprobe`` nearest
    centroids — expected work O(N·Q·nprobe/C).  Raising ``nprobe`` trades
    candidate volume for recall, the standard IVF knob.

    ``assigned`` (optional) is a precomputed ``ivf_assign(corpus,
    centroids)`` relation: callers that need the assignment for several
    consumers (e.g. a family union whose quantized branch indexes the
    same cells) materialize it once and pass it here, instead of this
    function re-running the corpus × centroids scoring.  ``probes``
    (optional, r15) is likewise a precomputed :func:`ivf_probes`
    relation over the same queries and centroids — the other shared
    subtree of a multi-branch family."""
    if assigned is None:
        assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    cells = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
        "centroid_id",
    ).withColumn("__cn", norm(F.col("__cvec")))
    probe_df = (
        _check_probes(probes)
        if probes is not None
        else ivf_probes(
            queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
        )
    )
    probes = F.broadcast(probe_df.withColumn("__qn", norm(F.col("__qvec"))))
    scored = (
        probes.join(cells, on="centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (F.col("__qn") * F.col("__cn")),
        )
        .drop("__qvec", "__cvec", "__qn", "__cn")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    q_col: str = "qembedding",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: each float array
    becomes ``array<tinyint>`` plus one double scale (max|x| / 127), a 4×
    storage/bandwidth cut for the at-rest ANN corpus.

    At 100 TB the embedding column IS the table — 64 float32 dims are
    256 B/row before a single metadata byte — so quantizing the indexed
    corpus (e.g. the cells of a ``centroid_id``-partitioned index) cuts
    every probe's scan bytes 4× at a reconstruction error bounded by
    scale/2 per element (max|x|/254).  All JVM-side array expressions — no Python, no
    shuffle; the original vector column is kept (drop it at write time
    when the index should hold only quantized payloads).

    The zero vector gets scale 0 and quantizes to zeros (dequantizes to
    itself, the only exact case).
    """
    vec = F.col(vec_col)
    maxabs = F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(maxabs > 0.0, maxabs / F.lit(127.0)).otherwise(F.lit(0.0))
    df = df.withColumn(scale_col, scale)
    return df.withColumn(
        q_col,
        F.transform(
            vec,
            lambda x: F.when(F.col(scale_col) > 0.0, F.round(x.cast("double") / F.col(scale_col)))
            .otherwise(F.lit(0.0))
            .cast("tinyint"),
        ),
    )


def dequantize(q_col: Column, scale_col: Column) -> Column:
    """Reconstruct the float array from (int8 codes, scale)."""
    return F.transform(q_col, lambda x: x.cast("double") * scale_col)


def code_norm(q: Column) -> Column:
    """L2 norm of an int8 code array (the ``cosine_quantized`` norm
    term, exposed so join callers can precompute it once per SIDE
    instead of once per pair — the semantic_dedup precompute
    convention; same expression, same doubles)."""
    return F.sqrt(
        F.aggregate(
            F.transform(q, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_quantized(
    qa: Column, sa: Column, qb: Column, sb: Column,
    na: Column | None = None, nb: Column | None = None,
) -> Column:
    """Approximate cosine from two int8-quantized vectors.

    The per-vector scales cancel out of the cosine entirely
    (cos(s·u, t·v) = cos(u, v) for s,t > 0), so this is exactly the
    cosine of the CODE arrays — integer dot and norms, the cheapest form
    the JVM fold can take; the only approximation is the rounding to 127
    levels.  ``sa``/``sb`` are accepted for signature symmetry and the
    all-zero guard.  ``na``/``nb`` optionally take the precomputed
    :func:`code_norm` of each side (bit-identical; one fold per pair
    instead of three when both sides are precomputed)."""
    num = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if na is None:
        na = code_norm(qa)
    if nb is None:
        nb = code_norm(qb)
    return F.when((sa > 0.0) & (sb > 0.0) & (na > 0.0) & (nb > 0.0), num / (na * nb)).otherwise(
        F.lit(0.0)
    )


def cosine_topk_quantized(
    queries: DataFrame,
    corpus_q: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "qembedding",
    scale_col: str = "qscale",
    k: int = 3,
    rerank: int = 0,
) -> DataFrame:
    """Top-k cosine search over an int8-QUANTIZED corpus
    (:func:`quantize_embeddings`): queries stay float (they are few and
    arrive unquantized), the corpus side is scanned as codes — 4× fewer
    bytes than :func:`cosine_topk`'s float scan, same one-pass
    broadcast shape.

    ``rerank > 0`` enables the classic two-stage refinement: take the top
    ``max(k, rerank)`` candidates by quantized cosine, re-score ONLY
    those with the exact float vectors (requires ``vec_col`` present on
    ``corpus_q``), and return the exact-scored top k.  The rerank stage
    touches k·Q rows, so its cost is query-bound, not corpus-bound."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec")
    )
    keep = [F.col(id_col).alias("neighbor_id"), F.col(q_col).alias("__cq"), F.col(scale_col).alias("__cs")]
    if rerank:
        keep.append(F.col(vec_col).alias("__cvec"))
    c = ensure_compute_parallelism(corpus_q).select(*keep).withColumn(
        "__cqn", code_norm(F.col("__cq"))
    )
    # quantize each float query once, JVM-side, then score codes vs codes
    # (code norms once per side, not per pair — same doubles)
    q = quantize_embeddings(
        q, vec_col="__qvec", q_col="__qq", scale_col="__qs"
    ).withColumn("__qqn", code_norm(F.col("__qq")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "qcos",
            cosine_quantized(
                F.col("__qq"), F.col("__qs"), F.col("__cq"), F.col("__cs"),
                na=F.col("__qqn"), nb=F.col("__cqn"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qcos").desc(), F.col("neighbor_id"))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.col("qcos").alias("cos"), "rank")
        )
    cand = scored.withColumn("__crn", F.row_number().over(w)).filter(
        F.col("__crn") <= max(k, rerank)
    )
    exact = cand.withColumn("cos", cosine(F.col("__qvec"), F.col("__cvec")))
    w2 = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_probes(
    queries: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Probe relation for IVF serving: each query's ``nprobe``
    closest centroids as ``(query_id, __qvec, centroid_id)`` —
    ``Q·nprobe`` rows (design parameters, never data volume).

    Exposed so a caller serving SEVERAL IVF consumers over the same
    queries+centroids (e.g. a family union with a float branch and a
    quantized branch) can compute and materialize the probe set ONCE and
    pass it to each via their ``probes=`` hooks, instead of every branch
    re-running the queries × centroids scoring (r15; the same
    shared-dominant-subtree rule as ``ann_ivf_topk(assigned=)``)."""
    qs = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qvec"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("__qc", cosine(F.col("__qvec"), F.col("centroid")))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__qc").desc(), F.col("centroid_id")
    )
    return (
        qs.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qvec", "centroid_id")
    )


_PROBE_COLS = ("query_id", "__qvec", "centroid_id")


def _check_probes(probes: DataFrame) -> DataFrame:
    """Fail loudly on a drifted ``probes=`` relation (ADVICE r14: the
    precompute hooks silently trusted the caller's invariant — a probe
    relation from different centroids or a different query projection
    would produce plausible wrong scores with no error)."""
    missing = [c for c in _PROBE_COLS if c not in probes.columns]
    if missing:
        raise ValueError(
            f"probes= must carry columns {_PROBE_COLS} (from ivf_probes "
            f"over the same queries and centroids); missing {missing}"
        )
    return probes


def _ivf_probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    nprobe: int,
    probes: DataFrame | None = None,
):
    """(probe relation, sorted probed cell-id list) for at-rest IVF
    serving: each query's ``nprobe`` closest centroids, plus the distinct
    cell ids collected driver-side — bounded by ``min(Q·nprobe, C)``
    (design parameters, never data volume) so they can prune the index
    scan as a LITERAL partition filter at planning time."""
    probe_df = (
        _check_probes(probes)
        if probes is not None
        else ivf_probes(
            queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
        )
    )
    probed_cells = sorted(
        r[0] for r in probe_df.select("centroid_id").distinct().collect()
    )
    return probe_df, probed_cells


def ann_ivf_index_topk_quantized(
    queries: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "qembedding",
    scale_col: str = "qscale",
    k: int = 3,
    nprobe: int = 4,
    rerank: int = 0,
    probes: DataFrame | None = None,
    prune: str = "literal",
) -> DataFrame:
    """IVF search against an at-rest index whose cells hold int8-QUANTIZED
    payloads (:func:`quantize_embeddings` applied before a
    ``partitionBy("centroid_id")`` parquet write): the probed cells pushed
    down as a LITERAL partition filter, so non-probed cells are pruned
    from the file listing before any bytes are read, composed with the
    code-space scoring of :func:`cosine_topk_quantized` — the
    IVF-with-compressed-residuals serving architecture of Jégou, Douze & Schmid 2011 ("Product
    Quantization for Nearest Neighbor Search", IVFADC) with faiss-style
    scalar (SQ8) codes in place of product codes, re-expressed as
    DataFrame plans.

    Why this is the 100 TB serving shape: the embedding column IS the
    index's bytes, and parquet is columnar — the candidate-scoring scan
    selects ONLY (id, codes, scale), so the float ``vec_col`` column's
    pages are never read even when the index keeps it for reranking.
    Probed-cell partition pruning cuts files to ~nprobe/C and the int8
    codes cut the remaining pages a further ~4×, multiplicatively.

    ``rerank > 0``: take the top ``max(k, rerank)`` candidates per query
    by quantized cosine, then re-score ONLY those against the float
    vectors fetched from the probed cells (a broadcast join of a
    ``Q·rerank``-row relation against the pruned float scan — the float
    column is read for probed cells only, and candidate cost is
    query-bound, not corpus-bound).  Output schema matches
    :func:`ann_ivf_topk`.

    ``probes`` (optional, r15): a precomputed :func:`ivf_probes` relation
    over the same queries and centroids — see ``ann_ivf_topk(probes=)``.

    ``prune`` picks how the probed cells and rerank candidates restrict
    the index side:

    - ``"literal"`` (default): driver-side bounded collects pushed down
      as LITERAL predicates (``centroid_id IN probed``, ``id IN
      candidates``) — the AT-REST shape, where the literals prune
      partitions/row groups of the parquet index at planning time.  The
      probe set is bounded by ``min(Q·nprobe, C)`` distinct cell ids,
      never by data volume, and a literal ``isin`` prunes at PLANNING
      time on any Spark version/source, where runtime DPP would leave
      the pruning to an optimizer heuristic.
    - ``"join"`` (r15): no driver collects — the probe relation is
      broadcast-joined on ``centroid_id`` (restricting stage 1 to probed
      cells exactly as the literal does) and the float fetch is a
      broadcast SEMI join on the candidate ids.  Row-for-row identical
      output; right for IN-MEMORY index relations (e.g. a family branch
      over a checkpointed assignment), where a literal prunes no I/O and
      each collect serializes a driver round-trip into query
      construction (guide §2.5 — the r14 profiler measured q_ann_family
      construction ≈ 3× its execution)."""
    if prune not in ("literal", "join"):
        raise ValueError(f"prune must be 'literal' or 'join', got {prune!r}")
    if prune == "join":
        probe_df = (
            _check_probes(probes)
            if probes is not None
            else ivf_probes(
                queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
            )
        )
        # the centroid_id equi-join below restricts stage 1 to probed
        # cells exactly as the literal filter would; no collect needed
        probed = index
    else:
        probe_df, probed_cells = _ivf_probe_cells(
            queries, centroids, id_col, vec_col, nprobe, probes=probes
        )
        probed = index.filter(F.col("centroid_id").isin(probed_cells))
    cells = probed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(q_col).alias("__cq"),
        F.col(scale_col).alias("__cs"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
    ).withColumn("__cqn", code_norm(F.col("__cq")))
    pq = quantize_embeddings(
        probe_df, vec_col="__qvec", q_col="__qq", scale_col="__qs"
    ).withColumn("__qqn", code_norm(F.col("__qq")))
    scored = (
        F.broadcast(pq)
        .join(cells, on="centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "qcos",
            cosine_quantized(
                F.col("__qq"), F.col("__qs"), F.col("__cq"), F.col("__cs"),
                na=F.col("__qqn"), nb=F.col("__cqn"),
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcos").desc(), F.col("neighbor_id")
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "centroid_id", "query_id", "neighbor_id",
                F.col("qcos").alias("cos"), "rank",
            )
        )
    cand = (
        scored.withColumn("__crn", F.row_number().over(w))
        .filter(F.col("__crn") <= max(k, rerank))
        .select("centroid_id", "query_id", "neighbor_id", "__qvec")
        .localCheckpoint(eager=True)
    )
    if prune == "join":
        # in-memory index: the candidate ids restrict the float fetch as
        # a broadcast SEMI join (≤ Q·rerank build rows) — identical rows
        # to the literal IN, zero driver round-trips (guide §2.5)
        floats = index.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        ).join(
            F.broadcast(cand.select("neighbor_id").distinct()),
            "neighbor_id",
            "semi",
        )
    else:
        # candidate ids are bounded by Q·rerank (design parameters,
        # never data volume — the same bounded-literal-collect pattern as
        # the probe cells); pushing them into the float fetch lets
        # parquet skip row groups holding no candidate, instead of
        # re-reading every probed cell's float column.  The checkpoint
        # above means stage-1 scoring runs ONCE, not once more per
        # downstream consumer.
        ids = cand.select("neighbor_id").distinct().collect()
        cand_filter = F.col(id_col).isin(sorted(r.neighbor_id for r in ids))
        floats = probed.filter(cand_filter).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cvec")
        )
    exact = (
        F.broadcast(cand)
        .join(floats, on="neighbor_id")
        .withColumn("cos", cosine(F.col("__qvec"), F.col("__cvec")))
        .drop("__qvec", "__cvec")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("centroid_id", "query_id", "neighbor_id", "cos", "rank")
    )


def near_dup_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block: Column | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold).

    ``block`` (default: sign bucket) bounds the quadratic join — identical
    scale posture to the text-dedup blocking keys.
    """
    bucket = block if block is not None else sign_bucket(F.col(vec_col))
    # norm once per vector, not per pair (the semantic_dedup precompute
    # convention — same doubles, same operation order)
    v = ensure_compute_parallelism(vectors).select(
        F.col(id_col), F.col(vec_col), bucket.alias("bucket")
    ).withColumn("__nv", norm(F.col(vec_col)))
    a = v.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
        F.col("__nv").alias("__na"), "bucket",
    )
    b = v.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
        F.col("__nv").alias("__nb"), "bucket",
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_cell: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with a coarse quantizer,
    then drop near-duplicates WITHIN each cluster — pairs are only ever
    scored inside a cell, so the quadratic term is bounded by cell size,
    never corpus size (the same blocking posture as LSH text dedup; the
    paper's insight is that semantic duplicates land in the same cluster
    by construction, so cross-cell pairs can be skipped wholesale).

    Returns the SURVIVOR relation (id, centroid_id): the keep-smallest-id
    rule drops every vector that scores ``>= threshold`` against a
    smaller-id vector in its cell — deterministic, partition-invariant,
    and identical to the dedup_survivors convention so downstream
    anti-joins compose.  ``max_cell`` guards the within-cell join the way
    ``max_bucket`` guards LSH buckets: a degenerate cell larger than the
    cap (a mode/dead-embedding cluster — the thing that would make one
    task quadratic-explode at 100 TB) is passed through UNDEDUPED rather
    than joined; split such cells by re-training with more centroids.

    Plan shape: one broadcast assignment scan (ivf_assign), one
    equi-join on centroid_id (shuffle bounded by corpus size), one
    anti-join back.  At rest, write the assignment cell-partitioned
    (``partitionBy("centroid_id")``) and dedup each new batch against only
    its own cells' files — the incremental form mirrors the LSH/fingerprint
    index paths.
    """
    # the assignment feeds the size gate, both self-join sides AND the
    # final anti-join — materialize it once instead of re-running the
    # centroid scoring four times.  Each vector's norm is computed here
    # too: the within-cell stage evaluates O(cell²) pairs, and
    # dot/(norm_a*norm_b) with norms precomputed is one 64-element fold
    # per pair instead of cosine()'s three — same doubles, same
    # operation order, so scores stay bit-identical.
    assigned = (
        ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
        .withColumn("__nv", norm(F.col(vec_col)))
        .localCheckpoint(eager=True)
    )
    sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("__n"))
    assigned = assigned.join(F.broadcast(sizes), "centroid_id")
    small = assigned.filter(F.col("__n") <= max_cell)
    a = small.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
        F.col("__nv").alias("__na"), "centroid_id",
    )
    b = small.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
        F.col("__nv").alias("__nb"), "centroid_id",
    )
    dropped = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(
        id_col, "centroid_id"
    )


# ---------------------------------------------------------------------------
# Incremental semantic dedup against an AT-REST embedding index (r10).
#
# The text side of the ingest path has had this since r7 (the MinHash band
# index + make_corpus_ingest_sink): each micro-batch computes only its own
# signatures and probes persisted history — the corpus is never re-read.
# The embedding side only had BATCH operators (near_dup_pairs,
# semantic_dedup), so a stream could not semantic-dedup against history
# without re-scoring the whole corpus.  These mirror the LSH machinery
# one-for-one: sign-LSH bucket as the blocking key (the same key the
# batch path uses, so incremental ≡ batch is provable), a bucketed
# catalog table partitioned by ingest_batch as the index, dynamic
# partition overwrite for exactly-once replay.


def upsert_embedding_index_batch(
    vectors: DataFrame,
    table: str,
    batch_id: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_buckets: int = 32,
) -> None:
    """EXACTLY-ONCE batch append to the at-rest embedding dedup index.

    Stores (id, bucket, embedding) BUCKETED by the sign-LSH bucket (the
    incremental probe join then plans exchange-free on the index side)
    and PARTITIONED by ``ingest_batch``: a foreachBatch replay REPLACES
    its own partition instead of appending duplicate rows — the same
    layout contract as ``dedup.upsert_lsh_index_batch`` (the text-side
    sibling).  First batch creates the table.

    Scale note: rows carry the float embedding (needed for the cosine
    verify).  At 100 TB keep the index to the SURVIVOR set (what
    :func:`make_embedding_ingest_sink` does) and compact with
    ``dedup.compact_lsh_index`` — the layout is identical, so the same
    maintenance pass applies.
    """
    spark = vectors.sparkSession
    tagged = vectors.select(
        F.col(id_col),
        sign_bucket(F.col(vec_col), m).alias("bucket"),
        F.col(vec_col),
    ).withColumn("ingest_batch", F.lit(int(batch_id)))
    if not spark.catalog.tableExists(table):
        from ..sources.files import write_bucketed

        write_bucketed(
            tagged, table, "bucket", n_buckets=n_buckets, sort=True,
            mode="overwrite", partition_by=["ingest_batch"],
        )
        return
    cols = spark.table(table).columns
    if "ingest_batch" not in cols:
        raise ValueError(
            f"embedding index table {table!r} lacks the ingest_batch "
            "partition column — rebuild it via upsert_embedding_index_batch "
            "from scratch or start a fresh table"
        )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        tagged.select(*cols).write.mode("overwrite").insertInto(table)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_embedding_index(spark, table: str) -> DataFrame:
    """Read the at-rest embedding dedup index written by
    :func:`upsert_embedding_index_batch`."""
    return spark.table(table)


# Loud ceiling on how many degenerate blocking keys the skew guard will
# carry as literal In-filters: more oversized keys than this is not skew,
# it is a systemically wrong bucketing (re-bucket with a larger m).
_MAX_DEGENERATE_KEYS = 10_000


def embedding_incremental_pairs(
    new_vectors: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    m: int = 8,
    max_bucket: int = 10_000,
    sub_bits: int = 8,
    stats_out: dict | None = None,
) -> DataFrame:
    """Embedding near-dup pairs for an INCREMENTAL batch: new vectors vs
    the at-rest index, plus pairs within the new batch — the semantic
    sibling of ``dedup.lsh_incremental_pairs``.

    Blocking key = the sign-LSH bucket (:func:`sign_bucket`, the key
    :func:`near_dup_pairs` uses), so candidate scoring is bounded by
    bucket co-membership on both legs; the index side joins off its
    bucketed layout with no exchange, and only the batch is ever hashed.
    Output: (id_a, id_b, cos, pair_type) with pair_type ∈
    {'new_vs_index', 'new_vs_new'}; for new_vs_index, id_a is the index
    vector.  A doc present in both (re-ingest) never emits a self-pair.

    Skew guard (r11 — graceful degradation, not skipping): an index
    bucket larger than ``max_bucket`` (a mode/dead-embedding bucket —
    the thing that would make one task quadratic at 100 TB) is
    SUB-BUCKETED with ``sub_bits`` more sign bits (a larger effective m
    for that bucket only, the LSH form of splitting a hot IVF cell), on
    BOTH probe legs, so its near-dups are still caught — a near-dup pair
    agrees on the extra sign bits with overwhelming probability, and a
    planted copy by construction.  A sub-bucket that is STILL oversized
    (≥ ``max_bucket`` identical sign patterns — e.g. an exact-duplicate
    mode cluster, which exact dedup should have removed upstream) is
    excluded so the quadratic bound holds no matter what; exclusion is
    REPORTED, never silent: pass ``stats_out`` (a dict, filled in place
    with oversized_buckets / oversized_rows / subbucketed_rows /
    excluded_fine_keys / excluded_rows) — :func:`make_embedding_ingest_sink`
    persists it per batch.  Sub-bucketing saturates at the vector length
    (``sign_bucket`` pads nothing), so for dim ≤ m the guard degrades to
    exclusion, reported the same way.

    Oversized-key ids are metadata-sized by construction (≤ rows /
    max_bucket; skew means they are FEW — a loud ValueError past
    ``_MAX_DEGENERATE_KEYS`` catches systemic mis-bucketing), so they
    are collected and baked into the plan as literal In-filters: the
    no-skew fast path leaves the probe plan untouched.
    """
    new = new_vectors.select(
        F.col(id_col), F.col(vec_col),
        sign_bucket(F.col(vec_col), m).alias("bucket"),
    )
    big_rows = (
        index.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket)
        .limit(_MAX_DEGENERATE_KEYS + 1)
        .collect()
    )
    if len(big_rows) > _MAX_DEGENERATE_KEYS:
        raise ValueError(
            f"more than {_MAX_DEGENERATE_KEYS} index buckets exceed "
            f"max_bucket={max_bucket}: this is not skew, the bucketing "
            f"is systemically too coarse — re-bucket the index with a "
            f"larger m (current m={m})"
        )
    big = [r["bucket"] for r in big_rows]
    idx = index.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), "bucket"
    ).withColumn("__na", norm(F.col("__va")))
    newp = new.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), "bucket"
    ).withColumn("__nb", norm(F.col("__vb")))
    excl_rows: list = []
    if big:
        m_fine = m + sub_bits

        def pkey(df: DataFrame, vc: str) -> DataFrame:
            # fine keys are m+sub_bits chars, coarse keys m chars — the
            # two key spaces never collide
            return df.withColumn(
                "pkey",
                F.when(
                    F.col("bucket").isin(big),
                    sign_bucket(F.col(vc), m_fine),
                ).otherwise(F.col("bucket")),
            ).drop("bucket")

        excl_rows = (
            idx.filter(F.col("bucket").isin(big))
            .groupBy(sign_bucket(F.col("__va"), m_fine).alias("pkey"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .limit(_MAX_DEGENERATE_KEYS + 1)
            .collect()
        )
        if len(excl_rows) > _MAX_DEGENERATE_KEYS:
            raise ValueError(
                f"more than {_MAX_DEGENERATE_KEYS} sub-buckets still "
                f"exceed max_bucket={max_bucket} — run exact dedup "
                f"upstream or re-bucket with a larger m"
            )
        excl = [r["pkey"] for r in excl_rows]
        idx = pkey(idx, "__va")
        newp = pkey(newp, "__vb")
        if excl:
            idx = idx.filter(~F.col("pkey").isin(excl))
        join_key = "pkey"
    else:
        join_key = "bucket"
    if stats_out is not None:
        oversized_rows = int(sum(r["__n"] for r in big_rows))
        excluded_rows = int(sum(r["__n"] for r in excl_rows))
        stats_out.update(
            oversized_buckets=len(big),
            oversized_rows=oversized_rows,
            subbucketed_rows=oversized_rows - excluded_rows,
            excluded_fine_keys=len(excl_rows),
            excluded_rows=excluded_rows,
        )
    cross = (
        newp.join(idx, join_key)
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "cos",
            dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
        .withColumn("pair_type", F.lit("new_vs_index"))
    )
    within = near_dup_pairs(
        new, id_col=id_col, vec_col=vec_col, threshold=threshold,
        block=F.col("bucket"),
    ).withColumn("pair_type", F.lit("new_vs_new"))
    return cross.unionByName(within)


def make_embedding_ingest_sink(
    out_dir: str,
    index_table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    m: int = 8,
    n_buckets: int = 32,
    max_bucket: int = 10_000,
):
    """foreachBatch handler: semantic-dedup each micro-batch of
    embedded records against the AT-REST embedding index, append
    survivors + their index rows — the embedding sibling of
    ``corpus.make_corpus_ingest_sink``.

    Per batch: bucket the batch's vectors (linear in batch size), probe
    the persisted index via :func:`embedding_incremental_pairs`
    (EXCLUDING the batch's own partition, so replays don't self-match),
    drop every new id that matches an indexed vector (history wins) or
    a smaller-id vector within the batch (the dedup_survivors
    convention), land survivors in ``{out_dir}/ingest_batch=N`` and
    ONLY their rows in the index — both via per-batch partition
    overwrite, so a recovered replay CONVERGES to the identical corpus
    + index (same exactly-once discipline as the text sink; composes
    under ``make_quarantine_sink`` the same way).  ID UNIQUENESS is
    part of the contract (r10, same fix as the text sink): duplicate
    id rows within a batch keep one deterministic survivor, and an id
    re-sent in a later batch is dropped against the index (first
    write wins).

    Skew-guard reporting (r11): the probe's sub-bucket/exclusion
    counters (see :func:`embedding_incremental_pairs`) are persisted to
    ``{out_dir}/_probe_stats/ingest_batch=N`` — one row per batch,
    overwritten on replay, so an operator can SEE when a degenerate
    bucket was sub-bucketed or (worst case) excluded-undeduped instead
    of the quality regression being invisible.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # id uniqueness WITHIN the batch: deterministic keep-first by
        # vector hash, so a replay picks the same row
        # id uniqueness WITHIN the batch (deterministic keep-first by
        # vector hash, so a replay picks the same row); checkpointed —
        # batch-bounded, and every downstream reference (the id guard,
        # BOTH legs of the pair probe, the survivor anti-join) would
        # otherwise re-execute the window AND, worse, feed the planner a
        # size-unknown join plan whose bucket join then stops
        # broadcasting the batch side (measured: per-batch wall grew
        # with INDEX size instead of staying batch-bound)
        w_id = Window.partitionBy(id_col).orderBy(F.xxhash64(F.col(vec_col)))
        uniq = (
            batch_df.withColumn("__rn", F.row_number().over(w_id))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        ).localCheckpoint(eager=True)
        probe_stats: dict = dict(
            oversized_buckets=0, oversized_rows=0, subbucketed_rows=0,
            excluded_fine_keys=0, excluded_rows=0,
        )
        if spark.catalog.tableExists(index_table):
            index = read_embedding_index(spark, index_table).where(
                F.col("ingest_batch") != int(batch_id)
            )
            # id uniqueness ACROSS batches (first write wins — same
            # r10 fix as the text sink: a same-id re-send is a
            # filtered self-pair to the near-dup probe, so it must
            # be dropped against the index's id authority; broadcast
            # semi keeps the index un-exchanged)
            already = index.join(
                F.broadcast(uniq.select(id_col)), id_col, "left_semi"
            ).select(id_col).distinct()
            cand = uniq.join(
                already, id_col, "left_anti"
            ).localCheckpoint(eager=True)
            pairs = embedding_incremental_pairs(
                cand, index, id_col=id_col, vec_col=vec_col,
                threshold=threshold, m=m, max_bucket=max_bucket,
                stats_out=probe_stats,
            )
        else:
            cand = uniq
            pairs = near_dup_pairs(
                cand.select(
                    F.col(id_col), F.col(vec_col),
                    sign_bucket(F.col(vec_col), m).alias("bucket"),
                ),
                id_col=id_col, vec_col=vec_col, threshold=threshold,
                block=F.col("bucket"),
            )
        dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
        survivors = cand.join(
            dropped, on=id_col, how="left_anti"
        ).localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(
            f"{out_dir}/ingest_batch={int(batch_id)}"
        )
        upsert_embedding_index_batch(
            survivors.select(id_col, vec_col), index_table,
            int(batch_id), id_col=id_col, vec_col=vec_col, m=m,
            n_buckets=n_buckets,
        )
        spark.createDataFrame(
            [
                (
                    int(batch_id),
                    probe_stats["oversized_buckets"],
                    probe_stats["oversized_rows"],
                    probe_stats["subbucketed_rows"],
                    probe_stats["excluded_fine_keys"],
                    probe_stats["excluded_rows"],
                )
            ],
            "batch_id long, oversized_buckets long, oversized_rows long, "
            "subbucketed_rows long, excluded_fine_keys long, "
            "excluded_rows long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/_probe_stats/ingest_batch={int(batch_id)}"
        )

    return _sink
