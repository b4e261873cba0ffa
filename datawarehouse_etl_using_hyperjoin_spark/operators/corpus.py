"""End-to-end training-corpus preparation: the composition a data team
actually runs over raw documents before tokenization.

Stage chain (all JVM column expressions + the blocked dedup operators —
no Python in any hot path):

    metrics → quality/language gate → (optional) repetition + LM-
    perplexity gates → exact dedup → near-dup removal (MinHash-LSH) →
    deterministic train/eval split → partitioned write

Scale posture (100 TB):
- every stage is linear except LSH candidate generation, which is bounded
  per band bucket (``max_bucket`` guard, SCALE.md);
- near-dup removal keeps the minimum-id document of every candidate pair
  by default (join-free, no iteration); ``transitive=True`` upgrades to
  exact duplicate CLUSTERS via distributed connected components
  (``operators.graph``) when chains must resolve to one survivor;
- the split is content-hash based, so duplicates that survive land in the
  same split and reruns/backfills are stable across cluster sizes;
- the write partitions by split (and optionally language), the keys
  downstream training jobs prune on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text as tx
from .dedup import lsh_bands_from_array, lsh_candidate_pairs, minhash_array


def corpus_metrics(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach the standard per-document metric columns (single projection)."""
    t = F.col(text_col)
    return docs.withColumns(
        {
            "ws_tokens": tx.ws_token_count(t),
            "quality_score": tx.quality_score(t),
            "lang_pred": tx.lang_id(t),
            "fingerprint": tx.fingerprint(t),
        }
    )


def _quality_gate(
    scored: DataFrame,
    *,
    min_quality: float,
    min_tokens: int,
    langs: tuple[str, ...] | None,
) -> DataFrame:
    """The shared quality/length/language gate — ONE definition so the
    batch chain, the per-row stream and the foreachBatch ingest sink can
    never drift apart."""
    gated = scored.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("ws_tokens") >= min_tokens)
    )
    if langs is not None:
        gated = gated.filter(F.col("lang_pred").isin(*langs))
    return gated


def prepare_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.35,
    min_tokens: int = 5,
    langs: tuple[str, ...] | None = None,
    max_top_bigram_frac: float | None = None,
    max_perplexity: float | None = None,
    lm: tuple[DataFrame, DataFrame] | None = None,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 1000,
    train_pct: int = 90,
    transitive: bool = False,
    scrub: bool = False,
    line_dedup_words: int | None = None,
    c4: bool = False,
    c4_opts: dict | None = None,
) -> DataFrame:
    """The full prep chain; returns surviving docs with metrics + ``split``.

    Survivor rules: one doc per exact content fingerprint (min id), then
    near-dup thinning over the LSH candidate pairs — per-pair min-id by
    default, or exact connected-component clustering with
    ``transitive=True`` (``operators.graph``).  The per-pair rule can keep
    two survivors of one chain when ids are not monotone along it
    (edges (5,9),(9,3) drop only 9); the transitive mode keeps exactly
    one per component at the cost of O(component-diameter) label-
    propagation rounds.

    Optional quality gates, both off by default:
    - ``max_top_bigram_frac`` — Gopher repetition gate (Rae et al. 2021):
      drop documents whose single most frequent bigram fills more than
      this share of bigram slots (crawler traps, keyword stuffing).
      Expression-level (``text.top_gram_run_count``) — zero extra joins
      or shuffles.
    - ``max_perplexity`` — CCNet LM gate (``operators.lm``): drop
      documents scoring above the threshold under the interpolated
      bigram model.  ``lm=(unigrams, bigrams)`` supplies a pretrained
      model (the production shape: train once on trusted text, persist
      the count relations, score every batch); by default the model is
      trained on the quality/language-gated corpus itself.

    r6 hygiene stages (all off by default, applied BEFORE metrics in the
    CCNet/C4 order — scrub, then corpus-wide line dedup, then gates):
    - ``scrub`` — mask structured PII in place (``text.scrub_pii``;
      zero-shuffle column pass).
    - ``line_dedup_words`` — corpus-wide keep-first line dedup
      (``dedup.dedup_lines_in_docs`` at this line width, space-rejoined);
      documents whose every line was boilerplate are dropped.  One
      window exchange + one id join to keep the caller's other columns.
    - ``c4`` / ``c4_opts`` — the C4 heuristic gates (``text.c4_gates``),
      dropping non-``keep`` docs; per-gate flags are not kept (use the
      operator directly for the report form).
    """
    if scrub:
        docs = docs.withColumn(text_col, tx.scrub_pii(F.col(text_col)))
    if line_dedup_words is not None:
        from .dedup import dedup_lines_in_docs

        deduped = dedup_lines_in_docs(
            docs, id_col, text_col, words_per_line=line_dedup_words, sep=" "
        )
        docs = docs.drop(text_col).join(
            deduped.where(F.col("n_kept") > 0).select(
                id_col, F.col("text_dedup").alias(text_col)
            ),
            on=id_col,
        )
    if c4:
        flags = ("n_words", "mean_word_len", "len_ok", "mean_len_ok",
                 "no_brace", "no_lorem", "no_badword", "keep")
        docs = (
            tx.c4_gates(docs, id_col, text_col, **(c4_opts or {}))
            .where("keep")
            .drop(*flags)
        )
    scored = corpus_metrics(docs, id_col, text_col)
    gated = _quality_gate(
        scored, min_quality=min_quality, min_tokens=min_tokens, langs=langs
    )
    if max_top_bigram_frac is not None:
        staged = gated.withColumn(
            "__toks", F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).withColumn("__nw", F.size("__toks").cast("long"))
        frac = tx.top_gram_run_count(
            F.col("__toks"), F.col("__nw"), 2
        ).cast("double") / (F.col("__nw") - 1)
        gated = (
            staged.withColumn("top_bigram_frac", frac)
            .filter(
                F.col("top_bigram_frac").isNull()
                | (F.col("top_bigram_frac") <= max_top_bigram_frac)
            )
            .drop("__toks", "__nw")
        )
    if max_perplexity is not None:
        from .lm import lm_perplexity, perplexity_gate, train_ngram_lm

        uni, big = lm if lm is not None else train_ngram_lm(
            gated, id_col, text_col
        )
        ppl = lm_perplexity(gated, uni, big, id_col, text_col)
        gated = perplexity_gate(
            gated, ppl, id_col, max_perplexity=max_perplexity
        )

    # exact dedup: min id per normalized-content fingerprint (one shuffle)
    exact = (
        gated.withColumn(
            "__rep", F.min(id_col).over(Window.partitionBy("fingerprint"))
        )
        .filter(F.col(id_col) == F.col("__rep"))
        .drop("__rep")
    )

    # near-dup removal: drop the larger id of every LSH candidate pair
    sig = minhash_array(exact.select(id_col, text_col), id_col, text_col, shingle_k, n_hashes)
    bands = lsh_bands_from_array(sig, id_col, n_hashes, n_bands)
    pairs = lsh_candidate_pairs(bands, id_col, max_bucket)
    if transitive:
        from .graph import dedup_survivors

        kept = dedup_survivors(exact, pairs, id_col)
    else:
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        kept = exact.join(losers, on=id_col, how="left_anti")

    return kept.withColumn("split", tx.train_eval_split(F.col(text_col), train_pct))


def prepare_corpus_stream(
    stream_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.35,
    min_tokens: int = 5,
    langs: tuple[str, ...] | None = None,
    ts_col: str = "ingest_ts",
    watermark_delay: str = "10 minutes",
    scrub: bool = False,
    c4: bool = False,
    c4_opts: dict | None = None,
    decontaminate: DataFrame | None = None,
    decon_opts: dict | None = None,
) -> DataFrame:
    """Streaming corpus ingest: the stateless gates of
    :func:`prepare_corpus` applied to a document STREAM, plus exact
    content dedup against in-flight state.  ``scrub`` / ``c4`` mirror
    the batch chain's r6 hygiene stages — both are pure column
    expressions, so they stream unchanged (corpus-wide LINE dedup does
    not: it needs cross-document state at line grain — run it per
    micro-batch against the at-rest indexes in ``foreachBatch``).

    The metric columns and quality/length/language gates are pure column
    expressions, so they stream unchanged; exact dedup becomes
    ``dropDuplicatesWithinWatermark`` on the content fingerprint — one
    survivor per normalized content among all documents inside the
    watermark horizon, with state evicted as the watermark passes (the
    ``consume_once`` posture: bounded state at any ingest rate).

    What deliberately stays OUT of the per-row stream: near-dup LSH and
    historical exact dedup, which need the corpus-wide at-rest indexes
    (``operators.dedup.write_lsh_index`` / ``incremental_*``) — run
    those per micro-batch in ``foreachBatch``, the same amortized-batch
    shape `dedup_new_batches` measures in SCALE.md.  Benchmark
    DECONTAMINATION does stream: pass ``decontaminate=<benchmark df>``
    (+ ``decon_opts``) to insert the stateless per-row Bloom gate
    (:func:`decontaminate_stream`) ahead of the quality gates.
    ``ts_col`` must be a timestamp column on the stream (ingest time or
    source event time)."""
    if scrub:
        stream_docs = stream_docs.withColumn(
            text_col, tx.scrub_pii(F.col(text_col))
        )
    if c4:
        flags = ("n_words", "mean_word_len", "len_ok", "mean_len_ok",
                 "no_brace", "no_lorem", "no_badword", "keep")
        stream_docs = (
            tx.c4_gates(stream_docs, id_col, text_col, **(c4_opts or {}))
            .where("keep")
            .drop(*flags)
        )
    if decontaminate is not None:
        # stateless per-row Bloom probe against the static benchmark —
        # built once at definition time, streams with no join/state
        stream_docs = decontaminate_stream(
            stream_docs, decontaminate, id_col=id_col, text_col=text_col,
            **(decon_opts or {}),
        )
    scored = corpus_metrics(stream_docs, id_col, text_col)
    gated = _quality_gate(
        scored, min_quality=min_quality, min_tokens=min_tokens, langs=langs
    )
    return gated.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def decontaminate_stream(
    stream_docs: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    fpp: float = 0.01,
    max_hit_frac: float = 0.5,
    bench_count: int | None = None,
    flag_only: bool = False,
) -> DataFrame:
    """Benchmark decontamination as a STATELESS streaming gate: drop (or
    flag) documents whose k-shingle BLOOM-hit fraction against the
    STATIC benchmark meets or exceeds ``max_hit_frac`` (the keep
    predicate is strict ``hits < n_shingles * max_hit_frac``, so a doc
    exactly at the budget is dropped — conservative side).

    The filter is built ONCE at query-definition time (the benchmark is
    at-rest; ``bloom_build``'s collect is bounded by the filter size) and
    rides every micro-batch row as a pure column expression
    (``bloom_hit_expr`` — no join, no watermark, no state), so the gate
    composes with :func:`prepare_corpus_stream`'s other per-row stages
    at any ingest rate.  Semantics are the CONSERVATIVE side of
    ``contamination_check_bloom``: no false negatives (a truly
    contaminated shingle always hits, so true hit-fraction ≥ exact
    contamination fraction), while clean shingles false-positive at
    ≈``fpp`` — a clean doc is wrongly dropped only when ≥``max_hit_frac``
    of its shingles ALL false-positive (Binomial tail ≈ negligible for
    any doc beyond a few shingles; a per-COUNT budget like "drop on any
    hit" does NOT work at doc grain: with ~40 shingles/doc and fpp=0.01,
    one-in-three clean docs has some FP shingle — measured).  Run the
    exact confirm join (``contamination_check``) over the at-rest corpus
    when an audit needs the precise list.

    ``flag_only=True`` keeps every row and adds ``n_bloom_hits`` /
    ``n_shingles`` columns instead of filtering."""
    from .bloom import bloom_build, bloom_hit_expr, optimal_bloom_params
    from .dedup import with_shingle_array

    bench_sh = (
        with_shingle_array(benchmark.select(text_col), text_col, k, out="__sh")
        .select(F.explode(F.array_distinct("__sh")).alias("shingle"))
        .distinct()
    )
    if bench_count is None:
        bench_count = bench_sh.count()
    num_bits, num_hashes = optimal_bloom_params(bench_count, fpp)
    bits = bloom_build(
        bench_sh, "shingle", num_bits=num_bits, num_hashes=num_hashes
    )

    shingled = with_shingle_array(stream_docs, text_col, k, out="__shd")
    hits = F.size(
        F.filter(
            F.array_distinct("__shd"),
            lambda s: bloom_hit_expr(
                s, bits, num_bits=num_bits, num_hashes=num_hashes
            ),
        )
    ).cast("long")
    out = shingled.withColumn("n_bloom_hits", hits).withColumn(
        "n_shingles", F.size(F.array_distinct("__shd")).cast("long")
    ).drop("__shd")
    if flag_only:
        return out
    return out.where(
        (F.col("n_shingles") == 0)
        | (F.col("n_bloom_hits") < F.col("n_shingles") * max_hit_frac)
    ).drop("n_bloom_hits", "n_shingles")


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Benchmark-contamination report: for every corpus document, the
    fraction of its word ``k``-gram shingles that also appear in the
    benchmark/eval set — the pre-training decontamination step (eval
    questions leaking into training data inflate benchmark scores).

    Shape: the benchmark's distinct shingle set is tiny relative to the
    corpus (eval sets are small by definition), so the corpus's exploded
    shingles inner-join it — Catalyst broadcasts the benchmark side — and
    a single groupBy yields per-doc overlap.  Corpus-side cost is one
    explode + one aggregation; the 100 TB corpus is never self-joined.
    Long k (default 8) keeps chance collisions near zero, the standard
    n-gram-overlap decontamination setting.

    Returns (id_col, n_shingles, n_contaminated, contamination) for every
    corpus doc with at least one hit; docs with zero overlap are absent
    (left-join the corpus and coalesce to 0 for a full report).
    """
    from .dedup import ensure_compute_parallelism, with_shingle_array

    # one corpus scan: the distinct-shingle array is built once (staged
    # token projection — an inline split would re-run the regex per
    # shingle inside the interpreted lambda), its size rides
    # along through the explode, and compute parallelism is decoupled
    # from scan splits like every other shingle-hashing stage.
    # Measured 5.3 s → ~1.5 s at sf0.1.
    staged = with_shingle_array(
        ensure_compute_parallelism(corpus.select(F.col(id_col), F.col(text_col))),
        text_col, k, out="__sh",
    ).select(F.col(id_col), F.array_distinct("__sh").alias("__shd"))
    corpus_sh = staged.select(
        F.col(id_col),
        F.size("__shd").cast("long").alias("n_shingles"),
        F.explode("__shd").alias("shingle"),
    )
    bench_sh = (
        with_shingle_array(
            benchmark.select(F.col(bench_text_col)), bench_text_col, k, out="__sh"
        )
        .select(F.explode(F.array_distinct("__sh")).alias("shingle"))
        .distinct()
    )
    hits = (
        corpus_sh.join(bench_sh, "shingle", "inner")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_contaminated"),
            F.max("n_shingles").alias("n_shingles"),
        )
    )
    return hits.select(
        id_col,
        "n_shingles",
        "n_contaminated",
        (F.col("n_contaminated") / F.col("n_shingles")).alias("contamination"),
    )


def write_corpus(
    prepared: DataFrame,
    out_dir: str,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Persist the prepared corpus partitioned by the downstream prune keys
    (default: split) — training jobs then read only their partition.

    ``max_records_per_file`` caps file size (writer splits past the cap):
    at corpus scale unbounded task outputs produce multi-GB files that
    serialize downstream scan parallelism, while the partition columns
    alone can produce a small-files explosion — the cap plus AQE's
    coalesced shuffle partitions bound both ends.
    """
    cols = partition_cols or ["split"]
    writer = prepared.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*cols).parquet(out_dir)


def make_corpus_ingest_sink(
    out_dir: str,
    index_table: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.35,
    min_tokens: int = 5,
    langs: tuple[str, ...] | None = None,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 3,
    max_bucket: int = 1000,
    doc_meta_dir: str | None = None,
):
    """foreachBatch handler: gate each micro-batch, near-dup it against
    the AT-REST LSH index, append survivors + their signatures.  The
    survivors land in one ``ingest_batch=N`` partition dir per batch,
    replay overwrites it; :func:`compact_corpus` compacts the dir.

    This is the historical-dedup half :func:`prepare_corpus_stream`
    deliberately leaves out of the per-row stream: each batch computes
    only its own MinHash bands (linear in batch size) and joins the
    persisted band index on (band, band_hash) — the corpus is never
    re-read or re-hashed (``operators.dedup.lsh_incremental_pairs``; the
    index scan is exchange-free off the bucketed table).  Exact
    re-ingests are caught by the same join (identical text → identical
    signature → every band shared).  Survivors are appended to
    ``out_dir`` and ONLY their bands to ``index_table``, so the index
    stays duplicate-free.  EXACTLY-ONCE (r7): each batch's survivors
    land in their own ``ingest_batch=N`` partition dir (replay
    overwrites it) and the index append is a dynamic partition overwrite
    keyed by batch id (``upsert_lsh_index_batch`` — the index table is
    partitioned by ``ingest_batch`` and bucketed by ``band_hash``, so
    the incremental probe stays exchange-free); the probe side excludes
    the current batch's own partition so replays don't self-match.  A
    recovered replay therefore CONVERGES to the identical corpus + index
    instead of appending duplicates.  ID UNIQUENESS is part of the
    contract (r10): duplicate id rows within a batch keep one
    deterministic survivor, and an id re-sent in a LATER batch is
    dropped against the index (first write wins — previously it slipped
    past the near-dup probe as a filtered self-pair and landed twice).

    ``doc_meta_dir`` (r14, VERDICT r13 #5) additionally maintains a
    DOC-METADATA DIM — one row per quality-gated document id, carrying
    its metrics (``fingerprint``/``ws_tokens``/``quality_score``/
    ``lang_pred``), its ingest ``status`` (``kept`` /
    ``duplicate_text`` / ``duplicate_id`` / ``near_dup``) and
    ``last_ingest_batch`` — through the SAME
    :func:`.upsert.upsert_parquet_sink` the star pipeline's product dim
    uses: each batch is one keyed SCD1 merge and overwrite, so a re-sent
    id UPDATES its row (the corpus itself stays first-write-wins) and a
    replayed batch converges to the same dim.  The dim answers "what
    happened to doc X and why" without scanning the corpus.  Read it
    back with ``spark.read.parquet(doc_meta_dir)``; it does not age
    (the upsert rewrites it in place).

    Use::

        q = (stream.writeStream.foreachBatch(
                 make_corpus_ingest_sink("/data/corpus", "lsh_index"))
             .option("checkpointLocation", ckpt).start())
    """
    from .dedup import (
        lsh_bands_from_array,
        lsh_candidate_pairs,
        lsh_incremental_pairs,
        minhash_array,
        read_lsh_index,
        upsert_lsh_index_batch,
    )

    meta_sink = None
    if doc_meta_dir is not None:
        from .upsert import upsert_parquet_sink

        meta_sink = upsert_parquet_sink(doc_meta_dir, id_col)
    layout_checked = []

    def _guard_batch_dirs(spark) -> None:
        # mirror of upsert_lsh_index_batch's ingest_batch guard, for the
        # corpus dir: an out_dir populated by the pre-r7 sink holds FLAT
        # appended parquet files; mixing those with ingest_batch=N
        # partition dirs makes spark.read.parquet reject or misread the
        # corpus, so fail loudly on first write instead
        if layout_checked:
            return
        from ..fsutil import list_visible, table_exists

        entries = list_visible(spark, out_dir)
        if entries is None:
            # No JVM gateway (Spark Connect) — r11 (ADVICE): schema-probe
            # instead of silently skipping the guard.  A pre-r7 flat
            # corpus reads WITHOUT the ingest_batch partition column (and
            # a flat/partitioned MIX fails the read loudly on its own),
            # so the probe catches exactly the misread the guard exists
            # to fail fast on.
            if table_exists(spark, out_dir) and (
                "ingest_batch" not in spark.read.parquet(out_dir).columns
            ):
                raise ValueError(
                    f"corpus dir {out_dir!r} lacks the ingest_batch "
                    "partition column — it predates the exactly-once "
                    "ingest_batch=N layout; migrate it (rewrite the old "
                    "files under an ingest_batch=<id> dir and register "
                    "their bands via upsert_lsh_index_batch) or point "
                    "the sink at a fresh directory"
                )
            layout_checked.append(True)
            return
        for name, is_dir in entries:
            if is_dir and name.startswith("ingest_batch="):
                continue
            raise ValueError(
                    f"corpus dir {out_dir!r} contains non-partitioned "
                    f"entry {name!r} — it predates the exactly-once "
                    "ingest_batch=N layout; migrate it (rewrite the old "
                    "files under an ingest_batch=<id> dir and register "
                    "their bands via upsert_lsh_index_batch) or point "
                    "the sink at a fresh directory"
                )
        layout_checked.append(True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _guard_batch_dirs(spark)
        scored = corpus_metrics(batch_df, id_col, text_col)
        gated = _quality_gate(
            scored, min_quality=min_quality, min_tokens=min_tokens, langs=langs
        )
        # id uniqueness WITHIN the batch (deterministic keep-first by
        # fingerprint, so a replay picks the same row): duplicate id
        # rows would otherwise both land — the fingerprint dedup below
        # keeps every row of a tied min id
        # checkpointed: referenced by the id-guard broadcast AND the
        # anti-join below — the foreachBatch lesson (SCALE.md r10): a
        # batch-bounded relation referenced more than once or joined
        # against at-rest state must be materialized, or its plan
        # (regex-heavy corpus_metrics here) re-executes per reference
        # and downstream joins lose the batch's size estimate
        w_id = Window.partitionBy(id_col).orderBy("fingerprint")
        gated = (
            gated.withColumn("__rn", F.row_number().over(w_id))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        ).localCheckpoint(eager=True)
        # the doc-metadata dim covers every quality-gated id, whatever
        # its fate downstream — captured before the id guard prunes
        meta_src = gated
        already = None
        # id uniqueness ACROSS batches (r10 fix): an id re-sent in a
        # LATER batch previously slipped past the near-dup probe (its
        # band match is a self-pair, which the survivor rule must
        # filter) and landed twice.  The index is the id authority:
        # drop batch ids it already holds.  Shape: broadcast the
        # batch-sized id set into a semi-join against the index scan —
        # the index is never exchanged; this rides the same
        # linear-in-index scan class as the band probe itself.  Replay
        # stays safe because the probe index already excludes the
        # batch's own partition.
        have_index = spark.catalog.tableExists(index_table)
        index = None
        if have_index:
            index = read_lsh_index(spark, index_table).where(
                F.col("ingest_batch") != int(batch_id)
            )
            already = index.join(
                F.broadcast(gated.select(id_col)), id_col, "left_semi"
            ).select(id_col).distinct()
            gated = gated.join(already, id_col, "left_anti")
        # exact within-batch dedup: one survivor per fingerprint
        exact = (
            gated.withColumn(
                "__rep", F.min(id_col).over(Window.partitionBy("fingerprint"))
            )
            .filter(F.col(id_col) == F.col("__rep"))
            .drop("__rep")
        ).localCheckpoint(eager=True)
        bands = lsh_bands_from_array(
            minhash_array(
                exact.select(id_col, text_col), id_col, text_col,
                shingle_k, n_hashes,
            ),
            id_col, n_hashes, n_bands,
        ).localCheckpoint(eager=True)
        if have_index:
            # EXACTLY-ONCE replay: a recovered foreachBatch may re-run a
            # batch whose bands already landed — the probe-side `index`
            # above excludes this batch's own partition, or every
            # replayed doc would match itself and be dropped as its own
            # duplicate
            pairs = lsh_incremental_pairs(bands, index, id_col, max_bucket)
        else:
            pairs = lsh_candidate_pairs(bands, id_col, max_bucket)
        # id_b is always the new-side / larger-id doc — the one to drop
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
        kept = exact.join(losers, id_col, "left_anti").localCheckpoint(eager=True)
        # both writes are idempotent per batch: the corpus lands in this
        # batch's own partition dir (replay overwrites it) and the index
        # append is a dynamic partition overwrite keyed by batch id —
        # so a replayed batch converges to the same state instead of
        # duplicating rows (the r6 at-least-once caveat, closed)
        kept.write.mode("overwrite").parquet(
            f"{out_dir}/ingest_batch={int(batch_id)}"
        )
        upsert_lsh_index_batch(
            bands.join(kept.select(id_col), id_col, "semi"),
            index_table,
            batch_id,
        )
        if meta_sink is not None:
            # per-doc fate, derived from the SAME batch-bounded frames
            # the decisions were made on (all localCheckpointed above —
            # no recompute, no re-read): keyed merge into the dim, so a
            # re-sent id UPDATES its row while the corpus stays
            # first-write-wins.  Runs LAST: a crash before it replays
            # the batch, the corpus/index overwrites land the same rows
            # again, and this keyed merge converges to the same dim.
            meta = meta_src.select(
                id_col, "fingerprint", "ws_tokens", "quality_score",
                "lang_pred",
            )
            if already is not None:
                meta = meta.join(
                    already.withColumn("__resent", F.lit(True)),
                    id_col, "left",
                )
            else:
                meta = meta.withColumn(
                    "__resent", F.lit(None).cast("boolean")
                )
            meta = (
                meta.join(
                    exact.select(id_col).withColumn("__rep", F.lit(True)),
                    id_col, "left",
                )
                .join(
                    losers.withColumn("__loser", F.lit(True)),
                    id_col, "left",
                )
                .select(
                    id_col, "fingerprint", "ws_tokens", "quality_score",
                    "lang_pred",
                    F.when(F.col("__resent"), "duplicate_id")
                    .when(F.col("__rep").isNull(), "duplicate_text")
                    .when(F.col("__loser"), "near_dup")
                    .otherwise("kept")
                    .alias("status"),
                    F.lit(int(batch_id)).alias("last_ingest_batch"),
                )
            )
            meta_sink(meta, batch_id)

    return sink


def compact_corpus(
    spark,
    out_dir: str,
    *,
    keep_last: int = 2,
    target_file_mb: int = 128,
    batch_col: str = "ingest_batch",
) -> dict[str, int]:
    """Maintenance pass for the streamed corpus directory — the parquet-dir
    member of the engine's at-rest pair (corpus dir here, LSH band table
    via ``dedup.compact_lsh_index``), both with the same contract: every
    :func:`make_corpus_ingest_sink` batch lands its own ``ingest_batch=N``
    partition dir, so a long-lived stream leaves O(stream age) partition
    dirs and every corpus read pays the listing.

    Merges every batch partition EXCEPT the newest ``keep_last`` into one
    (carrying the largest merged id) and bin-packs the files — delegated
    to :func:`...sources.files.compact_table` (rows preserved, two-rename
    near-atomic dir swap).  ``keep_last`` preserves the replay contract:
    only not-yet-committed batches can replay-overwrite their own
    partition, and those stay verbatim.  Returns compact_table's stats.

    ``batch_col`` names the per-batch partition column — the default
    fits the corpus ingest sink; the star pipeline's
    ``fact_enriched/batch_id=N`` relation (``make_star_sink``) has the
    identical aging shape and compacts with ``batch_col="batch_id"``.
    """
    t = spark.read.parquet(out_dir)
    batches = sorted(
        int(r[0]) for r in t.select(batch_col).distinct().collect()
    )
    old = batches[: len(batches) - keep_last] if keep_last > 0 else batches
    if len(old) < 2:
        n = len(t.inputFiles())
        return {"files_before": n, "files_after": n, "rows": t.count()}
    epoch = int(max(old))
    from ..sources.files import compact_table

    return compact_table(
        spark,
        out_dir,
        target_file_mb=target_file_mb,
        partition_by=[batch_col],
        transform=lambda df: df.withColumn(
            batch_col,
            F.when(
                F.col(batch_col).isin([int(b) for b in old]),
                F.lit(epoch),
            ).otherwise(F.col(batch_col)),
        ),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: every document id that
    appears in either, tagged ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` by comparing content fingerprints — the audit relation
    behind corpus versioning (what changed between crawl N and N+1, what
    a re-filtering pass actually did).

    One full outer join on the id.  Content comparison rides on the md5
    fingerprint (computed in the same projection as the scan — no second
    pass), so wide text columns never cross the shuffle: the exchange
    carries (id, 32-byte hash) per side.  At 100 TB, store both
    snapshots bucketed by ``id_col`` and the join plans exchange-free,
    same as the at-rest dedup indexes.

    Returns (id, status, old_fingerprint, new_fingerprint).
    """
    from .text import fingerprint

    o = old.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("old_fingerprint")
    )
    n = new.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("new_fingerprint")
    )
    joined = o.join(n, on=id_col, how="full_outer")
    status = (
        F.when(F.col("old_fingerprint").isNull(), "added")
        .when(F.col("new_fingerprint").isNull(), "removed")
        .when(F.col("old_fingerprint") == F.col("new_fingerprint"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(
        id_col, status.alias("status"), "old_fingerprint", "new_fingerprint"
    )
