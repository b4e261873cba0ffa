"""Text-analysis operators for a training-data pipeline.

Beyond the reference surface (BASELINE.json north_star): language ID,
quality scoring, token counting, document fingerprinting — all pure
``pyspark.sql.functions`` column expressions (JVM-side, codegen'd, no
Python in the hot path), so they run at 100 TB without serialization cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_compute_parallelism(
    df: DataFrame, parallelism: int | None = None, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Repartition a compute-bound stage's input up to ``parallelism`` when
    the scan provides fewer splits.

    Split count is estimated from the scan's file list (``inputFiles()`` —
    catalog metadata only; no DataFrame→RDD plan conversion on the driver).
    File count under-estimates splits for multi-split files, which errs
    toward repartitioning — fine, since the condition only fires when the
    corpus is small relative to the cluster.  A 100 TB corpus arrives in
    ≫ ``defaultParallelism`` files and is never needlessly shuffled.

    NON-file sources report no input files.  When the analyzed plan is a
    leaf ``LogicalRDD`` (a localCheckpoint result, a foreachBatch
    micro-batch) its RDD partition count decides: that count is fixed
    before the call, so reading it converts no plan, and a relation that
    already arrives in ≥ ``parallelism`` partitions passes through
    untouched at any scale.  Any other non-file plan (a range, a local
    relation, a projection or join over a checkpoint) is taken as scarce
    and spread: its partition count is only known once AQE has run it.
    So is a plan that cannot be inspected (Spark Connect).

    The spread is round-robin, or a hash on ``keys`` when given.  The
    key form suits a single-split input feeding joins on that key: a
    round-robin exchange sorts each input partition first
    (``spark.sql.execution.sortBeforeRepartition``), which on one split
    costs what the spread saves.

    (Lives here rather than in ``dedup`` — its original home, which still
    re-exports it — because the text/lm/importance operators need it and
    ``dedup`` already imports from this module.)
    """
    if parallelism is None:
        parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits == 0:
        try:
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                n_splits = plan.rdd().getNumPartitions()
        except Exception:  # Connect / unplannable → assume scarce
            n_splits = 0
    if n_splits < parallelism:
        return df.repartition(parallelism, *keys)
    return df

# A tiny English stopword list — enough signal for an n-gram/stopword
# heuristic language gate; a production list would be per-language config.
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation — the
# classic GPT-2-style pre-split shape, minus unicode categories.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(text: Column) -> Column:
    """Whitespace tokenization (fixture text is single-space separated)."""
    return F.split(F.trim(text), r"\s+")


def ws_token_count(text: Column) -> Column:
    return F.size(words(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def approx_token_count(n_chars: Column) -> Column:
    """The ubiquitous chars/4 LLM token estimate."""
    return F.ceil(n_chars / F.lit(4.0)).cast("long")


def stopword_count(text: Column) -> Column:
    return F.size(
        F.filter(words(text), lambda w: w.isin(*EN_STOPWORDS))
    ).cast("long")


def stopword_ratio(text: Column) -> Column:
    return stopword_count(text) / ws_token_count(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.length(text)


def quality_score(text: Column) -> Column:
    """Composite document-quality score in [0, 1].

    Length signal (saturating at 100 words) + cleanliness (low punctuation
    density) + naturalness (stopword presence, saturating at 10%) — the
    standard cheap pre-filter shape for LLM corpus curation.
    """
    length_signal = F.least(ws_token_count(text) / F.lit(100.0), F.lit(1.0))
    clean_signal = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    natural_signal = F.least(stopword_ratio(text) * 10, F.lit(1.0))
    return 0.4 * length_signal + 0.3 * clean_signal + 0.3 * natural_signal


def lang_id(text: Column) -> Column:
    """Stopword-density language gate: 'en' when English stopwords exceed
    3% of tokens, else 'und' (undetermined)."""
    return F.when(stopword_ratio(text) >= 0.03, "en").otherwise("und")


def chunk_text(
    df,
    id_col: str,
    text_col: str,
    *,
    chunk_size: int = 64,
    overlap: int = 16,
):
    """Split documents into overlapping word-window chunks — the standard
    context-length-bounded pre-tokenization step of a training pipeline.

    Array-side windowing (sequence of starts + slice) then one explode;
    output: (id, chunk_id, chunk_text, n_tokens).  Stride = size − overlap.
    """
    stride = chunk_size - overlap
    # per-chunk slicing/joining is compute-bound → repartition first
    # (r14; no-op at scale)
    df = ensure_compute_parallelism(df)
    w = words(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(w) - overlap, F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            ((s - 1) / stride).cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice(w, s, chunk_size)).alias("chunk_text"),
            F.least(F.size(w) - s + 1, F.lit(chunk_size)).cast("long").alias("n_tokens"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_id", "c.chunk_text", "c.n_tokens"
    )


def train_eval_split(text: Column, train_pct: int = 90) -> Column:
    """Deterministic content-hash split: the same document always lands in
    the same split, across runs, engines and cluster sizes (no RNG) —
    hash-mod bucketing on the md5 fingerprint."""
    bucket = F.conv(F.substring(F.md5(normalize_text(text)), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    return F.when(bucket < train_pct, "train").otherwise("eval")


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text."""
    return F.md5(normalize_text(text))


# ---------------------------------------------------------------- PII scrub
# Conservative, pattern-based masks for the classic structured PII shapes.
# Pure regexp_replace chains — JVM-side, codegen'd, no Python.  A production
# pipeline layers an NER model behind these; the regexes are the cheap
# always-on first pass (high precision on structured formats).
PII_PATTERNS = (
    # email
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # 13-19 digit card-like runs — MUST run before the phone mask, which
    # would otherwise eat a card number's leading digit groups
    (r"\b(?:\d[ -]?){13,19}\b", "<CARD>"),
    # IPv4 — before phone, which could eat dotted digit runs
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # international-ish phone: optional +CC, groups of digits with -/./space
    (r"\+?\d{1,3}[-. ]?\(?\d{2,4}\)?[-. ]?\d{3,4}[-. ]?\d{3,4}", "<PHONE>"),
)


def scrub_pii(text: Column, patterns=PII_PATTERNS) -> Column:
    """Mask structured PII (emails, phones, IPs, card-like digit runs) with
    typed placeholders.  Order matters: longer/more-specific patterns run
    first so a card number is not half-eaten by the phone mask."""
    out = text
    for pattern, token in patterns:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_hit_count(text: Column, patterns=PII_PATTERNS) -> Column:
    """How many PII-shaped spans a document carries (for gating/reporting:
    docs above a threshold are dropped rather than scrubbed)."""
    total = F.lit(0)
    for pattern, _ in patterns:
        total = total + F.regexp_count(text, F.lit(pattern))
    return total.cast("long")


def repetition_metrics(
    docs, id_col: str, text_col: str
):
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", Table A1): highly repetitive documents — crawler traps,
    keyword stuffing, templated boilerplate — are filtered by the fraction
    of duplicated content.  Output: (id, n_words, frac_unique_words,
    top_bigram_frac, top_trigram_frac) where ``top_{n}gram_frac`` is the
    share of n-gram slots taken by the single most frequent n-gram (their
    "top n-gram fraction" family) and ``frac_unique_words`` is
    distinct/total tokens (inverse of their duplicate-word fraction).

    Plan shape: ZERO shuffles — everything happens inside each document's
    row.  The modal n-gram count equals the longest run of equal values in
    the SORTED n-gram array, so each document's top-bigram/-trigram count
    is one ``array_sort`` + one O(1)-per-element ``aggregate`` fold over
    its own arrays (an earlier explode + per-(doc, gram) groupBy + per-doc
    max formulation shuffled every n-gram twice; measured ~2× slower at
    sf0.1 and its shuffle grows with corpus tokens, while this form
    shuffles nothing at any scale).  The token array is staged as a named
    multi-referenced projection so the regex split runs once per row, not
    once per n-gram (the with_shingle_array / CollapseProject rule).
    Documents with < n tokens get NULL for that fraction.  All ratios are
    int/int doubles — deterministic across engines and partitionings.
    """
    from pyspark.sql import functions as F  # local: keep module header slim

    # compute-bound in-row folds (array_sort + aggregate per doc): take
    # parallelism from partition count, not the 1-2 scan splits a small
    # corpus arrives in (r14; no-op at scale)
    staged = ensure_compute_parallelism(docs).withColumn(
        "__toks", F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    )
    base = staged.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_words"),
        F.size(F.array_distinct("__toks")).cast("long").alias("__n_uniq"),
        F.col("__toks"),
    )
    n_words = F.col("n_words")
    return base.select(
        F.col(id_col),
        "n_words",
        (F.col("__n_uniq").cast("double") / n_words)
        .alias("frac_unique_words"),
        (top_gram_run_count(F.col("__toks"), n_words, 2).cast("double")
         / (n_words - 1)).alias("top_bigram_frac"),
        (top_gram_run_count(F.col("__toks"), n_words, 3).cast("double")
         / (n_words - 2)).alias("top_trigram_frac"),
    )


def top_gram_run_count(toks: Column, n_words: Column, n: int) -> Column:
    """Modal n-gram COUNT of a token array, as a pure column expression:
    the longest equal-run in the sorted n-gram array (NULL when the doc
    has < n tokens).  ``toks`` must be a NAMED column (not an inline
    split) or the tokenizer re-runs per element inside the interpreted
    lambda; ``n_words`` likewise.  Shared by :func:`repetition_metrics`
    and the inline repetition gate in ``operators.corpus.prepare_corpus``
    (being expression-level, the gate costs zero joins and zero
    shuffles)."""
    from pyspark.sql import functions as F

    grams = F.transform(
        F.sequence(F.lit(1), n_words - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    return F.when(
        n_words >= n,
        F.aggregate(F.array_sort(grams), zero, step, lambda acc: acc.best),
    )


# ------------------------------------------------------- C4 heuristic gates
# Placeholder obscenity blocklist — a production pipeline broadcasts the
# full "List of Dirty, Naughty, Obscene..." table C4 uses; matching is
# token-exact either way.
C4_BADWORDS = ("badword", "obscenity")


def c4_gates(
    df,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 30,
    max_words: int = 80,
    mean_len_range: tuple[float, float] = (2.0, 10.0),
    badwords: tuple[str, ...] = C4_BADWORDS,
):
    """C4-style document-level heuristic gates (Raffel et al. 2020, §2.2:
    the cleaning pass behind the C4 corpus): word-count bounds, mean word
    length bounds, curly-brace (code) rejection, "lorem ipsum"
    placeholder rejection, and an exact-token obscenity blocklist.

    Output: the input columns plus per-gate booleans
    (``len_ok``/``mean_len_ok``/``no_brace``/``no_lorem``/``no_badword``),
    the measured ``n_words``/``mean_word_len``, and the conjunction
    ``keep``.  Per-gate flags (rather than a filter) are deliberate: at
    corpus scale the gate *report* — what fraction each rule rejects — is
    as important as the filtered output, and a caller filters with
    ``.where("keep")`` at zero extra cost.

    All pure column expressions over one staged token array: JVM-side,
    codegen'd, zero shuffle, linear at 100 TB.  ``mean_word_len`` is an
    int/int double — deterministic across engines and partitionings.
    """
    from pyspark.sql import functions as F

    # regex/array gates are compute-bound → repartition first (r14;
    # no-op at scale)
    staged = ensure_compute_parallelism(df).withColumn(
        "__toks", F.split(F.trim(F.col(text_col)), r"\s+")
    )
    n_words = F.size("__toks").cast("long")
    mean_len = (
        F.length(F.regexp_replace(F.col(text_col), r"\s", "")).cast("double")
        / n_words
    )
    lowered = F.lower(F.col(text_col))
    lo, hi = mean_len_range
    out = (
        staged.withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_len)
        .withColumn(
            "len_ok",
            (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words),
        )
        .withColumn(
            "mean_len_ok",
            (F.col("mean_word_len") >= lo) & (F.col("mean_word_len") <= hi),
        )
        .withColumn("no_brace", ~lowered.contains("{") & ~lowered.contains("}"))
        .withColumn("no_lorem", ~lowered.contains("lorem ipsum"))
        .withColumn(
            "no_badword",
            ~F.arrays_overlap(
                F.transform("__toks", F.lower),
                F.array(*[F.lit(b) for b in badwords]),
            ),
        )
        .drop("__toks")
    )
    return out.withColumn(
        "keep",
        F.col("len_ok")
        & F.col("mean_len_ok")
        & F.col("no_brace")
        & F.col("no_lorem")
        & F.col("no_badword"),
    )


# --------------------------------------------- n-gram language ID (trained)
def exploded_ngrams(df, key_cols, text_col: str, n: int, max_chars):
    """(key..., gram) rows — the normalized text is staged as a NAMED
    column before the gram transform, because an inline expression
    referenced from a higher-order lambda re-evaluates PER ELEMENT (the
    repetition_metrics CollapseProject note; here that re-ran the
    whitespace regex once per gram — measured ~6× slower at sf0.1).
    Public so a caller training AND serving over the same corpus can
    compute the explode once and feed it to both
    :func:`char_ngram_profile` and :func:`langid_rank_order` via their
    ``grams=`` parameter."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # the gram transform is compute-bound (one substring per gram), so
    # parallelism must come from partition count, not scan splits — a
    # small corpus arrives in 1-2 splits and pins the stage to as many
    # cores (r14: the shared langid explode measured 2.36 s → 0.63 s at
    # sf0.1 from this line; no-op at scale, see the function's docstring)
    df = ensure_compute_parallelism(df)
    src = (
        F.substring(F.col(text_col), 1, max_chars)
        if max_chars
        else F.col(text_col)
    )
    staged = df.select(
        *[F.col(k) for k in keys],
        F.regexp_replace(F.lower(F.trim(src)), r"\s+", " ").alias("__t"),
    )
    t = F.col("__t")
    length = F.length(t)
    win = F.transform(
        F.sequence(F.lit(1), length - (n - 1)),
        lambda i: F.substring(t, i, n),
    )
    grams = (
        F.when(length >= n, win)
        .when(length > 0, F.array(t))
        .otherwise(F.array().cast("array<string>"))
    )
    return staged.select(
        *[F.col(k) for k in keys], F.explode(grams).alias("gram")
    )


def char_ngram_profile(
    docs,
    lang_col: str,
    text_col: str,
    *,
    n: int = 3,
    top_k: int = 50,
    max_chars: int | None = 600,
    grams=None,
):
    """TRAIN the Cavnar–Trenkle language profiles: per language, the
    ``top_k`` most frequent character n-grams ranked by (count DESC,
    gram) — deterministic, no RNG, no floats.  One explode + one
    (lang, gram) aggregate + one per-language window over a vocab-sized
    relation: the labeled corpus is touched once, the profile output is
    ``n_langs × top_k`` rows (KBs — broadcast it at serve time).
    Grams come from each doc's first ``max_chars`` characters (the same
    truncation the serve side uses — see :func:`exploded_ngrams`)."""
    from pyspark.sql import Window

    if grams is None:
        grams = exploded_ngrams(
            docs.select(F.col(lang_col).alias("lang"), text_col),
            "lang", text_col, n, max_chars,
        )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), "gram")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("lang", "gram", "rank")
    )


def langid_rank_order(
    docs,
    profiles,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    top_k: int = 50,
    max_chars: int | None = 600,
    grams=None,
):
    """SERVE trained language ID by rank-order ("out-of-place")
    distance (Cavnar & Trenkle 1994, "N-Gram-Based Text
    Categorization"): rank each document's own top-``top_k`` n-grams,
    sum |doc rank − profile rank| against every candidate language
    (missing gram costs ``top_k``), predict the argmin.

    Returns (id, lang_pred, oop_distance).  Integer arithmetic end to
    end — bit-stable across engines and partitionings.  Scale shape:
    one (id, gram) aggregate + one per-doc window over the first
    ``max_chars`` characters only (language signal saturates there, and
    an in-row higher-order-lambda formulation measured SLOWER than this
    shuffle at every size — interpreted lambdas lose to Tungsten
    exchanges), then the ≤top_k doc grams cross the BROADCAST language
    list and left-join the BROADCAST profiles — the corpus is never
    joined to itself and nothing grows beyond top_k rows per document.
    Documents with no grams (empty text) predict 'und' with NULL
    distance."""
    from pyspark.sql import Window

    if grams is None:
        grams = exploded_ngrams(docs, id_col, text_col, n, max_chars)
    counts = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(id_col).orderBy(F.col("c").desc(), "gram")
    doc_rank = (
        counts.withColumn("drank", F.row_number().over(w).cast("long"))
        .filter(F.col("drank") <= top_k)
        .select(id_col, "gram", "drank")
    )
    langs = profiles.select("lang").distinct()
    oop = (
        doc_rank.crossJoin(F.broadcast(langs))
        .join(F.broadcast(profiles), ["lang", "gram"], "left")
        .groupBy(id_col, "lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("drank") - F.col("rank")), F.lit(top_k)
                )
            )
            .cast("long")
            .alias("oop_distance")
        )
    )
    pick = Window.partitionBy(id_col).orderBy("oop_distance", "lang")
    best = (
        oop.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(id_col, F.col("lang").alias("lang_pred"), "oop_distance")
    )
    return docs.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
        "oop_distance",
    )
