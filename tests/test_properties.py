"""Property-based tests (hypothesis) for the bespoke operators — the parts
with no built-in Spark semantics to lean on (SURVEY.md §4.3)."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.asof import asof_join
from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import scd1_upsert

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.integers(min_value=0, max_value=5)
rows = st.lists(st.tuples(keys, st.integers(0, 100)), min_size=0, max_size=12)


@given(existing=rows, updates=rows)
@_settings
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_upsert_key_algebra(spark, existing, updates):
    """keys(result) == keys(existing) ∪ keys(updates); every updated key
    carries an updates-version value; result is key-unique."""
    # existing models a keyed dimension → key-unique by contract
    existing_uniq = dict(existing or [(99, 0)])
    e = spark.createDataFrame(
        [(k, v, -1) for k, v in existing_uniq.items()], ["k", "v", "ver"]
    )
    u_latest = {}
    for k, v in updates:
        u_latest[k] = v  # latest occurrence wins under ver ordering below
    u = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(updates)] or [(98, 0, 0)],
        ["k", "v", "ver"],
    )
    out = scd1_upsert(e, u, key="k", version_order=[F.col("ver").desc()])
    got = {r.k: r.v for r in out.collect()}
    want = dict(existing_uniq)
    want.update(u_latest if updates else {98: 0})
    # key-uniqueness: dict building above loses dups only if output had them
    assert out.count() == len(got)
    assert set(got) == set(want)
    for k in (u_latest if updates else {98: 0}):
        assert got[k] == want[k]


dim_rows = st.lists(
    st.tuples(
        st.none() | st.integers(0, 4), st.integers(0, 3), st.sampled_from(["x", "y", None])
    ),
    max_size=8,
)
#: a "resend" step re-sends model rows, picked by index (modulo the model's
#: size), and optionally one extra version (a, b) of the key of one of them
resend = st.tuples(
    st.lists(st.integers(0, 7), max_size=8),
    st.none() | st.tuples(st.integers(0, 7), st.integers(0, 3), st.sampled_from(["x", "y", None])),
)
sink_steps = st.lists(
    st.tuples(st.sampled_from(["batch", "rewrite"]), dim_rows)
    | st.tuples(st.just("resend"), resend),
    min_size=1,
    max_size=4,
)


def _key_unique(rows):
    """An at-rest dim as an external writer may leave it: one row per
    non-NULL key, any number of NULL-key rows."""
    seen, out = set(), []
    for r in rows:
        if r[0] is None or r[0] not in seen:
            seen.add(r[0])
            out.append(r)
    return out


@given(steps=sink_steps)
@example(steps=[  # resident dim, then an external rewrite with two NULL-key rows
    ("batch", [(1, 0, "x"), (None, 1, "x")]),
    ("rewrite", [(1, 3, "y"), (2, 0, None), (None, 2, "y"), (None, 2, "y")]),
    ("batch", [(2, 1, "x"), (2, 0, "y"), (None, 0, None)]),
])
@example(steps=[  # resends: unchanged, a stored key's smaller version, a NULL key
    ("batch", [(1, 0, "x"), (2, 1, "y"), (None, 2, "x")]),
    ("resend", ([1, 0], None)),
    ("resend", ([0, 1], (0, 3, "y"))),
    ("resend", ([0, 1, 2], None)),
])
@_settings
def test_upsert_sink_equals_the_scd1_fold(spark, tmp_path, steps):
    """Calls through ONE upsert_parquet_sink leave the table the fold
    ``scd1_upsert(existing, latest_per_key(batch))`` gives, with NULL keys,
    several versions of a key in one batch, external rewrites of the
    table between calls, which the sink's listing guard must notice
    before it merges into its resident copy, and re-sent stored rows,
    which the sink may skip only when they change no row."""
    import uuid

    from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import (
        latest_per_key,
        upsert_parquet_sink,
    )

    schema = "k int, a int, b string"
    path = str(tmp_path / uuid.uuid4().hex)
    sink = upsert_parquet_sink(path, "k")

    def ordered(df):
        return sorted(map(tuple, df.collect()), key=lambda r: [(v is None, v) for v in r])

    model = None
    for i, (kind, rows) in enumerate(steps):
        if kind == "resend":
            stored = ordered(model) if model is not None else []
            picks, extra = rows
            rows = [stored[j % len(stored)] for j in picks] if stored else []
            if extra is not None and stored:
                rows.append((stored[extra[0] % len(stored)][0], *extra[1:]))
        if kind == "rewrite":
            model = spark.createDataFrame(_key_unique(rows), schema).localCheckpoint()
            model.write.mode("overwrite").parquet(path)
            continue
        batch = spark.createDataFrame(rows, schema)
        sink(batch, i)
        latest = latest_per_key(batch, "k", [F.col("a"), F.col("b")])
        model = latest if model is None else scd1_upsert(model, latest, key="k")
        model = model.localCheckpoint()

    assert ordered(spark.read.parquet(path)) == ordered(model)


ts_rows = st.lists(
    st.tuples(keys, st.integers(0, 50), st.integers(0, 1000)),
    min_size=1,
    max_size=12,
    unique_by=lambda r: (r[0], r[1], r[2]),
)


@given(left=ts_rows, right=ts_rows)
@_settings
def test_asof_invariants(spark, left, right):
    """Every left row survives exactly once; a match never comes from the
    future; the match is the maximal right ts ≤ left ts for the key."""
    l = spark.createDataFrame(
        [(k, t, i) for i, (k, t, _) in enumerate(left)], ["k", "t", "lid"]
    )
    r = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in right], ["k", "t", "rv"]
    )
    out = asof_join(l, r, on="k", ts="t", right_cols=["rv"]).collect()
    assert len(out) == l.count()
    for row in out:
        if row.t_right is not None:
            assert row.t_right <= row.t
            cand = [rt for (rk, rt, _) in right if rk == row.k and rt <= row.t]
            assert row.t_right == max(cand)
        else:
            assert not [rt for (rk, rt, _) in right if rk == row.k and rt <= row.t]


# -------------------------------------------- connected components vs oracle
edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=18,
)


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@given(edges=edges_strategy)
@_settings
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_connected_components_matches_union_find(spark, edges):
    from datawarehouse_etl_using_hyperjoin_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(df).collect()}
    want = _union_find_components(edges)
    assert got == want


@given(edges=edges_strategy)
@_settings
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_bigstar_components_match_union_find(spark, edges):
    from datawarehouse_etl_using_hyperjoin_spark.operators.graph import (
        connected_components_bigstar,
    )

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components_bigstar(df).collect()}
    want = _union_find_components(edges)
    assert got == want


# --------------------------------------------------- packing invariants
token_lists = st.lists(st.integers(1, 300), min_size=1, max_size=25)


@given(tokens=token_lists, budget=st.integers(16, 256))
@_settings
def test_pack_documents_invariants(spark, tokens, budget):
    """Every doc lands in exactly one bin; bins used ≤ ceil(total/budget);
    no bin exceeds budget + its largest doc (greedy overfill bound)."""
    import math

    from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import (
        pack_documents,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(tokens)], "doc_id long, n_tokens long"
    )
    packed = pack_documents(docs, "n_tokens", budget)
    rows = packed.collect()
    assert len(rows) == len(tokens)
    per_bin: dict[str, int] = {}
    for r in rows:
        per_bin[r.bin_id] = per_bin.get(r.bin_id, 0) + r.n_tokens
    assert len(per_bin) <= math.ceil(sum(tokens) / budget)
    assert all(total <= budget + max(tokens) for total in per_bin.values())


# ------------------------------------------------ sampling determinism
@given(rate=st.floats(0.0, 1.0), salt=st.text(st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=6))
@_settings
def test_hash_sample_deterministic_and_nested(spark, rate, salt):
    from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import hash_sample

    df = spark.range(200).withColumnRenamed("id", "k")
    a = sorted(r.k for r in hash_sample(df, rate, "k", salt).collect())
    b = sorted(r.k for r in hash_sample(df.repartition(7), rate, "k", salt).collect())
    assert a == b  # partition-layout independent
    if rate >= 0.1:
        smaller = set(r.k for r in hash_sample(df, rate / 2, "k", salt).collect())
        assert smaller <= set(a)  # nested: lower rate ⊆ higher rate


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab cd ef gh".split()), min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_repetition_metrics_matches_bruteforce(spark, docs):
    """The sorted-run-length fold equals the brute-force modal n-gram
    count for arbitrary token lists (incl. heavy repetition and docs
    shorter than the gram size)."""
    from collections import Counter

    from pyspark.sql import Row

    from datawarehouse_etl_using_hyperjoin_spark.operators.text import (
        repetition_metrics,
    )

    rows = [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs)]
    got = {
        r.doc_id: r
        for r in repetition_metrics(
            spark.createDataFrame(rows), "doc_id", "text"
        ).collect()
    }
    for i, toks in enumerate(docs):
        n = len(toks)
        assert got[i].n_words == n
        assert got[i].frac_unique_words == len(set(toks)) / n
        for size, col in ((2, "top_bigram_frac"), (3, "top_trigram_frac")):
            val = getattr(got[i], col)
            if n < size:
                assert val is None
            else:
                grams = [" ".join(toks[j : j + size]) for j in range(n - size + 1)]
                want = Counter(grams).most_common(1)[0][1] / (n - size + 1)
                assert val == want, (toks, size, val, want)


# ---------------------------------------------------------------- r6 hygiene
_url_chars = st.text(
    alphabet="abcXYZ019-._~/?&=#", min_size=0, max_size=24
)


@given(tail=_url_chars)
@_settings
def test_normalize_url_idempotent(spark, tail):
    """normalize(normalize(u)) == normalize(u): canonical forms are fixed
    points, so re-ingesting an already-canonicalized corpus is a no-op."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.web import (
        normalize_url,
    )

    url = "HTTP://WWW.Host.COM:80/" + tail
    df = spark.createDataFrame([(url,)], "u string")
    once, twice = (
        df.select(
            normalize_url(F.col("u")).alias("n1"),
        )
        .select("n1", normalize_url(F.col("n1")).alias("n2"))
        .first()
    )
    assert once == twice


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),               # group
            st.integers(1, 40),              # tokens
            st.integers(0, 5),               # quality (ties exercised)
        ),
        min_size=0,
        max_size=16,
    ),
    budget=st.integers(0, 80),
)
@_settings
def test_budget_select_matches_reference(spark, rows, budget):
    """Kept set == greedy reference: per group, sort by (quality desc,
    id), take while the running token total stays <= budget."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import (
        budget_select,
    )

    data = [(i, f"g{g}", t, float(q)) for i, (g, t, q) in enumerate(rows)]
    if not data:
        return
    df = spark.createDataFrame(
        data, "id long, grp string, tok long, q double"
    ).withColumn("budget", F.lit(budget).cast("long"))
    got = {
        r["id"]
        for r in budget_select(
            df, group_col="grp", token_col="tok", budget_col="budget",
            order_cols=[F.desc("q"), F.col("id")],
        ).collect()
    }
    want = set()
    by_group: dict[str, list] = {}
    for i, g, t, q in data:
        by_group.setdefault(g, []).append((i, t, q))
    for g, items in by_group.items():
        cum = 0
        for i, t, q in sorted(items, key=lambda x: (-x[2], x[0])):
            cum += t
            if cum <= budget:
                want.add(i)
            else:
                break  # hard cap: nothing after the first overflow
    assert got == want


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=9),
        min_size=1,
        max_size=6,
    )
)
@_settings
def test_line_dedup_conservation(spark, docs):
    """Σ n_kept == corpus-wide distinct line count and Σ n_lines == total
    lines; every document id survives with honest counts."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.dedup import (
        dedup_lines_in_docs,
        segment_fixed_lines,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_lines_in_docs(df, "doc_id", "text", words_per_line=2).collect()
    assert {r["doc_id"] for r in out} == {i for i, _ in rows}
    lines = segment_fixed_lines(df, "doc_id", "text", words_per_line=2)
    assert sum(r["n_lines"] for r in out) == lines.count()
    assert (
        sum(r["n_kept"] for r in out)
        == lines.select("line").distinct().count()
    )


ts_minutes = st.integers(min_value=0, max_value=600)  # minutes past epoch hour
late_rows = st.lists(
    st.tuples(st.integers(0, 20), st.one_of(st.none(), ts_minutes)),
    min_size=0, max_size=14,
)


@given(batch=late_rows, hwm_min=ts_minutes, lateness_min=st.integers(1, 120))
@_settings
def test_quarantine_late_partition_algebra(spark, batch, hwm_min, lateness_min):
    """quarantine_late is a PARTITION of the batch: on_time ∪ late == input
    (multiset), on_time ∩ late == ∅; a row is late IFF its event time is
    non-NULL and strictly below high_watermark − lateness (NULL event
    times stay on-time by contract)."""
    from datetime import datetime, timedelta

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        quarantine_late,
    )

    base = datetime(2026, 1, 1)
    rows = [
        (i, uid, None if m is None else base + timedelta(minutes=m))
        for i, (uid, m) in enumerate(batch)
    ]
    df = spark.createDataFrame(
        rows or [(99, 0, base)], "row_id long, user_id long, ts timestamp"
    )
    hwm = base + timedelta(minutes=hwm_min)
    on_time, late = quarantine_late(
        df, "ts", f"{lateness_min} minutes", high_watermark=hwm
    )
    got_on = {r.row_id for r in on_time.collect()}
    got_late = {r.row_id for r in late.collect()}
    all_ids = {r[0] for r in (rows or [(99, 0, base)])}
    assert got_on | got_late == all_ids
    assert got_on & got_late == set()
    cutoff = hwm - timedelta(minutes=lateness_min)
    want_late = {
        rid for rid, _, t in (rows or [(99, 0, base)])
        if t is not None and t < cutoff
    }
    assert got_late == want_late


@given(
    n=st.integers(min_value=0, max_value=999),
    unit=st.sampled_from(
        ["microsecond", "millisecond", "second", "minute", "hour", "day", "week"]
    ),
    plural=st.booleans(),
    n2=st.integers(min_value=0, max_value=99),
    compound=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_lateness_validator_accepts_valid_rejects_garbage(
    n, unit, plural, n2, compound
):
    """r9: _validate_lateness accepts every '<n> <unit>[s]' form (incl.
    compound pairs, any case, surrounding whitespace) and rejects
    injection-shaped garbage — the construction-time gate in front of
    F.expr(f"INTERVAL {lateness}")."""
    import pytest as _pytest

    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        _validate_lateness,
    )

    s = f"{n} {unit}{'s' if plural else ''}"
    if compound:
        s += f" {n2} {unit}{'s' if plural else ''}"
    _validate_lateness(s)
    _validate_lateness(f"  {s.upper()}  ")
    for bad in (
        f"{s}; DROP TABLE x",
        f"{n} parsecs",
        f"{unit} {n}",
        f"-{s}",
        "",
        f"{n}",
    ):
        with _pytest.raises(ValueError, match="lateness"):
            _validate_lateness(bad)


# r10: incremental embedding dedup — general equivalence, not just the
# star-shaped fixture in test_embedding_ingest.py
_vec = st.lists(
    st.one_of(
        st.floats(min_value=0.0078125, max_value=1.0, allow_nan=False, width=32),
        st.floats(min_value=-1.0, max_value=-0.0078125, allow_nan=False, width=32),
    ),
    min_size=4, max_size=4,
)
_vecsets = st.lists(_vec, min_size=1, max_size=10)


@given(index_vecs=_vecsets, new_vecs=_vecsets)
@_settings
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_embedding_incremental_equals_batch_pairs(spark, index_vecs, new_vecs):
    """For ANY index/new split: embedding_incremental_pairs(new, index)
    == the batch near_dup_pairs over the union, restricted to pairs
    touching a new vector (ids disjoint by construction; m=4 buckets so
    hypothesis actually lands collisions)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        embedding_incremental_pairs,
        near_dup_pairs,
        sign_bucket,
    )

    schema = "vec_id long, embedding array<double>"
    idx_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(index_vecs)], schema
    ).select(
        "vec_id", "embedding",
        sign_bucket(F.col("embedding"), 4).alias("bucket"),
    )
    new_df = spark.createDataFrame(
        [(1000 + i, v) for i, v in enumerate(new_vecs)], schema
    )
    got = sorted(
        (r.id_a, r.id_b, round(r.cos, 9), r.pair_type)
        for r in embedding_incremental_pairs(
            new_df, idx_df, threshold=0.5, m=4
        ).collect()
    )
    union = idx_df.drop("bucket").unionByName(new_df).select(
        "vec_id", "embedding",
        sign_bucket(F.col("embedding"), 4).alias("bucket"),
    )
    want = sorted(
        (
            r.id_a, r.id_b, round(r.cos, 9),
            "new_vs_index" if r.id_a < 1000 else "new_vs_new",
        )
        for r in near_dup_pairs(
            union, threshold=0.5, block=F.col("bucket")
        ).collect()
        if r.id_b >= 1000
    )
    assert got == want
