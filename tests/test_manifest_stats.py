"""Generation statistics + manifest-level data skipping (r12).

The manifest table records per-generation min/max/null stats (the
Iceberg/Delta file-stats shape at the protocol's own commit granularity)
and ``read_manifest_table(where=...)`` prunes generations the stats
PROVE irrelevant — before any directory is listed.  The invariant every
test here leans on: a pruned read is ALWAYS exactly equal to the full
read plus the same filter; pruning may only ever change how many
directories get touched, never a row.
"""

from __future__ import annotations

import datetime
import decimal

import pytest
from hypothesis import HealthCheck, given, settings as hyp_settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.sources import manifest_table as mt
from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
    compact_manifest_table,
    manifest_table_append,
    plan_manifest_read,
    read_manifest_table,
)


def _day(n: int) -> datetime.date:
    return datetime.date(2024, 1, 1) + datetime.timedelta(days=n)


def _batch(spark, b, n=20):
    """Batch ``b`` covers days [10*b, 10*b+10) — disjoint ranges, so a
    day predicate identifies exactly one generation."""
    rows = [
        (b * 1000 + i, _day(b * 10 + i % 10), float(b * 10 + i % 10))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, d date, score double")


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_append_records_stats_and_setting_is_sticky(spark, tmp_path):
    root = str(tmp_path / "t")
    manifest_table_append(_batch(spark, 0), root, 0, stats_cols=["d", "score"])
    # later appends omit the argument: the manifest setting carries
    for b in range(1, 4):
        manifest_table_append(_batch(spark, b), root, b)
    m = mt.manifest_read(spark, root)
    assert m["stats_cols"] == ["d", "score"]
    assert len(m["stats"]) == 4  # one entry per generation
    for g, s in m["stats"].items():
        assert s["rows"] == 20
        assert set(s["cols"]) == {"d", "score"}
        assert s["cols"]["d"]["nulls"] == 0


@pytest.mark.parametrize(
    "where, expect_scanned",
    [
        ([("d", "=", _day(15))], 1),
        ([("d", "between", (_day(11), _day(14)))], 1),
        ([("d", "<", _day(10))], 1),
        ([("d", ">=", _day(30))], 1),
        ([("d", "in", [_day(5), _day(25)])], 2),
        ([("score", ">", 28.0), ("d", "<", _day(30))], 1),  # AND composes
    ],
)
def test_pruned_read_equals_filtered_full_read(
    spark, tmp_path, where, expect_scanned
):
    root = str(tmp_path / "t")
    for b in range(4):
        manifest_table_append(
            _batch(spark, b), root, b, stats_cols=["d", "score"]
        )
    plan = plan_manifest_read(spark, root, where)
    assert plan["total"] == 4
    assert plan["scanned"] == expect_scanned

    pruned = read_manifest_table(spark, root, where=where)
    full = read_manifest_table(spark, root)
    for col, op, *v in where:
        full = full.filter(mt._pred_column(col, op, v[0] if v else None))
    assert _ids(pruned) == _ids(full)
    # the skip is real: only the surviving generations' files are read
    assert {f.rsplit("/", 2)[-2] for f in pruned.inputFiles()} <= {
        f"g={g}" for g in plan["gens_scan"]
    }


def test_null_semantics(spark, tmp_path):
    root = str(tmp_path / "t")
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, d date"
    )
    some_null = spark.createDataFrame(
        [(3, _day(5)), (4, None)], "doc_id long, d date"
    )
    no_null = spark.createDataFrame(
        [(5, _day(50)), (6, _day(51))], "doc_id long, d date"
    )
    manifest_table_append(all_null, root, 0, stats_cols=["d"])
    manifest_table_append(some_null, root, 1)
    manifest_table_append(no_null, root, 2)

    # comparisons never match null rows: the all-null gen is prunable
    plan = plan_manifest_read(spark, root, [("d", "=", _day(5))])
    assert plan["scanned"] == 1
    assert _ids(read_manifest_table(spark, root, where=[("d", "=", _day(5))])) == [3]

    # is_null keeps exactly the gens with nulls
    plan = plan_manifest_read(spark, root, [("d", "is_null")])
    assert plan["scanned"] == 2
    assert _ids(read_manifest_table(spark, root, where=[("d", "is_null")])) == [1, 2, 4]

    plan = plan_manifest_read(spark, root, [("d", "not_null")])
    assert plan["scanned"] == 2
    assert _ids(read_manifest_table(spark, root, where=[("d", "not_null")])) == [3, 5, 6]


def test_typed_bounds_timestamp_decimal_string(spark, tmp_path):
    root = str(tmp_path / "t")
    rows_a = [
        ("alpha", datetime.datetime(2024, 1, 1, 10), decimal.Decimal("1.50")),
        ("beta", datetime.datetime(2024, 1, 1, 12), decimal.Decimal("2.25")),
    ]
    rows_b = [
        ("omega", datetime.datetime(2024, 6, 1, 10), decimal.Decimal("99.00")),
        ("sigma", datetime.datetime(2024, 6, 1, 12), decimal.Decimal("88.75")),
    ]
    schema = "name string, ts timestamp, amt decimal(10,2)"
    manifest_table_append(
        spark.createDataFrame(rows_a, schema), root, 0,
        stats_cols=["name", "ts", "amt"],
    )
    manifest_table_append(spark.createDataFrame(rows_b, schema), root, 1)

    for where, names in [
        ([("ts", "<", datetime.datetime(2024, 3, 1))], {"alpha", "beta"}),
        ([("amt", ">=", decimal.Decimal("50"))], {"omega", "sigma"}),
        ([("name", ">=", "omega")], {"omega", "sigma"}),
    ]:
        plan = plan_manifest_read(spark, root, where)
        assert plan["scanned"] == 1, where
        got = {
            r.name
            for r in read_manifest_table(spark, root, where=where).collect()
        }
        assert got == names


def test_nan_bounds_are_unknown_not_wrong(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, float("nan")), (2, 3.0)], "doc_id long, v double"
    )
    manifest_table_append(df, root, 0, stats_cols=["v"])
    m = mt.manifest_read(spark, root)
    (gstats,) = m["stats"].values()
    # Spark's max treats NaN as greatest; JSON has no NaN — recorded as
    # unknown, so the generation is scanned, never mis-pruned
    assert gstats["cols"]["v"]["max"] is None
    plan = plan_manifest_read(spark, root, [("v", ">", 100.0)])
    assert plan["scanned"] == 1
    got = read_manifest_table(spark, root, where=[("v", ">", 100.0)])
    assert _ids(got) == [1]  # NaN > 100.0 is true in Spark's ordering


def test_untracked_generations_are_always_scanned(spark, tmp_path):
    root = str(tmp_path / "t")
    # two generations BEFORE stats were enabled
    manifest_table_append(_batch(spark, 0), root, 0)
    manifest_table_append(_batch(spark, 1), root, 1)
    manifest_table_append(_batch(spark, 2), root, 2, stats_cols=["d"])
    where = [("d", "=", _day(25))]
    plan = plan_manifest_read(spark, root, where)
    # the stats-bearing gen (days 20..29) matches; the two blind gens
    # must be scanned too — absence of stats never prunes
    assert plan["scanned"] == 3 and plan["skipped"] == 0
    got = read_manifest_table(spark, root, where=where)
    full = read_manifest_table(spark, root).filter(F.col("d") == F.lit(_day(25)))
    assert _ids(got) == _ids(full)

    where2 = [("d", "=", _day(5))]
    plan2 = plan_manifest_read(spark, root, where2)
    assert plan2["scanned"] == 2  # the tracked gen IS prunable
    assert _ids(read_manifest_table(spark, root, where=where2)) == _ids(
        read_manifest_table(spark, root).filter(F.col("d") == F.lit(_day(5)))
    )


def test_stats_survive_compaction_exactly(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(5):
        manifest_table_append(_batch(spark, b), root, b, stats_cols=["d"])
    stats = compact_manifest_table(spark, root, keep_last=2)
    assert stats["gens_after"] == 3
    m = mt.manifest_read(spark, root)
    assert len(m["stats"]) == 3  # merged gen recomputed, kept gens carried
    # the merged generation is the NEWEST id (fresh_gen is seq-major)
    merged_gen = str(max(int(g) for g in m["gens"]))
    # the merged generation's recomputed range spans its inputs exactly
    ent = m["stats"][merged_gen]["cols"]["d"]
    assert mt._stats_decode(ent["min"]) == _day(0)
    assert mt._stats_decode(ent["max"]) == _day(29)
    assert m["stats"][merged_gen]["rows"] == 60
    # pruning still works post-compaction
    plan = plan_manifest_read(spark, root, [("d", "=", _day(35))])
    assert plan["scanned"] == 1
    got = read_manifest_table(spark, root, where=[("d", "=", _day(35))])
    assert len(_ids(got)) == 2


def test_range_split_compaction_clusters_and_freezes(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(6):
        manifest_table_append(
            _batch(spark, b, n=40), root, b, stats_cols=["d"]
        )
    before = read_manifest_table(spark, root)
    rows_before = _ids(before)

    stats = compact_manifest_table(
        spark, root, keep_last=0, sort_by=["d"],
        range_split_mb=0.002, min_merge_mb=1,
    )
    assert stats["gens_after"] > 2  # genuinely split
    m = mt.manifest_read(spark, root)
    assert len(m["stats"]) == stats["gens_after"]

    # ranges are disjoint: a point query scans exactly one generation
    plan = plan_manifest_read(spark, root, [("d", "=", _day(31))])
    assert plan["scanned"] == 1
    got = read_manifest_table(spark, root, where=[("d", "=", _day(31))])
    full = [i for i in rows_before]
    assert _ids(got) == _ids(
        read_manifest_table(spark, root).filter(F.col("d") == F.lit(_day(31)))
    )
    assert _ids(read_manifest_table(spark, root)) == full

    # the ledger survived: replays of any committed batch are no-ops
    assert manifest_table_append(_batch(spark, 3, n=40), root, 3) is None

    # split generations FREEZE under the size tier: a scheduled pass
    # with the same min_merge_mb must not undo the clustering
    again = compact_manifest_table(
        spark, root, keep_last=0, sort_by=["d"], min_merge_mb=0.0005,
    )
    assert again["gens_after"] == stats["gens_after"]


def test_as_of_snapshot_combines_with_where(spark, tmp_path):
    root = str(tmp_path / "t")
    s0 = manifest_table_append(_batch(spark, 0), root, 0, stats_cols=["d"])
    manifest_table_append(_batch(spark, 1), root, 1)
    where = [("d", "<", _day(100))]
    snap = read_manifest_table(spark, root, as_of=s0, where=where)
    assert _ids(snap) == _ids(_batch(spark, 0))
    # the snapshot's OWN stats drive the prune decision
    plan = plan_manifest_read(spark, root, [("d", ">=", _day(10))], as_of=s0)
    assert plan["total"] == 1 and plan["scanned"] == 0


def test_pruned_to_empty_is_schema_stable(spark, tmp_path):
    root = str(tmp_path / "t")
    manifest_table_append(_batch(spark, 0), root, 0, stats_cols=["d"])
    got = read_manifest_table(spark, root, where=[("d", ">", _day(10_000))])
    assert got.schema == read_manifest_table(spark, root).schema
    assert got.count() == 0
    assert got.inputFiles() == []


def test_bad_predicates_and_columns_are_refused(spark, tmp_path):
    root = str(tmp_path / "t")
    manifest_table_append(_batch(spark, 0), root, 0, stats_cols=["d"])
    for where, msg in [
        ([("nope", "=", 1)], "not in the table schema"),
        ([("d", "~", 1)], "unknown op"),
        ([("d", "=", None)], "is_null"),
        ([("d", "between", (None, _day(1)))], "None bound"),
        ([("d", "in", [_day(1), None])], "never"),
        ([("d", "is_null", 1)], "no value"),
        ([("d", "=")], "is_null"),
    ]:
        with pytest.raises(ValueError, match=msg):
            read_manifest_table(spark, root, where=where).count()


def test_stats_on_non_atomic_column_refused(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, ["a", "b"])], "doc_id long, tags array<string>"
    )
    with pytest.raises(ValueError, match="orderable atomic type"):
        manifest_table_append(df, root, 0, stats_cols=["tags"])


def test_evolution_added_column_prunes_safely(spark, tmp_path):
    root = str(tmp_path / "t")
    manifest_table_append(
        spark.createDataFrame([(1,)], "doc_id long"), root, 0,
        stats_cols=["doc_id"],
    )
    # the table later gains a tracked column; the old gen has no stats
    # for it (and reads it as null)
    manifest_table_append(
        spark.createDataFrame([(2, 7.0)], "doc_id long, q double"),
        root, 1, stats_cols=["doc_id", "q"],
    )
    plan = plan_manifest_read(spark, root, [("q", ">", 5.0)])
    assert plan["scanned"] == 2  # the blind old gen must be scanned
    got = read_manifest_table(spark, root, where=[("q", ">", 5.0)])
    assert _ids(got) == [2]  # ...but its null q rows filter out


def test_stats_land_correctly_after_losing_the_conditional_put(
    spark, tmp_path, monkeypatch
):
    """A rival commits between this writer's head read and publish; the
    rebase must re-land the batch WITH its stats keyed by the retried
    attempt's fresh generation, not the losing attempt's."""
    root = str(tmp_path / "t")
    manifest_table_append(_batch(spark, 0), root, 0, stats_cols=["d"])

    real_publish = mt.manifest_publish
    fired = []

    def rival_then_publish(spark_, root_, payload, *, seq):
        if not fired:
            fired.append(True)
            rival_gen = mt.fresh_gen(seq)
            _batch(spark, 9).write.parquet(mt._gen_dir(root_, rival_gen))
            live = mt.manifest_read(spark_, root_)
            real_publish(
                spark_, root_,
                {
                    "table": "batch-table",
                    "gens": live["gens"] + [rival_gen],
                    "batches": {**live["batches"], "9": rival_gen},
                    "schema": live["schema"],
                    "stats_cols": live["stats_cols"],
                    "stats": live["stats"],
                },
                seq=seq,
            )
        return real_publish(spark_, root_, payload, seq=seq)

    monkeypatch.setattr(mt, "manifest_publish", rival_then_publish)
    manifest_table_append(_batch(spark, 1), root, 1)
    monkeypatch.setattr(mt, "manifest_publish", real_publish)

    m = mt.manifest_read(spark, root)
    # batches 0 and 1 tracked with stats; the rival's gen 9 has none
    g1 = str(m["batches"]["1"])
    assert g1 in m["stats"]
    ent = m["stats"][g1]["cols"]["d"]
    assert mt._stats_decode(ent["min"]) == _day(10)
    plan = plan_manifest_read(spark, root, [("d", ">=", _day(10))])
    # gen 0 prunable, gen 1 matches, rival gen blind -> scanned
    assert plan["scanned"] == 2 and plan["skipped"] == 1
    got = read_manifest_table(spark, root, where=[("d", ">=", _day(10))])
    assert _ids(got) == _ids(
        read_manifest_table(spark, root).filter(F.col("d") >= F.lit(_day(10)))
    )


@hyp_settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_property_pruned_read_never_loses_rows(
    spark, tmp_path_factory, data
):
    """For ANY batches (with nulls, duplicates, empty batches) and ANY
    supported predicate, read(where) row-set == read().filter() row-set
    — pruning is invisible except in the plan."""
    root = str(tmp_path_factory.mktemp("mt_prop"))
    n_batches = data.draw(st.integers(1, 4), label="n_batches")
    vals = st.one_of(st.none(), st.integers(-50, 50))
    next_id = [0]
    for b in range(n_batches):
        batch = data.draw(
            st.lists(vals, min_size=0, max_size=6), label=f"batch{b}"
        )
        rows = []
        for v in batch:
            rows.append((next_id[0], v))
            next_id[0] += 1
        df = spark.createDataFrame(rows, "doc_id long, v long")
        manifest_table_append(df, root, b, stats_cols=["v"])

    op = data.draw(
        st.sampled_from(
            ["=", "<", "<=", ">", ">=", "in", "between", "is_null", "not_null"]
        ),
        label="op",
    )
    if op in ("is_null", "not_null"):
        where = [("v", op)]
    elif op == "in":
        where = [("v", "in", data.draw(st.lists(st.integers(-50, 50), max_size=4)))]
    elif op == "between":
        lo = data.draw(st.integers(-50, 50), label="lo")
        hi = data.draw(st.integers(-50, 50), label="hi")
        where = [("v", "between", (lo, hi))]
    else:
        where = [("v", op, data.draw(st.integers(-50, 50), label="val"))]

    pruned = read_manifest_table(spark, root, where=where)
    col, o, *v = where[0]
    full = read_manifest_table(spark, root).filter(
        mt._pred_column(col, o, v[0] if v else None)
    )
    assert sorted(
        (r.doc_id, r.v) for r in pruned.collect()
    ) == sorted((r.doc_id, r.v) for r in full.collect())


def _star_batch(spark, b, n=30):
    """A batch shaped like the star sink's enriched input; total_sale
    rises with the batch id so generations have disjoint ranges."""
    return spark.range(n).select(
        (F.col("id") + b * 100).alias("order_id"),
        F.lit(1).alias("line_number"),
        (F.col("id") % 5).alias("product_id"),
        F.concat(F.lit("p"), (F.col("id") % 5)).alias("product_name"),
        F.lit("$9.99").alias("product_price"),
        F.lit(2).alias("quantity"),
        F.lit(9.99).alias("product_price_num"),
        (F.lit(float(b * 1000)) + F.col("id")).alias("total_sale"),
    )


def _overlap_batch(spark, b, n=20):
    """doc_id = 10*i + b: every batch spans ~the same [min,max] range, so
    min/max stats CANNOT prune a point lookup — only the Bloom can."""
    return spark.range(n).select(
        (F.col("id") * 10 + b).alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )


def test_bloom_point_lookup_skips_overlapping_generations(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(6):
        manifest_table_append(
            _overlap_batch(spark, b), root, b,
            stats_cols=["doc_id"] if b == 0 else None,
            bloom_cols=["doc_id"] if b == 0 else None,  # sticky thereafter
        )
    m = mt.manifest_read(spark, root)
    assert m["bloom_cols"] == ["doc_id"]
    assert len(m["blooms"]) == 6

    # min/max alone keeps everything (ranges overlap); the bloom doesn't
    plan_minmax = plan_manifest_read(spark, root, [("doc_id", "<=", 55), ("doc_id", ">=", 55)])
    assert plan_minmax["scanned"] == 6
    plan = plan_manifest_read(spark, root, [("doc_id", "=", 55)])
    assert plan["scanned"] <= 2  # 1 expected; tiny FPP allowance
    got = read_manifest_table(spark, root, where=[("doc_id", "=", 55)])
    assert _ids(got) == [55]

    # in-list: values from two different generations
    plan_in = plan_manifest_read(spark, root, [("doc_id", "in", [55, 102])])
    assert plan_in["scanned"] <= 3
    got = read_manifest_table(
        spark, root, where=[("doc_id", "in", [55, 102])]
    )
    assert _ids(got) == [55, 102]

    # a value in NO generation: everything bloom-pruned, result empty
    plan0 = plan_manifest_read(spark, root, [("doc_id", "=", 57)])
    assert plan0["scanned"] <= 1
    assert read_manifest_table(spark, root, where=[("doc_id", "=", 57)]).count() == 0

    # zero false negatives: every stored id remains findable
    for v in (0, 3, 91, 144, 195):
        got = read_manifest_table(spark, root, where=[("doc_id", "=", v)])
        want = read_manifest_table(spark, root).filter(
            F.col("doc_id") == v
        )
        assert _ids(got) == _ids(want), v


def test_bloom_torn_sidecar_degrades_to_scan(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(3):
        manifest_table_append(
            _overlap_batch(spark, b), root, b,
            bloom_cols=["doc_id"] if b == 0 else None,
        )
    m = mt.manifest_read(spark, root)
    victim = int(m["batches"]["1"])
    side = mt._bloom_sidecar_path(root, victim, "doc_id")
    with open(side.removeprefix("file:"), "w") as fh:
        fh.write('{"format": "gen-blo')  # torn mid-write
    # the torn gen is scanned (never mis-skipped); others still prune
    plan = plan_manifest_read(spark, root, [("doc_id", "=", 50)])
    assert victim in plan["gens_scan"]
    assert plan["scanned"] <= 3
    got = read_manifest_table(spark, root, where=[("doc_id", "=", 50)])
    assert _ids(got) == [50]


def test_bloom_survives_compaction(spark, tmp_path):
    root = str(tmp_path / "t")
    for b in range(5):
        manifest_table_append(
            _overlap_batch(spark, b), root, b,
            bloom_cols=["doc_id"] if b == 0 else None,
        )
    compact_manifest_table(spark, root, keep_last=1)
    m = mt.manifest_read(spark, root)
    assert len(m["blooms"]) == len(m["gens"])  # recomputed for the merge
    # point lookup: the merged gen holds batches 0-3's ids, the kept gen
    # batch 4's; an id only in batch 4 skips the merged gen
    plan = plan_manifest_read(spark, root, [("doc_id", "=", 194)])
    assert plan["scanned"] <= 2
    assert _ids(
        read_manifest_table(spark, root, where=[("doc_id", "=", 194)])
    ) == [194]
    # absent id: everything pruned even after the merge
    assert read_manifest_table(
        spark, root, where=[("doc_id", "=", 57)]
    ).count() == 0


def test_bloom_canonical_form_matches_spark_cast(spark):
    """The probe hashes a PYTHON canonical rendering; the build hashes
    Spark's CAST(col AS STRING).  They must agree byte-for-byte for
    every supported key type — this is the contract the zero-false-
    negative guarantee rests on."""
    cases = [
        (5, "long"),
        (-17, "int"),
        (0, "long"),
        (2**62, "long"),
        ("héllo ✓ world", "string"),
        ("", "string"),
        (_day(5), "date"),
    ]
    for v, t in cases:
        spark_form = (
            spark.range(1)
            .select(F.lit(v).cast(t).cast("string").alias("s"))
            .first()["s"]
        )
        assert spark_form.encode("utf-8") == mt._bloom_canon_py(v), (v, t)


def test_bloom_unsupported_key_types_refused(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 2.5)], "doc_id long, v double")
    with pytest.raises(ValueError, match="integral/string/date"):
        manifest_table_append(df, root, 0, bloom_cols=["v"])


def test_bloom_autosizing_from_first_batch(spark, tmp_path):
    from datawarehouse_etl_using_hyperjoin_spark.operators.bloom import (
        optimal_bloom_params,
    )

    root = str(tmp_path / "t")
    manifest_table_append(
        _overlap_batch(spark, 0, n=500), root, 0, bloom_cols=["doc_id"]
    )
    m = mt.manifest_read(spark, root)
    want_m, want_k = optimal_bloom_params(500, 0.01)
    assert m["bloom_params"] == {"num_bits": want_m, "num_hashes": want_k}


def test_manifest_table_aggregate_is_exact_and_jobless(spark, tmp_path):
    """count/min/max/nulls answered from the manifest alone — verified
    against the real scan, including across compaction and snapshots."""
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_aggregate,
    )

    root = str(tmp_path / "t")
    seqs = []
    for b in range(4):
        seqs.append(
            manifest_table_append(
                _batch(spark, b), root, b, stats_cols=["d", "score"]
            )
        )
    # a null-bearing batch folds into the null count
    manifest_table_append(
        spark.createDataFrame(
            [(9000, None, None)], "doc_id long, d date, score double"
        ),
        root, 4,
    )

    agg = manifest_table_aggregate(spark, root)
    assert agg["exact"] is True
    assert agg["rows"] == 81
    assert agg["cols"]["d"]["min"] == _day(0)
    assert agg["cols"]["d"]["max"] == _day(39)
    assert agg["cols"]["d"]["nulls"] == 1
    # cross-check against the real data
    real = read_manifest_table(spark, root).agg(
        F.count(F.lit(1)), F.min("d"), F.max("d"),
        F.sum(F.col("d").isNull().cast("long")),
    ).first()
    assert (agg["rows"], agg["cols"]["d"]["min"],
            agg["cols"]["d"]["max"], agg["cols"]["d"]["nulls"]) == tuple(real)

    # survives compaction
    compact_manifest_table(spark, root, keep_last=1)
    agg2 = manifest_table_aggregate(spark, root)
    assert agg2 == agg

    # snapshot aggregate reflects the snapshot, not today
    snap = manifest_table_aggregate(spark, root, as_of=seqs[1])
    assert snap["rows"] == 40 and snap["cols"]["d"]["max"] == _day(19)


def test_manifest_table_aggregate_degrades_honestly(spark, tmp_path):
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_aggregate,
    )

    root = str(tmp_path / "t")
    manifest_table_append(_batch(spark, 0), root, 0)  # no stats tracked
    manifest_table_append(_batch(spark, 1), root, 1, stats_cols=["d"])
    agg = manifest_table_aggregate(spark, root)
    assert agg["exact"] is False and agg["rows"] is None

    # NaN bound: rows stay exact, the affected column degrades
    root2 = str(tmp_path / "t2")
    manifest_table_append(
        spark.createDataFrame(
            [(1, float("nan")), (2, 1.0)], "doc_id long, v double"
        ),
        root2, 0, stats_cols=["v"],
    )
    agg2 = manifest_table_aggregate(spark, root2)
    assert agg2["rows"] == 2 and agg2["exact"] is False
    assert agg2["cols"]["v"] == {"min": None, "max": None, "nulls": None}


_skip_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.integers(min_value=0, max_value=4),   # batch id
            st.integers(min_value=0, max_value=5),   # rows in the batch
        ),
        st.tuples(
            st.just("crash_append"),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=1, max_value=5),
        ),
        st.tuples(st.just("compact"), st.integers(0, 2), st.just(0)),
        st.tuples(st.just("compact_split"), st.integers(0, 2), st.just(0)),
        st.tuples(st.just("vacuum"), st.just(0), st.just(0)),
        # copy-on-write delete of one key (may match nothing)
        st.tuples(
            st.just("delete"),
            st.integers(min_value=0, max_value=4),   # batch id
            st.integers(min_value=0, max_value=5),   # row index
        ),
        # merge-on-read deletion-vector delete of one key (r14)
        st.tuples(
            st.just("delete_dv"),
            st.integers(min_value=0, max_value=4),   # batch id
            st.integers(min_value=0, max_value=5),   # row index
        ),
        # explicit DV materialization (r14)
        st.tuples(st.just("materialize"), st.just(0), st.just(0)),
        # keyed MERGE (r13): upsert a batch — CoW delete of matched
        # keys + ledgered append in one publish
        st.tuples(
            st.just("merge"),
            st.integers(min_value=0, max_value=4),   # batch id
            st.integers(min_value=1, max_value=5),   # rows in the batch
        ),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_skip_ops, data=st.data())
@hyp_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_skipping_model_under_random_ops_and_crashes(
    spark, tmp_path_factory, ops, data
):
    """Model-based property over the SKIPPING machinery: against ANY
    interleaving of stats+bloom appends, crashed appends, plain and
    range-split compactions, and vacuums, a predicated read returns
    exactly the model's committed rows filtered in Python — stats and
    sidecars never go stale in a way that loses or invents a row."""
    import datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table as m

    root = str(tmp_path_factory.mktemp("mt_skip_model"))
    committed: dict[int, list[tuple]] = {}  # batch -> [(doc_id, d, score)]

    def batch_rows(bid, n):
        return [
            (bid * 100 + i, _day((bid * 100 + i) % 17), float(i % 3))
            for i in range(n)
        ]

    def df_of(rows):
        return spark.createDataFrame(
            rows, "doc_id long, d date, score double"
        )

    real_publish = m.manifest_publish
    first = True
    for op, a, b in ops:
        if op == "append":
            res = m.manifest_table_append(
                df_of(batch_rows(a, b)), root, a,
                stats_cols=["d", "score"] if first else None,
                bloom_cols=["doc_id"] if first else None,
                bloom_bits=1 << 12,
            )
            first = False
            if a in committed:
                assert res is None
            else:
                committed[a] = batch_rows(a, b)
        elif op == "crash_append":
            if a in committed or first:
                continue
            m.manifest_publish = lambda *x, **k: (_ for _ in ()).throw(
                RuntimeError("crash")
            )
            try:
                with pytest.raises(RuntimeError):
                    m.manifest_table_append(df_of(batch_rows(a, b)), root, a)
            finally:
                m.manifest_publish = real_publish
        elif op in ("compact", "compact_split"):
            if not committed:
                continue
            kwargs = dict(keep_last=a, min_merge_mb=64)
            if op == "compact_split":
                kwargs.update(sort_by=["d"], range_split_mb=0.001)
            m.compact_manifest_table(spark, root, **kwargs)
        elif op == "vacuum":
            if not committed:
                continue
            m.vacuum_manifest_table(spark, root, keep_manifests=1)
        elif op in ("delete", "delete_dv"):
            if not committed:
                continue
            key = a * 100 + b
            st_ = m.manifest_table_delete(
                spark, root, [("doc_id", "=", key)],
                strategy="dv" if op == "delete_dv" else "cow",
            )
            want = sum(
                1 for rows in committed.values() for r in rows
                if r[0] == key
            )
            assert st_["rows_deleted"] == want
            for bid in list(committed):
                committed[bid] = [r for r in committed[bid] if r[0] != key]
        elif op == "materialize":
            if not committed:
                continue
            m.materialize_manifest_deletes(spark, root)
        elif op == "merge":
            if first:
                continue  # table must exist with tracking enabled
            # keys target batch (a+1)%5's id range so merges actually
            # COLLIDE with committed rows when that batch exists
            rows = [
                (((a + 1) % 5) * 100 + i, _day(i % 17), 10.0 + i % 3)
                for i in range(b)
            ]
            res = m.manifest_table_merge(
                df_of(rows), root, "doc_id", a
            )
            if a in committed:
                assert res is None  # ledger replay: no-op
            else:
                keys = {r[0] for r in rows}
                for bid in list(committed):
                    committed[bid] = [
                        r for r in committed[bid] if r[0] not in keys
                    ]
                committed[a] = rows

    if not committed:
        return
    model = [r for rows in committed.values() for r in rows]

    # a drawn predicate of each kind, checked against the Python model
    day = _day(data.draw(st.integers(0, 20), label="day"))
    key = data.draw(st.integers(0, 500), label="key")
    cases = [
        ([("d", "=", day)], lambda r: r[1] == day),
        ([("d", "<=", day)], lambda r: r[1] <= day),
        ([("doc_id", "=", key)], lambda r: r[0] == key),
        ([("score", ">", 1.0)], lambda r: r[2] > 1.0),
        (
            [("doc_id", "in", [key, key + 100])],
            lambda r: r[0] in (key, key + 100),
        ),
    ]
    for where, pred in cases:
        got = sorted(
            (r.doc_id, r.d, r.score)
            for r in m.read_manifest_table(spark, root, where=where).collect()
        )
        want = sorted(r for r in model if pred(r))
        assert got == want, (where, got, want)
    # and the manifest-only aggregate: rows stay exact ALWAYS (deletion-
    # vector cardinalities are ledgered and disjoint); column min/max
    # degrade honestly while any generation carries a live vector
    agg = m.manifest_table_aggregate(spark, root)
    assert agg["rows"] == len(model)
    live_dvs = bool(m.manifest_read(spark, root).get("dvs"))
    if live_dvs:
        assert agg["exact"] is False
    else:
        assert agg["exact"] is True
        non_null_days = [r[1] for r in model]
        if non_null_days:
            assert agg["cols"]["d"]["min"] == min(non_null_days)
            assert agg["cols"]["d"]["max"] == max(non_null_days)


def test_catalyst_pushdown_survives_manifest_read(spark, tmp_path):
    """The two skipping levels must COMPOSE: generation pruning happens
    at the manifest, and the residual filter must still reach the
    parquet scan of the surviving generations (PushedFilters) with the
    projection pruned (ReadSchema) — the recorded-schema read path must
    not hide the filter from Catalyst."""
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import (
        plan_string,
        pushed_filters,
    )

    root = str(tmp_path / "t")
    for b in range(3):
        manifest_table_append(_batch(spark, b), root, b, stats_cols=["d"])
    df = read_manifest_table(
        spark, root, where=[("d", ">=", _day(10))]
    ).select("doc_id")
    pf = pushed_filters(df)
    assert "d" in pf, f"residual filter not pushed to the scan: {pf!r}"
    read_schema = [
        l for l in plan_string(df).splitlines() if "ReadSchema" in l
    ]
    assert read_schema and "doc_id" in read_schema[0]
    assert "score" not in read_schema[0]  # projection pruned


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """Z-order range-split: after clustering on the Morton code of
    (x, y), BOTH dimensions' predicates skip generations; a plain x-sort
    control clusters only x.  Results always equal the filtered full
    read."""

    def mkbatch(b, n=400):
        # x and y uniform and independent — the adversarial layout for
        # single-column clustering
        return spark.range(n).select(
            (F.col("id") + b * 1000).alias("doc_id"),
            F.pmod(F.xxhash64((F.col("id") + b * 1000) * 2), F.lit(1000))
            .alias("x"),
            F.pmod(F.xxhash64((F.col("id") + b * 1000) * 3), F.lit(1000))
            .alias("y"),
        )

    roots = {}
    for variant, kwargs in (
        ("zorder", dict(zorder_by=["x", "y"])),
        ("xsort", dict(sort_by=["x"])),
    ):
        root = str(tmp_path / variant)
        roots[variant] = root
        for b in range(6):
            manifest_table_append(
                mkbatch(b), root, b,
                stats_cols=["x", "y"] if b == 0 else None,
            )
        compact_manifest_table(
            spark, root, keep_last=0, min_merge_mb=1,
            range_split_mb=0.003, **kwargs,
        )
        assert mt.manifest_read(spark, root)["gens"]

    for variant in roots:
        total = plan_manifest_read(spark, roots[variant], [])["total"]
        assert total >= 8, (variant, total)  # genuinely split

    for col in ("x", "y"):
        where = [(col, "between", (100, 180))]
        for variant, root in roots.items():
            plan = plan_manifest_read(spark, root, where)
            got = read_manifest_table(spark, root, where=where)
            want = read_manifest_table(spark, root).filter(
                F.col(col).between(100, 180)
            )
            assert _ids(got) == _ids(want), (variant, col)
            if variant == "zorder":
                # both dims prune under Z-order
                assert plan["scanned"] < plan["total"], (col, plan)
    # the control: x-sort prunes x tightly but cannot prune y at all
    xs_y = plan_manifest_read(spark, roots["xsort"], [("y", "between", (100, 180))])
    assert xs_y["scanned"] == xs_y["total"]
    xs_x = plan_manifest_read(spark, roots["xsort"], [("x", "between", (100, 180))])
    zo_x = plan_manifest_read(spark, roots["zorder"], [("x", "between", (100, 180))])
    zo_y = plan_manifest_read(spark, roots["zorder"], [("y", "between", (100, 180))])
    # z-order trades a little x-selectivity for y-selectivity; net win
    assert zo_x["scanned"] + zo_y["scanned"] < xs_x["scanned"] + xs_y["scanned"]


def test_zorder_argument_validation(spark, tmp_path):
    root = str(tmp_path / "t")
    manifest_table_append(_batch(spark, 0), root, 0)
    manifest_table_append(_batch(spark, 1), root, 1)
    with pytest.raises(ValueError, match="exclusive"):
        compact_manifest_table(
            spark, root, sort_by=["d"], zorder_by=["d"], range_split_mb=1
        )
    with pytest.raises(ValueError, match="needs range_split_mb"):
        compact_manifest_table(spark, root, zorder_by=["d"])


def test_incremental_changes_read(spark, tmp_path):
    """CDC-style seq-cursor reads: exactly the rows of batches committed
    after the cursor, O(new generations) IO, with loud boundaries when
    retention or compaction has destroyed the window."""
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        read_manifest_table_changes,
        vacuum_manifest_table,
    )

    root = str(tmp_path / "t")
    s0 = manifest_table_append(_batch(spark, 0), root, 0, stats_cols=["d"])
    s1 = manifest_table_append(_batch(spark, 1), root, 1)
    # nothing changed since the head: empty, schema-stable
    empty = read_manifest_table_changes(spark, root, s1)
    assert empty.count() == 0
    assert empty.schema == read_manifest_table(spark, root).schema

    s2 = manifest_table_append(_batch(spark, 2), root, 2)
    s3 = manifest_table_append(_batch(spark, 3), root, 3)
    got = read_manifest_table_changes(spark, root, s1)
    assert _ids(got) == _ids(_batch(spark, 2)) + _ids(_batch(spark, 3))
    # the new generations only: 2 dirs touched, not 4
    assert len({f.rsplit("/", 2)[-2] for f in got.inputFiles()}) == 2
    # bounded window via as_of
    got_12 = read_manifest_table_changes(spark, root, s1, as_of=s2)
    assert _ids(got_12) == _ids(_batch(spark, 2))

    # a replayed batch commits nothing: no phantom changes
    assert manifest_table_append(_batch(spark, 2), root, 2) is None
    assert read_manifest_table_changes(spark, root, s3).count() == 0

    # compaction inside the window: loud, names the batches
    compact_manifest_table(spark, root, keep_last=1)
    with pytest.raises(ValueError, match="already compacted"):
        read_manifest_table_changes(spark, root, s1)
    # ...but a cursor at the head still works (batch 3 stayed verbatim)
    assert _ids(read_manifest_table_changes(spark, root, s2)) == _ids(
        _batch(spark, 3)
    )

    # retention destroyed the baseline manifest: loud
    vacuum_manifest_table(spark, root, keep_manifests=1)
    with pytest.raises(ValueError, match="retention"):
        read_manifest_table_changes(spark, root, s0)


def test_incremental_changes_follow_schema_evolution(spark, tmp_path):
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        read_manifest_table_changes,
    )

    root = str(tmp_path / "t")
    s0 = manifest_table_append(
        spark.createDataFrame([(1,)], "doc_id long"), root, 0
    )
    manifest_table_append(
        spark.createDataFrame([(2, "en")], "doc_id long, lang string"),
        root, 1,
    )
    got = read_manifest_table_changes(spark, root, s0)
    assert got.columns == ["doc_id", "lang"]  # head schema, evolved
    assert [(r.doc_id, r.lang) for r in got.collect()] == [(2, "en")]


def test_copy_on_write_delete_touches_only_matching_generations(
    spark, tmp_path
):
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_delete,
        vacuum_manifest_table,
    )

    root = str(tmp_path / "t")
    for b in range(5):
        manifest_table_append(
            _overlap_batch(spark, b), root, b,
            stats_cols=["doc_id"] if b == 0 else None,
            bloom_cols=["doc_id"] if b == 0 else None,
        )
    pre = mt.manifest_read(spark, root)
    pre_seq = pre["seq"]
    gens_before = set(pre["gens"])

    # doc_ids 52 and 103: live in batches 2 and 3 only (id % 10 = b);
    # every generation's [min,max] overlaps them — blooms do the work
    st = manifest_table_delete(
        spark, root, [("doc_id", "in", [52, 103])]
    )
    assert st["rows_deleted"] == 2
    assert st["gens_rewritten"] <= 2  # only the true holders rewritten
    assert st["gens_untouched"] >= 3
    post = mt.manifest_read(spark, root)
    # the untouched generations' dirs are byte-identical (same ids)
    assert len(gens_before & set(post["gens"])) == st["gens_untouched"]
    # rows gone, everything else intact
    t = read_manifest_table(spark, root)
    assert t.count() == 98
    assert t.where(F.col("doc_id").isin(52, 103)).count() == 0
    # stats/blooms recomputed: the deleted keys now prune to zero
    assert read_manifest_table(
        spark, root, where=[("doc_id", "=", 52)]
    ).count() == 0
    # the ledger survived: replays still no-ops, fresh batches land
    assert manifest_table_append(_overlap_batch(spark, 2), root, 2) is None
    # time travel: the pre-delete snapshot still shows the rows...
    snap = read_manifest_table(spark, root, as_of=pre_seq)
    assert snap.where(F.col("doc_id").isin(52, 103)).count() == 2
    # ...until vacuum makes the deletion durable
    vacuum_manifest_table(spark, root, keep_manifests=1)
    with pytest.raises(ValueError, match="no longer fully readable|no retained"):
        read_manifest_table(spark, root, as_of=pre_seq).count()
    assert read_manifest_table(spark, root).count() == 98


def test_delete_null_semantics_and_noop(spark, tmp_path):
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_delete,
    )

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "doc_id long, v long"
    )
    manifest_table_append(df, root, 0, stats_cols=["v"])
    st = manifest_table_delete(spark, root, [("v", "=", 5)])
    assert st["rows_deleted"] == 1
    # SQL three-valued logic: the NULL row does NOT match and is kept
    assert _ids(read_manifest_table(spark, root)) == [2, 3]

    # a delete matching nothing publishes nothing
    seq_before = mt.manifest_read(spark, root)["seq"]
    st = manifest_table_delete(spark, root, [("v", "=", 999)])
    assert st == {"rows_deleted": 0, "gens_rewritten": 0, "gens_untouched": 1}
    assert mt.manifest_read(spark, root)["seq"] == seq_before

    with pytest.raises(ValueError, match="at least one predicate"):
        manifest_table_delete(spark, root, [])


def test_plan_attributes_skips_to_their_level(spark, tmp_path):
    """The plan names which level proved each skip: disjoint day ranges
    go to stats, overlapping-id point lookups to blooms, and the levels
    compose on one table."""
    root = str(tmp_path / "t")
    for b in range(4):
        df = spark.range(20).select(
            (F.col("id") * 10 + b).alias("doc_id"),   # overlapping ids
            F.lit(_day(b * 10)).alias("d"),            # disjoint days
        )
        manifest_table_append(
            df, root, b,
            stats_cols=["d"] if b == 0 else None,
            bloom_cols=["doc_id"] if b == 0 else None,
        )
    p1 = plan_manifest_read(spark, root, [("d", "=", _day(20))])
    assert p1["skipped_by_stats"] == 3 and p1["skipped_by_bloom"] == 0
    p2 = plan_manifest_read(spark, root, [("doc_id", "=", 52)])
    assert p2["skipped_by_stats"] == 0 and p2["skipped_by_bloom"] >= 2
    # composed: day stats cut to 1 candidate, the bloom then decides it
    p3 = plan_manifest_read(
        spark, root, [("d", "=", _day(20)), ("doc_id", "=", 53)]
    )
    assert p3["skipped_by_stats"] == 3
    assert p3["scanned"] + p3["skipped_by_bloom"] == 1
    assert p3["scanned"] + p3["skipped"] == p3["total"]


def test_backfill_enables_skipping_without_rewriting(spark, tmp_path):
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        backfill_manifest_skipping,
    )

    root = str(tmp_path / "t")
    # a pre-tracking table: four blind generations
    for b in range(4):
        manifest_table_append(_overlap_batch(spark, b), root, b)
    gens_before = set(mt.manifest_read(spark, root)["gens"])
    assert plan_manifest_read(
        spark, root, [("doc_id", "=", 52)]
    )["scanned"] == 4  # blind: everything scanned

    st = backfill_manifest_skipping(
        spark, root, stats_cols=["doc_id"], bloom_cols=["doc_id"]
    )
    assert st["stats_backfilled"] == 4 and st["blooms_backfilled"] == 4
    m = mt.manifest_read(spark, root)
    # NO data rewrite: identical generation ids
    assert set(m["gens"]) == gens_before
    # old generations now prune
    plan = plan_manifest_read(spark, root, [("doc_id", "=", 52)])
    assert plan["scanned"] <= 2 and plan["skipped_by_bloom"] >= 2
    assert _ids(
        read_manifest_table(spark, root, where=[("doc_id", "=", 52)])
    ) == [52]

    # idempotent: a second pass does nothing and publishes nothing
    again = backfill_manifest_skipping(spark, root)
    assert again == {
        "stats_backfilled": 0, "blooms_backfilled": 0, "published_seq": 0,
    }

    # the setting became sticky: a future append tracks automatically
    manifest_table_append(_overlap_batch(spark, 9), root, 9)
    m2 = mt.manifest_read(spark, root)
    assert str(m2["batches"]["9"]) in m2["stats"]
    assert str(m2["batches"]["9"]) in m2["blooms"]


def test_backfill_validation(spark, tmp_path):
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        backfill_manifest_skipping,
    )

    root = str(tmp_path / "t")
    manifest_table_append(_overlap_batch(spark, 0), root, 0)
    with pytest.raises(ValueError, match="nothing to backfill"):
        backfill_manifest_skipping(spark, root)
    with pytest.raises(ValueError, match="needs stats_cols"):
        backfill_manifest_skipping(spark, root, bloom_cols=["doc_id"])
