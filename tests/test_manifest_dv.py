"""Merge-on-read DELETE via deletion vectors (r14, VERDICT r13 #1).

``manifest_table_delete(strategy="dv")`` records matched rows'
(file, position) addresses in a KB-scale parquet sidecar and publishes a
manifest naming it per touched generation — no data rewrite.  The probe
that decided this measured 4.2 s vs 65.5 s CoW for a 64-row wide delete
on the 64-generation / 12.8 M-row aged table (SCALE.md r14).  The contract under test:

* reads (full, predicated, incremental, time-traveled) anti-apply live
  vectors — never resurrect a deleted row, never lose a live one;
* vectors STACK disjointly, and every rewrite MATERIALIZES the vectors
  of the generations it touches (CoW delete, merge, compaction, the
  explicit ``materialize_manifest_deletes``);
* manifest-only aggregates keep ``rows`` exact and degrade min/max
  honestly; the changes-read raises on a retraction it cannot express;
* a missing vector file is a LOUD error (reading without it would
  resurrect rows), and vacuum reclaims vector files only past manifest
  retention.
"""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read
from datawarehouse_etl_using_hyperjoin_spark.sources import manifest_table as mt
from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
    compact_manifest_table,
    manifest_table_aggregate,
    manifest_table_append,
    manifest_table_delete,
    manifest_table_merge,
    materialize_manifest_deletes,
    plan_manifest_read,
    read_manifest_table,
    read_manifest_table_changes,
    vacuum_manifest_table,
)


def _batch(spark, b, n=40):
    return spark.range(n).select(
        (F.col("id") + b * 100).alias("doc_id"),
        F.date_add(F.to_date(F.lit("2024-01-01")), b).alias("d"),
        (F.col("id") % 7).cast("double").alias("score"),
    )


def _build(spark, root, n_batches=4):
    for b in range(n_batches):
        manifest_table_append(
            _batch(spark, b), root, b,
            stats_cols=["d", "doc_id"] if b == 0 else None,
            bloom_cols=["doc_id"] if b == 0 else None,
        )


def _rows(df):
    return sorted((r.doc_id, r.d, r.score) for r in df.collect())


def test_dv_delete_no_rewrite_and_exact_reads(spark, tmp_path):
    root = str(tmp_path / "t")
    _build(spark, root)
    pre = manifest_read(spark, root)
    model = _rows(read_manifest_table(spark, root))
    victims = [7, 107, 207, 307]  # one per generation: the wide delete
    out = manifest_table_delete(
        spark, root, [("doc_id", "in", victims)], strategy="dv"
    )
    assert out == {
        "rows_deleted": 4, "gens_rewritten": 0,
        "gens_untouched": 4, "gens_vectored": 4,
    }
    post = manifest_read(spark, root)
    # NO data rewrite: generation ids, stats and blooms byte-identical
    assert post["gens"] == pre["gens"]
    assert post["stats"] == pre["stats"]
    assert post["blooms"] == pre["blooms"]
    model = [r for r in model if r[0] not in victims]
    assert _rows(read_manifest_table(spark, root)) == model
    # predicated read ≡ full + filter, with vectors live
    day = dt.date(2024, 1, 3)
    got = read_manifest_table(spark, root, where=[("d", "=", day)])
    assert _rows(got) == [r for r in model if r[1] == day]
    # time travel to the pre-delete snapshot still shows the victims
    snap = read_manifest_table(spark, root, as_of=pre["seq"])
    assert snap.where(F.col("doc_id").isin(victims)).count() == 4
    # the plan exposes the merge-on-read tax
    plan = plan_manifest_read(spark, root, [("d", "=", day)])
    assert plan["scanned"] == 1 and plan["dv_gens"] == 1


def test_dv_deletes_stack_disjointly(spark, tmp_path):
    root = str(tmp_path / "t")
    _build(spark, root)
    manifest_table_delete(
        spark, root, [("doc_id", "in", [3, 103])], strategy="dv"
    )
    # second vector on the same generations; re-deleting an
    # already-deleted row matches NOTHING (positions stay disjoint)
    out = manifest_table_delete(
        spark, root, [("doc_id", "in", [3, 4, 104])], strategy="dv"
    )
    assert out["rows_deleted"] == 2
    t = read_manifest_table(spark, root)
    assert t.where(F.col("doc_id").isin([3, 4, 103, 104])).count() == 0
    assert t.count() == 160 - 4
    m = manifest_read(spark, root)
    # recorded cardinalities per generation sum to the true deletions
    assert sum(
        e["rows"] for es in m["dvs"].values() for e in es
    ) == 4


def test_dv_delete_prunes_candidates_and_noop_publishes_nothing(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    _build(spark, root)
    seq = manifest_read(spark, root)["seq"]
    # keyed delete: Bloom pruning bounds the scan AND the vectored set
    out = manifest_table_delete(
        spark, root, [("doc_id", "in", [5, 205])], strategy="dv"
    )
    assert out["rows_deleted"] == 2
    assert out["gens_vectored"] <= 2 + 1  # true holders + rare bloom FP
    # nothing matches: no publish, no vector file left behind
    seq2 = manifest_read(spark, root)["seq"]
    out2 = manifest_table_delete(
        spark, root, [("doc_id", "=", 999_999)], strategy="dv"
    )
    assert out2["rows_deleted"] == 0 and out2["gens_vectored"] == 0
    assert manifest_read(spark, root)["seq"] == seq2 > seq
    # NULL predicate semantics: a NULL row never matches (3VL)
    manifest_table_append(
        spark.createDataFrame(
            [(None, dt.date(2024, 2, 1), 0.0)],
            "doc_id long, d date, score double",
        ),
        root, 50,
    )
    out3 = manifest_table_delete(
        spark, root, [("doc_id", "=", 6)], strategy="dv"
    )
    assert out3["rows_deleted"] == 1
    t = read_manifest_table(spark, root)
    assert t.where(F.col("doc_id").isNull()).count() == 1
    with pytest.raises(ValueError, match="'cow' or 'dv'"):
        manifest_table_delete(
            spark, root, [("doc_id", "=", 1)], strategy="bogus"
        )


def test_aggregate_rows_exact_cols_degrade_then_recover(spark, tmp_path):
    root = str(tmp_path / "t")
    _build(spark, root)
    agg0 = manifest_table_aggregate(spark, root)
    assert agg0["exact"] is True and agg0["rows"] == 160
    manifest_table_delete(
        spark, root, [("doc_id", "in", [1, 101, 201])], strategy="dv"
    )
    agg = manifest_table_aggregate(spark, root)
    # rows stay exact (ledgered disjoint cardinalities); min/max of the
    # vectored generations cannot be served — a deleted row may have
    # held the bound
    assert agg["rows"] == 157
    assert agg["exact"] is False
    assert agg["cols"]["d"] == {"min": None, "max": None, "nulls": None}
    # predicated aggregate on an aligned window: same rules
    agg_w = manifest_table_aggregate(
        spark, root, where=[("d", "=", dt.date(2024, 1, 4))]
    )
    assert agg_w["rows"] == 40  # batch 3 untouched by the vectors
    mat = materialize_manifest_deletes(spark, root)
    assert mat == {"gens_materialized": 3, "rows_dropped": 3}
    agg2 = manifest_table_aggregate(spark, root)
    assert agg2["exact"] is True and agg2["rows"] == 157


def test_materialize_rewrites_only_vectored_gens(spark, tmp_path):
    root = str(tmp_path / "t")
    _build(spark, root)
    manifest_table_delete(
        spark, root, [("doc_id", "in", [9, 309])], strategy="dv"
    )
    pre = manifest_read(spark, root)
    model = _rows(read_manifest_table(spark, root))
    out = materialize_manifest_deletes(spark, root)
    assert out["gens_materialized"] == 2 and out["rows_dropped"] == 2
    post = manifest_read(spark, root)
    assert post.get("dvs") is None
    # un-vectored generations keep their dirs byte-identical
    assert len(set(pre["gens"]) & set(post["gens"])) == 2
    assert _rows(read_manifest_table(spark, root)) == model
    # ledger entries follow their rows; replay stays exactly-once
    assert set(post["batches"]) == set(pre["batches"])
    assert manifest_table_append(_batch(spark, 0), root, 0) is None
    # idempotent when nothing is vectored
    assert materialize_manifest_deletes(spark, root) == {
        "gens_materialized": 0, "rows_dropped": 0,
    }


def test_rewrites_materialize_vectors(spark, tmp_path):
    """CoW delete, keyed merge and compaction each apply-and-drop the
    vectors of the generations they rewrite; untouched generations keep
    theirs."""
    root = str(tmp_path / "t")
    _build(spark, root)
    manifest_table_delete(  # vector on every generation
        spark, root, [("doc_id", "in", [2, 102, 202, 302])], strategy="dv"
    )
    # CoW delete touching generation 0 only
    manifest_table_delete(spark, root, [("doc_id", "=", 11)])
    m = manifest_read(spark, root)
    assert len(m["dvs"]) == 3  # gen 0's vector materialized
    t = read_manifest_table(spark, root)
    assert t.where(F.col("doc_id").isin([2, 11])).count() == 0
    # merge touching generation 1 (update an existing live key)
    manifest_table_merge(
        spark.createDataFrame(
            [(110, dt.date(2024, 6, 1), 9.0)],
            "doc_id long, d date, score double",
        ),
        root, "doc_id", 90,
    )
    m = manifest_read(spark, root)
    assert len(m["dvs"]) == 2
    t = read_manifest_table(spark, root)
    assert t.where(F.col("doc_id") == 102).count() == 0  # still deleted
    assert t.where(F.col("doc_id") == 110).collect()[0].score == 9.0
    # compaction merges the older generations: their vectors materialize,
    # the keep_last window's survive
    compact_manifest_table(spark, root, keep_last=1, min_merge_mb=64)
    t = read_manifest_table(spark, root)
    assert t.where(F.col("doc_id").isin([2, 102, 202, 302])).count() == 0
    assert t.count() == 160 - 4 - 1  # 4 dv + 1 cow deleted; 110 updated


def test_merge_drops_generation_fully_replaced_modulo_vectors(
    spark, tmp_path
):
    """The r14 emptied-generation drop counts LIVE rows: a generation
    whose only un-vectored rows all match the merge batch is dropped,
    vectors and all."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        root, "k", 0,
    )
    manifest_table_delete(spark, root, [("k", "=", 3)], strategy="dv")
    manifest_table_merge(
        spark.createDataFrame([(1, "a2"), (2, "b2")], "k long, v string"),
        root, "k", 1,
    )
    m = manifest_read(spark, root)
    assert len(m["gens"]) == 1  # fully-replaced gen dropped, not emptied
    assert m.get("dvs") is None
    assert sorted(
        (r.k, r.v) for r in read_manifest_table(spark, root).collect()
    ) == [(1, "a2"), (2, "b2")]


def test_changes_read_raises_on_vectors_applies_on_new_gens(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    _build(spark, root, n_batches=2)
    cursor = manifest_read(spark, root)["seq"]
    # vector on a generation the cursor already covers: retraction —
    # an append-only delta must refuse
    manifest_table_delete(spark, root, [("doc_id", "=", 3)], strategy="dv")
    with pytest.raises(ValueError, match="deletion vectors"):
        read_manifest_table_changes(spark, root, cursor)
    # a consumer whose cursor is PAST the vector commit is fine, and a
    # vector landing on a post-cursor batch is anti-applied (net rows)
    cursor2 = manifest_read(spark, root)["seq"]
    manifest_table_append(_batch(spark, 2), root, 2)
    manifest_table_delete(
        spark, root, [("doc_id", "=", 205)], strategy="dv"
    )
    got = read_manifest_table_changes(spark, root, cursor2)
    assert got.count() == 39  # batch 2 minus its vectored row
    assert got.where(F.col("doc_id") == 205).count() == 0


def test_missing_vector_file_is_loud_and_vacuum_reclaims(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    _build(spark, root)
    pre_seq = manifest_read(spark, root)["seq"]
    manifest_table_delete(
        spark, root, [("doc_id", "in", [8, 108])], strategy="dv"
    )
    # vacuum respects retention: the vector file is referenced by the
    # live manifest, so it survives even a tight vacuum
    out = vacuum_manifest_table(spark, root, keep_manifests=1)
    assert out["dv_files_deleted"] == 0
    assert read_manifest_table(spark, root).count() == 158
    # time travel behind the vacuumed window errors loudly
    with pytest.raises(ValueError, match="no retained manifest|no longer"):
        read_manifest_table(spark, root, as_of=pre_seq)
    # a vector file deleted OUT-OF-BAND (corruption): reads refuse
    # rather than resurrect the rows
    shutil.rmtree(f"{root}/dv")
    with pytest.raises(ValueError, match="deletion-vector"):
        read_manifest_table(spark, root).count()
    # materialization after the loss also refuses (it reads through
    # _apply_dvs)
    with pytest.raises(ValueError, match="deletion-vector"):
        materialize_manifest_deletes(spark, root)


def test_vacuum_reclaims_materialized_vectors_past_retention(
    spark, tmp_path
):
    root = str(tmp_path / "t")
    _build(spark, root)
    manifest_table_delete(spark, root, [("doc_id", "=", 4)], strategy="dv")
    materialize_manifest_deletes(spark, root)
    # retention still references the vectored snapshot: file survives
    assert vacuum_manifest_table(
        spark, root, keep_manifests=3
    )["dv_files_deleted"] == 0
    assert read_manifest_table(
        spark, root,
        as_of=manifest_read(spark, root)["seq"] - 1,
    ).where(F.col("doc_id") == 4).count() == 0
    # past retention: the vector file goes with its snapshots
    out = vacuum_manifest_table(spark, root, keep_manifests=1)
    assert out["dv_files_deleted"] == 1
    assert read_manifest_table(spark, root).count() == 159


def test_relocated_table_applies_vectors(spark, tmp_path):
    """Vector addresses are table-relative: a copied/moved table still
    applies them."""
    root = str(tmp_path / "a" / "t")
    _build(spark, root, n_batches=2)
    manifest_table_delete(
        spark, root, [("doc_id", "in", [6, 106])], strategy="dv"
    )
    dest = str(tmp_path / "b" / "nested" / "t2")
    shutil.copytree(root, dest)
    t = read_manifest_table(spark, dest)
    assert t.count() == 78
    assert t.where(F.col("doc_id").isin([6, 106])).count() == 0


def test_dv_on_legacy_schemaless_table(spark, tmp_path):
    """Tables whose manifests predate schema recording read through the
    basePath partition-discovery path — vectors must apply there too."""
    import json as _json

    root = str(tmp_path / "t")
    _build(spark, root, n_batches=2)
    # strip the recorded schema from the live manifest to simulate a
    # legacy table (r11-era manifests had none)
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        manifest_publish,
    )

    m = manifest_read(spark, root)
    legacy = {k: v for k, v in m.items() if k not in ("schema", "seq")}
    manifest_publish(spark, root, legacy, seq=m["seq"] + 1)
    manifest_table_delete(
        spark, root, [("doc_id", "in", [5, 105])], strategy="dv"
    )
    t = read_manifest_table(spark, root)
    assert t.count() == 78
    assert t.where(F.col("doc_id").isin([5, 105])).count() == 0
    assert "g" not in t.columns
