"""Keyed MERGE on the manifest table (r13, VERDICT r12 #1).

``manifest_table_merge`` = CoW delete of matched keys + ledgered append
of the batch in ONE conditional-PUT publish — the object-store-atomic
replacement for ``upsert_parquet_sink``'s dynamic partition overwrite
(delete+write, the last non-atomic commit in the manifest posture).
The contract under test, throughout with os.rename/os.replace/
shutil.move banned:

* read-back parity with ``operators.upsert.scd1_upsert`` (U1 —
  the reference's per-tuple ``UPDATE dim SET ... WHERE pk = ?``,
  StreamGeneratorThread.java:205-209 / createDW.sql:26);
* exactly-once under foreachBatch replay via the batch ledger;
* a crash at ANY pre-publish point is invisible (orphans only) and the
  redelivery converges;
* the rewrite set is stats+Bloom pruned — generations that don't hold
  a batch key keep their dirs byte-identical.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import scd1_upsert
from datawarehouse_etl_using_hyperjoin_spark.sources import manifest_table as mt
from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
    compact_manifest_table,
    manifest_table_merge,
    manifest_upsert_sink,
    read_manifest_table,
    vacuum_manifest_table,
)


def _ban_renames(mp):
    def boom(*a, **k):  # pragma: no cover - the assertion IS the test
        raise AssertionError("rename/move inside the manifest-merge path")

    mp.setattr(os, "rename", boom)
    mp.setattr(os, "replace", boom)
    mp.setattr(shutil, "move", boom)


def _updates(spark, rows):
    return spark.createDataFrame(
        rows, "product_id long, product_name string, price double"
    )


def _state(df):
    return sorted(
        (r.product_id, r.product_name, r.price)
        for r in df.select("product_id", "product_name", "price").collect()
    )


def test_merge_parity_with_scd1_upsert(spark, tmp_path, monkeypatch):
    """N update batches through merge ≡ folding the same batches through
    scd1_upsert: same rows, key-unique at rest, latest version wins."""
    root = str(tmp_path / "dim")
    batches = [
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        [(2, "b2", 2.5), (4, "d", 4.0)],                 # update + insert
        [(1, "a3", 1.5), (4, "d3", 4.5), (5, "e", 5.0)],
    ]
    model = None
    with monkeypatch.context() as mp:
        _ban_renames(mp)
        for b, rows in enumerate(batches):
            df = _updates(spark, rows)
            assert (
                manifest_table_merge(df, root, "product_id", b) is not None
            )
            model = df if model is None else scd1_upsert(
                model, df, key="product_id"
            )
    got = read_manifest_table(spark, root)
    assert _state(got) == _state(model)
    # key-unique at rest — the invariant compaction soundness rests on
    assert got.count() == got.select("product_id").distinct().count()


def test_merge_replay_is_exactly_once(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "dim")
    with monkeypatch.context() as mp:
        _ban_renames(mp)
        manifest_table_merge(
            _updates(spark, [(1, "a", 1.0)]), root, "product_id", 0
        )
        manifest_table_merge(
            _updates(spark, [(1, "a2", 1.1), (2, "b", 2.0)]),
            root, "product_id", 1,
        )
        before = _state(read_manifest_table(spark, root))
        seq_before = mt.manifest_read(spark, root)["seq"]
        # redelivery of BOTH committed batches: ledger-detected no-ops,
        # even with different (stale) content — the commit already won
        assert manifest_table_merge(
            _updates(spark, [(1, "a", 1.0)]), root, "product_id", 0
        ) is None
        assert manifest_table_merge(
            _updates(spark, [(1, "stale", 9.9)]), root, "product_id", 1
        ) is None
    assert _state(read_manifest_table(spark, root)) == before
    assert mt.manifest_read(spark, root)["seq"] == seq_before


def test_merge_crash_before_publish_is_invisible_then_converges(
    spark, tmp_path, monkeypatch
):
    """Kill/restart replay: a crash after the rewrites/appends but
    before the manifest PUT leaves NO visible change (the partially-
    rewritten-bucket failure the partition overwrite has); the
    redelivery converges; vacuum reclaims the orphan dirs."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        root, "product_id", 0,
    )
    before = _state(read_manifest_table(spark, root))
    upd = _updates(spark, [(1, "a2", 1.5), (3, "c", 3.0)])
    real_publish = mt.manifest_publish
    monkeypatch.setattr(
        mt, "manifest_publish",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        manifest_table_merge(upd, root, "product_id", 1)
    monkeypatch.setattr(mt, "manifest_publish", real_publish)
    # nothing visible from the crashed attempt
    assert _state(read_manifest_table(spark, root)) == before
    # redelivery converges to the merged state
    assert manifest_table_merge(upd, root, "product_id", 1) is not None
    assert _state(read_manifest_table(spark, root)) == [
        (1, "a2", 1.5), (2, "b", 2.0), (3, "c", 3.0),
    ]
    # the crashed attempt's dirs are orphans vacuum reclaims
    stats = vacuum_manifest_table(spark, root, keep_manifests=1)
    assert stats["data_dirs_deleted"] >= 2  # crashed rewrite + append
    assert _state(read_manifest_table(spark, root)) == [
        (1, "a2", 1.5), (2, "b", 2.0), (3, "c", 3.0),
    ]


def test_merge_rewrites_only_holder_generations(spark, tmp_path):
    """5 batches with disjoint key ranges; a merge touching keys from
    batches 1 and 3 rewrites exactly those two generations — the other
    three keep their dirs byte-identical (same generation ids)."""
    root = str(tmp_path / "dim")
    for b in range(5):
        rows = [(b * 100 + i, f"p{b}-{i}", float(i)) for i in range(20)]
        manifest_table_merge(
            _updates(spark, rows), root, "product_id", b,
        )
    pre = mt.manifest_read(spark, root)
    gens_before = set(pre["gens"])
    out = manifest_table_merge(
        _updates(spark, [(105, "new105", 9.0), (307, "new307", 9.0)]),
        root, "product_id", 10,
    )
    assert out is not None
    post = mt.manifest_read(spark, root)
    # 5 before; 2 rewritten + 1 batch gen added = 6 after, 3 untouched
    assert len(post["gens"]) == 6
    assert len(gens_before & set(post["gens"])) == 3
    t = read_manifest_table(spark, root)
    assert t.count() == 100 + 2 - 2  # two keys replaced, two inserted? no:
    # 100 original rows, 2 replaced in place → still 100
    assert t.where(F.col("product_id") == 105).collect()[0].product_name == (
        "new105"
    )
    assert t.count() == t.select("product_id").distinct().count()


def test_merge_full_replacement_drops_emptied_generation(spark, tmp_path):
    """ADVICE r13: when a batch's keys cover EVERY row of a generation,
    the merge DROPS that generation instead of writing an empty
    replacement dir — a hot-key dim no longer accretes permanently-empty
    dirs that every unpredicated read still lists.  The dropped
    generation's ledger entries remap onto the batch generation (a LIVE
    target, so the changes-read rewrite guard still fires for batches a
    cursor already consumed)."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(1, "a", 1.0), (2, "b", 2.0)]), root,
        "product_id", 0,
    )
    pre = mt.manifest_read(spark, root)
    manifest_table_merge(  # replaces BOTH keys of batch 0's generation
        _updates(spark, [(1, "a2", 1.5), (2, "b2", 2.5), (3, "c", 3.0)]),
        root, "product_id", 1,
    )
    post = mt.manifest_read(spark, root)
    assert len(post["gens"]) == 1  # no empty replacement dir
    bg = int(post["gens"][0])
    assert {b: int(g) for b, g in post["batches"].items()} == {
        "0": bg, "1": bg,
    }
    assert set(post.get("stats") or {}) <= {str(bg)}
    assert set(post.get("blooms") or {}) <= {str(bg)}
    t = read_manifest_table(spark, root)
    assert _state(t) == [(1, "a2", 1.5), (2, "b2", 2.5), (3, "c", 3.0)]
    # a cursor that consumed batch 0 sees its remapped entry and refuses
    # the append-only delta (rows it delivered were replaced)
    with pytest.raises(ValueError, match="row-level rewritten"):
        mt.read_manifest_table_changes(spark, root, pre["seq"])
    # repeated full replacements never grow the generation count
    for b in range(2, 5):
        manifest_table_merge(
            _updates(
                spark,
                [(1, f"a{b}", 1.0), (2, f"b{b}", 2.0), (3, f"c{b}", 3.0)],
            ),
            root, "product_id", b,
        )
        assert len(mt.manifest_read(spark, root)["gens"]) == 1
    assert read_manifest_table(spark, root).count() == 3
    # a generation holding a NULL-key row is never "fully replaced":
    # the NULL row survives, so the dir is rewritten, not dropped
    manifest_table_merge(
        _updates(spark, [(9, "z", 9.0), (None, "ghost", 0.0)]),
        root, "product_id", 50,
    )
    manifest_table_merge(
        _updates(spark, [(9, "z2", 9.5)]), root, "product_id", 51
    )
    t = read_manifest_table(spark, root)
    assert t.where(F.col("product_id").isNull()).count() == 1
    assert t.where(F.col("product_id") == 9).collect()[0].product_name == "z2"


def test_merge_full_replacement_drops_gen_on_antijoin_path(
    spark, tmp_path, monkeypatch
):
    """Same empty-generation drop on the no-driver-key-list degradation
    path (> _MERGE_INLIST_MAX keys): totals come from the left-join
    marker in the same single probe job."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(i, f"old{i}", 0.0) for i in range(6)]),
        root, "product_id", 0,
    )
    monkeypatch.setattr(mt, "_MERGE_INLIST_MAX", 2)
    manifest_table_merge(
        _updates(spark, [(i, f"new{i}", 1.0) for i in range(8)]),
        root, "product_id", 1,
    )
    post = mt.manifest_read(spark, root)
    assert len(post["gens"]) == 1
    t = read_manifest_table(spark, root)
    assert t.count() == 8
    assert t.where(F.col("product_name").startswith("new")).count() == 8


def test_merge_null_key_semantics(spark, tmp_path):
    """scd1 parity for NULLs: existing NULL-key rows never match an
    update (kept); batch NULL-key rows insert."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(1, "a", 1.0), (None, "ghost", 0.0)]),
        root, "product_id", 0,
    )
    manifest_table_merge(
        _updates(spark, [(1, "a2", 1.5), (None, "ghost2", 0.5)]),
        root, "product_id", 1,
    )
    t = read_manifest_table(spark, root)
    names = sorted(
        r.product_name for r in t.where(F.col("product_id").isNull()).collect()
    )
    assert names == ["ghost", "ghost2"]  # both kept, like scd1's anti-join
    assert t.where(F.col("product_id") == 1).collect()[0].product_name == "a2"


def test_merge_large_batch_join_path(spark, tmp_path, monkeypatch):
    """Past _MERGE_INLIST_MAX the merge never collects keys — anti-join
    rewrites over all generations — with identical semantics."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(i, f"old{i}", 0.0) for i in range(10)]),
        root, "product_id", 0,
    )
    monkeypatch.setattr(mt, "_MERGE_INLIST_MAX", 2)
    upd = _updates(
        spark, [(i, f"new{i}", 1.0) for i in range(5, 15)]
    )
    assert manifest_table_merge(upd, root, "product_id", 1) is not None
    t = read_manifest_table(spark, root)
    assert t.count() == 15
    assert t.where(F.col("product_name").startswith("new")).count() == 10
    assert t.count() == t.select("product_id").distinct().count()


def test_merge_version_order_collapses_multi_version_batches(
    spark, tmp_path
):
    root = str(tmp_path / "dim")
    df = spark.createDataFrame(
        [(1, "v1", 1), (1, "v2", 2), (2, "x", 1)],
        "product_id long, product_name string, ts long",
    )
    manifest_table_merge(
        df, root, "product_id", 0, version_order=[F.col("ts").desc()]
    )
    t = read_manifest_table(spark, root)
    assert t.count() == 2
    assert t.where(F.col("product_id") == 1).collect()[0].product_name == "v2"


def test_merge_schema_evolution_additive(spark, tmp_path):
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(1, "a", 1.0)]), root, "product_id", 0
    )
    evolved = spark.createDataFrame(
        [(2, "b", 2.0, "blue")],
        "product_id long, product_name string, price double, color string",
    )
    manifest_table_merge(evolved, root, "product_id", 1)
    t = read_manifest_table(spark, root)
    assert set(t.columns) == {"product_id", "product_name", "price", "color"}
    rows = {r.product_id: r.color for r in t.collect()}
    assert rows == {1: None, 2: "blue"}  # old gen fills null


def test_merge_lost_conditional_put_rebases(spark, tmp_path):
    """A racing writer wins the target seq mid-merge: the merge rebases
    against the new head and BOTH commits land — the rival's appended
    batch survives the merge's rewrite pass untouched unless keyed."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(1, "a", 1.0), (2, "b", 2.0)]),
        root, "product_id", 0,
    )
    real_publish = mt.manifest_publish
    fired = []

    def racing(spark_, root_, payload, *, seq):
        if not fired:
            fired.append(True)
            # the rival commits batch 99 at OUR target seq first
            mt.manifest_table_append(
                _updates(spark, [(50, "rival", 5.0)]), root_, 99
            )
        return real_publish(spark_, root_, payload, seq=seq)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(mt, "manifest_publish", racing)
        assert manifest_table_merge(
            _updates(spark, [(2, "b2", 2.5)]), root, "product_id", 1
        ) is not None
    t = read_manifest_table(spark, root)
    assert _state(t) == [
        (1, "a", 1.0), (2, "b2", 2.5), (50, "rival", 5.0),
    ]
    assert set(mt.manifest_read(spark, root)["batches"]) == {"0", "1", "99"}


def test_merge_key_uniqueness_survives_compaction(spark, tmp_path):
    root = str(tmp_path / "dim")
    for b in range(6):
        rows = [((b * 3 + i) % 10, f"b{b}-{i}", float(b)) for i in range(5)]
        manifest_table_merge(
            _updates(spark, rows), root, "product_id", b,
            version_order=[F.col("product_name").desc()],
        )
    before = _state(read_manifest_table(spark, root))
    compact_manifest_table(spark, root, keep_last=1, min_merge_mb=64)
    after_t = read_manifest_table(spark, root)
    assert _state(after_t) == before
    assert after_t.count() == after_t.select("product_id").distinct().count()
    # merges keep working against the compacted layout
    manifest_table_merge(
        _updates(spark, [(0, "fresh", 99.0)]), root, "product_id", 100
    )
    assert read_manifest_table(spark, root).where(
        F.col("product_id") == 0
    ).collect()[0].product_name == "fresh"


def test_merge_refuses_wrong_inputs(spark, tmp_path):
    root = str(tmp_path / "dim")
    with pytest.raises(ValueError, match="not in batch columns"):
        manifest_table_merge(
            _updates(spark, [(1, "a", 1.0)]), root, "nope", 0
        )
    df_g = spark.createDataFrame([(1, 2)], "g long, product_id long")
    with pytest.raises(ValueError, match="reserves column name 'g'"):
        manifest_table_merge(df_g, root, "product_id", 0)


def test_manifest_upsert_sink_is_a_foreachbatch_body(
    spark, tmp_path, monkeypatch
):
    """The sink factory: per-batch merges with key stats/blooms tracked
    by default, replay-safe, rename-free."""
    root = str(tmp_path / "dim")
    sink = manifest_upsert_sink(root, "product_id")
    with monkeypatch.context() as mp:
        _ban_renames(mp)
        sink(_updates(spark, [(1, "a", 1.0), (2, "b", 2.0)]), 0)
        sink(_updates(spark, [(2, "b2", 2.5), (3, "c", 3.0)]), 1)
        sink(_updates(spark, [(2, "stale", 0.0)]), 1)  # replay: no-op
    t = read_manifest_table(spark, root)
    assert _state(t) == [(1, "a", 1.0), (2, "b2", 2.5), (3, "c", 3.0)]
    m = mt.manifest_read(spark, root)
    assert m["stats_cols"] == ["product_id"]
    assert m["bloom_cols"] == ["product_id"]


def test_merge_racing_merge_both_commit(spark, tmp_path):
    """Two MERGES race one head: the loser rebases against the winner's
    commit and re-derives — including re-pruning against generations
    the winner just rewrote — so both upserts land and the table stays
    key-unique."""
    root = str(tmp_path / "dim")
    manifest_table_merge(
        _updates(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]),
        root, "product_id", 0,
    )
    real_publish = mt.manifest_publish
    fired = []

    def racing(spark_, root_, payload, *, seq):
        if not fired:
            fired.append(True)
            # the rival MERGE updates key 3 and wins the seq first
            manifest_table_merge(
                _updates(spark, [(3, "c-rival", 3.5)]),
                root_, "product_id", 77,
            )
        return real_publish(spark_, root_, payload, seq=seq)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(mt, "manifest_publish", racing)
        assert manifest_table_merge(
            _updates(spark, [(2, "b2", 2.5), (4, "d", 4.0)]),
            root, "product_id", 1,
        ) is not None
    t = read_manifest_table(spark, root)
    assert _state(t) == [
        (1, "a", 1.0), (2, "b2", 2.5), (3, "c-rival", 3.5), (4, "d", 4.0),
    ]
    assert t.count() == t.select("product_id").distinct().count()
    assert set(mt.manifest_read(spark, root)["batches"]) == {"0", "1", "77"}
