"""Manifest-backed IVF store: the rename-free object-store-safe lifecycle.

VERDICT r10 "Next" #3 pins the contract: a manifest-generation read path
plus split/compact via fresh-path rewrite, **tested by simulating
rename-unavailability** (os.rename/os.replace/shutil.move banned for the
whole manifest pipeline), with results bit-equal to an independently
computed assignment and to on-the-fly serving.  Plus the protocol's own claims: publish is the one
commit point (crash-before-publish is invisible and retry-safe), an
interrupted multi-cell split stays consistent per cell (no sentinel, no
recovery op, quantizer and cells always paired), and vacuum reclaims
exactly the unreferenced generations.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators import ivf_store
from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
    compact_ivf_index_manifest,
    ivf_append_manifest,
    ivf_split_oversized_manifest,
    ivf_vacuum,
    read_ivf_centroids,
    read_ivf_index_manifest,
    write_ivf_index_manifest,
)
from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
    ann_ivf_index_topk,
    ann_ivf_topk,
    ivf_assign,
    ivf_seed_centroids,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table


def _ban_renames(mp):
    def boom(*a, **k):  # pragma: no cover - the assertion IS the test
        raise AssertionError(
            "rename/move called inside the manifest pipeline — the "
            "protocol must be rename-free"
        )

    mp.setattr(os, "rename", boom)
    mp.setattr(os, "replace", boom)
    mp.setattr(shutil, "move", boom)


def _rows(df):
    return sorted(
        (r.vec_id, int(r.centroid_id), r.cell_id, tuple(r.embedding))
        for r in df.select(
            "vec_id", "centroid_id", "cell_id", "embedding"
        ).collect()
    )


def _cents(df):
    return sorted(
        (int(r.centroid_id), tuple(float(x) for x in r.centroid))
        for r in df.collect()
    )


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_manifest_lifecycle_bit_equal_to_rename_lifecycle_without_renames(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The full lifecycle — build, incremental append, hot-cell split,
    compaction, serve — run through the manifest store with every rename
    primitive monkeypatched to raise.  The final index rows and quantizer
    equal an independently computed reference (the batch assignment
    under the seed quantizer, with the hot cell's rows reassigned among
    its subcells), and ANN serving equals the on-the-fly
    ``ann_ivf_topk(assigned=...)`` over those rows and that quantizer."""
    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") % 2 == 0)
    extra = em.filter(F.col("vec_id") % 2 == 1)
    cent0 = ivf_seed_centroids(base, 2).localCheckpoint(eager=True)
    ref = ivf_assign(em, cent0).localCheckpoint(eager=True)
    sizes = {
        int(r.centroid_id): r["count"]
        for r in ref.groupBy("centroid_id").count().collect()
    }
    hot = max(sizes, key=sizes.get)
    max_rows = sizes[hot] - 1  # the hot cell is oversized
    seed_ids = [int(r.centroid_id) for r in cent0.collect()]

    # manifest pipeline: renames BANNED throughout
    mroot = str(tmp_path / "ivf_manifest")
    with monkeypatch.context() as mp:
        _ban_renames(mp)
        write_ivf_index_manifest(
            base, mroot, centroids=cent0, sort_by="vec_id"
        )
        ivf_append_manifest(extra, mroot)
        split = ivf_split_oversized_manifest(
            spark, mroot, max_rows=max_rows, k=2
        )
        assert split == [hot]  # the hot cell did split
        compact_ivf_index_manifest(spark, mroot)
        idx_man = read_ivf_index_manifest(spark, mroot)
        cents_man = read_ivf_centroids(spark, mroot)

        # bit-equal state: quantizer = seed minus the hot parent plus two
        # subcells; rows = the reference assignment, hot rows re-celled
        # among exactly those subcells
        is_seed = F.col("centroid_id").isin(seed_ids)
        sub = cents_man.filter(~is_seed).localCheckpoint(eager=True)
        assert sub.count() == 2
        assert _cents(cents_man.filter(is_seed)) == _cents(
            cent0.filter(F.col("centroid_id") != hot)
        )
        hot_rows = ref.filter(F.col("centroid_id") == hot).drop("centroid_id")
        expected = (
            ref.filter(F.col("centroid_id") != hot)
            .unionByName(ivf_assign(hot_rows, sub))
            .withColumn("cell_id", F.col("centroid_id").cast("long"))
        )
        assert _rows(idx_man) == _rows(expected)

        # identical serving results: at-rest plan vs on-the-fly
        q = em.filter(F.col("vec_id") < 6)
        got = {
            (r.query_id, r.rank): (r.neighbor_id, round(r.cos, 9))
            for r in ann_ivf_index_topk(
                q, idx_man, cents_man, k=3, nprobe=2
            ).collect()
        }
        want = {
            (r.query_id, r.rank): (r.neighbor_id, round(r.cos, 9))
            for r in ann_ivf_topk(
                q, em, cents_man, k=3, nprobe=2, assigned=expected
            ).collect()
        }
        assert got == want


def test_publish_is_the_commit_point_crash_invisible_retry_exactly_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An append that crashes AFTER its data write but BEFORE publish is
    invisible to readers (no torn state, no sentinel, no refusal —
    there is nothing to recover); the retried
    append lands the batch exactly once."""
    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") % 2 == 0)
    extra = em.filter(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "ivf_crash")
    write_ivf_index_manifest(base, root, n_centroids=2)
    n_base = base.count()
    assert read_ivf_index_manifest(spark, root).count() == n_base

    def no_publish(*a, **k):
        raise RuntimeError("injected crash before publish")

    with monkeypatch.context() as mp:
        mp.setattr(ivf_store, "manifest_publish", no_publish)
        with pytest.raises(RuntimeError, match="injected crash"):
            ivf_append_manifest(extra, root)
    # the orphan generation is invisible: reads see exactly the old state
    assert read_ivf_index_manifest(spark, root).count() == n_base
    # retry commits the batch exactly once (at a fresh attempt-unique
    # generation; the crashed attempt's orphan dirs await vacuum)
    ivf_append_manifest(extra, root)
    idx = read_ivf_index_manifest(spark, root)
    assert idx.count() == n_base + extra.count()
    assert idx.select("vec_id").distinct().count() == em.count()


def test_interrupted_split_commits_per_cell_and_rerun_completes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A split pass killed between cells leaves every completed cell
    committed and the interrupted cell fully live pre-split — quantizer
    and cells stay a consistent pair (the manifest commits both
    together, so no caller-held centroid relation can drift).
    Re-running completes; vacuum then reclaims the
    orphan subcell dirs and superseded generations without touching the
    live state."""
    em = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivf_split_crash")
    write_ivf_index_manifest(em, root, n_centroids=2)
    n_total = em.count()
    sizes = {
        int(r.centroid_id): r["count"]
        for r in read_ivf_index_manifest(spark, root)
        .groupBy("centroid_id").count().collect()
    }
    max_rows = min(sizes.values()) - 1  # BOTH cells oversized
    assert max_rows > 2

    real_publish = ivf_store.manifest_publish
    calls = {"n": 0}

    def publish_once_then_crash(*a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash between cells")
        return real_publish(*a, **k)

    with monkeypatch.context() as mp:
        mp.setattr(ivf_store, "manifest_publish", publish_once_then_crash)
        with pytest.raises(RuntimeError, match="between cells"):
            ivf_split_oversized_manifest(spark, root, max_rows=max_rows, k=2)

    # mid-crash state is consistent and fully readable
    idx = read_ivf_index_manifest(spark, root)
    assert idx.count() == n_total
    cents = read_ivf_centroids(spark, root)
    assert {int(r.centroid_id) for r in cents.collect()} == {
        int(r[0]) for r in idx.select("centroid_id").distinct().collect()
    }
    # exactly one parent retired so far
    assert len(
        set(sizes) - {int(r[0]) for r in idx.select("centroid_id").distinct().collect()}
    ) == 1

    # re-run completes the pass idempotently
    split = ivf_split_oversized_manifest(spark, root, max_rows=max_rows, k=2)
    assert len(split) == 1
    idx = read_ivf_index_manifest(spark, root)
    assert idx.count() == n_total
    assert idx.select("vec_id").distinct().count() == n_total
    live_cells = {
        int(r[0]) for r in idx.select("centroid_id").distinct().collect()
    }
    assert set(sizes).isdisjoint(live_cells)  # both parents retired
    cents = read_ivf_centroids(spark, root)
    assert {int(r.centroid_id) for r in cents.collect()} == live_cells

    # vacuum reclaims orphans + superseded gens; live state unchanged
    before = _rows(idx)
    stats = ivf_vacuum(spark, root, keep_manifests=1)
    assert stats["data_dirs_deleted"] >= 1
    assert _rows(read_ivf_index_manifest(spark, root)) == before
    # superseded data really gone: every remaining (cell, gen) is live
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    live = manifest_read(spark, root)
    live_pairs = {
        (int(c), g) for c, gens in live["cells"].items() for g in gens
    }
    data = f"{root}/data"
    on_disk = {
        (int(c.split("=")[1]), int(g.split("=")[1]))
        for c in os.listdir(data)
        for g in os.listdir(f"{data}/{c}")
        if g.startswith("g=")
    }
    assert on_disk == live_pairs


def test_layout_guards_refuse_mixing(spark, sf_dir, tmp_path):
    em = load_table(spark, sf_dir, "embeddings")
    cent = ivf_seed_centroids(em, 2)

    # a plain centroid_id-partitioned dump at the root: a manifest index
    # there would leave those rows silently invisible
    droot = str(tmp_path / "dir")
    ivf_assign(em, cent).write.partitionBy("centroid_id").parquet(droot)
    with pytest.raises(ValueError, match="directory-layout"):
        write_ivf_index_manifest(em, droot, centroids=cent)


def test_torn_newest_manifest_reads_as_uncommitted(spark, sf_dir, tmp_path):
    """A truncated newest manifest (a torn LOCAL publish; impossible on
    object stores where PUT is atomic) must read as 'not yet committed':
    the previous manifest stays live and reads keep working."""
    em = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "torn")
    write_ivf_index_manifest(em, root, n_centroids=2)
    n = read_ivf_index_manifest(spark, root).count()
    with open(f"{root}/_manifest/v00000002.json", "w") as fh:
        fh.write('{"format": "generation-manifest/1", "seq')  # torn
    assert read_ivf_index_manifest(spark, root).count() == n
    # and the next real operation publishes OVER the torn file's seq
    em2 = em.withColumn("vec_id", F.col("vec_id") + 10_000)
    ivf_append_manifest(em2, root)
    assert read_ivf_index_manifest(spark, root).count() == 2 * n


def test_batch_ledger_makes_streaming_append_exactly_once(
    spark, sf_dir, tmp_path
):
    """The manifest's batch ledger closes the re-delivery-AFTER-publish
    window (checkpoint commit lost once the manifest already landed) —
    the window plain appends duplicate into in both layouts.  The ledger
    survives compaction AND a full rebuild, so stale re-deliveries stay
    no-ops forever."""
    em = load_table(spark, sf_dir, "embeddings")
    b0 = em.filter(F.col("vec_id") % 2 == 0)
    b1 = em.filter(F.col("vec_id") % 2 == 1)
    root = str(tmp_path / "ivf_ledger")
    write_ivf_index_manifest(b0, root, n_centroids=2)
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        make_ivf_ingest_sink,
    )

    sink = make_ivf_ingest_sink(root)
    sink(b1, 1)
    n = em.count()
    assert read_ivf_index_manifest(spark, root).count() == n
    # re-delivery after publish: detected in the ledger, skipped
    sink(b1, 1)
    assert read_ivf_index_manifest(spark, root).count() == n
    assert ivf_append_manifest(b1, root, batch_id=1) is None
    # the ledger survives compaction
    compact_ivf_index_manifest(spark, root)
    assert ivf_append_manifest(b1, root, batch_id=1) is None
    assert read_ivf_index_manifest(spark, root).count() == n
    # ...and a full rebuild
    write_ivf_index_manifest(em, root, n_centroids=2)
    assert ivf_append_manifest(b1, root, batch_id=1) is None
    assert read_ivf_index_manifest(spark, root).count() == n
    # a NEW batch still lands
    b2 = em.withColumn("vec_id", F.col("vec_id") + 50_000)
    assert ivf_append_manifest(b2, root, batch_id=2) is not None
    assert read_ivf_index_manifest(spark, root).count() == 2 * n


def test_manifest_read_keeps_partition_pruning(spark, sf_dir, tmp_path):
    """The scale property that makes the IVF index work — probed cells
    pruned from the FILE LISTING — must survive the manifest read's
    multi-root construction: the probe filter reaches PartitionFilters
    and the executed scan reads strictly fewer files than the index
    holds, exactly as on a plain partitioned dir."""
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import (
        plan_string,
    )

    em = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivf_prune")
    write_ivf_index_manifest(em, root, n_centroids=4)
    # two appends so cells span several generations (several roots each)
    for b in (1, 2):
        ivf_append_manifest(
            em.withColumn("vec_id", F.col("vec_id") + 10_000 * b),
            root, batch_id=b,
        )
    index = read_ivf_index_manifest(spark, root)
    probed = sorted(
        int(r[0]) for r in index.select("centroid_id").distinct().collect()
    )[:2]
    pruned = index.filter(F.col("centroid_id").isin(probed))
    plan = plan_string(pruned)
    assert any(
        "PartitionFilters" in l and "centroid_id" in l
        for l in plan.splitlines()
    ), f"no centroid_id PartitionFilters through the manifest read:\n{plan}"
    read_files = {
        r[0] for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    assert read_files and len(read_files) < len(index.inputFiles())
    # every file actually read belongs to a probed cell's directory
    assert all(
        any(f"centroid_id={c}/" in f for c in probed) for f in read_files
    )


from hypothesis import HealthCheck, given, settings as hyp_settings
from hypothesis import strategies as st

_ivf_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.integers(min_value=1, max_value=4),    # batch id
            st.integers(min_value=2, max_value=6),    # rows
        ),
        st.tuples(
            st.just("crash_append"),
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=2, max_value=6),
        ),
        st.tuples(st.just("split"), st.just(0), st.just(0)),
        st.tuples(st.just("compact"), st.just(0), st.just(0)),
        st.tuples(st.just("vacuum"), st.just(0), st.just(0)),
        # r12: a second writer commits between this writer's head read
        # and its conditional PUT (rival batch ids 5..8, disjoint)
        st.tuples(
            st.just("race_append"),
            st.integers(min_value=1, max_value=4),
            st.integers(min_value=2, max_value=6),
        ),
        # r13: id-bloom enable, driver-math point fetch, CoW erasure
        st.tuples(st.just("enable_blooms"), st.just(0), st.just(0)),
        st.tuples(
            st.just("fetch"),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=6),
        ),
        st.tuples(
            st.just("delete"),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=6),
        ),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_ivf_ops)
@hyp_settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_ivf_store_model_under_random_ops_and_crashes(
    spark, tmp_path_factory, ops
):
    """Model-based property for the manifest IVF store: against ANY
    interleaving of ledgered appends, publish-suppressed crashes,
    hot-cell splits, compactions, and vacuums, the visible vector set
    equals the model's committed batches exactly, and the live quantizer
    ids always equal the live data cell ids (the consistent-pair
    invariant the manifest commit makes structural)."""
    from datawarehouse_etl_using_hyperjoin_spark.operators import ivf_store as s

    root = str(tmp_path_factory.mktemp("ivf_model"))

    def vec_rows(bid, n):
        return {bid * 100 + i for i in range(n)}

    def df_of(rows):
        return spark.createDataFrame(
            [
                (int(r), [float(r % 7) + 1.0, float(r % 3) - 1.5, 1.0])
                for r in sorted(rows)
            ],
            "vec_id long, embedding array<double>",
        )

    base = vec_rows(0, 8)
    s.write_ivf_index_manifest(df_of(base), root, n_centroids=2)
    committed = {0: base}
    real_publish = s.manifest_publish
    for op, a, b in ops:
        if op == "append":
            rows = vec_rows(a, b)
            res = s.ivf_append_manifest(df_of(rows), root, batch_id=a)
            if a in committed:
                assert res is None
            else:
                committed[a] = rows
        elif op == "crash_append":
            if a in committed:
                continue
            s.manifest_publish = lambda *x, **k: (_ for _ in ()).throw(
                RuntimeError("crash")
            )
            try:
                with pytest.raises(RuntimeError):
                    s.ivf_append_manifest(df_of(vec_rows(a, b)), root, batch_id=a)
            finally:
                s.manifest_publish = real_publish
        elif op == "race_append":
            rows = vec_rows(a, b)
            rival_id, rival_rows = a + 4, vec_rows(a + 4, b)
            fired = {"done": False}

            def racy(s_, r_, payload, *, seq, _f=fired, _rr=rival_rows,
                     _ri=rival_id):
                if not _f["done"]:
                    _f["done"] = True
                    s.ivf_append_manifest(df_of(_rr), root, batch_id=_ri)
                return real_publish(s_, r_, payload, seq=seq)

            s.manifest_publish = racy
            try:
                res = s.ivf_append_manifest(df_of(rows), root, batch_id=a)
            finally:
                s.manifest_publish = real_publish
            if fired["done"] and rival_id not in committed:
                committed[rival_id] = rival_rows
            if a in committed:
                assert res is None
            else:
                assert res is not None
                committed[a] = rows
        elif op == "split":
            sizes = [
                r["count"]
                for r in s.read_ivf_index_manifest(spark, root)
                .groupBy("centroid_id").count().collect()
            ]
            if max(sizes) > 3:
                s.ivf_split_oversized_manifest(spark, root, max_rows=3, k=2)
        elif op == "compact":
            s.compact_ivf_index_manifest(spark, root)
        elif op == "vacuum":
            s.ivf_vacuum(spark, root)
        elif op == "enable_blooms":
            s.ivf_enable_id_blooms(spark, root, bloom_bits=1 << 13)
        elif op == "fetch":
            vid = a * 100 + b
            n = s.ivf_fetch_by_id(spark, root, [vid]).count()
            want = int(any(vid in rows for rows in committed.values()))
            assert n == want, (vid, n, want)
        elif op == "delete":
            vid = a * 100 + b
            remaining = set().union(*committed.values())
            if remaining == {vid}:
                continue  # erasing the last vector is refused by design
            st_ = s.ivf_delete_by_id(spark, root, [vid])
            want = int(vid in remaining)
            assert st_["rows_deleted"] == want
            for bid in list(committed):
                committed[bid] = {r for r in committed[bid] if r != vid}
        # invariants after EVERY op
        idx = s.read_ivf_index_manifest(spark, root)
        got = {r.vec_id for r in idx.select("vec_id").collect()}
        assert got == set().union(*committed.values())
        live_cells = {
            int(r[0]) for r in idx.select("centroid_id").distinct().collect()
        }
        cent_ids = {
            int(r.centroid_id)
            for r in s.read_ivf_centroids(spark, root).collect()
        }
        assert live_cells <= cent_ids  # every data cell has its centroid


def test_snapshot_reads_pair_quantizer_with_cells(spark, sf_dir, tmp_path):
    """Time travel on the index: as_of a pre-split commit returns the
    parent cell WITH the quantizer it was assigned under (one manifest
    names both, so the pair cannot be mismatched at any snapshot);
    vacuum's retention is snapshot-aware and the window error is loud."""
    em = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "ivf_tt")
    write_ivf_index_manifest(
        em.filter(F.col("vec_id") % 2 == 0), root, n_centroids=2
    )  # seq 1
    ivf_append_manifest(
        em.filter(F.col("vec_id") % 2 == 1), root, batch_id=1
    )  # seq 2
    sizes = {
        int(r[0]): r[1]
        for r in read_ivf_index_manifest(spark, root)
        .groupBy("centroid_id").count().collect()
    }
    hot = max(sizes, key=sizes.get)
    ivf_split_oversized_manifest(
        spark, root, max_rows=sizes[hot] - 1, k=2
    )  # seq 3

    n = em.count()
    for s in (2, 3):
        snap = read_ivf_index_manifest(spark, root, as_of=s)
        cents = read_ivf_centroids(spark, root, as_of=s)
        assert snap.count() == n
        cells = {
            int(r[0]) for r in snap.select("centroid_id").distinct().collect()
        }
        cent_ids = {int(r.centroid_id) for r in cents.collect()}
        assert cells <= cent_ids  # the pair is consistent at EVERY snapshot
        assert (hot in cells) == (s == 2)  # parent live before, gone after
    assert read_ivf_index_manifest(spark, root, as_of=1).count() == em.filter(
        F.col("vec_id") % 2 == 0
    ).count()

    # snapshot-aware vacuum keeps the retained window readable
    ivf_vacuum(spark, root, keep_manifests=2)
    assert read_ivf_index_manifest(spark, root, as_of=2).count() == n
    assert read_ivf_centroids(spark, root, as_of=2).count() == 2
    with pytest.raises(ValueError, match="no retained manifest"):
        read_ivf_index_manifest(spark, root, as_of=1)


def test_ivf_append_rebases_after_losing_the_conditional_put(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r12 multi-writer safety: two ingest writers race — writer B's
    batch commits between writer A's head read and A's conditional PUT;
    A's publish loses, rebases against the new head (re-assigning under
    the then-live quantizer) and lands.  Both batches are in the ledger,
    every vector is served exactly once.  A maintenance pass racing a
    writer ABORTS loudly instead of dropping either commit."""
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        ManifestConflictError,
    )

    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") < 300)
    b1 = em.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b2 = em.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500))
    root = str(tmp_path / "ivf_race")
    write_ivf_index_manifest(base, root, n_centroids=2)

    real_pub = ivf_store.manifest_publish
    fired = {"done": False}

    def racy(spark_, root_, payload, *, seq):
        if not fired["done"]:
            fired["done"] = True
            assert ivf_append_manifest(b2, root, batch_id=2) is not None
        return real_pub(spark_, root_, payload, seq=seq)

    with monkeypatch.context() as mp:
        mp.setattr(ivf_store, "manifest_publish", racy)
        assert ivf_append_manifest(b1, root, batch_id=1) is not None
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    live = manifest_read(spark, root)
    assert {"1", "2"} <= set(live["batches"])
    t = read_ivf_index_manifest(spark, root)
    assert t.count() == 500
    assert t.select("vec_id").distinct().count() == 500

    # maintenance racing a writer: the compaction's publish loses and
    # ABORTS with the conflict error — the writer's commit is untouched
    fired2 = {"done": False}

    def racy2(spark_, root_, payload, *, seq):
        if not fired2["done"]:
            fired2["done"] = True
            b3 = em.limit(50).withColumn(
                "vec_id", F.col("vec_id") + 10_000
            )
            ivf_append_manifest(b3, root, batch_id=3)
        return real_pub(spark_, root_, payload, seq=seq)

    with monkeypatch.context() as mp:
        mp.setattr(ivf_store, "manifest_publish", racy2)
        with pytest.raises(ManifestConflictError):
            compact_ivf_index_manifest(spark, root)
    t = read_ivf_index_manifest(spark, root)
    assert t.count() == 550
    assert t.select("vec_id").distinct().count() == 550
    # the aborted pass re-runs cleanly against the new head
    compact_ivf_index_manifest(spark, root)
    assert read_ivf_index_manifest(spark, root).count() == 550
    # vacuum reclaims the losers' orphan generations; serving unchanged
    ivf_vacuum(spark, root, keep_manifests=1)
    assert read_ivf_index_manifest(spark, root).count() == 550


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_ivf_size_tiered_compaction_freezes_large_generations(
    spark, sf_dir, tmp_path
):
    """r12: generations at/above min_merge_mb are frozen — an already-
    compacted big generation is not re-rewritten by every cadence pass
    (the quadratic-rewrite shape the 20x fact probe measured).  Frozen
    generations keep serving (each is (cell,id)-sorted from its own
    write), small ones merge, rows exact throughout."""
    import os as _os

    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    em = load_table(spark, sf_dir, "embeddings").limit(400)
    root = str(tmp_path / "ivf_tier")
    write_ivf_index_manifest(em, root, n_centroids=2)
    (build_gen,) = {  # the big generation: the initial build's
        g
        for gs in manifest_read(spark, root)["cells"].values()
        for g in gs
    }
    for i in range(3):  # small gens: the appends
        b = em.limit(40).withColumn(
            "vec_id", F.col("vec_id") + (i + 1) * 10_000
        )
        assert ivf_append_manifest(b, root, batch_id=i + 1) is not None

    def gen_bytes():
        sizes: dict[int, int] = {}
        data = f"{root}/data"
        for cdir in _os.listdir(data):
            for gdir in _os.listdir(f"{data}/{cdir}"):
                g = int(gdir.split("=", 1)[1])
                for f in _os.listdir(f"{data}/{cdir}/{gdir}"):
                    p = f"{data}/{cdir}/{gdir}/{f}"
                    if _os.path.isfile(p):
                        sizes[g] = sizes.get(g, 0) + _os.path.getsize(p)
        return sizes

    sizes = gen_bytes()
    small_max = max(v for g, v in sizes.items() if g != build_gen)
    assert sizes[build_gen] > small_max  # premise: the build is biggest
    thr_mb = (sizes[build_gen] + small_max) / 2 / (1 << 20)

    stats = compact_ivf_index_manifest(spark, root, min_merge_mb=thr_mb)
    live = manifest_read(spark, root)
    live_gens = sorted({g for gs in live["cells"].values() for g in gs})
    assert build_gen in live_gens         # frozen, not re-merged
    assert stats["gens_before"] == 4 and stats["gens_after"] == 2
    t = read_ivf_index_manifest(spark, root)
    assert t.count() == 520
    assert t.select("vec_id").distinct().count() == 520

    # second round: more small appends, gen 1 STILL frozen afterwards
    for i in range(3, 5):
        b = em.limit(40).withColumn(
            "vec_id", F.col("vec_id") + (i + 1) * 10_000
        )
        ivf_append_manifest(b, root, batch_id=i + 1)
    compact_ivf_index_manifest(spark, root, min_merge_mb=thr_mb)
    live = manifest_read(spark, root)
    live_gens = sorted({g for gs in live["cells"].values() for g in gs})
    assert build_gen in live_gens
    t = read_ivf_index_manifest(spark, root)
    assert t.count() == 600
    # serving across frozen + merged generations stays exact: each query
    # vector is in the index, so its top-1 cosine is 1.0
    q = em.limit(3).select("vec_id", "embedding")
    hits = ann_ivf_index_topk(
        q, read_ivf_index_manifest(spark, root),
        read_ivf_centroids(spark, root), k=1, nprobe=2,
    ).collect()
    assert len(hits) == 3
    assert all(r.cos >= 0.9999 for r in hits)
    # vacuum reclaims the superseded small gens; nothing visible changes
    ivf_vacuum(spark, root, keep_manifests=1)
    assert read_ivf_index_manifest(spark, root).count() == 600


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_ivf_loser_data_write_after_winner_commit_cannot_clobber(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Same loser-writes-last interleaving for the IVF store: the rival
    batch commits fully before the losing append's data write.  The
    attempt-unique generation keeps the winner's committed cells
    untouched; the rebase lands the loser's batch; every vector serves
    exactly once."""
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    em = load_table(spark, sf_dir, "embeddings")
    base = em.filter(F.col("vec_id") < 300)
    b1 = em.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b2 = em.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 500))
    root = str(tmp_path / "ivf_clobber")
    write_ivf_index_manifest(base, root, n_centroids=2)

    real_fg = ivf_store.fresh_gen
    fired = {"done": False}

    def late_fg(seq):
        if not fired["done"]:
            fired["done"] = True
            assert ivf_append_manifest(b2, root, batch_id=2) is not None
        return real_fg(seq)

    with monkeypatch.context() as mp:
        mp.setattr(ivf_store, "fresh_gen", late_fg)
        assert ivf_append_manifest(b1, root, batch_id=1) is not None
    live = manifest_read(spark, root)
    assert {"1", "2"} <= set(live["batches"])
    t = read_ivf_index_manifest(spark, root)
    assert t.count() == 500
    assert t.select("vec_id").distinct().count() == 500
    # the winner's (batch 2) vectors are intact
    assert t.where(
        (F.col("vec_id") >= 400) & (F.col("vec_id") < 500)
    ).count() == 100
    ivf_vacuum(spark, root, keep_manifests=1)
    assert read_ivf_index_manifest(spark, root).count() == 500
