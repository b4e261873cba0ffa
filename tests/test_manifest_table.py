"""Generic manifest-backed batch table — rename-free streaming at rest.

The object-store-safe sibling of the partition-overwrite corpus/fact
sinks and ``compact_table``: exactly-once via a batch LEDGER in the
manifest (stronger than rewrite-idempotency — replays are detected and
skipped), aging bounded by generation compaction, reclamation by
vacuum.  The whole lifecycle runs with os.rename/os.replace/shutil.move
monkeypatched to raise.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.sources import manifest_table as mt
from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
    compact_manifest_table,
    manifest_table_append,
    read_manifest_table,
    vacuum_manifest_table,
)


def _batch(spark, b, n=10):
    return spark.range(b * n, b * n + n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )


def _ban_renames(mp):
    def boom(*a, **k):  # pragma: no cover - the assertion IS the test
        raise AssertionError("rename/move inside the manifest-table path")

    mp.setattr(os, "rename", boom)
    mp.setattr(os, "replace", boom)
    mp.setattr(shutil, "move", boom)


def test_lifecycle_exactly_once_compaction_vacuum_without_renames(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "mtab")
    with monkeypatch.context() as mp:
        _ban_renames(mp)
        for b in range(6):
            assert manifest_table_append(_batch(spark, b), root, b) is not None
        t = read_manifest_table(spark, root)
        assert t.count() == 60
        assert t.select("doc_id").distinct().count() == 60

        # exactly-once: a replayed committed batch is a detected no-op
        assert manifest_table_append(_batch(spark, 3), root, 3) is None
        assert read_manifest_table(spark, root).count() == 60

        # compaction merges history, keeps the newest verbatim
        stats = compact_manifest_table(spark, root, keep_last=2)
        assert stats["rows"] == 40  # the 4 merged batches' rows
        assert stats["gens_before"] == 6 and stats["gens_after"] == 3
        assert read_manifest_table(spark, root).count() == 60

        # the ledger survives compaction: replays still skipped
        assert manifest_table_append(_batch(spark, 0), root, 0) is None
        # ...and fresh batches still land
        assert manifest_table_append(_batch(spark, 6), root, 6) is not None
        assert read_manifest_table(spark, root).count() == 70

        # vacuum reclaims superseded generations, live rows unchanged
        v = vacuum_manifest_table(spark, root, keep_manifests=1)
        assert v["data_dirs_deleted"] >= 4
        t = read_manifest_table(spark, root)
        assert t.count() == 70
        assert t.select("doc_id").distinct().count() == 70


def test_crash_before_publish_is_invisible_and_retry_lands_once(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "mtab_crash")
    manifest_table_append(_batch(spark, 0), root, 0)

    def no_publish(*a, **k):
        raise RuntimeError("injected crash before publish")

    with monkeypatch.context() as mp:
        mp.setattr(mt, "manifest_publish", no_publish)
        with pytest.raises(RuntimeError, match="injected crash"):
            manifest_table_append(_batch(spark, 1), root, 1)
    # the orphan generation is invisible
    assert read_manifest_table(spark, root).count() == 10
    # retry lands the batch exactly once (fresh attempt-unique gen;
    # the crashed attempt's orphan awaits vacuum)
    assert manifest_table_append(_batch(spark, 1), root, 1) is not None
    t = read_manifest_table(spark, root)
    assert t.count() == 20
    assert t.select("doc_id").distinct().count() == 20
    # the orphan-then-committed dir is not duplicated by vacuum either
    vacuum_manifest_table(spark, root)
    assert read_manifest_table(spark, root).count() == 20


def test_reserved_generation_column_is_refused_loudly(spark, tmp_path):
    df = spark.range(3).select(F.col("id"), F.lit(1).alias("g"))
    with pytest.raises(ValueError, match="reserves column name 'g'"):
        manifest_table_append(df, str(tmp_path / "r"), 0)


def test_stale_publish_and_wrong_table_kind_are_refused(spark, tmp_path):
    """Two loud-failure contracts of the shared protocol: (a) a writer
    whose target seq fell behind the newest on-disk manifest (a
    single-writer violation — its publish would be invisible to readers
    while it believes it committed) is REFUSED; (b) pointing one store
    kind at the other's root fails with the actual mismatch, on reads
    AND on the append entry point, instead of corrupting the commit
    log."""
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        manifest_publish,
    )

    root = str(tmp_path / "guards")
    for b in range(3):
        manifest_table_append(_batch(spark, b), root, b)
    with pytest.raises(RuntimeError, match="stale publish"):
        manifest_publish(spark, root, {"table": "batch-table"}, seq=1)

    # a root committed through the same protocol by another table kind
    other_root = str(tmp_path / "other_kind")
    manifest_publish(spark, other_root, {"table": "other-kind"}, seq=0)
    with pytest.raises(ValueError, match="not a batch-table"):
        read_manifest_table(spark, other_root)
    with pytest.raises(ValueError, match="not a batch-table"):
        manifest_table_append(_batch(spark, 0), other_root, 0)


from hypothesis import HealthCheck, given, settings as hyp_settings
from hypothesis import strategies as st

_ops = st.lists(
    st.one_of(
        st.tuples(
            st.just("append"),
            st.integers(min_value=0, max_value=4),   # batch id
            st.integers(min_value=1, max_value=5),   # rows in the batch
        ),
        st.tuples(
            st.just("crash_append"),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=1, max_value=5),
        ),
        st.tuples(st.just("compact"), st.integers(1, 3), st.just(0)),
        st.tuples(st.just("vacuum"), st.just(0), st.just(0)),
        # r12: a SECOND WRITER commits between this writer's head read
        # and its conditional PUT (batch ids 5..9, disjoint from the
        # first writer's 0..4)
        st.tuples(
            st.just("race_append"),
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=1, max_value=5),
        ),
    ),
    min_size=1,
    max_size=7,
)


@given(ops=_ops)
@hyp_settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_manifest_table_model_under_random_ops_and_crashes(
    spark, tmp_path_factory, ops
):
    """Model-based property: against ANY interleaving of appends,
    crashed appends (publish suppressed), compactions, and vacuums, the
    table's visible rows equal the model's committed batches exactly —
    crashes commit nothing, re-appends of committed ids commit nothing
    new, maintenance changes nothing visible."""
    import datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table as m

    root = str(tmp_path_factory.mktemp("mt_model"))
    committed: dict[int, set[int]] = {}  # batch_id -> row ids

    def batch_rows(bid, n):
        # row ids deterministic per (batch, size) so replays are replays
        return {bid * 100 + i for i in range(n)}

    def df_of(rows):
        return spark.createDataFrame([(r,) for r in sorted(rows)], "doc_id long")

    real_publish = m.manifest_publish
    for op, a, b in ops:
        if op == "append":
            rows = batch_rows(a, b)
            res = m.manifest_table_append(df_of(rows), root, a)
            if a in committed:
                assert res is None  # ledger-detected replay
            else:
                committed[a] = rows
        elif op == "crash_append":
            if a in committed:
                continue  # a replayed committed batch cannot crash-write
            m.manifest_publish = lambda *x, **k: (_ for _ in ()).throw(
                RuntimeError("crash")
            )
            try:
                import pytest as _pt

                with _pt.raises(RuntimeError):
                    m.manifest_table_append(df_of(batch_rows(a, b)), root, a)
            finally:
                m.manifest_publish = real_publish
        elif op == "race_append":
            # a rival writer lands batch a+5 between this writer's head
            # read and its publish: the conditional PUT loses, the
            # rebase loop re-resolves, BOTH batches must land (or the
            # replay stay a no-op) — never a dropped generation
            rows = batch_rows(a, b)
            rival_id, rival_rows = a + 5, batch_rows(a + 5, b)
            fired = {"done": False}

            def racy(s_, r_, payload, *, seq, _f=fired, _rr=rival_rows,
                     _ri=rival_id):
                if not _f["done"]:
                    _f["done"] = True
                    m.manifest_table_append(df_of(_rr), root, _ri)
                return real_publish(s_, r_, payload, seq=seq)

            m.manifest_publish = racy
            try:
                res = m.manifest_table_append(df_of(rows), root, a)
            finally:
                m.manifest_publish = real_publish
            if fired["done"] and rival_id not in committed:
                committed[rival_id] = rival_rows
            if a in committed:
                assert res is None
            else:
                assert res is not None
                committed[a] = rows
        elif op == "compact" and committed:
            m.compact_manifest_table(spark, root, keep_last=a)
        elif op == "vacuum" and committed:
            m.vacuum_manifest_table(spark, root)
        # invariant: visible rows == the model, after EVERY op
        if committed:
            got = {
                r.doc_id for r in m.read_manifest_table(spark, root).collect()
            }
            assert got == set().union(*committed.values())


def test_snapshot_reads_and_history(spark, tmp_path):
    """Time travel: every retained manifest is a complete snapshot —
    read_manifest_table(as_of=seq) returns exactly the rows committed by
    then, through compaction; vacuum's retention is snapshot-aware (a
    retained snapshot stays FULLY readable; beyond the window the read
    fails with the clear retention error, never a partial result)."""
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        manifest_history,
    )

    root = str(tmp_path / "tt")
    seqs = [manifest_table_append(_batch(spark, b), root, b) for b in range(4)]
    assert seqs == [1, 2, 3, 4]
    for i, s in enumerate(seqs):
        assert read_manifest_table(spark, root, as_of=s).count() == (i + 1) * 10
    compact_manifest_table(spark, root, keep_last=1)  # publishes seq 5
    # pre-compaction snapshots still read exactly (gens retained)
    assert read_manifest_table(spark, root, as_of=2).count() == 20
    assert read_manifest_table(spark, root, as_of=4).count() == 40
    assert read_manifest_table(spark, root).count() == 40
    # history audit: ledgers grow monotonically across commits
    hist = manifest_history(spark, root)
    assert [m["seq"] for m in hist] == [1, 2, 3, 4, 5]
    assert [len(m["batches"]) for m in hist] == [1, 2, 3, 4, 4]

    # snapshot-aware vacuum: the retained window stays fully readable
    vacuum_manifest_table(spark, root, keep_manifests=2)
    assert read_manifest_table(spark, root, as_of=4).count() == 40
    assert read_manifest_table(spark, root).count() == 40
    with pytest.raises(ValueError, match="no retained manifest"):
        read_manifest_table(spark, root, as_of=2)


def test_vacuum_retention_counts_valid_manifests_only(spark, tmp_path):
    """ADVICE r11 (medium): a torn newest manifest file (a crashed local
    publish — the module's own crash model) must NOT occupy a retention
    slot.  Before the fix, keep_last=1 kept only the torn file, so the
    newest VALID (live) manifest was deleted and the data vacuum —
    deriving its keep-set from the now-empty history — reclaimed every
    generation dir: total table loss from a crash-then-vacuum sequence
    the protocol declares safe.  Now retention counts validated
    manifests only and torn files are deleted as orphans."""
    root = str(tmp_path / "torn")
    for b in range(2):
        manifest_table_append(_batch(spark, b), root, b)
    # a crashed publish's torn remnant, newest by seq
    with open(f"{root}/_manifest/v00000003.json", "w") as fh:
        fh.write('{"format": "generation-manifest/1", "seq"')
    # the aging pass at its tightest retention: compact, then vacuum
    # keeping one manifest
    compact_manifest_table(spark, root, keep_last=1)
    stats = vacuum_manifest_table(spark, root, keep_manifests=1)
    t = read_manifest_table(spark, root)
    assert t.count() == 20
    assert t.select("doc_id").distinct().count() == 20
    # the torn orphan is gone, the live manifest retained
    assert not os.path.exists(f"{root}/_manifest/v00000003.json")
    assert os.path.exists(f"{root}/_manifest/v00000002.json")
    assert stats["data_dirs_deleted"] >= 0


def test_compact_keep_last_beyond_generation_count_is_a_noop(
    spark, tmp_path
):
    """ADVICE r11 (low): keep_last larger than the generation count must
    keep EVERYTHING byte-verbatim — the old negative-slice wrap compacted
    the OLDEST generations instead (6 gens, keep_last=8 merged the first
    4), violating the newest-stay-verbatim audit contract."""
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    root = str(tmp_path / "klw")
    for b in range(6):
        manifest_table_append(_batch(spark, b), root, b)
    stats = compact_manifest_table(spark, root, keep_last=8)
    assert stats["gens_before"] == 6 and stats["gens_after"] == 6
    # no new manifest was published (nothing to merge)
    assert manifest_read(spark, root)["seq"] == 6
    assert read_manifest_table(spark, root).count() == 60


def test_additive_schema_evolution(spark, tmp_path, monkeypatch):
    """r12 (VERDICT Next #5): a later batch may ADD a nullable column —
    old generations read as null under the merged recorded schema; a
    batch may also OMIT a column.  as_of reads return each snapshot's
    OWN schema.  Type changes are refused loudly.  All rename-free."""
    root = str(tmp_path / "evo")
    with monkeypatch.context() as mp:
        _ban_renames(mp)
        s1 = manifest_table_append(_batch(spark, 0), root, 0)
        # batch 1 adds a column
        s2 = manifest_table_append(
            _batch(spark, 1).withColumn("lang", F.lit("en")), root, 1
        )
        # batch 2 omits text entirely
        s3 = manifest_table_append(
            _batch(spark, 2).drop("text").withColumn("lang", F.lit("fr")),
            root, 2,
        )
        t = read_manifest_table(spark, root)
        assert t.columns == ["doc_id", "text", "lang"]
        assert t.count() == 30
        assert t.where(F.col("lang").isNull()).count() == 10      # gen 1
        assert t.where(F.col("text").isNull()).count() == 10      # gen 3
        assert t.where(
            (F.col("lang") == "en") & F.col("text").isNotNull()
        ).count() == 10
        # snapshots carry their own schema
        assert read_manifest_table(spark, root, as_of=s1).columns == [
            "doc_id", "text",
        ]
        assert read_manifest_table(spark, root, as_of=s2).columns == [
            "doc_id", "text", "lang",
        ]
        # compaction preserves the merged schema and the null fills
        compact_manifest_table(spark, root, keep_last=1)
        t2 = read_manifest_table(spark, root)
        assert t2.columns == ["doc_id", "text", "lang"]
        assert t2.count() == 30
        assert t2.where(F.col("lang").isNull()).count() == 10
        # a type change is refused before anything is written
        with pytest.raises(ValueError, match="ADDITIVE evolution only"):
            manifest_table_append(
                _batch(spark, 3).withColumn(
                    "lang", F.lit(7)
                ), root, 3,
            )
        assert read_manifest_table(spark, root).count() == 30
        assert read_manifest_table(spark, root, as_of=s3).count() == 30


def test_recorded_schema_keeps_empty_generations_readable(spark, tmp_path):
    """ADVICE r11 (low, pipeline.py): all-empty generations can be
    footerless under committers that skip empty files — with the schema
    in the manifest, reads and compactions no longer depend on footer
    inference at all (simulated by stripping every parquet file)."""
    root = str(tmp_path / "nofooter")
    for b in range(2):
        manifest_table_append(
            _batch(spark, b).limit(0), root, b
        )
    # simulate a committer that wrote no files for the empty batches
    for g in os.listdir(f"{root}/data"):
        for f in os.listdir(f"{root}/data/{g}"):
            if "part-" in f:
                os.remove(f"{root}/data/{g}/{f}")
    t = read_manifest_table(spark, root)
    assert t.count() == 0
    assert t.columns == ["doc_id", "text"]
    stats = compact_manifest_table(spark, root, keep_last=0)
    assert stats["rows"] == 0
    assert read_manifest_table(spark, root).count() == 0


def test_conditional_put_publisher_conflict_is_loud(spark, tmp_path):
    """r12 multi-writer safety (VERDICT Next #2): two independent
    writers racing the same v{N+1} — the first PUT wins, the second
    raises ManifestConflictError; the winner's commit is untouched and
    nothing is silently dropped.  An idempotent retry of one's OWN
    committed publish (same seq, same content) stays a success."""
    from datawarehouse_etl_using_hyperjoin_spark.manifest import (
        ManifestConflictError,
        manifest_publish,
        manifest_read,
    )

    root = str(tmp_path / "race")
    manifest_table_append(_batch(spark, 0), root, 0)
    live = manifest_read(spark, root)
    target = live["seq"] + 1
    winner = {"table": "batch-table", "gens": [1, 2], "batches": {"0": 1, "1": 2}}
    loser = {"table": "batch-table", "gens": [1, 3], "batches": {"0": 1, "2": 3}}
    assert manifest_publish(spark, root, winner, seq=target) == target
    with pytest.raises(ManifestConflictError, match="another\\s+writer"):
        manifest_publish(spark, root, loser, seq=target)
    # the winner's commit is intact
    assert manifest_read(spark, root)["batches"] == winner["batches"]
    # crash retry: same seq, same content — success, not conflict
    assert manifest_publish(spark, root, winner, seq=target) == target
    # a writer still holding an older head: refused on the pre-check
    with pytest.raises(ManifestConflictError, match="stale publish"):
        manifest_publish(spark, root, loser, seq=target - 1)


def test_append_rebases_after_losing_the_conditional_put(
    spark, tmp_path, monkeypatch
):
    """The rebase side: writer A reads the head, writer B commits batch
    9 first (injected between A's read and A's publish), A's conditional
    PUT loses — and A automatically re-resolves, re-derives at a fresh
    seq, and lands its batch.  BOTH commits land; the ledger holds both
    batch ids; no generation is dropped."""
    root = str(tmp_path / "rebase")
    manifest_table_append(_batch(spark, 0), root, 0)

    real_pub = mt.manifest_publish
    fired = {"done": False}

    def racy(spark_, root_, payload, *, seq):
        if not fired["done"]:
            fired["done"] = True
            assert mt.manifest_table_append(_batch(spark, 9), root, 9) is not None
        return real_pub(spark_, root_, payload, seq=seq)

    with monkeypatch.context() as mp:
        mp.setattr(mt, "manifest_publish", racy)
        assert manifest_table_append(_batch(spark, 1), root, 1) is not None
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    live = manifest_read(spark, root)
    assert set(live["batches"]) == {"0", "1", "9"}
    t = read_manifest_table(spark, root)
    assert t.count() == 30
    assert t.select("doc_id").distinct().count() == 30
    # the losing attempt's orphan generation (if any) is reclaimed and
    # the table is unchanged by vacuum
    vacuum_manifest_table(spark, root, keep_manifests=1)
    assert read_manifest_table(spark, root).count() == 30


def test_append_rebase_detects_rival_commit_of_same_batch(
    spark, tmp_path, monkeypatch
):
    """If the RIVAL writer committed the very batch this writer is
    appending (a replayed delivery racing the original), the rebase
    re-check finds it in the ledger and returns None — exactly-once
    holds across writers, not just within one.  (The rival lands a
    second batch too, so the heads genuinely diverge; a rival commit
    with byte-identical content is indistinguishable from this writer's
    own crash retry and legitimately succeeds via the idempotent
    path.)"""
    root = str(tmp_path / "rebase_same")
    manifest_table_append(_batch(spark, 0), root, 0)

    real_pub = mt.manifest_publish
    fired = {"done": False}

    def racy(spark_, root_, payload, *, seq):
        if not fired["done"]:
            fired["done"] = True
            mt.manifest_table_append(_batch(spark, 7), root, 7)
            mt.manifest_table_append(_batch(spark, 1), root, 1)
        return real_pub(spark_, root_, payload, seq=seq)

    with monkeypatch.context() as mp:
        mp.setattr(mt, "manifest_publish", racy)
        assert manifest_table_append(_batch(spark, 1), root, 1) is None
    t = read_manifest_table(spark, root)
    assert t.count() == 30
    assert t.select("doc_id").distinct().count() == 30


def test_snapshot_vacuum_race_discipline(spark, tmp_path):
    """r12 (VERDICT Next #3): the Iceberg-classic retention race.  (a) A
    vacuum invoked for a LIVE stream's table refuses keep_manifests < 2
    loudly.  (b) A pinned as_of read STRADDLING a
    vacuum: within the retention window it returns exact rows after the
    vacuum ran; a vacuum that expires the pinned snapshot makes the
    straddling read fail LOUDLY at scan — never a silent partial
    result."""
    root = str(tmp_path / "race_vac")
    seqs = [manifest_table_append(_batch(spark, b), root, b) for b in range(4)]

    # (a) the live-stream floor
    with pytest.raises(ValueError, match="snapshot-read/vacuum race"):
        vacuum_manifest_table(spark, root, keep_manifests=1, live_stream=True)

    # (b) pinned as_of read straddling a vacuum, inside the window:
    # retention kept the snapshot, the pre-vacuum handle still reads
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    live_seq = manifest_read(spark, root)["seq"]
    pinned = read_manifest_table(spark, root, as_of=live_seq)
    compact_manifest_table(spark, root, keep_last=0)
    vacuum_manifest_table(spark, root, keep_manifests=2)
    assert pinned.count() == 40  # snapshot retained: exact rows

    # ...and outside the window: the straddling read fails loudly
    live_seq2 = manifest_read(spark, root)["seq"]
    pinned2 = read_manifest_table(spark, root, as_of=live_seq2)
    for b in range(4, 7):
        manifest_table_append(_batch(spark, b), root, b)
    compact_manifest_table(spark, root, keep_last=0)
    vacuum_manifest_table(spark, root, keep_manifests=1)
    with pytest.raises(Exception, match="(?i)file|path|exist"):
        pinned2.count()
    # a fresh resolve of the expired snapshot gets the clear error
    with pytest.raises(ValueError, match="no retained manifest"):
        read_manifest_table(spark, root, as_of=seqs[0])


def test_size_tiered_compaction_freezes_large_generations(
    spark, tmp_path, monkeypatch
):
    """r12: generations at/above min_merge_mb are FROZEN — never
    re-merged — so the total bytes a maintained stream rewrites is
    constant per row instead of growing with stream age (the quadratic
    re-merge the 20x probe measured).  Simulated by reporting a huge
    size for the first compaction's output generation."""
    root = str(tmp_path / "tier")
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    for b in range(6):
        manifest_table_append(_batch(spark, b), root, b)
    gens_before = set(manifest_read(spark, root)["gens"])
    # first pass merges the 4 oldest batch gens into one (keep_last=2)
    stats = compact_manifest_table(spark, root, keep_last=2)
    assert stats["gens_before"] == 6 and stats["gens_after"] == 3
    # the merged generation = the one the compaction added
    (big_gen,) = set(manifest_read(spark, root)["gens"]) - gens_before
    for b in range(6, 9):
        manifest_table_append(_batch(spark, b), root, b)

    real_bytes = mt._gen_bytes

    def fake_bytes(spark_, root_, g):
        if int(g) == big_gen:
            return 10 << 30  # pretend the merged gen is 10 GB
        return real_bytes(spark_, root_, g)

    with monkeypatch.context() as mp:
        mp.setattr(mt, "_gen_bytes", fake_bytes)
        stats2 = compact_manifest_table(spark, root, keep_last=2)
    # the frozen gen stays; only the small ones merged (gens 5,6 + 7,8
    # minus keep_last... -> merged small set excludes big_gen)
    live = manifest_read(spark, root)
    assert big_gen in set(live["gens"])  # frozen, not re-merged
    assert stats2["gens_after"] < stats2["gens_before"]
    t = read_manifest_table(spark, root)
    assert t.count() == 90
    assert t.select("doc_id").distinct().count() == 90
    # rows merged in pass 2 exclude the frozen generation's 40 rows
    assert stats2["rows"] == 30  # gens 5,6,7(batch ids 4,5,6) small ones


def test_loser_data_write_after_winner_commit_cannot_clobber(
    spark, tmp_path, monkeypatch
):
    """r12 review finding (the interleaving the rival-inside-publish
    tests structurally cannot produce): the RIVAL commits fully BEFORE
    the losing writer's data write.  With seq-derived generation paths
    both writers would target g=K+1 and the loser's mode('overwrite')
    data write would replace the winner's already-committed generation
    in place (rows lost while the ledger still points at the dir).
    With attempt-unique generations (manifest.fresh_gen) the loser's
    write lands at its own path, the conditional PUT conflicts, the
    rebase lands the batch — and the winner's rows are INTACT."""
    root = str(tmp_path / "clobber")
    manifest_table_append(_batch(spark, 0), root, 0)

    real_fg = mt.fresh_gen
    fired = {"done": False}

    def late_fg(seq):
        # called after the loser read the head but BEFORE its data
        # write: the rival commits fully first
        if not fired["done"]:
            fired["done"] = True
            assert mt.manifest_table_append(_batch(spark, 9), root, 9) is not None
        return real_fg(seq)

    with monkeypatch.context() as mp:
        mp.setattr(mt, "fresh_gen", late_fg)
        assert manifest_table_append(_batch(spark, 1), root, 1) is not None
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    live = manifest_read(spark, root)
    assert set(live["batches"]) == {"0", "1", "9"}
    t = read_manifest_table(spark, root)
    assert t.count() == 30
    # the winner's (batch 9) rows are byte-intact — the clobber check
    assert t.where(
        (F.col("doc_id") >= 90) & (F.col("doc_id") < 100)
    ).count() == 10
    assert t.select("doc_id").distinct().count() == 30
    vacuum_manifest_table(spark, root, keep_manifests=1)
    assert read_manifest_table(spark, root).count() == 30


def test_torn_manifest_with_stale_crc_reads_as_uncommitted(spark, tmp_path):
    """A crashed local JVM publish leaves the manifest file AND its
    LocalFileSystem .crc sidecar inconsistent; reading it back raises
    ChecksumException, not a Python OSError.  The reader must classify
    that as 'not yet committed' (fall back to the previous manifest),
    not crash — pinned by corrupting a JVM-written manifest in place."""
    import datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table as m

    root = str(tmp_path / "t")
    s1 = m.manifest_table_append(_batch(spark, 0), root, 0)
    s2 = m.manifest_table_append(_batch(spark, 1), root, 1)
    path = f"{root}/_manifest/v{s2:08d}.json"
    with open(path, "w") as fh:
        fh.write('{"trunc')  # bytes changed, .crc now stale
    live = m.manifest_read(spark, root)
    assert live["seq"] == s1
    assert m.read_manifest_table(spark, root).count() == 10
