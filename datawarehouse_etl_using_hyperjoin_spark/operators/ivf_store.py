"""The at-rest IVF index: a manifest-backed, rename-free store.

An IVF index persists a cell assignment (:func:`.similarity.ivf_assign`)
so that each cell is its own partition directory: a probe touching
``nprobe`` cells prunes every other cell at SCAN time (partition filters
on the file listing — no data read, no shuffle), and the full-corpus
assignment scan is paid once, at write time.  The serving plans
(``similarity.ann_ivf_index_topk[_quantized]``) read the relation
:func:`read_ivf_index_manifest` returns.  Every lifecycle operation
(build, append, split, compact, delete, vacuum) commits by publishing a
**generation manifest** (:mod:`..manifest`), never by renaming, so the
same code runs on local disk and on object stores:

Layout::

    {root}/_manifest/v{seq:08d}.json      # the commit log; newest = live
    {root}/data/centroid_id={c}/g={gen}/  # immutable data generations
    {root}/centroids/g={gen}/             # quantizer generations

The manifest maps each cell to the generation dirs that hold its live
rows (``{"cells": {"7": [g1, g2]}}``) and names the live quantizer
(``"centroids_gen"``).  Writers only ever create NEW generation dirs —
generation ids are ATTEMPT-UNIQUE (``manifest.fresh_gen``: seq-major
with a random component, so no two write attempts ever share a data
path — the property the multi-writer conditional PUT needs, since it
protects the manifest but not the data dirs) — then publish one
manifest naming the new state.  Readers resolve the manifest and read
exactly those paths, so:

* a crash BEFORE publish leaves orphan dirs no reader sees (reclaimed
  by :func:`ivf_vacuum`; the retry lands at a fresh generation);
* a crash AFTER publish is a completed operation;
* there is NO mid-flight window: no reader can ever observe a partial
  swap, so no sentinel or recovery step exists.

**The index owns its quantizer**: a split commits the updated centroids
IN THE SAME manifest that re-cells the data, so an interrupted
multi-cell split pass can simply be re-run — the live manifest is
always a consistent (quantizer, cells) pair, and there is no
caller-held copy to drift out of sync.

Scale shape: cells are scan units, probed cells are pruned from the
file listing, splits are linear in the oversized cells only, appends
linear in the batch.  Read cost on top of a plain parquet dir is
manifest resolution — one LIST + one GET of a KB-scale JSON per read,
amortized over the query — plus one listed dir per live (cell,
generation): an index aged by many small appends reads slower until
:func:`compact_ivf_index_manifest` merges its generations (SCALE.md
r11/r12).

IVF serving follows Jégou, Douze & Schmid 2011; the
manifest/generation commit protocol is the public Iceberg/Delta
snapshot idea re-expressed minimally.  Reference
parity: the reference engine has no vector index at all (its whole
pipeline is HyperJoin + MySQL DDL) — this family is part of the
LLM-pipeline surface built beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..manifest import (
    MAX_REBASES,
    _delete,
    _ls_names,
    fresh_gen,
    manifest_publish,
    manifest_read,
    manifest_vacuum,
)
from .similarity import ivf_assign, ivf_seed_centroids, kmeans_refine

_DATA = "data"
_CENTROIDS = "centroids"


def _data_root(root: str) -> str:
    return f"{root.rstrip('/')}/{_DATA}"


def _cent_dir(root: str, gen: int) -> str:
    return f"{root.rstrip('/')}/{_CENTROIDS}/g={int(gen)}"


def _live(spark: SparkSession, root: str, at: int | None = None) -> dict:
    m = manifest_read(spark, root, at=at)
    if m is None and at is not None:
        raise ValueError(
            f"no retained manifest at or before seq {at} at {root!r} — "
            "the snapshot window is bounded by manifest retention "
            "(ivf_vacuum keep_manifests)"
        )
    if m is None:
        raise ValueError(
            f"no IVF manifest at {root!r} — build the index with "
            "write_ivf_index_manifest first"
        )
    if m.get("table") != "ivf-index":
        # the commit protocol is shared; the TABLE KIND is not — reading
        # a batch-table manifest as an IVF index would KeyError deep in
        # cell resolution instead of saying what went wrong
        raise ValueError(
            f"manifest at {root!r} is a {m.get('table')!r} table, not an "
            "ivf-index — wrong store for this root"
        )
    return m


def _cells_of(m: dict) -> dict[int, list[int]]:
    return {int(c): [int(g) for g in gens] for c, gens in m["cells"].items()}


def _cell_dirs(root: str, cells: dict[int, list[int]]) -> list[str]:
    data = _data_root(root)
    return [
        f"{data}/centroid_id={c}/g={g}"
        for c in sorted(cells)
        for g in sorted(cells[c])
    ]


def _existing_dir_cell_ids(spark: SparkSession, root: str) -> set[int]:
    """Cell ids with ANY data dir present — live, superseded, or crash
    orphan.  Fresh-id allocation must clear ALL of them, or a new
    subcell could adopt an orphan dir's rows on publish."""
    out = set()
    for name in _ls_names(spark, _data_root(root)):
        if name.startswith("centroid_id="):
            try:
                out.add(int(name.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def _assign(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``ivf_assign``, carrying every other input column (e.g. the int8
    codes of ``quantize_embeddings``) into the index beside the vector —
    the payload quantized serving reads instead of the floats.  A stale
    ``centroid_id``/``cell_id`` on the input is replaced, never kept."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    extra = [
        c for c in vectors.columns
        if c not in (id_col, vec_col, "centroid_id", "cell_id")
    ]
    if not extra:
        return assigned
    return assigned.join(vectors.select(id_col, *extra), on=id_col)


def _prepare(assigned: DataFrame, gen: int, sort_by: str | None) -> DataFrame:
    """Pin cell_id LONG, tag the target generation, and restore the
    in-file (cell, id) sort order that cell_local row-group skipping
    relies on."""
    if "g" in assigned.columns:
        raise ValueError(
            "the manifest store reserves column name 'g' for its "
            "generation partition — rename the input column first "
            "(silently overwriting it would corrupt the layout)"
        )
    src = (
        F.col("cell_id") if "cell_id" in assigned.columns
        else F.col("centroid_id")
    )
    out = (
        assigned.withColumn("cell_id", src.cast("long"))
        # pin the PARTITION column long too: a float-typed assignment
        # (e.g. ids that ride into the quantizer as doubles) would name
        # dirs "centroid_id=0.0" while the manifest records int cells —
        # readers would then miss every dir
        .withColumn("centroid_id", F.col("centroid_id").cast("long"))
        .withColumn("g", F.lit(int(gen)))
    )
    if sort_by is not None:
        out = out.sortWithinPartitions("centroid_id", sort_by)
    return out


def _write_gen(df: DataFrame, root: str) -> None:
    """Land (cell, gen) dirs with DYNAMIC partition overwrite: only the
    partitions in ``df`` are replaced, so an idempotent retry of a
    crashed write replaces its own orphans and touches nothing else.
    Job-level file atomicity is the output committer's, as everywhere."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("centroid_id", "g")
        .parquet(_data_root(root))
    )


def _write_centroids(centroids: DataFrame, root: str, gen: int) -> None:
    """Quantizer generation: a small (C rows) relation at its own fresh
    path; static overwrite = delete-then-write, both object-store-safe,
    and idempotent on retry because the path is gen-specific."""
    centroids.select(
        F.col("centroid_id").cast("long"), "centroid"
    ).coalesce(1).write.mode("overwrite").parquet(_cent_dir(root, gen))


def _guard_layout(spark: SparkSession, root: str) -> None:
    """Refuse to build an index over a root holding ``centroid_id=``
    partition dirs (a plain partitioned IVF dump): the manifest read
    resolves only published generations, so those rows would be
    silently invisible — the misread class the corpus/LSH layout guards
    fail loudly on."""
    for name in _ls_names(spark, root.rstrip("/")):
        if name.startswith("centroid_id="):
            raise ValueError(
                f"{root!r} holds a directory-layout IVF index "
                f"({name!r} at the root) — a manifest index cannot share "
                "its root; rebuild it at a fresh path with "
                "write_ivf_index_manifest"
            )


def _publish(
    spark: SparkSession,
    root: str,
    cells: dict[int, list[int]],
    centroids_gen: int,
    seq: int,
    batches: dict | None = None,
    bloom_cols: list | None = None,
    bloom_params: dict | None = None,
    blooms: dict | None = None,
) -> int:
    payload = {
        "table": "ivf-index",
        "cells": {str(c): sorted(g) for c, g in cells.items()},
        "centroids_gen": int(centroids_gen),
        # the exactly-once ledger: {str(batch_id): committing seq} —
        # carried through every publish so maintenance never forgets
        # which ingest batches are in the index
        "batches": {str(b): int(g) for b, g in (batches or {}).items()},
    }
    if bloom_cols:
        live_gens = {int(g) for gs in cells.values() for g in gs}
        payload["bloom_cols"] = list(bloom_cols)
        payload["bloom_params"] = dict(bloom_params or {})
        # blooms only for LIVE generations — superseded gens drop out
        payload["blooms"] = {
            g: c for g, c in (blooms or {}).items() if int(g) in live_gens
        }
    return manifest_publish(spark, root, payload, seq=seq)


# ---------------------------------------------------------------------------
# Per-(cell, generation) Bloom sidecars: point-fetch skipping (r13,
# VERDICT r12 #4).
#
# "Fetch vector(s) by id" used to scan cells — every (cell, generation)
# dir, since the cell of an id is unknown at fetch time.  Each (cell,
# generation) dir now carries a Bloom sidecar over the id column (same
# JSON format, md5 double hashing, and torn-degrades-to-scan contract
# as sources.manifest_table's generation sidecars — _load_bloom_sidecar
# and _bloom_might_contain are reused directly), so a point fetch plans
# with PURE DRIVER bit math: GET the KB-scale sidecars (LRU-cached),
# test bits, read only the dirs that might hold the ids.  Granularity
# is (cell, gen) rather than gen because a compacted index concentrates
# its rows in ONE generation spanning every cell — a per-generation
# filter could never prune inside it, while per-cell filters keep the
# fetch at O(true holder dirs).  Geometry is fixed per index at enable
# time; sidecars ride inside the immutable dirs (unpublished = orphan,
# vacuumed with them).  All builds are ONE grouped Spark job per
# written generation (never per cell).


def _bloom_sidecar_path(root: str, c: int, g: int, col: str) -> str:
    return f"{_data_root(root)}/centroid_id={int(c)}/g={int(g)}/_bloom_{col}.json"


def _build_cell_blooms(
    df: DataFrame, id_col: str, params: dict
) -> dict[int, str]:
    """``{cell_id: bits_b64}`` for every cell in ``df`` — ONE job: the
    position-explode + 64-ary ``bit_or`` shape of the batch table's
    build, grouped by cell.  The collect is bounded by
    ``min(rows × k, cells × num_bits/64)`` rows — batch-bounded on the
    ingest path, geometry-bounded on rewrites."""
    from ..operators.bloom import _mask
    from ..sources.manifest_table import _bloom_positions_expr, _pack_bits_b64

    m, k = int(params["num_bits"]), int(params["num_hashes"])
    rows = (
        df.where(F.col(id_col).isNotNull())
        .select(
            F.col("centroid_id").cast("long").alias("__c"),
            F.explode(_bloom_positions_expr(id_col, m, k)).alias("pos"),
        )
        .select(
            "__c",
            (F.col("pos") / 64).cast("long").alias("bucket"),
            _mask(F.col("pos") % 64).alias("mask"),
        )
        .groupBy("__c", "bucket")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    dense: dict[int, list[int]] = {}
    for r in rows:
        c = int(r["__c"])
        arr = dense.get(c)
        if arr is None:
            # NOT setdefault: its default argument is built eagerly,
            # which would allocate an m/64-long list per collected row
            arr = dense[c] = [0] * (m // 64)
        arr[r["bucket"]] = r["bits"]
    return {c: _pack_bits_b64(bits) for c, bits in dense.items()}


def _write_cell_bloom_sidecars(
    spark: SparkSession, root: str, gen: int, built: dict[int, str],
    id_col: str, params: dict,
) -> None:
    import json as _json

    from ..sources.manifest_table import _BLOOM_FORMAT
    from ..manifest import _write_text

    for c, b64 in built.items():
        _write_text(
            spark,
            _bloom_sidecar_path(root, c, gen, id_col),
            _json.dumps(
                {
                    "format": _BLOOM_FORMAT,
                    "col": id_col,
                    "num_bits": int(params["num_bits"]),
                    "num_hashes": int(params["num_hashes"]),
                    "bits_b64": b64,
                }
            ),
        )


def _bloom_gen_df(spark: SparkSession, root: str, gen: int, cells_of_gen):
    """The written rows of one generation across its cells, with the
    ``centroid_id`` partition column — the build input."""
    data = _data_root(root)
    return spark.read.option("basePath", data).parquet(
        *[f"{data}/centroid_id={c}/g={int(gen)}" for c in sorted(cells_of_gen)]
    )


def _build_blooms_for_gen(
    spark: SparkSession, root: str, gen: int, cells_of_gen, id_col: str,
    params: dict,
) -> None:
    """Build+write sidecars for one WRITTEN generation (determinism:
    bits always derive from what is on disk, as everywhere since r13)."""
    built = _build_cell_blooms(
        _bloom_gen_df(spark, root, gen, cells_of_gen), id_col, params
    )
    _write_cell_bloom_sidecars(spark, root, gen, built, id_col, params)


def ivf_enable_id_blooms(
    spark: SparkSession,
    root: str,
    *,
    id_col: str = "vec_id",
    bloom_bits: int | None = None,
) -> dict[str, int]:
    """Enable (or complete) id-Bloom point-fetch skipping on an EXISTING
    manifest index without rewriting a row: build sidecars for every
    live generation that lacks them and publish ONE manifest recording
    the setting — the IVF analogue of
    ``sources.manifest_table.backfill_manifest_skipping``.  Sticky:
    once recorded, every append/compaction/split maintains sidecars for
    what it writes.  Geometry defaults to ~1% FPP at the current MEAN
    rows per (cell, generation) (capped) — compacted generations
    concentrate more rows per cell and degrade to higher FPP (more
    scanned dirs, never a missed row)."""
    from ..sources.manifest_table import (
        _BLOOM_BITS_CAP,
        _BLOOM_BITS_DEFAULT,
        _BLOOM_HASHES_DEFAULT,
    )

    from ..sources.manifest_table import _check_bloom_cols

    live = _live(spark, root)
    cells = _cells_of(live)
    # refuse id types whose Spark CAST-to-string form diverges from the
    # driver-side canonical form the probe hashes (same contract as the
    # batch table's bloom_cols)
    _check_bloom_cols(read_ivf_index_manifest(spark, root).schema, [id_col])
    gen_cells: dict[int, set[int]] = {}
    for c, gs in cells.items():
        for g in gs:
            gen_cells.setdefault(int(g), set()).add(int(c))
    params = live.get("bloom_params")
    if params is None:
        if bloom_bits is not None:
            m = ((int(bloom_bits) + 63) // 64) * 64
            k = _BLOOM_HASHES_DEFAULT
        else:
            from ..operators.bloom import optimal_bloom_params

            n_dirs = sum(len(gs) for gs in cells.values())
            total = read_ivf_index_manifest(spark, root).count()
            per_dir = max(1, total // max(n_dirs, 1))
            m, k = optimal_bloom_params(per_dir, 0.01)
            m = max(min(m, _BLOOM_BITS_CAP), _BLOOM_BITS_DEFAULT // 16)
        params = {"num_bits": int(m), "num_hashes": int(k)}
    blooms = dict(live.get("blooms") or {})
    built = 0
    for g, cs in sorted(gen_cells.items()):
        if id_col in (blooms.get(str(g)) or []):
            continue
        _build_blooms_for_gen(spark, root, g, cs, id_col, params)
        blooms[str(g)] = sorted(set(blooms.get(str(g)) or []) | {id_col})
        built += 1
    if built == 0 and live.get("bloom_cols") == [id_col]:
        return {"gens_built": 0, "published_seq": 0}
    seq = _publish(
        spark, root, cells, centroids_gen=live["centroids_gen"],
        seq=live["seq"] + 1, batches=live.get("batches", {}),
        bloom_cols=[id_col], bloom_params=params, blooms=blooms,
    )
    return {"gens_built": built, "published_seq": seq}


def plan_ivf_fetch(
    spark: SparkSession,
    root: str,
    ids,
    *,
    id_col: str = "vec_id",
    as_of: int | None = None,
) -> dict:
    """The point-fetch prune decision, inspectable (and the single code
    path :func:`ivf_fetch_by_id` executes): which (cell, generation)
    dirs a fetch of ``ids`` must scan vs skip.  Pure driver work —
    KB-scale sidecar GETs (LRU-cached) + bit math, NO Spark job.  Dirs
    of generations without sidecars (pre-enable, or a torn sidecar) are
    scanned — skipping is never the reason a row goes missing."""
    from ..sources.manifest_table import (
        _BLOOM_PROBE_MAX,
        _bloom_h1_h2_py,
        _bloom_might_contain_pair,
        _load_bloom_sidecar,
    )

    m = _live(spark, root, at=as_of)
    blooms = m.get("blooms") or {}
    params = m.get("bloom_params") or {}
    ids = list(ids)
    data = _data_root(root)
    # per-id (h1, h2) pairs are computed ONCE before the dir loop (the
    # md5 is per-value, not per-dir — every retained sidecar shares the
    # manifest's recorded geometry, and mismatched ones are scanned
    # unprobed anyway), and probing is skipped entirely past the same
    # in-list ceiling the batch table applies (_BLOOM_PROBE_MAX):
    # |ids| × k hashes per dir of driver CPU buys little pruning for a
    # huge id list, so those dirs are kept for the scan — degrade is
    # extra IO, never a missed row.
    pairs = None
    if params and 0 < len(ids) <= _BLOOM_PROBE_MAX:
        try:
            pairs = [
                _bloom_h1_h2_py(v, int(params["num_bits"])) for v in ids
            ]
        except ValueError:
            pairs = None  # unsupported id literal: scan everything
    scan, skipped = [], 0
    for c, gs in sorted(_cells_of(m).items()):
        for g in gs:
            path = f"{data}/centroid_id={c}/g={g}"
            if pairs is None or id_col not in (blooms.get(str(g)) or []):
                scan.append(path)
                continue
            got = _load_bloom_sidecar(
                spark, _bloom_sidecar_path(root, c, g, id_col)
            )
            if (
                got is None
                or got[1] != int(params["num_bits"])
                or got[2] != int(params["num_hashes"])
            ):
                scan.append(path)  # torn/missing/mismatched: scan
                continue
            bits, mm, k = got
            if any(
                _bloom_might_contain_pair(bits, mm, k, h1, h2)
                for h1, h2 in pairs
            ):
                scan.append(path)
            else:
                skipped += 1
    return {
        "seq": m["seq"],
        "dirs_scan": scan,
        "total": skipped + len(scan),
        "scanned": len(scan),
        "skipped": skipped,
    }


def ivf_fetch_by_id(
    spark: SparkSession,
    root: str,
    ids,
    *,
    id_col: str = "vec_id",
    as_of: int | None = None,
) -> DataFrame:
    """Point fetch: the rows whose ``id_col`` is in ``ids`` — planned by
    :func:`plan_ivf_fetch` (driver-only Bloom pruning over the (cell,
    generation) dirs), then ONE pruned read + an exact ``isin`` filter,
    so the answer equals an unpruned scan-and-filter whatever was or
    wasn't skippable.  With sidecars enabled (:func:`ivf_enable_id_blooms`)
    a fetch touches O(true holder dirs); without, it degrades to the
    full listing.  Parquet footer/row-group stats still prune inside
    the surviving dirs — ``_prepare`` writes (cell, id)-sorted files
    precisely so this second level stays selective."""
    ids = list(ids)
    if not ids:
        raise ValueError("ivf_fetch_by_id needs at least one id")
    plan = plan_ivf_fetch(spark, root, ids, id_col=id_col, as_of=as_of)
    if not plan["dirs_scan"]:
        # every dir bloom-proven impossible: statically empty, schema
        # from the (never-empty) live index
        return read_ivf_index_manifest(spark, root, as_of=as_of).where(
            F.lit(False)
        )
    out = (
        spark.read.option("basePath", _data_root(root))
        .parquet(*plan["dirs_scan"])
        .drop("g")
    )
    return out.where(F.col(id_col).isin(ids))


def write_ivf_index_manifest(
    vectors: DataFrame,
    root: str,
    *,
    centroids: DataFrame | None = None,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sort_by: str | None = None,
) -> int:
    """Initial (or full-replace) build: assign ``vectors`` against
    ``centroids`` (or seed ``n_centroids`` deterministically when not
    given), write every cell and the quantizer at one fresh generation,
    and publish a manifest naming ONLY those dirs — a previous index
    state (if any) is superseded atomically at publish, never deleted
    here (:func:`ivf_vacuum` reclaims it).  The quantizer is committed
    WITH the data, so the index is self-contained from the first
    manifest on.  Columns of ``vectors`` beyond the id and the vector
    ride along (e.g. the int8 codes quantized serving reads).  Returns
    the published sequence number.

    ``sort_by`` (default ``id_col``) sorts rows WITHIN each written file
    by (cell, id), shuffle-free, so every parquet row group carries a
    narrow id min/max and the rerank stage's candidate-id fetch
    (``ann_ivf_index_topk_quantized``) can SKIP row groups holding no
    candidate — once cells span several row groups (size them with
    ``parquet.block.size`` on the Hadoop conf).  Two conditions are
    REQUIRED for that skipping to fire (measured r9, SCALE.md
    ``ivf_rowgroup``; id sorting alone skips nothing for uniform ids):

    1. The candidate list must reach parquet as a real ``In`` predicate:
       past ``spark.sql.parquet.pushdown.inFilterThreshold`` Spark
       degrades it to a ``[min,max]`` range that skips nothing.  The
       engine raises the threshold to 512 (:mod:`..session`), NOT
       higher: the pushed In becomes a nested parquet ``Or`` and ~1000+
       literals overflow a worker thread's stack (measured r13), so keep
       ``Q × rerank`` fetches under it or accept the range fallback.
    2. The predicate must be PER-CELL (``fetch="cell_local"``:
       ``cell_id = c AND id IN ids_in_c``): a cell's ids are a uniform
       sample of the global id space, so a sorted row group almost
       surely contains some id of a GLOBAL candidate list; per cell the
       density drops by ~C and row groups do get skipped (−40% fetch
       bytes at probe geometry).  That is why every generation copies
       the partition value into the data column ``cell_id`` (partition
       columns are not inside the files; the constant copy encodes to
       ~nothing)."""
    spark = vectors.sparkSession
    _guard_layout(spark, root)
    live = manifest_read(spark, root)
    if live is not None and live.get("table") != "ivf-index":
        raise ValueError(
            f"manifest at {root!r} is a {live.get('table')!r} table, not "
            "an ivf-index — building here would publish over the other "
            "store's commit log"
        )
    seq = (live["seq"] + 1) if live else 1
    gen = fresh_gen(seq)  # attempt-unique data path: fresh_gen docstring
    if centroids is None:
        centroids = ivf_seed_centroids(
            vectors, n_centroids, id_col=id_col, vec_col=vec_col
        )
    centroids = centroids.localCheckpoint(eager=True)
    # assigned feeds BOTH the data write and the touched-cells collect:
    # checkpoint it once (the SCALE.md r10 foreachBatch lesson — never
    # recompute a relation referenced more than once in a sink body)
    assigned = _assign(vectors, centroids, id_col, vec_col).localCheckpoint(
        eager=True
    )
    _write_gen(_prepare(assigned, gen, sort_by or id_col), root)
    _write_centroids(centroids, root, gen)
    cell_ids = sorted(
        int(r[0])
        for r in assigned.select("centroid_id").distinct().collect()
    )  # C rows — design parameter, never data volume
    if not cell_ids:
        raise ValueError("refusing to publish an empty IVF index")
    # the id-bloom setting survives a full rebuild too (r13, sticky)
    blooms: dict = {}
    bloom_cols = list((live or {}).get("bloom_cols") or [])
    bloom_params = (live or {}).get("bloom_params")
    if bloom_cols and bloom_params:
        _build_blooms_for_gen(
            spark, root, gen, cell_ids, bloom_cols[0], bloom_params
        )
        blooms[str(gen)] = bloom_cols
    return _publish(
        spark, root, {c: [gen] for c in cell_ids}, centroids_gen=gen, seq=seq,
        # the batch ledger survives a full REBUILD: a late re-delivery of
        # a pre-rebuild batch must still read as already-committed rather
        # than appending stale rows to the new index
        batches=live.get("batches", {}) if live else {},
        bloom_cols=bloom_cols, bloom_params=bloom_params, blooms=blooms,
    )


def read_ivf_index_manifest(
    spark: SparkSession, root: str, *, as_of: int | None = None
) -> DataFrame:
    """Read the LIVE index state: exactly the generation dirs the newest
    valid manifest names.  Orphans and superseded generations are
    invisible by construction.  Schema: the data columns plus the
    inferred ``centroid_id`` partition column — the shape every serving
    plan (``ann_ivf_index_topk[_quantized]``) takes.

    ``as_of`` (r11) reads the SNAPSHOT as of commit seq ``as_of``
    (newest manifest ≤ it) — the index BEFORE a split/compaction/batch,
    with :func:`read_ivf_centroids` at the same ``as_of`` giving the
    matching quantizer (the pair is consistent by construction: one
    manifest names both).  Reaches only what :func:`ivf_vacuum`
    retained."""
    cells = _cells_of(_live(spark, root, at=as_of))
    dirs = _cell_dirs(root, cells)
    if as_of is not None:
        from ..fsutil import dir_exists

        gone = [d for d in dirs if not dir_exists(spark, d)]
        if gone:
            raise ValueError(
                f"snapshot at seq {as_of} of {root!r} is no longer fully "
                f"readable — {len(gone)} generation dirs were vacuumed "
                "(time travel reaches only what ivf_vacuum retained)"
            )
    return (
        spark.read.option("basePath", _data_root(root))
        .parquet(*dirs)
        .drop("g")
    )


def read_ivf_centroids(
    spark: SparkSession, root: str, *, as_of: int | None = None
) -> DataFrame:
    """The LIVE quantizer — always the one the live cells were assigned
    under, because splits commit both in one manifest.  Feed it to the
    serving plans next to :func:`read_ivf_index_manifest`'s relation.
    ``as_of`` resolves the quantizer of that snapshot instead (see the
    index read)."""
    m = _live(spark, root, at=as_of)
    return spark.read.parquet(_cent_dir(root, m["centroids_gen"]))


def ivf_append_manifest(
    new_vectors: DataFrame,
    root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> int | None:
    """Incremental ingest: assign the batch against the index's OWN
    published quantizer (never retrained per batch), land it at one
    fresh generation, publish a manifest adding that generation to each
    touched cell.  Linear in the batch; the indexed corpus is not
    re-read.

    Exactly-once, both crash sides, when ``batch_id`` is given (pass the
    foreachBatch id — returns None for a skipped replay, the seq
    otherwise):

    * crash BEFORE publish: the attempt's dirs were never published, so
      they are invisible; the retry lands at a fresh attempt-unique
      generation while the orphans await vacuum;
    * re-delivery AFTER publish (checkpoint commit lost — the window
      plain appends duplicate into): the manifest's batch LEDGER
      already records ``batch_id``, so the replay is detected and
      skipped.  Without ``batch_id`` the ledger is bypassed and this
      append is at-least-once under re-delivery.

    Multi-writer (r12): a lost conditional PUT (another writer — an
    ingest stream on a second driver, or a maintenance pass — committed
    first) REBASES: the head is re-resolved, the ledger re-checked, and
    the batch re-derived at a fresh seq against the new head (quantizer
    included — a concurrent split may have replaced it).  The losing
    attempt's generation is an unpublished orphan for ``ivf_vacuum``."""
    from ..manifest import ManifestConflictError

    spark = new_vectors.sparkSession
    last_conflict: ManifestConflictError | None = None
    for _ in range(MAX_REBASES):
        live = _live(spark, root)
        ledger = dict(live.get("batches", {}))
        if batch_id is not None and str(int(batch_id)) in ledger:
            return None  # replay of a committed batch: exactly-once no-op
        seq = live["seq"] + 1
        gen = fresh_gen(seq)  # attempt-unique data path
        centroids = read_ivf_centroids(spark, root)
        # batch-bounded and referenced twice (write + touched-cells
        # collect): checkpoint, per the SCALE.md r10 foreachBatch lesson
        assigned = _assign(
            new_vectors, centroids, id_col, vec_col
        ).localCheckpoint(eager=True)
        _write_gen(_prepare(assigned, gen, id_col), root)
        touched = sorted(
            int(r[0])
            for r in assigned.select("centroid_id").distinct().collect()
        )
        cells = _cells_of(live)
        for c in touched:
            cells.setdefault(c, []).append(gen)
        if batch_id is not None:
            ledger[str(int(batch_id))] = gen
        # sticky id-bloom setting (r13): sidecars for the WRITTEN
        # generation's cells, one grouped job; point fetches then prune
        # this batch's dirs by driver bit math
        blooms = dict(live.get("blooms") or {})
        bloom_cols = list(live.get("bloom_cols") or [])
        bloom_params = live.get("bloom_params")
        if bloom_cols and bloom_params and touched:
            _build_blooms_for_gen(
                spark, root, gen, touched, bloom_cols[0], bloom_params
            )
            blooms[str(gen)] = bloom_cols
        try:
            return _publish(
                spark, root, cells, centroids_gen=live["centroids_gen"],
                seq=seq, batches=ledger,
                bloom_cols=bloom_cols, bloom_params=bloom_params,
                blooms=blooms,
            )
        except ManifestConflictError as exc:
            last_conflict = exc
    raise ManifestConflictError(
        f"ivf append of batch {batch_id} to {root!r} lost the "
        f"conditional PUT {MAX_REBASES} times in a row — sustained multi-writer "
        f"contention on one index; last conflict: {last_conflict}"
    )


def make_ivf_ingest_sink(
    root: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` body for continuous vector ingest into the
    manifest index: each micro-batch commits through
    :func:`ivf_append_manifest` WITH the batch id, so the manifest's
    ledger upgrades foreachBatch's at-least-once delivery to
    exactly-once on both crash sides (see the append docstring).  The
    index must already exist (:func:`write_ivf_index_manifest` — the
    quantizer is trained/published at build time, never per batch)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ivf_append_manifest(
            batch_df, root,
            id_col=id_col, vec_col=vec_col, batch_id=batch_id,
        )

    return _sink


def ivf_delete_by_id(
    spark: SparkSession,
    root: str,
    ids,
    *,
    id_col: str = "vec_id",
) -> dict[str, int]:
    """COPY-ON-WRITE vector erasure (r13 — the IVF sibling of
    ``sources.manifest_table.manifest_table_delete``, the GDPR path for
    an embedding store): rewrite, at fresh generation ids, only the
    (cell, generation) dirs that TRULY hold the given ids, and publish
    one manifest swapping them in.  The rewrite set comes from
    :func:`plan_ivf_fetch`'s driver-math Bloom pruning followed by ONE
    probe job counting matches per dir — Bloom false positives are left
    byte-untouched.  Rewritten dirs get recomputed id-Bloom sidecars
    (when enabled), so a later fetch of an erased id prunes to nothing.

    Protocol effects mirror the batch table's delete: untouched dirs
    keep their generation ids; retained older manifests still reference
    the pre-delete generations, so time travel shows the vectors until
    :func:`ivf_vacuum` reclaims them — erasure becomes durable at
    vacuum; a crash before publish leaves orphans and no visible
    change; a lost conditional PUT aborts loudly (maintenance-class:
    re-run against the new head).  The batch ledger's KEYS are
    unchanged (replay detection survives).

    Returns ``{"rows_deleted", "dirs_rewritten", "dirs_untouched"}``.
    """
    ids = list(ids)
    if not ids:
        raise ValueError("ivf_delete_by_id needs at least one id")
    live = _live(spark, root)
    cells = _cells_of(live)
    data = _data_root(root)
    plan = plan_ivf_fetch(spark, root, ids, id_col=id_col)
    candidates = plan["dirs_scan"]
    n_dirs = sum(len(gs) for gs in cells.values())
    out = {"rows_deleted": 0, "dirs_rewritten": 0, "dirs_untouched": n_dirs}
    if not candidates:
        return out
    # ONE probe job: which candidate dirs truly hold the ids
    probe = (
        spark.read.option("basePath", data)
        .parquet(*candidates)
        .where(F.col(id_col).isin(ids))
        .groupBy("centroid_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    holders = {(int(r["centroid_id"]), int(r["g"])): int(r["n"]) for r in probe}
    if not holders:
        return out
    seq = live["seq"] + 1
    blooms = dict(live.get("blooms") or {})
    bloom_cols = list(live.get("bloom_cols") or [])
    bloom_params = live.get("bloom_params")
    rewritten_of_gen: dict[int, int] = {}  # old gen -> fresh replacement id
    for (c, g), n in sorted(holders.items()):
        out["rows_deleted"] += n
        out["dirs_rewritten"] += 1
        out["dirs_untouched"] -= 1
        kept = (
            spark.read.option("basePath", data)
            .parquet(f"{data}/centroid_id={c}/g={g}")
            .drop("g", "centroid_id")
            .where(~F.col(id_col).isin(ids))
        )
        # one replacement id per OLD generation (attempt-unique), shared
        # by every cell rewritten out of it — keeps the gen count flat
        ng = rewritten_of_gen.setdefault(g, fresh_gen(seq))
        n_kept = kept.count()
        gs = cells[c]
        if n_kept:
            kept.withColumn("cell_id", F.lit(int(c)).cast("long")).withColumn(
                "centroid_id", F.lit(int(c)).cast("long")
            ).withColumn("g", F.lit(int(ng)).cast("long")).sortWithinPartitions(
                "centroid_id", id_col
            ).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("centroid_id", "g").parquet(data)
            cells[c] = sorted(x for x in gs if x != g) + [ng]
            if bloom_cols and bloom_params:
                _build_blooms_for_gen(
                    spark, root, ng, [c], bloom_cols[0], bloom_params
                )
                blooms[str(ng)] = bloom_cols
        else:
            # the dir held ONLY deleted rows: the cell simply drops it
            cells[c] = sorted(x for x in gs if x != g)
            if not cells[c]:
                del cells[c]
    if not cells:
        raise ValueError(
            "refusing to publish an empty IVF index — the delete would "
            "erase every remaining vector; drop the root instead"
        )
    _publish(
        spark, root, cells, centroids_gen=live["centroids_gen"], seq=seq,
        batches=live.get("batches", {}),
        bloom_cols=bloom_cols, bloom_params=bloom_params, blooms=blooms,
    )
    return out


def ivf_split_oversized_manifest(
    spark: SparkSession,
    root: str,
    *,
    max_rows: int,
    k: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[int]:
    """Hot-cell mitigation, the vector-index analogue of salted-join
    skew handling: appends assign against the FROZEN quantizer, so
    ingest drift grows whichever cells sit nearest the new data, and a
    runaway cell dominates every probe touching it (a cell is the scan
    unit).  Splits every cell over ``max_rows`` rows into ``k`` subcells
    (Lloyd-trained inside the cell, deterministic), reassigning only that
    cell's rows under fresh non-colliding ids.  Each cell's swap commits
    by PUBLISHING a manifest that drops the parent, adds the subcells AND
    names the matching quantizer generation: no sentinel, no recovery
    op, no scheme restriction, no caller-held centroids to drift (read
    the quantizer back with :func:`read_ivf_centroids`).

    Serving note (SCALE.md r9): moved cell boundaries can split a
    query's true neighbors across subcells — at EQUAL nprobe recall
    dipped 1.000 → 0.975 on the 50%-skewed fixture while scored rows
    fell −49%; bump ``nprobe`` by ~1 per split generation for
    recall-critical traffic (recall recovers at nprobe+1; test-pinned in
    tests/test_similarity.py).

    One publish per split cell: a crash mid-pass leaves every completed
    cell committed and the interrupted cell fully live in its pre-split
    state (its subcell dirs, if written, are unpublished orphans).
    Re-run to continue — the pass re-derives oversized cells from the
    LIVE manifest, so it is idempotent.  Returns the split parent ids
    (empty = nothing oversized).  A cell more than ``k``×max_rows
    oversized needs repeated passes."""
    live = _live(spark, root)
    cells = _cells_of(live)
    index = read_ivf_index_manifest(spark, root)
    sizes = index.groupBy("centroid_id").count().collect()  # C rows
    oversized = sorted(
        int(r["centroid_id"]) for r in sizes if r["count"] > max_rows
    )
    if not oversized:
        return []
    centroids = read_ivf_centroids(spark, root)
    cent_type = centroids.schema["centroid"].dataType
    next_id = 1 + max(
        # clear the quantizer, the manifest, AND every data dir (orphans
        # included) — a fresh id colliding with an orphan dir would
        # adopt its rows at publish
        max(
            int(r["centroid_id"])
            for r in centroids.select("centroid_id").collect()
        ),
        max(cells),
        max(_existing_dir_cell_ids(spark, root), default=0),
    )
    data = _data_root(root)
    for c in oversized:
        live = _live(spark, root)  # re-read: prior iteration published
        cells = _cells_of(live)
        centroids = read_ivf_centroids(spark, root)
        seq = live["seq"] + 1
        gen = fresh_gen(seq)  # attempt-unique data path
        cell = (
            spark.read.option("basePath", data)
            .parquet(*(f"{data}/centroid_id={c}/g={g}" for g in cells[c]))
            .drop("g", "centroid_id")
        )
        sub = kmeans_refine(
            cell,
            ivf_seed_centroids(cell, k, id_col=id_col, vec_col=vec_col),
            iters=iters, id_col=id_col, vec_col=vec_col,
        )
        w = Window.orderBy("centroid_id")
        sub = (
            sub.withColumn(
                "centroid_id",
                (F.lit(next_id) + F.row_number().over(w) - F.lit(1)).cast(
                    "long"
                ),
            )
            .withColumn("centroid", F.col("centroid").cast(cent_type))
            .localCheckpoint(eager=True)
        )
        n_sub = sub.count()
        newly = ivf_assign(cell, sub, id_col=id_col, vec_col=vec_col).select(
            id_col, "centroid_id"
        )
        re = cell.drop("cell_id").join(newly, on=id_col)
        _write_gen(
            # repartition BEFORE _prepare so its sortWithinPartitions
            # gives the in-file (cell, id) order, not get shuffled away
            _prepare(re.repartition(k, F.col("centroid_id")), gen, id_col),
            root,
        )
        new_cent = centroids.filter(
            F.col("centroid_id") != int(c)
        ).unionByName(sub)
        _write_centroids(new_cent, root, gen)
        new_ids = sorted(
            int(r[0]) for r in sub.select("centroid_id").collect()
        )
        del cells[c]
        for nid in new_ids:
            cells[nid] = [gen]
        # sticky id blooms (r13): sidecars for the re-celled generation
        blooms = dict(live.get("blooms") or {})
        bloom_cols = list(live.get("bloom_cols") or [])
        bloom_params = live.get("bloom_params")
        if bloom_cols and bloom_params:
            _build_blooms_for_gen(
                spark, root, gen, new_ids, bloom_cols[0], bloom_params
            )
            blooms[str(gen)] = bloom_cols
        _publish(
            spark, root, cells, centroids_gen=gen, seq=seq,
            batches=live.get("batches", {}),
            bloom_cols=bloom_cols, bloom_params=bloom_params,
            blooms=blooms,
        )
        next_id += n_sub
    return oversized


def compact_ivf_index_manifest(
    spark: SparkSession,
    root: str,
    *,
    target_file_mb: int = 128,
    id_col: str = "vec_id",
    min_merge_mb: float | None = None,
) -> dict[str, int]:
    """Maintenance rewrite, manifest flavor: the SMALL live generations
    merge into ONE fresh generation, bin-packed to ~``target_file_mb``
    files and re-sorted to the (cell, id) in-file order cell_local
    row-group skipping needs.  Commit is one manifest publish (every
    touched cell moves atomically); the superseded dirs await
    :func:`ivf_vacuum`.  A crashed pass leaves the live index
    untouched — no staging validation or rollback needed, unlike
    ``compact_table``'s two-rename swap, because nothing was published.

    Size tiering (r12, same lever as ``compact_manifest_table``):
    generations at or above ``min_merge_mb`` (default
    ``target_file_mb``) are FROZEN — already compact and already
    (cell, id)-sorted from their own compaction, so re-merging them
    every cadence pass only re-rewrites the same rows (quadratic total
    bytes in stream age).  Frozen generations keep their cell entries;
    each still serves with selective row-group stats because every
    generation is written in ``_prepare``'s sorted order.  A row is
    therefore rewritten a CONSTANT number of times over the index's
    life, and the cells×generations listing stays
    O(index_size/min_merge_mb) + the ingest window."""
    import math
    import os as _os
    import re as _re

    from ..fsutil import hadoop_fs

    live = _live(spark, root)
    seq = live["seq"] + 1
    gen = fresh_gen(seq)  # attempt-unique data path
    cells = _cells_of(live)
    df_all = read_ivf_index_manifest(spark, root)
    if id_col not in df_all.columns:
        raise ValueError(
            f"compact_ivf_index_manifest: id column {id_col!r} not in the "
            f"index at {root!r}"
        )
    files = df_all.inputFiles()
    n_before = len(files)
    rows_before = df_all.count()
    # per-generation bytes from the live listing (local getsize, Hadoop
    # getFileStatus otherwise — compaction-time only, never at serve)
    limit = int(
        (target_file_mb if min_merge_mb is None else min_merge_mb)
        * (1 << 20)
    )
    gen_bytes: dict[int, int] = {}
    got = hadoop_fs(spark, root)
    for f in files:
        m = _re.search(r"/g=(\d+)/", f)
        if m is None:
            continue
        try:
            sz = _os.path.getsize(f.removeprefix("file:"))
        except OSError:
            if got is None:
                gen_bytes = {}
                break
            fs, _ = got
            sz = int(
                fs.getFileStatus(
                    spark._jvm.org.apache.hadoop.fs.Path(f)  # noqa: SLF001
                ).getLen()
            )
        g = int(m.group(1))
        gen_bytes[g] = gen_bytes.get(g, 0) + sz
    gens_all = sorted({g for gs in cells.values() for g in gs})
    if gen_bytes:
        small = {g for g in gens_all if gen_bytes.get(g, 0) < limit}
    else:
        small = set(gens_all)  # sizes unknown: merge everything (pre-r12)
    if len(small) < 2:
        return {
            "files_before": n_before,
            "files_after": n_before,
            "rows": rows_before,
            "gens_before": len(gens_all),
            "gens_after": len(gens_all),
        }
    sub_cells = {
        c: [g for g in gs if g in small] for c, gs in cells.items()
    }
    sub_cells = {c: gs for c, gs in sub_cells.items() if gs}
    merged = (
        spark.read.option("basePath", _data_root(root))
        .parquet(*_cell_dirs(root, sub_cells))
        .drop("g")
    )
    small_files = merged.inputFiles()
    total_bytes = sum(
        gen_bytes.get(g, 0) for g in small
    )
    n_out = (
        max(1, math.ceil(total_bytes / (target_file_mb << 20)))
        if total_bytes
        else max(1, len(small_files) // 8)
    )
    packed = merged.repartitionByRange(
        n_out, F.col("centroid_id"), F.col(id_col)
    )
    _write_gen(_prepare(packed, gen, id_col), root)
    touched = {
        int(r[0]) for r in merged.select("centroid_id").distinct().collect()
    }  # C rows — design parameter, never data volume
    new_cells = {}
    for c, gs in cells.items():
        kept = [g for g in gs if g not in small]
        if int(c) in touched:
            kept.append(gen)
        if kept:
            new_cells[c] = kept
    # sticky id blooms (r13): frozen generations keep their sidecars;
    # the merged generation gets fresh ones from its written cells
    blooms = dict(live.get("blooms") or {})
    bloom_cols = list(live.get("bloom_cols") or [])
    bloom_params = live.get("bloom_params")
    if bloom_cols and bloom_params and touched:
        _build_blooms_for_gen(
            spark, root, gen, touched, bloom_cols[0], bloom_params
        )
        blooms[str(gen)] = bloom_cols
    _publish(
        spark, root, new_cells,
        centroids_gen=live["centroids_gen"], seq=seq,
        batches=live.get("batches", {}),
        bloom_cols=bloom_cols, bloom_params=bloom_params, blooms=blooms,
    )
    after = read_ivf_index_manifest(spark, root)
    return {
        "files_before": n_before,
        "files_after": len(after.inputFiles()),
        "rows": rows_before,
        "gens_before": len(gens_all),
        "gens_after": len(
            sorted({g for gs in new_cells.values() for g in gs})
        ),
    }


def ivf_vacuum(
    spark: SparkSession,
    root: str,
    *,
    keep_manifests: int = 3,
    live_stream: bool = False,
) -> dict[str, int]:
    """Reclaim what no RETAINED snapshot references: expire manifest
    files beyond the newest ``keep_manifests`` first (the time-travel
    window), then delete every data and quantizer generation dir that
    none of the remaining manifests reference — superseded generations
    past the window and crash orphans alike (DELETE analogue,
    object-store-safe).  Every retained manifest stays fully readable
    via ``read_ivf_index_manifest(as_of=...)`` + matching centroids;
    the snapshot window and the storage bound are the same knob.
    Don't run concurrently with a writer whose target generation is
    still unpublished — it would be reclaimed as an orphan (within one
    stream, ``foreachBatch`` serializes sink and maintenance, so the
    composed sinks are safe by construction).

    Snapshot-read vs vacuum race (r12): a reader that resolved manifest
    ``v=k`` (an ``as_of`` audit, or an ANN serving job mid-scan) races
    any vacuum that expires k — the time-based contract and the
    ``live_stream`` floor are identical to
    ``sources.manifest_table.vacuum_manifest_table``: keep the
    retention window longer than the longest read; with a live owning
    stream (``make_maintenance_sink``), ``keep_manifests`` below 2 is
    refused."""
    from ..manifest import manifest_history

    if live_stream and keep_manifests < 2:
        raise ValueError(
            f"keep_manifests={keep_manifests} on a LIVE stream's index: "
            "every new commit would immediately reclaim the generations "
            "of the manifest any concurrent reader just resolved "
            "(snapshot-read/vacuum race) — keep at least 2, sized so "
            "the retention window outlasts your longest read"
        )
    _live(spark, root)  # kind check + fail loudly on an empty root
    n_manifests = len(manifest_vacuum(spark, root, keep_last=keep_manifests))
    retained = manifest_history(spark, root)
    keep = {
        (int(c), int(g))
        for m in retained
        for c, gens in m.get("cells", {}).items()
        for g in gens
    }
    keep_cells = {c for c, _g in keep}
    keep_cent = {int(m["centroids_gen"]) for m in retained}
    data = _data_root(root)
    dropped = 0
    for cname in _ls_names(spark, data):
        if not cname.startswith("centroid_id="):
            continue
        try:
            c = int(cname.split("=", 1)[1])
        except ValueError:
            continue
        for gname in _ls_names(spark, f"{data}/{cname}"):
            if not gname.startswith("g="):
                continue
            try:
                g = int(gname.split("=", 1)[1])
            except ValueError:
                continue
            if (c, g) not in keep and _delete(
                spark, f"{data}/{cname}/{gname}", recursive=True
            ):
                dropped += 1
        if c not in keep_cells:
            # cell referenced by no retained snapshot: reap the shell
            _delete(spark, f"{data}/{cname}", recursive=True)
    cent_root = f"{root.rstrip('/')}/{_CENTROIDS}"
    for gname in _ls_names(spark, cent_root):
        if not gname.startswith("g="):
            continue
        try:
            g = int(gname.split("=", 1)[1])
        except ValueError:
            continue
        if g not in keep_cent and _delete(
            spark, f"{cent_root}/{gname}", recursive=True
        ):
            dropped += 1
    return {
        "data_dirs_deleted": dropped,
        "manifests_deleted": n_manifests,
    }
