"""Generic manifest-backed batch table: rename-free streaming at rest.

A standalone library: no pipeline, sink factory or maintenance pass
selects it (the partition layout is the one at-rest form they write);
it is called directly, and its tests pin it until it is retired.

The corpus-shaped sinks (streamed corpus, star fact, quarantine) get
exactly-once from per-batch PARTITION overwrite and bounded aging from
``compact_table``'s two-RENAME swap — both local-fs idioms.  This is the
same at-rest contract rebuilt on the :mod:`..manifest` commit protocol
(fresh-path generations + atomic manifest PUT, every primitive with a
1:1 object-store analogue; see that module's table), for deployments
where the table lives on an object store:

Layout::

    {root}/_manifest/v{seq:08d}.json   # commit log; newest valid = live
    {root}/data/g={gen}/               # immutable data generations

The manifest carries ``gens`` (the live generation list — a read unions
exactly those dirs) and ``batches`` (``{batch_id: gen}`` — the
exactly-once ledger).  Generation ids are ATTEMPT-UNIQUE
(``manifest.fresh_gen``: seq-major with a random component), so no two
write attempts ever share a data path — the property the multi-writer
conditional PUT needs, since it protects the manifest but not the data
dirs.  Compared to the partition-overwrite sinks, the exactly-once
guarantee is STRONGER here: a replayed ``foreachBatch`` delivery is
detected by the ledger and skipped outright, rather than relying on
the rewrite being byte-idempotent, and a crash between data write and
publish leaves orphan dirs no reader ever resolves (the retry lands at
a fresh generation; the orphans await vacuum).

Aging: every batch is one generation, so a long-lived stream is O(age)
directories — the same shape the partition sinks have —
:func:`compact_manifest_table` merges the SMALL generations older than
the newest ``keep_last`` into one (size-TIERED since r12: generations
already at ``min_merge_mb`` are frozen, so a row is rewritten a
CONSTANT number of times however long the stream runs; publish
supersedes, nothing deleted until :func:`vacuum_manifest_table`).
``keep_last`` here protects nothing (the ledger already makes replays
no-ops) but is kept for operational symmetry: the newest batches stay
byte-verbatim for audit/debug.

Reference lineage: the reference's sink is five JDBC INSERTs per tuple
with autocommit (StreamGeneratorThread.java:134-158) — no atomicity at
any granularity; this store and the partition sinks are the two
engine-side answers, local-fs and object-store flavored.

r13 additions: keyed MERGE (:func:`manifest_table_merge` — CoW delete
of matched keys + ledgered append in ONE publish, the atomic dim
upsert), OR-predicates in ``where=`` (disjunction pruning as the union
of per-disjunct survivor sets), plan/read prune unification
(:func:`_plan_gens` is the single decision path), stats/Bloom bits
derived from WRITTEN generations only (non-deterministic inputs can't
produce non-covering bounds), truncated string bounds (manifests stay
KB-scale under long tracked strings), and narrowed torn-file
classification (transient store failures propagate instead of serving
a stale snapshot).

r14 additions: MERGE-ON-READ deletion vectors
(``manifest_table_delete(strategy="dv")`` — matched row positions in a
KB-scale sidecar, no data rewrite; see the deletion-vector section
below), materialized explicitly (:func:`materialize_manifest_deletes`)
or by any rewrite of a vectored generation, and the merge dropping fully-replaced generations instead of writing
empty replacement dirs.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import json
import math
import os as _os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..manifest import (
    MAX_REBASES,
    ManifestConflictError,
    _delete,
    _ls_names,
    _read_text,
    _write_text,
    fresh_gen,
    manifest_publish,
    manifest_read,
    manifest_vacuum,
)

_DATA = "data"


def _data_root(root: str) -> str:
    return f"{root.rstrip('/')}/{_DATA}"


def _gen_dir(root: str, gen: int) -> str:
    return f"{_data_root(root)}/g={int(gen)}"


def _live(spark: SparkSession, root: str, at: int | None = None) -> dict:
    m = manifest_read(spark, root, at=at)
    if m is None and at is not None:
        raise ValueError(
            f"no retained manifest at or before seq {at} at {root!r} — "
            "the snapshot window is bounded by manifest retention "
            "(manifest_vacuum keep_last)"
        )
    if m is None:
        raise ValueError(
            f"no table manifest at {root!r} — the first "
            "manifest_table_append creates it"
        )
    if m.get("table") != "batch-table":
        # same protocol, different table kind:
        # fail with the actual mismatch, not a KeyError on 'gens'
        raise ValueError(
            f"manifest at {root!r} is a {m.get('table')!r} table, not a "
            "batch-table — wrong store for this root"
        )
    return m


def _publish(
    spark, root, gens, batches, seq, schema=None, stats=None,
    stats_cols=None, blooms=None, bloom_cols=None, bloom_params=None,
    dvs=None,
) -> int:
    payload = {
        "table": "batch-table",
        "gens": sorted(int(g) for g in gens),
        "batches": {str(b): int(g) for b, g in batches.items()},
    }
    if schema is not None:
        payload["schema"] = (
            schema if isinstance(schema, dict) else json.loads(schema.json())
        )
    live_set = {str(int(g)) for g in gens}
    if stats_cols:
        payload["stats_cols"] = list(stats_cols)
        # stats only for LIVE generations — superseded/merged-away gens
        # drop out of the payload with the gens list itself
        payload["stats"] = {
            g: s for g, s in (stats or {}).items() if g in live_set
        }
    if bloom_cols:
        payload["bloom_cols"] = list(bloom_cols)
        payload["bloom_params"] = dict(bloom_params or {})
        payload["blooms"] = {
            g: c for g, c in (blooms or {}).items() if g in live_set
        }
    if dvs:
        # deletion vectors only for LIVE generations — a rewritten/
        # merged generation MATERIALIZED its vectors, so its entries
        # must not survive onto the rewrite
        kept = {g: list(e) for g, e in dvs.items() if g in live_set and e}
        if kept:
            payload["dvs"] = kept
    return manifest_publish(spark, root, payload, seq=seq)


def _merge_schema(old: StructType | None, new: StructType) -> StructType:
    """ADDITIVE schema evolution (r12): reconcile a batch's schema with
    the table's recorded one.  New columns are appended (forced nullable
    — older generations lack them, so reads must fill null); a column a
    batch omits stays, turned nullable for the same reason; a TYPE
    change or any other narrowing is refused loudly, because it would
    make already-committed generations unreadable under the merged
    schema.  Read-time reconciliation is the parquet reader's
    missing-column-to-null rule under the recorded schema — the
    ``unionByName(allowMissingColumns=True)`` semantics without N
    per-generation unions."""
    if old is None:
        return new
    remaining = {f.name: f for f in new.fields}
    fields = []
    for f in old.fields:
        g = remaining.pop(f.name, None)
        if g is None:
            fields.append(StructField(f.name, f.dataType, True, f.metadata))
        elif g.dataType != f.dataType:
            raise ValueError(
                f"schema evolution refused for column {f.name!r}: "
                f"{f.dataType.simpleString()} -> "
                f"{g.dataType.simpleString()} — the manifest table "
                "supports ADDITIVE evolution only (new nullable "
                "columns); a type change would make already-committed "
                "generations unreadable"
            )
        else:
            fields.append(
                StructField(
                    f.name, f.dataType, f.nullable or g.nullable, f.metadata
                )
            )
    for g in remaining.values():
        fields.append(StructField(g.name, g.dataType, True, g.metadata))
    return StructType(fields)


# ---------------------------------------------------------------------------
# Per-generation column statistics + read-time generation pruning (r12).
#
# The same data-skipping shape Iceberg/Delta record per data file, kept at
# the protocol's own commit granularity (the generation dir) so the prune
# decision is made from the MANIFEST alone — before any directory is
# listed or any parquet footer opened.  At 100 TB that is the difference
# between "LIST every generation root, schedule everything, let row-group
# pruning discard at task time" and "touch only the dirs whose [min,max]
# can satisfy the predicate".  Parquet footer/row-group pruning still
# applies inside the generations that survive — the two levels compose.

#: atomic Spark types whose min/max are meaningfully orderable and
#: JSON-encodable (decimals handled by prefix match)
_STATS_TYPES = {
    "boolean", "byte", "short", "integer", "long", "float", "double",
    "string", "date", "timestamp", "timestamp_ntz",
}

#: predicate operators understood by the pruner and the residual filter
_PRED_OPS = {
    "=", "==", "<", "<=", ">", ">=", "in", "between", "is_null", "not_null",
}


#: recorded string bounds are truncated to this many characters so a
#: long-string tracked column (URLs, text payloads) can't bloat every
#: manifest PUT by 2×len(longest value)×generations — the manifest must
#: stay KB-scale (Iceberg/Delta truncate string bounds for the same
#: reason; ADVICE r12).
_STATS_STR_MAX = 64


def _bump_str(s: str) -> str | None:
    """Smallest-effort strict UPPER bound for every string prefixed by
    ``s``: increment the last incrementable code point and drop the
    rest (skipping the surrogate gap — Python strings can hold lone
    surrogates but Spark's UTF-8 bytes can't).  None when no code point
    can be bumped (all U+10FFFF) — bound unknown."""
    chars = list(s)
    while chars:
        cp = ord(chars[-1])
        if cp < 0x10FFFF:
            cp += 1
            if 0xD800 <= cp <= 0xDFFF:
                cp = 0xE000
            chars[-1] = chr(cp)
            return "".join(chars)
        chars.pop()
    return None


def _stats_encode(v, bound: str | None = None):
    """JSON-safe encoding of a min/max value; ``None`` means UNKNOWN
    (never prunes).  Non-finite floats encode as unknown — JSON has no
    NaN/Infinity, and NaN's Spark ordering (greater than everything)
    would make range logic lie anyway.

    Long strings are TRUNCATED to :data:`_STATS_STR_MAX` chars and
    tagged inexact: a truncated min is itself a valid (smaller) lower
    bound; a truncated max is bumped past every string sharing the
    prefix (:func:`_bump_str`) — valid for code-point order, which
    matches Spark's UTF-8 binary string order.  Pruning stays
    conservative under the widened bounds; :func:`manifest_table_aggregate`
    reports the column inexact rather than serving a bound no row
    attains."""
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, int):
        return v
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, str):
        if len(v) <= _STATS_STR_MAX:
            return v
        if bound == "min":
            return {"$t": "str>", "v": v[:_STATS_STR_MAX]}
        if bound == "max":
            bumped = _bump_str(v[:_STATS_STR_MAX])
            return None if bumped is None else {"$t": "str<", "v": bumped}
        return None  # long string with no bound hint: unknown
    if isinstance(v, _dt.datetime):  # before date: datetime IS a date
        return {"$t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"$t": "date", "v": v.isoformat()}
    if isinstance(v, _decimal.Decimal):
        return {"$t": "dec", "v": str(v)}
    return None


def _stats_decode(v):
    if isinstance(v, dict):
        tag, s = v.get("$t"), v.get("v")
        if tag == "ts":
            return _dt.datetime.fromisoformat(s)
        if tag == "date":
            return _dt.date.fromisoformat(s)
        if tag == "dec":
            return _decimal.Decimal(s)
        if tag in ("str>", "str<"):
            return s  # widened-but-valid bound (see _stats_encode)
        return None
    return v


def _stats_is_exact(v) -> bool:
    """False for truncated string bounds — valid for pruning, but not a
    value any row attains (aggregate honesty)."""
    return not (isinstance(v, dict) and v.get("$t") in ("str>", "str<"))


def collect_gen_stats(df: DataFrame, cols: Sequence[str]) -> dict:
    """One-pass per-generation statistics: row count plus
    ``{col: {min, max, nulls}}`` for each requested column.  The agg
    collapses to a single driver row — never data-sized.  Columns the
    batch omits entirely (additive evolution) record all-null stats; a
    column present with a non-atomic type is refused loudly (arrays /
    structs / binaries have no orderable min/max to prune on)."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("__rows")]
    present = []
    for c in cols:
        dt = by_name.get(c)
        if dt is None:
            continue  # omitted column: all-null entry synthesized below
        tn = dt.typeName()
        if tn not in _STATS_TYPES and not tn.startswith("decimal"):
            raise ValueError(
                f"stats_cols column {c!r} has type {dt.simpleString()} — "
                "generation stats need an orderable atomic type "
                "(numeric/string/date/timestamp/decimal/boolean)"
            )
        i = len(present)
        present.append(c)
        aggs.extend(
            [
                F.min(c).alias(f"__min{i}"),
                F.max(c).alias(f"__max{i}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__null{i}"),
            ]
        )
    row = df.agg(*aggs).collect()[0]
    rows = int(row["__rows"])
    out_cols = {}
    for i, c in enumerate(present):
        out_cols[c] = {
            "min": _stats_encode(row[f"__min{i}"], bound="min"),
            "max": _stats_encode(row[f"__max{i}"], bound="max"),
            "nulls": int(row[f"__null{i}"] or 0),
        }
    for c in cols:
        if c not in out_cols:
            out_cols[c] = {"min": None, "max": None, "nulls": rows}
    return {"rows": rows, "cols": out_cols}


# ---------------------------------------------------------------------------
# Per-generation Bloom sidecars: point-lookup skipping (r12).
#
# Min/max stats prune RANGE predicates, but a point lookup on a
# high-cardinality column (fetch doc_id X out of a 100 TB corpus) hits
# every generation's [min,max] when ids are uniform.  A per-generation
# Bloom filter answers "definitely not in this generation" for = / in
# predicates — the Iceberg-puffin / Delta-bloom shape.  The filter lives
# as a SIDECAR JSON inside the generation dir (underscore-prefixed, so
# Spark's parquet reader ignores it), written BEFORE the manifest
# publish — it shares the generation's crash story (an unpublished
# sidecar is just orphan bytes) and keeps the manifest itself KB-scale
# however many generations carry blooms.  Bloom parameters are fixed
# PER TABLE at enable time (recorded in the manifest).  A missing/torn
# sidecar degrades to "scan" — pruning is never the reason a row goes
# missing.
#
# Hashing must be computable on BOTH sides — executors at build time
# (one pass over the batch) and the DRIVER at probe time (so a point
# lookup plans with zero Spark jobs: GET the sidecars, test bits in
# Python).  So positions come from Kirsch-Mitzenmacher double hashing
# over the md5 of a CANONICAL STRING form of the value, where Spark's
# `CAST(col AS STRING)` and Python's rendering provably agree —
# integral, string, and date key types (the realistic point-lookup
# keys: ids, URLs, day partitions).  Floats/timestamps/decimals have
# format-divergent string forms and are refused at enable time.

#: fallback bloom geometry when the first batch is empty: 2^17 bits
#: (16 KB of bits) — real tables size from the first batch instead
_BLOOM_BITS_DEFAULT = 1 << 17
_BLOOM_BITS_CAP = 1 << 23  # 1 MB of bits per (generation, column)
_BLOOM_HASHES_DEFAULT = 7
_BLOOM_FORMAT = "gen-bloom/2"

#: largest distinct-key count a merge collects to the driver for
#: manifest-level pruning + isin rewrites; beyond it the merge never
#: collects and degrades to anti-join rewrites over all generations
#: (the right plan for a batch that touches most of the table anyway)
_MERGE_INLIST_MAX = 100_000

#: largest `in`-list a Bloom sidecar will PROBE per (generation,
#: column): beyond it the generation is kept (stats pruning still
#: applies) — at k hashes per value an unbounded probe would cost
#: |list| × k md5 calls PER GENERATION of driver CPU, which past a few
#: hundred values exceeds what the pruned scan would have cost (the
#: same reason engines cap in-list pushdown size)
_BLOOM_PROBE_MAX = 512

#: Spark typeNames whose CAST-to-string equals the Python canonical form
_BLOOM_TYPES = {"byte", "short", "integer", "long", "string", "date"}


def _bloom_sidecar_path(root: str, gen: int, col: str) -> str:
    return f"{_gen_dir(root, gen)}/_bloom_{col}.json"


def _bloom_canon_py(v) -> bytes:
    """Python-side canonical bytes of a key value — must equal what
    Spark's ``CAST(col AS STRING)`` produces for the supported types."""
    if isinstance(v, bool):
        raise ValueError("boolean bloom keys are not supported")
    if isinstance(v, int):
        return str(v).encode("utf-8")
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, _dt.datetime):
        raise ValueError(
            "timestamp bloom keys are not supported (format-divergent "
            "string forms) — use an integral/string/date key"
        )
    if isinstance(v, _dt.date):
        return v.isoformat().encode("utf-8")
    raise ValueError(
        f"unsupported bloom key value {v!r} — integral/string/date only"
    )


def _bloom_h1_h2_py(v, m: int) -> tuple[int, int]:
    import hashlib

    hx = hashlib.md5(_bloom_canon_py(v)).hexdigest()
    h1 = int(hx[:15], 16) % m
    h2 = int(hx[15:30], 16) % (m - 1) + 1
    return h1, h2


def _bloom_might_contain_pair(
    packed: bytes, m: int, k: int, h1: int, h2: int
) -> bool:
    """Membership test from a PRECOMPUTED ``(h1, h2)`` double-hash pair
    (:func:`_bloom_h1_h2_py`) — the md5 is per-value, not per-filter, so
    a caller probing one id list against many sidecars hashes each id
    once and reuses the pair here."""
    for i in range(k):
        p = (h1 + i * h2) % m
        byte = packed[(p >> 6) * 8 + ((p & 63) >> 3)]
        if not (byte >> (p & 7)) & 1:
            return False
    return True


def _bloom_might_contain(packed: bytes, m: int, k: int, v) -> bool:
    """Membership test straight on the little-endian-packed bit bytes —
    bit ``p`` of the filter is bit ``p%8`` of byte ``(p>>6)*8 +
    (p&63)//8`` — so probing never unpacks the filter."""
    h1, h2 = _bloom_h1_h2_py(v, m)
    return _bloom_might_contain_pair(packed, m, k, h1, h2)


def _bloom_positions_expr(col: str, m: int, k: int):
    """The k Kirsch-Mitzenmacher bit positions of ``col`` as an ARRAY
    column — md5-canonical double hashing so the DRIVER can probe the
    same bits without Spark (:func:`_bloom_h1_h2_py`).  ``conv(hex, 16,
    10)`` on 15 hex chars stays under 2^60 — exact in a long."""
    hx = F.md5(F.col(col).cast("string"))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long") % F.lit(m)
    h2 = (
        F.conv(F.substring(hx, 16, 15), 16, 10).cast("long") % F.lit(m - 1)
        + 1
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(h1 + i.cast("long") * h2, F.lit(m)),
    )


def _bloom_build_md5(df: DataFrame, col: str, m: int, k: int) -> list[int]:
    """Executor-built filter (the 64-ary ``bit_or`` shape of
    ``operators.bloom.bloom_build``) with md5-canonical double hashing
    so the driver can probe without Spark.  Nulls are skipped:
    equality predicates never match them."""
    from ..operators.bloom import _mask

    buckets = (
        df.where(F.col(col).isNotNull())
        .select(F.explode(_bloom_positions_expr(col, m, k)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("bucket"),
            _mask(F.col("pos") % 64).alias("mask"),
        )
        .groupBy("bucket")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()
    )
    dense = [0] * (m // 64)
    for r in buckets:
        dense[r["bucket"]] = r["bits"]
    return dense


def _check_bloom_cols(schema, cols) -> None:
    by_name = {f.name: f.dataType for f in schema.fields}
    for c in cols:
        dt = by_name.get(c)
        if dt is not None and dt.typeName() not in _BLOOM_TYPES:
            raise ValueError(
                f"bloom_cols column {c!r} has type {dt.simpleString()} — "
                "bloom keys must be integral/string/date (types whose "
                "Spark CAST-to-string form matches the driver-side "
                "canonical form the probe hashes)"
            )


def _pack_bits_b64(bits: list[int]) -> str:
    """base64-packed little-endian u64s — ~4× smaller than a JSON int
    array and parsed in one ``b64decode`` at probe time."""
    import base64
    import struct

    return base64.b64encode(
        struct.pack(f"<{len(bits)}q", *bits)
    ).decode("ascii")


def _build_gen_blooms(
    df: DataFrame, bloom_cols, params: dict
) -> dict[str, str]:
    """Build the per-column filters for one batch; returns
    ``{col: bits_b64}`` (:func:`_pack_bits_b64`).  Split from the
    sidecar WRITE so callers can place the bits at whatever fresh path
    their commit targets."""
    m, k = int(params["num_bits"]), int(params["num_hashes"])
    _check_bloom_cols(df.schema, bloom_cols)
    out = {}
    for col in bloom_cols:
        if col not in df.columns:
            continue  # omitted column (evolution): no sidecar -> scanned
        out[col] = _pack_bits_b64(_bloom_build_md5(df, col, m, k))
    return out


def _write_gen_bloom_sidecars(
    spark: SparkSession, root: str, gen: int, built: dict[str, str],
    params: dict,
) -> None:
    m, k = int(params["num_bits"]), int(params["num_hashes"])
    for col, b64 in built.items():
        _write_text(
            spark,
            _bloom_sidecar_path(root, gen, col),
            json.dumps(
                {
                    "format": _BLOOM_FORMAT,
                    "col": col,
                    "num_bits": m,
                    "num_hashes": k,
                    "bits_b64": b64,
                }
            ),
        )


def _write_gen_blooms(
    df: DataFrame, root: str, gen: int, bloom_cols, params: dict
) -> None:
    """Build and write one Bloom sidecar per column for generation
    ``gen`` from ``df``'s rows (the exact rows the generation holds)."""
    _write_gen_bloom_sidecars(
        df.sparkSession, root, gen,
        _build_gen_blooms(df, bloom_cols, params), params,
    )


def _read_gen_bloom(
    spark: SparkSession, root: str, gen: int, col: str, params: dict
) -> tuple[bytes, int, int] | None:
    """Parse one sidecar; None on any mismatch/tear (degrade to scan).
    Results are LRU-cached by path — sound because generation paths are
    attempt-unique and their contents immutable once published."""
    got = _load_bloom_sidecar(spark, _bloom_sidecar_path(root, gen, col))
    if got is None:
        return None
    packed, m, k = got
    if m != int(params["num_bits"]) or k != int(params["num_hashes"]):
        return None
    return got


#: path -> (packed bits, num_bits, num_hashes); ~240 KB per entry at the
#: default cap, so 64 entries bound the cache at ~16 MB
_BLOOM_CACHE: dict[str, tuple[bytes, int, int]] = {}
_BLOOM_CACHE_MAX = 64


def _load_bloom_sidecar(
    spark: SparkSession, path: str
) -> tuple[bytes, int, int] | None:
    import base64

    hit = _BLOOM_CACHE.get(path)
    if hit is not None:
        return hit
    from ..manifest import _local_path

    try:
        lp = _local_path(path)
        if lp is not None:
            # local fast path: skips a Py4J byte-array hop per sidecar;
            # real object-store schemes go through the Hadoop GET
            with open(lp, encoding="utf-8") as fh:
                text = fh.read()
        else:
            text = _read_text(spark, path)
        payload = json.loads(text)
        if payload.get("format") != _BLOOM_FORMAT:
            return None
        m = int(payload["num_bits"])
        k = int(payload["num_hashes"])
        packed = base64.b64decode(payload["bits_b64"])
        if len(packed) != m // 8:
            return None
    except (ValueError, OSError, KeyError):
        return None
    if len(_BLOOM_CACHE) >= _BLOOM_CACHE_MAX:
        _BLOOM_CACHE.pop(next(iter(_BLOOM_CACHE)))
    _BLOOM_CACHE[path] = (packed, m, k)
    return _BLOOM_CACHE[path]


# ---------------------------------------------------------------------------
# Deletion vectors (r14): MERGE-ON-READ row-level delete.
#
# ``manifest_table_delete(strategy="dv")`` records the POSITIONS of the
# matched rows — (file, row ordinal within the file) pairs, the stable
# address parquet's ``_metadata.row_index`` exposes — in a KB-scale
# parquet sidecar under ``{root}/dv/``, and publishes a manifest whose
# ``dvs`` map names it per touched generation.  No data dir is rewritten:
# a wide low-selectivity delete (a few rows in EVERY generation of a
# 100 TB table — the case where key pruning cannot shrink the CoW rewrite
# set because every generation truly holds a row) commits in O(one scan)
# instead of O(table rewrite) (probe-measured 3.9 s vs 76.7 s at the
# 64-generation/12.8 M-row aged geometry; SCALE.md r14).  Readers
# anti-apply the vectors (a broadcast anti-join on (file, pos) — the
# recurring merge-on-read tax, small while vectors are), and rewrites
# MATERIALIZE them: CoW delete/merge/compaction of a generation apply its
# vectors and drop the entries, and ``materialize_manifest_deletes`` does
# so explicitly.  This is the Iceberg v3 / Delta deletion-vector design
# point re-expressed at the protocol's generation granularity
# (implementation original; positions instead of keys so the sidecar
# size tracks the DELETE's selectivity, not the key width).
#
# Soundness notes:
# * file addresses are stored RELATIVE (``data/g=<gen>/<file>``), so a
#   relocated/copied table still applies its vectors;
# * per-generation stats/Blooms become OVER-approximations once a vector
#   lands (they still cover the deleted rows) — pruning stays sound
#   (never skips a live row; may scan a generation whose only matching
#   rows are deleted), and manifest-only aggregates degrade honestly:
#   ``rows`` stays exact (vector cardinalities are recorded and disjoint
#   by construction — each DV scan applies the previous vectors), while
#   min/max/nulls of a vectored generation return None;
# * successive DVs on one generation STACK (disjoint positions);
#   time travel sees exactly the vectors the resolved manifest lists;
#   vacuum reclaims vector files no retained manifest references.

#: above this many recorded deleted rows the anti-join is left to AQE
#: instead of a forced broadcast (a driver-side OOM guard, not a
#: correctness knob)
_DV_BROADCAST_MAX = 4_000_000


def _dv_dir(root: str, d: int) -> str:
    return f"{root}/dv/{d}"


def _dv_rel_file():
    """``data/g=<gen>/<file>`` from ``_metadata.file_path`` — the last
    three path segments, which is exactly the table-relative address of
    any generation data file (scheme- and mount-independent)."""
    parts = F.split(F.col("_metadata.file_path"), "/")
    return F.concat_ws("/", F.slice(parts, -3, 3))


def _dv_entries_for(m: dict, gens) -> list[dict]:
    dvs = m.get("dvs") or {}
    return [e for g in gens for e in (dvs.get(str(int(g))) or [])]


def _dv_rows_of(m: dict, g: int) -> int:
    return sum(
        int(e.get("rows", 0)) for e in (m.get("dvs") or {}).get(str(int(g))) or []
    )


def _dv_positions(spark: SparkSession, root: str, m: dict, gens):
    """Union of the deletion-vector positions applying to ``gens`` as a
    ``(file, pos)`` DataFrame, or None when none apply.  A vacuumed
    vector file surfaces as a clear error rather than a silent
    resurrect-the-rows read."""
    entries = _dv_entries_for(m, gens)
    if not entries:
        return None
    from ..fsutil import dir_exists

    paths = sorted({e["path"] for e in entries})
    gone = [p for p in paths if not dir_exists(spark, f"{root}/{p}")]
    if gone:
        raise ValueError(
            f"deletion-vector file(s) {gone} of {root!r} are missing — "
            "reading without them would resurrect deleted rows "
            "(vacuum_manifest_table reclaims vectors only past "
            "manifest retention; this table's manifest and dv files "
            "disagree)"
        )
    pos = spark.read.parquet(*[f"{root}/{p}" for p in paths]).select(
        "file", "pos"
    )
    if sum(int(e.get("rows", 0)) for e in entries) <= _DV_BROADCAST_MAX:
        pos = F.broadcast(pos)
    return pos


def _apply_dvs(
    spark: SparkSession, root: str, m: dict, df: DataFrame, gens
) -> DataFrame:
    """Anti-apply the deletion vectors of ``gens`` to ``df`` (which must
    still be the raw file scan — ``_metadata`` resolvable).  No-op when
    none apply."""
    pos = _dv_positions(spark, root, m, gens)
    if pos is None:
        return df
    keyed = df.select(
        "*",
        _dv_rel_file().alias("__dvf"),
        F.col("_metadata.row_index").alias("__dvp"),
    )
    return keyed.join(
        pos.withColumnsRenamed({"file": "__dvf", "pos": "__dvp"}),
        ["__dvf", "__dvp"],
        "left_anti",
    ).drop("__dvf", "__dvp")


def _normalize_pred(p) -> tuple:
    """Validate/normalize ONE predicate: ``(col, op)`` (null tests) or
    ``(col, op, value)``.  ``in`` takes a collection, ``between`` an
    inclusive ``(lo, hi)`` pair.  ``None`` comparison values are refused
    — that's SQL three-valued logic territory; say ``(col, "is_null")``.
    """
    p = tuple(p)
    if len(p) == 2:
        col, op = p
        val = None
        if op not in ("is_null", "not_null"):
            raise ValueError(
                f"predicate {p!r}: two-element form is only for "
                "'is_null'/'not_null'"
            )
    elif len(p) == 3:
        col, op, val = p
        if op in ("is_null", "not_null"):
            raise ValueError(f"predicate {p!r}: null tests take no value")
        if op == "between":
            if not isinstance(val, (tuple, list)) or len(val) != 2:
                raise ValueError(
                    f"predicate {p!r}: 'between' needs a (lo, hi) pair"
                )
            if val[0] is None or val[1] is None:
                raise ValueError(
                    f"predicate {p!r}: None bound — use a one-sided "
                    "comparison instead"
                )
        elif op == "in":
            val = list(val)
            if any(v is None for v in val):
                raise ValueError(
                    f"predicate {p!r}: None in an 'in' list never "
                    "matches in SQL — drop it (and add 'is_null' if "
                    "null rows are wanted)"
                )
            try:
                # pre-sorted so each generation's range check can be a
                # bisect instead of an O(|list|) scan — a keyed merge
                # carries up to _MERGE_INLIST_MAX values over hundreds
                # of generations (unorderable/mixed literals fall back)
                val = sorted(val)
            except TypeError:
                pass
        elif val is None:
            raise ValueError(
                f"predicate {p!r}: comparison with None — use "
                "('col', 'is_null')"
            )
    else:
        raise ValueError(f"predicate {p!r}: expected 2 or 3 elements")
    if op not in _PRED_OPS:
        raise ValueError(
            f"predicate {p!r}: unknown op {op!r} (supported: "
            f"{sorted(_PRED_OPS)})"
        )
    return (col, op, val)


def _is_or_marker(item) -> bool:
    return (
        isinstance(item, (tuple, list))
        and len(item) == 2
        and item[0] == "or"
        and isinstance(item[1], (tuple, list))
        and not isinstance(item[1], str)
    )


def _normalize_where(where) -> list[list[list[tuple]]]:
    """Normalize a ``where`` into CLAUSES (AND-combined), each clause a
    list of DISJUNCTS (OR-combined), each disjunct a list of predicates
    (AND-combined) — i.e. a conjunction whose elements may themselves be
    disjunctions of conjunctions, which covers the window-read shapes
    a closed-form pruner can union over without DNF blow-up.

    Forms accepted per element of ``where``:

    * a predicate tuple ``(col, op[, value])`` — one-disjunct clause;
    * ``("or", [alt1, alt2, ...])`` (r13) — a disjunction; each ``alt``
      is either a single predicate tuple or a LIST of predicate tuples
      (an AND-ed conjunction).  Example — two date ranges::

          where=[("or", [
              [("d", "between", (d1, d2))],
              [("d", "between", (d3, d4))],
          ])]

    ``"or"`` is a reserved marker: a column literally named ``or``
    can't use the 2-element null-test form (alias it first)."""
    clauses = []
    for item in where:
        if _is_or_marker(item):
            disjuncts = []
            for alt in item[1]:
                alt_t = tuple(alt)
                if alt_t and isinstance(alt_t[0], str):
                    disjuncts.append([_normalize_pred(alt_t)])
                else:
                    conj = [_normalize_pred(p) for p in alt_t]
                    if not conj:
                        raise ValueError(
                            "empty conjunction inside ('or', ...) — an "
                            "empty AND is vacuously true, which would "
                            "make the whole disjunction a no-op filter"
                        )
                    disjuncts.append(conj)
            if not disjuncts:
                raise ValueError(
                    "('or', []) has no disjuncts — an empty OR matches "
                    "nothing; drop the clause or say what you mean"
                )
            clauses.append(disjuncts)
        else:
            clauses.append([[_normalize_pred(item)]])
    return clauses


def _where_preds(clauses) -> list[tuple]:
    """Every predicate tuple appearing anywhere in the clauses (for
    column-existence checks)."""
    return [p for clause in clauses for disj in clause for p in disj]


def _gen_matches(gstats: dict | None, col: str, op: str, val) -> bool:
    """May generation ``gstats`` contain a row satisfying the predicate?
    True (scan) on any uncertainty — pruning must never be the reason a
    row goes missing.  False only when the stats PROVE no row matches."""
    if gstats is None:
        return True  # no stats recorded for this generation: scan
    ent = (gstats.get("cols") or {}).get(col)
    if ent is None:
        return True  # stats exist but not for this column: scan
    rows = gstats.get("rows")
    if rows is None:
        return True
    if rows == 0:
        return False  # empty generation matches nothing
    nulls = ent.get("nulls", 0)
    if op == "is_null":
        return nulls > 0
    if op == "not_null":
        return nulls < rows
    if nulls >= rows:
        return False  # all-null column: no comparison ever matches
    lo = _stats_decode(ent.get("min"))
    hi = _stats_decode(ent.get("max"))
    if lo is None or hi is None:
        return True  # unknown bound (NaN/unencodable): scan
    try:
        if op in ("=", "=="):
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            import bisect

            try:
                # sorted at normalize time: one bisect per generation
                i = bisect.bisect_left(val, lo)
                return i < len(val) and val[i] <= hi
            except TypeError:
                return any(lo <= v <= hi for v in val)
        if op == "between":
            a, b = val
            return hi >= a and lo <= b
    except TypeError:
        return True  # incomparable literal (e.g. date vs timestamp): scan
    return True


def _pred_column(col: str, op: str, val):
    """The predicate as a real Column filter — applied to every read so
    results are EXACT whether or not any generation was pruned."""
    c = F.col(col)
    if op == "is_null":
        return c.isNull()
    if op == "not_null":
        return c.isNotNull()
    if op in ("=", "=="):
        return c == F.lit(val)
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    if op == "in":
        return c.isin(val) if val else F.lit(False)
    if op == "between":
        return c.between(F.lit(val[0]), F.lit(val[1]))
    raise AssertionError(op)


def _where_expr(clauses):
    """The normalized ``where`` as ONE Column filter — applied to every
    read so results are EXACT whether or not any generation was pruned."""
    out = None
    for clause in clauses:
        c_expr = None
        for disj in clause:
            d_expr = None
            for col, op, val in disj:
                p = _pred_column(col, op, val)
                d_expr = p if d_expr is None else d_expr & p
            c_expr = d_expr if c_expr is None else c_expr | d_expr
        out = c_expr if out is None else out & c_expr
    return out


def _disjunct_bloom_ok(
    spark, root, m: dict, g: int, preds: list[tuple]
) -> bool:
    """May generation ``g`` satisfy this conjunction, as far as its
    Bloom sidecars can tell?  Only ``=``/``in`` predicates on recorded
    ``bloom_cols`` participate; anything uncertain (missing/torn/
    differently-parameterized sidecar, unsupported literal) keeps the
    generation.  Pure driver work: KB-sized sidecar GETs (LRU-cached)
    plus bit math — no Spark job."""
    bloom_cols = set(m.get("bloom_cols") or [])
    params = m.get("bloom_params") or {}
    if not bloom_cols or not params:
        return True
    have = set((m.get("blooms") or {}).get(str(int(g))) or [])
    for col, op, val in preds:
        if col not in bloom_cols or col not in have:
            continue
        if op in ("=", "=="):
            vals = [val]
        elif op == "in" and val and len(val) <= _BLOOM_PROBE_MAX:
            vals = list(val)
        else:
            continue  # huge in-list: probing costs more than scanning
        got = _read_gen_bloom(spark, root, int(g), col, params)
        if got is None:
            continue  # torn/missing/mismatched sidecar: scan
        bits, mm, k = got
        try:
            if not any(_bloom_might_contain(bits, mm, k, v) for v in vals):
                return False  # one impossible conjunct kills the disjunct
        except ValueError:
            continue  # unsupported literal type: scan
    return True


def _plan_gens(
    spark: SparkSession, root: str, m: dict, clauses
) -> dict:
    """THE prune decision — the single code path both
    :func:`plan_manifest_read` (inspection) and
    :func:`read_manifest_table` (execution) consume, so the inspectable
    plan can never drift from the executed one (r12 review nit).

    Per generation and per clause: a clause survives when ANY of its
    disjuncts survives, a disjunct survives when min/max stats can't
    refute any of its predicates (manifest-only, zero IO) AND the Bloom
    sidecars can't refute its equality predicates (KB-sized GETs, no
    Spark job).  OR-pruning is the union of the per-disjunct survivor
    sets, computed without materializing them.  Attribution reports the
    WEAKEST level that proved each skip: ``by_stats`` when stats alone
    refute every clause, else ``by_bloom``."""
    stats = m.get("stats") or {}
    scan: list[int] = []
    by_stats = 0
    by_bloom = 0
    for g0 in m["gens"]:
        g = int(g0)
        gstats = stats.get(str(g))
        stats_alive = all(
            any(
                all(_gen_matches(gstats, *p) for p in disj)
                for disj in clause
            )
            for clause in clauses
        )
        if not stats_alive:
            by_stats += 1
            continue
        full_alive = all(
            any(
                all(_gen_matches(gstats, *p) for p in disj)
                and _disjunct_bloom_ok(spark, root, m, g, disj)
                for disj in clause
            )
            for clause in clauses
        )
        if full_alive:
            scan.append(g)
        else:
            by_bloom += 1
    return {"scan": scan, "by_stats": by_stats, "by_bloom": by_bloom}


def _pruned_gens(
    spark: SparkSession, root: str, m: dict, clauses
) -> list[int]:
    """Generations a predicated read must scan — :func:`_plan_gens`'s
    decision, survivors only."""
    return _plan_gens(spark, root, m, clauses)["scan"]


def plan_manifest_read(
    spark: SparkSession,
    root: str,
    where,
    *,
    as_of: int | None = None,
) -> dict:
    """The prune decision, inspectable: which generations a
    ``read_manifest_table(where=...)`` would scan vs skip — computed by
    the SAME helper the read consumes (:func:`_plan_gens`), so this
    output is the executed plan, not a parallel reimplementation.
    Min/max stats pruning is manifest-only (no data IO); when the table
    carries Bloom sidecars and ``where`` has equality predicates on
    bloom columns, the surviving generations' sidecars are probed too.
    Returns ``{"seq", "gens_scan", "gens_skipped", "total", "scanned",
    "skipped", "skipped_by_stats", "skipped_by_bloom", "dv_gens"}``
    (``dv_gens``: survivors that will additionally pay the deletion-
    vector anti-join — the merge-on-read read tax, r14)."""
    m = _live(spark, root, at=as_of)
    plan = _plan_gens(spark, root, m, _normalize_where(where))
    scan_set = set(plan["scan"])
    skipped = [int(g) for g in m["gens"] if int(g) not in scan_set]
    return {
        "seq": m["seq"],
        "gens_scan": plan["scan"],
        "gens_skipped": skipped,
        "total": len(m["gens"]),
        "scanned": len(plan["scan"]),
        "skipped": len(skipped),
        # attribution: which level PROVED each skip (stats run first,
        # blooms only probe the survivors)
        "skipped_by_stats": plan["by_stats"],
        "skipped_by_bloom": plan["by_bloom"],
        "dv_gens": sum(
            1 for g in plan["scan"] if (m.get("dvs") or {}).get(str(int(g)))
        ),
    }


def manifest_table_append(
    df: DataFrame,
    root: str,
    batch_id: int,
    *,
    stats_cols=None,
    bloom_cols=None,
    bloom_bits: int | None = None,
) -> int | None:
    """EXACTLY-ONCE batch append: write the batch at one fresh
    generation, then publish a manifest adding it to ``gens`` and
    recording ``batch_id`` in the ledger.  A re-delivery of an
    already-committed ``batch_id`` (foreachBatch replay after a lost
    checkpoint commit) is detected in the ledger and SKIPPED — returns
    None; otherwise returns the published seq.  Suitable directly as a
    ``foreachBatch`` body: ``lambda b, i: manifest_table_append(b, root, i)``.

    Schema (r12): each manifest records the table's merged schema, and
    appends reconcile additively — a batch may ADD nullable columns or
    OMIT existing ones (older/missing columns read as null under the
    recorded schema); type changes are refused loudly
    (:func:`_merge_schema`).  Recording the schema also makes
    generations with no parquet footers (all-empty batches under
    committers that skip empty files) readable.  Tables whose manifests
    predate schema recording stay on read-time inference, unchanged.

    Generation statistics (r12): ``stats_cols=[...]`` records per-
    generation ``min/max/nulls`` for the named columns in the manifest
    (one single-row agg over the batch — batch-sized, not table-sized),
    enabling :func:`read_manifest_table`'s ``where=`` generation
    pruning.  The setting is STICKY: once a manifest records
    ``stats_cols``, later appends that omit the argument keep collecting
    for the same columns, so one enabled writer is enough on a
    multi-writer table.  Passing a different list updates the setting;
    generations written before a column was tracked carry no stats for
    it and are always scanned (pruning is never the reason a row goes
    missing).

    Bloom sidecars (r12): ``bloom_cols=[...]`` additionally writes a
    per-generation Bloom filter sidecar per named column (see the bloom
    section above) so ``where`` POINT lookups (``=``/``in``) skip
    generations min/max ranges can't.  Sticky like ``stats_cols``;
    filter geometry is fixed per table at first enable (``bloom_bits``
    override, default 2^20) and recorded in the manifest.
    """
    if "g" in df.columns:
        raise ValueError(
            "the manifest table reserves column name 'g' for its "
            "generation partition — rename the input column first "
            "(reads resolve generations as a partition column and would "
            "collide)"
        )
    spark = df.sparkSession
    # optimistic-concurrency rebase loop (r12): a lost conditional PUT
    # means another writer committed first — re-resolve the head; the
    # ledger decides whether OUR batch is now committed (their replay of
    # it won: exactly-once no-op) or disjoint (re-derive at a fresh seq
    # — the losing attempt's generation dir is an orphan vacuum
    # reclaims).  Both racing commits land; none is silently dropped.
    last_conflict: ManifestConflictError | None = None
    for _ in range(MAX_REBASES):
        live = manifest_read(spark, root)
        if live is not None and live.get("table") != "batch-table":
            raise ValueError(
                f"manifest at {root!r} is a {live.get('table')!r} table, "
                "not a batch-table — appending here would publish over "
                "the other store's commit log"
            )
        if live is not None and str(int(batch_id)) in live["batches"]:
            return None  # replay of a committed batch: exactly-once no-op
        # additive evolution against the recorded schema; legacy tables
        # (manifest without a schema) stay inference-read and unrecorded
        if live is None:
            merged = df.schema
        elif live.get("schema") is not None:
            merged = _merge_schema(
                StructType.fromJson(live["schema"]), df.schema
            )
        else:
            merged = None
        # sticky stats setting: an explicit argument wins, else whatever
        # the live manifest records (resolved per attempt — a rebase may
        # land on a head whose setting another writer just changed)
        eff_cols = (
            list(stats_cols)
            if stats_cols is not None
            else list((live or {}).get("stats_cols") or [])
        )
        # sticky bloom setting; geometry fixed per table at first enable
        eff_bloom = (
            list(bloom_cols)
            if bloom_cols is not None
            else list((live or {}).get("bloom_cols") or [])
        )
        if eff_bloom:
            _check_bloom_cols(df.schema, eff_bloom)  # refuse before write
        seq = (live["seq"] + 1) if live else 1
        # ATTEMPT-UNIQUE generation path (fresh_gen docstring): the
        # conditional PUT protects the manifest, not the data dirs — a
        # seq-derived path would let a losing writer's late data write
        # overwrite the winner's committed generation in place.  A
        # crashed/losing attempt's dir is an orphan vacuum reclaims.
        gen = fresh_gen(seq)
        df.write.mode("overwrite").parquet(_gen_dir(root, gen))
        # stats/blooms are computed from the WRITTEN generation, never
        # from the input plan (ADVICE r12): a non-deterministic column
        # (rand/uuid/current_timestamp) or a source that re-reads
        # differently is re-evaluated per ACTION, so input-derived
        # bounds could fail to cover the rows actually written — and
        # where= pruning would then silently drop live rows.  Reading
        # the batch-sized dir back costs one footer-driven scan per
        # append (what compaction/delete already pay) and makes the
        # recorded ranges exact by construction; a rebase re-reads its
        # own fresh dir, so the reuse-across-rebases shortcut is gone
        # by design (the write itself re-executes the plan anyway).
        wdf = (
            spark.read.schema(df.schema).parquet(_gen_dir(root, gen))
            if eff_cols or eff_bloom
            else None
        )
        bloom_params = (live or {}).get("bloom_params")
        if eff_bloom and bloom_params is None:
            # size from the ENABLING batch at ~1% FPP (capped): batches
            # are the generation unit, so the first batch is the honest
            # n_items estimate; undersizing only costs skipping power
            # (higher FPP), never correctness
            if bloom_bits is not None:
                m = ((int(bloom_bits) + 63) // 64) * 64
                k = _BLOOM_HASHES_DEFAULT
            else:
                from ..operators.bloom import optimal_bloom_params

                n = wdf.count()
                if n:
                    m, k = optimal_bloom_params(n, 0.01)
                    m = min(m, _BLOOM_BITS_CAP)
                else:
                    m, k = _BLOOM_BITS_DEFAULT, _BLOOM_HASHES_DEFAULT
            bloom_params = {"num_bits": int(m), "num_hashes": int(k)}
        gens = (list(live["gens"]) if live else []) + [gen]
        batches = dict(live["batches"]) if live else {}
        batches[str(int(batch_id))] = gen
        stats = dict((live or {}).get("stats") or {})
        if eff_cols:
            stats[str(gen)] = collect_gen_stats(wdf, eff_cols)
        blooms = dict((live or {}).get("blooms") or {})
        if eff_bloom:
            # sidecars ride inside the generation dir, BEFORE publish —
            # they share the generation's crash/orphan story
            built = _build_gen_blooms(wdf, eff_bloom, bloom_params)
            _write_gen_bloom_sidecars(
                spark, root, gen, built, bloom_params
            )
            blooms[str(gen)] = sorted(built)
        try:
            return _publish(
                spark, root, gens, batches, seq, schema=merged,
                stats=stats, stats_cols=eff_cols,
                blooms=blooms, bloom_cols=eff_bloom,
                bloom_params=bloom_params,
                dvs=(live or {}).get("dvs"),
            )
        except ManifestConflictError as exc:
            last_conflict = exc
    raise ManifestConflictError(
        f"append of batch {batch_id} to {root!r} lost the conditional "
        f"PUT {MAX_REBASES} times in a row — sustained "
        "multi-writer contention on one table; last conflict: "
        f"{last_conflict}"
    )


def read_manifest_table(
    spark: SparkSession,
    root: str,
    *,
    as_of: int | None = None,
    where=None,
) -> DataFrame:
    """Union of exactly the LIVE generations — orphans from crashed
    appends/compactions are invisible by construction.

    ``as_of`` (r11) reads the SNAPSHOT as of commit seq ``as_of``
    instead (newest manifest ≤ it): time travel for free, because every
    retained manifest fully describes the table at its commit.  The
    window is what retention kept — a vacuumed snapshot's generation
    dirs surface as a clear error here rather than a silent partial
    read.

    When the resolved manifest records a schema (r12), the union is
    read under THAT schema: generations missing later-added columns
    fill null (additive evolution), footerless all-empty generations
    stay readable, and an ``as_of`` read returns the snapshot's own
    schema, not today's.

    ``where`` (r12) is a list of ``(col, op[, value])`` predicates
    (AND-combined; ops ``= < <= > >= in between is_null not_null``) with
    two effects: generations whose recorded stats PROVE no row can match
    are skipped before any directory is listed (manifest-level data
    skipping — the Iceberg/Delta file-stats shape at generation
    granularity), and the predicates are ALSO applied as a real filter
    on the result, so the answer is exactly
    ``read_manifest_table(...).filter(...)`` whatever was or wasn't
    prunable.  Generations without stats for a predicate column are
    always scanned.  A clause may be a DISJUNCTION (r13):
    ``("or", [alt1, alt2, ...])`` with each alt a predicate tuple or a
    list of them — pruning is the union of the per-disjunct survivor
    sets, so a two-date-range window read prunes both ranges'
    generations instead of falling back to an unpredicated scan (see
    :func:`_normalize_where`).  Inspect the decision with
    :func:`plan_manifest_read` (the same helper this read consumes);
    parquet footer/row-group pruning still applies inside the
    generations that survive."""
    m = _live(spark, root, at=as_of)
    if not m["gens"]:
        raise ValueError(f"table manifest at {root!r} lists no generations")
    gens = [int(g) for g in m["gens"]]
    if as_of is not None:
        # snapshot integrity is checked over the WHOLE snapshot, pruned
        # dirs included — a partially-vacuumed snapshot erroring only
        # under some predicates would be a debugging trap.  Deletion-
        # vector files are part of the snapshot too: reading without
        # one would RESURRECT deleted rows, strictly worse than the
        # missing-dir error (_dv_positions re-checks at apply time;
        # this check covers pruned-away vectored gens as well).
        from ..fsutil import dir_exists

        gone = [
            d
            for d in [_gen_dir(root, g) for g in gens]
            if not dir_exists(spark, d)
        ] + [
            p
            for p in sorted({e["path"] for e in _dv_entries_for(m, gens)})
            if not dir_exists(spark, f"{root}/{p}")
        ]
        if gone:
            raise ValueError(
                f"snapshot seq {m['seq']} of {root!r} is no longer fully "
                f"readable — {len(gone)} of its generation dirs / "
                "deletion-vector files were vacuumed (time travel "
                "reaches only what vacuum_manifest_table retained)"
            )
    clauses = _normalize_where(where) if where else []
    if clauses:
        recorded = (
            {f["name"] for f in m["schema"]["fields"]}
            if m.get("schema") is not None
            else None
        )
        if recorded is not None:
            missing = {
                c for c, _op, _v in _where_preds(clauses)
            } - recorded
            if missing:
                raise ValueError(
                    f"where references column(s) {sorted(missing)} not in "
                    f"the table schema at {root!r}"
                )
        gens = [int(g) for g in _pruned_gens(spark, root, m, clauses)]
    if m.get("schema") is not None:
        schema = StructType.fromJson(m["schema"])
        if not gens:  # every generation pruned: statically empty
            out = spark.createDataFrame([], schema)
        else:
            # each dir is read as its own root (no basePath): no
            # partition column is discovered, so the recorded schema IS
            # the result
            out = _apply_dvs(
                spark, root, m,
                spark.read.schema(schema).parquet(
                    *[_gen_dir(root, g) for g in gens]
                ),
                gens,
            )
    else:
        if not gens:
            # legacy table (no recorded schema): nothing to build an
            # empty frame from — read everything; the filter still
            # yields the correct (empty) result
            gens = [int(g) for g in m["gens"]]
        out = _apply_dvs(
            spark, root, m,
            spark.read.option("basePath", _data_root(root)).parquet(
                *[_gen_dir(root, g) for g in gens]
            ),
            gens,
        ).drop("g")
    if clauses:
        out = out.filter(_where_expr(clauses))
    return out


def _zorder_expr(
    df: DataFrame, cols: Sequence[str], total_rows: int,
    *, buckets: int = 16, sample_rows: int = 10_000,
):
    """Morton (Z-order) code column over ``cols``: each column is ranked
    into ``buckets`` quantile buckets (boundaries from a bounded SAMPLE
    — the RangePartitioner approach, so any orderable type works, not
    just what approxQuantile supports), and the bucket ranks' bits are
    interleaved.  Range-splitting on this code gives every column a
    tight per-generation [min,max] simultaneously — multi-dimensional
    data skipping, where a single-column sort clusters only its leading
    column (the public Delta OPTIMIZE ZORDER BY / Iceberg sort-order
    design; implementation original).  Pure column arithmetic
    (when-cascade + shift/or): JVM-side, no UDF."""
    bits = max(1, (int(buckets) - 1).bit_length())
    fraction = min(1.0, sample_rows / max(total_rows, 1))
    sample = df.select(*cols).sample(fraction=fraction, seed=7).collect()
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        vals = sorted(r[c] for r in sample if r[c] is not None)
        cuts = []
        for q in range(1, buckets):
            if vals:
                cuts.append(vals[min(len(vals) - 1, q * len(vals) // buckets)])
        # de-dup while preserving order (ties collapse buckets; harmless)
        seen, bounds = set(), []
        for v in cuts:
            if v not in seen:
                seen.add(v)
                bounds.append(v)
        bucket = None
        for i, b in enumerate(bounds):
            cond = F.col(c) <= F.lit(b)
            bucket = F.when(cond, i) if bucket is None else bucket.when(cond, i)
        bucket = (
            F.lit(0)
            if bucket is None
            else bucket.otherwise(len(bounds))
        )
        bucket = F.coalesce(bucket, F.lit(0)).cast("long")  # nulls -> 0
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                i * len(cols) + j,
            )
    return z


def _gen_all_match(gstats: dict | None, col: str, op: str, val) -> bool:
    """Do the stats PROVE that EVERY row of the generation satisfies
    the predicate?  (The dual of :func:`_gen_matches`: that one proves
    "no row matches" for pruning; this one proves "all rows match" for
    predicated manifest-only aggregates.)  False on any uncertainty.
    Recorded bounds are OUTER bounds (string truncation widens them),
    so containment proofs (`hi < v`, `a <= lo and hi <= b`) stay sound
    under truncation; only equality needs exact bounds."""
    if gstats is None:
        return False
    rows = gstats.get("rows")
    if rows is None:
        return False
    if rows == 0:
        return True  # vacuously: contributes zero rows either way
    ent = (gstats.get("cols") or {}).get(col)
    if ent is None:
        return False
    nulls = int(ent.get("nulls", 0))
    if op == "is_null":
        return nulls >= rows
    if op == "not_null":
        return nulls == 0
    if nulls > 0:
        return False  # a null row never satisfies a comparison
    lo = _stats_decode(ent.get("min"))
    hi = _stats_decode(ent.get("max"))
    if lo is None or hi is None:
        return False
    exact = _stats_is_exact(ent.get("min")) and _stats_is_exact(
        ent.get("max")
    )
    try:
        if op in ("=", "=="):
            return exact and lo == hi == val
        if op == "<":
            return hi < val
        if op == "<=":
            return hi <= val
        if op == ">":
            return lo > val
        if op == ">=":
            return lo >= val
        if op == "between":
            a, b = val
            return a <= lo and hi <= b
        if op == "in":
            return exact and lo == hi and lo in val
    except TypeError:
        return False
    return False


def manifest_table_aggregate(
    spark: SparkSession,
    root: str,
    *,
    as_of: int | None = None,
    where=None,
) -> dict:
    """Whole-table aggregates answered from the MANIFEST alone — zero
    data IO, zero Spark jobs (the Iceberg/Delta aggregate-pushdown
    shape at generation granularity): exact ``rows``, and per tracked
    column exact ``nulls`` plus ``min``/``max``, provided EVERY live
    generation carries stats.  Returns ``{"rows": N, "cols": {col:
    {"min": v, "max": v, "nulls": n}}, "exact": bool}``; when any
    generation lacks stats (written before tracking) or carries an
    unknown bound (NaN), ``exact`` is False and the affected fields are
    None — the caller decides whether to fall back to a real scan.
    Folding is sound because per-generation min/max ignore nulls and
    generations partition the table.

    ``where=`` (r13) answers PREDICATED aggregates when the predicate
    aligns with generation boundaries (the partition-aligned
    aggregate-pushdown case — e.g. "count the last two days" on a
    time-clustered table): each generation is classified from its
    stats as NO rows matching (excluded), ALL rows matching (folded),
    or partial — any partial generation makes the whole answer
    ``{"rows": None, cols None, "exact": False}`` rather than a wrong
    number (fall back to ``read_manifest_table(where=...)``).  Same
    clause forms as the read (OR included); still zero data IO."""
    m = _live(spark, root, at=as_of)
    stats = m.get("stats") or {}
    cols = list(m.get("stats_cols") or [])
    clauses = _normalize_where(where) if where else []
    out: dict = {"rows": 0, "cols": {}, "exact": True}
    acc = {
        c: {"min": None, "max": None, "nulls": 0, "ok": True} for c in cols
    }
    inexact_all = {
        "rows": None,
        "cols": {c: {"min": None, "max": None, "nulls": None} for c in cols},
        "exact": False,
    }
    for g in m["gens"]:
        gs = stats.get(str(int(g)))
        if gs is None or gs.get("rows") is None:
            return dict(inexact_all)
        if clauses:
            # stats-only classification (no sidecar GETs: the zero-IO
            # claim holds even for point predicates — blooms can only
            # prove absence, which stats-level pruning may miss; a
            # kept-but-empty generation then reads as PARTIAL and the
            # answer degrades honestly rather than wrongly)
            none_match = not all(
                any(
                    all(_gen_matches(gs, *p) for p in disj)
                    for disj in clause
                )
                for clause in clauses
            )
            if none_match:
                continue  # contributes nothing, exactly
            all_match = all(
                any(
                    all(_gen_all_match(gs, *p) for p in disj)
                    for disj in clause
                )
                for clause in clauses
            )
            if not all_match:
                return dict(inexact_all)  # partial overlap: be honest
        dv_rows = _dv_rows_of(m, int(g))
        rows = int(gs["rows"]) - dv_rows
        out["rows"] += rows
        for c in cols:
            a = acc[c]
            if dv_rows:
                # a deleted row may have held the min/max or a null —
                # this generation's column stats are over-approximations
                # once a deletion vector lands (sound for pruning, not
                # servable as aggregates); ``rows`` above stays exact
                # because vector cardinalities are recorded and disjoint
                a["ok"] = False
                continue
            ent = (gs.get("cols") or {}).get(c)
            if ent is None:
                a["ok"] = False
                continue
            a["nulls"] += int(ent.get("nulls", 0))
            if rows == 0 or int(ent.get("nulls", 0)) >= rows:
                continue  # no non-null values: nothing to fold
            lo = _stats_decode(ent.get("min"))
            hi = _stats_decode(ent.get("max"))
            if lo is None or hi is None:
                a["ok"] = False  # unknown bound (NaN/unencodable)
                continue
            if not (
                _stats_is_exact(ent.get("min"))
                and _stats_is_exact(ent.get("max"))
            ):
                # truncated string bound: sound for pruning, but not a
                # value any row attains — an aggregate must not serve it
                a["ok"] = False
                continue
            a["min"] = lo if a["min"] is None else min(a["min"], lo)
            a["max"] = hi if a["max"] is None else max(a["max"], hi)
    for c in cols:
        a = acc[c]
        if not a["ok"]:
            out["exact"] = False
            out["cols"][c] = {"min": None, "max": None, "nulls": None}
        else:
            out["cols"][c] = {
                "min": a["min"], "max": a["max"], "nulls": a["nulls"]
            }
    return out


def backfill_manifest_skipping(
    spark: SparkSession,
    root: str,
    *,
    stats_cols=None,
    bloom_cols=None,
    bloom_bits: int | None = None,
) -> dict[str, int]:
    """Enable (or complete) data skipping on an EXISTING table without
    rewriting a byte of data: compute stats and/or Bloom sidecars for
    every generation that lacks them and publish ONE manifest recording
    the results.  This is how a 100 TB table that predates tracking —
    or gained blind generations from a pre-tracking writer — gets
    pruning: per blind generation, one single-row agg plus one filter
    build; no data rewrite (contrast: compaction also recomputes, but
    rewrites).

    ``stats_cols``/``bloom_cols`` default to the table's recorded
    settings; passing them also RECORDS them, so future appends track
    (the sticky setting).  Bloom geometry reuses the table's recorded
    params or is sized from the LARGEST generation at ~1% FPP.

    Protocol note: creating a sidecar file inside an already-published
    generation dir is the one post-publish write the protocol allows —
    it is CREATION, never mutation (readers only probe sidecars the
    manifest's ``blooms`` map names, and the map only changes at this
    publish; the probe cache keys on paths whose content never changes
    once listed).  Returns ``{"stats_backfilled", "blooms_backfilled",
    "published_seq"}`` (seq 0 = nothing to do, no publish)."""
    live = _live(spark, root)
    schema = (
        StructType.fromJson(live["schema"])
        if live.get("schema") is not None
        else None
    )
    eff_stats = list(
        stats_cols if stats_cols is not None
        else live.get("stats_cols") or []
    )
    eff_bloom = list(
        bloom_cols if bloom_cols is not None
        else live.get("bloom_cols") or []
    )
    if not eff_stats and not eff_bloom:
        raise ValueError(
            "nothing to backfill: pass stats_cols/bloom_cols or enable "
            "them on an append first"
        )
    if eff_bloom and not eff_stats:
        raise ValueError(
            "bloom backfill needs stats_cols too — generation row "
            "counts (from stats) size the filters"
        )
    stats = dict(live.get("stats") or {})
    blooms = dict(live.get("blooms") or {})
    gens = [int(g) for g in live["gens"]]

    def _gen_df(g: int):
        if schema is not None:
            return spark.read.schema(schema).parquet(_gen_dir(root, g))
        return spark.read.parquet(_gen_dir(root, g))

    n_stats = 0
    for g in gens:
        # COVERAGE test, not proper-subset (ADVICE r12): existing stats
        # for ['d'] must not satisfy a backfill of ['x'] — disjoint or
        # partially-overlapping column sets used to read as "nothing to
        # do", recording stats_cols the generations don't actually
        # carry (reads stayed correct but scanned those gens forever,
        # and re-running was a permanent no-op).  Recompute whenever
        # any requested column is missing, merging into what exists so
        # already-covered columns keep their entries.
        have = set((stats.get(str(g)) or {}).get("cols") or {})
        if eff_stats and not set(eff_stats) <= have:
            fresh = collect_gen_stats(_gen_df(g), eff_stats)
            old_cols = dict((stats.get(str(g)) or {}).get("cols") or {})
            old_cols.update(fresh["cols"])
            stats[str(g)] = {"rows": fresh["rows"], "cols": old_cols}
            n_stats += 1
    bloom_params = live.get("bloom_params")
    if eff_bloom and bloom_params is None:
        from ..operators.bloom import optimal_bloom_params

        biggest = max(
            (int(stats[str(g)]["rows"]) for g in gens if str(g) in stats),
            default=0,
        )
        if bloom_bits is not None:
            m = ((int(bloom_bits) + 63) // 64) * 64
            k = _BLOOM_HASHES_DEFAULT
        elif biggest:
            m, k = optimal_bloom_params(biggest, 0.01)
            m = min(m, _BLOOM_BITS_CAP)
        else:
            m, k = _BLOOM_BITS_DEFAULT, _BLOOM_HASHES_DEFAULT
        bloom_params = {"num_bits": int(m), "num_hashes": int(k)}
    n_blooms = 0
    for g in gens:
        # same coverage-not-subset rule as the stats pass above; only
        # the MISSING columns get sidecars built (existing sidecars are
        # immutable once the manifest names them — never rewritten)
        missing = [c for c in eff_bloom if c not in set(blooms.get(str(g)) or [])]
        if missing:
            gdf = _gen_df(g)
            _write_gen_blooms(gdf, root, g, missing, bloom_params)
            blooms[str(g)] = sorted(
                set(blooms.get(str(g)) or [])
                | {c for c in missing if c in gdf.columns}
            )
            n_blooms += 1
    if n_stats == 0 and n_blooms == 0 and (
        eff_stats == (live.get("stats_cols") or [])
        and eff_bloom == (live.get("bloom_cols") or [])
    ):
        return {
            "stats_backfilled": 0, "blooms_backfilled": 0,
            "published_seq": 0,
        }
    seq = _publish(
        spark, root, gens, dict(live["batches"]), live["seq"] + 1,
        schema=live.get("schema"), stats=stats, stats_cols=eff_stats,
        blooms=blooms, bloom_cols=eff_bloom, bloom_params=bloom_params,
        dvs=live.get("dvs"),
    )
    return {
        "stats_backfilled": n_stats,
        "blooms_backfilled": n_blooms,
        "published_seq": seq,
    }


def manifest_table_delete(
    spark: SparkSession, root: str, where, *, strategy: str = "cow"
) -> dict[str, int]:
    """Row-level delete, two strategies:

    ``strategy="cow"`` (default) — COPY-ON-WRITE (the Iceberg/Delta CoW
    shape): rewrite, at fresh generation paths, only the generations
    that might contain matching rows, and publish one manifest swapping
    them in.  The skipping machinery is what makes this cheap at scale —
    a keyed delete (GDPR erasure of some doc_ids from a 100 TB table)
    first prunes by min/max stats and Bloom sidecars, then COUNTS
    matches per candidate generation (false-positive candidates are
    left untouched, not rewritten), so the rewrite cost is
    O(generations that truly hold the rows).

    ``strategy="dv"`` (r14) — MERGE-ON-READ deletion vectors: record
    the matched rows' (file, position) addresses in a KB-scale parquet
    sidecar under ``{root}/dv/`` and publish a manifest naming it per
    touched generation — NO data rewrite.  This is the right plan when
    the matched rows are spread across many generations (the wide
    low-selectivity delete, where pruning can't shrink the CoW rewrite
    set: probe-measured 3.9 s vs 76.7 s CoW at the 64-generation aged
    geometry, SCALE.md r14).  Every reader anti-applies live vectors
    (``read_manifest_table``/``_changes``, the merge's probe, CoW
    rewrites); manifest-only aggregates keep ``rows`` exact and degrade
    min/max/nulls of vectored generations honestly.  Vectors are
    MATERIALIZED — applied and dropped — by any rewrite of their
    generation (CoW delete, merge, compaction) or explicitly by
    :func:`materialize_manifest_deletes`; until then reads pay a
    broadcast anti-join on (file, pos).  Erasure becomes DURABLE only
    at materialize+vacuum (the data files still hold the bytes — same
    retention story as CoW's superseded dirs, one step longer).

    Semantics (both): rows matching the ``where`` predicates
    (AND-combined, same language as ``read_manifest_table``) are
    removed; SQL three-valued logic applies — a row whose predicate
    evaluates to NULL does not match and is KEPT (``delete where
    d = 5`` never deletes ``d IS NULL`` rows).  Successive DV deletes
    stack; the DV scan applies prior vectors, so recorded positions are
    disjoint and an already-deleted row never matches again.

    Protocol effects (CoW): untouched generations keep their dirs and
    stats byte-identical; rewritten generations get recomputed
    stats/Bloom sidecars and MATERIALIZE any deletion vectors they
    carried; the batch LEDGER keys are unchanged (replay detection
    survives) with entries remapped onto the rewritten generations;
    retained older manifests still reference the PRE-delete
    generations, so time travel shows the rows until
    ``vacuum_manifest_table`` reclaims them — deletion becomes durable
    at vacuum, exactly the Iceberg retention story.  A crash before
    publish leaves orphans and no visible change; a lost conditional
    PUT aborts loudly (maintenance-class operation: re-run against the
    new head).

    Returns ``{"rows_deleted", "gens_rewritten", "gens_untouched"}``;
    the dv strategy adds ``gens_vectored`` (and reports
    ``gens_rewritten=0`` — nothing moved).
    """
    if strategy not in ("cow", "dv"):
        raise ValueError(
            f"unknown delete strategy {strategy!r} — 'cow' or 'dv'"
        )
    live = _live(spark, root)
    clauses = _normalize_where(where)
    if not clauses:
        raise ValueError(
            "manifest_table_delete needs at least one predicate — to "
            "drop the whole table, delete the root instead"
        )
    gens = sorted(int(g) for g in live["gens"])
    candidates = set(_pruned_gens(spark, root, live, clauses))
    # NULL never matches: kept (SQL three-valued logic)
    match = F.coalesce(_where_expr(clauses), F.lit(False))
    schema = (
        StructType.fromJson(live["schema"])
        if live.get("schema") is not None
        else None
    )
    if strategy == "dv":
        return _delete_dv(
            spark, root, live, sorted(candidates), match, schema, len(gens)
        )
    stats_cols = live.get("stats_cols") or []
    bloom_cols = live.get("bloom_cols") or []
    bloom_params = live.get("bloom_params") or {}
    stats = dict(live.get("stats") or {})
    blooms = dict(live.get("blooms") or {})
    dvs = dict(live.get("dvs") or {})
    batches = dict(live["batches"])
    seq = live["seq"] + 1
    new_gens: list[int] = []
    rows_deleted = 0
    rewritten = 0
    for g in gens:
        if g not in candidates:
            new_gens.append(g)
            continue
        if schema is not None:
            raw = spark.read.schema(schema).parquet(_gen_dir(root, g))
        else:
            raw = spark.read.parquet(_gen_dir(root, g))
        # live view of the generation: deletion vectors anti-applied —
        # match counts/kept rows never include already-deleted rows
        gdf = _apply_dvs(spark, root, live, raw, [g])
        n_match = gdf.where(match).count()
        if n_match == 0:
            new_gens.append(g)  # pruning false positive: untouched
            continue
        rows_deleted += n_match
        rewritten += 1
        kept = gdf.where(~match)
        ng = fresh_gen(seq)  # attempt-unique: see fresh_gen docstring
        kept.write.mode("overwrite").parquet(_gen_dir(root, ng))
        new_gens.append(ng)
        stats.pop(str(g), None)
        blooms.pop(str(g), None)
        dvs.pop(str(g), None)  # materialized by the rewrite
        if stats_cols or (bloom_cols and bloom_params):
            if schema is not None:
                wdf = spark.read.schema(schema).parquet(_gen_dir(root, ng))
            else:
                wdf = spark.read.parquet(_gen_dir(root, ng))
            if stats_cols:
                stats[str(ng)] = collect_gen_stats(wdf, stats_cols)
            if bloom_cols and bloom_params:
                _write_gen_blooms(wdf, root, ng, bloom_cols, bloom_params)
                blooms[str(ng)] = [c for c in bloom_cols if c in wdf.columns]
        # ledger keys unchanged; entries follow their rows' new home
        for b, bg in batches.items():
            if int(bg) == g:
                batches[b] = ng
    if rewritten == 0:
        return {
            "rows_deleted": 0, "gens_rewritten": 0,
            "gens_untouched": len(gens),
        }
    _publish(
        spark, root, new_gens, batches, seq,
        schema=live.get("schema"), stats=stats, stats_cols=stats_cols,
        blooms=blooms, bloom_cols=bloom_cols, bloom_params=bloom_params,
        dvs=dvs,
    )
    return {
        "rows_deleted": rows_deleted,
        "gens_rewritten": rewritten,
        "gens_untouched": len(gens) - rewritten,
    }


def _delete_dv(
    spark: SparkSession, root, live, candidates, match, schema, n_gens
) -> dict[str, int]:
    """The ``strategy="dv"`` branch of :func:`manifest_table_delete`:
    ONE scan over the pruned candidate generations records matched
    positions; one parquet sidecar write; one publish.  Positions are
    taken AFTER anti-applying existing vectors, so stacked vectors stay
    disjoint and recorded cardinalities sum exactly."""
    if not candidates:
        return {
            "rows_deleted": 0, "gens_rewritten": 0,
            "gens_untouched": n_gens, "gens_vectored": 0,
        }
    dirs = [_gen_dir(root, g) for g in candidates]
    raw = (
        spark.read.schema(schema).parquet(*dirs)
        if schema is not None
        else spark.read.option("basePath", _data_root(root)).parquet(*dirs)
    )
    keyed = raw.select(
        "*",
        _dv_rel_file().alias("__dvf"),
        F.col("_metadata.row_index").alias("__dvp"),
    )
    prior = _dv_positions(spark, root, live, candidates)
    if prior is not None:
        keyed = keyed.join(
            prior.withColumnsRenamed({"file": "__dvf", "pos": "__dvp"}),
            ["__dvf", "__dvp"],
            "left_anti",
        )
    did = fresh_gen(live["seq"] + 1)  # attempt-unique like data gens
    (
        keyed.where(match)
        .select(F.col("__dvf").alias("file"), F.col("__dvp").alias("pos"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(_dv_dir(root, did))
    )
    # per-generation cardinalities from the WRITTEN sidecar (the same
    # written-dir determinism rule as stats/blooms); generation id is
    # embedded in the relative file address
    per_gen = {
        int(r["g"]): int(r["n"])
        for r in spark.read.parquet(_dv_dir(root, did))
        .groupBy(
            F.regexp_extract(F.col("file"), r"g=(\d+)/", 1)
            .cast("long")
            .alias("g")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(per_gen.values())
    if total == 0:
        _delete(spark, _dv_dir(root, did), recursive=True)
        return {
            "rows_deleted": 0, "gens_rewritten": 0,
            "gens_untouched": n_gens, "gens_vectored": 0,
        }
    dvs = {g: list(e) for g, e in (live.get("dvs") or {}).items()}
    rel = f"dv/{did}"
    for g, n in sorted(per_gen.items()):
        dvs.setdefault(str(g), []).append({"path": rel, "rows": n})
    _publish(
        spark, root, [int(g) for g in live["gens"]],
        dict(live["batches"]), live["seq"] + 1,
        schema=live.get("schema"),
        stats=live.get("stats"), stats_cols=live.get("stats_cols"),
        blooms=live.get("blooms"), bloom_cols=live.get("bloom_cols"),
        bloom_params=live.get("bloom_params"),
        dvs=dvs,
    )
    return {
        "rows_deleted": total,
        "gens_rewritten": 0,
        "gens_untouched": n_gens,
        "gens_vectored": len(per_gen),
    }


def materialize_manifest_deletes(spark: SparkSession, root: str) -> dict:
    """Fold every live deletion vector into its generation: rewrite each
    VECTORED generation at a fresh path with the vectors anti-applied,
    recompute its stats/Bloom sidecars, and publish one manifest with no
    ``dvs`` entries for the rewritten gens — after which reads pay no
    anti-join and the erasure becomes physically durable once
    :func:`vacuum_manifest_table` reclaims the superseded dirs and
    vector files.  Un-vectored generations keep their dirs
    byte-identical.  This is the explicit counterpart of the implicit
    materialization every rewrite performs (CoW delete, merge,
    compaction) — run it when merge-on-read read tax has accumulated but
    no compaction is due, the Iceberg ``rewrite_position_delete_files``
    + data-rewrite maintenance step in one.

    Returns ``{"gens_materialized", "rows_dropped"}``; no-op (no
    publish) when the table carries no vectors."""
    live = _live(spark, root)
    dvs = {g: list(e) for g, e in (live.get("dvs") or {}).items()}
    vectored = sorted(
        int(g) for g in live["gens"] if dvs.get(str(int(g)))
    )
    if not vectored:
        return {"gens_materialized": 0, "rows_dropped": 0}
    schema = (
        StructType.fromJson(live["schema"])
        if live.get("schema") is not None
        else None
    )
    stats_cols = live.get("stats_cols") or []
    bloom_cols = live.get("bloom_cols") or []
    bloom_params = live.get("bloom_params") or {}
    stats = dict(live.get("stats") or {})
    blooms = dict(live.get("blooms") or {})
    batches = dict(live["batches"])
    seq = live["seq"] + 1
    new_gens = [int(g) for g in live["gens"] if int(g) not in set(vectored)]
    rows_dropped = 0
    for g in vectored:
        rows_dropped += _dv_rows_of(live, g)
        raw = (
            spark.read.schema(schema).parquet(_gen_dir(root, g))
            if schema is not None
            else spark.read.parquet(_gen_dir(root, g))
        )
        kept = _apply_dvs(spark, root, live, raw, [g])
        ng = fresh_gen(seq)  # attempt-unique: see fresh_gen docstring
        kept.write.mode("overwrite").parquet(_gen_dir(root, ng))
        new_gens.append(ng)
        stats.pop(str(g), None)
        blooms.pop(str(g), None)
        dvs.pop(str(g), None)
        if stats_cols or (bloom_cols and bloom_params):
            wdf = (
                spark.read.schema(schema).parquet(_gen_dir(root, ng))
                if schema is not None
                else spark.read.parquet(_gen_dir(root, ng))
            )
            if stats_cols:
                stats[str(ng)] = collect_gen_stats(wdf, stats_cols)
            if bloom_cols and bloom_params:
                _write_gen_blooms(wdf, root, ng, bloom_cols, bloom_params)
                blooms[str(ng)] = [c for c in bloom_cols if c in wdf.columns]
        # ledger keys unchanged; entries follow their rows' new home
        for b, bg in batches.items():
            if int(bg) == g:
                batches[b] = ng
    _publish(
        spark, root, sorted(new_gens), batches, seq,
        schema=live.get("schema"), stats=stats, stats_cols=stats_cols,
        blooms=blooms, bloom_cols=bloom_cols, bloom_params=bloom_params,
        dvs=dvs,
    )
    return {
        "gens_materialized": len(vectored),
        "rows_dropped": rows_dropped,
    }


def manifest_table_merge(
    df: DataFrame,
    root: str,
    key: str,
    batch_id: int,
    *,
    version_order=None,
    stats_cols=None,
    bloom_cols=None,
    bloom_bits: int | None = None,
) -> int | None:
    """Keyed MERGE (SCD1 upsert) as ONE atomic commit: copy-on-write
    delete of every existing row whose ``key`` appears in the batch,
    plus the ledgered append of the batch itself — one manifest, one
    conditional PUT.  The read-back state equals
    ``operators.upsert.scd1_upsert(existing, batch, key=key)`` (U1,
    the reference's per-tuple ``UPDATE dim SET ... WHERE pk = ?`` —
    StreamGeneratorThread.java:205-209 / createDW.sql:26 — made atomic
    per micro-batch), and the table keeps the invariant "at most one
    live row per key" provided each merged batch is key-unique
    (``version_order`` collapses multi-version batches latest-wins
    first, like :func:`~..operators.upsert.latest_per_key`).

    Why this exists (VERDICT r12 #1): ``upsert_parquet_sink``'s dynamic
    partition overwrite is delete+write — NOT atomic on an object
    store; a crash mid-overwrite leaves a partially-rewritten bucket.
    Here a crash at ANY point before publish leaves only unpublished
    orphan generations (no visible change; vacuum reclaims), and a
    crash after publish is a completed merge.  Replay is exactly-once
    via the batch LEDGER — a redelivered committed ``batch_id`` returns
    None untouched — which is STRONGER than the overwrite path's
    byte-idempotency argument.  Losing the conditional PUT rebases like
    :func:`manifest_table_append` (re-derive against the new head; the
    losing attempt's dirs are orphans).

    Scale shape: the rewrite set is chosen by the skipping machinery —
    min/max stats and Bloom sidecars on ``key`` prune the candidate
    generations from the MANIFEST before one probe job counts true
    holders (pruning false positives stay untouched, not rewritten) —
    so a micro-batch merge against a huge dim rewrites O(generations
    that truly hold the batch's keys), the Iceberg/Delta CoW MERGE
    shape.  Track ``stats_cols``/``bloom_cols`` including ``key`` (the
    manifest dim sink does by default) or every merge scans and probes
    all generations.  Up to :data:`_MERGE_INLIST_MAX` distinct batch
    keys are collected to the driver for MANIFEST-LEVEL PRUNING ONLY —
    pure driver math (sorted-bisect vs stats, capped Bloom probes)
    that never enters a Spark plan; the Spark-side probe and rewrite
    filters are ALWAYS joins against the written batch-keys frame
    (r14: an N-literal ``isin`` rewrite filter collapses past a few
    thousand keys — probe-measured 671 s vs 89 s for the join form at
    the aged 64-generation geometry, the r13 In-pushdown cliff's
    expression-size sibling).  A batch past the cap never collects
    (driver-memory bound); the only degradation is losing manifest
    pruning — the right plan anyway for a merge that touches most of
    the table.

    Determinism: the batch is WRITTEN first and its keys (and
    stats/Bloom bits) are derived from the written generation — a
    non-deterministic input can't make the deleted key set diverge
    from the appended rows (same argument as the append's
    written-dir stats).

    NULL-key semantics match ``scd1_upsert``: an existing NULL-key row
    never matches any batch key (kept), and batch NULL-key rows insert.
    Schema evolution is the append's additive rule; rewritten
    generations stay under the table's recorded schema.

    Returns the published seq, or None for a replayed committed batch.
    """
    if "g" in df.columns:
        raise ValueError(
            "the manifest table reserves column name 'g' for its "
            "generation partition — rename the input column first"
        )
    if key not in df.columns:
        raise ValueError(f"merge key {key!r} not in batch columns {df.columns}")
    spark = df.sparkSession
    if version_order is not None:
        from ..operators.upsert import latest_per_key

        df = latest_per_key(df, key, version_order)
    last_conflict: ManifestConflictError | None = None
    for _ in range(MAX_REBASES):
        live = manifest_read(spark, root)
        if live is not None and live.get("table") != "batch-table":
            raise ValueError(
                f"manifest at {root!r} is a {live.get('table')!r} table, "
                "not a batch-table — merging here would publish over "
                "the other store's commit log"
            )
        if live is not None and str(int(batch_id)) in live["batches"]:
            return None  # replay of a committed batch: exactly-once no-op
        if live is None:
            # first merge creates the table: pure ledgered append
            return manifest_table_append(
                df, root, batch_id, stats_cols=stats_cols,
                bloom_cols=bloom_cols, bloom_bits=bloom_bits,
            )
        if live.get("schema") is not None:
            merged_schema = _merge_schema(
                StructType.fromJson(live["schema"]), df.schema
            )
            table_schema = StructType.fromJson(live["schema"])
        else:
            merged_schema = None
            table_schema = None
        eff_cols = (
            list(stats_cols)
            if stats_cols is not None
            else list(live.get("stats_cols") or [])
        )
        eff_bloom = (
            list(bloom_cols)
            if bloom_cols is not None
            else list(live.get("bloom_cols") or [])
        )
        if eff_bloom:
            _check_bloom_cols(df.schema, eff_bloom)
        bloom_params = live.get("bloom_params")
        gens = sorted(int(g) for g in live["gens"])
        seq = live["seq"] + 1
        stats = dict(live.get("stats") or {})
        blooms = dict(live.get("blooms") or {})
        dvs = {g: list(e) for g, e in (live.get("dvs") or {}).items()}
        batches = dict(live["batches"])

        def _gen_df(g: int) -> DataFrame:
            raw = (
                spark.read.schema(table_schema).parquet(_gen_dir(root, g))
                if table_schema is not None
                else spark.read.parquet(_gen_dir(root, g))
            )
            # live view: deletion vectors anti-applied, so probe counts
            # and kept rows never include already-deleted rows (and the
            # rewrite MATERIALIZES the vectors)
            return _apply_dvs(spark, root, live, raw, [g])

        # the batch is written FIRST; keys, stats, and Bloom bits all
        # derive from the WRITTEN generation so a non-deterministic
        # input can't make the deleted key set diverge from the
        # appended rows (same argument as the append's written-dir
        # stats).  A rebase re-writes at its own fresh path.
        bg = fresh_gen(seq)
        df.write.mode("overwrite").parquet(_gen_dir(root, bg))
        wdf = spark.read.schema(df.schema).parquet(_gen_dir(root, bg))
        batch_keys = wdf.select(F.col(key)).where(
            F.col(key).isNotNull()
        ).distinct()
        n_keys = batch_keys.count()
        # The collected key list serves MANIFEST PRUNING ONLY — pure
        # driver math (sorted-bisect vs stats, Bloom probes capped at
        # _BLOOM_PROBE_MAX) that never enters a Spark plan.  The
        # Spark-side probe and rewrite filters are ALWAYS joins against
        # the written batch-keys frame: an N-literal isin expression
        # poisons every per-generation job past a few thousand keys
        # (probe-measured r14: a 50 k-literal isin rewrite took 671 s
        # where the join form took 89 s at 150 k keys on the same aged
        # 64-generation table — the same expression-size cliff class as
        # the r13 In-pushdown stack overflow), while a small batch-keys
        # frame broadcast-joins for the same cost as the literals.
        # Past _MERGE_INLIST_MAX the list is never collected (driver
        # memory bound) and the ONLY degradation is losing manifest
        # pruning — the right plan anyway for a merge that touches most
        # of the table.
        keys = (
            [r[0] for r in batch_keys.collect()]
            if 0 < n_keys <= _MERGE_INLIST_MAX
            else None
        )
        if keys is not None:
            clauses = _normalize_where([(key, "in", keys)])
            candidates = sorted(
                g for g in _pruned_gens(spark, root, live, clauses)
                if g in set(gens)
            )
        elif n_keys:
            candidates = list(gens)  # no driver key list: scan-and-join
        else:
            candidates = []  # empty/all-null-key batch: pure append

        # ONE probe job over all candidates (merge is a hot sink path,
        # unlike the maintenance-class delete's per-generation counts):
        # which candidate generations TRULY hold batch keys, how many
        # rows they'd lose, AND their total row counts — pruning false
        # positives drop out here and are never rewritten, and a
        # generation the batch replaces ENTIRELY (n_match == total) is
        # DROPPED rather than rewritten as an empty dir (its ledger
        # entries remap onto the batch generation, which physically
        # holds every surviving row for those keys) — otherwise a
        # hot-key dim accretes permanently-empty generation dirs that
        # every unpredicated read still lists.
        holders: dict[int, int] = {}
        totals: dict[int, int] = {}
        if candidates:
            import functools

            probe = functools.reduce(
                DataFrame.unionByName,
                [
                    _gen_df(g)
                    .select(F.col(key))
                    .withColumn("__g", F.lit(int(g)))
                    for g in candidates
                ],
            )
            marked = probe.join(
                batch_keys.withColumn("__hit", F.lit(1)),
                on=key,
                how="left",
            )
            for r in (
                marked.groupBy("__g")
                .agg(
                    F.count(F.lit(1)).alias("total"),
                    F.count("__hit").alias("n"),
                )
                .collect()
            ):
                holders[int(r["__g"])] = int(r["n"])
                totals[int(r["__g"])] = int(r["total"])
        new_gens: list[int] = []
        emptied: list[int] = []
        for g in gens:
            n_match = holders.get(g, 0)
            if n_match == 0:
                new_gens.append(g)
                continue
            if n_match == totals.get(g, -1):
                # every LIVE row matched a batch key: nothing to keep —
                # drop the generation (ledger remap to bg happens below)
                emptied.append(g)
                stats.pop(str(g), None)
                blooms.pop(str(g), None)
                dvs.pop(str(g), None)
                continue
            # keep = rows whose key is NOT in the batch; NULL keys kept
            # (scd1 parity: a NULL key never matches any update — a
            # left_anti on the key keeps them, nulls join nothing).
            # Column order pinned to the generation's own (a USING-join
            # must not reorder what the rewrite persists).
            gdf = _gen_df(g)
            kept = gdf.join(
                batch_keys, on=key, how="left_anti"
            ).select(*gdf.columns)
            ng = fresh_gen(seq)  # attempt-unique: see fresh_gen docstring
            kept.write.mode("overwrite").parquet(_gen_dir(root, ng))
            new_gens.append(ng)
            stats.pop(str(g), None)
            blooms.pop(str(g), None)
            dvs.pop(str(g), None)  # materialized by the rewrite
            if eff_cols or (eff_bloom and bloom_params):
                rdf = (
                    spark.read.schema(table_schema).parquet(_gen_dir(root, ng))
                    if table_schema is not None
                    else spark.read.parquet(_gen_dir(root, ng))
                )
                if eff_cols:
                    stats[str(ng)] = collect_gen_stats(rdf, eff_cols)
                if eff_bloom and bloom_params:
                    _write_gen_blooms(rdf, root, ng, eff_bloom, bloom_params)
                    blooms[str(ng)] = [
                        c for c in eff_bloom if c in rdf.columns
                    ]
            # ledger keys unchanged; entries follow their rows' new home
            for b, old_g in batches.items():
                if int(old_g) == g:
                    batches[b] = ng
        if emptied:
            # fully-replaced generations: their batches' surviving rows
            # (none of the old, all of the new per key) live in the
            # batch generation — remap there so every ledger entry still
            # names a LIVE generation, and the changes-read rewrite
            # guard still sees a changed entry for the consumed batches
            dead = {int(g) for g in emptied}
            for b, old_g in batches.items():
                if int(old_g) in dead:
                    batches[b] = bg
        if eff_bloom and bloom_params is None:
            from ..operators.bloom import optimal_bloom_params

            if bloom_bits is not None:
                mbits = ((int(bloom_bits) + 63) // 64) * 64
                k = _BLOOM_HASHES_DEFAULT
            else:
                n = wdf.count()
                if n:
                    mbits, k = optimal_bloom_params(n, 0.01)
                    mbits = min(mbits, _BLOOM_BITS_CAP)
                else:
                    mbits, k = _BLOOM_BITS_DEFAULT, _BLOOM_HASHES_DEFAULT
            bloom_params = {"num_bits": int(mbits), "num_hashes": int(k)}
        if eff_cols:
            stats[str(bg)] = collect_gen_stats(wdf, eff_cols)
        if eff_bloom:
            built = _build_gen_blooms(wdf, eff_bloom, bloom_params)
            _write_gen_bloom_sidecars(spark, root, bg, built, bloom_params)
            blooms[str(bg)] = sorted(built)
        new_gens.append(bg)
        batches[str(int(batch_id))] = bg
        try:
            return _publish(
                spark, root, new_gens, batches, seq,
                schema=(
                    json.loads(merged_schema.json())
                    if merged_schema is not None
                    else None
                ),
                stats=stats, stats_cols=eff_cols,
                blooms=blooms, bloom_cols=eff_bloom,
                bloom_params=bloom_params,
                dvs=dvs,
            )
        except ManifestConflictError as exc:
            last_conflict = exc
    raise ManifestConflictError(
        f"merge of batch {batch_id} into {root!r} lost the conditional "
        f"PUT {MAX_REBASES} times in a row — sustained multi-writer "
        f"contention on one table; last conflict: {last_conflict}"
    )


def manifest_upsert_sink(
    path: str,
    key: str,
    *,
    version_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
):
    """``foreachBatch`` sink factory: maintain a keyed dim table on the
    MANIFEST layout — the object-store-atomic counterpart of
    ``operators.upsert.upsert_parquet_sink`` (whose dynamic partition
    overwrite is delete+write, the one non-atomic commit left in the
    manifest posture; VERDICT r12 #1).  Each micro-batch is one
    :func:`manifest_table_merge`: CoW delete of matched keys + ledgered
    append in ONE conditional PUT, exactly-once under replay via the
    ledger.  Read the dim back with :func:`read_manifest_table`.

    ``stats_cols``/``bloom_cols`` default to ``[key]`` — the merge's
    own candidate pruning needs them; pass explicitly to track more.
    ``version_cols`` picks the within-batch winner per key (defaults to
    all non-key columns, matching ``upsert_parquet_sink``'s collapse).
    Aging: one generation per batch — schedule
    :func:`compact_manifest_table`, sound here because merge keeps the
    table key-unique at rest."""
    eff_stats = [key] if stats_cols is None else list(stats_cols)
    eff_bloom = [key] if bloom_cols is None else list(bloom_cols)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        order = [
            F.col(c)
            for c in (
                version_cols
                if version_cols is not None
                else [c for c in batch_df.columns if c != key]
            )
        ]
        manifest_table_merge(
            batch_df, path, key, batch_id,
            version_order=order or None,
            stats_cols=eff_stats, bloom_cols=eff_bloom,
        )

    return _sink


def read_manifest_table_changes(
    spark: SparkSession,
    root: str,
    since_seq: int,
    *,
    as_of: int | None = None,
    where=None,
) -> DataFrame:
    """INCREMENTAL read: exactly the rows appended by commits AFTER
    ``since_seq`` (up to the live head, or ``as_of``).  The batch LEDGER
    makes this a manifest diff — batches present at the head but not in
    the ``since_seq`` snapshot — and each such batch's rows are its own
    generation dir, so the read unions only the NEW generations: a
    downstream incremental consumer (re-train, re-index, replicate)
    pays O(new data), never a full-table diff.  Returns an empty,
    schema-stable frame when nothing changed.

    Boundaries, stated loudly rather than silently wrong:

    * the ``since_seq`` manifest must still be RETAINED
      (``manifest_vacuum`` keep window) — otherwise the set of
      already-delivered batches is unknowable and the read raises;
    * a compaction that merged any post-``since_seq`` batch's
      generation makes those rows inseparable from older ones — the
      read raises and names the batches; size the maintenance
      ``keep_last`` (newest generations stay verbatim) to exceed the
      consumer's maximum lag, exactly the retention-vs-reader contract
      the vacuum documents;
    * a ROW-LEVEL REWRITE (``manifest_table_delete`` /
      ``manifest_table_merge``) of a generation the cursor already
      consumed is detected via the ledger remap and raises (r13): this
      is an APPEND-ONLY delta — it cannot express the retraction of
      rows it already delivered, so silently returning only the new
      rows would leave the consumer double-counting; re-baseline with
      a full read (GDPR-erasure downstreams must re-sync anyway).
      Detection reaches what the ledger can attribute: batches whose
      generations were already COMPACTED lose per-batch attribution
      (their ledger entries go stale at the merge), so a delete inside
      a merged generation is invisible to this guard — the same
      keep-the-verbatim-window-longer-than-the-lag contract as the
      compaction boundary above.

    ``where=`` (r13) prunes the NEW generations by their recorded
    stats/Bloom sidecars and applies the same predicates as a filter —
    identical semantics and clause forms (OR included) as
    :func:`read_manifest_table`; a month-scoped incremental consumer
    pays O(new data within the window).

    The consumer protocol is the same seq-cursor Delta/Iceberg
    incremental reads use: process ``read_manifest_table_changes(root,
    cursor)``, then advance ``cursor`` to the head seq (returned by the
    appends, or ``manifest_read(...)["seq"]``)."""
    head = _live(spark, root, at=as_of)
    base = manifest_read(spark, root, at=int(since_seq))
    if base is None:
        raise ValueError(
            f"no retained manifest at or before seq {since_seq} at "
            f"{root!r} — the change window is bounded by manifest "
            "retention (manifest_vacuum keep_last); re-baseline with a "
            "full read"
        )
    if base.get("table") != "batch-table":
        raise ValueError(
            f"manifest at {root!r} is a {base.get('table')!r} table, "
            "not a batch-table"
        )
    done = set(base["batches"])
    new = {
        b: int(g) for b, g in head["batches"].items() if b not in done
    }
    # delete/merge remap the ledger entries of generations they rewrite
    # (compaction does not) — a remapped DONE batch means rows this
    # cursor already delivered were since removed/replaced
    rewritten = sorted(
        b for b in done
        if b in head["batches"]
        and int(head["batches"][b]) != int(base["batches"][b])
    )
    if rewritten:
        raise ValueError(
            f"batches {rewritten} delivered before seq {since_seq} were "
            "row-level rewritten since (manifest_table_delete/merge) — "
            "an append-only changes read cannot express the retraction "
            "of rows it already delivered; re-baseline with a full read"
        )
    live_gens = {int(g) for g in head["gens"]}
    merged_away = sorted(b for b, g in new.items() if g not in live_gens)
    if merged_away:
        raise ValueError(
            f"batches {merged_away} committed after seq {since_seq} were "
            "already compacted into merged generations — their rows are "
            "no longer separable from older data.  Read changes before "
            "maintenance merges them: keep the compaction keep_last "
            "window larger than the consumer's lag (same contract as "
            "the snapshot-read/vacuum race), or re-baseline with a full "
            "read"
        )
    # deletion vectors (r14) retract rows WITHOUT remapping the ledger —
    # a vector landing on a generation that was live at the cursor
    # means rows this cursor may already have delivered were since
    # deleted, which an append-only delta cannot express: raise, same
    # contract as the rewrite guard above.  Vectors on NEW generations
    # are fine (those rows were never delivered — the read below
    # anti-applies them and delivers the net).
    base_live = {int(g) for g in base["gens"]}
    base_dvs = base.get("dvs") or {}
    head_dvs = head.get("dvs") or {}
    vectored = sorted(
        g for g in base_live
        if g in live_gens
        and (head_dvs.get(str(g)) or []) != (base_dvs.get(str(g)) or [])
    )
    if vectored:
        raise ValueError(
            f"generations {vectored} delivered at or before seq "
            f"{since_seq} gained deletion vectors since "
            "(manifest_table_delete strategy='dv') — an append-only "
            "changes read cannot express the retraction of rows it "
            "already delivered; re-baseline with a full read"
        )
    schema = (
        StructType.fromJson(head["schema"])
        if head.get("schema") is not None
        else None
    )
    clauses = _normalize_where(where) if where else []
    gens = sorted(new.values())
    if clauses and gens:
        # prune among the NEW generations only, using the head
        # manifest's recorded stats/sidecars — same decision machinery
        # as the full read (_plan_gens), restricted to the delta
        sub = dict(head)
        sub["gens"] = gens
        gens = _pruned_gens(spark, root, sub, clauses)
    if not new or not gens:
        if schema is not None:
            out = spark.createDataFrame([], schema)
        else:
            out = read_manifest_table(spark, root, as_of=as_of).limit(0)
    else:
        dirs = [_gen_dir(root, g) for g in gens]
        if schema is not None:
            out = _apply_dvs(
                spark, root, head,
                spark.read.schema(schema).parquet(*dirs), gens,
            )
        else:
            out = _apply_dvs(
                spark, root, head,
                spark.read.option("basePath", _data_root(root)).parquet(
                    *dirs
                ),
                gens,
            ).drop("g")
    if clauses:
        out = out.filter(_where_expr(clauses))
    return out


def _gen_bytes(spark: SparkSession, root: str, g: int) -> int:
    """On-disk bytes of one generation dir — the size-tiering input.
    Hadoop ``getContentSummary`` (one RPC; LIST on object stores) with a
    local ``os.walk`` fallback for Connect sessions."""
    from ..fsutil import hadoop_fs

    path = _gen_dir(root, g)
    got = hadoop_fs(spark, path)
    if got is not None:
        fs, jpath = got
        if not fs.exists(jpath):
            return 0
        return int(fs.getContentSummary(jpath).getLength())
    lp = path.removeprefix("file://").removeprefix("file:")
    total = 0
    for dirpath, _dirs, files in _os.walk(lp):
        for f in files:
            try:
                total += _os.path.getsize(_os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def compact_manifest_table(
    spark: SparkSession,
    root: str,
    *,
    keep_last: int = 2,
    target_file_mb: int = 128,
    sort_by: list[str] | None = None,
    min_merge_mb: float | None = None,
    range_split_mb: float | None = None,
    zorder_by: list[str] | None = None,
) -> dict[str, int]:
    """Merge the SMALL generations older than the newest ``keep_last``
    into ONE fresh generation, bin-packed to ~``target_file_mb`` files
    (sized from the file listing, like ``compact_table``) and optionally
    range-sorted on ``sort_by`` so footer stats stay selective.  Commit
    is one manifest publish; the superseded dirs await
    :func:`vacuum_manifest_table`.  A crash leaves the live table
    untouched — no staging validation, no rollback, no brief-absence
    window (``compact_lsh_index``'s rename caveats), because nothing was
    published.  The batch ledger is unchanged: exactly-once survives any
    number of compactions.

    Size tiering (r12): generations at or above ``min_merge_mb``
    (default ``target_file_mb``) are FROZEN — already compact, never
    re-merged.  Without the tier, every scheduled pass re-merged the
    previously-merged big generation with the new small ones, so the
    total bytes a maintained stream rewrites grows QUADRATICALLY in
    stream age (measured: the r12 20×/20-batch probe paid ~6.4 s per
    cadence pass, most of it re-rewriting already-compacted rows) — a
    scale-killer at 10⁵ batches.  With the tier, a row is rewritten at
    most ~``min_merge_mb / batch_mb`` times ever, CONSTANT in stream
    age, and the generation-dir count stays O(table_size/min_merge_mb +
    keep_last + cadence) — bounded listing growth, bounded rewrite.

    Generation stats (r12): when the table records ``stats_cols``, the
    pass recomputes stats for what it writes (from the WRITTEN files,
    so the recorded ranges are exact) and carries untouched
    generations' stats forward — ``where=`` pruning survives any number
    of compactions.

    Range-split clustering (r12): ``range_split_mb=N`` (requires
    ``sort_by``) writes the merged output as MULTIPLE generations of
    ~N MB each, range-partitioned on ``sort_by`` in ONE write job
    (rows are routed by ``repartitionByRange`` and each shuffle
    partition lands as its own attempt-unique generation dir via
    ``partitionBy``).  Each generation then covers a narrow, disjoint
    slice of the sort key, so its recorded [min,max] prunes tightly —
    this is the clustered layout that makes ``where`` reads on an aged
    table touch O(selectivity) dirs instead of all of them.  Size ``N``
    at or above ``min_merge_mb`` so split generations FREEZE (they are
    deliberately many; re-merging them would undo the clustering), and
    well above the per-file target — a one-file generation layout at
    file granularity would re-create the measured file-level-manifest
    listing pessimization (SCALE.md r11).

    Z-order clustering (r12): ``zorder_by=[...]`` (with
    ``range_split_mb``, instead of ``sort_by``) range-splits on the
    MORTON CODE of the columns' quantile-bucket ranks
    (:func:`_zorder_expr`), so EVERY listed column gets a tight
    per-generation range simultaneously — a single-column sort clusters
    only its leading column, leaving predicates on the second dimension
    unprunable.  Record the same columns in ``stats_cols``; the pruning
    machinery is unchanged, only the layout gets smarter."""
    if zorder_by and sort_by:
        raise ValueError(
            "sort_by and zorder_by are exclusive — one linear order per "
            "rewrite"
        )
    if zorder_by and range_split_mb is None:
        raise ValueError(
            "zorder_by needs range_split_mb — Z-order clustering only "
            "pays off when the merge is split into multiple generations "
            "whose stats can prune"
        )
    if range_split_mb is not None and not (sort_by or zorder_by):
        raise ValueError(
            "range_split_mb needs sort_by or zorder_by — the split IS "
            "the sort-key range partitioning"
        )
    live = _live(spark, root)
    gens = sorted(int(g) for g in live["gens"])
    old = gens[: max(0, len(gens) - keep_last)] if keep_last > 0 else gens
    limit = int(
        (target_file_mb if min_merge_mb is None else min_merge_mb)
        * (1 << 20)
    )
    old = [g for g in old if _gen_bytes(spark, root, g) < limit]
    files_before = len(
        read_manifest_table(spark, root).inputFiles()
    )
    if len(old) < 2:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "rows": read_manifest_table(spark, root).count(),
            "gens_before": len(gens),
            "gens_after": len(gens),
        }
    seq = live["seq"] + 1
    old_dirs = [_gen_dir(root, g) for g in old]
    if live.get("schema") is not None:
        # recorded schema: evolved/footerless generations merge cleanly
        raw = spark.read.schema(
            StructType.fromJson(live["schema"])
        ).parquet(*old_dirs)
        merged = _apply_dvs(spark, root, live, raw, old)
    else:
        raw = spark.read.option("basePath", _data_root(root)).parquet(
            *old_dirs
        )
        # deletion vectors of the merged generations MATERIALIZE here:
        # the rewrite carries only live rows, and their dv entries drop
        # with the superseded gens at publish
        merged = _apply_dvs(spark, root, live, raw, old).drop("g")
    files = raw.inputFiles()
    total_bytes = 0
    for f in files:
        try:
            total_bytes += _os.path.getsize(f.removeprefix("file:"))
        except OSError:
            total_bytes = 0  # non-local: ~8 inputs per output heuristic
            break
    rows = merged.count()
    if range_split_mb is not None:
        # one write job: route rows into ~range_split_mb range slices,
        # land every slice as its own attempt-unique generation dir.
        # Empty slices (quantile ties) write no dir and publish nothing.
        n_gens = (
            max(1, math.ceil(total_bytes / (range_split_mb * (1 << 20))))
            if total_bytes
            else max(1, len(files) // 8)
        )
        base = fresh_gen(seq)  # gen ids base..base+n_gens-1: seq-major,
        # attempt-unique as a BLOCK (the 32-bit random offset makes two
        # attempts' blocks disjoint with probability 1 - n/2^32)
        if zorder_by:
            clustered = (
                merged.withColumn(
                    "__z", _zorder_expr(merged, zorder_by, rows)
                )
                .repartitionByRange(n_gens, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            clustered = merged.repartitionByRange(
                n_gens, *[F.col(c) for c in sort_by]
            ).sortWithinPartitions(*sort_by)
        (
            clustered.withColumn(
                "g",
                F.lit(int(base)).cast("long")
                + F.spark_partition_id().cast("long"),
            )
            .write.partitionBy("g")
            .mode("append")
            .parquet(_data_root(root))
        )
        written = [
            int(name.split("=", 1)[1])
            for name in _ls_names(spark, _data_root(root))
            if name.startswith("g=")
            and name.split("=", 1)[1].isdigit()
            and base <= int(name.split("=", 1)[1]) < base + n_gens
        ]
        new_ids = sorted(written)
    else:
        n_out = (
            max(1, math.ceil(total_bytes / (target_file_mb << 20)))
            if total_bytes
            else max(1, len(files) // 8)
        )
        packed = (
            merged.repartitionByRange(n_out, *[F.col(c) for c in sort_by])
            .sortWithinPartitions(*sort_by)
            if sort_by
            else merged.repartition(n_out)
        )
        gen = fresh_gen(seq)  # attempt-unique: see fresh_gen docstring
        packed.write.mode("overwrite").parquet(_gen_dir(root, gen))
        new_ids = [gen]
    stats_cols = live.get("stats_cols") or []
    stats = {
        g: s
        for g, s in (live.get("stats") or {}).items()
        if int(g) not in set(old)
    }
    bloom_cols = live.get("bloom_cols") or []
    bloom_params = live.get("bloom_params") or {}
    blooms = {
        g: c
        for g, c in (live.get("blooms") or {}).items()
        if int(g) not in set(old)
    }
    if stats_cols or bloom_cols:
        # exact stats/blooms from the WRITTEN generations — one
        # single-row agg (+ one bloom build per column) per new
        # generation: generation-count-sized driver work
        for g in new_ids:
            if live.get("schema") is not None:
                gdf = spark.read.schema(
                    StructType.fromJson(live["schema"])
                ).parquet(_gen_dir(root, g))
            else:
                gdf = spark.read.parquet(_gen_dir(root, g))
            if stats_cols:
                stats[str(g)] = collect_gen_stats(gdf, stats_cols)
            if bloom_cols and bloom_params:
                _write_gen_blooms(gdf, root, g, bloom_cols, bloom_params)
                blooms[str(g)] = [c for c in bloom_cols if c in gdf.columns]
    new_gens = sorted(new_ids + [g for g in gens if g not in old])
    _publish(
        spark, root, new_gens, dict(live["batches"]), seq,
        schema=live.get("schema"), stats=stats, stats_cols=stats_cols,
        blooms=blooms, bloom_cols=bloom_cols, bloom_params=bloom_params,
        # merged gens' vectors were materialized by the rewrite; kept
        # gens' vectors ride forward (_publish filters to live gens)
        dvs=live.get("dvs"),
    )
    return {
        "files_before": files_before,
        "files_after": len(read_manifest_table(spark, root).inputFiles()),
        "rows": rows,
        "gens_before": len(gens),
        "gens_after": len(new_gens),
    }


def vacuum_manifest_table(
    spark: SparkSession,
    root: str,
    *,
    keep_manifests: int = 3,
    live_stream: bool = False,
) -> dict[str, int]:
    """Reclaim what no RETAINED snapshot references: first expire
    manifest files beyond the newest ``keep_manifests`` (shrinking the
    time-travel window, Iceberg's expire-snapshots step), then delete
    every generation dir referenced by none of the manifests that
    remain — superseded generations past the window and crash orphans
    alike.  Every retained manifest therefore stays FULLY readable via
    ``read_manifest_table(as_of=...)``; the snapshot window and the
    storage bound are the same ``keep_manifests`` knob.

    Snapshot-read vs vacuum race (r12, the classic Iceberg retention
    race): a reader that resolved manifest ``v=k`` — a pinned ``as_of``
    or simply a long-running live read — scans k's generation dirs for
    as long as its job runs; a concurrent vacuum can reclaim those dirs
    mid-read once newer commits push k outside the retention window.
    THE CONTRACT IS TIME-BASED: keep the retention window (the wall
    time ``keep_manifests`` commits span) longer than the longest read
    you run against the table.  ``live_stream=True`` declares that the
    table's owning stream is committing concurrently and REFUSES
    ``keep_manifests``
    below 2 — with only the newest manifest retained, every new commit
    immediately invalidates the manifest any in-flight reader resolved,
    so even instant reads race."""
    from ..manifest import manifest_history

    if live_stream and keep_manifests < 2:
        raise ValueError(
            f"keep_manifests={keep_manifests} on a LIVE stream's table: "
            "every new commit would immediately reclaim the generations "
            "of the manifest any concurrent reader just resolved "
            "(snapshot-read/vacuum race) — keep at least 2, sized so "
            "the retention window outlasts your longest read"
        )
    _live(spark, root)  # kind check + fail loudly on an empty root
    n_manifests = len(manifest_vacuum(spark, root, keep_last=keep_manifests))
    history = manifest_history(spark, root)
    keep = {int(g) for m in history for g in m.get("gens", ())}
    dropped = 0
    for name in _ls_names(spark, _data_root(root)):
        if not name.startswith("g="):
            continue
        try:
            g = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if g not in keep and _delete(
            spark, f"{_data_root(root)}/{name}", recursive=True
        ):
            dropped += 1
    # deletion-vector files referenced by NO retained manifest — vectors
    # of materialized/expired snapshots and crash orphans alike (r14).
    # This is also where a DV erasure becomes physically DURABLE: the
    # deleted rows' bytes live on in the data files until their
    # generation is rewritten, but the positions sidecar of an expired
    # snapshot goes here.
    keep_dv = {
        e["path"].split("/", 1)[1]
        for m in history
        for entries in (m.get("dvs") or {}).values()
        for e in entries
    }
    dv_dropped = 0
    for name in _ls_names(spark, f"{root}/dv"):
        if name not in keep_dv and _delete(
            spark, f"{root}/dv/{name}", recursive=True
        ):
            dv_dropped += 1
    return {
        "data_dirs_deleted": dropped,
        "manifests_deleted": n_manifests,
        "dv_files_deleted": dv_dropped,
    }
