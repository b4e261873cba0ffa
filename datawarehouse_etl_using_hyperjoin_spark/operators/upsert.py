"""Keyed-upsert (SCD Type 1) operators — the ETL "write path".

Reference: per-tuple JDBC ``UPDATE dim SET ... WHERE pk = ?`` per dimension
(StreamGeneratorThread.java:151-354) and SQL-side ``INSERT ... ON DUPLICATE
KEY UPDATE`` (createDW.sql:26,38,49,76-80).  Spark-core parquet has no MERGE,
so the upsert is the canonical anti-join + union:

    result = updates ∪ (existing ⟕̸ updates)      -- latest wins per key

At scale the anti-join shuffles both sides on the key once; for a dim that
fits in memory the updates side broadcast makes it shuffle-free.  The
``foreachBatch`` sink (ST6) computes the same result as one window over
``batch ∪ existing``, merging into a copy of the dim it keeps in memory
between batches — idempotent per batch because re-running the same
update batch yields the same table state.  Like the reference's UPDATE
that affects 0 rows (StreamGeneratorThread.java:172-176), a batch that
changes no row of that copy writes nothing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(updates: DataFrame, key: str, version_order: list[Column]) -> DataFrame:
    """Collapse an update batch to one row per key, latest version wins
    (SURVEY.md W1 window; fixes nondeterminism a naive dropDuplicates has)."""
    w = Window.partitionBy(key).orderBy(*version_order)
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def scd1_upsert(
    existing: DataFrame,
    updates: DataFrame,
    *,
    key: str,
    version_order: list[Column] | None = None,
) -> DataFrame:
    """SCD-Type-1 upsert: update matched keys in place, insert new keys.

    ``version_order`` (e.g. ``[F.col("ts").desc()]``) picks the winner when
    an update batch carries several versions of one key; omitted → the batch
    is assumed key-unique (the reference's per-tuple updates are).
    """
    if version_order is not None:
        updates = latest_per_key(updates, key, version_order)
    untouched = existing.join(updates, on=key, how="left_anti")
    return updates.unionByName(untouched)


def scd2_upsert(
    existing: DataFrame,
    updates: DataFrame,
    *,
    key: str,
    effective_col: str = "effective_date",
    attrs: list[str] | None = None,
) -> DataFrame:
    """SCD-Type-2 upsert: keep full attribute history as validity intervals.

    ``existing`` carries (key, attrs…, valid_from, valid_to, is_current);
    ``updates`` carries (key, attrs…, effective_col).  For each key whose
    tracked attributes actually changed (null-safe comparison), the current
    row is closed (``valid_to = effective``, ``is_current = false``) and a
    new current row is opened; no-op updates leave the table untouched;
    unseen keys are inserted as fresh current rows.  Multi-version update
    batches are collapsed latest-wins first (one version step per batch —
    chain batches for multi-step history).

    The reference only does Type 1 (UPDATE in place,
    StreamGeneratorThread.java:205-209); Type 2 is the standard companion
    the star schema's analytic purpose implies (segment history, price
    history).  Scale posture: one key-shuffle for the change detection
    join + anti-joins (broadcast when the update batch is small — the
    common case for dims); history rows are written once and never
    rewritten, so the table grows append-only per closed interval.

    Precondition: every update's ``effective_col`` must be >= the current
    row's ``valid_from`` (history arrives in order — true for the
    reference's stream and any log-ordered CDC feed).  An out-of-order
    effective date produces an inverted closed interval
    (``valid_to < valid_from``) rather than silently rewriting history;
    tests/test_scd2.py pins that behavior.
    """
    meta = ("valid_from", "valid_to", "is_current")
    if attrs is None:
        attrs = [c for c in updates.columns if c != key and c != effective_col]
    out_cols = [key, *attrs, *meta]
    eff_type = updates.schema[effective_col].dataType

    updates = latest_per_key(updates, key, [F.col(effective_col).desc()])
    hist = existing.filter(~F.col("is_current")).select(*out_cols)
    cur = existing.filter(F.col("is_current")).select(key, *attrs, "valid_from")

    changed_pred = F.lit(False)
    for a in attrs:
        changed_pred = changed_pred | ~F.col(f"e.{a}").eqNullSafe(F.col(f"u.{a}"))
    changed = cur.alias("e").join(updates.alias("u"), on=key, how="inner").filter(
        changed_pred
    )
    closed = changed.select(
        F.col(key),
        *[F.col(f"e.{a}").alias(a) for a in attrs],
        F.col("e.valid_from").alias("valid_from"),
        F.col(f"u.{effective_col}").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened = changed.select(
        F.col(key),
        *[F.col(f"u.{a}").alias(a) for a in attrs],
        F.col(f"u.{effective_col}").alias("valid_from"),
        F.lit(None).cast(eff_type).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    untouched = cur.join(changed.select(key), on=key, how="left_anti").select(
        F.col(key),
        *attrs,
        "valid_from",
        F.lit(None).cast(eff_type).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    fresh = updates.join(cur.select(key), on=key, how="left_anti").select(
        F.col(key),
        *attrs,
        F.col(effective_col).alias("valid_from"),
        F.lit(None).cast(eff_type).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        hist.unionByName(untouched)
        .unionByName(closed)
        .unionByName(opened)
        .unionByName(fresh)
    )


def _merge_latest(batch: DataFrame, existing: DataFrame | None, key: str) -> DataFrame:
    """``scd1_upsert(existing, latest_per_key(batch, key, V))`` as ONE
    window over ``batch ∪ existing``, so dedup and merge share one shuffle
    on ``key``: per key, batch rows rank before existing rows, then by
    ``V`` (every non-key column, ascending), and the first row wins.

    This equals the anti-join form whenever ``existing`` holds each
    non-NULL key at most once, as the dim :func:`upsert_parquet_sink`
    maintains does.  NULL keys keep the anti-join's semantics: an
    existing NULL-key row never matches an update, so every one of them
    survives unchanged beside the batch's winning NULL-key row.  A
    table whose columns differ from the batch's fails in the union, at
    analysis, before any job runs."""
    version = [F.col(c) for c in batch.columns if c != key]
    both = batch.withColumn("__src", F.lit(0))
    if existing is not None:
        both = both.unionByName(existing.withColumn("__src", F.lit(1)))
    w = Window.partitionBy(key).orderBy(F.col("__src"), *version)
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) | (F.col(key).isNull() & (F.col("__src") == 1)))
        .drop("__rn", "__src")
    )


def _unchanged(batch: DataFrame, dim: DataFrame, key: str) -> bool:
    """True when merging ``batch`` into the key-unique ``dim`` gives
    ``dim`` back: every batch row equals a ``dim`` row on every column
    (null-safe, ``<=>``) and has a non-NULL key.  One anti-join of the
    batch against ``dim``; the check is conservative, so a key with two
    batch versions, one of them stored, counts as a change and the merge
    decides.  A NULL-key row always counts as a change, since the merge
    adds it beside the stored ones.  A batch whose columns differ from
    ``dim``'s is left to the merge, which fails it in the union."""
    if sorted(batch.columns) != sorted(dim.columns):
        return False
    same = batch[key].isNotNull()
    for c in batch.columns:
        same = same & batch[c].eqNullSafe(dim[c])
    return batch.join(dim, same, "left_anti").isEmpty()


def _release(dim: DataFrame) -> None:
    """Free a ``localCheckpoint``'s blocks now instead of at JVM GC.  A
    no-op under Spark Connect, which has no JVM handle and releases a
    checkpoint when its frame is collected."""
    jdf = getattr(dim, "_jdf", None)
    if jdf is not None:
        jdf.queryExecution().analyzed().rdd().unpersist(False)


def upsert_parquet_sink(path: str, key: str):
    """``foreachBatch`` sink factory: maintain a keyed parquet dim table.

    Usage::

        q = (enriched.writeStream
             .foreachBatch(upsert_parquet_sink("/dw/dim_product", "product_id"))
             .start())

    Each call merges the batch into the current table with
    :func:`_merge_latest` (one window: dedup and SCD1 merge in one
    shuffle; per key a batch row beats the table's row, and among a key's
    batch rows the first by every non-key column ascending wins) and
    overwrites the table with the result: the batch job analogue of the reference's per-tuple JDBC
    UPDATE loop, but atomic per micro-batch and idempotent on replay (ST6:
    the reference's autocommit per-tuple writes are at-least-once at best,
    StreamGeneratorThread.java:159).

    **Resident dim.**  The merged table is ``localCheckpoint``-ed before
    the overwrite (the plan must not read the path it rewrites), and the
    sink keeps that copy after a successful call, with the directory
    listing (name, length, mtime of each entry; :func:`~..fsutil.dir_listing`)
    taken right after its own write.  The next call merges into the
    resident copy, with no read of the table, only when the listing is
    unchanged.  It reads the table from disk instead on the first call
    of a sink instance (so a restart or replay reads what is committed),
    on the call after a failed call (the resident copy is dropped before
    any work), when any other writer has touched the directory, and
    under Spark Connect (no listing).  Once a new generation is written
    the previous one's checkpoint blocks are released at once, so one
    sink holds one generation.

    **No-change skip.**  Before it merges into the resident copy, the
    sink checks with :func:`_unchanged` (one anti-join of the batch
    against that copy on ``<=>`` of every column) whether the batch
    changes the dim.  When every batch row equals a stored row and no
    batch row has a NULL key, the call returns at once: no merge, no
    ``localCheckpoint``, no overwrite and no second listing, so the
    table's files and mtimes stay as they are and the sink keeps the
    same resident generation.  The check is conservative: two versions
    of one key, one of them stored, go through the merge, which then
    decides.  ``<=>`` compares values as SQL does, so ``-0.0`` equal to
    ``0.0`` and NaN equal to NaN count as unchanged and the stored value
    stays.  A call that reads the table from disk always merges: a table
    this sink did not write may hold duplicate keys, and only the merge
    collapses them.

    The "no table yet" case on a disk read is an explicit FS existence
    check (:func:`~..fsutil.table_exists` — JVM ``FileSystem.exists`` with
    a Spark Connect read-probe fallback), NOT a swallowed read exception
    (r9, same fix as the quarantine sink's _hwm read): a transient read
    failure silently treated as "empty dim" would make the overwrite DROP
    every existing dim row not in the current batch — here it fails the
    batch and the replay retries.

    **Write amplification**: every batch that changes the dim rewrites
    the whole table, so its write bytes scale with |dim| — fine for the
    reference's master data; a batch that changes no dim row writes
    nothing.
    A table this sink did not write (e.g. one carrying an extra
    partition column) fails the batch in the union before any write.
    """
    from ..fsutil import dir_listing, table_exists

    resident: list[tuple[DataFrame, tuple]] = []  # at most one (dim, listing)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        held = resident.pop() if resident else None
        dim = None
        try:
            if held is not None and dir_listing(spark, path) == held[1]:
                if _unchanged(batch_df, held[0], key):
                    resident.append(held)  # same generation, same listing
                    held = None
                    return
                existing = held[0]
            elif table_exists(spark, path):
                existing = spark.read.parquet(path)
            else:
                existing = None
            dim = _merge_latest(batch_df, existing, key).localCheckpoint(eager=True)
            dim.write.mode("overwrite").parquet(path)
            listing = dir_listing(spark, path)
            if listing is not None:
                resident.append((dim, listing))
                dim = None
        finally:
            if held is not None:
                _release(held[0])
            if dim is not None:
                _release(dim)

    return _sink


def scd2_lookup(
    facts: DataFrame,
    dim2: DataFrame,
    *,
    key: str,
    ts_col: str,
    how: str = "left",
) -> DataFrame:
    """Point-in-time dimension lookup: join each fact row to the SCD2
    version that was current AT ITS TIMESTAMP — the query-side complement
    of :func:`scd2_upsert` ("what segment was this customer in when the
    order happened?", the question Type-2 history exists to answer).

    Version match: ``valid_from <= ts AND (ts < valid_to OR is_current)``
    — half-open intervals, so the fact falling exactly on a version
    boundary resolves to the NEWER version (the row opened at that
    instant), matching :func:`scd2_upsert`'s close-at-effective
    convention.  Facts before the key's first version (or with unseen
    keys) keep NULL dim attributes under ``how='left'``.

    Plan shape: an EQUI-join on ``key`` with the interval predicate as a
    post-join filter — versions-per-key is small (one row per attribute
    change), so the equi-join bounds the fan-out and no interval/range
    machinery is needed; the dim side broadcasts whenever it fits, like
    any dimension.  (A true range join on a huge interval relation is
    ``operators.rangejoin``'s job; SCD2 history is not that shape.)
    Output drops the bookkeeping columns and keeps (facts.*, attrs…).
    """
    meta = ("valid_from", "valid_to", "is_current")
    attrs = [c for c in dim2.columns if c != key and c not in meta]
    d = dim2.select(
        F.col(key).alias("__k"), *attrs, "valid_from", "valid_to", "is_current"
    )
    cond = (
        (facts[ts_col] >= d["valid_from"])
        & (d["is_current"] | (facts[ts_col] < d["valid_to"]))
    )
    joined = facts.join(d, (facts[key] == d["__k"]) & cond, how)
    return joined.select(*[facts[c] for c in facts.columns], *[d[a] for a in attrs])
