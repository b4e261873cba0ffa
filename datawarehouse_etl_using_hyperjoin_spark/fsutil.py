"""Hadoop-FS probes with a documented Spark Connect fallback.

Several sinks need a *reliable* "does this table exist yet" answer before
they overwrite (``upsert_parquet_sink``, the quarantine ``_hwm`` fast path,
the corpus sink's layout guard): a transient read failure silently
treated as "no table" is a data-loss path (r9's ``upsert_parquet_sink``
bug).  The classic-JVM route (``spark._jvm`` → ``FileSystem.exists``) gives
that answer exactly, but those private accessors do not exist under Spark
Connect — code that reaches for them unconditionally hard-fails there.

This module centralizes the probe:

* JVM gateway available → ``FileSystem.exists`` / ``listStatus``, the
  precise answer (distinguishes "absent", "hidden-entries-only after a
  kill mid-write", and "has data").
* No gateway (Spark Connect) → a schema-probe read.  The fallback maps
  only the two *definitive* "no table" signals to ``False``
  (``PATH_NOT_FOUND`` and ``UNABLE_TO_INFER_SCHEMA`` — the latter is what
  a directory holding only ``_temporary``/``_SUCCESS`` raises) and
  re-raises anything else, preserving the fail-the-batch-on-transient-
  error guarantee the JVM path gives.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: error CONDITIONS that definitively mean "no table here" — matched by
#: equality against getCondition()/getErrorClass(), never by substring
_NO_TABLE_CONDITIONS = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
#: message-text fallback markers for engines/paths that surface no
#: condition; only trusted when the quoted path IS the probed path
_NO_TABLE_TEXT_MARKERS = (
    "PATH_NOT_FOUND",
    "UNABLE_TO_INFER_SCHEMA",
    "Unable to infer schema",
    "Path does not exist",
)


def _strip_scheme(path: str) -> str:
    """Filesystem part of a URI-ish path, for message-text comparison:
    ``file:///a/b`` / ``file:/a/b`` / ``/a/b`` all → ``/a/b``."""
    p = path
    if ":" in p.split("/", 1)[0]:
        p = p.split(":", 1)[1]
    while p.startswith("//"):
        p = p[1:]
    return p.rstrip("/")


def hadoop_fs(spark: SparkSession, path: str):
    """Return ``(fs, jpath)`` via the JVM gateway, or ``None`` when the
    session has no gateway (Spark Connect)."""
    try:
        jvm = spark._jvm  # noqa: SLF001 - deliberate, gated
        jsc = spark._jsc  # noqa: SLF001
        if jvm is None or jsc is None:
            return None
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(jsc.hadoopConfiguration()), jpath
    except AttributeError:
        return None


def _error_condition(exc: Exception) -> str:
    # getCondition is the Spark 4 name; getErrorClass the deprecated alias
    for attr in ("getCondition", "getErrorClass"):
        get = getattr(exc, attr, None)
        if callable(get):
            try:
                return get() or ""
            except Exception:  # pragma: no cover - defensive
                return ""
    return ""


def is_no_table_error(exc: Exception, path: str | None = None) -> bool:
    """True iff ``exc`` definitively means "no table at ``path``".

    r11 (ADVICE): the old substring match over the whole exception text
    misclassified an AnalysisException caused by a DIFFERENT missing
    nested path (or a message merely quoting one) as "no table" — the
    silent-miss class this module exists to eliminate.  Now: the
    structured error condition (getCondition/getErrorClass) is matched
    by EQUALITY first; the message-text fallback only fires when the
    condition is absent, and when ``path`` is given the quoted path in
    the message must actually be the probed path (scheme-insensitive
    substring of the normalized form)."""
    cond = _error_condition(exc)
    if cond:
        if cond not in _NO_TABLE_CONDITIONS:
            return False
        if cond == "UNABLE_TO_INFER_SCHEMA":
            # its message carries no path ("Unable to infer schema for
            # Parquet...") — the condition itself is the whole signal
            return True
        return path is None or _strip_scheme(path) in str(exc)
    text = str(exc)
    if not any(m in text for m in _NO_TABLE_TEXT_MARKERS):
        return False
    if "Unable to infer schema" in text or "UNABLE_TO_INFER_SCHEMA" in text:
        return True
    return path is None or _strip_scheme(path) in text


def _table_exists_by_read(spark: SparkSession, path: str) -> bool:
    """Connect fallback: schema-probe the path.  Definitive "no table"
    signals → False; any OTHER failure re-raises (transient IO must fail
    the caller's batch, never read as an empty table)."""
    from pyspark.errors import AnalysisException

    try:
        spark.read.parquet(path).schema
        return True
    except AnalysisException as exc:
        if is_no_table_error(exc, path):
            return False
        raise


def table_exists(spark: SparkSession, path: str, *, visible_prefix: str | None = None) -> bool:
    """True iff ``path`` holds a readable table: the directory exists AND
    has at least one non-hidden entry (a kill mid-overwrite leaves just
    ``_temporary`` — that must read as "no table yet" so replay rebuilds
    instead of failing forever).

    ``visible_prefix`` additionally requires a visible entry starting with
    that prefix (e.g. ``"ingest_batch="`` for partitioned incremental
    layouts).  Under the Connect fallback the prefix cannot be checked
    without a listing; the schema probe stands in (a partitioned table
    read exposes the partition column, which downstream reads validate).
    """
    handle = hadoop_fs(spark, path)
    if handle is None:
        return _table_exists_by_read(spark, path)
    fs, jpath = handle
    if not fs.exists(jpath):
        return False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if visible_prefix is None or name.startswith(visible_prefix):
            return True
    return False


def dir_exists(spark: SparkSession, path: str) -> bool:
    """Plain existence probe (the directory may hold only hidden files).
    Connect fallback: ``UNABLE_TO_INFER_SCHEMA`` proves the directory
    exists (just unreadable), ``PATH_NOT_FOUND`` proves it doesn't."""
    handle = hadoop_fs(spark, path)
    if handle is None:
        from pyspark.errors import AnalysisException

        try:
            spark.read.parquet(path).schema
            return True
        except AnalysisException as exc:
            cond = _error_condition(exc)
            text = str(exc)
            if cond == "UNABLE_TO_INFER_SCHEMA" or (
                not cond and "Unable to infer schema" in text
            ):
                return True  # dir exists, just unreadable as a table
            if (cond == "PATH_NOT_FOUND" or (
                not cond and "Path does not exist" in text
            )) and (_strip_scheme(path) in text):
                return False
            raise
    fs, jpath = handle
    return bool(fs.exists(jpath))


def list_visible(spark: SparkSession, path: str):
    """List ``(name, is_dir)`` for non-hidden entries, or ``None`` when no
    JVM gateway is available (Connect) — callers holding a layout *guard*
    (not a correctness read) should skip the guard in that case."""
    handle = hadoop_fs(spark, path)
    if handle is None:
        return None
    fs, jpath = handle
    if not fs.exists(jpath):
        return []
    return [
        (st.getPath().getName(), bool(st.isDirectory()))
        for st in fs.listStatus(jpath)
        if not st.getPath().getName().startswith(("_", "."))
    ]


def dir_listing(spark: SparkSession, path: str):
    """``(name, length, mtime)`` of every entry directly under ``path``,
    hidden ones included, sorted by name, from one ``listStatus``: ``()``
    when the path does not exist, ``None`` when no JVM gateway is
    available (Connect).  Two equal listings mean no writer replaced,
    added or removed a file in between (Spark's writers never edit a
    file in place), which is what a caller holding a copy of the table
    in memory needs to know before it trusts that copy."""
    handle = hadoop_fs(spark, path)
    if handle is None:
        return None
    fs, jpath = handle
    if not fs.exists(jpath):
        return ()
    return tuple(sorted(
        (st.getPath().getName(), st.getLen(), st.getModificationTime())
        for st in fs.listStatus(jpath)
    ))
