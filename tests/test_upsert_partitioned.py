"""The flat dim-upsert sink and the fsutil probes it relies on.

These tests pin:

* replay idempotence (re-running a batch yields the same table),
* the loud failure over a dim this sink did not write: a leftover
  key-bucketed dim (a ``kp_bucket=N`` partition column) fails the batch
  in the union, before any write, leaving the directory byte-identical,
* the fsutil Connect-fallback probe's no-table vs transient-error split.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.fsutil import (
    _table_exists_by_read,
    dir_exists,
    table_exists,
)
from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import (
    upsert_parquet_sink,
)


def _dim_batch(spark, ids, version):
    return spark.createDataFrame(
        [(i, f"name_{i}_v{version}", float(version)) for i in ids],
        "product_id int, product_name string, price double",
    )


def _snapshot_files(root):
    """(relpath -> (size, md5)) for every file under root, hidden ones
    (``_SUCCESS``, ``.crc``) included."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (
                    os.path.getsize(p),
                    hashlib.md5(fh.read()).hexdigest(),
                )
    return out


def _rows(spark, path):
    return {
        tuple(r)
        for r in spark.read.parquet(path)
        .select("product_id", "product_name", "price")
        .collect()
    }


def test_flat_replay_idempotent(spark, tmp_path):
    path = str(tmp_path / "dim")
    sink = upsert_parquet_sink(path, "product_id")
    sink(_dim_batch(spark, range(50), 1), 0)
    batch = _dim_batch(spark, range(40, 60), 2)
    sink(batch, 1)
    first = _rows(spark, path)
    sink(batch, 1)  # replay after a sink-side failure
    assert _rows(spark, path) == first
    assert spark.read.parquet(path).count() == 60


def test_flat_sink_over_bucketed_dim_fails_before_any_write(spark, tmp_path):
    """A dim left in the retired key-bucketed layout carries an extra
    ``kp_bucket`` partition column.  The flat sink must not overwrite it:
    the upsert's union fails with NUM_COLUMNS_MISMATCH at analysis, so
    no file under the dim changes."""
    path = str(tmp_path / "dim")
    _dim_batch(spark, range(50), 1).withColumn(
        "kp_bucket", F.pmod(F.xxhash64("product_id"), F.lit(8)).cast("int")
    ).write.partitionBy("kp_bucket").parquet(path)
    before = _snapshot_files(path)
    assert any(p.startswith("kp_bucket=") for p in before)

    with pytest.raises(AnalysisException, match="NUM_COLUMNS_MISMATCH"):
        upsert_parquet_sink(path, "product_id")(_dim_batch(spark, [1, 99], 2), 0)
    assert _snapshot_files(path) == before


def test_fsutil_no_table_vs_transient_error(spark, tmp_path):
    missing = str(tmp_path / "nope")
    assert _table_exists_by_read(spark, missing) is False
    assert table_exists(spark, missing) is False
    assert dir_exists(spark, missing) is False

    # hidden-entries-only dir (kill mid-overwrite leaves _temporary):
    # exists as a dir, but NOT as a table
    hidden = tmp_path / "half_written"
    hidden.mkdir()
    (hidden / "_SUCCESS").write_bytes(b"")
    assert _table_exists_by_read(spark, str(hidden)) is False
    assert table_exists(spark, str(hidden)) is False
    assert dir_exists(spark, str(hidden)) is True

    # a real table reads as one through both routes
    real = str(tmp_path / "real")
    _dim_batch(spark, range(3), 1).write.parquet(real)
    assert _table_exists_by_read(spark, real) is True
    assert table_exists(spark, real) is True

    # genuine corruption must RAISE, never read as "no table" — that
    # distinction is the r9 data-loss fix
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"this is not parquet")
    try:
        _table_exists_by_read(spark, str(corrupt))
        raised = False
    except Exception:
        raised = True
    assert raised, "corrupt table silently read as no-table"


def test_is_no_table_error_matches_condition_and_verifies_path():
    """r11 (ADVICE): "no table" classification matches the structured
    error condition by EQUALITY, and when falling back to message text
    verifies the quoted path is the probed path — an exception caused by
    a DIFFERENT missing nested path (or merely quoting one) must not be
    silently read as "table absent"."""
    from datawarehouse_etl_using_hyperjoin_spark.fsutil import is_no_table_error

    class Fake(Exception):
        def __init__(self, msg, cond=""):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    probed = "/data/dim"
    hit = Fake("[PATH_NOT_FOUND] Path does not exist: file:/data/dim.",
               "PATH_NOT_FOUND")
    assert is_no_table_error(hit, probed) is True
    # same condition, DIFFERENT missing path (e.g. a lookup the plan
    # references) — not "no table at probed"
    other = Fake("[PATH_NOT_FOUND] Path does not exist: file:/other/lut.",
                 "PATH_NOT_FOUND")
    assert is_no_table_error(other, probed) is False
    # a non-no-table condition whose message merely QUOTES such a path
    quoted = Fake("stage failed: Path does not exist: file:/data/dim",
                  "INTERNAL_ERROR")
    assert is_no_table_error(quoted, probed) is False
    # UNABLE_TO_INFER_SCHEMA carries no path — the condition is the signal
    empty = Fake("[UNABLE_TO_INFER_SCHEMA] Unable to infer schema for Parquet.",
                 "UNABLE_TO_INFER_SCHEMA")
    assert is_no_table_error(empty, probed) is True
    # text-only fallback (no condition): path must still match
    assert is_no_table_error(Fake("Path does not exist: /data/dim"), probed)
    assert not is_no_table_error(Fake("Path does not exist: /elsewhere"), probed)
    # scheme-insensitive: probed may carry file:// while the message has file:/
    assert is_no_table_error(hit, "file:///data/dim") is True
