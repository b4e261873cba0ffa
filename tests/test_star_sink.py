"""The streaming star sink's per-batch hot path.

These tests pin:

* the dim winner for a product with two versions in one batch does not
  depend on the batch's row order,
* the flat dim sink's resident copy: a failed call drops it (its blocks
  are freed and the next call reads the table from disk), and one sink
  holds one generation however many calls it serves,
* the overlapped dim upsert and fact append: a failed fact write makes
  the sink raise only once the dim upsert has finished,
* the no-change skip: a batch that changes no dim row leaves the table
  and the resident generation as they are; two versions of one key and
  a NULL-key row go through the merge.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from datawarehouse_etl_using_hyperjoin_spark.fsutil import dir_listing
from datawarehouse_etl_using_hyperjoin_spark.operators.upsert import (
    upsert_parquet_sink,
)
from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
    make_star_sink,
)

_ENRICHED = (
    "product_id int, product_name string, product_price string, "
    "order_id long, line_number int, quantity int, "
    "product_price_num double, total_sale double"
)


def _enriched(spark, rows):
    """One single-partition enriched batch; ``rows`` are
    (order_id, product_id, price) and the row order is kept."""
    return spark.createDataFrame(
        [
            (pid, f"product {pid}", f"${price:.2f}", oid, 1, 2, price, 2 * price)
            for oid, pid, price in rows
        ],
        _ENRICHED,
    ).coalesce(1)


def _rdd_mark(spark) -> int:
    """An id below every RDD created from now on."""
    return spark.sparkContext.parallelize([0]).id()


def _persistent_ids(spark, mark: int) -> set[int]:
    """Persistent RDDs created since ``mark``: earlier tests' leftovers,
    which the context cleaner frees at unpredictable times, do not count."""
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {i for i in ids if i > mark}


def _persistent_rdds(spark, mark: int) -> int:
    return len(_persistent_ids(spark, mark))


def test_dim_winner_does_not_depend_on_row_order(spark, tmp_path):
    """Two versions of product 7 in one batch, in both row orders, leave
    the same dim row: the dim sink picks the winner by value, and no
    upstream first-row dedup picks it by position."""
    versions = [(1, 7, 20.0), (2, 7, 25.0), (3, 8, 5.0)]
    dims = []
    for name, rows in (("fwd", versions), ("rev", versions[::-1])):
        out = str(tmp_path / name)
        make_star_sink(out)(_enriched(spark, rows), 0)
        dim = spark.read.parquet(f"{out}/dim_product")
        dims.append(sorted(map(tuple, dim.select(
            "product_id", "product_name", "product_price"
        ).collect())))
    assert dims[0] == dims[1]
    assert [r for r in dims[0] if r[0] == 7] == [(7, "product 7", "$20.00")]


def _dim_batch(spark, ids, price):
    return _enriched(spark, [(i, i, price) for i in ids]).select(
        "product_id", "product_name", "product_price"
    )


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def test_failed_call_drops_the_resident_dim(spark, tmp_path):
    """A call that fails after its merge started frees the resident copy
    and its own blocks; the next call reads the table from disk and
    writes what a fresh sink over the same table writes."""
    path = str(tmp_path / "dim")
    sink = upsert_parquet_sink(path, "product_id")
    mark = _rdd_mark(spark)
    sink(_dim_batch(spark, range(50), 1.0), 0)
    sink(_dim_batch(spark, range(40, 60), 2.0), 1)
    assert _persistent_rdds(spark, mark) == 1
    poisoned = _dim_batch(spark, range(55, 70), 3.0).withColumn(
        "product_name", F.raise_error(F.lit("poisoned dim batch"))
    )
    with pytest.raises(Exception, match="poisoned dim batch"):
        sink(poisoned, 2)
    assert _persistent_rdds(spark, mark) == 0

    ref = str(tmp_path / "ref")
    shutil.copytree(path, ref)
    nxt = _dim_batch(spark, range(65, 80), 4.0)
    upsert_parquet_sink(ref, "product_id")(nxt, 2)
    sink(nxt, 2)
    assert _rows(spark, path) == _rows(spark, ref)
    assert len(_rows(spark, path)) == 75


def test_star_sink_holds_one_dim_generation(spark, tmp_path):
    """Each call releases the previous generation's checkpoint blocks and
    the batch's cache, so the persistent-RDD count stays flat, whether
    the call rewrites the dim or finds that it changes no dim row."""
    sink = make_star_sink(str(tmp_path / "dw"))
    mark = _rdd_mark(spark)
    counts = []
    for b in range(12):
        g = b // 2  # every odd batch repeats the dim rows of the one before
        rows = [(b * 100 + i, (g * 7 + i) % 40, 1.0 + g) for i in range(30)]
        sink(_enriched(spark, rows), b)
        counts.append(_persistent_rdds(spark, mark))
    assert counts == [1] * len(counts)


def test_star_sink_fact_failure_waits_for_the_dim_upsert(spark, tmp_path):
    """The fact append fails at once (its parent path is a regular
    file) while the dim upsert runs beside it: the sink raises only
    after the dim upsert has finished, so no job is left running and the
    dim holds the batch's products."""
    out = tmp_path / "dw"
    out.mkdir()
    (out / "fact_enriched").write_bytes(b"not a directory")
    rows = [(i, i % 25, 3.0 + i % 4) for i in range(200)]
    with pytest.raises(Exception):
        make_star_sink(str(out))(_enriched(spark, rows), 0)
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    dim = spark.read.parquet(str(out / "dim_product"))
    assert sorted(r.product_id for r in dim.select("product_id").collect()) == list(range(25))


_DIM = "product_id int, product_name string, product_price string"


def _no_disk_reads(monkeypatch):
    """Fail any parquet read: a sink that merges into its resident copy,
    or skips the merge, reads nothing from disk."""
    def boom(self, *paths, **kw):
        raise AssertionError(f"unexpected read of {paths}")
    monkeypatch.setattr(DataFrameReader, "parquet", boom)


def test_unchanged_batch_skips_the_merge_and_rewrite(spark, tmp_path, monkeypatch):
    """On a resident sink, a batch whose rows all equal stored rows
    rewrites nothing and keeps the same generation; a changing batch
    after it still merges into the resident copy and lands."""
    path = str(tmp_path / "dim")
    sink = upsert_parquet_sink(path, "product_id")
    mark = _rdd_mark(spark)
    sink(_dim_batch(spark, range(50), 1.0), 0)
    sink(_dim_batch(spark, range(40, 60), 2.0), 1)
    before, held = dir_listing(spark, path), _persistent_ids(spark, mark)
    assert len(held) == 1

    with monkeypatch.context() as m:
        _no_disk_reads(m)
        repeat = _dim_batch(spark, range(30, 40), 1.0).unionByName(
            _dim_batch(spark, range(45, 60), 2.0)
        )
        sink(repeat, 2)
        assert dir_listing(spark, path) == before
        assert _persistent_ids(spark, mark) == held
        sink(_dim_batch(spark, range(55, 65), 3.0), 3)
        assert dir_listing(spark, path) != before
        assert _persistent_rdds(spark, mark) == 1
    want = sorted(
        [(i, f"product {i}", "$1.00") for i in range(40)]
        + [(i, f"product {i}", "$2.00") for i in range(40, 55)]
        + [(i, f"product {i}", "$3.00") for i in range(55, 65)]
    )
    assert _rows(spark, path) == want


def test_two_versions_of_a_key_go_through_the_merge(spark, tmp_path):
    """A key sent twice in one batch, one version equal to its stored
    row: the check counts it as a change and the merge decides.  When
    the smaller version by value is the stored one the key stays; when
    it is the other one the key takes it."""
    path = str(tmp_path / "dim")
    sink = upsert_parquet_sink(path, "product_id")
    sink(spark.createDataFrame(
        [(7, "p7", "$2.00"), (8, "p8", "$5.00"), (9, "p9", "$1.00")], _DIM
    ), 0)
    stored = _rows(spark, path)
    sink(spark.createDataFrame([(7, "p7", "$2.00"), (7, "p7", "$9.00")], _DIM), 1)
    assert _rows(spark, path) == stored
    sink(spark.createDataFrame([(8, "p8", "$5.00"), (8, "p8", "$3.00")], _DIM), 2)
    assert _rows(spark, path) == [(7, "p7", "$2.00"), (8, "p8", "$3.00"), (9, "p9", "$1.00")]


def test_null_key_row_is_always_a_change(spark, tmp_path):
    """A batch equal to the dim, whose one NULL-key row equals a stored
    one, adds that row again: the merge keeps every stored NULL-key row
    beside the batch's, so no NULL-key row can leave the dim unchanged."""
    path = str(tmp_path / "dim")
    sink = upsert_parquet_sink(path, "product_id")
    rows = [(i, f"p{i}", "$1.00") for i in range(5)] + [(None, "orphan", "$0.00")]
    sink(spark.createDataFrame(rows, _DIM), 0)
    sink(spark.createDataFrame(rows, _DIM), 1)
    got = [tuple(r) for r in spark.read.parquet(path).collect()]
    assert [r for r in got if r[0] is None] == [(None, "orphan", "$0.00")] * 2
    assert sorted(r for r in got if r[0] is not None) == rows[:5]
