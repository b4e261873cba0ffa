"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import Result  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class _Context:
    defaultParallelism = 4


class _Spark:
    sparkContext = _Context()


def test_end_to_end_names_and_units_match_spec():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END


def test_per_layer_names_and_units_match_spec():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    tracer = Tracer(_Spark())
    tracer.job_intervals = []
    res = Result(ops=[1.0, 2.0], setup_s=1.0, attempted=2, failed=0, detail={"peak_rss_mb": 1.0})
    for workload in SPEC["workloads"]:
        values = run.per_layer(workload["name"], res, tracer, session_s=1.0)
        assert set(values) == set(run.PER_LAYER)


def test_generator_is_deterministic_per_seed(tmp_path):
    for run_dir in ("a", "b"):
        gen.write_tables(gen.warehouse_tables(2, seed=7), str(tmp_path / run_dir))
    gen.write_tables(gen.warehouse_tables(2, seed=8), str(tmp_path / "c"))
    a, b, c = (_digest(glob.glob(str(tmp_path / d / "*.parquet"))) for d in "abc")
    assert a == b
    assert a != c
    # the seed reorders and re-keys rows; the expected answers stay put
    want = checks.expected_rebuild(str(tmp_path / "a"))
    other = checks.expected_rebuild(str(tmp_path / "c"))
    assert want == other
    assert want["fact_sales"] == 12_000


def test_stream_files_are_deterministic_and_seed_invariant_in_content(tmp_path):
    def stream(seed, name):
        txn = gen.transactions(gen.warehouse_tables(2, seed))
        gen.write_stream_files(txn, str(tmp_path / name), 6000, 2)
        return str(tmp_path / name / "*.parquet")

    first, again, other = stream(3, "a"), stream(3, "b"), stream(4, "c")
    assert _digest(glob.glob(first)) == _digest(glob.glob(again))
    total = "SELECT count(*), sum(quantity), count(DISTINCT product_id) FROM read_parquet('{}')"
    assert duckdb.sql(total.format(first)).fetchone() == duckdb.sql(total.format(other)).fetchone()


def _fake_ingest(tmp_path):
    """A correct star-sink output built with DuckDB: one fact dir per
    stream file plus the product dim."""
    sf, feed, out = (str(tmp_path / d) for d in ("sf", "feed", "out"))
    tables = gen.warehouse_tables(2, seed=5)
    gen.write_tables(tables, sf)
    gen.write_stream_files(gen.transactions(tables), feed, 4000, 3)
    con = checks.connect(sf)
    batch_of = {}
    for bid, path in enumerate(sorted(glob.glob(f"{feed}/*.parquet"))):
        batch_of[os.path.basename(path)] = bid
        os.makedirs(f"{out}/fact_enriched/batch_id={bid}")
        con.execute(f"""
            COPY (
                WITH m AS ({checks.MASTER_DATA_ORACLE})
                SELECT order_id, line_number, product_id, quantity,
                       round(quantity * CAST(replace(product_price, '$', '') AS DOUBLE), 2) AS total_sale
                FROM read_parquet('{path}') JOIN m USING (product_id)
            ) TO '{out}/fact_enriched/batch_id={bid}/part-0.parquet' (FORMAT parquet)
        """)
    os.makedirs(f"{out}/dim_product")
    con.execute(f"""
        COPY (
            WITH m AS ({checks.MASTER_DATA_ORACLE})
            SELECT DISTINCT product_id, product_name, product_price
            FROM read_parquet('{feed}/*.parquet') JOIN m USING (product_id)
        ) TO '{out}/dim_product/part-0.parquet' (FORMAT parquet)
    """)
    return sf, feed, out, batch_of


def test_ingest_check_passes_on_correct_output(tmp_path):
    attempted, failed, notes = checks.check_ingest(*_fake_ingest(tmp_path))
    assert (attempted, failed) == (3, 0), notes


@pytest.mark.parametrize("victim", ["fact", "dim"])
def test_deleted_output_file_is_an_error(tmp_path, victim):
    sf, feed, out, batch_of = _fake_ingest(tmp_path)
    target = "fact_enriched/batch_id=1" if victim == "fact" else "dim_product"
    os.remove(f"{out}/{target}/part-0.parquet")
    attempted, failed, notes = checks.check_ingest(sf, feed, out, batch_of)
    assert failed / attempted > 0, notes


def test_uncommitted_file_is_an_error(tmp_path):
    sf, feed, out, batch_of = _fake_ingest(tmp_path)
    batch_of.pop(sorted(batch_of)[0])
    attempted, failed, _ = checks.check_ingest(sf, feed, out, batch_of)
    assert failed == 1
