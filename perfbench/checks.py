"""Output checks.  Every expected answer comes from DuckDB over the
generated inputs, never from Spark.

A failure is charged to the operation whose output is wrong: one
rebuild call, one stream file, or one roster query.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from decimal import Decimal

import duckdb

from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
    MASTER_DATA_ORACLE,
    TRANSACTIONS_ORACLE,
)

from common import ROOT
from gen import TABLES

FACT_JOIN = """
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN part     ON l_partkey   = p_partkey
JOIN supplier ON l_suppkey   = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
"""


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def expected_rebuild(sf_dir: str) -> dict:
    con = connect(sf_dir)
    row = con.execute(f"""
        WITH m AS ({MASTER_DATA_ORACLE}), t AS ({TRANSACTIONS_ORACLE})
        SELECT (SELECT count(*) {FACT_JOIN}),
               (SELECT sum(CAST(round(l_quantity * p_retailprice, 2) AS DECIMAL(18,2))) {FACT_JOIN}),
               (SELECT count(DISTINCT (l_orderkey, l_linenumber)) {FACT_JOIN}),
               (SELECT count(DISTINCT product_id) FROM m),
               (SELECT count(DISTINCT supplier_id) FROM m),
               (SELECT count(DISTINCT store_id) FROM m),
               (SELECT count(DISTINCT o_orderkey) FROM orders),
               (SELECT count(DISTINCT c_custkey) FROM customer),
               (SELECT count(*) FROM t JOIN m USING (product_id))
    """).fetchone()
    keys = ("fact_sales", "sales_sum", "fact_keys", "dim_product", "dim_supplier",
            "dim_store", "dim_order", "dim_customer", "enriched_stream")
    return dict(zip(keys, row))


def check_rebuild(counts: dict, out_dir: str, expected: dict) -> list[str]:
    """Mismatches of one ``run_pipeline`` call (empty when correct)."""
    bad = [
        f"{k}: got {counts.get(k)} want {v}"
        for k, v in expected.items()
        if k not in ("sales_sum", "fact_keys") and counts.get(k) != v
    ]
    rows, sales, keys = duckdb.sql(f"""
        SELECT count(*), sum(CAST(sales AS DECIMAL(18,2))),
               count(DISTINCT (order_id, line_number))
        FROM read_parquet('{out_dir}/fact_sales/**/*.parquet', hive_partitioning = true)
    """).fetchone()
    if rows != expected["fact_sales"]:
        bad.append(f"fact rows on disk: {rows} want {expected['fact_sales']}")
    if sales != expected["sales_sum"]:
        bad.append(f"sum(sales): {sales} want {expected['sales_sum']}")
    if keys != expected["fact_keys"]:
        bad.append(f"distinct (order_id, line_number): {keys} want {expected['fact_keys']}")
    return bad


def batch_files(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log."""
    out: dict[str, int] = {}
    for path in glob.glob(f"{checkpoint}/sources/0/*"):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def check_ingest(sf_dir: str, feed_dir: str, out_dir: str, batch_of: dict[str, int]) -> tuple[int, int, list[str]]:
    """Every stream file is one operation: its micro-batch must hold
    exactly its rows (count and decimal ``sum(total_sale)``); the fact
    must hold as many distinct ``(order_id, line_number)`` as the stream,
    and the product dim every streamed product once."""
    con = connect(sf_dir)
    files = sorted(os.path.basename(p) for p in glob.glob(f"{feed_dir}/*.parquet"))
    con.execute(f"""
        CREATE VIEW feed AS
        SELECT parse_filename(filename) AS file, *
        FROM read_parquet('{feed_dir}/*.parquet', filename = true)
    """)
    want = {
        r[0]: r[1:] for r in con.execute(f"""
            WITH m AS ({MASTER_DATA_ORACLE})
            SELECT file, count(*), sum(CAST(round(quantity *
                   CAST(CAST(replace(product_price, '$', '') AS DECIMAL(12,2)) AS DOUBLE), 2)
                   AS DECIMAL(18,2)))
            FROM feed JOIN m USING (product_id) GROUP BY file
        """).fetchall()
    }
    fact = f"read_parquet('{out_dir}/fact_enriched/*/*.parquet', hive_partitioning = true)"
    try:
        got = {
            r[0]: r[1:] for r in con.execute(f"""
                SELECT batch_id, count(*), sum(CAST(total_sale AS DECIMAL(18,2)))
                FROM {fact} GROUP BY batch_id
            """).fetchall()
        }
        keys = con.execute(f"""
            SELECT count(DISTINCT (order_id, line_number)) FROM {fact}
        """).fetchone()[0]
    except duckdb.Error as exc:
        return len(files), len(files), [f"fact unreadable: {exc}"]
    bad = []
    for name in files:
        bid = batch_of.get(name)
        if bid is None:
            bad.append(f"{name}: never committed")
        elif got.get(bid) != want.get(name):
            bad.append(f"{name} (batch {bid}): got {got.get(bid)} want {want.get(name)}")
    want_keys = con.execute(
        "SELECT count(DISTINCT (order_id, line_number)) FROM feed"
    ).fetchone()[0]
    if keys != want_keys:
        bad.append(f"distinct (order_id, line_number): {keys} want {want_keys}")
    streamed = con.execute("SELECT count(DISTINCT product_id) FROM feed").fetchone()[0]
    try:
        dim_rows, dim_keys = con.execute(f"""
            SELECT count(*), count(DISTINCT product_id)
            FROM read_parquet('{out_dir}/dim_product/**/*.parquet')
        """).fetchone()
    except duckdb.Error as exc:
        dim_rows = dim_keys = f"unreadable ({exc})"
    if not dim_rows == dim_keys == streamed:
        bad.append(f"dim_product: {dim_rows} rows, {dim_keys} keys, want {streamed}")
    failed = min(len(files), len(bad))
    return len(files), failed, bad


def expected_stream_total(sf_dir: str, feed_dir: str) -> Decimal:
    """Decimal ``sum(total_sale)`` over every stream file."""
    con = connect(sf_dir)
    return con.execute(f"""
        WITH m AS ({MASTER_DATA_ORACLE})
        SELECT sum(CAST(round(quantity *
               CAST(CAST(replace(product_price, '$', '') AS DECIMAL(12,2)) AS DOUBLE), 2)
               AS DECIMAL(18,2)))
        FROM read_parquet('{feed_dir}/*.parquet') JOIN m USING (product_id)
    """).fetchone()[0]


def check_query(con, oracle: str | None, schema, columns, records) -> str | None:
    """The oracle gate of ``tools/check_oracle.py``: sorted column names,
    row count, values (floats to 1e-9) and Arrow output-type classes.
    Returns a mismatch, or None.  A query without an oracle passes on any
    row count, as ``tools/check_oracle.py`` treats it."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.append(tools)
    from check_oracle import frame_to_rows, values_equal

    from datawarehouse_etl_using_hyperjoin_spark.queries.typecheck import (
        oracle_type_mismatches,
    )

    if oracle is None:
        return None
    cur = con.execute(oracle)
    ocols = [d[0] for d in cur.description]
    table = cur.fetch_arrow_table()
    orecs = list(zip(*(c.to_pylist() for c in table.columns))) if table.num_columns else []
    scols, srows = frame_to_rows(list(columns), [tuple(r) for r in records])
    ocols, orows = frame_to_rows(ocols, orecs)
    if scols != ocols:
        return f"columns {scols} vs oracle {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows vs oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b and not all(values_equal(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} vs oracle {b}"
    types = oracle_type_mismatches(schema, table.schema)
    return f"arrow types: {types[:2]}" if types else None
