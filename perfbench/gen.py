"""Seeded benchmark inputs, derived from the small fixture copy in
``perfbench/fixtures`` (ten tables, ~6k lineitem rows).

The warehouse workloads need sf0.1-like volume, so the fixture's
order/customer/part key spaces are replicated ``copies`` times with key
offsets: 100 copies give 600k lineitem rows, 150k orders, 15k customers
and 20k products.  The row *content* never depends on the seed, so every
seed has the same expected answers.  The seed chooses only:

- the row order of ``lineitem`` and ``orders`` (and so of the stream);
- which transactions land in which stream file;
- an order-id offset added to every order key.

The same seed gives byte-identical files.  Only pyarrow, numpy and
duckdb are used, so generating inputs needs no Spark session.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# the columns of sources.fixtures.transactions, in its order
TXN_SQL = """
SELECT l_orderkey AS order_id, l_linenumber AS line_number,
       o_orderdate AS order_date, l_partkey AS product_id,
       l_suppkey AS supplier_id, o_custkey AS customer_id,
       c_name AS customer_name, c_mktsegment AS customer_segment,
       l_quantity AS quantity, l_extendedprice AS extended_price,
       l_discount AS discount
FROM (SELECT *, row_number() OVER () AS rn FROM lineitem) li
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY rn
"""


def _write(table: pa.Table, path: str) -> None:
    # one row group, snappy: the layout of the sf0.001-sf0.1 fixture files
    pq.write_table(
        table, path, compression="snappy", row_group_size=max(1, table.num_rows)
    )


def base_tables() -> dict[str, pa.Table]:
    return {
        t: pq.read_table(f"{FIXTURES}/{t}.parquet").replace_schema_metadata(None)
        for t in TABLES
    }


def _shift(table: pa.Table, col: str, by) -> pa.Table:
    i = table.schema.get_field_index(col)
    typ = table.schema.field(i).type
    shifted = np.asarray(table.column(i)).astype(np.int64) + by
    return table.set_column(i, col, pa.array(shifted, type=typ))


def warehouse_tables(copies: int, seed: int) -> dict[str, pa.Table]:
    """The ten tables at ``copies`` × fixture volume for one seed."""
    rng = np.random.default_rng(seed)
    order_offset = int(rng.integers(1, 1000)) * 1_000_000
    base = base_tables()
    n_order = int(pc.max(base["orders"]["o_orderkey"]).as_py()) + 1
    n_cust = int(pc.max(base["customer"]["c_custkey"]).as_py()) + 1
    n_part = int(pc.max(base["part"]["p_partkey"]).as_py()) + 1

    def replicate(name: str, shifts: dict[str, int]) -> pa.Table:
        parts = []
        for k in range(copies):
            t = base[name]
            for col, step in shifts.items():
                t = _shift(t, col, k * step)
            parts.append(t)
        return pa.concat_tables(parts)

    cust = replicate("customer", {"c_custkey": n_cust})
    names = np.char.add(
        "Customer#", np.char.zfill(np.asarray(cust["c_custkey"]).astype(str), 9)
    )
    cust = cust.set_column(
        cust.schema.get_field_index("c_name"), "c_name", pa.array(names, pa.string())
    )
    orders = replicate("orders", {"o_orderkey": n_order, "o_custkey": n_cust})
    orders = _shift(orders, "o_orderkey", order_offset)
    lineitem = replicate("lineitem", {"l_orderkey": n_order, "l_partkey": n_part})
    lineitem = _shift(lineitem, "l_orderkey", order_offset)
    out = dict(base)
    out.update(
        customer=cust,
        part=replicate("part", {"p_partkey": n_part}),
        orders=orders.take(rng.permutation(orders.num_rows)),
        lineitem=lineitem.take(rng.permutation(lineitem.num_rows)),
    )
    return out


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, f"{sf_dir}/{name}.parquet")


def transactions(tables: dict[str, pa.Table]) -> pa.Table:
    """The transaction stream (``sources.fixtures.transactions``) in the
    seeded lineitem order: 6,000 lines per fixture copy."""
    con = duckdb.connect()
    con.execute("SET threads = 1")  # keep the lineitem order for row_number
    for name in ("lineitem", "orders", "customer"):
        con.register(name, tables[name])
    return con.execute(TXN_SQL).fetch_arrow_table()


def write_stream_files(
    txn: pa.Table, feed_dir: str, rows_per_file: int, n_files: int,
    *, first: int = 0, hidden: bool = False,
) -> list[str]:
    """Split rows ``[first*rows_per_file, ...)`` of ``txn`` into ``n_files``
    parquet files.  Hidden files (leading ``.``) are invisible to Spark's
    file source until renamed."""
    os.makedirs(feed_dir, exist_ok=True)
    paths = []
    for i in range(first, first + n_files):
        chunk = txn.slice(i * rows_per_file, rows_per_file)
        if chunk.num_rows < rows_per_file:
            raise ValueError(
                f"stream needs {(first + n_files) * rows_per_file} rows, "
                f"inputs hold {txn.num_rows}"
            )
        name = f"{'.' if hidden else ''}txn-{i:04d}.parquet"
        _write(chunk, f"{feed_dir}/{name}")
        paths.append(f"{feed_dir}/{name}")
    return paths
