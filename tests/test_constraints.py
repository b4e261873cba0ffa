"""Integrity-constraint operators: the createDW.sql PK/FK/NOT NULL
contracts as violation relations + the star-schema load gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.etl import build_dimensions, ingest
from datawarehouse_etl_using_hyperjoin_spark.operators.constraints import (
    expect_clean,
    fk_violations,
    not_null_violations,
    pk_counts,
    pk_violations,
    star_schema_checks,
)
from datawarehouse_etl_using_hyperjoin_spark.operators.etl import assemble_fact
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table


def test_pk_violations_flags_dups_and_null_keys(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d")], "k int, v string"
    )
    got = {(r.violation): (r.k, r.n_rows) for r in pk_violations(df, ["k"]).collect()}
    assert got == {"duplicate": (1, 2), "null_key": (None, 1)}
    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert pk_violations(clean, ["k"]).count() == 0


def test_fk_violations_finds_orphans_ignores_nulls(spark):
    dim = spark.createDataFrame([(1,), (2,)], "pk int")
    fact = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk int")
    orphans = fk_violations(fact, dim, "fk", "pk").collect()
    assert [r.fk for r in orphans] == [9]  # NULL FK is not a violation


def test_not_null_violations(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b"), (3, None)], "a int, b string")
    assert not_null_violations(df, ["a", "b"]).count() == 2


def test_star_schema_gate_passes_on_engine_output(spark, sf_dir):
    """The load gate holds on the engine's own star build: every dim is
    PK-clean and every fact FK resolves (createDW.sql:83-98 semantics)."""
    _, master = ingest(spark, sf_dir)
    dims = build_dimensions(spark, sf_dir, master)
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation")}
    fact = assemble_fact(t["lineitem"], t["orders"], t["customer"], t["part"],
                         t["supplier"], t["nation"])
    checks = star_schema_checks(
        fact,
        {
            "product": (dims["dim_product"], "product_id", "product_id"),
            "supplier": (dims["dim_supplier"], "supplier_id", "supplier_id"),
            "store": (dims["dim_store"], "store_id", "store_id"),
            "order": (dims["dim_order"], "order_id", "order_id"),
            "customer": (dims["dim_customer"], "customer_id", "customer_id"),
        },
    )
    checks["fact_not_null"] = not_null_violations(
        fact, ["order_id", "customer_id", "product_id", "quantity", "sales"]
    )
    counts = expect_clean(checks)
    assert set(counts.values()) == {0}


def test_expect_clean_raises_with_named_failures(spark):
    dim = spark.createDataFrame([(1,), (1,)], "pk int")
    with pytest.raises(ValueError, match="pk_dim: 1 violations"):
        expect_clean({"pk_dim": pk_violations(dim, ["pk"])})


def test_pk_counts_match_pk_violations_in_one_action(spark):
    """pk_counts returns each table's row total and the same violation
    count as pk_violations(...).count(), composite keys included."""
    dup_and_null = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (None, "d"), (None, "e")], "k int, v string"
    )
    composite = spark.createDataFrame(
        [(1, 1), (1, 1), (1, None), (None, 2), (None, 2), (2, 2)], "a int, b int"
    )
    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    empty = spark.createDataFrame([], "k int")
    tables = {
        "dup_and_null": (dup_and_null, ["k"]),
        "composite": (composite, ["a", "b"]),
        "clean": (clean, ["k"]),
        "empty": (empty, ["k"]),
    }
    rows, bad = pk_counts(tables)
    assert rows == {"dup_and_null": 5, "composite": 6, "clean": 2, "empty": 0}
    assert bad == {
        f"pk_{name}": pk_violations(df, keys).count()
        for name, (df, keys) in tables.items()
    }
    assert bad == {"pk_dup_and_null": 2, "pk_composite": 3, "pk_clean": 0, "pk_empty": 0}
