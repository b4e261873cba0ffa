"""Integrity validation: the star schema's declared constraints as
explicit, scan-bounded checks.

Reference: createDW.sql declares a PRIMARY KEY on every dimension
(createDW.sql:8,26,38,49,67) and five FOREIGN KEYs plus NOT NULLs on the
fact table (createDW.sql:83-98); MySQL enforced them row-by-row on load.
Spark tables enforce nothing — so the engine exposes the same contracts
as operators returning VIOLATION relations (empty = constraint holds),
composable into a load gate.

Scale posture: a PK check is one partial-aggregated groupBy on the key;
an FK check is a left-anti join where the dim side is broadcast whenever
it fits (the usual case — dims are small by definition); NOT NULL is a
filter on the scan.  All three return lazy DataFrames — no
row-at-a-time validation anywhere.  :func:`expect_clean` counts each
relation with its own action; the load gate instead counts the same
contracts in shared passes: :func:`pk_counts` checks every table's PK in
one action, and :func:`fact_counts` checks every FK plus NOT NULL in one
scan of the fact.  Either way the violation relations are only sampled
when a count is non-zero (:func:`raise_violations`).
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pk_violations(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rows breaking a PRIMARY KEY contract: duplicated or NULL keys.

    Returns (keys..., n_rows, violation ∈ {'duplicate','null_key'}) —
    empty iff ``keys`` is a proper primary key of ``df``.
    """
    null_key = _any_null(keys)
    dups = (
        df.filter(~null_key)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
        .withColumn("violation", F.lit("duplicate"))
    )
    nulls = (
        df.filter(null_key)
        .groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .withColumn("violation", F.lit("null_key"))
    )
    return dups.unionByName(nulls)


def fk_violations(
    fact: DataFrame, dim: DataFrame, fk: str, pk: str, *, broadcast_dim: bool = True
) -> DataFrame:
    """Fact rows whose non-NULL ``fk`` resolves to no ``dim.pk`` — the
    orphan set a FOREIGN KEY forbids (createDW.sql:92-97).  NULL FKs are
    not violations (SQL FK semantics); use :func:`not_null_violations`
    to forbid them separately."""
    keys = dim.select(F.col(pk).alias("__pk")).dropDuplicates()
    if broadcast_dim:
        keys = F.broadcast(keys)
    return (
        fact.filter(F.col(fk).isNotNull())
        .join(keys, fact[fk] == F.col("__pk"), "left_anti")
    )


def not_null_violations(df: DataFrame, cols: list[str]) -> DataFrame:
    """Rows with a NULL in any of ``cols`` (the NOT NULL surface of the
    fact DDL)."""
    return df.filter(_any_null(cols))


def _any_null(cols: list[str]) -> Column:
    cond = F.col(cols[0]).isNull()
    for c in cols[1:]:
        cond = cond | F.col(c).isNull()
    return cond


def expect_clean(checks: dict[str, DataFrame], *, sample: int = 5) -> dict[str, int]:
    """Evaluate named violation relations; raise on any non-empty one.

    Returns {name: 0} when everything holds.  On violation, raises
    ``ValueError`` naming each failed check with its count and a small
    sample — the load-gate form: build the star, run ``expect_clean``,
    publish only if it returns.
    """
    counts = {name: df.count() for name, df in checks.items()}
    raise_violations(counts, lambda: checks, sample=sample)
    return counts


def raise_violations(
    counts: dict[str, int],
    checks: Callable[[], dict[str, DataFrame]],
    *,
    sample: int = 5,
) -> None:
    """Raise ``ValueError`` naming every check with a non-zero count, its
    count and a sample of its violation relation.  ``checks`` builds those
    relations and is only called when something failed, so a clean gate
    never constructs them."""
    failed = {name: n for name, n in counts.items() if n}
    if not failed:
        return
    relations = checks()
    failures = [
        f"{name}: {n} violations, e.g. "
        f"{[tuple(r) for r in relations[name].limit(sample).collect()]}"
        for name, n in failed.items()
    ]
    raise ValueError("integrity check failed — " + "; ".join(failures))


def star_schema_checks(
    fact: DataFrame, dims: dict[str, tuple[DataFrame, str, str]]
) -> dict[str, DataFrame]:
    """The whole createDW.sql contract in one dict for :func:`expect_clean`:
    per-dim PK checks plus the fact's FK into each dim.

    ``dims`` maps dim name → (dim_df, dim_pk, fact_fk).
    """
    checks: dict[str, DataFrame] = {}
    for name, (dim, pk, fk) in dims.items():
        checks[f"pk_{name}"] = pk_violations(dim, [pk])
        checks[f"fk_{name}"] = fk_violations(fact, dim, fk, pk)
    return checks


def pk_counts(
    tables: dict[str, tuple[DataFrame, list[str]]]
) -> tuple[dict[str, int], dict[str, int]]:
    """Every table's PRIMARY KEY contract in ONE action.

    ``tables`` maps name → (df, keys).  Returns ({name: row count},
    {"pk_<name>": violation count}), each violation count equal to
    ``pk_violations(df, keys).count()``: one per duplicated non-NULL key
    plus one per NULL-bearing key group.  Each table is grouped on its
    key; the per-key groups of all tables are unioned and folded per
    table by one small aggregate, so one collect evaluates them all.
    """
    groups = [
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit(name).alias("name"), "n", _any_null(keys).alias("null_key"))
        for name, (df, keys) in tables.items()
    ]
    per_table = functools.reduce(DataFrame.unionByName, groups).groupBy("name").agg(
        F.sum("n").alias("rows"),
        F.count(F.when(F.col("null_key") | (F.col("n") > 1), 1)).alias("bad"),
    )
    rows, bad = dict.fromkeys(tables, 0), dict.fromkeys(tables, 0)
    for r in per_table.collect():
        rows[r["name"]], bad[r["name"]] = r["rows"], r["bad"]
    return rows, {f"pk_{name}": n for name, n in bad.items()}


def fact_counts(
    fact: DataFrame,
    dims: dict[str, tuple[DataFrame, str, str]],
    not_null: list[str],
) -> tuple[int, dict[str, int]]:
    """Every FOREIGN KEY of ``fact`` plus its NOT NULL contract in ONE
    scan of ``fact``.

    ``dims`` maps dim name → (dim_df, dim_pk, fact_fk), as in
    :func:`star_schema_checks`.  Each FK becomes a correlated EXISTS over
    the broadcast dim keys, which plans as a broadcast existence join: a
    left join that flags each fact row once, so duplicated dim keys
    neither fan rows out nor need a dedup shuffle.  One aggregate then
    counts, per dim, the rows whose non-NULL FK found no key, plus the
    rows with a NULL in any ``not_null`` column.  Returns (fact row
    count, {"fk_<name>": n, "fact_not_null": n}), each n equal to the
    ``count()`` of :func:`fk_violations` / :func:`not_null_violations`.
    """
    # each FK gets a private outer name: the EXISTS body would resolve a
    # bare fact column name against a same-named dim column instead
    fks = {name: f"__fk{i}" for i, name in enumerate(dims)}
    flagged = fact.withColumns({fks[name]: F.col(fk) for name, (_, _, fk) in dims.items()})
    aggs = [F.count(F.lit(1)).alias("rows")]
    for name, (dim, pk, _) in dims.items():
        keys = F.broadcast(dim.select(F.col(pk).alias("__pk")))
        found = keys.where(F.col("__pk") == F.col(fks[name]).outer()).exists()
        orphan = F.col(fks[name]).isNotNull() & ~found
        aggs.append(F.count(F.when(orphan, 1)).alias(f"fk_{name}"))
    aggs.append(F.count(F.when(_any_null(not_null), 1)).alias("fact_not_null"))
    row = flagged.agg(*aggs).collect()[0].asDict()
    return row.pop("rows"), row
