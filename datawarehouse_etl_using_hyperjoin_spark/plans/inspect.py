"""Plan-inspection helpers: assert the physical plan is the one you'd want
at 100 TB (broadcast where intended, filters pushed to the scan).  Used by
tests and the bench tuning loop."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as a string (same text as df.explain(mode))."""
    jqe = df._jdf.queryExecution()
    try:
        jvm = df.sparkSession._jvm
        jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        return jqe.explainString(jmode)
    except Exception:
        return jqe.simpleString()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters line(s) of the scan nodes ('' if none)."""
    return "\n".join(
        line.strip()
        for line in plan_string(df).splitlines()
        if "PushedFilters" in line
    )
