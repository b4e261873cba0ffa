"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-plan + skew-join handling), shuffle
partitions sized to cores (not the 200 default), Arrow enabled for the
pandas-UDF slow path, UTC session time so timestamp semantics are
deployment-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Fixture `events.parquet` stores TIMESTAMP(NANOS) which Spark's vectorized
# parquet reader rejects by default; this legacy flag reads it as LongType
# (nanos since epoch) and sources.fixtures converts it back to timestamp_ntz.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# InferFiltersFromGenerate synthesizes `size(arr) > 0 AND isnotnull(arr)`
# from every explode().  When the array is an expensive expression (shingle
# / n-gram / hash arrays built with higher-order functions), predicate
# pushdown then substitutes that WHOLE expression into a scan-side filter —
# below the compute repartition, so it re-runs the interpreted HOF chain at
# scan parallelism (a small corpus arrives in 1-2 splits → 2 cores).
# Measured: q_contamination 4.4 s → 1.1 s, q_ngram_jaccard 2.5 s → 1.5 s,
# q_minhash_pairs 2.0 s → 1.5 s at sf0.1 with the rule off.  The rule only
# helps when arrays are frequently NULL/empty AND dropping those rows early
# saves downstream work — never this engine's shape (shingle arrays have a
# whole-text fallback, so they are never empty).  Excluding it is safe for
# correctness: it is purely an optimization rule.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


#: The engine conf, one row per key: ``(key, value, on_foreign)``.
#: ``value`` is a string, or a function of the core count.  ``on_foreign``
#: says what :func:`ensure_engine_conf` does with the key on a session the
#: engine did not build: ``"set"`` overwrites it, ``"if_unset"`` sets it
#: only when the caller left it unset (a deliberately tuned value —
#: including an explicitly pinned Spark default — is kept), ``None``
#: leaves it alone (launch-time only, or not correctness-relevant).
ENGINE_CONF = (
    ("spark.sql.shuffle.partitions", lambda cpus: str(cpus), None),
    ("spark.sql.adaptive.enabled", "true", "set"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true", None),
    # Start every exchange WIDE and let AQE coalesce down: a fixed
    # shuffle-partition count is the one knob that breaks linearity
    # when data outgrows it (the r8 langid scale probe measured 52 s
    # → 11.5 s at 20× sf0.1 docs from this line alone — per-partition
    # aggregate hash maps stop spilling), while parallelismFirst
    # coalescing keeps small exchanges at ~cpus partitions, so the
    # sf0.1 suite is unharmed (measured at-or-faster on every query).
    # 8×cpus: 1024 over-fragments (30.8 s — task overhead), 256 wins.
    # Runtime-settable, so a plain session the engine did not build
    # gets the linear-at-scale posture too.
    (
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        lambda cpus: str(8 * cpus),
        "if_unset",
    ),
    ("spark.sql.adaptive.skewJoin.enabled", "true", None),
    # Size the parallel file listing to the cores, the shuffle-partition
    # posture: past parallelPartitionDiscovery.threshold (32 paths) Spark
    # lists a table in one job with a task per path, capped only at
    # 10000.  The star load's read-back of its 80 order_month dirs ran 80
    # tasks: 0.45 s of wall for 0.04 s of task time; with this row, 4
    # tasks and 0.05 s (4-core host, sf0.1 volume).  The listing stays
    # parallel for a large tree; a raised threshold would list serially
    # from the driver instead, which an object store pays per directory.
    (
        "spark.sql.sources.parallelPartitionDiscovery.parallelism",
        lambda cpus: str(cpus),
        None,
    ),
    # Push bounded id LISTS to parquet as a real In predicate instead
    # of degrading to a [min,max] range past 10 values (the default).
    # The engine's bounded-literal-collect operators (ANN rerank
    # candidate-id fetch ≤ Q·rerank ids, probed-cell pruning ≤
    # Q·nprobe) push hundreds of uniform ids; a range over uniform
    # ids skips NOTHING, while the In predicate's row-group stats
    # check skips every row group holding no candidate (measured
    # r9: 130 → 48 MB on a 140-row-group id-sorted scan of 50
    # uniform ids; see SCALE.md ivf_rowgroup).  CEILING measured
    # r13: Spark converts the pushed In to a NESTED parquet Or —
    # ~1000 literals overflow a worker thread's stack
    # (non-deterministically at 1000, always by 1500), so the old
    # 4096 setting CRASHED any 1000+-value fetch instead of
    # degrading it; 512 keeps every measured win and lets bigger
    # lists fall back to the (slower, correct) range filter.
    ("spark.sql.parquet.pushdown.inFilterThreshold", "512", "if_unset"),
    # Let the planner pick shuffled-hash over sort-merge when its size
    # conditions hold, and let AQE rewrite SMJ→SHJ at runtime when
    # every post-shuffle partition is under 64 MB.  Two DISTINCT
    # mechanisms with distinct safety envelopes (ADVICE r14):
    # - the AQE rewrite threshold bounds the per-task build side by
    #   MEASURED runtime partition sizes — bounded by design;
    # - preferSortMergeJoin=false additionally lets the STATIC
    #   planner pick SHJ from stats-ESTIMATED sizes
    #   (canBuildLocalHashMap: plan side < advisory partition size ×
    #   shuffle partitions, AND ≪ the other side).  SHJ's per-task
    #   hash map does not spill, so a badly mis-estimated build side
    #   would build an oversized local map; mitigations in force:
    #   AQE re-plans joins from runtime sizes when estimates drift
    #   (local-mode static SHJ picks are re-validated by the AQE
    #   threshold), skewJoin splits oversized partitions, and joins
    #   with no size evidence (e.g. the as-of range join) stay SMJ —
    #   pinned by tests/test_plans.py::test_unbounded_build_side_
    #   join_keeps_sort_merge.
    # Guide §3.1/§9 baseline; measured on the 8 join-heavy roster
    # queries at sf0.1, alternating A/B both orders: 11.67→9.43 s
    # and 9.05→8.67 s medians.  Scale posture: skips the per-side
    # sort whose cost grows n·log(n) with partition rows.
    ("spark.sql.join.preferSortMergeJoin", "false", None),
    (
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        str(64 * 1024 * 1024),
        None,
    ),
    ("spark.sql.session.timeZone", "UTC", "set"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true", None),
    (NANOS_AS_LONG, "true", "set"),
    ("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024), None),
    # on a foreign session this rule is MERGED into the caller's list
    # (see ensure_engine_conf) rather than overwriting it
    ("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES, "set"),
    ("spark.ui.enabled", "false", None),
)


def _conf_value(value, cpus: int) -> str:
    return value(cpus) if callable(value) else value


def tuned_conf(builder: SparkSession.Builder, cpus: int) -> SparkSession.Builder:
    """Apply engine configuration to a builder (shared by tests and bench)."""
    for key, value, _ in ENGINE_CONF:
        builder = builder.config(key, _conf_value(value, cpus))
    return builder


def get_spark(
    app_name: str = "hyperjoin-spark",
    cpus: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession for local runs.

    ``driver_memory`` (default ``$SPARK_GRAFT_DRIVER_MEM`` or 8g) sizes the
    single local JVM that is both driver and executor here — the 1g Spark
    default OOMs on exact percentiles / large collects at sf0.1.  Only
    effective at JVM launch; a pre-existing session keeps its heap.
    ``extra_conf`` sets additional launch-time confs (probe harnesses use
    it to raise ``spark.ui.retainedStages`` so cumulative stage-metric
    accounting never loses evicted stages); like the heap, only effective
    at JVM launch.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = tuned_conf(builder, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Defensively apply runtime-settable confs on a session we didn't build.

    The verification driver constructs its own SparkSession; queries must
    still read nano-timestamp parquet and compare timestamps against a
    UTC-naive oracle, so set the ``on_foreign`` subset of
    :data:`ENGINE_CONF` here.
    """
    try:
        par = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - no active context
        par = 8
    for key, value, on_foreign in ENGINE_CONF:
        if on_foreign is None:
            continue
        try:
            current = spark.conf.get(key, None)
        except Exception:  # pragma: no cover
            current = None
        # Only a true None means unset (r11, ADVICE): conf.get(key, None)
        # returns the literal value — INCLUDING an explicitly pinned
        # Spark default such as inFilterThreshold "10" from cluster
        # spark-defaults — whenever the caller set one.
        if on_foreign == "if_unset" and current is not None:
            continue
        value = _conf_value(value, par)
        if key == "spark.sql.optimizer.excludedRules":
            # Merge our excluded rule into whatever the session already
            # excludes — overwriting would silently re-enable a caller's
            # own exclusions.
            rules = [r.strip() for r in (current or "").split(",") if r.strip()]
            if value not in rules:
                rules.append(value)
            value = ",".join(rules)
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark
