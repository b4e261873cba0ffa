"""Physical-plan posture: the plans that must hold at 100 TB — broadcast
where intended, pushdown reaching the scan, no Python in JVM-only paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.etl import hyperjoin
from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import cosine_topk
from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import (
    plan_string,
    pushed_filters,
    uses_broadcast_join,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
    load_table,
    master_data,
    transactions,
)


def test_hyperjoin_broadcasts_master(spark, sf_dir):
    joined = hyperjoin(transactions(spark, sf_dir), master_data(spark, sf_dir))
    assert uses_broadcast_join(joined)


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") >= 45).select("l_orderkey", "l_quantity")
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"filter not pushed: {pf!r}"


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = plan_string(li.select("l_orderkey"))
    # ReadSchema must carry only the projected column
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_orderkey" in read_schema[0]
    assert "l_extendedprice" not in read_schema[0]


def test_cosine_topk_has_no_python_stage(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(em.filter(F.col("vec_id") < 2), em, k=3)
    plan = plan_string(out, "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    # queries broadcast (BroadcastNestedLoopJoin — a cross join has no hash
    # side) and the top-k runs as a partial group limit before the shuffle
    assert "Broadcast" in plan
    assert "WindowGroupLimit" in plan_string(out)


def test_fact_assembly_broadcasts_are_size_gated(spark, sf_dir):
    """Customer and part grow linearly with the fact table, so
    assemble_fact must NOT force-broadcast them: when they exceed
    autoBroadcastJoinThreshold (simulated by disabling the threshold) the
    plan must degrade to a shuffle join instead of OOM-bait, while the
    explicitly-hinted bounded dims (supplier, nation) stay broadcast."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.etl import assemble_fact

    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("lineitem", "orders", "customer", "part", "supplier", "nation")
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fact = assemble_fact(
            t["lineitem"], t["orders"], t["customer"], t["part"],
            t["supplier"], t["nation"],
        )
        plan = plan_string(fact, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # unhinted growing dims degrade to shuffle joins...
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # ...while the hinted bounded dims remain broadcast
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_prunes_fact_side_of_shuffle_join(spark, sf_dir):
    """At 100 TB a selective dim filter should not only prune the dim —
    Spark's runtime row-level filtering injects a bloom filter built from
    the filtered dim keys into the FACT side's scan, cutting shuffle input
    before the join.  Thresholds are scaled down (the application-side
    default is a 10 GB scan) to pin the behavior at fixture scale; the
    production confs are the defaults (bloomFilter.enabled=true)."""
    saved = {}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    for k, v in confs.items():
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        part = load_table(spark, sf_dir, "part").filter(
            F.col("p_retailprice") > 1800
        )
        joined = li.join(part, li.l_partkey == part.p_partkey)
        opt = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt
        assert "might_contain" in opt, opt
        # and the result is the plain join's result
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false"
        )
        plain = li.join(part, li.l_partkey == part.p_partkey).count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        assert joined.count() == plain
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_transactions_view_prunes_unused_columns(spark, sf_dir):
    txn = transactions(spark, sf_dir).select("order_id", "quantity")
    plan = plan_string(txn)
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    # lineitem scan must not read l_extendedprice for this projection
    assert read_lines and not any("l_extendedprice" in l for l in read_lines)


def test_transactions_customer_join_is_size_gated(spark, sf_dir):
    """The transactions role view must not force-broadcast customer (it
    grows with the fact table): with the threshold disabled the join
    degrades to a shuffle join instead of OOM-bait."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_string(transactions(spark, sf_dir), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan


def test_dpp_prunes_fact_partitions(spark, sf_dir, tmp_path):
    """Dynamic partition pruning, end to end on the published star: a
    SEPARATE date-dimension table filtered by a literal predicate, joined
    to the month-partitioned fact on the partition key, must plan a
    ``dynamicpruning`` subquery INSIDE the fact scan's PartitionFilters —
    i.e. the dim filter prunes fact partitions at runtime, before the
    fact's bytes are read.  This is the 100 TB claim in SCALE.md: a
    quarter-scoped report touches ~3/84 months of fact files.
    (Complements tests/test_pipeline.py's static PartitionFilters asserts
    and its derived-dim DPP smoke with the real shape: literal filter on
    an at-rest dim relation.)"""
    from datawarehouse_etl_using_hyperjoin_spark.etl import load_star

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    fact = spark.read.parquet(f"{out}/fact_sales")

    # an at-rest calendar dim: one row per month with a quarter attribute
    (
        fact.select("order_month")
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("order_month", 1, 4),
                F.lit("-Q"),
                F.ceil(F.substring("order_month", 6, 2).cast("int") / 3).cast("string"),
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/dim_month")
    )
    dim_month = spark.read.parquet(f"{out}/dim_month")

    # literal filter on the dim, join on the fact's partition key
    q1 = dim_month.filter(F.col("quarter") == "1995-Q1")
    joined = fact.join(q1, "order_month")
    plan = plan_string(joined)

    # the pruning subquery must sit in the FACT scan's PartitionFilters
    # (order_month is the fact's partition column; the dim is unpartitioned,
    # so a PartitionFilters line naming order_month is the fact scan)
    dpp_lines = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l
        and "order_month" in l
        and "dynamicpruning" in l
    ]
    assert dpp_lines, f"no dynamicpruning in fact PartitionFilters:\n{plan}"

    # and the pruned plan computes the same answer as a static filter
    months = [r[0] for r in q1.select("order_month").collect()]
    assert joined.count() == fact.filter(F.col("order_month").isin(months)).count()


def _assert_round_robin_exchanges_only(df):
    """Every shuffle Exchange node in ``df``'s plan partitions round-robin.

    Parsed from the "simple" explain, where each node prints its
    partitioning on its own line (``Exchange hashpartitioning(...)`` /
    ``Exchange RoundRobinPartitioning(8)``).  The kinds parsed must
    account for every Exchange node, so an explain-format change that
    hides the kind fails here instead of passing on an empty set."""
    import re

    plan = plan_string(df, "simple")
    nodes = re.findall(r"\bExchange\b", plan)
    kinds = [
        k.lower()
        for k in re.findall(r"\bExchange (\w+)partitioning\b", plan, re.I)
    ]
    assert len(kinds) == len(nodes), plan
    assert set(kinds) <= {"roundrobin"}, plan


def test_extension_query_plan_shapes(spark, sf_dir):
    """Pin the scale-relevant shapes of the r5 extension queries:
    the zero-shuffle claims are load-bearing (they are what makes these
    operators linear at 100 TB), and the rollup must broadcast every dim
    with exactly the one aggregate exchange."""
    # the builders stay importable after the round-7 fold wave moved
    # their registrations into tagged unions — plan shapes are asserted
    # on the standalone branches (the union adds no shuffle)
    from datawarehouse_etl_using_hyperjoin_spark.queries.extensions import (
        q_mixture_sample,
        q_repetition_metrics,
        q_summary_rollup,
    )

    # repetition metrics: projection-only — no data-dependent (hash)
    # exchange, no join, no Python.  r14 allows ONE conditional
    # round-robin repartition ahead of the in-row folds
    # (ensure_compute_parallelism — a no-op once the corpus arrives in
    # >= defaultParallelism splits, i.e. at any real scale; measured
    # 1.37 s -> 0.77 s at sf0.1), so the zero-SHUFFLE-growth claim is
    # pinned as "no hash exchange" rather than "no exchange node".
    rep = q_repetition_metrics(spark, sf_dir)
    plan = plan_string(rep)
    for marker in ("Join", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"{marker} in q_repetition_metrics plan"
    # every Exchange NODE must be the one conditional round-robin — pin
    # the partitioning kind, not a raw substring count, so a formatting
    # change in explain output cannot silently loosen the lock (ADVICE r14)
    _assert_round_robin_exchanges_only(rep)
    # negative control: one injected hash exchange must trip the lock
    with pytest.raises(AssertionError):
        _assert_round_robin_exchanges_only(rep.repartition(4, "doc_id"))

    # mixture sampling: filter + generate only — membership/copy decisions
    # are per-row hash arithmetic, nothing moves between partitions
    plan = plan_string(q_mixture_sample(spark, sf_dir))
    for marker in ("Exchange", "Join"):
        assert marker not in plan, f"{marker} in q_mixture_sample plan"

    # summary rollup: five broadcast joins (star dims), exactly one
    # shuffle (the final aggregate), no sort-merge fallback ("simple"
    # mode: the formatted dump prints every node twice — tree + detail)
    plan = plan_string(q_summary_rollup(spark, sf_dir), "simple")
    assert plan.count("BroadcastHashJoin") == 5, plan
    assert "SortMergeJoin" not in plan
    # AQE re-plans exchanges at runtime; statically there must be exactly
    # one shuffle exchange for the groupBy (broadcast exchanges excluded)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dsir_scoring_broadcasts_models_and_heaps_topk(spark, sf_dir):
    """DSIR's claims: the MERGED bucket-model relation (r14 — the two
    models full-outer-merged and materialized once) broadcasts into ONE
    scoring join, selection is TakeOrderedAndProject (per-partition
    heaps, no global sort), and nothing runs in Python."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.importance import (
        dsir_select,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = dsir_select(
        docs, docs.filter(F.col("doc_id") % 10 == 0), "doc_id", "text", 20,
        target_subset=True,
    )
    plan = plan_string(out, "simple")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_quality_serving_broadcasts_weight_relation(spark, sf_dir):
    """Classifier serving must never shuffle on the model side: the
    (bucket, weight) relation broadcasts, scoring is JVM-only."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.classifier import (
        score_quality,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.importance import (
        hashed_ngram_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    weights = spark.range(1000).select(
        F.col("id").alias("bucket"), (F.col("id") % 7 / 10.0).alias("weight")
    )
    out = score_quality(
        hashed_ngram_features(docs, "doc_id", "text", buckets=1000),
        weights, -0.5, "doc_id",
    )
    plan = plan_string(out, "simple")
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_ivf_assign_combines_map_side_before_exchange(spark, sf_dir):
    """The assignment argmax is a MAX aggregate, not a row_number window:
    no Window node, centroids broadcast, and the partial_max runs BEFORE
    the exchange — map-side combine collapses the C candidate rows per
    vector, so the shuffle carries one row per vector (the window form
    shuffled all C).  (The struct carries an array field, so Spark plans
    SortAggregate — its Sort is per-partition on the group key, not a
    global sort.)"""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        ivf_assign,
        ivf_seed_centroids,
    )

    em = load_table(spark, sf_dir, "embeddings")
    out = ivf_assign(em, ivf_seed_centroids(em, 8))
    plan = plan_string(out, "simple")
    assert "Window" not in plan
    assert "Broadcast" in plan
    pre_exchange = plan.split("Exchange hashpartitioning(vec_id", 1)[1]
    assert "partial_max" in pre_exchange


def test_shuffle_shard_window_is_per_shard(spark, sf_dir):
    """shuffle_shard's rank window partitions by shard_id — the plan
    must show a partitioned Window (hashpartitioning on shard), never a
    single-partition global sort."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.sampling import (
        shuffle_shard,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    plan = plan_string(shuffle_shard(docs, "doc_id", 8))
    assert "Window" in plan
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan


def test_family_unions_share_dominant_subtree(spark, sf_dir):
    """r7: q_summary_family materializes the five-way fact ONCE and
    q_passage_family the stride-1 window relation ONCE — both branches
    read the same checkpointed RDD, so the union's final plan contains
    NO star joins / no second hashing pass, just two consumers of
    ExistingRDD scans (the assembly ran during the eager checkpoint)."""
    from datawarehouse_etl_using_hyperjoin_spark.queries.extensions import (
        q_passage_family,
        q_summary_family,
    )

    plan = plan_string(q_summary_family(spark, sf_dir), "simple")
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan
    assert plan.count("Scan ExistingRDD") >= 2  # both branches, one source

    plan = plan_string(q_passage_family(spark, sf_dir), "simple")
    # repeats branch reads the checkpointed windows — no per-branch
    # re-hash of the corpus (no second md5/slice projection chain)
    assert plan.count("Scan ExistingRDD") >= 2


def test_text_quality_langid_shares_gram_explode(spark, sf_dir):
    """r8: the langid branch of q_text_quality explodes the corpus's
    trigrams ONCE (checkpointed) and feeds BOTH profile training and
    serving from that relation — the same shared-dominant-subtree rule
    the summary/passage unions follow.  Pin it: the final plan reads the
    checkpointed grams from (at least) two consumers, and the gram
    pipeline itself (the sequence()-driven substring transform) appears
    NOWHERE in the final plan — it ran during the eager checkpoint."""
    from datawarehouse_etl_using_hyperjoin_spark.queries.extensions import (
        q_text_quality,
    )

    plan = plan_string(q_text_quality(spark, sf_dir), "simple")
    assert plan.count("Scan ExistingRDD") >= 2  # train + serve consumers
    # no re-explode: exploded_ngrams stages the normalized text as the
    # named column __t (unique to the gram pipeline — the repetition
    # branch has its own sequence() windows but never a __t); any __t in
    # the FINAL plan means a branch re-derived grams from the raw corpus
    # instead of reading the checkpoint
    assert "__t#" not in plan


def test_ann_family_shares_trained_quantizer(spark, sf_dir):
    """r8: q_ann_family's two IVF branches must read ONE checkpointed
    Lloyd train — a second kmeans_refine subtree in the union means the
    sharing regressed (it is worth ~2 s of the family's sf0.1 cost)."""
    from datawarehouse_etl_using_hyperjoin_spark.queries.pipelines import (
        q_ann_family,
    )

    plan = plan_string(q_ann_family(spark, sf_dir), "simple")
    # the trained-centroid relation surfaces as ExistingRDD consumers;
    # the decimal-mean aggregation chain of kmeans_refine must appear
    # NOWHERE in the final plan (it ran during the eager checkpoint)
    assert plan.count("Scan ExistingRDD") >= 2
    # kmeans_refine's signature expression is the exact-decimal(27,9)
    # per-dimension SUM — unique to training; any decimal(27,9) in the
    # FINAL plan means a branch re-trained from scratch instead of
    # reading the checkpoint
    assert "decimal(27,9)" not in plan


def test_unbounded_build_side_join_keeps_sort_merge(spark, sf_dir):
    """Safety pin for the global preferSortMergeJoin=false (ADVICE r14,
    VERDICT r14 #4): SHJ's per-task hash map does not spill, so the
    static planner must fall back to sort-merge whenever it cannot prove
    a small build side.  Two envelopes pinned:

    1. similar-size sides (muchSmaller fails): a lineitem self-join has
       no 3x-smaller side, so no SHJ build side exists;
    2. build side over the local-map bound (canBuildLocalHashMap fails):
       with the advisory partition size dropped below the table size,
       even the smaller side must not become a static SHJ build.

    Both must plan SortMergeJoin despite preferSortMergeJoin=false — a
    stats regression that silently planned an unbounded local hash map
    would trip these before it OOMed a real cluster."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    conf = spark.conf
    prev_adv = conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None)
    prev_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # broadcast out of the way throughout — at fixture scale every
        # side fits the 64 MB broadcast threshold, which would mask the
        # SHJ-vs-SMJ decision under test
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self_joined = li.alias("a").join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        plan = plan_string(self_joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan

        # make every build side "too big" for a local hash map: the
        # ONLY legal plan left is SMJ
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1024")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = plan_string(joined, "simple")
        assert "SortMergeJoin" in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
    finally:
        if prev_adv is None:
            conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        else:
            conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prev_adv)
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)


def test_compute_parallelism_decouple_noop_on_wide_derived_input(spark):
    """ensure_compute_parallelism on NON-file sources (ADVICE r14, r15): a
    checkpoint that already arrives in >= parallelism partitions must pass
    through UNTOUCHED (r14 unconditionally round-robin shuffled every such
    input — inputFiles() is empty for them), while a narrow one still
    gains the spread.  The partition count is read only off a leaf
    LogicalRDD: any other non-file plan, here a projection over the wide
    checkpoint, is taken as scarce and spread.  The keyed form spreads on
    a hash of its keys."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.text import (
        ensure_compute_parallelism,
    )

    par = spark.sparkContext.defaultParallelism
    wide = (
        spark.range(0, 1000, numPartitions=par + 2)
        .localCheckpoint(eager=True)
    )
    assert not wide.inputFiles()
    out = ensure_compute_parallelism(wide)
    assert out is wide  # no repartition node added
    narrow = spark.range(0, 1000, numPartitions=1).localCheckpoint(eager=True)
    out = ensure_compute_parallelism(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == par
    derived = wide.select((F.col("id") * 2).alias("id"))
    assert not derived.inputFiles()
    out = ensure_compute_parallelism(derived)
    assert out is not derived
    assert out.rdd.getNumPartitions() == par

    keyed = ensure_compute_parallelism(narrow, keys=("id",))
    plan = keyed._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "RepartitionByExpression"
    exprs = plan.partitionExpressions()
    assert [exprs.apply(i).name() for i in range(exprs.size())] == ["id"]
    assert keyed.rdd.getNumPartitions() == par
