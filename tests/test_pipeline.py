"""End-to-end pipeline façade: run_pipeline builds the full star schema."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.etl import run_pipeline
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table


def test_run_pipeline_builds_star(spark, sf_dir, tmp_path):
    out = str(tmp_path / "dw")
    counts = run_pipeline(spark, sf_dir, out)
    li = load_table(spark, sf_dir, "lineitem").count()
    assert counts["fact_sales"] == li == counts["enriched_stream"]
    assert counts["dim_store"] == 25
    assert counts["dim_supplier"] == 10
    assert counts["dim_product"] == 200
    # fact is partitioned by order month (pruning / incremental unit)
    fact = spark.read.parquet(out + "/fact_sales")
    assert "order_month" in fact.columns
    months = fact.select("order_month").distinct().count()
    assert months > 12

    # partition pruning: a month-filtered scan must prune at the source
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    one_month = fact.filter(F.col("order_month") == "1997-01")
    plan = plan_string(one_month)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "order_month" in part_lines[0]


def test_fact_scan_prunes_partitions_statically_and_dynamically(
    spark, sf_dir, tmp_path
):
    """SCALE.md partitioning contract: the fact table lands partitioned by
    order month, a literal month filter prunes at planning time, and a
    dim-side filter joined on the partition key plans a dynamic-pruning
    subquery on the fact scan (DPP — the dim filter prunes fact partitions
    at runtime)."""
    from datawarehouse_etl_using_hyperjoin_spark.etl import load_star
    from datawarehouse_etl_using_hyperjoin_spark.plans.inspect import plan_string

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    fact = spark.read.parquet(f"{out}/fact_sales")

    # static pruning: literal partition filter → PartitionFilters on scan
    one_month = fact.filter(F.col("order_month") == "1995-03")
    plan = plan_string(one_month)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "order_month" in pf[0]
    assert one_month.count() > 0

    # dynamic pruning: filter arrives through a dim join on the partition key
    months = (
        fact.select("order_month").distinct()
        .withColumn("is_q1", F.col("order_month").endswith("-02"))
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    joined = fact.join(months.filter(F.col("is_q1")), "order_month")
    assert "dynamicpruning" in plan_string(joined).lower()


def test_load_star_validate_gate(spark, sf_dir, tmp_path):
    """The createDW.sql integrity gate on load: a clean build publishes
    (with the staging dir promoted away), a fact batch carrying an FK
    orphan or a NULL measure raises and never publishes a fact, and a
    dim with a duplicated PK aborts before any fact work."""
    import os

    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        build_dimensions,
        ingest,
        load_star,
        write_star,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.etl import assemble_fact
    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import load_table

    # clean build → publishes, no staging residue
    out = str(tmp_path / "dw_clean")
    counts = load_star(spark, sf_dir, out)
    assert counts["fact_sales"] > 0
    assert os.path.isdir(f"{out}/fact_sales")
    assert not os.path.isdir(f"{out}/fact_sales.staging")

    _, master = ingest(spark, sf_dir)
    dims = build_dimensions(spark, sf_dir, master)
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation")}
    fact = assemble_fact(
        t["lineitem"], t["orders"], t["customer"], t["part"], t["supplier"], t["nation"]
    ).withColumn("order_month", F.date_format("order_date", "yyyy-MM"))

    # FK orphan (product_id resolving to no dim row) → raises, fact absent
    out_bad = str(tmp_path / "dw_orphan")
    orphan = fact.limit(1).withColumn("product_id", F.lit(-999).cast("long"))
    with pytest.raises(ValueError, match="fk_dim_product"):
        write_star(spark, dims, fact.unionByName(orphan), out_bad)
    assert not os.path.isdir(f"{out_bad}/fact_sales")
    assert os.path.isdir(f"{out_bad}/fact_sales.staging")  # quarantined

    # NULL in a NOT NULL fact column → raises, fact absent
    out_null = str(tmp_path / "dw_null")
    nullrow = fact.limit(1).withColumn(
        "quantity", F.lit(None).cast(dict(fact.dtypes)["quantity"])
    )
    with pytest.raises(ValueError, match="fact_not_null"):
        write_star(spark, dims, fact.unionByName(nullrow), out_null)
    assert not os.path.isdir(f"{out_null}/fact_sales")

    # duplicated dim PK → aborts before the fact stage
    out_dup = str(tmp_path / "dw_dup")
    bad_dims = dict(dims)
    bad_dims["dim_store"] = dims["dim_store"].unionByName(dims["dim_store"].limit(1))
    with pytest.raises(ValueError, match="pk_dim_store"):
        write_star(spark, bad_dims, fact, out_dup)
    assert not os.path.isdir(f"{out_dup}/fact_sales")


def _star_inputs(spark, sf_dir):
    """The engine's five dims and month-tagged fact, unwritten."""
    from datawarehouse_etl_using_hyperjoin_spark.etl import build_dimensions, ingest
    from datawarehouse_etl_using_hyperjoin_spark.operators.etl import assemble_fact

    _, master = ingest(spark, sf_dir)
    dims = build_dimensions(spark, sf_dir, master)
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "customer", "part", "supplier", "nation")}
    fact = assemble_fact(
        t["lineitem"], t["orders"], t["customer"], t["part"], t["supplier"], t["nation"]
    ).withColumn("order_month", F.date_format("order_date", "yyyy-MM"))
    return dims, fact


def test_write_star_checks_all_dim_pks_before_any_write(spark, sf_dir, tmp_path):
    """Every dim PK is checked before any dim is written: a duplicated PK
    in one dim and a NULL PK in another fail together in one ValueError,
    the already-published dims keep their files, and no fact is staged."""
    import glob
    import os

    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.etl import load_star, write_star

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    published = {p: os.path.getmtime(p) for p in glob.glob(f"{out}/dim_*/*")}
    assert published

    dims, fact = _star_inputs(spark, sf_dir)
    bad_dims = dict(dims)
    bad_dims["dim_product"] = dims["dim_product"].unionByName(dims["dim_product"].limit(1))
    cust = dims["dim_customer"]
    bad_dims["dim_customer"] = cust.unionByName(cust.limit(1).withColumn(
        "customer_id", F.lit(None).cast(dict(cust.dtypes)["customer_id"])
    ))
    with pytest.raises(ValueError) as err:
        write_star(spark, bad_dims, fact, out)
    assert "pk_dim_product: 1 violations" in str(err.value)
    assert "pk_dim_customer: 1 violations" in str(err.value)
    assert {p: os.path.getmtime(p) for p in glob.glob(f"{out}/dim_*/*")} == published
    assert not os.path.isdir(f"{out}/fact_sales.staging")


def test_fact_gate_counts_equal_violation_relations(spark, sf_dir, tmp_path):
    """The one-scan fact gate counts exactly what the violation relations
    hold: a NULL FK is no FK violation, only a NOT NULL one."""
    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        FACT_NOT_NULL,
        STAR_DIM_KEYS,
        write_star,
    )
    from datawarehouse_etl_using_hyperjoin_spark.operators.constraints import (
        fact_counts,
        fk_violations,
        not_null_violations,
    )

    dims, fact = _star_inputs(spark, sf_dir)
    types = dict(fact.dtypes)

    def with_key(col, value, n=1):
        return fact.limit(n).withColumn(col, F.lit(value).cast(types[col]))

    bad = (
        fact.unionByName(with_key("product_id", -999, 2))
        .unionByName(with_key("customer_id", -999))
        .unionByName(with_key("product_id", None))
    )
    star = {name: (dims[name], pk, fk) for name, (pk, fk) in STAR_DIM_KEYS.items()}
    rows, got = fact_counts(bad, star, FACT_NOT_NULL)
    assert rows == bad.count()
    want = {
        f"fk_{name}": fk_violations(bad, dim, fk, pk).count()
        for name, (dim, pk, fk) in star.items()
    }
    want["fact_not_null"] = not_null_violations(bad, FACT_NOT_NULL).count()
    assert got == want
    assert got == {
        "fk_dim_product": 2, "fk_dim_supplier": 0, "fk_dim_store": 0,
        "fk_dim_order": 0, "fk_dim_customer": 1, "fact_not_null": 1,
    }

    with pytest.raises(ValueError) as err:
        write_star(spark, dims, bad, str(tmp_path / "dw"))
    msg = str(err.value)
    assert "fk_dim_product: 2 violations" in msg
    assert "fk_dim_customer: 1 violations" in msg
    assert "fact_not_null: 1 violations" in msg
    assert "fk_dim_supplier" not in msg


def _job_ids_for_group(sc, group):
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_run_pipeline_jobs_inherit_the_callers_job_group(spark, sf_dir, tmp_path):
    """run_pipeline overlaps independent actions on worker threads; each
    worker inherits the caller's local properties, so every job it
    launches, from any thread, lands in the caller's job group, and all
    of them have finished when it returns."""
    sc = spark.sparkContext
    group = "run-pipeline-inherits-group"

    def sentinel(name):
        sc.setJobGroup(name, name)
        spark.range(1).count()
        return _job_ids_for_group(sc, name)

    try:
        first = max(sentinel("run-pipeline-before"))
        sc.setJobGroup(group, "run_pipeline under a caller-set job group")
        run_pipeline(spark, sf_dir, str(tmp_path / "dw"))
        ours = _job_ids_for_group(sc, group)
        last = min(sentinel("run-pipeline-after"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # job ids are sequential: every job between the two sentinels was
    # launched by the call, and every one of them carries its group
    assert ours and ours == set(range(first + 1, last))
    assert not sc.statusTracker().getActiveJobsIds()


def test_write_star_failed_dim_write_waits_for_the_others(spark, sf_dir, tmp_path):
    """A dim write that fails while the other writes are in flight makes
    write_star raise only after every write has finished: no Spark job is
    left running and no fact is published."""
    import os

    import pytest

    from datawarehouse_etl_using_hyperjoin_spark.etl import write_star

    dims, fact = _star_inputs(spark, sf_dir)
    # the PK gate reads only store_id, so the poisoned column fails the
    # dim's write and nothing before it
    store = dims["dim_store"]
    bad_dims = dict(dims)
    bad_dims["dim_store"] = store.withColumn("store_name", F.when(
        F.col("store_id").isNotNull(), F.raise_error(F.lit("dim_store write fails"))
    ))
    out = str(tmp_path / "dw")
    with pytest.raises(Exception, match="dim_store write fails"):
        write_star(spark, bad_dims, fact, out)
    assert not spark.sparkContext.statusTracker().getActiveJobsIds()
    assert not os.path.isdir(f"{out}/fact_sales")


def test_write_star_lands_one_file_per_fact_month(spark, sf_dir, tmp_path):
    """The staged fact is rebalanced on order_month before the
    partitioned write: a fact spread over 8 input partitions still lands
    exactly one parquet file per month, with rows and sales unchanged."""
    import glob

    from datawarehouse_etl_using_hyperjoin_spark.etl import write_star

    dims, fact = _star_inputs(spark, sf_dir)
    out = str(tmp_path / "dw")
    write_star(spark, dims, fact.repartition(8), out)
    months = glob.glob(f"{out}/fact_sales/order_month=*")
    assert len(months) > 12
    for month in months:
        assert len(glob.glob(f"{month}/*.parquet")) == 1, month

    def totals(df):
        return df.agg(
            F.count(F.lit(1)), F.sum(F.col("sales").cast("decimal(18,2)"))
        ).first()

    assert totals(spark.read.parquet(f"{out}/fact_sales")) == totals(fact)


def _plan_nodes(plan, ancestors=()):
    """(node, ancestors) pairs of a JVM physical plan, walked through AQE's
    wrapper, its query stages and broadcast exchanges."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        return _plan_nodes(plan.executedPlan(), ancestors)
    if kind.endswith("QueryStageExec"):
        return _plan_nodes(plan.plan(), ancestors)
    out = [(plan, ancestors)]
    children = plan.children()
    for i in range(children.size()):
        out += _plan_nodes(children.apply(i), ancestors + (kind,))
    return out


def _assert_fact_spread_on_orderkey(staged):
    """Plan lock on the staged-fact write: exactly one hash exchange on
    l_orderkey, under every broadcast join of the fact and over the
    lineitem scan, and no other shuffle but the order_month rebalance."""
    shuffles = {}
    for node, above in _plan_nodes(staged._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        part, cols = node.outputPartitioning(), ()
        if part.getClass().getSimpleName() == "HashPartitioning":
            exprs = part.expressions()
            cols = tuple(exprs.apply(i).name() for i in range(exprs.size()))
        shuffles.setdefault(cols, []).append((node, above))
    assert sorted(shuffles) == [("l_orderkey",), ("order_month",)], shuffles
    [(spread, above)] = shuffles[("l_orderkey",)]
    assert above.count("BroadcastHashJoinExec") == 5, above
    scans = [
        n.relation().location().rootPaths().apply(0).getName()
        for n, _ in _plan_nodes(spread)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert scans == ["lineitem.parquet"], scans


def _staged_fact(spark, sf_dir, monkeypatch):
    """The fact load_star hands to write_star, as the staged write plans it."""
    from datawarehouse_etl_using_hyperjoin_spark import etl

    seen = {}
    monkeypatch.setattr(etl, "write_star", lambda s, dims, fact, out: seen.update(fact=fact))
    etl.load_star(spark, sf_dir, "unused")
    return seen["fact"].hint("rebalance", "order_month")


def test_load_star_spreads_a_single_split_fact_on_orderkey(
    spark, sf_dir, tmp_path, monkeypatch
):
    """load_star hash-spreads lineitem on l_orderkey when its scan offers
    fewer splits than defaultParallelism (the one-file fixture), so the
    fact's joins and rebalance write run on every core.  Negative control:
    the same tables with lineitem re-written as defaultParallelism files
    get no spread, and the lock fails."""
    import os

    import pytest

    par = spark.sparkContext.defaultParallelism
    assert len(load_table(spark, sf_dir, "lineitem").inputFiles()) < par
    _assert_fact_spread_on_orderkey(_staged_fact(spark, sf_dir, monkeypatch))

    wide = tmp_path / "sf_wide"
    wide.mkdir()
    for name in ("orders", "customer", "part", "supplier", "nation"):
        os.symlink(f"{sf_dir}/{name}.parquet", wide / f"{name}.parquet")
    load_table(spark, sf_dir, "lineitem").repartition(par).write.parquet(
        str(wide / "lineitem.parquet")
    )
    assert len(load_table(spark, str(wide), "lineitem").inputFiles()) >= par
    with pytest.raises(AssertionError):
        _assert_fact_spread_on_orderkey(_staged_fact(spark, str(wide), monkeypatch))


def test_write_star_read_back_lists_within_the_cores(
    spark, sf_dir, tmp_path, monkeypatch
):
    """write_star reads the staged fact and the five dims back with the
    schemas it already holds: the read-back launches no parquet
    schema-inference job, only the staged fact's listing of its month
    dirs, in at most defaultParallelism tasks."""
    import glob
    import time

    from datawarehouse_etl_using_hyperjoin_spark import etl

    sc = spark.sparkContext
    group = "write-star-read-back"
    run_together, gate = etl._run_together, etl.fact_counts

    def writes_then_read_back(spark_, actions):
        out = run_together(spark_, actions)
        sc.setJobGroup(group, group)
        return out

    def gate_outside_the_group(*args):
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        return gate(*args)

    dims, fact = _star_inputs(spark, sf_dir)
    out = str(tmp_path / "dw")
    monkeypatch.setattr(etl, "_run_together", writes_then_read_back)
    monkeypatch.setattr(etl, "fact_counts", gate_outside_the_group)
    try:
        etl.write_star(spark, dims, fact, out)
        # the listener bus is ordered: once this sentinel is in the store,
        # every read-back job before it is too
        sc.setJobGroup("read-back-sentinel", "sentinel")
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup("read-back-sentinel"):
            assert time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    # the listing is a job only past the discovery threshold (32 paths)
    assert len(glob.glob(f"{out}/fact_sales/order_month=*")) > 32
    store = sc._jsc.sc().statusStore()
    jobs = []
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        data = store.job(job_id)
        desc = data.description().get() if data.description().isDefined() else ""
        jobs.append((desc, data.numTasks()))
    # the listing job carries its own description; a footer-inference
    # job carries the caller's
    listing = "Listing leaf files and directories for "
    listings = [n for desc, n in jobs if desc.startswith(listing)]
    inferred = len(jobs) - len(listings)
    assert not inferred and len(listings) == 1 and listings[0] <= sc.defaultParallelism, (
        f"{inferred} schema-inference jobs; listing tasks {listings}"
    )
