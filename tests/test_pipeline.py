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


def test_refresh_fact_month_touches_only_one_partition(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: refreshing one month leaves every
    other month's files byte-identical (the incremental-maintenance
    contract the month partitioning exists for)."""
    import glob
    import os

    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        load_star,
        refresh_fact_month,
    )

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    fact_dir = f"{out}/fact_sales"
    months = sorted(
        os.path.basename(p).split("=")[1] for p in glob.glob(f"{fact_dir}/order_month=*")
    )
    assert len(months) > 3
    target, untouched = months[1], months[2]
    before_target = {p: os.path.getmtime(p) for p in glob.glob(f"{fact_dir}/order_month={target}/*.parquet")}
    before_other = {p: os.path.getmtime(p) for p in glob.glob(f"{fact_dir}/order_month={untouched}/*.parquet")}
    n_before = spark.read.parquet(fact_dir).count()

    n = refresh_fact_month(spark, sf_dir, out, target)
    assert n > 0
    # target partition was rewritten (new files)
    after_target = {p: os.path.getmtime(p) for p in glob.glob(f"{fact_dir}/order_month={target}/*.parquet")}
    assert after_target and after_target != before_target
    # other partitions untouched, and total content unchanged (same input)
    after_other = {p: os.path.getmtime(p) for p in glob.glob(f"{fact_dir}/order_month={untouched}/*.parquet")}
    assert after_other == before_other
    assert spark.read.parquet(fact_dir).count() == n_before


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


def test_refresh_fact_month_compacts_refreshed_partition(spark, sf_dir, tmp_path):
    """Per-month refresh is where small files accumulate (one file per
    shuffle partition per rewrite), so refresh_fact_month compacts the
    refreshed month's leaf dir by default: post-refresh file count hits
    the byte-sized target (1 file at test scale), values are unchanged,
    and the compaction side dirs are hidden names a table-root scan never
    sees as extra partitions."""
    import glob
    import os

    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        load_star,
        refresh_fact_month,
    )

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    fact_dir = f"{out}/fact_sales"
    months = sorted(
        os.path.basename(p).split("=")[1]
        for p in glob.glob(f"{fact_dir}/order_month=*")
    )
    target = months[2]
    before = (
        spark.read.parquet(fact_dir)
        .groupBy("order_month")
        .count()
        .orderBy("order_month")
        .collect()
    )

    # simulate weeks of accumulated micro-refreshes: fragment the month's
    # leaf dir into 8 small files (at sf0.001 a single refresh writes one
    # file — broadcast joins over one input split — so fragmentation is
    # staged directly; at scale every rewrite lands one file per shuffle
    # partition and this state arises on its own)
    leaf = f"{fact_dir}/order_month={target}"
    frag = spark.read.parquet(leaf).repartition(8).cache()
    frag.count()
    frag.write.mode("overwrite").parquet(leaf)
    frag.unpersist()
    assert len(glob.glob(f"{leaf}/*.parquet")) == 8

    # compacted refresh (default): byte-sized target → 1 file at sf0.001,
    # range-clustered on the order key
    n = refresh_fact_month(spark, sf_dir, out, target, cluster_by=["order_id"])
    assert n > 0
    files_compacted = glob.glob(f"{fact_dir}/order_month={target}/*.parquet")
    assert len(files_compacted) == 1
    # no staging/old residue, and nothing visible to partition discovery
    assert not glob.glob(f"{fact_dir}/order_month={target}.*")
    assert not glob.glob(f"{fact_dir}/.order_month={target}*")
    # values unchanged across both refreshes
    after = (
        spark.read.parquet(fact_dir)
        .groupBy("order_month")
        .count()
        .orderBy("order_month")
        .collect()
    )
    assert after == before


def test_summary_incremental_refresh_matches_full_rebuild(spark, sf_dir, tmp_path):
    """The materialized month×product×store rollup: after a one-month fact
    correction, refresh_summary_month brings the summary to exactly the
    state a from-scratch rebuild would produce, while touching only the
    refreshed month's partition (all other partitions' files are the same
    physical files afterwards)."""
    import glob

    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        build_summary,
        load_star,
        refresh_summary_month,
        write_summary,
    )

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    n = write_summary(spark, out)
    assert n > 0

    fact_path = out + "/fact_sales"
    fact = spark.read.parquet(fact_path)
    month = fact.select("order_month").orderBy("order_month").first()[0]

    # a correction backfill: double that month's quantities and sales
    mod = (
        fact.filter(F.col("order_month") == month)
        .withColumn("quantity", F.col("quantity") * 2)
        .withColumn("sales", F.round(F.col("sales") * 2, 2))
    )
    # snapshot the month's pre-correction rollup NOW — after the dynamic
    # overwrite the old files are gone and this frame is unreadable
    stale = sorted(
        map(
            tuple,
            build_summary(fact.filter(F.col("order_month") == month)).collect(),
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        mod.write.mode("overwrite").partitionBy("order_month").parquet(fact_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    before = {
        f
        for f in glob.glob(out + "/summary_sales/order_month=*/*.parquet")
        if f"order_month={month}" not in f
    }
    refreshed = refresh_summary_month(spark, out, month)
    assert refreshed > 0
    after = {
        f
        for f in glob.glob(out + "/summary_sales/order_month=*/*.parquet")
        if f"order_month={month}" not in f
    }
    # incremental: every OTHER month's summary file is physically untouched
    assert before == after and before

    # partitioned read moves order_month to the schema tail — pin order
    cols = ["order_month", "product_id", "store_id", "n_lines", "sum_qty",
            "sum_sale", "min_sale", "max_sale"]
    got = sorted(
        map(tuple, spark.read.parquet(out + "/summary_sales").select(cols).collect())
    )
    want = sorted(
        map(tuple, build_summary(spark.read.parquet(fact_path)).select(cols).collect())
    )
    assert got == want
    # and the corrected month really changed the rollup (the test bites)
    fresh = sorted(
        map(
            tuple,
            build_summary(
                spark.read.parquet(fact_path).filter(F.col("order_month") == month)
            ).collect(),
        )
    )
    assert stale != fresh


def test_refresh_fact_month_chains_summary_refresh(spark, sf_dir, tmp_path):
    """refresh_fact_month(refresh_summary=True) leaves the rollup equal to
    a full rebuild from the refreshed fact — the one-call maintenance
    path for warehouses publishing summary_sales."""
    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        build_summary,
        load_star,
        refresh_fact_month,
        write_summary,
    )

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    write_summary(spark, out)
    month = (
        spark.read.parquet(out + "/fact_sales")
        .select("order_month")
        .orderBy("order_month")
        .first()[0]
    )
    refresh_fact_month(spark, sf_dir, out, month, refresh_summary=True)
    cols = ["order_month", "product_id", "store_id", "n_lines", "sum_qty",
            "sum_sale", "min_sale", "max_sale"]
    got = sorted(
        map(tuple, spark.read.parquet(out + "/summary_sales").select(cols).collect())
    )
    want = sorted(
        map(
            tuple,
            build_summary(spark.read.parquet(out + "/fact_sales"))
            .select(cols)
            .collect(),
        )
    )
    assert got == want


def test_expire_fact_months_drops_only_old_partitions(spark, sf_dir, tmp_path):
    """Retention is metadata-only: months before the cutoff disappear from
    fact AND summary, surviving partitions' files are physically
    untouched, and the surviving data still reads clean."""
    import glob
    import os

    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        expire_fact_months,
        load_star,
        write_summary,
    )

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    write_summary(spark, out)
    months = sorted(
        os.path.basename(p).split("=")[1]
        for p in glob.glob(out + "/fact_sales/order_month=*")
    )
    assert len(months) > 6
    cutoff = months[3]
    keep_rows = (
        spark.read.parquet(out + "/fact_sales")
        .filter(F.col("order_month") >= cutoff)
        .count()
    )
    survivors_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(out + "/fact_sales/order_month=*/*.parquet")
        if os.path.basename(os.path.dirname(p)).split("=")[1] >= cutoff
    }

    expired = expire_fact_months(spark, out, cutoff)
    assert expired["fact_sales"] == months[:3]
    assert expired["summary_sales"] == months[:3]

    left = sorted(
        os.path.basename(p).split("=")[1]
        for p in glob.glob(out + "/fact_sales/order_month=*")
    )
    assert left == months[3:]
    survivors_after = {
        p: os.path.getmtime(p)
        for p in glob.glob(out + "/fact_sales/order_month=*/*.parquet")
    }
    assert survivors_after == survivors_before  # untouched, nothing else left
    assert spark.read.parquet(out + "/fact_sales").count() == keep_rows
    # idempotent: a second pass drops nothing
    assert expire_fact_months(spark, out, cutoff) == {
        "fact_sales": [],
        "summary_sales": [],
    }


def test_dashboard_agg_routes_to_summary_and_matches_fact(
    spark, sf_dir, tmp_path
):
    """The aggregate navigator answers summary-servable grains FROM the
    rollup (no fact files touched) and the re-merged totals are
    bit-identical to aggregating the fact directly; a grain outside the
    summary keys falls back to the fact."""
    from datawarehouse_etl_using_hyperjoin_spark.etl import (
        dashboard_agg,
        load_star,
        write_summary,
    )

    out = str(tmp_path / "dw")
    load_star(spark, sf_dir, out)
    write_summary(spark, out)

    routed = dashboard_agg(spark, out, ["order_month"])
    # plan evidence: the summary path must read ONLY summary files
    files = routed.inputFiles()
    assert files and all("summary_sales" in f for f in files)

    # value evidence: identical to aggregating the fact at that grain
    from pyspark.sql import functions as F

    fact = spark.read.parquet(f"{out}/fact_sales")
    direct = fact.groupBy("order_month").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("sales").cast("decimal(18,2)")).cast("double").alias("sum_sale"),
        F.min("sales").alias("min_sale"),
        F.max("sales").alias("max_sale"),
    ).withColumn("avg_sale", F.col("sum_sale") / F.col("n_lines"))
    assert routed.exceptAll(direct).count() == 0
    assert direct.exceptAll(routed).count() == 0

    # month pruning becomes a PartitionFilter on the summary scan
    # (inputFiles() lists pre-pruning, so assert on the plan)
    one = dashboard_agg(spark, out, ["order_month"], months=["1995-03"])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "1995-03" in plan, plan[:1500]

    # non-summary grain (supplier) falls back to the fact
    fb = dashboard_agg(spark, out, ["supplier_id"])
    assert all("fact_sales" in f for f in fb.inputFiles())
    # months prune on the fallback path too
    fb_m = dashboard_agg(spark, out, ["supplier_id"], months=["1995-03"])
    plan_m = fb_m._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan_m and "1995-03" in plan_m
    direct_sup = fact.groupBy("supplier_id").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    got = {r.supplier_id: r.n_lines for r in fb.select("supplier_id", "n_lines").collect()}
    want = {r.supplier_id: r.n_lines for r in direct_sup.collect()}
    assert got == want
