"""One-call / scheduled maintenance over the at-rest artifact families.

r11 (VERDICT r10 "What's wrong" #3): the compaction passes existed but
were separate manual calls.  These tests pin the two closures:

* ``run_maintenance`` — one call compacts a declared layout spanning all
  artifact families (corpus dir, star fact dir, bucketed index table,
  quarantine side dirs), rows preserved everywhere;
* ``run_pipeline_streaming(maintenance_every=N)`` — a long-lived stream
  keeps its own partition-dir counts bounded WITHOUT any manual call,
  and the mid-stream passes change no query-visible values;
* replay convergence: a micro-batch re-run after a maintenance pass
  (the crash-before-checkpoint-commit window) converges to the same
  state instead of duplicating or losing rows.
"""

from __future__ import annotations

import uuid as _uuid

import pytest
from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.maintenance import (
    make_maintenance_sink,
    run_maintenance,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
    master_data,
    transactions,
)
from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
    read_parquet_stream,
    run_pipeline_streaming,
)


def _decimal_sum(df, col="total_sale"):
    return df.agg(F.sum(F.col(col).cast("decimal(18,2)"))).first()[0]


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_run_maintenance_one_call_covers_every_artifact_family(
    spark, tmp_path_factory
):
    """One declared layout, one call: every family compacts (partition
    counts drop to merged+kept), and every family's rows survive."""
    from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
        upsert_embedding_index_batch,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_quarantine_sink,
    )

    root = str(tmp_path_factory.mktemp("maint_all"))

    # corpus-shaped dir: 6 per-batch partitions
    corpus_dir = f"{root}/corpus"
    for b in range(6):
        spark.range(b * 10, b * 10 + 10).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text "), F.col("id")).alias("text"),
            F.lit(b).alias("ingest_batch"),
        ).write.mode("append").partitionBy("ingest_batch").parquet(corpus_dir)

    # star-fact-shaped dir: batch_id partitions
    fact_dir = f"{root}/fact"
    for b in range(5):
        spark.range(b * 4, b * 4 + 4).select(
            F.col("id").alias("order_id"),
            (F.col("id") * 2.5).alias("total_sale"),
            F.lit(b).alias("batch_id"),
        ).write.mode("append").partitionBy("batch_id").parquet(fact_dir)

    # bucketed index table: 4 ingest batches via the embedding upsert
    table = f"maint_emb_{_uuid.uuid4().hex[:8]}"
    for b in range(4):
        vecs = spark.createDataFrame(
            [(b * 100 + i, [float(i + 1), float(b + 1), 1.0]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        upsert_embedding_index_batch(vecs, table, b, n_buckets=4)

    # quarantine side dirs: drive the real sink for 5 batches
    q_dir = f"{root}/qdir"
    seen = []
    qsink = make_quarantine_sink(
        lambda df, bid: seen.append(df.count()),
        q_dir,
        watermark_col="ts",
        lateness="1 hour",
    )
    for b in range(5):
        qsink(
            spark.createDataFrame(
                [(b, f"2024-01-01 {10 + b}:00:00")], "k int, ts_s string"
            ).select("k", F.col("ts_s").cast("timestamp").alias("ts")),
            b,
        )

    before = {
        "corpus": spark.read.parquet(corpus_dir).count(),
        "fact": spark.read.parquet(fact_dir).count(),
        "lsh": spark.table(table).count(),
    }
    try:
        stats = run_maintenance(
            spark,
            corpus_dirs=[corpus_dir],
            fact_dirs=[fact_dir],
            lsh_tables=[table],
            quarantine_dirs=[q_dir],
            keep_last=1,
        )
        assert set(stats) == {
            f"corpus:{corpus_dir}", f"fact:{fact_dir}", f"lsh:{table}",
            f"quarantine:{q_dir}",
        }
        # rows preserved everywhere
        assert spark.read.parquet(corpus_dir).count() == before["corpus"]
        assert spark.read.parquet(fact_dir).count() == before["fact"]
        assert spark.table(table).count() == before["lsh"]
        # history merged: 6 → merged(1) + kept(1); 5 → 2; 4 → 2
        n_part = lambda df, c: df.select(c).distinct().count()  # noqa: E731
        assert n_part(spark.read.parquet(corpus_dir), "ingest_batch") == 2
        assert n_part(spark.read.parquet(fact_dir), "batch_id") == 2
        assert n_part(spark.table(table), "ingest_batch") == 2
        # hwm partitions merged too (5 → 2)
        assert n_part(spark.read.parquet(f"{q_dir}/_hwm"), "ingest_batch") == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.fixture(scope="module")
def eight_file_stream_dir(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("txn8"))
    transactions(spark, sf_dir).repartition(8).write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_pipeline_maintenance_cadence_bounds_partitions(
    spark, sf_dir, eight_file_stream_dir, tmp_path_factory
):
    """The opt-in cadence hook: an 8-micro-batch stream with
    maintenance_every=2 ends with its fact and _hwm partition-dir counts
    BOUNDED (≪ batch count) and the fact content identical to the
    maintenance-free reference run — the long-stream closure the four
    manual calls could not give."""
    master = master_data(spark, sf_dir)

    ref_out = str(tmp_path_factory.mktemp("ref_out"))
    run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, eight_file_stream_dir, max_files_per_trigger=1),
        master,
        ref_out,
        checkpoint_dir=ref_out + "/_ckpt",
        quarantine_lateness="3650 days",
    )

    out = str(tmp_path_factory.mktemp("maint_out"))
    counts = run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, eight_file_stream_dir, max_files_per_trigger=1),
        master,
        out,
        checkpoint_dir=out + "/_ckpt",
        quarantine_lateness="3650 days",
        maintenance_every=2,
        maintenance_keep_last=1,
    )
    ref_fact = spark.read.parquet(f"{ref_out}/fact_enriched")
    fact = spark.read.parquet(f"{out}/fact_enriched")
    # identical query-visible content (batch_id relabeling aside)
    assert counts["fact_enriched"] == ref_fact.count() == fact.count()
    data_cols = [c for c in fact.columns if c != "batch_id"]
    assert fact.select(data_cols).exceptAll(ref_fact.select(data_cols)).count() == 0
    assert ref_fact.select(data_cols).exceptAll(fact.select(data_cols)).count() == 0
    assert _decimal_sum(fact) == _decimal_sum(ref_fact)
    # ...but the partition history stayed bounded: the reference run has
    # one batch_id dir per micro-batch, the maintained run merged its
    # committed history on the 2-batch cadence
    n_batches = ref_fact.select("batch_id").distinct().count()
    assert n_batches == 8
    maintained = fact.select("batch_id").distinct().count()
    assert maintained <= 4  # merged(1) + kept(1) + since-last-pass(≤2)
    # quarantine hwm partitions bounded the same way
    hwm = spark.read.parquet(f"{out}/_hwm")
    assert hwm.select("ingest_batch").distinct().count() <= 4
    assert spark.read.parquet(f"{ref_out}/_hwm").select(
        "ingest_batch"
    ).distinct().count() == 8
    # dim state identical
    assert counts["dim_product"] == spark.read.parquet(
        f"{ref_out}/dim_product"
    ).count()


@pytest.mark.slow  # soak tier (pytest.ini): run with -m ""
def test_maintained_sink_replay_converges(spark, sf_dir, tmp_path_factory):
    """The crash window: a batch re-runs AFTER its maintenance pass ran
    (writes landed, checkpoint commit lost).  The composed sink
    (maintenance ∘ star) must converge — same fact rows, same dim —
    because the replayed batch's partition is inside keep_last and the
    pass is idempotent."""
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
        make_star_sink,
        stream_static_hyperjoin,
    )

    txns = stream_static_hyperjoin(
        transactions(spark, sf_dir), master_data(spark, sf_dir)
    ).limit(40).cache()
    batches = [
        txns.filter(F.pmod(F.col("order_id"), F.lit(4)) == b) for b in range(4)
    ]

    def run(replay_batch: int | None) -> tuple[int, object, int]:
        out = str(tmp_path_factory.mktemp("replay"))
        sink = make_maintenance_sink(
            make_star_sink(out),
            2,
            keep_last=1,
            fact_dirs=[f"{out}/fact_enriched"],
        )
        for b, df in enumerate(batches):
            sink(df, b)
            if b == replay_batch:
                sink(df, b)  # at-least-once re-delivery of the SAME batch
        fact = spark.read.parquet(f"{out}/fact_enriched")
        dim = spark.read.parquet(f"{out}/dim_product")
        return fact.count(), _decimal_sum(fact), dim.count()

    clean = run(replay_batch=None)
    # replay the maintenance-firing batch (pass ran, commit lost) AND the
    # final batch (plain write replay) — both must converge to the clean run
    assert run(replay_batch=2) == clean
    assert run(replay_batch=3) == clean


def test_pipeline_all_empty_late_reports_zero(spark, sf_dir, tmp_path_factory):
    """ADVICE r11 (low): with quarantine on, a stream where EVERY
    batch's late split is empty (the common no-straggler case) must
    report late=0 — not raise on reading the all-empty late dirs."""
    stream_dir = str(tmp_path_factory.mktemp("noq"))
    transactions(spark, sf_dir).limit(200).repartition(2).write.mode(
        "overwrite"
    ).parquet(stream_dir)
    out = str(tmp_path_factory.mktemp("noq_out"))
    counts = run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, stream_dir, max_files_per_trigger=1),
        master_data(spark, sf_dir),
        out,
        checkpoint_dir=out + "/_ckpt",
        quarantine_lateness="3650 days",  # nothing is ever late
    )
    assert counts["late"] == 0
    assert counts["fact_enriched"] == 200
