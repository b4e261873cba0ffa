"""Runnable demo: the OBJECT-STORE posture, end to end, with renames
disabled for the whole run.

Everything here commits through the generation-manifest protocol
(``manifest.py``): data only ever lands at fresh generation paths, the
commit point is a manifest PUT, readers resolve exactly the published
state, and maintenance rewrites to fresh paths instead of swapping
directories.  To prove the posture rather than claim it, this script
REPLACES ``os.rename``/``os.replace``/``shutil.move`` with raising
stubs before any pipeline work starts — the local-fs idioms the
engine's partition layouts use are physically unavailable, exactly as
on S3/GCS.

Stages (printed as they run):

1. the reference's star pipeline in streaming form —
   ``run_pipeline_streaming(fact_layout='manifest', dim_layout='manifest',
   maintenance_every=...)``: ledgered fact commits, atomic dim merges,
   quarantined late rows, scheduled rename-free compaction;
2. streamed corpus ingest with at-rest LSH dedup,
   ``corpus_layout='manifest'``, including a simulated re-delivery the
   ledger must skip;
3. the vector index lifecycle on the manifest store: build → streaming
   ingest (exactly-once sink) → a crash injected BEFORE a publish
   (invisible to readers, retried cleanly) → hot-cell split → compact →
   vacuum → ANN serving off the final state.

    python examples/object_store_demo.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from datawarehouse_etl_using_hyperjoin_spark.operators.corpus import (
    make_corpus_ingest_sink,
)
from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
    compact_ivf_index_manifest,
    ivf_split_oversized_manifest,
    ivf_vacuum,
    make_ivf_ingest_sink,
    read_ivf_centroids,
    read_ivf_index_manifest,
    write_ivf_index_manifest,
)
from datawarehouse_etl_using_hyperjoin_spark.operators.similarity import (
    ann_ivf_index_topk,
)
from datawarehouse_etl_using_hyperjoin_spark.session import get_spark
from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import (
    load_table,
    master_data,
    transactions,
)
from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
    read_manifest_table,
)
from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import (
    read_parquet_stream,
    run_pipeline_streaming,
)


def _disable_renames() -> None:
    def boom(*a, **k):
        raise OSError(
            "rename is unavailable in this demo (object-store simulation)"
        )

    os.rename = boom  # type: ignore[assignment]
    os.replace = boom  # type: ignore[assignment]
    shutil.move = boom  # type: ignore[assignment]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("object-store-demo", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="objstore_demo_")
    _disable_renames()
    print(f"== object-store posture demo (renames DISABLED), sf={sf_dir}")

    # -- 1. the reference pipeline, streaming — EVERY relation on the
    # manifest layout (r13): ledgered fact, keyed-MERGE dim
    # (manifest_table_merge: CoW delete of matched keys + batch append
    # in ONE conditional PUT), manifest late/_hwm — no commit anywhere
    # in the pipeline is a partition overwrite
    stream_dir = f"{root}/txn_stream"
    transactions(spark, sf_dir).repartition(4).write.parquet(stream_dir)
    out = f"{root}/dw"
    counts = run_pipeline_streaming(
        spark,
        read_parquet_stream(spark, stream_dir, max_files_per_trigger=1),
        master_data(spark, sf_dir),
        out,
        checkpoint_dir=f"{out}/_ckpt",
        dim_layout="manifest",
        fact_layout="manifest",  # also flips late/_hwm to manifest
        quarantine_lateness="3650 days",
        quarantine_watermark_col="order_date",
        maintenance_every=2,
        maintenance_keep_last=1,
    )
    fact = read_manifest_table(spark, f"{out}/fact_enriched")
    from datawarehouse_etl_using_hyperjoin_spark.manifest import manifest_read

    live = manifest_read(spark, f"{out}/fact_enriched")
    dim = read_manifest_table(spark, f"{out}/dim_product")
    print(
        f"[star]   dim={counts['dim_product']} fact={counts['fact_enriched']} "
        f"late={counts['late']} generations={len(live['gens'])} "
        f"(maintenance merged {len(live['batches']) - len(live['gens'])} of "
        f"{len(live['batches'])} ledgered batches) "
        f"sum(total_sale)={fact.agg(F.sum('total_sale')).first()[0]:.2f}; "
        f"dim key-unique at rest: "
        f"{'OK' if dim.count() == dim.select('product_id').distinct().count() else 'FAILED'}"
    )

    # -- 2. corpus ingest, manifest layout, with a replayed delivery
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") < 200)
    b1 = docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 300)
    ).unionByName(
        # near-dups of batch 0: must be dropped against the AT-REST index
        b0.limit(40).select(
            (F.col("doc_id") + 50_000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    corpus = f"{root}/corpus"
    index = f"demo_lsh_{uuid.uuid4().hex[:8]}"
    sink = make_corpus_ingest_sink(
        corpus, index, min_quality=0.0, min_tokens=1,
        corpus_layout="manifest",
    )
    sink(b0, 0)
    sink(b1, 1)
    n = read_manifest_table(spark, corpus).count()
    sink(b1, 1)  # at-least-once re-delivery: the ledger must skip it
    n_after = read_manifest_table(spark, corpus).count()
    print(
        f"[corpus] survivors={n} (near-dups dropped against the at-rest "
        f"index); replayed delivery skipped by the ledger "
        f"({'OK' if n == n_after else 'FAILED'})"
    )
    spark.sql(f"DROP TABLE IF EXISTS {index}")

    # -- 3. the vector index lifecycle on the manifest store
    em = load_table(spark, sf_dir, "embeddings")
    ivf = f"{root}/ivf"
    write_ivf_index_manifest(
        em.filter(F.col("vec_id") % 3 == 0), ivf, n_centroids=2
    )
    vec_sink = make_ivf_ingest_sink(ivf)
    vec_sink(em.filter(F.col("vec_id") % 3 == 1), 1)

    # crash BEFORE publish: the write lands, the manifest does not —
    # readers see nothing, the retry commits exactly once
    import datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store as st

    real_publish, st.manifest_publish = st.manifest_publish, lambda *a, **k: (
        (_ for _ in ()).throw(RuntimeError("simulated crash"))
    )
    try:
        vec_sink(em.filter(F.col("vec_id") % 3 == 2), 2)
    except RuntimeError:
        pass
    n_mid = read_ivf_index_manifest(spark, ivf).count()
    st.manifest_publish = real_publish
    vec_sink(em.filter(F.col("vec_id") % 3 == 2), 2)  # retry
    n_all = read_ivf_index_manifest(spark, ivf).count()
    print(
        f"[ivf]    crash-before-publish invisible (rows {n_mid} -> {n_all} "
        f"after retry, corpus total {em.count()}: "
        f"{'OK' if n_all == em.count() else 'FAILED'})"
    )

    sizes = {
        int(r[0]): r[1]
        for r in read_ivf_index_manifest(spark, ivf)
        .groupBy("centroid_id").count().collect()
    }
    split = ivf_split_oversized_manifest(
        spark, ivf, max_rows=max(sizes.values()) - 1, k=2
    )
    stats = compact_ivf_index_manifest(spark, ivf)
    # time travel BEFORE vacuum narrows the window: seq 3 (the retried
    # append) is the pre-split snapshot, read with the quantizer it was
    # assigned under — one manifest names both, so the pair holds at
    # every snapshot
    snap = read_ivf_index_manifest(spark, ivf, as_of=3)
    print(
        f"[ivf]    time travel: as_of=3 reads {snap.count()} rows in "
        f"{snap.select('centroid_id').distinct().count()} pre-split cells "
        f"(live: "
        f"{read_ivf_index_manifest(spark, ivf).select('centroid_id').distinct().count()}"
        " cells)"
    )
    # snapshot-aware retention: keep 3 manifests, so seq 3 STAYS readable
    vac = ivf_vacuum(spark, ivf, keep_manifests=3)
    assert read_ivf_index_manifest(spark, ivf, as_of=3).count() == snap.count()
    print(
        f"[ivf]    split parents={split}; compacted "
        f"{stats['files_before']}->{stats['files_after']} files; vacuum "
        f"reclaimed {vac['data_dirs_deleted']} dirs, "
        f"{vac['manifests_deleted']} old manifests"
    )
    top = ann_ivf_index_topk(
        em.filter(F.col("vec_id") < 4),
        read_ivf_index_manifest(spark, ivf),
        read_ivf_centroids(spark, ivf),
        k=3, nprobe=2,
    )
    print(f"[ivf]    ANN serving off the final state: {top.count()} result rows")

    # -- 4. r12: two writers racing one commit + additive schema evolution
    import datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table as mtab
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_append,
    )

    tbl = f"{root}/evolving_table"
    manifest_table_append(docs.filter(F.col("doc_id") < 50), tbl, 0)
    # writer B commits batch 9 between writer A's head read and A's
    # conditional PUT; A loses the PUT, rebases, and lands — both commit
    real_pub, fired = mtab.manifest_publish, {"done": False}

    def racy(s_, r_, payload, *, seq):
        if not fired["done"]:
            fired["done"] = True
            mtab.manifest_table_append(
                docs.filter(
                    (F.col("doc_id") >= 300) & (F.col("doc_id") < 350)
                ),
                tbl, 9,
            )
        return real_pub(s_, r_, payload, seq=seq)

    mtab.manifest_publish = racy
    try:
        # writer A's batch also ADDS a column — additive schema evolution
        manifest_table_append(
            docs.filter(
                (F.col("doc_id") >= 50) & (F.col("doc_id") < 100)
            ).withColumn("lang", F.lit("en")),
            tbl, 1,
        )
    finally:
        mtab.manifest_publish = real_pub
    t = read_manifest_table(spark, tbl)
    ledger = sorted(manifest_read(spark, tbl)["batches"])
    print(
        f"[table]  conditional-PUT race: both writers committed "
        f"(ledger batches={ledger}, rows={t.count()}); schema evolved "
        f"additively to {t.columns} — "
        f"{t.where(F.col('lang').isNull()).count()} pre-evolution rows "
        "read lang=NULL"
    )
    # -- 5. data skipping: stats + blooms prune generations at read time
    skiproot = f"{root}/events_table"
    for b in range(8):
        batch = spark.range(500).select(
            (F.col("id") * 8 + b).alias("event_id"),  # overlapping ranges
            F.date_add(F.to_date(F.lit("2024-01-01")), b).alias("day"),
            (F.rand(seed=b) * 100).alias("amount"),
        )
        manifest_table_append(
            batch, skiproot, b,
            stats_cols=["day"] if b == 0 else None,
            bloom_cols=["event_id"] if b == 0 else None,
        )
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_aggregate,
        plan_manifest_read,
    )
    import datetime as dt

    day_plan = plan_manifest_read(
        spark, skiproot, [("day", "=", dt.date(2024, 1, 5))]
    )
    key_plan = plan_manifest_read(spark, skiproot, [("event_id", "=", 1998)])
    hits = read_manifest_table(
        spark, skiproot, where=[("event_id", "=", 1998)]
    ).count()
    agg = manifest_table_aggregate(spark, skiproot)
    print(
        f"[skip]   day predicate scans {day_plan['scanned']}/"
        f"{day_plan['total']} generations (min/max stats); point lookup "
        f"scans {key_plan['scanned']}/{key_plan['total']} (Bloom sidecars"
        f", {hits} row); count/min/max answered from the manifest alone: "
        f"rows={agg['rows']} day_max={agg['cols']['day']['max']} "
        f"exact={agg['exact']}"
    )

    # -- 6. the lakehouse verbs on top: CDC cursor + copy-on-write delete
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_delete,
        read_manifest_table_changes,
    )

    cursor = manifest_read(spark, skiproot)["seq"]
    manifest_table_append(
        spark.range(100).select(
            (F.col("id") + 90_000).alias("event_id"),
            F.to_date(F.lit("2024-02-01")).alias("day"),
            F.lit(1.0).alias("amount"),
        ),
        skiproot, 99,
    )
    changes = read_manifest_table_changes(spark, skiproot, cursor)
    dstats = manifest_table_delete(spark, skiproot, [("event_id", "=", 1998)])
    print(
        f"[verbs]  changes since seq {cursor}: {changes.count()} rows from "
        f"{len({f.rsplit('/', 2)[-2] for f in changes.inputFiles()})} new "
        f"generation (O(new data) IO); copy-on-write delete of 1 key "
        f"rewrote {dstats['gens_rewritten']} generation, "
        f"{dstats['gens_untouched']} byte-untouched"
    )

    # -- 7. r13 verbs: OR-window pruning, keyed MERGE, IVF point fetch
    import datetime as _dt2

    or_plan = plan_manifest_read(
        spark, skiproot,
        [("or", [
            [("day", "=", dt.date(2024, 1, 2))],
            [("day", "=", dt.date(2024, 1, 6))],
        ])],
    )
    from datawarehouse_etl_using_hyperjoin_spark.sources.manifest_table import (
        manifest_table_merge,
    )

    pre_gens = set(manifest_read(spark, skiproot)["gens"])
    upsert = spark.createDataFrame(
        [(2006, _dt2.date(2024, 3, 1), 42.0)],
        "event_id long, day date, amount double",
    )
    manifest_table_merge(upsert, skiproot, "event_id", 500)
    post = manifest_read(spark, skiproot)
    merged_row = read_manifest_table(
        spark, skiproot, where=[("event_id", "=", 2006)]
    ).collect()
    from datawarehouse_etl_using_hyperjoin_spark.operators.ivf_store import (
        ivf_enable_id_blooms,
        ivf_fetch_by_id,
        plan_ivf_fetch,
    )

    ivf_enable_id_blooms(spark, ivf)
    some_id = read_ivf_index_manifest(spark, ivf).select(
        "vec_id"
    ).first()[0]
    fplan = plan_ivf_fetch(spark, ivf, [some_id])
    fetched = ivf_fetch_by_id(spark, ivf, [some_id]).count()
    print(
        f"[r13]    OR window scans {or_plan['scanned']}/{or_plan['total']} "
        f"generations (union of disjuncts); keyed MERGE of 1 event left "
        f"{len(pre_gens & set(post['gens']))} generations byte-untouched "
        f"in one conditional PUT "
        f"({'OK' if len(merged_row) == 1 and merged_row[0].amount == 42.0 else 'FAILED'}); "
        f"IVF point fetch read {fplan['scanned']}/{fplan['total']} "
        f"(cell, gen) dirs via driver-math Bloom sidecars "
        f"({'OK' if fetched == 1 else 'FAILED'})"
    )

    print("== done: every commit above was a manifest PUT; zero renames")
    spark.stop()


if __name__ == "__main__":
    main()
