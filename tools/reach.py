"""Reach probe: which package functions does the product actually call?

Drives the product surface with a Python profiler installed and maps every
call to its enclosing top-level package function or method (AST index):

- ``roster``: the 50 registry queries, each built and drained (``noop``);
- ``drains``: bench.py's three streaming drains through ``run_to_noop``;
- ``pipeline``: one ``etl.run_pipeline`` (the paper's batch dataflow);
- ``star_sink``: a ``read_parquet_stream`` -> ``stream_static_hyperjoin``
  -> ``foreachBatch(make_star_sink)`` stream over three small files, the
  composition ``perfbench`` times;
- ``demos``: the five demos ``tests/test_examples.py`` runs.

``sys.setprofile`` and ``threading.setprofile`` are both set, because
``etl._run_together`` runs actions on worker threads and ``foreachBatch``
sinks run on py4j callback threads.  Code that runs only inside Spark's
Python workers (pandas/Arrow UDFs) is invisible to a driver profiler; such
functions need a keep reason that cites the UDF call site.

Every unreached function is then classed by the tables below: ``EXCLUDED``
(out of scope here) or ``KEEP`` (a recorded reason).  Anything else is a
deletion candidate, and the probe exits 1 when one is left.

Usage (about 5 min on 4 cores):

    python tools/reach.py [--sf SF_DIR] [--out plans/r16]

``--sf`` defaults to the driver's smoke-check fixture dir.

Writes ``<out>/reach.json`` and ``<out>/reach.md``.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import json
import os
import sys
import tempfile
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datawarehouse_etl_using_hyperjoin_spark"
PKG_DIR = os.path.join(ROOT, PKG)
sys.path.insert(0, ROOT)

DEMOS = (
    "llm_pipeline_demo",
    "corpus_prep_demo",
    "web_hygiene_demo",
    "streaming_demo",
    "embedding_pipeline_demo",
)

# out of scope for this audit: a whole module when the key ends in ".py",
# else one function
_D5 = ("direction 5, last step: the generation-manifest table library, wired "
       "into no product path, retired with its tests in steps")
EXCLUDED = {
    "sources/manifest_table.py": _D5,
    "manifest.py": _D5,
    "streaming.pipeline.run_pipeline_streaming": "direction 4: to be measured directly",
}

# unreached functions that stay, each with its reason
_SPANS = "(a) perfbench/spans.py TARGETS wraps it by name; --trace 1 needs it"
_WORKER = "(c) runs in Python workers: "
_REF = "(d) test reference for a product path: "
_PAPER = "(e) the reference's own behaviour: "
_TOOL = "(f) tier-1 tooling: "
_D2 = "(f) direction 2 (plan census) owns plans/inspect"
_HELPER = "(h) helper a reached function calls under one of its parameters: "
_AGING = ("(i) the partition layout's aging pass, run by "
          "run_pipeline_streaming(maintenance_every=): ")


LEGEND = """\
Keep reasons: (a) `perfbench/spans.py` TARGETS wraps the name; (b) it runs
only on a failure or fallback path; (c) it runs only inside Python workers;
(d) a test uses it as the reference for a product path; (e) it is the
reference's own behaviour; (f) tier-1 tooling uses it, or direction 2 owns
it; (g) deferred: only tests call it, and retiring it retires those
default-tier tests, so it waits for the next audit step; (h) a reached
function calls it under one of its parameters; (i) it bounds the per-batch
partition dirs the streaming sinks leave, and
`run_pipeline_streaming(maintenance_every=)` runs it.
"""


def _deferred(tests: str) -> str:
    return f"(g) deferred; its callers are tests ({tests})"


KEEP: dict[str, str] = {
    "operators.constraints.star_schema_checks": _SPANS,
    "operators.constraints.expect_clean": _SPANS,
    "operators.constraints.pk_violations": _SPANS + "; also (b) write_star's PK-gate sampler",
    "operators.constraints.not_null_violations": _SPANS + "; also (b) write_star's fact-gate sampler",
    "operators.constraints.fk_violations": "(b) write_star's fact-gate sampler, run by "
    "raise_violations only when a check fails",
    "fsutil._table_exists_by_read": "(b) Spark Connect fallback of table_exists",
    "fsutil.is_no_table_error": "(b) Spark Connect fallback of table_exists/dir_exists",
    "fsutil._error_condition": "(b) Spark Connect fallback of is_no_table_error/dir_exists",
    "fsutil._strip_scheme": "(b) Spark Connect fallback of is_no_table_error/dir_exists",
    "operators.multimodal.decode_batch": _WORKER + "decode()'s mapInPandas (q_multimodal_meta)",
    "operators.multimodal._decode_one": _WORKER + "decode_batch, under decode()'s mapInPandas",
    "operators.multimodal._fake_decode": _WORKER + "_decode_one/_frames_one stub codec",
    "operators.bpe.bpe_encode_pandas": _WORKER + "its mapInPandas body; its one driver "
    "caller, bpe_encode, is deferred (g) with test_bpe",
    "operators.similarity.ann_bucketed_topk": _REF + "test_similarity's recall baseline "
    "for ann_multiprobe_topk",
    "operators.similarity.dequantize": _REF + "the inverse test_similarity checks "
    "quantize_embeddings against",
    "operators.bloom.bloom_fpr": _REF + "the analytic FPR test_bloom bounds bloom_build's "
    "design with",
    "operators.dedup.shingles": _REF + "the row form test_dedup checks minhash_array against",
    "operators.dedup.minhash_signatures": _REF + "the row form test_dedup checks "
    "minhash_array against",
    "operators.dedup.lsh_band_hashes": _REF + "the row form test_dedup checks "
    "lsh_bands_from_array against",
    "queries.extensions.q_summary_rollup": _REF + "q_summary_family's branch, run alone by tests",
    "queries.extensions.q_summary_incremental": _REF + "q_summary_family's branch, run alone by tests",
    "queries.extensions.q_passage_repeats": _REF + "q_passage_family's branch, run alone by tests",
    "queries.extensions.q_passage_strip": _REF + "q_passage_family's branch, run alone by tests",
    "sources.jdbc.read_jdbc": _PAPER + "the MySQL chunk scan (SURVEY.md S1/S2); test_jdbc",
    "sources.jdbc.write_jdbc_append": _PAPER + "the per-tuple fact INSERT (SURVEY.md S4); test_jdbc",
    "streaming.pipeline.consume_once": _PAPER + "consume-once evict-on-match "
    "(StreamGeneratorThread.java:126)",
    "streaming.pipeline.consume_once_stateful": _PAPER + "consume-once with TTL eviction "
    "(StreamGeneratorThread.java:126)",
    "queries.typecheck.oracle_type_mismatches": _TOOL + "tools/check_oracle.py and "
    "test_registry_contract",
    "queries.typecheck.canon_arrow_type": _TOOL + "oracle_type_mismatches",
    "queries.typecheck.hash_class": _TOOL + "oracle_type_mismatches",
    "plans.inspect.plan_string": _D2,
    "plans.inspect.pushed_filters": _D2,
    "plans.inspect.uses_broadcast_join": _D2,
    "operators.asof._to_tolerance": _HELPER + "asof_join(tolerance=)",
    "operators.similarity._ivf_probe_cells": _HELPER
    + "ann_ivf_index_topk_quantized(prune='literal'), the at-rest serving shape",
    "maintenance.make_maintenance_sink": _AGING + "the cadence wrapper",
    "maintenance.run_maintenance": _AGING + "one call over every artifact family",
    "operators.corpus.compact_corpus": _AGING + "the fact and corpus batch dirs",
    "streaming.pipeline.compact_quarantine": _AGING + "the late/_hwm batch dirs",
    "sources.files.compact_table": _AGING + "compact_corpus's rewrite and dir swap",
    "sources.files.with_zorder": _deferred("test_compaction, 1; tools/scale_probe.py "
                                           "measure_zorder_pruning"),
    "sources.files.zorder_value": _deferred("test_compaction, 2; tools/scale_probe.py "
                                            "measure_zorder_pruning"),
    "functions.scalar.parse_json_strict": _deferred("test_etl_operators, 1"),
    "operators.bpe.apply_merge": _deferred("test_bpe, 6 with bpe_train/bpe_encode"),
    "operators.bpe.bpe_train": _deferred("test_bpe, 6; examples/data_selection_demo"),
    "operators.bpe.bpe_vocab": _deferred("test_bpe; examples/data_selection_demo"),
    "operators.bpe.bpe_encode": _deferred("test_bpe, 3"),
    "operators.corpus.prepare_corpus_stream": _deferred("test_streaming, 2"),
    "operators.dedup.incremental_fingerprint_matches": _deferred("test_dedup, 1"),
    "operators.dedup.write_fingerprint_index": _deferred("test_dedup, 1"),
    "operators.dedup.lsh_candidate_probability": _deferred("test_dedup, 1"),
    "operators.dedup.lsh_threshold": _deferred("test_dedup, 1"),
    "operators.dedup.minhash_signature_string": _deferred("test_dedup, 1"),
    "operators.dedup.write_passage_index": _deferred("test_dedup, 1"),
    "operators.dedup.lsh_ingest_pairs": _deferred("test_corpus, 1"),
    "operators.dedup.write_lsh_index": _deferred("test_corpus, 3"),
    "operators.events.funnel_report": _deferred("test_events, 1"),
    "operators.graph.connected_components_bigstar": _deferred("test_graph, 2"),
    "operators.graph._canonical": _deferred("test_graph, with connected_components_bigstar"),
    "operators.graph.resolve_components": _deferred("test_graph, 1"),
    "operators.lm.perplexity_buckets": _deferred("test_lm, 1"),
    "operators.multimodal.resize": _deferred("test_text_multimodal, 2"),
    "operators.multimodal._resize_one": _deferred("test_text_multimodal, with resize"),
    "operators.multimodal.frame_sample": _deferred("test_text_multimodal, 2"),
    "operators.multimodal._frames_one": _deferred("test_text_multimodal, with frame_sample"),
    "operators.multimodal.feature_extract": _deferred("test_text_multimodal, 2"),
    "operators.multimodal._feature_one": _deferred("test_text_multimodal, with feature_extract"),
    "operators.rangejoin.interval_overlap_join": _deferred("test_rangejoin, 4"),
    "operators.sampling.hash_sample": _deferred("test_sampling and test_properties, 2"),
    "operators.similarity.ann_qdprobe_topk": _deferred("test_similarity, 1"),
    "operators.similarity.cosine_topk_quantized": _deferred("test_similarity, 1"),
    "operators.sketches.distinct_sketches": _deferred("test_sketches, 3"),
    "operators.sketches.merge_sketches": _deferred("test_sketches, 3"),
    "operators.sketches.updated_sketches": _deferred("test_sketches, 1"),
    "operators.sketches.merge_quantile_sketches": _deferred("test_sketches, 1"),
    "queries.analytics.rollup_region_nation": _deferred("test_analytics_surface, 1"),
}


# -- AST index ---------------------------------------------------------------

def index_package() -> dict[str, list[tuple[int, int, str]]]:
    """file -> [(first_line, last_line, "rel/path.py::qualname")] for every
    top-level function and every method of a top-level class."""
    out: dict[str, list[tuple[int, int, str]]] = {}
    for dirpath, _dirs, files in os.walk(PKG_DIR):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG_DIR)
            with open(path) as f:
                tree = ast.parse(f.read())
            items = []

            def add(node, qual):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                items.append((first, node.end_lineno, f"{rel}::{qual}"))

            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    add(node, node.name)
                elif isinstance(node, ast.ClassDef):
                    for sub in node.body:
                        if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                            add(sub, f"{node.name}.{sub.name}")
            out[path] = sorted(items)
    return out


def enclosing(index, filename: str, line: int) -> str | None:
    for first, last, key in index.get(filename, ()):
        if first <= line <= last:
            return key
    return None


# -- profiler ----------------------------------------------------------------

class Probe:
    """One profiler hook for the whole run.  Threads started while a step
    records (py4j callback connections, executor workers) keep the hook
    for life, so it writes into whichever step is recording when they
    call, never into a finished one."""

    def __init__(self) -> None:
        self.codes: set | None = None

    def _hook(self, frame, event, arg):
        if event == "call" and self.codes is not None:
            self.codes.add(frame.f_code)

    @contextmanager
    def recording(self):
        self.codes = codes = set()
        threading.setprofile(self._hook)
        sys.setprofile(self._hook)
        try:
            yield codes
        finally:
            sys.setprofile(None)
            threading.setprofile(None)
            self.codes = None


def reached(index, codes) -> set[str]:
    keys = set()
    for code in codes:
        if code.co_filename.startswith(PKG_DIR):
            key = enclosing(index, code.co_filename, code.co_firstlineno)
            if key is not None:
                keys.add(key)
    return keys


# -- workloads ---------------------------------------------------------------

def run_roster(spark, sf: str) -> None:
    from datawarehouse_etl_using_hyperjoin_spark.queries import load_registry

    for name, qd in sorted(load_registry().items()):
        qd.fn(spark, sf).write.format("noop").mode("overwrite").save()


def run_drains(spark, sf: str) -> None:
    import bench
    from datawarehouse_etl_using_hyperjoin_spark.queries.streamingq import (
        stream_stream_join_state_bytes,
        stream_tumbling_state_bytes,
    )
    from datawarehouse_etl_using_hyperjoin_spark.streaming.pipeline import run_to_noop

    hints = {
        "q_stream_stream_join": stream_stream_join_state_bytes(spark, sf),
        "q_stream_tumbling": stream_tumbling_state_bytes(spark, sf),
    }
    for name, (builder, mode) in bench._stream_benches().items():
        hint = hints.get(name)
        run_to_noop(
            builder(spark, sf), output_mode=mode,
            state_partitions=None if hint is None else "auto",
            projected_state_bytes=hint,
        )


def run_pipeline(spark, sf: str, work: str) -> None:
    from datawarehouse_etl_using_hyperjoin_spark import etl

    etl.run_pipeline(spark, sf, f"{work}/pipeline")


def write_feed(work: str) -> str:
    """Three small transaction files from the benchmark's generator (outside
    the probe, so generating the input reaches nothing)."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import gen

    feed = f"{work}/feed"
    gen.write_stream_files(gen.transactions(gen.warehouse_tables(1, 1)), feed, 2000, 3)
    return feed


def run_star_sink(spark, sf: str, work: str, feed: str) -> None:
    from datawarehouse_etl_using_hyperjoin_spark.sources.fixtures import master_data
    from datawarehouse_etl_using_hyperjoin_spark.streaming import pipeline

    stream = pipeline.read_parquet_stream(spark, feed)
    enriched = pipeline.stream_static_hyperjoin(stream, master_data(spark, sf))
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(pipeline.make_star_sink(f"{work}/star"))
        .option("checkpointLocation", f"{work}/star_ckpt").start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_demos(spark, sf: str) -> None:
    sys.path.insert(0, os.path.join(ROOT, "examples"))
    argv = sys.argv
    try:
        for name in DEMOS:
            sys.argv = [name, sf]
            importlib.import_module(name).main()
    finally:
        sys.argv = argv


# -- report ------------------------------------------------------------------

def classify(rel: str, name: str) -> tuple[str, str]:
    for table, status in ((EXCLUDED, "excluded"), (KEEP, "keep")):
        reason = table.get(rel) or table.get(name)
        if reason:
            return status, reason
    return "candidate", ""


def report(index, hit: dict[str, set[str]], walls: dict[str, float], out: str) -> int:
    every = {key: last - first + 1 for items in index.values() for first, last, key in items}
    any_hit = set().union(*hit.values())
    rows = []
    for key in sorted(set(every) - any_hit):
        rel, qual = key.split("::")
        name = f"{rel[:-3].replace('/', '.')}.{qual}"
        status, reason = classify(rel, name)
        rows.append({"module": rel, "function": qual, "name": name, "lines": every[key],
                     "status": status, "reason": reason})
    modules: dict[str, dict] = defaultdict(lambda: {"functions": 0, "lines": 0,
                                                    "unreached": 0, "unreached_lines": 0})
    for key, n in every.items():
        m = modules[key.split("::")[0]]
        m["functions"] += 1
        m["lines"] += n
    for r in rows:
        m = modules[r["module"]]
        m["unreached"] += 1
        m["unreached_lines"] += r["lines"]
    # a reason recorded for a function that is now reached (or gone)
    stale = sorted(set(KEEP) - {r["name"] for r in rows})
    doc = {
        "workloads_s": {k: round(v, 1) for k, v in walls.items()},
        "reached_per_workload": {k: len(v) for k, v in hit.items()},
        "functions": len(every),
        "function_lines": sum(every.values()),
        "reached": len(any_hit & set(every)),
        "unreached": len(rows),
        "unreached_lines": sum(r["lines"] for r in rows),
        "unreached_lines_by_status": {
            s: sum(r["lines"] for r in rows if r["status"] == s)
            for s in ("excluded", "keep", "candidate")
        },
        "stale_keep_entries": stale,
        "modules": dict(sorted(modules.items())),
        "unreached_functions": rows,
    }
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/reach.json", "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    with open(f"{out}/reach.md", "w") as f:
        f.write(render_md(doc))
    cand = [r for r in rows if r["status"] == "candidate"]
    print(json.dumps({k: doc[k] for k in ("workloads_s", "functions", "reached", "unreached",
                                         "unreached_lines_by_status", "stale_keep_entries")}))
    for r in cand:
        print(f"candidate {r['name']} ({r['lines']} lines)")
    return 1 if cand or stale else 0


def render_md(doc: dict) -> str:
    lines = [
        "# Reach report",
        "",
        "Generated by `python tools/reach.py`; the data is in `reach.json`.",
        "Workloads driven (wall s): "
        + ", ".join(f"{k} {v}" for k, v in doc["workloads_s"].items()) + ".",
        "",
        f"{doc['reached']} of {doc['functions']} top-level functions and methods "
        f"({doc['function_lines']} lines) were reached. The {doc['unreached']} unreached "
        f"ones hold {doc['unreached_lines']} lines: "
        + ", ".join(f"{k} {v}" for k, v in doc["unreached_lines_by_status"].items()) + ".",
        "",
        LEGEND,
        "## Unreached lines per module",
        "",
        "| module | functions | lines | unreached | unreached lines |",
        "|---|---:|---:|---:|---:|",
    ]
    for mod, m in doc["modules"].items():
        if m["unreached"]:
            lines.append(f"| `{mod}` | {m['functions']} | {m['lines']} | "
                         f"{m['unreached']} | {m['unreached_lines']} |")
    for status, title in (("keep", "Kept, with reasons"),
                          ("candidate", "Deletion candidates (must be empty)")):
        lines += ["", f"## {title}", ""]
        rows = [r for r in doc["unreached_functions"] if r["status"] == status]
        lines += [f"- `{r['name']}` ({r['lines']}): {r['reason']}".rstrip(": ")
                  for r in rows] or ["None."]
    excluded = defaultdict(int)
    for r in doc["unreached_functions"]:
        if r["status"] == "excluded":
            excluded[r["reason"]] += r["lines"]
    lines += ["", "## Excluded from this audit", ""]
    lines += [f"- {reason}: {n} lines" for reason, n in sorted(excluded.items())] or ["None."]
    return "\n".join(lines) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    from __spark_entry__ import _SMOKE_SF_DIR

    ap.add_argument("--sf", default=_SMOKE_SF_DIR)
    ap.add_argument("--out", default=os.path.join(ROOT, "plans", "r16"))
    args = ap.parse_args()

    # Spark's Python workers import the package for the roster's UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from datawarehouse_etl_using_hyperjoin_spark.session import get_spark

    index = index_package()
    spark = get_spark("reach", cpus=min(4, os.cpu_count() or 4))
    spark.sparkContext.setLogLevel("ERROR")
    hit: dict[str, set[str]] = {}
    walls: dict[str, float] = {}
    with tempfile.TemporaryDirectory(prefix="reach-") as work:
        feed = write_feed(work)
        steps = {
            "roster": lambda: run_roster(spark, args.sf),
            "drains": lambda: run_drains(spark, args.sf),
            "pipeline": lambda: run_pipeline(spark, args.sf, work),
            "star_sink": lambda: run_star_sink(spark, args.sf, work, feed),
            "demos": lambda: run_demos(spark, args.sf),
        }
        probe = Probe()
        for name, step in steps.items():
            t0 = time.perf_counter()
            with probe.recording() as codes:
                step()
            walls[name] = time.perf_counter() - t0
            hit[name] = reached(index, codes)
            print(f"{name}: {len(hit[name])} functions in {walls[name]:.1f} s", flush=True)
    spark.stop()
    sys.exit(report(index, hit, walls, args.out))


if __name__ == "__main__":
    main()
