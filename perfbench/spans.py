"""Traced runs: spans around the package's public entry points, wrapped
from the benchmark's side, with Spark job-group attribution.

Every span sets its own Spark job group, because Spark records no Python
module in a job's call site.  After the run, the status store's jobs and
stages are folded into per-span totals.  Spans stay in memory and are
written as one JSON file when the run ends.

Lazy builders (functions returning DataFrames) do their Spark work later,
when a caller counts, collects or writes the returned frame.  The tracer
remembers those frames and opens a ``<name>.exec`` span, owned by the
builder, around that action.
"""

from __future__ import annotations

import functools
import json
from contextlib import contextmanager
import sys
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.readwriter import DataFrameWriter

PKG = "datawarehouse_etl_using_hyperjoin_spark"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

# (module, attribute, layer, kind): "call" spans the call, "lazy" also
# spans later actions on the returned frames, "factory" spans each call
# of the returned function (the foreachBatch sinks) as FACTORY_SPANS names.
TARGETS = (
    ("etl", "ingest", "sources", "call"),
    ("etl", "run_hyperjoin", "etl", "lazy"),
    ("etl", "build_dimensions", "etl", "lazy"),
    ("etl", "write_star", "etl", "call"),
    ("operators.constraints", "star_schema_checks", "constraints", "call"),
    ("operators.constraints", "pk_violations", "constraints", "call"),
    ("operators.constraints", "not_null_violations", "constraints", "call"),
    ("operators.constraints", "expect_clean", "constraints", "call"),
    ("streaming.pipeline", "read_parquet_stream", "pipeline", "call"),
    ("streaming.pipeline", "stream_static_hyperjoin", "pipeline", "call"),
    ("streaming.pipeline", "make_star_sink", "pipeline", "factory"),
    ("operators.upsert", "upsert_parquet_sink", "upsert", "factory"),
)
FACTORY_SPANS = {"make_star_sink": "pipeline.sink", "upsert_parquet_sink": "upsert.dim_upsert"}


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._lazy: dict[int, dict] = {}  # id(frame) -> owning span
        self._undo: list[tuple[object, str, object]] = []
        self.root: int | None = None  # parent for spans of other threads
        self.bookkeeping_s = 0.0
        self.cores = self.sc.defaultParallelism

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        rec, saved = self._open(name, layer)
        try:
            yield rec
        finally:
            self._close(rec, saved)

    def _open(self, name: str, layer: str) -> tuple[dict, list]:
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "layer": layer,
                "parent": stack[-1] if stack else self.root,
                "thread": threading.get_ident(),
            }
            self.spans.append(rec)
        stack.append(sid)
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setLocalProperty(_GROUP_KEYS[0], f"perfbench-{sid}")
        self.sc.setLocalProperty(_GROUP_KEYS[1], name)
        rec["start"] = time.perf_counter()
        rec["epoch_start"] = time.time()
        self.bookkeeping_s += rec["start"] - t0
        return rec, saved

    def _close(self, rec: dict, saved: list) -> None:
        rec["end"] = time.perf_counter()
        rec["epoch_end"] = time.time()
        for key, value in zip(_GROUP_KEYS, saved):
            self.sc.setLocalProperty(key, value)
        self._stack().pop()
        self.bookkeeping_s += time.perf_counter() - rec["end"]

    # -- wrapping ------------------------------------------------------
    def _remember(self, result, rec: dict) -> None:
        frames = result.values() if isinstance(result, dict) else [result]
        for df in frames:
            if isinstance(df, DataFrame):
                self._lazy[id(df)] = rec

    def wrap(self, fn, name: str, layer: str, kind: str):
        tracer = self

        @functools.wraps(fn)
        def call(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                result = fn(*args, **kwargs)
            if kind == "lazy":
                tracer._remember(result, rec)
            elif kind == "factory":
                return tracer.wrap(result, FACTORY_SPANS[fn.__name__], layer, "call")
            return result

        return call

    def _action(self, cls, attr: str, frame_of):
        original = getattr(cls, attr)
        tracer = self

        @functools.wraps(original)
        def action(obj, *args, **kwargs):
            owner = tracer._lazy.get(id(frame_of(obj)))
            if owner is None:
                return original(obj, *args, **kwargs)
            with tracer.span(owner["name"] + ".exec", owner["layer"]):
                return original(obj, *args, **kwargs)

        self._set(cls, attr, action)

    def _set(self, holder, attr: str, value) -> None:
        self._undo.append((holder, attr, getattr(holder, attr)))
        setattr(holder, attr, value)

    def install(self) -> None:
        """Replace every package-level reference to each target with a
        traced wrapper (``from x import f`` copies the name, so every
        module that imported a target is patched too)."""
        import importlib

        for mod_name, attr, layer, kind in TARGETS:
            module = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(module, attr)
            wrapped = self.wrap(fn, f"{mod_name.rsplit('.', 1)[-1]}.{attr}", layer, kind)
            for name, mod in list(sys.modules.items()):
                if name.startswith(PKG) and getattr(mod, attr, None) is fn:
                    self._set(mod, attr, wrapped)
        self._action(ClassicDataFrame, "count", lambda df: df)
        self._action(ClassicDataFrame, "collect", lambda df: df)
        for attr in ("parquet", "save"):
            self._action(DataFrameWriter, attr, lambda w: w._df)

    def uninstall(self) -> None:
        while self._undo:
            holder, attr, value = self._undo.pop()
            setattr(holder, attr, value)

    # -- status store --------------------------------------------------
    def harvest(self) -> None:
        """Fold the status store's jobs and stages into each span."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(1.0)
        store = jsc.statusStore()
        gw = self.sc._gateway
        jvm = self.spark._jvm
        stages = store.stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList(),
        )
        by_stage: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            acc = by_stage.setdefault(s.stageId(), dict.fromkeys(
                ("tasks", "run_ms", "gc_ms", "shuffle_write", "spill", "input", "output"), 0))
            acc["tasks"] += s.numCompleteTasks()
            acc["run_ms"] += s.executorRunTime()
            acc["gc_ms"] += s.jvmGcTime()
            acc["shuffle_write"] += s.shuffleWriteBytes()
            acc["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            acc["input"] += s.inputBytes()
            acc["output"] += s.outputBytes()
        jobs = store.jobsList(None)
        per_group: dict[str, dict] = {}
        seen_stages: set[int] = set()
        self.job_intervals = []  # every job, whatever its group
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sub, done = j.submissionTime(), j.completionTime()
            interval = None
            if not sub.isEmpty() and not done.isEmpty():
                interval = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                self.job_intervals.append(interval)
            group = j.jobGroup()
            if group.isEmpty() or not str(group.get()).startswith("perfbench-"):
                continue
            acc = per_group.setdefault(str(group.get()), {"jobs": 0, "intervals": []})
            acc["jobs"] += 1
            if interval is not None:
                acc["intervals"].append(interval)
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages or sid not in by_stage:
                    continue
                seen_stages.add(sid)
                for key, value in by_stage[sid].items():
                    acc[key] = acc.get(key, 0) + value
        for rec in self.spans:
            acc = per_group.get(f"perfbench-{rec['id']}", {})
            wall = rec["end"] - rec["start"]
            covered = _covered(acc.get("intervals", []), rec["epoch_start"], rec["epoch_end"])
            rec.update({
                "wall_s": wall,
                "jobs": acc.get("jobs", 0),
                "tasks": acc.get("tasks", 0),
                "task_s": acc.get("run_ms", 0) / 1e3,
                "gc_s": acc.get("gc_ms", 0) / 1e3,
                "shuffle_write_mb": acc.get("shuffle_write", 0) / 2**20,
                "spill_mb": acc.get("spill", 0) / 2**20,
                "input_mb": acc.get("input", 0) / 2**20,
                "output_mb": acc.get("output", 0) / 2**20,
                "driver_s": max(0.0, wall - covered),
            })
        for rec in self.spans:
            kids = [c for c in self.spans if c["parent"] == rec["id"]]
            rec["self_s"] = max(0.0, rec["wall_s"] - _covered(
                [(c["epoch_start"], c["epoch_end"]) for c in kids],
                rec["epoch_start"], rec["epoch_end"]))

    # -- reporting -----------------------------------------------------
    def total(self, names) -> float:
        """Sum the wall of spans named in ``names`` that have no ancestor
        in ``names`` (nested calls are not counted twice)."""
        names = set(names)
        by_id = {r["id"]: r for r in self.spans}

        def nested(rec) -> bool:
            p = rec["parent"]
            while p is not None:
                if by_id[p]["name"] in names:
                    return True
                p = by_id[p]["parent"]
            return False

        return sum(r["wall_s"] for r in self.spans if r["name"] in names and not nested(r))

    def walls(self, name: str) -> list[float]:
        return [r["wall_s"] for r in self.spans if r["name"] == name]

    def spark_totals(self, wall: float) -> dict[str, float]:
        keys = ("jobs", "tasks", "task_s", "shuffle_write_mb", "spill_mb", "gc_s", "input_mb")
        out = {k: sum(r[k] for r in self.spans) for k in keys}
        out["busy_share"] = out["task_s"] / max(wall * self.cores, 1e-9)
        # driver time: wall of the top-level spans that no job covered
        out["driver_s"] = sum(
            r["wall_s"] - _covered(self.job_intervals, r["epoch_start"], r["epoch_end"])
            for r in self.spans if r["parent"] is None
        )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in spans:
        if b > end:
            total += b - max(a, end)
            end = b
    return total
