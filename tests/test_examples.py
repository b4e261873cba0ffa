"""Smoke-run the runnable demos at sf0.001 — the examples are part of the
product surface (the compositions a user actually runs); this keeps them
from bitrotting as operator signatures evolve.  They run in-process
(get_spark getOrCreate joins the test session) with argv pointed at the
small fixture."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

EXAMPLES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples"
)
SF_SMALL = "/root/testdata/sf0.001"


def _run_example(module_name: str, monkeypatch, spark):
    monkeypatch.syspath_prepend(EXAMPLES_DIR)
    monkeypatch.setattr(sys, "argv", [module_name, SF_SMALL])
    mod = importlib.import_module(module_name)
    try:
        mod.main()
    finally:
        # demos downsize the log level on the shared session; restore
        spark.sparkContext.setLogLevel("WARN")


# data_selection_demo calls spark.stop() as a standalone script should —
# running it in-process would kill the shared test session, so it stays
# CLI-only
@pytest.mark.parametrize(
    "module_name",
    [
        "llm_pipeline_demo",
        "corpus_prep_demo",
        "web_hygiene_demo",
        "streaming_demo",
        "embedding_pipeline_demo",
    ],
)
def test_demo_runs_end_to_end(module_name, monkeypatch, spark):
    _run_example(module_name, monkeypatch, spark)
