"""Tests of the benchmark itself (not of the engine):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import pkgutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402


def _vector_fingerprint(seed: int) -> str:
    vs, extra = inputs.vector_set(seed, 500, 20, n_extra=50)
    return inputs.fingerprint(vs.ids, vs.vectors, vs.labels, vs.queries, extra)


def _document_fingerprint(seed: int) -> str:
    ds = inputs.document_set(seed, 300, n_queries=8)
    return inputs.fingerprint(ds.docs, ds.benchmark, ds.queries)


def _table_fingerprint(seed: int) -> str:
    tabs = inputs.tables(seed, orders=300, events=400, documents=20, embeddings=50)
    return inputs.fingerprint(*(tabs[name] for name in sorted(tabs)))


@pytest.mark.parametrize("fingerprint", [_vector_fingerprint, _document_fingerprint, _table_fingerprint])
def test_same_seed_same_inputs_other_seed_other_inputs(fingerprint):
    assert fingerprint(7) == fingerprint(7)
    assert fingerprint(7) != fingerprint(8)


def test_documents_plant_duplicates_and_contamination():
    ds = inputs.document_set(3, 600, n_queries=4)
    norm = ds.docs["text"].str.strip().str.lower().str.split().str.join(" ")
    assert norm.duplicated().any()
    quotes = {" ".join(t.split()[:12]) for t in ds.benchmark["text"]}
    assert any(q in t for t in ds.docs["text"] for q in quotes)


def test_benchmark_json_names_every_metric_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.names()
    import run

    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.E2E_UNITS.values())


def _module_caches() -> dict[str, int]:
    """Size of every module-level memo cache of the query registry."""
    import pgvecto_rs_spark.queries as Q

    sizes = {}
    for info in pkgutil.iter_modules(Q.__path__):
        mod = importlib.import_module(f"{Q.__name__}.{info.name}")
        for name, value in vars(mod).items():
            if name.endswith("_CACHE") and isinstance(value, dict):
                sizes[f"{info.name}.{name}"] = len(value)
    return sizes


def _index_cache_files() -> dict[str, float]:
    return {p: os.path.getmtime(p) for p in glob.glob("/tmp/pgvrs_*") + glob.glob("/tmp/pgvrs_*/**", recursive=True)}


def test_doc_pipeline_bypasses_module_and_index_caches(tmp_path, monkeypatch):
    import tempfile

    import harness
    import workloads
    from workloads import WORKLOADS, Ctx

    caches = _module_caches()
    assert caches and not any(caches.values())
    before = _index_cache_files()
    # start_session points TMPDIR and PYTHONPATH at the run; undo afterwards
    monkeypatch.setenv("TMPDIR", os.environ.get("TMPDIR", tempfile.gettempdir()))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    spark = harness.start_session(ROOT, str(tmp_path), 2)
    try:
        ctx = Ctx(spark, harness.Tracer(spark, enabled=False), seed=5, seconds=0, work=str(tmp_path), cpus=2)
        workload = WORKLOADS["doc_pipeline"]()
        workload.setup(ctx)
        workload.window(ctx)
    finally:
        harness.stop_session(spark)
    # one pass over the plan, plus one oracle check per sweep query
    assert ctx.attempted == len(workloads.DOC_PLAN) + len(set(workloads.SWEEP_PLAN))
    assert ctx.failed == 0
    assert not any(_module_caches().values())
    assert _index_cache_files() == before
