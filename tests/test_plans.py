"""Physical-plan audits — the scale-critical plan properties a 100 TB
run depends on, asserted against the executed plan string so a
regression that silently changes the plan shape (full scan instead of
pruned, global sort instead of top-k, lost pushdown) fails loudly even
though results stay correct.

These mirror the reference's planner tests (pushdown_plan.slt): there
the assertion is "index scan chosen"; here it is the Spark equivalents
— filter/column pushdown into the parquet scan, TakeOrdered instead of
Sort, partial (map-side) aggregation — and, for the index scans the
block runners read without a Spark plan, the units they open."""

from __future__ import annotations

from pyspark.sql import functions as F

from pgvecto_rs_spark import queries as Q
from pgvecto_rs_spark.queries import Q64


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_probe_is_partition_pruned(spark, sf_dir, monkeypatch, tmp_path):
    """An nprobe=3 search must open ONLY the probed list partitions, so
    at 100 TB the I/O is nprobe/nlist of the corpus, not a full scan:
    the block runner loads exactly the 3 probed ``list_id=N`` units,
    in the driver and, at a zero driver budget, in Spark tasks."""
    import os

    from pgvecto_rs_spark.indexes import IVFIndex
    from pgvecto_rs_spark.indexes import base
    from pgvecto_rs_spark.indexes import batch as BT
    from tests.conftest import spy_runner_io

    idx = IVFIndex.create(spark, Q._emb(spark, sf_dir), str(tmp_path / "ivf"), metric="l2", nlist=8)
    probed = {f"list_id={lid}" for lid in idx.probe_lists(base.prep_query(Q64, False), 3)}
    loads = spy_runner_io(monkeypatch, "ivf_block_runner", "_load_unit", str(tmp_path / "log"))
    want = [r["id"] for r in idx.search(Q64, k=5, nprobe=3).collect()]
    assert {os.path.basename(src) for src, _ in loads()} == probed
    monkeypatch.setattr(BT, "DRIVER_SERVE_BYTES", 0)
    got = [r["id"] for r in idx.search(Q64, k=5, nprobe=3).collect()]
    assert {os.path.basename(src) for src, _ in loads()} == probed
    assert got == want and idx.serve_stats == {"driver": 1, "spark": 1}


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """ORDER BY distance LIMIT k must plan as TakeOrderedAndProject
    (per-partition top-k + driver merge) — a global Sort would shuffle
    the entire corpus to rank 10 rows."""
    plan = _plan(Q.topk_l2(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "\nSort " not in plan


def test_tpch_q1_pushdown_pruning_partial_agg(spark, sf_dir):
    """The relational substrate must get Catalyst's free lunches: the
    shipdate predicate reaches the scan (DataFilters), only the 7
    needed columns of lineitem are read (ReadSchema pruning), and
    aggregation is partial (map-side combine) before the shuffle."""
    plan = _plan(Q.tpch_q1(spark, sf_dir))
    assert "l_shipdate" in plan and "DataFilters: [isnotnull(l_shipdate" in plan, plan[:2000]
    # column pruning: the wide columns never appear in the scan schema
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines and "l_comment" not in scan_lines[0], scan_lines[0][:300]
    assert "partial_" in plan  # map-side partial aggregation


def test_events_hourly_partial_agg_and_pruned_scan(spark, sf_dir):
    """groupBy(hour, type) must partially aggregate before its single
    shuffle, and the scan must read only the three needed columns."""
    plan = _plan(Q.events_hourly(spark, sf_dir))
    assert "partial_" in plan
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines and "props" not in scan_lines[0], scan_lines[0][:300]


def test_exact_dedup_is_single_shuffle_agg(spark, sf_dir):
    """Exact dedup = one hash aggregation on the digest: the plan has
    exactly one Exchange (the groupBy shuffle), with partial
    aggregation before it."""
    from pgvecto_rs_spark.operators.dedup import exact_dedup

    docs = Q._docs(spark, sf_dir)
    plan = _plan(exact_dedup(docs, "text", "doc_id"))
    assert plan.count("Exchange") <= 2, plan[:2000]  # agg shuffle (+AQE read)
    assert "partial_" in plan


def test_flat_sq8_rerank_fetch_prunes_code_column(spark, sf_dir, monkeypatch, tmp_path):
    """SQ8 two-phase I/O: pass 1 loads only the code column of each rows
    file, on both block sources; the exact vectors stay on disk until
    pass 2 fetches the candidates (counted by
    ``TestAlgoQuantMatrix::test_sq_rerank_fetch_is_pushed_filter``)."""
    from pgvecto_rs_spark.indexes import FlatIndex
    from pgvecto_rs_spark.indexes import batch as BT
    from tests.conftest import spy_runner_io

    idx = FlatIndex.create(
        spark, Q._emb(spark, sf_dir), str(tmp_path / "f"), metric="l2", quantization="sq8"
    )
    loads = spy_runner_io(monkeypatch, "flat_file_block_runner", "_load_unit", str(tmp_path / "l"))
    for budget in (BT.DRIVER_SERVE_BYTES, 0):
        monkeypatch.setattr(BT, "DRIVER_SERVE_BYTES", budget)
        idx.search(Q64, k=5).collect()
        got = loads()
        assert sorted(src for src, _ in got) == idx._files()
        assert {col for _, col in got} == {"codes"}


def test_decontaminate_broadcasts_benchmark_no_cartesian(spark, sf_dir):
    """The benchmark-gram join must be a broadcast LEFT SEMI (the
    benchmark side is MBs at any scale) — never a cartesian product or
    a sort-merge shuffle of the exploded corpus grams — and the per-doc
    hit count must partially aggregate before its shuffle."""
    docs = Q._docs(spark, sf_dir)
    from pgvecto_rs_spark.operators.curation import decontaminate

    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    plan = _plan(decontaminate(corpus, bench, n=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]
    assert "partial_count" in plan or "partial_" in plan


def test_pii_redact_is_pure_projection(spark, sf_dir):
    """PII redaction is per-row regexp work: the plan must contain NO
    Exchange (shuffle) at all and stay inside whole-stage codegen."""
    from pgvecto_rs_spark.operators.curation import pii_redact

    plan = _plan(pii_redact(Q._docs(spark, sf_dir)))
    assert "Exchange" not in plan, plan[:2000]
    assert "*(" in plan  # WholeStageCodegen stage marker in toString()


def test_top_terms_partial_agg_take_ordered(spark, sf_dir):
    """Word count must combine map-side before the single term-keyed
    shuffle and take the top-k without a global sort."""
    from pgvecto_rs_spark.operators.curation import top_terms

    plan = _plan(top_terms(Q._docs(spark, sf_dir), k=20))
    assert "partial_" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") <= 2, plan[:2000]


def test_train_split_no_shuffle(spark, sf_dir):
    """Split assignment is a per-row projection — no Exchange."""
    from pgvecto_rs_spark.operators.curation import train_split

    plan = _plan(train_split(Q._docs(spark, sf_dir)))
    assert "Exchange" not in plan, plan[:2000]


def test_tpch_q6_filters_pushed_partial_agg(spark, sf_dir):
    """Q6 is the minimal-bytes shape: shipdate/discount/quantity
    predicates reach the scan and the scalar sum is partial before one
    exchange."""
    plan = _plan(Q.tpch_q6(spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan, plan[:2000]
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines and "l_returnflag" not in scan_lines[0]  # column pruning
    assert "partial_" in plan


def test_tpch_q3_broadcasts_customer_takeordered(spark, sf_dir):
    """Q3's filtered customer dim must broadcast (no shuffle of the big
    fact side for that join); the top-10 must be TakeOrdered, not a
    global sort."""
    plan = _plan(Q.tpch_q3(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
