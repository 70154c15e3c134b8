"""Index correctness: flat == exact oracle; IVF/SQ recall gates
(BASELINE.md: recall@10 >= 0.95 at the default operating points);
sparse inverted == exact sparse dot ranking."""

from __future__ import annotations

import math
import tempfile

import pytest
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import FlatIndex, IVFIndex, SparseInvertedIndex
from pgvecto_rs_spark.operators.search import top_k
from pgvecto_rs_spark.queries import Q64, SPARSE_THRESHOLD


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.cache().count()
    return df


def exact_ids(emb, metric, k=10):
    rows = top_k(emb, "embedding", Q64, k, metric=metric, tiebreaker="vec_id").collect()
    return [r["vec_id"] for r in rows]


def recall(got_ids, truth_ids):
    return len(set(got_ids) & set(truth_ids)) / len(truth_ids)


class TestFlat:
    def test_exact_matches_oracle(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="l2")
            got = [r["id"] for r in idx.search(Q64, k=10).collect()]
            assert got == exact_ids(emb, "l2")

    def test_cos_post_map(self, spark, emb):
        """cos metric = normalize + dot + 1 must equal direct cosine."""
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="cos")
            got = idx.search(Q64, k=5).collect()
            truth = top_k(emb, "embedding", Q64, 5, metric="cos", tiebreaker="vec_id").collect()
            assert [r["id"] for r in got] == [r["vec_id"] for r in truth]
            for g, t in zip(got, truth):
                assert g["distance"] == pytest.approx(t["distance"], abs=1e-6)

    def test_sq8_recall(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="l2", quantization="sq8")
            got = [r["id"] for r in idx.search(Q64, k=10).collect()]
            assert recall(got, exact_ids(emb, "l2")) >= 0.95

    def test_reopen(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            FlatIndex.create(spark, emb, d, metric="l2")
            idx = FlatIndex.open(spark, d)
            assert idx.search(Q64, k=3).count() == 3
            st = idx.stat()
            assert st["idx_tuples"] == emb.count() and not st["idx_indexing"]


class TestIVF:
    def test_default_nprobe_scales_with_nlist(self):
        """r11: ~5% of lists, floor 10 — identical to the old nlist/50
        rule for every nlist <= 200 (all bench/oracle configs).  4%
        measured 0.946-0.956 recall@10 at nlist=1024 on the 1M sweep
        depending on the k-means draw — too close to the 0.95 bar; 5%
        restores margin (BENCHNOTES r11)."""
        from pgvecto_rs_spark.indexes.ivf import default_nprobe

        assert default_nprobe(8) == 10
        assert default_nprobe(64) == 10
        assert default_nprobe(200) == 10
        assert default_nprobe(250) == 13
        assert default_nprobe(1000) == 50
        assert default_nprobe(1024) == 52

    def test_recall_at_default_operating_point(self, spark, emb):
        """Mean recall@10 over a 20-query set (the reference CLI's
        precision protocol, crates/cli/src/main.rs:20-32) must be
        >= 0.95 at nlist ~= sqrt(n), nprobe=10, replicas=2
        (BASELINE.md quality gate)."""
        n = emb.count()
        nlist = max(4, int(math.isqrt(n)))
        qrows = emb.orderBy("vec_id").limit(20).collect()
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=nlist, replicas=2)
            recs = []
            for qr in qrows:
                q = list(qr["embedding"])
                got = [r["id"] for r in idx.search(q, k=10, nprobe=10).collect()]
                truth = [
                    r["vec_id"]
                    for r in top_k(emb, "embedding", q, 10, metric="l2", tiebreaker="vec_id").collect()
                ]
                recs.append(recall(got, truth))
            assert sum(recs) / len(recs) >= 0.95, recs

    def test_full_probe_is_exact(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=8)
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8).collect()]
            assert got == exact_ids(emb, "l2")

    def test_filtered_search_exact_k(self, spark, emb):
        """VBASE property: a selective residual filter must not starve
        the result set below k (filter applies before the limit)."""
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=4)
            out = idx.search(Q64, k=5, nprobe=4, filter=F.col("id") % 2 == 0).collect()
            assert len(out) == 5
            assert all(r["id"] % 2 == 0 for r in out)

    def test_deterministic_build_across_builds(self, spark, emb):
        """r11: two builds of the same input must train on the same
        sample in the same order — the old sample().limit(cap) kept
        whichever partitions answered first, so centroids (and the
        default-operating-point recall) jittered across processes."""
        import numpy as np

        with tempfile.TemporaryDirectory() as d:
            a = IVFIndex.create(spark, emb, f"{d}/a", metric="l2", nlist=8)
            b = IVFIndex.create(spark, emb, f"{d}/b", metric="l2", nlist=8)
            assert np.array_equal(a.centroids, b.centroids)

    def test_open_round_trip(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            IVFIndex.create(spark, emb, d, metric="cos", nlist=4)
            idx = IVFIndex.open(spark, d)
            assert idx.meta["kernel"] == "dot" and idx.meta["normalize"]
            assert idx.search(Q64, k=3, nprobe=2).count() == 3


class TestSparseInverted:
    def _sparse_df(self, emb):
        from pgvecto_rs_spark.functions import sparse as VS

        thr = F.transform(
            F.col("embedding"),
            lambda x: F.when(F.abs(x) > SPARSE_THRESHOLD, x).otherwise(F.lit(0.0)).cast("float"),
        )
        return emb.select(F.col("vec_id").alias("doc_id"), VS.dense_to_svector(thr).alias("svec"))

    def test_matches_exact_sparse_dot(self, spark, emb):
        from pgvecto_rs_spark.functions import sparse as VS

        sdf = self._sparse_df(emb)
        q = {i: x for i, x in enumerate(Q64) if abs(x) > SPARSE_THRESHOLD}
        with tempfile.TemporaryDirectory() as d:
            idx = SparseInvertedIndex.create(spark, sdf, d)
            got = idx.search(q, k=10).collect()

        # exact oracle: brute-force svector dot (docs with zero overlap
        # score 0 and are excluded by the index — compare the overlap set)
        qs = VS.to_svector(
            64,
            F.array(*[F.lit(i) for i in q]).cast("array<int>"),
            F.array(*[F.lit(v) for v in q.values()]).cast("array<float>"),
        )
        brute = (
            sdf.select("doc_id", VS.svector_neg_dot(F.col("svec"), qs, check=False).alias("d"))
            .where(F.col("d") != 0.0)
            .orderBy(F.col("d").asc(), F.col("doc_id").asc())
            .limit(10)
            .collect()
        )
        assert [r["id"] for r in got] == [r["doc_id"] for r in brute]
        for g, b in zip(got, brute):
            assert g["distance"] == pytest.approx(b["d"], rel=1e-9)

    def test_search_batch_equals_per_query(self, spark, emb):
        """search_batch answers the whole query set in one postings
        scan; per-query ranking must match search() for every query."""
        from pgvecto_rs_spark.functions import sparse as VS

        sdf = self._sparse_df(emb)
        qrows = emb.orderBy("vec_id").limit(8).collect()
        with tempfile.TemporaryDirectory() as d:
            idx = SparseInvertedIndex.create(spark, sdf, d)
            thr = F.transform(
                F.col("embedding"),
                lambda x: F.when(F.abs(x) > SPARSE_THRESHOLD, x)
                .otherwise(F.lit(0.0))
                .cast("float"),
            )
            queries = emb.orderBy("vec_id").limit(8).select(
                F.col("vec_id").alias("qid"), VS.dense_to_svector(thr).alias("qsv")
            )
            batched = idx.search_batch(queries, "qid", "qsv", k=5).collect()
            by_q: dict = {}
            for r in batched:
                by_q.setdefault(r["query_id"], []).append(r)
            assert set(by_q) <= {int(r["vec_id"]) for r in qrows}
            for qr in qrows:
                q = {
                    i: float(x)
                    for i, x in enumerate(qr["embedding"])
                    if abs(x) > SPARSE_THRESHOLD
                }
                if not q:
                    continue
                want = idx.search(q, k=5).collect()
                got = sorted(
                    by_q.get(int(qr["vec_id"]), []),
                    key=lambda r: (r["distance"], r["id"]),
                )
                assert [g["id"] for g in got] == [w["id"] for w in want]
                for g, w in zip(got, want):
                    assert g["distance"] == pytest.approx(w["distance"], rel=1e-9)


class TestHNSW:
    def test_recall_and_merge(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            # segment_rows forces a multi-segment build -> exercises the
            # per-segment search + TakeOrdered merge (LoserTree analogue)
            idx = HNSWIndex.create(spark, emb, d, metric="l2", segment_rows=200)
            assert idx.meta["n_segments"] >= 3
            qrows = emb.orderBy("vec_id").limit(10).collect()
            recs = []
            for qr in qrows:
                q = list(qr["embedding"])
                got = [r["id"] for r in idx.search(q, k=10, ef_search=100).collect()]
                truth = [
                    r["vec_id"]
                    for r in top_k(emb, "embedding", q, 10, metric="l2", tiebreaker="vec_id").collect()
                ]
                recs.append(recall(got, truth))
            assert sum(recs) / len(recs) >= 0.95, recs

    def test_filtered_widening_returns_exact_k(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(spark, emb, d, metric="l2", segment_rows=300)
            # ef_search=5 starves a 1-in-7 filter; widening must recover k
            out = idx.search(Q64, k=5, ef_search=5, filter=F.col("id") % 7 == 0).collect()
            assert len(out) == 5
            assert all(r["id"] % 7 == 0 for r in out)

    def test_oversized_segment_errors_cleanly(self, spark, emb, monkeypatch):
        """r12 verdict #5: _per_segment_apply accumulates its whole
        partition before building; above _SEG_BUILD_ROW_CAP that must be
        a clean error, not a silent executor-memory doubling."""
        from pgvecto_rs_spark.indexes import hnsw as H

        monkeypatch.setattr(H, "_SEG_BUILD_ROW_CAP", 50)
        with tempfile.TemporaryDirectory() as d:
            with pytest.raises(Exception, match="rows"):
                H.HNSWIndex.create(spark, emb, d, metric="l2", segment_rows=10**6)

    def test_deterministic_build(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
            a = HNSWIndex.create(spark, emb, d1, metric="l2", segment_rows=10**6)
            b = HNSWIndex.create(spark, emb, d2, metric="l2", segment_rows=10**6)
            ra = [r["id"] for r in a.search(Q64, k=10).collect()]
            rb = [r["id"] for r in b.search(Q64, k=10).collect()]
            assert ra == rb


class TestQuantization:
    """PQ + RaBitQ recall gates (quantization.slt analogue: every
    (algo x quantization) cell returns k results with good recall)."""

    def test_pq_recall(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(
                spark, emb, d, metric="l2", quantization="pq", pq_ratio=4
            )
            got = [r["id"] for r in idx.search(Q64, k=10, rerank_size=40).collect()]
            assert len(got) == 10
            assert recall(got, exact_ids(emb, "l2")) >= 0.9

    def test_rabitq_recall(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="l2", quantization="rabitq")
            got = [r["id"] for r in idx.search(Q64, k=10, rerank_size=60).collect()]
            assert len(got) == 10
            assert recall(got, exact_ids(emb, "l2")) >= 0.8

    def test_pq_dot_metric(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(
                spark, emb, d, metric="dot", quantization="pq", pq_ratio=4
            )
            got = [r["id"] for r in idx.search(Q64, k=10, rerank_size=40).collect()]
            assert recall(got, exact_ids(emb, "dot")) >= 0.9


class TestSearchBatch:
    """search_batch for flat/IVF (mirrors hnsw.search_batch): one scan
    answers the whole query set; results must equal per-query search."""

    def test_flat_batch_equals_per_query(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="l2")
            qdf = emb.orderBy("vec_id").limit(32).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
            )
            got = idx.search_batch(qdf, "qid", "qv", k=10).collect()
            by_q: dict = {}
            for r in got:
                by_q.setdefault(r["query_id"], []).append((r["id"], r["distance"]))
            assert len(by_q) == 32
            for qr in qdf.collect():
                expect = [
                    (r["id"], r["distance"])
                    for r in idx.search(list(qr["qv"]), k=10).collect()
                ]
                assert sorted(by_q[qr["qid"]], key=lambda t: (t[1], t[0])) == expect, qr["qid"]

    def test_ivf_batch_equals_per_query(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=8)
            qdf = emb.orderBy("vec_id").limit(32).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
            )
            got = idx.search_batch(qdf, "qid", "qv", k=10, nprobe=4).collect()
            by_q: dict = {}
            for r in got:
                by_q.setdefault(r["query_id"], []).append((r["id"], r["distance"]))
            assert len(by_q) == 32
            for qr in qdf.collect():
                expect = [
                    (r["id"], r["distance"])
                    for r in idx.search(list(qr["qv"]), k=10, nprobe=4).collect()
                ]
                assert sorted(by_q[qr["qid"]], key=lambda t: (t[1], t[0])) == expect, qr["qid"]

    def test_flat_batch_quantized_matches_per_query(self, spark, emb):
        """Quantized flat batch search (one codes-only approx scan + one
        pushed-id exact rerank) must match per-query window-rerank
        search for every quantizer."""
        with tempfile.TemporaryDirectory() as d:
            for quant, kw in (("sq8", {}), ("pq", {"pq_ratio": 4}), ("rabitq", {})):
                idx = FlatIndex.create(
                    spark, emb, f"{d}/{quant}", metric="l2", quantization=quant, **kw
                )
                qdf = emb.orderBy("vec_id").limit(8).select(
                    F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
                )
                got = idx.search_batch(qdf, "qid", "qv", k=10)
                by_q: dict = {}
                for r in got.collect():
                    by_q.setdefault(r["query_id"], []).append((r["id"], round(r["distance"], 9)))
                assert len(by_q) == 8, (quant, sorted(by_q))
                for qr in qdf.collect():
                    expect = [
                        (r["id"], round(r["distance"], 9))
                        for r in idx.search(list(qr["qv"]), k=10, rerank_size=40).collect()
                    ]
                    assert (
                        sorted(by_q[qr["qid"]], key=lambda t: (t[1], t[0])) == expect
                    ), (quant, qr["qid"])

    def test_ivf_batch_quantized_matches_per_query(self, spark, emb):
        """Quantized batch search = batched two-phase (one codes-only
        approx scan for all queries, one pushed-id exact rerank).  At
        full probe with the same fixed window, results must match the
        per-query two-phase search for every quantizer."""
        with tempfile.TemporaryDirectory() as d:
            for quant, kw in (("sq8", {}), ("pq", {"pq_ratio": 4}), ("rabitq", {})):
                idx = IVFIndex.create(
                    spark, emb, f"{d}/{quant}", metric="l2", nlist=8,
                    quantization=quant, **kw,
                )
                qdf = emb.orderBy("vec_id").limit(8).select(
                    F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
                )
                got = idx.search_batch(qdf, "qid", "qv", k=10, nprobe=8, rerank_size=40)
                by_q: dict = {}
                for r in got.collect():
                    by_q.setdefault(r["query_id"], []).append((r["id"], round(r["distance"], 9)))
                assert len(by_q) == 8, (quant, sorted(by_q))
                for qr in qdf.collect():
                    expect = [
                        (r["id"], round(r["distance"], 9))
                        for r in idx.search(
                            list(qr["qv"]), k=10, nprobe=8, rerank_size=40
                        ).collect()
                    ]
                    assert (
                        sorted(by_q[qr["qid"]], key=lambda t: (t[1], t[0])) == expect
                    ), (quant, qr["qid"])

    def test_quantized_batch_jobs_within_unquantized(self, spark, emb):
        """Quantized flat and IVF batches run the same block path as the
        unquantized ones, so they launch no more Spark jobs on the same
        query set."""
        sc = spark.sparkContext
        qdf = emb.orderBy("vec_id").limit(16).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ).cache()
        qdf.count()

        def jobs(idx, tag, **kw):
            group = f"batch-jobs-{tag}"
            sc.setJobGroup(group, group)
            try:
                idx.search_batch(qdf, "qid", "qv", k=5, **kw).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return len(sc.statusTracker().getJobIdsForGroup(group))

        with tempfile.TemporaryDirectory() as d:
            for name, cls, kw in (
                ("flat", FlatIndex, {}),
                ("ivf", IVFIndex, {"nlist": 8}),
            ):
                skw = {"nprobe": 3} if cls is IVFIndex else {}
                plain = cls.create(spark, emb, f"{d}/{name}", metric="l2", **kw)
                base_jobs = jobs(plain, name, **skw)
                for quant in ("sq8", "pq", "rabitq"):
                    idx = cls.create(
                        spark, emb, f"{d}/{name}_{quant}", metric="l2",
                        quantization=quant, **kw,
                        **({"pq_ratio": 4} if quant == "pq" else {}),
                    )
                    got = jobs(idx, f"{name}-{quant}", **skw)
                    assert got <= base_jobs, (name, quant, got, base_jobs)
        qdf.unpersist()

    def test_ivf_batch_replicas_dedups(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=8, replicas=2)
            qdf = emb.orderBy("vec_id").limit(4).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
            )
            got = idx.search_batch(qdf, "qid", "qv", k=10, nprobe=8).collect()
            seen = set()
            for r in got:
                key = (r["query_id"], r["id"])
                assert key not in seen, "duplicate id for a query"
                seen.add(key)
            counts: dict = {}
            for r in got:
                counts[r["query_id"]] = counts.get(r["query_id"], 0) + 1
            assert all(c == 10 for c in counts.values())


class TestAlgoQuantMatrix:
    """quantization.slt + vbase.slt mirror: every (algorithm x
    quantization) cell answers top-k with exactly k rows and sane
    recall."""

    def test_matrix(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        truth = exact_ids(emb, "l2")
        cells = []
        with tempfile.TemporaryDirectory() as d:
            cells.append(("flat/none", FlatIndex.create(spark, emb, f"{d}/a", metric="l2").search(Q64, k=10)))
            cells.append(("flat/sq8", FlatIndex.create(spark, emb, f"{d}/b", metric="l2", quantization="sq8").search(Q64, k=10)))
            cells.append(("flat/pq", FlatIndex.create(spark, emb, f"{d}/c", metric="l2", quantization="pq", pq_ratio=4).search(Q64, k=10, rerank_size=40)))
            cells.append(("flat/rabitq", FlatIndex.create(spark, emb, f"{d}/d", metric="l2", quantization="rabitq").search(Q64, k=10, rerank_size=60)))
            cells.append(("ivf/none", IVFIndex.create(spark, emb, f"{d}/e", metric="l2", nlist=8).search(Q64, k=10, nprobe=8)))
            cells.append(("ivf/residual-sq8", IVFIndex.create(spark, emb, f"{d}/f", metric="l2", nlist=8, residual_quantization=True).search(Q64, k=10, nprobe=8, rerank_size=40)))
            cells.append(("ivf/pq", IVFIndex.create(spark, emb, f"{d}/h", metric="l2", nlist=8, quantization="pq", pq_ratio=4).search(Q64, k=10, nprobe=8, rerank_size=40)))
            cells.append(("ivf/rabitq", IVFIndex.create(spark, emb, f"{d}/i", metric="l2", nlist=8, quantization="rabitq").search(Q64, k=10, nprobe=8, rerank_size=60)))
            cells.append(("hnsw/none", HNSWIndex.create(spark, emb, f"{d}/g", metric="l2", segment_rows=300).search(Q64, k=10)))
            cells.append(("hnsw/sq8", HNSWIndex.create(spark, emb, f"{d}/j", metric="l2", segment_rows=300, quantization="sq8").search(Q64, k=10)))
            cells.append(("hnsw/pq", HNSWIndex.create(spark, emb, f"{d}/k", metric="l2", segment_rows=300, quantization="pq", pq_ratio=4).search(Q64, k=10)))
            cells.append(("hnsw/rabitq", HNSWIndex.create(spark, emb, f"{d}/l", metric="l2", segment_rows=300, quantization="rabitq").search(Q64, k=10, ef_search=200)))
            for name, out in cells:
                rows = out.collect()
                assert len(rows) == 10, name
                got = [r["id"] for r in rows]
                assert recall(got, truth) >= 0.8, (name, got)

    def test_ivf_residual_recall(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="l2", nlist=8, residual_quantization=True
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8, rerank_size=40).collect()]
            assert recall(got, exact_ids(emb, "l2")) >= 0.95

    def test_sq_bits_error_rerank_exact(self, spark, emb):
        """SQ at bits 1/2/4/8 (base/src/index.rs:447-462) with the
        error-bound reranker (reranker/error.rs) must return the EXACT
        top-k: the bounds are sound, so the rerank set provably contains
        the true answer at any code precision."""
        truth = exact_ids(emb, "l2")[:10]
        with tempfile.TemporaryDirectory() as d:
            for quant in ("sq1", "sq2", "sq4", "sq8"):
                idx = FlatIndex.create(
                    spark, emb, f"{d}/{quant}", metric="l2", quantization=quant
                )
                got = [r["id"] for r in idx.search(Q64, k=10).collect()]
                assert got == truth, quant

    def test_sq_bits_error_rerank_exact_dot(self, spark, emb):
        truth = exact_ids(emb, "dot")[:10]
        with tempfile.TemporaryDirectory() as d:
            for quant in ("sq1", "sq4"):
                idx = FlatIndex.create(
                    spark, emb, f"{d}/{quant}", metric="dot", quantization=quant
                )
                got = [r["id"] for r in idx.search(Q64, k=10).collect()]
                assert got == truth, quant

    def test_f16_storage_exact_and_half_size(self, spark, emb):
        """vecf16 storage (2 bytes/dim binary words): search results equal
        the f16-grid-snapped brute force, and the rows parquet is
        materially smaller than f32 storage."""
        import glob
        import os

        import numpy as np

        from pgvecto_rs_spark.functions import dense as VD
        from pgvecto_rs_spark.operators.search import distance as dist_expr

        with tempfile.TemporaryDirectory() as d:
            f32 = FlatIndex.create(spark, emb, f"{d}/f32", metric="l2")
            f16 = FlatIndex.create(spark, emb, f"{d}/f16", metric="l2", storage="f16")
            got = [(r["id"], round(r["distance"], 4)) for r in f16.search(Q64, k=10).collect()]
            snapped = emb.withColumn("e16", VD.to_f16_grid("embedding"))
            dd = dist_expr(F.col("e16"), [float(x) for x in Q64], "l2")
            expect = [
                (r["vec_id"], round(r["d"], 4))
                for r in snapped.select("vec_id", dd.alias("d"))
                .orderBy("d", "vec_id").limit(10).collect()
            ]
            assert got == expect

            size = lambda p: sum(  # noqa: E731
                os.path.getsize(f) for f in glob.glob(os.path.join(p, "rows", "*.parquet"))
            )
            assert size(f"{d}/f16") < 0.7 * size(f"{d}/f32")

    def test_hnsw_sq8_coded_traversal_with_exact_rerank(self, spark, emb):
        """HNSW x SQ8 (graph reranker composition): traversal runs on
        resident 1-byte codes, candidates rerank against transiently
        fetched exact vectors — returned distances must be EXACT (equal
        to the unquantized index's for the same candidates) and recall
        stays high."""
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        truth = exact_ids(emb, "l2")
        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(
                spark, emb, d, metric="l2", segment_rows=300, quantization="sq8"
            )
            rows = idx.search(Q64, k=10, ef_search=100).collect()
            got = [r["id"] for r in rows]
            assert recall(got, truth) >= 0.9
            # distances are exact (reranked), not code-approximate
            import numpy as np

            by_id = {
                r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in emb.collect()
            }
            q = np.asarray(Q64, dtype=np.float64)
            for r in rows:
                expect = float(((by_id[r["id"]] - q) ** 2).sum())
                assert abs(r["distance"] - expect) < 1e-9

    def test_hnsw_pq_rabitq_coded_traversal_with_exact_rerank(self, spark, emb):
        """HNSW x PQ and HNSW x RaBitQ (the remaining graph-reranker
        cells, crates/quantization/src/reranker/graph_2.rs): traversal
        runs on decode-on-access codes (PQ codebook reconstruction /
        RaBitQ sign-bit estimator), candidates rerank against
        transiently fetched exact vectors — returned distances must be
        EXACT and recall above each quantizer's floor."""
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        import numpy as np

        truth = exact_ids(emb, "l2")
        by_id = {
            r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()
        }
        q = np.asarray(Q64, dtype=np.float64)
        floors = {"pq": 0.9, "rabitq": 0.8}
        with tempfile.TemporaryDirectory() as d:
            for quant, kw in (("pq", {"pq_ratio": 4}), ("rabitq", {})):
                idx = HNSWIndex.create(
                    spark, emb, f"{d}/{quant}", metric="l2", segment_rows=300,
                    quantization=quant, **kw,
                )
                rows = idx.search(Q64, k=10, ef_search=200).collect()
                got = [r["id"] for r in rows]
                assert recall(got, truth) >= floors[quant], (quant, got)
                for r in rows:
                    expect = float(((by_id[r["id"]] - q) ** 2).sum())
                    assert abs(r["distance"] - expect) < 1e-9, quant

    def test_hnsw_pq_reopen_and_incremental_update(self, spark, emb):
        """PQ cell survives reopen (codebook rides in the segment files)
        and apply_updates rebuilds only affected segments with codes."""
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            HNSWIndex.create(
                spark, emb, d, metric="l2", segment_rows=300,
                quantization="pq", pq_ratio=4,
            )
            idx = HNSWIndex.open(spark, d)
            before = idx.search(Q64, k=5).collect()
            assert len(before) == 5
            victim = before[0]["id"]
            dels = spark.createDataFrame([(victim,)], "id bigint")
            rebuilt = idx.apply_updates(delete_ids=dels)
            assert rebuilt
            after = [r["id"] for r in idx.search(Q64, k=5).collect()]
            assert victim not in after and len(after) == 5

    def test_sq_rerank_fetch_is_pushed_filter(self, spark, emb):
        """Two-phase I/O golden: pass 1 scans (id, codes) only; pass 2
        fetches candidates by id — the plan must show a pushed id filter
        against the id-sorted rows layout (row-group skipping)."""
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="l2", quantization="sq8")
            out = idx.search(Q64, k=5)
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "PushedFilters" in plan and "In(id" in plan, plan[:2000]
            got = [r["id"] for r in out.collect()]
            assert got == exact_ids(emb, "l2")[:5]

    def test_pq_bits_4(self, spark, emb):
        """PQ with 4-bit codebooks (16 centroids per subspace,
        base/src/index.rs:482-496) still clears the recall floor with a
        rerank window."""
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(
                spark, emb, d, metric="l2", quantization="pq", pq_ratio=4, pq_bits=4
            )
            got = [r["id"] for r in idx.search(Q64, k=10, rerank_size=60).collect()]
            assert recall(got, exact_ids(emb, "l2")) >= 0.85

    def test_pq_codebook_unbiased_on_sorted_input(self, spark, emb):
        """Training samples come from sample(), not limit(): a
        label-sorted input must train codebooks of the same quality as
        the natural order (limit() would see only the first partitions'
        labels)."""
        sorted_emb = emb.orderBy("label", "vec_id").repartition(8, "label")
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(
                spark, sorted_emb, d, metric="l2", quantization="pq", pq_ratio=4
            )
            got = [r["id"] for r in idx.search(Q64, k=10, rerank_size=40).collect()]
            assert recall(got, exact_ids(emb, "l2")) >= 0.9

    def test_ivf_sq8_error_rerank_exact_at_full_probe(self, spark, emb):
        """Error-bound rerank on the IVF residual-SQ8 path (the default,
        like flat SQ): with full probe the result must be EXACT — the
        bounds provably cover the true top-k within probed lists."""
        truth = exact_ids(emb, "l2")[:10]
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="l2", nlist=8, quantization="sq8"
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8).collect()]
            assert got == truth

    def test_ivf_sq8_error_rerank_exact_with_replicas(self, spark, emb):
        """Error-bound rerank must stay exact under multi-assignment
        (replicas=2): the k-th threshold is taken over per-id min upper
        bounds, not raw rows — duplicated ids in several probed lists
        would otherwise shrink the threshold below the k-th distinct
        id's bound and drop a true top-k id."""
        truth = exact_ids(emb, "l2")[:10]
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="l2", nlist=8, quantization="sq8", replicas=2
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8, rerank_size=0).collect()]
            assert got == truth

    def test_ivf_sq_bits_error_rerank_exact(self, spark, emb):
        """IVF x SQ at 1/4 bits with full probe + error-bound rerank is
        exact — the quantizer-bit matrix composes into IVF like flat."""
        truth = exact_ids(emb, "l2")[:10]
        with tempfile.TemporaryDirectory() as d:
            for quant in ("sq1", "sq4"):
                idx = IVFIndex.create(
                    spark, emb, f"{d}/{quant}", metric="l2", nlist=8, quantization=quant
                )
                got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8).collect()]
                assert got == truth, quant

    def test_ivf_pq_recall(self, spark, emb):
        """IVF x PQ — the 100 TB memory/I/O operating point (reference
        composes any quantizer into IVF, crates/ivf/src/lib.rs:68-119)."""
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="l2", nlist=8, quantization="pq", pq_ratio=4
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8, rerank_size=40).collect()]
            assert recall(got, exact_ids(emb, "l2")) >= 0.9

    def test_ivf_pq_dot_metric(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="dot", nlist=8, quantization="pq", pq_ratio=4
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8, rerank_size=40).collect()]
            assert recall(got, exact_ids(emb, "dot")) >= 0.9

    def test_ivf_rabitq_recall(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="l2", nlist=8, quantization="rabitq"
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8, rerank_size=60).collect()]
            assert recall(got, exact_ids(emb, "l2")) >= 0.8


class TestIVFWidening:
    def test_selective_filter_widens_probes(self, spark, emb):
        """A 1-in-50 filter with nprobe=1 must still return exact k via
        probe widening (bounded VBASE stream analogue)."""
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=16)
            out = idx.search(Q64, k=5, nprobe=1, filter=F.col("id") % 50 == 0).collect()
            assert len(out) == 5
            assert all(r["id"] % 50 == 0 for r in out)
            # and it matches the exact filtered oracle
            truth = top_k(
                emb, "embedding", Q64, 5, metric="l2",
                filter=F.col("vec_id") % 50 == 0, tiebreaker="vec_id",
            ).collect()
            assert [r["id"] for r in out] == [r["vec_id"] for r in truth]

    def test_uncertified_ladder_ends_at_full_scan(self, spark, emb, monkeypatch):
        """With the exactness certificate forced off, the filtered
        widening ladder must escalate to a full probe (4 -> 16 -> 32 of
        32 lists) and return the exact filtered oracle; it has no other
        early stop."""
        from pgvecto_rs_spark.indexes.ivf import IVFIndex as _IVF

        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=32)
            monkeypatch.setattr(_IVF, "_widen_certified", lambda *a, **k: False)
            out = idx.search(
                Q64, k=5, nprobe=4, filter=F.col("id") % 2 == 0
            ).collect()
            assert idx.widen_stats == {"rounds": 3, "full": 1}
            monkeypatch.undo()
            truth = top_k(
                emb, "embedding", Q64, 5, metric="l2",
                filter=F.col("vec_id") % 2 == 0, tiebreaker="vec_id",
            ).collect()
            assert [r["id"] for r in out] == [r["vec_id"] for r in truth]

    def test_certificate_margin_fails_closed(self, spark, emb):
        """_widen_certified compares Spark-kernel t against a driver
        numpy bound; a borderline t == lb.min() must NOT certify
        (relative-epsilon margin, conservative direction — r11
        advice), while t clearly below the bound must."""
        import numpy as np

        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=8)
            q = np.asarray(Q64, dtype=np.float64)
            probed = {int(l) for l in idx.probe_lists(q, 2)}
            un = np.asarray([j for j in range(8) if j not in probed])
            assert len(un) > 0
            cents = idx.centroids.astype(np.float64)[un]
            r = idx.list_radii()[un]
            dd = cents - q[None, :]
            cd = np.sqrt(np.maximum(np.einsum("ij,ij->i", dd, dd), 0.0))
            lbmin = float((np.maximum(cd - r, 0.0) ** 2).min())
            assert lbmin > 0, "need a separated unprobed list for this pin"
            assert not idx._widen_certified(q, 2, [{"distance": lbmin}])
            below = lbmin - max(1.0, lbmin) * 1e-6
            assert idx._widen_certified(q, 2, [{"distance": below}])


class TestSphericalIVF:
    def test_spherical_cos(self, spark, emb):
        """spherical k-means (centroids re-normalized each round,
        k_means/src/lib.rs:24-30) with the cos opclass."""
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="cos", nlist=8, spherical=True
            )
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8).collect()]
            truth = [
                r["vec_id"]
                for r in top_k(emb, "embedding", Q64, 10, metric="cos", tiebreaker="vec_id").collect()
            ]
            assert got == truth  # full probe: exact regardless of training


class TestIVFRangeSearch:
    """Index-accelerated range search: triangle-inequality list pruning
    must return the brute-force sphere MEMBERSHIP exactly (completeness
    is a theorem, not a recall target).  Distances compare to ~1e-6:
    the index path scores with the f64 numpy kernel, the brute path
    with the Catalyst fold (f32 subtract) — both "exact" far inside the
    oracle's 4-decimal rounding.  Radii are picked at midpoints of
    >1e-5-wide gaps in the sorted distance list so boundary membership
    is never decided by that last-ulp difference."""

    def _brute(self, emb, metric, radius):
        from pgvecto_rs_spark.operators.search import range_search

        rows = range_search(emb, "embedding", Q64, radius, metric=metric).collect()
        return {r["vec_id"]: r["distance"] for r in rows}

    def _safe_radius(self, emb, metric, idx_from: int):
        """Midpoint of the first >1e-5 gap after the idx_from-th
        smallest distance — a radius no engine can disagree about."""
        from pgvecto_rs_spark.operators.search import range_search

        ds = sorted(
            r["distance"]
            for r in range_search(
                emb, "embedding", Q64, float("inf"), metric=metric
            ).collect()
        )
        for i in range(idx_from, len(ds) - 1):
            if ds[i + 1] - ds[i] > 1e-5:
                return (ds[i] + ds[i + 1]) / 2.0
        raise AssertionError("no usable gap in distance distribution")

    def _check(self, idx, emb, metric, radius):
        got = {r["id"]: r["distance"] for r in idx.range_search(Q64, radius).collect()}
        want = self._brute(emb, metric, radius)
        assert set(got) == set(want), (metric, radius)
        for k in got:
            assert got[k] == pytest.approx(want[k], abs=1e-6), (metric, k)

    @pytest.mark.parametrize("metric", ["l2", "dot", "cos"])
    def test_equals_brute_force(self, spark, emb, metric):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric=metric, nlist=16)
            for frm in (50, 200):
                self._check(idx, emb, metric, self._safe_radius(emb, metric, frm))

    def test_replicas_and_quantized_builds(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, emb, d, metric="l2", nlist=8, replicas=2, quantization="sq8"
            )
            self._check(idx, emb, "l2", self._safe_radius(emb, "l2", 100))

    def test_small_radius_prunes_lists_on_clustered_data(self, spark):
        """Pruning power is data-dependent: the sf test embeddings are
        near-uniform on the sphere (every list's radius ≈ the data
        diameter, bound can't exclude anything — correctness unaffected),
        so pruning is demonstrated on clustered data, the regime IVF
        layouts exist for."""
        import numpy as np

        rng = np.random.default_rng(7)
        centers = rng.normal(size=(8, 16)) * 10.0
        rows = []
        for i in range(400):
            c = i % 8
            rows.append(
                (i, (centers[c] + rng.normal(size=16) * 0.1).astype(float).tolist())
            )
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = [float(x) for x in centers[3]]
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(
                spark, df, d, vector_col="embedding", id_col="vec_id",
                metric="l2", nlist=8,
            )
            rad = idx.list_radii()
            from pgvecto_rs_spark.indexes import base as B

            d_c = B.np_kernel_distance(
                "l2", idx.centroids.astype(np.float64), np.asarray(q)
            )
            radius = 1.0  # covers cluster 3 (residuals ~0.4), no others
            lb = np.maximum(0.0, np.sqrt(np.maximum(d_c, 0.0)) - rad) ** 2
            surviving = int((lb < radius + 1e-9).sum())
            assert surviving <= 2, f"expected heavy pruning, got {surviving}/8 lists"
            got = {r["id"] for r in idx.range_search(q, radius).collect()}
            from pgvecto_rs_spark.operators.search import range_search

            want = {
                r["vec_id"]
                for r in range_search(df, "embedding", q, radius, metric="l2").collect()
            }
            assert got == want and len(got) == 50

    def test_apply_updates_refreshes_radii(self, spark, emb):
        """An inserted far-out vector extends its list's radius; range
        search for a query near the outlier must find it (a stale bound
        would prune the list and silently miss)."""
        import numpy as np

        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=8)
            dims = idx.meta["dims"]
            far = [100.0] * dims
            ins = spark.createDataFrame(
                [(10_000_000, far)], "id long, vec array<float>"
            )
            segs = idx.apply_updates(insert_rows=ins)
            assert segs, "insert must touch a list"
            radii = np.load(f"{d}/list_radii.npy")
            assert any(radii[s] > 50.0 for s in segs), "radius must grow"
            hits = idx.range_search(far, 1.0).collect()
            assert [r["id"] for r in hits] == [10_000_000]


class TestHNSWRangeSearch:
    """VBASE sphere scan on the graph stream: per-segment in-task ef
    widening until the frontier crosses the radius.  At test scale the
    deterministic graphs recover the full sphere (checked equal to the
    brute sphere), including a radius big enough to force widening and
    a quantized graph whose stop rule runs on rescored distances."""

    def _brute_ids(self, emb, metric, radius):
        from pgvecto_rs_spark.operators.search import range_search

        return {
            r["vec_id"]
            for r in range_search(emb, "embedding", Q64, radius, metric=metric).collect()
        }

    def _gap_radius(self, emb, metric, idx_from):
        from pgvecto_rs_spark.operators.search import range_search

        ds = sorted(
            r["distance"]
            for r in range_search(
                emb, "embedding", Q64, float("inf"), metric=metric
            ).collect()
        )
        for i in range(idx_from, len(ds) - 1):
            if ds[i + 1] - ds[i] > 1e-5:
                return (ds[i] + ds[i + 1]) / 2.0
        raise AssertionError("no usable gap")

    @pytest.mark.parametrize("metric", ["l2", "cos"])
    def test_matches_brute_sphere(self, spark, emb, metric):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(spark, emb, d, metric=metric, segment_rows=200)
            for frm in (30, 250):  # 250 >> ef_search=16: forces widening
                radius = self._gap_radius(emb, metric, frm)
                got = {
                    r["id"]
                    for r in idx.range_search(Q64, radius, ef_search=16).collect()
                }
                assert got == self._brute_ids(emb, metric, radius), (metric, radius)

    def test_quantized_graph_rescored_stop(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(
                spark, emb, d, metric="l2", segment_rows=300, quantization="sq8"
            )
            radius = self._gap_radius(emb, "l2", 60)
            got = {r["id"] for r in idx.range_search(Q64, radius).collect()}
            assert got == self._brute_ids(emb, "l2", radius)

    def test_filter_and_distance_units(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(spark, emb, d, metric="l2", segment_rows=200)
            radius = self._gap_radius(emb, "l2", 40)
            got = idx.range_search(
                Q64, radius, filter=F.col("id") % 2 == 0
            ).collect()
            brute = self._brute_ids(emb, "l2", radius)
            assert {r["id"] for r in got} == {i for i in brute if i % 2 == 0}
            for r in got:
                assert r["distance"] < radius


class TestFlatRangeSearch:
    """Exact sphere across every flat storage/quantization cell; the SQ
    cell additionally proves its two-phase shape (code-bound prefilter
    shrinks the exact-fetch set) without losing a single in-range row."""

    def _brute(self, emb, metric, radius):
        from pgvecto_rs_spark.operators.search import range_search

        return {
            r["vec_id"]
            for r in range_search(emb, "embedding", Q64, radius, metric=metric).collect()
        }

    def _gap_radius(self, emb, metric, idx_from):
        from pgvecto_rs_spark.operators.search import range_search

        ds = sorted(
            r["distance"]
            for r in range_search(
                emb, "embedding", Q64, float("inf"), metric=metric
            ).collect()
        )
        for i in range(idx_from, len(ds) - 1):
            if ds[i + 1] - ds[i] > 1e-5:
                return (ds[i] + ds[i + 1]) / 2.0
        raise AssertionError("no usable gap")

    @pytest.mark.parametrize("metric", ["l2", "dot", "cos"])
    def test_raw_matches_brute(self, spark, emb, metric):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric=metric)
            radius = self._gap_radius(emb, metric, 60)
            got = {r["id"] for r in idx.range_search(Q64, radius).collect()}
            assert got == self._brute(emb, metric, radius)

    def test_sq8_two_phase_exact_and_pruned(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = FlatIndex.create(spark, emb, d, metric="l2", quantization="sq8")
            radius = self._gap_radius(emb, "l2", 30)
            got = {r["id"] for r in idx.range_search(Q64, radius).collect()}
            want = self._brute(emb, "l2", radius)
            assert got == want
            # the prefilter ring must be well under the corpus size
            q = [float(x) for x in Q64]
            cand = idx._sq_bounds(
                idx._rows().select("id", "codes"), q
            ).where(F.col("__lb") < radius)
            n_cand = cand.count()
            assert len(want) <= n_cand < emb.count() * 0.6, n_cand

    def test_f16_and_pq_cells(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            radius = self._gap_radius(emb, "l2", 45)
            want = self._brute(emb, "l2", radius)
            f16 = FlatIndex.create(spark, emb, f"{d}/f16", metric="l2", storage="f16")
            got16 = {r["id"] for r in f16.range_search(Q64, radius).collect()}
            # f16 stores on the binary16 grid: distances move ~1e-3, so
            # membership can differ only right at the radius; the gap
            # construction keeps the boundary clear of data points
            assert got16 == want
            pq = FlatIndex.create(
                spark, emb, f"{d}/pq", metric="l2", quantization="pq", pq_ratio=4
            )
            gotpq = {r["id"] for r in pq.range_search(Q64, radius).collect()}
            assert gotpq == want  # exact-scan fallback: no estimator risk


class TestSparseRangeSearch:
    def test_matches_brute_over_overlap(self, spark, emb):
        from pgvecto_rs_spark.functions import sparse as VS

        thr = F.transform(
            F.col("embedding"),
            lambda x: F.when(F.abs(x) > SPARSE_THRESHOLD, x)
            .otherwise(F.lit(0.0))
            .cast("float"),
        )
        sdf = emb.select(
            F.col("vec_id").alias("doc_id"), VS.dense_to_svector(thr).alias("svec")
        )
        q = {i: x for i, x in enumerate(Q64) if abs(x) > SPARSE_THRESHOLD}
        qs = VS.to_svector(
            64,
            F.array(*[F.lit(i) for i in q]).cast("array<int>"),
            F.array(*[F.lit(v) for v in q.values()]).cast("array<float>"),
        )
        all_d = sorted(
            r["d"]
            for r in sdf.select(
                "doc_id", VS.svector_neg_dot(F.col("svec"), qs, check=False).alias("d")
            )
            .where(F.col("d") != 0.0)
            .collect()
        )
        # radius at a >1e-5 gap past the 20th overlap-doc distance
        radius = next(
            (all_d[i] + all_d[i + 1]) / 2.0
            for i in range(20, len(all_d) - 1)
            if all_d[i + 1] - all_d[i] > 1e-5
        )
        brute = {
            (r["doc_id"], round(r["d"], 9))
            for r in sdf.select(
                "doc_id", VS.svector_neg_dot(F.col("svec"), qs, check=False).alias("d")
            )
            .where((F.col("d") < radius) & (F.col("d") != 0.0))
            .collect()
        }
        with tempfile.TemporaryDirectory() as d:
            idx = SparseInvertedIndex.create(spark, sdf, d)
            got = {
                (r["id"], round(r["distance"], 9))
                for r in idx.range_search(q, radius).collect()
            }
        assert got == brute and len(got) > 20


class TestHNSWF16:
    """hnsw × vecf16: segments store binary16 words; build and search
    run on the decoded grid values, which makes results EXACT for the
    type (truth = exact top-k over the f16-snapped table)."""

    def _snapped(self, spark, emb):
        import numpy as np

        @F.pandas_udf("array<float>")
        def snap(v):
            return v.map(
                lambda x: np.asarray(x, np.float32)
                .astype(np.float16)
                .astype(np.float32)
                .tolist()
            )

        return emb.select("vec_id", snap("embedding").alias("embedding"))

    def test_matches_f16_grid_truth(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        truth_df = self._snapped(spark, emb)
        truth = [
            r["vec_id"]
            for r in top_k(
                truth_df, "embedding", Q64, 10, metric="l2", tiebreaker="vec_id"
            ).collect()
        ]
        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(
                spark, emb, d, metric="l2", segment_rows=200, storage="f16"
            )
            got = [r["id"] for r in idx.search(Q64, k=10, ef_search=100).collect()]
            assert got == truth
            # storage layout: binary16 words, no f32 vector column
            import glob as g

            import pyarrow.parquet as pq

            f = g.glob(f"{d}/graph/**/*.parquet", recursive=True)[0]
            names = pq.read_schema(f).names
            assert "vec16" in names and "vec" not in names
            # range search on the same grid truth
            from pgvecto_rs_spark.operators.search import range_search

            want = {
                r["vec_id"]
                for r in range_search(
                    truth_df, "embedding", Q64, 2.2, metric="l2"
                ).collect()
            }
            rng = {r["id"] for r in idx.range_search(Q64, 2.2).collect()}
            assert rng == want

    def test_update_and_reject_quant_compose(self, spark, emb):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        with tempfile.TemporaryDirectory() as d:
            idx = HNSWIndex.create(
                spark, emb, d, metric="l2", segment_rows=300, storage="f16"
            )
            dims = 64
            ins = spark.createDataFrame(
                [(9_000_001, [2.0] * dims)], "id long, vec array<float>"
            )
            assert idx.apply_updates(insert_rows=ins)
            got = idx.search([2.0] * dims, k=1, ef_search=50).collect()
            assert [r["id"] for r in got] == [9_000_001]
        with tempfile.TemporaryDirectory() as d2:
            with pytest.raises(ValueError, match="compose"):
                HNSWIndex.create(
                    spark, emb, d2, metric="l2", storage="f16", quantization="sq8"
                )


class TestIVFF16:
    """ivf × vecf16: lists store binary16 words; training, assignment,
    radii and scans all run on the decoded grid values, so full-probe
    results are EXACT for the type."""

    def test_matches_f16_grid_truth_all_surfaces(self, spark, emb):
        import numpy as np

        @F.pandas_udf("array<float>")
        def snap(v):
            return v.map(
                lambda x: np.asarray(x, np.float32)
                .astype(np.float16)
                .astype(np.float32)
                .tolist()
            )

        truth_df = emb.select("vec_id", snap("embedding").alias("embedding"))
        truth = [
            r["vec_id"]
            for r in top_k(
                truth_df, "embedding", Q64, 10, metric="l2", tiebreaker="vec_id"
            ).collect()
        ]
        with tempfile.TemporaryDirectory() as d:
            idx = IVFIndex.create(spark, emb, d, metric="l2", nlist=8, storage="f16")
            got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8).collect()]
            assert got == truth
            from pgvecto_rs_spark.operators.search import range_search

            want = {
                r["vec_id"]
                for r in range_search(
                    truth_df, "embedding", Q64, 2.2, metric="l2"
                ).collect()
            }
            assert {r["id"] for r in idx.range_search(Q64, 2.2).collect()} == want
            # storage layout
            import glob as g

            import pyarrow.parquet as pq

            f = g.glob(f"{d}/lists/**/*.parquet", recursive=True)[0]
            names = pq.read_schema(f).names
            assert "vec16" in names and "vec" not in names
            # incremental update keeps radii sound for range completeness
            ins = spark.createDataFrame(
                [(9_000_001, [2.0] * 64)], "id long, vec array<float>"
            )
            assert idx.apply_updates(insert_rows=ins)
            hits = idx.range_search([2.0] * 64, 1.0).collect()
            assert [r["id"] for r in hits] == [9_000_001]
        with tempfile.TemporaryDirectory() as d2:
            with pytest.raises(ValueError, match="compose"):
                IVFIndex.create(
                    spark, emb, d2, metric="l2", nlist=4,
                    storage="f16", quantization="sq8",
                )


class TestDistributedBatch:
    """Over-cap search_batch: executor-assembled query blocks must match
    the driver-built blocks bit-for-bit and never materialize the query
    DataFrame on the driver.  Each test spies on ``_blocks_rdd`` to show
    which path ran."""

    def _qdf(self, spark, sf_dir, n=200):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return emb.orderBy("vec_id").limit(n).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )

    def _rows(self, df):
        return sorted(
            (int(r["query_id"]), int(r["id"]), round(float(r["distance"]), 9))
            for r in df.collect()
        )

    def _spy_blocks(self, monkeypatch):
        """Count executor-side block assemblies."""
        from pgvecto_rs_spark.indexes import batch as BT

        calls = []
        real = BT._blocks_rdd

        def spy(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        monkeypatch.setattr(BT, "_blocks_rdd", spy)
        return calls

    def _over_cap(self, monkeypatch, cap, block_rows):
        from pgvecto_rs_spark.indexes import batch as BT

        monkeypatch.setattr(BT, "BATCH_COLLECT_CAP", cap)
        monkeypatch.setattr(BT, "BLOCK_ROWS", block_rows)

    def test_flat_over_cap_matches_collected(self, spark, sf_dir, tmp_path, monkeypatch):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = self._qdf(spark, sf_dir, 120)
        for quant in (None, "pq"):
            idx = FlatIndex.create(
                spark, emb, str(tmp_path / f"fb{quant}"), metric="l2",
                quantization=quant, **({"pq_ratio": 4} if quant == "pq" else {}),
            )
            calls = self._spy_blocks(monkeypatch)
            collected = self._rows(idx.search_batch(q, "qid", "qv", k=5))
            assert not calls
            self._over_cap(monkeypatch, 16, 32)
            distributed = self._rows(idx.search_batch(q, "qid", "qv", k=5))
            monkeypatch.undo()
            assert calls, quant
            assert distributed == collected, quant

    def test_ivf_over_cap_matches_collected(self, spark, sf_dir, tmp_path, monkeypatch):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = self._qdf(spark, sf_dir, 120)
        cells = ((None, 1), (None, 2), ("pq", 1), ("rabitq", 1), ("sq8", 2))
        for quant, replicas in cells:
            idx = IVFIndex.create(
                spark, emb, str(tmp_path / f"ivb{quant}{replicas}"), metric="l2",
                nlist=8, replicas=replicas, quantization=quant,
                **({"pq_ratio": 4} if quant == "pq" else {}),
            )
            calls = self._spy_blocks(monkeypatch)
            collected = self._rows(idx.search_batch(q, "qid", "qv", k=5, nprobe=3))
            assert not calls
            self._over_cap(monkeypatch, 16, 32)
            distributed = self._rows(idx.search_batch(q, "qid", "qv", k=5, nprobe=3))
            monkeypatch.undo()
            cell = (quant, replicas)
            assert calls, cell
            # k distinct ids per query: replicas must not repeat an id
            assert len({r[:2] for r in collected}) == 120 * 5, cell
            assert distributed == collected, cell

    def test_hnsw_over_cap_matches_collected(self, spark, sf_dir, tmp_path, monkeypatch):
        from pgvecto_rs_spark.indexes.hnsw import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        idx = HNSWIndex.create(
            spark, emb, str(tmp_path / "hb"), metric="l2", segment_rows=128
        )
        q = self._qdf(spark, sf_dir, 60)
        calls = self._spy_blocks(monkeypatch)
        collected = self._rows(idx.search_batch(q, "qid", "qv", k=5, ef_search=50))
        assert not calls
        self._over_cap(monkeypatch, 8, 16)
        distributed = self._rows(idx.search_batch(q, "qid", "qv", k=5, ef_search=50))
        assert calls
        assert distributed == collected

    def test_query_set_larger_than_cap_never_hits_driver(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """A query DataFrame far larger than the collect cap runs end to
        end through the distributed path: the only driver materialization
        is the k-rows-per-query result we ask for."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        corpus = emb.orderBy("vec_id").limit(64)
        idx = FlatIndex.create(spark, corpus, str(tmp_path / "big"), metric="l2")
        calls = self._spy_blocks(monkeypatch)
        self._over_cap(monkeypatch, 1000, 4096)
        n_q = 20_000  # >> cap; generated lazily, never collected
        q = spark.range(n_q).select(
            F.col("id").alias("qid"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (F.col("id") % 97 + i).cast("float") / 100.0,
            ).alias("qv"),
        )
        out = idx.search_batch(q, "qid", "qv", k=3)
        assert calls
        assert out.groupBy().count().first()[0] == n_q * 3


def test_flat_f16_search_batch_matches_per_query(spark, sf_dir, tmp_path):
    """f16-storage flat batches route through the distributed block
    runner (native vec16 decode) and equal the per-query path."""
    from pgvecto_rs_spark.indexes import FlatIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = FlatIndex.create(
        spark, emb, str(tmp_path / "f16b"), metric="l2", storage="f16"
    )
    q = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    batched = {
        (int(r["query_id"]), int(r["id"]), round(float(r["distance"]), 9))
        for r in idx.search_batch(q, "qid", "qv", k=5).collect()
    }
    per_query = set()
    for r in q.collect():
        for x in idx.search(list(r["qv"]), k=5).collect():
            per_query.add((int(r["qid"]), int(x["id"]), round(float(x["distance"]), 9)))
    assert batched == per_query


class TestFp16Slt:
    """fp16.slt mirror: vecf16 HNSW across all three metrics returns
    exactly k, and vecf16 arithmetic runs on the f16 grid."""

    def test_hnsw_all_metrics_k10(self, spark, sf_dir, tmp_path):
        from pgvecto_rs_spark.indexes import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        for metric in ("l2", "dot", "cos"):
            idx = HNSWIndex.create(
                spark, emb, str(tmp_path / f"fp16_{metric}"),
                metric=metric, storage="f16", segment_rows=256,
            )
            rows = idx.search(Q64, k=10, ef_search=50).collect()
            assert len(rows) == 10, metric

    def test_vecf16_arithmetic_on_grid(self, spark):
        # '[1,2,3]'::vecf16 * '[4,5,6]'::vecf16 = [4,10,18] (fp16.slt)
        from pgvecto_rs_spark.functions import dense as D

        a = D.to_f16_grid(F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)).cast("array<float>"))
        b = D.to_f16_grid(F.array(F.lit(4.0), F.lit(5.0), F.lit(6.0)).cast("array<float>"))
        got = spark.range(1).select(D.vector_mul(a, b).alias("r")).first()["r"]
        assert got == [4.0, 10.0, 18.0]


class TestReindexSlt:
    """reindex.slt mirror: rebuilding an index over the same path while
    an OPEN handle exists must serve the new data — the worker-resident
    segment cache invalidates on the file fingerprint."""

    def test_rebuild_invalidates_resident_segments(self, spark, sf_dir, tmp_path):
        from pgvecto_rs_spark.indexes import HNSWIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        path = str(tmp_path / "re")
        first = emb.where(F.col("vec_id") < 200)
        idx = HNSWIndex.create(spark, first, path, metric="l2", segment_rows=128)
        before = {r["id"] for r in idx.search(Q64, k=10, ef_search=100).collect()}
        assert before <= set(range(200))

        # REINDEX over the full table at the same path; the old handle's
        # resident graphs are stale but fingerprint-keyed
        idx2 = HNSWIndex.create(spark, emb, path, metric="l2", segment_rows=128)
        after = {r["id"] for r in idx2.search(Q64, k=10, ef_search=100).collect()}
        exact = {
            r["vec_id"]
            for r in top_k(emb, "embedding", Q64, 10, metric="l2").collect()
        }
        assert after == exact
