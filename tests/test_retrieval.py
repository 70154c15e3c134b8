"""BM25 lexical retrieval (operators/retrieval.py) vs a pure-Python
reference implementation."""

from __future__ import annotations

import math

from pgvecto_rs_spark.operators.retrieval import bm25_score, bm25_topk
from tests.conftest import count_jobs


def _ref_bm25(corpus: dict[int, str], terms: list[str], k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for i, t in toks.items():
        dl = len(t)
        s = 0
        for q in terms:
            tf = t.count(q)
            df = sum(1 for tt in toks.values() if q in tt)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            num = tf * (k1 + 1.0)
            denom = tf + k1 * ((1.0 - b) + b * (dl / avgdl))
            s += math.floor((idf * (num / denom)) * 1000000.0 + 0.5)
        out[i] = s
    return out


class TestBM25:
    CORPUS = {
        1: "a b a",
        2: "b c",
        3: "c c c c",
        4: "d d",
    }

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, t) for i, t in self.CORPUS.items()], "doc_id long, text string"
        )

    def test_scores_match_reference(self, spark):
        terms = ["a", "c"]
        got = {
            r["doc_id"]: r["score_u"]
            for r in bm25_score(self._df(spark), terms).collect()
        }
        assert got == _ref_bm25(self.CORPUS, terms)

    def test_topk_order_and_ties(self, spark):
        terms = ["a", "c"]
        ref = _ref_bm25(self.CORPUS, terms)
        want = sorted(ref, key=lambda i: (-ref[i], i))[:3]
        rows = bm25_topk(self._df(spark), terms, k=3).collect()
        assert [r["doc_id"] for r in rows] == want

    def test_absent_term_scores_zero(self, spark):
        got = {
            r["doc_id"]: r["score_u"]
            for r in bm25_score(self._df(spark), ["zzz"]).collect()
        }
        assert set(got.values()) == {0}

    def test_materialize_false_is_lazy_and_equal(self, spark):
        """materialize=False must defer all execution (no eager
        localCheckpoint job at call time) and yield identical scores."""
        terms = ["a", "c"]
        with count_jobs(spark) as jobs:
            lazy = bm25_score(self._df(spark), terms, materialize=False)
        assert jobs.n == 0  # plan-only: no job ran at call time
        got = {r["doc_id"]: r["score_u"] for r in lazy.collect()}
        assert got == _ref_bm25(self.CORPUS, terms)


class TestMMR:
    """mmr_topk vs a pure-Python greedy reference (λ=1/2 integer form)."""

    def _ref_mmr(self, vecs: dict[int, list[float]], q: list[float], k: int):
        qu = [math.floor(x * 1e6 + 0.5) for x in q]
        xu = {
            i: [math.floor(x * 1e6 + 0.5) for x in v] for i, v in vecs.items()
        }
        rel = {i: sum(a * b for a, b in zip(x, qu)) for i, x in xu.items()}
        sel: list[int] = []
        out = []
        while len(sel) < min(k, len(vecs)):
            best = None
            for i in sorted(xu):
                if i in sel:
                    continue
                ms = (
                    max(
                        sum(a * b for a, b in zip(xu[i], xu[s]))
                        for s in sel
                    )
                    if sel
                    else 0
                )
                score = rel[i] - ms if sel else rel[i]
                key = (-score, i)
                if best is None or key < best[0]:
                    best = (key, i, ms)
            out.append((len(sel) + 1, best[1], rel[best[1]], best[2]))
            sel.append(best[1])
        return out

    VECS = {
        1: [1.0, 0.0, 0.0],
        2: [0.99, 0.01, 0.0],   # near-dup of 1: relevance-adjacent, redundant
        3: [0.0, 1.0, 0.0],     # orthogonal, lower relevance
        4: [0.5, 0.5, 0.0],
        5: [-0.2, 0.3, 0.9],    # anti-correlated with the head
    }

    def _df(self, spark):
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        )
        return spark.createDataFrame(
            [(i, v) for i, v in self.VECS.items()], schema
        )

    def test_matches_reference_and_diversifies(self, spark):
        from pgvecto_rs_spark.operators.retrieval import mmr_topk

        q = [1.0, 0.1, 0.0]
        got = [
            tuple(r)
            for r in mmr_topk(self._df(spark), q, k=4, pool=5)
            .orderBy("rnk")
            .collect()
        ]
        # float32 storage: quantize through float32 like the Spark side reads
        import numpy as np

        vecs32 = {
            i: [float(np.float32(x)) for x in v] for i, v in self.VECS.items()
        }
        assert got == self._ref_mmr(vecs32, q, 4)
        # diversification: plain relevance order would put near-dup 2
        # second; MMR must not
        assert got[0][1] == 1 and got[1][1] != 2

    def test_k_exceeds_corpus(self, spark):
        from pgvecto_rs_spark.operators.retrieval import mmr_topk

        rows = mmr_topk(self._df(spark), [1.0, 0.0, 0.0], k=50, pool=64).collect()
        assert len(rows) == len(self.VECS)
        assert {r["vec_id"] for r in rows} == set(self.VECS)


class TestBatchHardTriplets:
    """operators/mining.py: batch-hard triplet mining vs a numpy model."""

    def _tables(self, spark):
        import numpy as np

        rng = np.random.RandomState(11)
        vecs = {i: rng.randn(4).astype(np.float32) for i in range(20)}
        labels = {i: i % 3 for i in vecs}
        schema = "vec_id long, label int, embedding array<float>"
        rows = [(i, labels[i], [float(x) for x in vecs[i]]) for i in vecs]
        df = spark.createDataFrame(rows, schema)
        return df, vecs, labels

    def _model(self, vecs, labels, anchor_ids):
        import numpy as np

        out = {}
        for a in anchor_ids:
            pos = [
                (float(np.sum((vecs[a].astype(np.float64) - vecs[c].astype(np.float64)) ** 2)), c)
                for c in vecs if c != a and labels[c] == labels[a]
            ]
            neg = [
                (float(np.sum((vecs[a].astype(np.float64) - vecs[c].astype(np.float64)) ** 2)), c)
                for c in vecs if c != a and labels[c] != labels[a]
            ]
            if not pos or not neg:
                continue
            # hardest positive: max d, tie-break smallest id; hardest
            # negative: min d, tie-break smallest id
            pd_, pid = max(pos, key=lambda t: (t[0], -t[1]))
            nd_, nid = min(neg)
            out[a] = (pid, pd_, nid, nd_)
        return out

    def test_matches_model(self, spark):
        from pyspark.sql import functions as F

        from pgvecto_rs_spark.operators.mining import batch_hard_triplets

        df, vecs, labels = self._tables(spark)
        anchors = df.where(F.col("vec_id") % 2 == 0).select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("albl"),
            F.col("embedding").alias("avec"),
        )
        cand = df.select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clbl"),
            F.col("embedding").alias("cvec"),
        )
        got = {
            r["aid"]: (r["pos_id"], r["pos_dist"], r["neg_id"], r["neg_dist"])
            for r in batch_hard_triplets(anchors, cand).collect()
        }
        want = self._model(vecs, labels, [i for i in vecs if i % 2 == 0])
        assert set(got) == set(want)
        for a, (pid, pd_, nid, nd_) in want.items():
            gp, gpd, gn, gnd = got[a]
            assert (gp, gn) == (pid, nid)
            assert abs(gpd - pd_) < 1e-9 and abs(gnd - nd_) < 1e-9

    def test_anchor_without_peers_dropped(self, spark):
        from pyspark.sql import functions as F

        from pgvecto_rs_spark.operators.mining import batch_hard_triplets

        # label 9 has a single member: no positive exists -> dropped
        rows = [
            (0, 1, [0.0, 0.0]),
            (1, 1, [1.0, 0.0]),
            (2, 9, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
        anchors = df.select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("albl"),
            F.col("embedding").alias("avec"),
        )
        cand = df.select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clbl"),
            F.col("embedding").alias("cvec"),
        )
        got = {r["aid"] for r in batch_hard_triplets(anchors, cand).collect()}
        assert got == {0, 1}

    def test_gemm_path_matches_expression_path(self, spark):
        """The mapInPandas gemm fast path and the broadcast-join
        expression path must select identical triplets — including when
        the corpus is split so that a partition holds only one side
        (same-label-only or diff-label-only) of some anchor, exercising
        the nullable per-batch partials."""
        from pyspark.sql import functions as F

        import pgvecto_rs_spark.operators.mining as M
        from pgvecto_rs_spark.operators.mining import batch_hard_triplets

        df, _, _ = self._tables(spark)
        # many tiny partitions -> most batches miss one side per anchor
        df = df.repartition(7)
        anchors = df.where(F.col("vec_id") % 2 == 0).select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("albl"),
            F.col("embedding").alias("avec"),
        )
        cand = df.select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clbl"),
            F.col("embedding").alias("cvec"),
        )
        for metric in ("l2", "dot", "cos"):
            gemm = sorted(
                tuple(r)
                for r in batch_hard_triplets(anchors, cand, metric=metric).collect()
            )
            cap = M.MAX_GEMM_ANCHORS
            M.MAX_GEMM_ANCHORS = 0  # force the expression path
            try:
                expr = sorted(
                    tuple(r)
                    for r in batch_hard_triplets(
                        anchors, cand, metric=metric
                    ).collect()
                )
            finally:
                M.MAX_GEMM_ANCHORS = cap
            assert len(gemm) > 0
            ids = lambda rows: [(a, p, n) for a, p, _, n, _ in rows]
            assert ids(gemm) == ids(expr), metric
            for g, e in zip(gemm, expr):
                assert abs(g[2] - e[2]) < 1e-9 and abs(g[4] - e[4]) < 1e-9

    def test_null_labels_and_vectors_agree_across_paths(self, spark):
        """NULL-label corpus rows are neither positive nor negative
        (SQL NULL == x is NULL); NULL-label / NULL-vector anchors yield
        no triplet.  Both paths must agree — the r6 advice found the
        gemm path treating a NULL label as a negative."""
        from pyspark.sql import functions as F

        import pgvecto_rs_spark.operators.mining as M
        from pgvecto_rs_spark.operators.mining import batch_hard_triplets

        rows = [
            (0, 1, [0.0, 0.0]),     # anchor
            (1, 1, [1.0, 0.0]),     # positive
            (2, None, [0.1, 0.0]),  # NULL label: closest row, but excluded
            (3, None, [0.2, 0.0]),  # NULL label
            (4, 2, [3.0, 0.0]),     # the only legal negative
            (5, 2, None),           # NULL vector: skipped
            (6, None, None),        # NULL label + vector anchor: no triplet
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        )
        anchors = df.where(F.col("vec_id").isin(0, 2, 6)).select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("albl"),
            F.col("embedding").alias("avec"),
        )
        cand = df.select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clbl"),
            F.col("embedding").alias("cvec"),
        )

        def run():
            return sorted(
                tuple(r) for r in batch_hard_triplets(anchors, cand).collect()
            )

        gemm = run()
        cap = M.MAX_GEMM_ANCHORS
        M.MAX_GEMM_ANCHORS = 0
        try:
            expr = run()
        finally:
            M.MAX_GEMM_ANCHORS = cap
        assert gemm == expr
        # only anchor 0 survives, and its negative is id 4, not the
        # nearer NULL-label id 2
        assert [(a, p, n) for a, p, _, n, _ in gemm] == [(0, 1, 4)]

    def test_nan_float_labels_agree_across_paths(self, spark):
        """Spark orders NaN = NaN as TRUE; the gemm path must mirror
        that for float label columns (numpy NaN != NaN)."""
        from pyspark.sql import functions as F

        import pgvecto_rs_spark.operators.mining as M
        from pgvecto_rs_spark.operators.mining import batch_hard_triplets

        nan = float("nan")
        rows = [
            (0, nan, [0.0, 0.0]),  # anchor, NaN label
            (1, nan, [1.0, 0.0]),  # NaN label -> positive under Spark
            (2, 2.0, [0.5, 0.0]),  # real label -> negative
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label double, embedding array<float>"
        )
        anchors = df.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("aid"),
            F.col("label").alias("albl"),
            F.col("embedding").alias("avec"),
        )
        cand = df.select(
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clbl"),
            F.col("embedding").alias("cvec"),
        )

        def run():
            return sorted(
                tuple(r) for r in batch_hard_triplets(anchors, cand).collect()
            )

        gemm = run()
        cap = M.MAX_GEMM_ANCHORS
        M.MAX_GEMM_ANCHORS = 0
        try:
            expr = run()
        finally:
            M.MAX_GEMM_ANCHORS = cap
        assert gemm == expr
        assert [(a, p, n) for a, p, _, n, _ in gemm] == [(0, 1, 2)]
