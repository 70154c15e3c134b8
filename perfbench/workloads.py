"""The benchmark workloads.  Each one is driven by a single closed-loop
client: the next request is sent only after the previous reply has been
collected and checked.  ``setup`` builds everything the timed window
needs; ``window`` sends whole passes over the workload's request plan
until the deadline passes."""

from __future__ import annotations

import hashlib
import itertools
import math
import os
import re
import shutil
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pandas as pd

from inputs import DIMS, N_LABELS, document_set, tables, vector_set

K = 10
# distances are compared after a float32 round trip
DIST_RTOL = 1e-4


#: request kinds with an end-to-end latency metric of their own
TOPK, RANGE, OTHER = "topk", "range", "other"


@dataclass
class Slot:
    """The requests at one position of a workload's request plan."""

    kind: str  # TOPK | RANGE | OTHER
    walls: list = field(default_factory=list)


@dataclass
class Ctx:
    """One run: the session, the tracer and everything measured."""

    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    cpus: int
    sizes: dict = field(default_factory=dict)
    slots: dict = field(default_factory=dict)  # plan position -> Slot
    slot: int = 0  # plan position of the request in flight
    attempted: int = 0
    failed: int = 0
    recalls: list = field(default_factory=list)
    counters: dict = field(default_factory=dict)  # per-layer counts from outside the program
    setup_phases: dict = field(default_factory=dict)  # seconds per set-up step

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def count(self, name: str, value: float) -> None:
        self.counters.setdefault(name, []).append(value)

    def loop(self, plan_len: int, send) -> None:
        """The closed loop: ``send(n)`` issues request ``n``, whose plan
        position is ``n % plan_len``.  Runs whole passes over the plan,
        at least one, until ``seconds`` have passed, so every plan
        position has the same number of samples."""
        deadline = time.perf_counter() + self.seconds
        for n in itertools.count():
            if n and n % plan_len == 0 and time.perf_counter() >= deadline:
                return
            self.slot = n % plan_len
            send(n)

    def check(self, ok: bool, what: str) -> bool:
        """One output check outside any timed request."""
        self.attempted += 1
        if not ok:
            print(f"perfbench: wrong output: {what}", file=sys.stderr)
            self.failed += 1
        return ok

    def timed(self, fn, verify, kind: str = OTHER):
        """One timed request: call, record the latency, then check the
        reply outside the timer.  A request that raises or fails its
        check counts as failed."""
        self.attempted += 1
        slot = self.slots.setdefault(self.slot, Slot(kind))
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        slot.walls.append(time.perf_counter() - t0)
        try:
            ok = verify(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print("perfbench: wrong output", file=sys.stderr)
            self.failed += 1
        return out

    def request(self, layer: str, fn, verify, kind: str = OTHER, **attrs):
        """A request that is a single call into ``layer``."""
        return self.timed(lambda: self.tracer.call(layer, fn, **attrs), verify, kind)


# ---------------------------------------------------------------------------
# numpy ground truth


def sq_l2(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    d = mat.astype(np.float64) - q.astype(np.float64)[None, :]
    return np.einsum("ij,ij->i", d, d)


class Truth:
    """Brute-force answers over vectors held on the driver, where a row's
    position is its id.  Rows outside ``valid`` (deleted, not yet
    inserted, filtered out) never count as answers."""

    def __init__(self, vectors: np.ndarray, valid: np.ndarray | None = None):
        self.vectors = vectors
        self.valid = np.ones(len(vectors), bool) if valid is None else valid

    def dist(self, q: np.ndarray, mask: np.ndarray | None = None) -> np.ndarray:
        keep = self.valid if mask is None else self.valid & mask
        return np.where(keep, sq_l2(self.vectors, q), np.inf)

    def recall(self, q, rows, mask=None) -> float:
        """Share of the k returned ids whose true distance is within the
        true k-th nearest distance (ties with the k-th neighbour count)."""
        d = self.dist(q, mask)
        bound = np.partition(d, K - 1)[K - 1] * (1 + 1e-9) + 1e-12
        ids = [int(r[0]) for r in rows]
        hits = sum(1 for i in ids if 0 <= i < len(d) and d[i] <= bound)
        return min(hits, K) / K

    def exact(self, q, rows) -> bool:
        """A correct exact top-k: k rows, the true k nearest (up to
        ties), each carrying its true distance."""
        d = self.dist(q)
        ids = [int(r[0]) for r in rows]
        return (
            len(ids) == K
            and self.recall(q, rows) == 1.0
            and bool(np.allclose([float(r[1]) for r in rows], d[ids], rtol=DIST_RTOL))
        )

    def radius_for(self, q, rank: int = 20) -> float:
        """A radius halfway between the rank-th and the next distance, so
        no row sits on the boundary."""
        part = np.partition(self.dist(q), [rank - 1, rank])
        return float((part[rank - 1] + part[rank]) / 2)

    def in_range(self, q, radius: float) -> set:
        return set(np.flatnonzero(self.dist(q) < radius).tolist())


# ---------------------------------------------------------------------------
# ann_serve


ANN_ROWS = 5_000
ANN_NLIST = 128
ANN_EF_CONSTRUCTION = 100
ANN_SINGLE_QUERIES = 64
ANN_BATCH = 64
# the request plan: a batch pass per index, top-k per index twice, and
# range and filtered search twice each
ANN_PLAN = (
    ("ivf", "search_batch"),
    ("flat", "search"),
    ("ivf", "search"),
    ("hnsw", "search"),
    ("ivf", "range_search"),
    ("ivf", "search_filtered"),
    ("hnsw", "search_batch"),
    ("flat", "search_batch"),
    ("hnsw", "search"),
    ("ivf", "search"),
    ("flat", "search"),
    ("ivf", "range_search"),
    ("ivf", "search_filtered"),
)


def _vector_frame(spark, ids, vectors, labels=None):
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(vectors)})
    schema = "vec_id long, embedding array<float>"
    if labels is not None:
        pdf["label"] = labels
        schema += ", label int"
    return spark.createDataFrame(pdf, schema)


def _by_query(rows) -> dict[int, list]:
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append((int(r["id"]), float(r["distance"])))
    return got


class AnnServe:
    name = "ann_serve"

    def setup(self, ctx: Ctx) -> None:
        from pgvecto_rs_spark.indexes import FlatIndex, HNSWIndex, IVFIndex

        spark, t = ctx.spark, ctx.tracer
        vs, _ = vector_set(ctx.seed, ANN_ROWS, ANN_SINGLE_QUERIES + ANN_BATCH)
        ctx.sizes.update(rows=ANN_ROWS, dims=DIMS, nlist=ANN_NLIST, hnsw_segments=3,
                         single_queries=ANN_SINGLE_QUERIES, batch_queries=ANN_BATCH)
        self.truth = Truth(vs.vectors)
        self.labels = vs.labels
        self.singles = vs.queries[:ANN_SINGLE_QUERIES]
        self.batch = vs.queries[ANN_SINGLE_QUERIES:]
        self.radii = [self.truth.radius_for(q) for q in self.singles]
        with ctx.phase("load"):
            df = _vector_frame(spark, vs.ids, vs.vectors, vs.labels).cache()
            df.count()
            self.qdf = spark.createDataFrame(
                pd.DataFrame({"qid": np.arange(ANN_BATCH, dtype=np.int64), "qv": list(self.batch)}),
                "qid long, qv array<float>",
            ).cache()
            self.qdf.count()
        path = lambda name: os.path.join(ctx.work, name)  # noqa: E731
        builds = {
            "flat": lambda: FlatIndex.create(spark, df, path("flat")),
            "ivf": lambda: IVFIndex.create(spark, df, path("ivf"), nlist=ANN_NLIST, payload_cols=["label"]),
            "hnsw": lambda: HNSWIndex.create(
                spark, df, path("hnsw"), segment_rows=-(-ANN_ROWS // 3), ef_construction=ANN_EF_CONSTRUCTION),
        }
        self.idx = {}
        for kind, build in builds.items():
            with ctx.phase(f"create_{kind}"):
                self.idx[kind] = t.call(f"indexes.{kind}.create", build)
        df.unpersist()
        # warm-up, unmeasured: every index answers a single query
        # (filtered and range requests reuse the IVF warm-up)
        with ctx.phase("warm_up"):
            for kind, call in dict.fromkeys(ANN_PLAN):
                if call == "search":
                    self._single(kind, call, 0)[0]()
        self.widen_rounds0 = self.idx["ivf"].widen_stats.get("rounds", 0)

    def _single(self, kind: str, call: str, n: int):
        """(thunk, verify) for single request number ``n``; ``verify``
        records the recall of approximate answers."""
        from pyspark.sql import functions as F

        i = n % len(self.singles)
        q = self.singles[i]
        ql = [float(x) for x in q]
        idx = self.idx[kind]
        if call == "range_search":
            r = self.radii[i]
            want = self.truth.in_range(q, r)
            return lambda: idx.range_search(ql, r).collect(), lambda rows: {int(x[0]) for x in rows} == want
        if call == "search_filtered":
            label = i % N_LABELS
            mask = self.labels == label

            def verify_filtered(rows):
                self.ctx.recalls.append(self.truth.recall(q, rows, mask))
                return len(rows) == K and all(mask[int(x[0])] for x in rows)

            return lambda: idx.search(ql, k=K, filter=F.col("label") == label).collect(), verify_filtered
        if kind == "flat":
            return lambda: idx.search(ql, k=K).collect(), lambda rows: self.truth.exact(q, rows)

        def verify_ann(rows):
            self.ctx.recalls.append(self.truth.recall(q, rows))
            return len(rows) == K

        return lambda: idx.search(ql, k=K).collect(), verify_ann

    def _verify_batch(self, kind: str):
        def verify(rows):
            got = _by_query(rows)
            if len(got) != ANN_BATCH or any(len(v) != K for v in got.values()):
                return False
            if kind == "flat":
                return all(self.truth.exact(self.batch[qi], v) for qi, v in got.items())
            self.ctx.recalls.append(float(np.mean([self.truth.recall(self.batch[qi], v) for qi, v in got.items()])))
            return True

        return verify

    def _send(self, n: int) -> None:
        kind, call = ANN_PLAN[n % len(ANN_PLAN)]
        layer = f"indexes.{kind}.{call}"
        if call == "search_batch":
            self.ctx.request(
                layer,
                lambda: self.idx[kind].search_batch(self.qdf, "qid", "qv", k=K).collect(),
                self._verify_batch(kind),
            )
        else:
            thunk, verify = self._single(kind, call, n)
            self.ctx.request(layer, thunk, verify, kind={"search": TOPK, "range_search": RANGE}.get(call, OTHER))

    def window(self, ctx: Ctx) -> None:
        self.ctx = ctx
        ctx.loop(len(ANN_PLAN), self._send)
        filtered = sum(1 for s in ctx.tracer.spans if s.layer == "indexes.ivf.search_filtered")
        rounds = self.idx["ivf"].widen_stats.get("rounds", 0) - self.widen_rounds0
        ctx.count("indexes.ivf.search.widen_rounds", rounds / filtered if filtered else 0.0)


# ---------------------------------------------------------------------------
# fresh_mixed


FRESH_ROWS = 5_000
FRESH_NLIST = 16
FRESH_INSERT_ROWS = 500
FRESH_DELETE_IDS = 100
FRESH_MAX_GROWING = 1_000
FRESH_QUERIES = 64
# The request plan holds two inserts: the first starts the growing
# segment, the second takes it to FRESH_MAX_GROWING rows and its
# maybe_compact compacts, so every pass through the plan compacts once.
FRESH_PLAN = ("insert", "search", "range_search", "insert", "search", "range_search", "delete", "search", "search")


class FreshMixed:
    name = "fresh_mixed"

    def setup(self, ctx: Ctx) -> None:
        from pgvecto_rs_spark.streaming.freshness import FreshVectorIndex

        spark = ctx.spark
        n_extra = FRESH_INSERT_ROWS * 40
        vs, extra = vector_set(ctx.seed, FRESH_ROWS, FRESH_QUERIES, n_extra=n_extra)
        ctx.sizes.update(rows=FRESH_ROWS, dims=DIMS, nlist=FRESH_NLIST, insert_rows=FRESH_INSERT_ROWS,
                         delete_ids=FRESH_DELETE_IDS, max_growing_rows=FRESH_MAX_GROWING)
        self.queries = vs.queries
        self.rng = np.random.default_rng([ctx.seed, 3])
        # the live set, tracked on the driver: position == id
        self.live = Truth(np.concatenate([vs.vectors, extra]), np.zeros(FRESH_ROWS + n_extra, bool))
        self.live.valid[:FRESH_ROWS] = True
        self.dead: set[int] = set()
        self.next_id = FRESH_ROWS
        self.growing = 0
        self.tombstones = 0
        with ctx.phase("create"):
            self.idx = FreshVectorIndex.create(
                spark, _vector_frame(spark, vs.ids, vs.vectors), os.path.join(ctx.work, "fresh"),
                sealed_kind="ivf", nlist=FRESH_NLIST,
            )
        with ctx.phase("warm_up"):
            ql = [float(x) for x in self.queries[0]]
            self.idx.search(ql, k=K).collect()
            self.idx.range_search(ql, 1.0).collect()

    def _write(self, ctx: Ctx, layer: str, fn) -> None:
        """A write is the call plus the ``maybe_compact`` that follows it;
        the client waits for both."""

        def write():
            ctx.tracer.call(layer, fn)
            compacted = ctx.tracer.call(
                "streaming.freshness.maybe_compact",
                lambda: self.idx.maybe_compact(max_growing_rows=FRESH_MAX_GROWING),
            )
            if compacted:
                span = ctx.tracer.spans[-1]
                span.layer = "streaming.freshness.compact"
                # rows the rebuild wrote per row it folded in
                span.attrs["write_amp"] = int(self.live.valid.sum()) / max(1, self.growing)
                self.growing = self.tombstones = 0

        ctx.timed(write, lambda _: True)

    def _insert(self, ctx: Ctx) -> None:
        lo, hi = self.next_id, self.next_id + FRESH_INSERT_ROWS
        df = _vector_frame(ctx.spark, np.arange(lo, hi, dtype=np.int64), self.live.vectors[lo:hi])
        self.live.valid[lo:hi] = True
        self.next_id = hi
        self.growing += FRESH_INSERT_ROWS
        self._write(ctx, "streaming.freshness.insert", lambda: self.idx.insert(df))

    def _delete(self, ctx: Ctx) -> None:
        ids = self.rng.choice(np.flatnonzero(self.live.valid), size=FRESH_DELETE_IDS, replace=False)
        self.live.valid[ids] = False
        self.dead.update(ids.tolist())
        self.tombstones += FRESH_DELETE_IDS
        self._write(ctx, "streaming.freshness.delete", lambda: self.idx.delete(ids.tolist()))

    def window(self, ctx: Ctx) -> None:
        ctx.loop(len(FRESH_PLAN), lambda n: self._send(ctx, n))

    def _send(self, ctx: Ctx, n: int) -> None:
        op = FRESH_PLAN[n % len(FRESH_PLAN)]
        q = self.queries[n % len(self.queries)]
        ql = [float(x) for x in q]
        if op == "insert":
            self._insert(ctx)
        elif op == "delete":
            self._delete(ctx)
        elif op == "search":

            def verify(rows, q=q):
                ctx.recalls.append(self.live.recall(q, rows))
                return len(rows) == K and not ({int(r[0]) for r in rows} & self.dead)

            ctx.request("streaming.freshness.search", lambda: self.idx.search(ql, k=K).collect(),
                        verify, TOPK, delta_rows=self.growing, tombstones=self.tombstones)
        else:
            r = self.live.radius_for(q)
            want = self.live.in_range(q, r)
            ctx.request("streaming.freshness.range_search",
                        lambda: self.idx.range_search(ql, r).collect(),
                        lambda rows: {int(x[0]) for x in rows} == want, RANGE)


# ---------------------------------------------------------------------------
# doc_pipeline


DOC_COUNT = 1_000
DOC_NLIST = 16
DOC_PQ_BITS = 4
DOC_DIMS = 64
NEAR_DUP_THRESHOLD = 0.9
SHINGLE_K = 5
DECONTAMINATION_N = 8


def _normalize(text: str) -> str:
    """The dedup operators' normalization: lower, trim, collapse spaces."""
    return re.sub(r"\s+", " ", text.strip(" ").lower())


def _shingles(text: str, k: int = SHINGLE_K) -> set:
    t = _normalize(text)
    return {t} if len(t) < k else {t[i:i + k] for i in range(len(t) - k + 1)}


#: the sweep's request plan: registered queries of four query modules,
#: each with the kind of request it is.  Index-backed queries and the
#: documents/embedding modules are left out: they read /tmp index caches
#: or module memo caches.  The vector top-k and range queries come round
#: twice per pass.
SWEEP_PLAN = (
    ("vector", "topk_l2", TOPK),
    ("vector", "range_l2", RANGE),
    ("multimodal", "mm_audio_stats", OTHER),
    ("events", "events_hourly", OTHER),
    ("tpch", "tpch_q1", OTHER),
    ("vector", "knn_join_l2", OTHER),
    ("multimodal", "mm_mp4_index", OTHER),
    ("vector", "topk_l2", TOPK),
    ("events", "events_sessions", OTHER),
    ("vector", "range_l2", RANGE),
    ("tpch", "tpch_q6", OTHER),
    ("vector", "agg_sum_vector", OTHER),
    ("tpch", "tpch_q3", OTHER),
)
# one pass of the sweep, warm from the oracle pass in set-up, then one
# cold curation pass
DOC_PLAN = SWEEP_PLAN + ("pipeline",)
SWEEP_EMBEDDINGS = 1_000
FLOAT_TOL = 1e-6


def _canon(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _sort_key(row):
    def key(v):
        if v is None:
            return (0, 0)
        if isinstance(v, float):
            return (1, 0.0 if math.isnan(v) else float(f"{v:.6g}"))
        if isinstance(v, (bool, int)):
            return (1, v)
        if isinstance(v, tuple):
            return (3, tuple(key(x) for x in v))
        return (2, str(v))

    return tuple(key(v) for v in row)


def canonical(columns, rows) -> tuple[list, list]:
    """Column names and rows in a form two engines can compare: columns
    sorted by name, decimals as floats, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return [columns[i] for i in order], sorted(out, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or math.isclose(fa, fb, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(a: list, b: list) -> bool:
    return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))


class DocPipeline:
    """A batch job over one seeded dataset: a sweep over the registered
    queries of four query modules, then a curation pass over its
    documents.  The curation operators are called directly, so no module
    memo cache serves them, and they run cold: set-up warms Spark with
    the sweep's oracle pass but never runs the curation operators."""

    name = "doc_pipeline"

    def setup(self, ctx: Ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgvecto_rs_spark.sources.embedding import text2vec_hash

        spark = ctx.spark
        ds = document_set(ctx.seed, DOC_COUNT)
        ctx.sizes.update(documents=DOC_COUNT, benchmark_passages=len(ds.benchmark),
                         queries=len(ds.queries), nlist=DOC_NLIST, dims=DOC_DIMS)
        self.docs_path = os.path.join(ctx.work, "documents")
        with ctx.phase("load"):
            os.makedirs(self.docs_path)
            pq.write_table(pa.Table.from_pandas(ds.docs, preserve_index=False),
                           os.path.join(self.docs_path, "part-0.parquet"))
            self.bench = spark.createDataFrame(ds.benchmark, "text string").cache()
            qtext = spark.createDataFrame(
                pd.DataFrame({"qid": np.arange(len(ds.queries), dtype=np.int64), "text": ds.queries}),
                "qid long, text string",
            )
            self.qdf = qtext.select("qid", text2vec_hash("text", dims=DOC_DIMS).alias("qv")).cache()
            self.qvecs = {int(r["qid"]): np.asarray(r["qv"], np.float64) for r in self.qdf.collect()}
        self.first_digest = None
        self._setup_sweep(ctx)

    def _setup_sweep(self, ctx: Ctx) -> None:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pgvecto_rs_spark import queries as Q
        from pgvecto_rs_spark.queries._core import Q64

        self.data = os.path.join(ctx.work, "tables")
        os.makedirs(self.data)
        with ctx.phase("generate"):
            tabs = tables(ctx.seed, embeddings=SWEEP_EMBEDDINGS, near=Q64)
            for name, pdf in tabs.items():
                pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                               os.path.join(self.data, f"{name}.parquet"))
        ctx.sizes.update({f"{name}_rows": len(pdf) for name, pdf in tabs.items()})
        ctx.sizes["sweep_queries"] = len(set(SWEEP_PLAN))
        self.fns, oracles = Q.queries(), Q.oracle_sql()
        con = duckdb.connect()
        for name in tabs:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(self.data, name)}.parquet'")
        self.expected: dict[str, list] = {}
        # warm-up, unmeasured: every query once, checked against its
        # DuckDB oracle; later passes must give the same rows
        with ctx.phase("warm_up_and_oracle"):
            for module, name, _ in dict.fromkeys(SWEEP_PLAN):
                df = ctx.tracer.call(f"queries.{module}", lambda: self.fns[name](ctx.spark, self.data))
                cols, rows = canonical(df.columns, [tuple(r) for r in df.collect()])
                cur = con.execute(oracles[name])
                ocols, orows = canonical([d[0] for d in cur.description], cur.fetchall())
                ctx.check(cols == ocols and len(rows) > 0 and same_rows(rows, orows), f"{name} vs its oracle")
                self.expected[name] = orows
        con.close()

    def _pass(self, ctx: Ctx, path: str):
        """One cold pass of the curation pipeline: every operator runs
        from the raw documents, and each stage materializes its output
        (an eager local checkpoint), as a curation job writes each
        stage's survivors.  Returns the stage outputs the checks need."""
        from pyspark.sql import functions as F

        from pgvecto_rs_spark.indexes import IVFIndex
        from pgvecto_rs_spark.operators import curation as CU
        from pgvecto_rs_spark.operators import dedup as DD
        from pgvecto_rs_spark.operators.textanalysis import quality_score
        from pgvecto_rs_spark.sources.embedding import text2vec_hash

        spark, t = ctx.spark, ctx.tracer
        docs = spark.read.parquet(path)
        good = t.call("operators.textanalysis.quality_score",
                      lambda: docs.where(quality_score("text") >= 0.5).localCheckpoint(eager=True))

        def dedup():
            groups = DD.exact_dedup(good).localCheckpoint(eager=True)
            keep = groups.select(F.col("keep_id").alias("doc_id"))
            return groups, good.join(keep, "doc_id", "left_semi").localCheckpoint(eager=True)

        groups, kept = t.call("operators.dedup.exact_dedup", dedup)
        cand = t.call("operators.dedup.lsh_candidate_pairs",
                      lambda: DD.lsh_candidate_pairs(kept).localCheckpoint(eager=True))
        verified = t.call("operators.dedup.verify_pairs_jaccard",
                          lambda: DD.verify_pairs_jaccard(kept, cand, threshold=NEAR_DUP_THRESHOLD)
                          .localCheckpoint(eager=True))

        def components():
            comps = DD.neardup_components(verified.select("id_a", "id_b"))
            drop = comps.where(F.col("id") != F.col("comp")).select(F.col("id").alias("doc_id"))
            return kept.join(drop, "doc_id", "left_anti").localCheckpoint(eager=True)

        unique = t.call("operators.dedup.neardup_components", components)

        def decontaminate():
            flags = CU.decontaminate(unique, self.bench, n=DECONTAMINATION_N)
            clean_ids = flags.where(~F.col("contaminated")).select("doc_id")
            return unique.join(clean_ids, "doc_id", "left_semi").localCheckpoint(eager=True)

        clean = t.call("operators.curation.decontaminate", decontaminate)
        emb = t.call("sources.embedding.text2vec_hash",
                     lambda: clean.select(F.col("doc_id").alias("vec_id"),
                                          text2vec_hash("text", dims=DOC_DIMS).alias("embedding"))
                     .localCheckpoint(eager=True))
        ipath = os.path.join(ctx.work, "doc_ivf")
        shutil.rmtree(ipath, ignore_errors=True)
        index = t.call("indexes.quantization.create", lambda: IVFIndex.create(
            spark, emb, ipath, nlist=DOC_NLIST, quantization="pq", pq_ratio=4, pq_bits=DOC_PQ_BITS))
        hits = t.call("indexes.quantization.search_batch",
                      lambda: index.search_batch(self.qdf, "qid", "qv", k=K).collect())
        return good, groups, cand, verified, emb, hits

    def _check(self, ctx: Ctx, good, groups, cand, verified, emb, hits) -> bool:
        """Output checks, outside the timed pass."""
        ok = True
        n_cand = cand.count()
        pairs = verified.collect()
        ctx.count("operators.dedup.lsh_candidate_pairs.candidates", n_cand)
        ctx.count("operators.dedup.verify_pairs_jaccard.verified_per_candidate",
                  len(pairs) / n_cand if n_cand else 0.0)
        good_pd = good.select("doc_id", "text").toPandas()
        md5 = good_pd["text"].map(lambda s: hashlib.md5(_normalize(s).encode()).hexdigest())
        want_keep = set(good_pd.groupby(md5)["doc_id"].min().tolist())
        got_keep = {int(r["keep_id"]) for r in groups.select("keep_id").collect()}
        if got_keep != want_keep:
            print("perfbench: exact_dedup keep set differs from an md5 grouping", file=sys.stderr)
            ok = False
        text = dict(zip(good_pd["doc_id"].tolist(), good_pd["text"].tolist()))
        for r in pairs:
            a, b = _shingles(text[int(r["id_a"])]), _shingles(text[int(r["id_b"])])
            if len(a & b) / len(a | b) < NEAR_DUP_THRESHOLD - 1e-12:
                print(f"perfbench: verified pair {r['id_a']},{r['id_b']} is below the threshold",
                      file=sys.stderr)
                ok = False
        vectors = np.zeros((DOC_COUNT, DOC_DIMS), np.float32)
        valid = np.zeros(DOC_COUNT, bool)
        for vid, vec in emb.collect():
            vectors[vid], valid[vid] = vec, True
        truth = Truth(vectors, valid)
        got = _by_query(hits)
        if len(got) != len(self.qvecs) or any(len(v) != K for v in got.values()):
            ok = False
        else:
            ctx.recalls.append(float(np.mean([truth.recall(self.qvecs[q], v) for q, v in got.items()])))
        # every pass must curate the same documents
        digest = hashlib.sha256(np.packbits(valid).tobytes() + repr(sorted(got_keep)).encode()).hexdigest()
        if self.first_digest is None:
            self.first_digest = digest
        elif digest != self.first_digest:
            print("perfbench: pipeline output changed between passes", file=sys.stderr)
            ok = False
        return ok

    def _query(self, ctx: Ctx, module: str, name: str, kind: str) -> None:
        want = self.expected[name]

        def verify(out):
            cols, rows = canonical(*out)
            if kind == TOPK:
                ctx.recalls.append(sum(1 for r in want if any(same_rows([r], [g]) for g in rows)) / len(want))
            return same_rows(rows, want)

        def run():
            df = self.fns[name](ctx.spark, self.data)
            return df.columns, [tuple(r) for r in df.collect()]

        ctx.request(f"queries.{module}", run, verify, kind)

    def _send(self, ctx: Ctx, n: int) -> None:
        step = DOC_PLAN[n % len(DOC_PLAN)]
        if step == "pipeline":
            ctx.timed(lambda: self._pass(ctx, self.docs_path), lambda out: self._check(ctx, *out))
        else:
            self._query(ctx, *step)

    def window(self, ctx: Ctx) -> None:
        ctx.loop(len(DOC_PLAN), lambda n: self._send(ctx, n))


WORKLOADS = {w.name: w for w in (AnnServe, FreshMixed, DocPipeline)}
