"""HNSW index — per-segment graphs, executor-resident traversal.

Reference: crates/hnsw/src/lib.rs (build :116-196 parallel insertion,
deterministic level = trailing-base-m count of the vertex number,
``hierarchy_for_a_vertex`` :575-583; defaults m=12, ef_construction=300,
crates/base/src/index.rs:406-413; search = greedy upper-level descent
``fast_search`` :321-346 + best-first at layer 0,
crates/graph/src/search.rs:54-89; ef_search default 100,
base/src/index.rs:561-563), per-segment vbase streams merged by a
LoserTree (crates/index/src/lib.rs:401-422).

Spark mapping (SURVEY.md §7 Phase 5): graph traversal is pointer-chasing
and does not fit DataFrame algebra, so each *segment* (a bounded slice
of rows, like the reference's sealed segments) is built inside one
``applyInPandas`` task with numpy adjacency arrays.  Search runs one
block runner per segment (``indexes/batch.py``), in the driver or as one
task per segment over an RDD of segment ids; each loads its segment's
graph from Parquet into a **process-global cache**
(the Spark analogue of the reference's mmap-opened index,
crates/index/src/lib.rs:128-211) and traverses it in memory.  Python
workers are reused across queries (``spark.python.worker.reuse``, on by
default), so repeated queries never re-read — let alone re-shuffle —
the graph: only the ef candidate (id, distance) pairs per segment cross
the wire.  ``batch.merge`` is the LoserTree merge analogue.  The
deterministic level function keeps builds reproducible (same property
the reference relies on for rebuild tests).

Scale notes: a 100 TB corpus is thousands of segments; build is
embarrassingly parallel; at query time per-segment ef candidates (not
raw rows, not the graph) cross the shuffle, and warm executors serve
queries from resident segments.  ``search_batch`` amortizes the task
dispatch over many queries in one pass.  The inner loop here is pure
numpy/Python — production would swap in a compiled kernel per segment
(the orchestration, storage layout and merge semantics are the
engine's contribution, exactly as the reference delegates kernels to
SIMD dispatch).
"""

from __future__ import annotations

import glob
import heapq
import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.indexes import batch as BT
from pgvecto_rs_spark.indexes import segment_worker as SW

DEFAULT_M = 12  # crates/base/src/index.rs:406-409

#: index scans a sphere costs in the driver budget (``batch.route``): a
#: wide radius widens every segment's search to the whole segment, one
#: segment after another in the driver.  With half the rows in range
#: (60k x 64, 3 segments, 4 vCPU) the driver took 129 vs 364 ms through
#: Spark at 1.4 MiB, 461 vs 499 ms at 5.8 MiB and 1,577 vs 909 ms at
#: 17.9 MiB, so spheres are served up to about 6 MiB
_RANGE_SCANS = 10
DEFAULT_EF_CONSTRUCTION = 300  # :410-413
DEFAULT_EF_SEARCH = 100  # :561-563
#: Default ef_search multiplier for coded-graph traversal (applies when
#: the caller leaves ef_search unset).  A quantized frontier ranks by
#: approximate distances, so at the same ef it surfaces fewer true
#: neighbors than the f32 graph and the exact rescoring pass cannot
#: recover what the stream never yielded.  1M-gate measurements
#: (BENCHNOTES r10 table): hnsw 0.993 and hnsw_sq8 0.992 at ef=100
#: (no widening needed), hnsw_pq 0.949 at ef=100 but 0.998 at ef=400 —
#: 2x clears the 0.95 default bar with margin.  rabitq carries 8x less
#: code information per dim than sq8, so it gets 4x (conservative; the
#: 64-dim regime is documented as below-bar regardless).
QUANT_EF_FACTOR = {"pq": 2, "rabitq": 4}


def _dims_ef_factor(dims: int) -> int:
    """Default-ef multiplier for high-dimensional graphs (r12 verdict
    #3).  Graph navigability degrades as dims grow — neighbors become
    equidistant and the greedy frontier needs more candidates to avoid
    local minima: the 200k x 1024 smoke read 0.948 recall@10 at the
    ≤256-dim default ef=100, under the 0.95 bar (0.995 at ef=400).
    2x clears the bar (measured — BENCHNOTES r13 1024-dim calibration);
    ≤256-dim defaults are bit-unchanged (factor 1).  Explicit
    ef_search, per call or via alter(default_ef_search), bypasses
    this entirely, like QUANT_EF_FACTOR."""
    return 2 if dims > 256 else 1


DEFAULT_SEGMENT_ROWS = 20_000

#: Per-task row cap for _per_segment_apply (r12 verdict #5): a build
#: task materializes its whole partition (normally one segment) twice
#: during concat; 500k rows x 256 dims x f64 x 2 ~= 2 GB — within a
#: 4 GiB/core budget with 10x headroom over the 50k-row design point.
_SEG_BUILD_ROW_CAP = 500_000

# Executor-process-global segment cache: {seg_dir: (fingerprint, data)}.
# Lives for the lifetime of the reused Python worker — the analogue of the
# reference keeping sealed segments mmap-open between queries
# (crates/index/src/lib.rs:128-211).  Bounded LRU so a worker scanning many
# segments doesn't hold them all.
# Executor-side segment machinery lives in the import-light
# ``segment_worker`` module (see its docstring for why); aliases keep
# the public-ish names importable from here.
_SEG_CACHE = SW._SEG_CACHE
_segment_fingerprint = SW._segment_fingerprint
_CodedVecs = SW._CodedVecs
_PQCodedVecs = SW._PQCodedVecs
_RaBitQVecs = SW._RaBitQVecs
_RERANK_QUANTS = SW._RERANK_QUANTS


def _quant_schema(quant: str | None) -> str:
    if quant in ("sq8",):
        return ", codes array<smallint>, qlo array<float>, qwidth array<float>"
    if quant == "pq":
        return ", codes array<smallint>, codebook array<float>"
    if quant == "rabitq":
        return ", rq_norm float, rq_words array<int>"
    return ""


def _quant_columns(
    vecs: np.ndarray, quant: str | None, pq_ratio: int, pq_bits: int, seed: int
) -> dict:
    """Per-segment quantized columns, computed inside the build task
    (executor-side, numpy).  PQ trains per-segment codebooks (strictly
    tighter than global, same argument as per-segment SQ bounds);
    RaBitQ's projection is seeded/deterministic so only codes+norms are
    stored and the matrix is recomputed at load."""
    n = len(vecs)
    out: dict = {}
    if quant == "sq8":
        if n:
            lo = vecs.min(axis=0)
            width = np.where(vecs.max(axis=0) > lo, vecs.max(axis=0) - lo, 1.0)
        else:
            lo = width = np.zeros(0)
        codes = np.clip(np.rint((vecs - lo) / width * 255.0), 0, 255).astype(np.int16)
        out["codes"] = [row.tolist() for row in codes]
        out["qlo"] = [lo.astype(np.float32).tolist()] * n
        out["qwidth"] = [width.astype(np.float32).tolist()] * n
    elif quant == "pq":
        from pgvecto_rs_spark.indexes.quantization import TRAIN_CAP, pq_encode, pq_train

        dims = vecs.shape[1] if n else 0
        n_sub = max(1, dims // max(1, pq_ratio))
        if n:
            books = pq_train(vecs[:TRAIN_CAP], n_sub, bits=pq_bits, seed=seed)
            flat = books.astype(np.float32).ravel().tolist()
            out["codes"] = [row.tolist() for row in pq_encode(vecs, books)]
            # codebook rides on the first row only (nulls compress away)
            out["codebook"] = [flat] + [None] * (n - 1)
        else:
            out["codes"] = []
            out["codebook"] = []
    elif quant == "rabitq":
        from pgvecto_rs_spark.indexes.quantization import rabitq_encode, rabitq_projection

        if n:
            norms, words = rabitq_encode(vecs, rabitq_projection(vecs.shape[1], seed))
            out["rq_norm"] = norms
            out["rq_words"] = [row.tolist() for row in words]
        else:
            out["rq_norm"] = np.zeros(0, dtype=np.float32)
            out["rq_words"] = []
    return out


_read_exact_vecs = SW._read_exact_vecs
_load_segment = SW._load_segment


def _per_segment_apply(df: DataFrame, n_segments: int, build, schema: str) -> DataFrame:
    """Run ``build(pdf)`` once per segment with EXACTLY one task per
    segment (r12).  The old ``repartition(n, "seg").groupBy("seg")
    .applyInPandas`` re-shuffled behind the explicit repartition, and
    AQE partition coalescing then packed several segment builds into
    one task: measured 20 x 50k-row builds running as 12 tasks — a
    two-wave wall that explains why the r11 1.9x per-segment win never
    moved the 1M build wall (499 s vs the 120 s 20-process floor; the
    r11 "DRAM-bound" reading was wrong — the concurrency sweep puts
    memory contention at ~25%, not 3x).  repartitionByRange with a
    user-specified partition count is exempt from AQE coalescing and
    places every row of a segment in one partition; the in-task groupby
    handles the rare sampling-dependent case of two segments sharing a
    range (they build sequentially, still correctly).

    MEMORY BOUND (r12 verdict #5): ``run`` accumulates its whole
    partition before building, so a task holds up to
    ``segment_rows x dims x 8`` bytes of vectors TWICE while
    ``pd.concat`` copies (plus Arrow batch overhead) — ~160 MB for the
    designed 50k x 256 segment, fine; but a future
    max_sealed_segment_size increase would silently multiply executor
    memory.  ``_SEG_BUILD_ROW_CAP`` turns that silent OOM into a clean
    error at the first oversized segment."""

    def run(batches):
        acc: dict = {}
        rows = 0
        for pdf in batches:
            rows += len(pdf)
            if rows > _SEG_BUILD_ROW_CAP:
                raise ValueError(
                    f"segment build task holds >{_SEG_BUILD_ROW_CAP} rows; "
                    "a segment this large would double executor memory "
                    "during concat — lower segment_rows (or raise "
                    "hnsw._SEG_BUILD_ROW_CAP deliberately)"
                )
            for seg, g in pdf.groupby("seg"):
                acc.setdefault(seg, []).append(g)
        for seg in sorted(acc):
            parts = acc[seg]
            yield build(pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0])

    return df.repartitionByRange(n_segments, "seg").mapInPandas(run, schema)


def _write_segments(meta: dict, rows: DataFrame, n_tasks: int, graph_dir: str,
                    dynamic: bool = False) -> None:
    """The one segment builder: each ``seg`` of ``rows`` (id, vec, seg —
    ``base.prepare_rows`` output) becomes one graph segment under
    ``graph_dir``, built by ``_per_segment_apply`` over ``n_tasks``
    tasks.  ``create`` writes every segment; ``apply_updates`` (and so
    incremental compaction) overwrites only the segments in ``rows``
    (``dynamic``).  A segment's graph is a function of its sorted member
    rows and the index options in ``meta``, whichever of them builds
    it."""
    storage = meta.get("storage", "f32")
    kernel, m, ef_c = meta["kernel"], meta["m"], meta["ef_construction"]
    quant = meta.get("quantization")
    pq_ratio, pq_bits = meta.get("pq_ratio", 4), meta.get("pq_bits", 8)
    seed = meta.get("seed", 42)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        # f16 rows arrive on the binary16 grid (prepare_rows), so the
        # graph is built on the values search decodes
        vecs = np.asarray(pdf["vec"].tolist(), dtype=np.float64)
        neighbors, levels = _build_graph(vecs, kernel, m, ef_c)
        entry = int(np.argmax(levels)) if levels else 0
        out = {
            "seg": pdf["seg"],
            "idx": np.arange(len(pdf), dtype=np.int64),
            "id": pdf["id"].astype("int64"),
            "level": np.asarray(levels, dtype=np.int32),
            "neighbors": [[lvl.tolist() for lvl in nb] for nb in neighbors],
            "entry": np.full(len(pdf), entry, dtype=np.int64),
        }
        if storage == "f16":
            out["vec16"] = [row.astype(np.float16).tobytes() for row in vecs]
        else:
            out["vec"] = pdf["vec"]
        # per-segment quantizer training (scalar.rs trains per
        # dataset; per segment is strictly tighter)
        out.update(_quant_columns(vecs, quant, pq_ratio, pq_bits, seed))
        return pd.DataFrame(out)

    vec_field = "vec16 binary" if storage == "f16" else "vec array<float>"
    schema = (
        f"seg int, idx bigint, id bigint, {vec_field}, level int, "
        "neighbors array<array<int>>, entry bigint"
    ) + _quant_schema(quant)
    w = _per_segment_apply(rows, n_tasks, build, schema).write.mode("overwrite")
    if dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy("seg").parquet(graph_dir)


def _level_of(vertex_no: int, m: int) -> int:
    """Deterministic hierarchy level: number of trailing zeros of the
    1-based vertex number in base m (hnsw/src/lib.rs:575-583)."""
    lvl = 0
    x = vertex_no + 1
    while x % m == 0:
        lvl += 1
        x //= m
    return lvl


def _prune_diverse(
    vecs: np.ndarray,
    kernel: str,
    cand: list[tuple[float, int]],
    cap: int,
) -> list[int]:
    """Diversity prune (crates/graph/src/prune.rs:3-30): scan candidates
    by ascending distance, keep c iff dist(c, s) > dist(c, anchor) for
    every already-kept s.  Nearest-only selection concentrates edges
    inside dense clusters and disconnects the graph (recall collapses
    on clustered corpora regardless of ef); the heuristic keeps one
    edge per 'direction' instead.

    Vectorized: ONE gemm computes the full candidate-pairwise distance
    matrix, then the greedy scan reads precomputed rows — no per-kept
    kernel dispatch (this loop dominated build time when it issued
    O(|cand| * |kept|) numpy calls)."""
    cand = sorted(cand)
    if not cand:
        return []
    ids = np.asarray([c for _, c in cand], dtype=np.int64)
    ds = np.asarray([d for d, _ in cand], dtype=np.float64)
    g = np.ascontiguousarray(vecs[ids])
    if kernel == "l2":
        sq = np.einsum("ij,ij->i", g, g)
        pd = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (g @ g.T), 0.0)
    elif kernel == "dot":
        pd = -(g @ g.T)
    else:
        raise ValueError(kernel)
    kept: list[int] = []
    for ci in range(len(ids)):
        if len(kept) == cap:
            break
        if not kept or bool((pd[ci, kept] > ds[ci]).all()):
            kept.append(ci)
    return [int(ids[ci]) for ci in kept]


def _build_graph(vecs: np.ndarray, kernel: str, m: int, ef_construction: int,
                 stats: dict | None = None):
    """Sequential HNSW insertion over one segment.  Returns
    neighbors[node] = list of int32 arrays, one per level.

    ``stats`` (optional, diagnostics only — r11 verdict #1 straggler
    hunt): a dict that accumulates per-phase counters — dist_calls /
    dist_rows (gather+gemv batches and total rows scored), prune_calls /
    prune_rows (diversity prunes and candidate rows), rev_overflow
    (level-0 reverse-edge slack overflows), trim_prunes (final pass),
    and ins_wall_q (wall per 10% insertion chunk).  Passing None (the
    production path) keeps the loop counter-free.

    Vectorized inner loop (reference builds with rayon-parallel compiled
    insertion, crates/hnsw/src/lib.rs:116-196; here the win comes from
    batching instead): squared norms are precomputed once so every
    distance batch is a single gather+gemv; the best-first frontier
    expands up to B nodes per iteration so neighbor distances are
    evaluated in one numpy call instead of per-node; visited sets are an
    int64 stamp array (no per-insertion set allocation); diversity
    pruning evaluates one pairwise gemm per call (see _prune_diverse).
    Deterministic: no RNG, fixed tie-breaks via (distance, id) heap
    tuples."""
    n = len(vecs)
    levels = [_level_of(i, m) for i in range(n)]
    caps = lambda lvl: (2 * m) if lvl == 0 else m  # noqa: E731
    neighbors: list[list[np.ndarray]] = [
        [np.empty(0, dtype=np.int32) for _ in range(levels[i] + 1)] for i in range(n)
    ]
    if n == 0:
        return neighbors, levels

    # float32 compute throughout the build: the inputs ARE float32, and
    # the prune/frontier gemms are memory-bandwidth-bound — f32 doubles
    # SIMD width and halves traffic (measured 6x build rate at 8k rows,
    # efc=300, with 99.8% identical level-0 adjacency and recall gates
    # unchanged).  Determinism holds: f32 arithmetic is deterministic
    # and tie-breaks stay (distance, id).
    V = np.ascontiguousarray(np.asarray(vecs, dtype=np.float32))
    if kernel == "l2":
        sqn = np.einsum("ij,ij->i", V, V)
    elif kernel != "dot":
        raise ValueError(kernel)

    def dists(idx: np.ndarray, q: np.ndarray, qsq: float) -> np.ndarray:
        g = V[idx]
        if kernel == "l2":
            return np.maximum(sqn[idx] - 2.0 * (g @ q) + qsq, 0.0)
        return -(g @ q)

    if stats is not None:
        _dists_raw = dists

        def dists(idx, q, qsq):  # noqa: F811 - instrumented twin
            stats["dist_calls"] = stats.get("dist_calls", 0) + 1
            stats["dist_rows"] = stats.get("dist_rows", 0) + len(idx)
            return _dists_raw(idx, q, qsq)

    def _prune_arrays(ids: np.ndarray, ds: np.ndarray, cap: int) -> list[int]:
        # Same heuristic as _prune_diverse, reusing the precomputed norms.
        # Mask formulation: keeping s eliminates every not-yet-kept c with
        # dist(c, s) <= dist(c, anchor); the next survivor in ascending
        # order is exactly the next keep of the sequential scan, so this
        # runs `cap` vector ops instead of |cand| fancy-indexed checks.
        # The next-survivor search is a monotone pointer (total O(m) per
        # prune), not a flatnonzero scan per keep.
        g = V[ids]
        if kernel == "l2":
            sq = sqn[ids]
            pd = np.maximum(sq[:, None] + sq[None, :] - 2.0 * (g @ g.T), 0.0)
        else:
            pd = -(g @ g.T)
        m = len(ids)
        alive = np.ones(m, dtype=bool)
        kept: list[int] = []
        ptr = 0
        while len(kept) < cap:
            while ptr < m and not alive[ptr]:
                ptr += 1
            if ptr >= m:
                break
            ci = ptr
            kept.append(ci)
            alive[ci] = False
            alive &= pd[:, ci] > ds
        return [int(ids[ci]) for ci in kept]

    # NOTE r11: the r10 two-tier "prune the head first" shortcut was
    # re-measured and REMOVED — at efc=200/m=12 the head (6*cap = 144 of
    # ~200 candidates) failed to fill its cap 58% of the time, so the
    # expected gemm cost was 1.10x the plain full prune (fallback pays
    # head + full).  Single-tier prune + the wider reverse-edge slack
    # below measured 28 s vs the r10 code's 53 s on the same 20k build.
    prune_arrays_sorted = _prune_arrays
    if stats is not None:
        def prune_arrays_sorted(ids, ds, cap):  # noqa: F811
            stats["prune_calls"] = stats.get("prune_calls", 0) + 1
            stats["prune_rows"] = stats.get("prune_rows", 0) + len(ids)
            return _prune_arrays(ids, ds, cap)

    def prune(cand_sorted: list[tuple[float, int]], cap: int) -> list[int]:
        ids = np.asarray([c for _, c in cand_sorted], dtype=np.int64)
        ds = np.asarray([d for d, _ in cand_sorted], dtype=np.float32)
        return prune_arrays_sorted(ids, ds, cap)

    stamp = np.zeros(n, dtype=np.int64)
    tok = 0
    # Frontier nodes expanded per distance batch.  Larger B = fewer,
    # bigger numpy calls and fewer Python loop iterations at the cost of
    # some extra expansions past the stopping bound; 32 measured best
    # (20k rows, efc=300: B=8 250 rows/s, B=16 277, B=32 292).
    B = 32
    cap0 = 2 * m
    # Level 0 holds every node and absorbs ~all edge traffic: keep it as
    # one flat int32 matrix (-1 = empty) so a frontier batch's neighbors
    # gather in a single fancy index, no per-node list hops.  The row
    # width is 3x the final cap: reverse edges accumulate into the slack
    # and the diversity prune runs once per ~2*cap0 additions instead of
    # on every overflow (immediate pruning made saturated-graph
    # insertion prune-bound — ~24 prunes per insertion at steady state).
    # A final pass trims every row to cap0 with the same heuristic.
    # Slack sweep at 20k rows/efc=200/m=12: 2x 379 rows/s, 3x 633, 4x
    # 551 (gathers over the wider matrix start to dominate) — 3x wins.
    # Upper levels (1/m of nodes each) stay in the list-of-arrays form.
    buf0 = 3 * cap0
    adj0 = np.full((n, buf0), -1, dtype=np.int32)
    deg0 = np.zeros(n, dtype=np.int32)

    entry = 0
    if stats is not None:
        import time as _time

        _t_start = _time.perf_counter()
        _chunk = max(1, n // 10)
        stats["ins_wall_q"] = []
    for i in range(1, n):
        if stats is not None and i % _chunk == 0:
            stats["ins_wall_q"].append(round(_time.perf_counter() - _t_start, 2))
        q = V[i]
        qsq = float(q @ q) if kernel == "l2" else 0.0
        lvl = levels[i]
        ep = entry
        ep_d = float(dists(np.asarray([ep]), q, qsq)[0])
        # greedy descent through levels above lvl
        for l in range(levels[entry], lvl, -1):
            while True:
                nbrs = neighbors[ep][l] if l < len(neighbors[ep]) else None
                if nbrs is None or not len(nbrs):
                    break
                ds = dists(nbrs, q, qsq)
                j = int(np.argmin(ds))
                if ds[j] < ep_d:
                    ep, ep_d = int(nbrs[j]), float(ds[j])
                else:
                    break
        # ef-search + connect at each level from min(lvl, top) down to 0
        for l in range(min(lvl, levels[entry]), -1, -1):
            tok += 1
            stamp[ep] = tok
            cand = [(ep_d, ep)]  # min-heap
            result = [(-ep_d, ep)]  # max-heap of size ef
            done = False
            while cand and not done:
                batch: list[int] = []
                while cand and len(batch) < B:
                    d, u = heapq.heappop(cand)
                    if len(result) >= ef_construction and d > -result[0][0]:
                        # min-heap: everything left is at least this far
                        done = True
                        break
                    batch.append(u)
                if not batch:
                    break
                if l == 0:
                    rows = adj0[np.asarray(batch, dtype=np.int64)]
                    allnb = rows.reshape(-1)
                    allnb = allnb[allnb >= 0]
                else:
                    parts = [
                        neighbors[u][l]
                        for u in batch
                        if l < len(neighbors[u]) and len(neighbors[u][l])
                    ]
                    if not parts:
                        continue
                    allnb = np.concatenate(parts) if len(parts) > 1 else parts[0]
                if not len(allnb):
                    continue
                fresh = allnb[stamp[allnb] != tok]
                if not len(fresh):
                    continue
                # dedup within the batch, then mark EVERY evaluated node
                # visited — a rejected node stays rejected forever (its
                # distance is fixed and the worst bound only shrinks), so
                # re-gathering it later would be pure waste
                fresh = np.unique(fresh)
                stamp[fresh] = tok
                ds = dists(fresh, q, qsq)
                nres = len(result)
                if nres >= ef_construction:
                    # heap full: anything >= the current worst can never
                    # enter — drop it pre-loop
                    keep = ds < -result[0][0]
                    fresh, ds = fresh[keep], ds[keep]
                if not len(fresh):
                    continue
                # ascending push order: once one candidate fails the
                # worst test, every later one fails too (worst only
                # shrinks) — break instead of checking each
                o = np.argsort(ds, kind="stable")
                fresh, ds = fresh[o], ds[o]
                worst = -result[0][0]
                for v, dv in zip(fresh.tolist(), ds.tolist()):
                    if nres >= ef_construction and dv >= worst:
                        break
                    heapq.heappush(cand, (dv, v))
                    if nres >= ef_construction:
                        heapq.heappushpop(result, (-dv, v))
                    else:
                        heapq.heappush(result, (-dv, v))
                        nres += 1
                    worst = -result[0][0]
            rd = np.asarray([-d for d, _ in result])
            rv = np.asarray([v for _, v in result], dtype=np.int64)
            o = np.lexsort((rv, rd))  # (distance, id) ascending
            # diversity-pruned neighbor selection (prune.rs), not
            # nearest-only: keeps cross-cluster edges so the graph stays
            # connected on clustered data
            chosen = prune_arrays_sorted(rv[o], rd[o], caps(l))
            if l == 0:
                adj0[i, : len(chosen)] = chosen
                deg0[i] = len(chosen)
            else:
                neighbors[i][l] = np.asarray(chosen, dtype=np.int32)
            # bidirectional edges; overflow re-pruned with the same
            # heuristic (reference patches reverse edges via prune too)
            for v in chosen:
                vsq = float(sqn[v]) if kernel == "l2" else 0.0
                if l == 0:
                    dv = int(deg0[v])
                    if dv < buf0:
                        adj0[v, dv] = i
                        deg0[v] = dv + 1
                    else:
                        if stats is not None:
                            stats["rev_overflow"] = stats.get("rev_overflow", 0) + 1
                        merged = np.append(adj0[v], np.int32(i)).astype(np.int64)
                        ds = dists(merged, V[v], vsq)
                        o = np.lexsort((merged, ds))
                        kept = prune_arrays_sorted(merged[o], ds[o], cap0)
                        adj0[v, :] = -1
                        adj0[v, : len(kept)] = kept
                        deg0[v] = len(kept)
                else:
                    cur = neighbors[v][l]
                    merged = np.append(cur, np.int32(i))
                    if len(merged) > caps(l):
                        m64 = merged.astype(np.int64)
                        ds = dists(m64, V[v], vsq)
                        o = np.lexsort((m64, ds))
                        kept = prune_arrays_sorted(m64[o], ds[o], caps(l))
                        merged = np.asarray(kept, dtype=np.int32)
                    neighbors[v][l] = merged
            ep = chosen[0] if chosen else ep
            ep_d = float(dists(np.asarray([ep]), q, qsq)[0])
        if lvl > levels[entry]:
            entry = i
    # final trim: rows that accumulated slack get one diversity prune
    # down to the reference's level-0 cap (2m)
    for v in range(n):
        dv = int(deg0[v])
        if dv <= cap0:
            neighbors[v][0] = adj0[v, :dv].copy()
        else:
            if stats is not None:
                stats["trim_prunes"] = stats.get("trim_prunes", 0) + 1
            nbrs = adj0[v, :dv].astype(np.int64)
            vsq = float(sqn[v]) if kernel == "l2" else 0.0
            ds = dists(nbrs, V[v], vsq)
            o = np.lexsort((nbrs, ds))
            kept = prune_arrays_sorted(nbrs[o], ds[o], cap0)
            neighbors[v][0] = np.asarray(kept, dtype=np.int32)
    return neighbors, levels


_search_graph = SW._search_graph


class HNSWIndex:
    #: graph-reachability approximate: range_search can miss in-sphere
    #: rows (documented caveat), so the planner only dispatches a bare
    #: sphere predicate here on an explicit approx=True opt-in.
    RANGE_EXACT = False
    #: the files whose summed size ``batch.route`` weighs
    STORAGE_DIR = "graph"

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta
        self._storage_bytes: int | None = None
        #: calls served in the driver vs by Spark (``batch.route``)
        self.serve_stats: dict[str, int] = {}
        #: residual-search ef-widening rounds and stop reasons per handle
        #: ({"rounds", "filled", "full", "exact"}, ``_serve_search``)
        self.widen_stats: dict[str, int] = {}

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        metric: str = "l2",
        m: int = DEFAULT_M,
        ef_construction: int = DEFAULT_EF_CONSTRUCTION,
        segment_rows: int = DEFAULT_SEGMENT_ROWS,
        where=None,  # partial index predicate (partition.slt 'partial index')
        quantization: str | None = None,  # None | "sq8" | "pq" | "rabitq"
        pq_ratio: int = 4,  # dims per subspace (base/src/index.rs:475-496)
        pq_bits: int = 8,
        seed: int = 42,
        storage: str = "f32",  # "f32" | "f16" (vecf16: 2 bytes/dim on disk)
    ) -> "HNSWIndex":
        """Quantization composes codes into the graph: the
        executor-resident copy holds compact codes (sq8 = 1 byte/dim,
        pq = 1 code/subspace, rabitq = 1 bit/dim + a norm) and traversal
        decodes on access; exact vectors stay on disk and are fetched
        transiently to rerank each segment's candidates — the graph
        reranker (crates/quantization/src/reranker/graph_2.rs) trade of
        memory for a bounded per-query storage read.  Graphs are built
        on exact vectors (quality >= the reference's build-on-codes)."""
        if quantization not in (None, "sq8", "pq", "rabitq"):
            raise ValueError(f"unsupported hnsw quantization {quantization!r}")
        if storage not in ("f32", "f16"):
            raise ValueError(f"unknown storage {storage!r} (f32 | f16)")
        if storage == "f16" and quantization is not None:
            raise ValueError("f16 storage does not compose with quantization")
        kernel, do_norm = base.resolve_metric(metric)
        prepared = base.prepare_rows(df, id_col, vector_col, do_norm, storage, where)
        n = prepared.count()
        n_segments = max(1, -(-n // segment_rows))
        meta = {
            "kind": "hnsw",
            "metric": metric.lower(),
            "kernel": kernel,
            "normalize": do_norm,
            "m": m,
            "ef_construction": ef_construction,
            "n_rows": int(n),
            "n_segments": int(n_segments),
            "segment_rows": int(segment_rows),
            "quantization": quantization,
            "storage": storage,
            "pq_ratio": int(pq_ratio),
            "pq_bits": int(pq_bits),
            "seed": int(seed),
            "dims": 0,
        }
        idx = cls(spark, path, meta)
        _write_segments(meta, idx._with_seg(prepared), n_segments, os.path.join(path, "graph"))
        # dims was historically recorded only for quantized graphs
        # (rabitq qparams); _dims_ef_factor needs it for EVERY graph —
        # an unquantized 1024-dim index with dims=0 silently kept the
        # <=256-dim default ef (caught by the r13 calibration run:
        # "default" cell read the ef=100 recall)
        if n:
            meta["dims"] = len(prepared.select("vec").first()[0])
        base.write_meta(path, meta)
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "HNSWIndex":
        return cls(spark, path, base.read_meta(path))

    def _quant(self) -> tuple:
        """(quant kind, loader params) — what _load_segment needs."""
        if self.meta.get("storage") == "f16":
            return "f16", ()
        quant = self.meta.get("quantization")
        if quant == "pq":
            return quant, (
                self.meta.get("pq_ratio", 4),
                self.meta.get("pq_bits", 8),
                self.meta.get("seed", 42),
            )
        if quant == "rabitq":
            return quant, (self.meta.get("dims", 0), self.meta.get("seed", 42))
        return quant, ()

    def _resolve_ef(self, ef_search: int | None) -> int:
        """Default ef_search, widened for coded graphs (QUANT_EF_FACTOR):
        an explicit ef_search — per call, or persisted with
        ``alter(default_ef_search)`` (maintenance.py) — is honored
        as-is, no factor."""
        if ef_search is not None:
            return int(ef_search)
        altered = self.meta.get("default_ef_search")
        if altered is not None:
            return int(altered)
        # the two effects compound: a coded frontier ranks by
        # approximate distances AND a high-dim frontier needs more
        # candidates for navigability — so the factors multiply
        return (
            DEFAULT_EF_SEARCH
            * QUANT_EF_FACTOR.get(self.meta.get("quantization"), 1)
            * _dims_ef_factor(int(self.meta.get("dims", 0)))
        )

    def _with_seg(self, rows: DataFrame) -> DataFrame:
        """``rows`` plus each id's segment, pmod(xxhash64(id),
        n_segments): balanced and deterministic, where
        monotonically_increasing_id() % n would stripe by partition
        offset and leave segments unevenly filled on skewed layouts.
        The id is hashed as bigint — xxhash64(int) != xxhash64(bigint)
        for the same value, and ids are stored as bigint, so an int id
        column would otherwise land updates in the wrong segment."""
        seg = F.pmod(F.xxhash64(F.col("id").cast("long")), F.lit(self.meta["n_segments"]))
        return rows.withColumn("seg", seg.cast("int"))

    # ------------------------------------------------------------------
    def apply_updates(
        self,
        delete_ids: DataFrame | None = None,
        insert_rows: DataFrame | None = None,
        id_col: str = "id",
        vector_col: str = "vec",
    ) -> list[int]:
        """Incremental maintenance: rebuild ONLY the segments whose
        membership changed (the Spark analogue of the reference's HNSW
        delete-patching, crates/hnsw/src/lib.rs:359-390 — it repairs
        neighborhoods around deleted nodes instead of rebuilding the
        world).  Segment membership is pmod(xxhash64(id), n_segments),
        so deletes and inserts pin exactly which segment graphs must be
        re-derived; untouched segments keep their files byte-for-byte.
        Rebuilding a segment from its live rows yields the same graph a
        full rebuild would (the build is deterministic on the sorted
        member set).  Returns the rebuilt segment ids.

        The touched segments come from one aggregate over the hashed
        deletes and inserts.  The segments' surviving rows plus the new
        rows are checkpointed once and written, and one aggregate over
        that checkpoint gives each rebuilt segment's row count: a missing
        segment ended up empty, and ``n_rows`` is those counts plus the
        untouched segments' Parquet footers, with no count over the
        graph.
        """
        import pyarrow.parquet as pq

        storage = self.meta.get("storage", "f32")
        moved = []
        if delete_ids is not None:
            dels = delete_ids.select(F.col(id_col).cast("long").alias("id"))
            moved.append(self._with_seg(dels).select("seg"))
        add = None
        if insert_rows is not None:
            add = self._with_seg(base.prepare_rows(
                insert_rows, F.col(id_col).cast("long"), vector_col,
                self.meta["normalize"], storage,
            ))
            moved.append(add.select("seg"))
        if not moved:
            return []
        moved = moved[0] if len(moved) == 1 else moved[0].unionByName(moved[1])
        segs = sorted(r["seg"] for r in moved.distinct().collect())
        if not segs:
            return []

        graph_dir = os.path.join(self.path, "graph")
        first = next(glob.iglob(os.path.join(graph_dir, "seg=*", "*.parquet")), None)
        reader = self.spark.read
        if first is not None:
            # the stored schema spares Spark's footer-inference job
            reader = reader.schema(base.stored_schema(first).add("seg", "integer"))
        old = reader.parquet(graph_dir).where(F.col("seg").isin(segs))
        live = base.stored_vectors(old, storage).select("seg", "id", "vec")
        if delete_ids is not None:
            live = live.join(F.broadcast(dels), "id", "left_anti")
        if add is not None:
            # replace-on-id: a re-inserted id supersedes the stored row
            live = live.join(F.broadcast(add.select("id")), "id", "left_anti").unionByName(
                add.select("seg", "id", "vec")
            )
        # checkpoint severs lineage from the graph files we are about to
        # overwrite (Spark refuses to overwrite a path it is reading)
        live = live.localCheckpoint(eager=True)
        # dynamic overwrite: only the affected seg=N directories are
        # replaced; the cache fingerprint (mtime/size) invalidates them
        # on next read while untouched segments stay resident
        _write_segments(self.meta, live, len(segs), graph_dir, dynamic=True)
        # a segment can become empty: remove its stale directory so the
        # loader's fingerprint sees it as empty (counted from the
        # checkpointed live rows — re-deriving it from the written
        # segments would re-run the graph builds)
        import shutil

        counts = {r["seg"]: r["count"] for r in live.groupBy("seg").count().collect()}
        for s in segs:
            if s not in counts:
                shutil.rmtree(os.path.join(graph_dir, f"seg={s}"), ignore_errors=True)
        untouched = sum(
            pq.ParquetFile(f).metadata.num_rows
            for s in range(self.meta["n_segments"]) if s not in segs
            for f in glob.glob(os.path.join(graph_dir, f"seg={s}", "*.parquet"))
        )
        self._storage_bytes = None
        self.meta["n_rows"] = int(untouched + sum(counts.values()))
        base.write_meta(self.path, self.meta)
        return segs

    # ------------------------------------------------------------------
    def _segment_dirs(self) -> list[str]:
        graph_dir = os.path.join(self.path, "graph")
        return [
            os.path.join(graph_dir, f"seg={s}") for s in range(self.meta["n_segments"])
        ]

    def _driver_scans(self, op: str) -> float:
        """The index scans ``op`` ("search" or "range_search") weighs in
        ``batch.route``: one for top-k, ``_RANGE_SCANS`` for a sphere."""
        return float(_RANGE_SCANS if op == "range_search" else 1)

    def _allowed(self, filter, driver: bool = True):
        """The ids passing ``filter`` over the stored (id, seg) columns
        (``batch.allowed``), None without a filter."""
        if filter is None:
            return None
        graph_dir = os.path.join(self.path, "graph")
        files = sorted(glob.glob(os.path.join(graph_dir, "seg=*", "*.parquet")))
        schema = base.ddl_schema("id bigint, seg int")
        return BT.allowed(self, filter, files, schema, graph_dir, driver=driver)[:, 0]

    def _serve_search(self, query, k: int, deny=None, filter=None,
                      ef_search: int | None = None, max_widen: int = 3, exact: bool = False,
                      driver: bool = True):
        """``search``'s body, with its keywords and ``deny`` ids: each
        round runs ``hnsw_segment_block_runner`` over the segments as a
        batch of one (``batch.serve``, in the driver or as Spark tasks)
        with the id masks; a residual call short of k rows widens ef 4x
        up to ``max_widen`` times, then ranks every vector exactly
        (``topk_runner``), which ``exact`` does at once.  ``widen_stats``
        counts a residual call's rounds and why it stopped: ``filled``
        (k rows), ``full`` (ef reached the row count) or ``exact`` (the
        exact fallback).  Returns (ids, distances)."""
        kernel = self.meta["kernel"]
        quant, qparams = self._quant()
        seg_dirs = self._segment_dirs()
        allow = self._allowed(filter, driver)
        if not exact:
            residual = allow is not None or deny is not None
            n_rows = self.meta["n_rows"]
            ef = max(self._resolve_ef(ef_search), k)
            for _ in range(max_widen + 1):
                run = SW.hnsw_segment_block_runner(quant, qparams, kernel, ef, allow, deny)
                ids, dist = BT.serve(self, query, seg_dirs, run, k, driver=driver)
                if not residual:
                    return ids, dist
                BT.tally(self.widen_stats, "rounds")
                stop = "filled" if len(ids) >= min(k, n_rows) else "full" if ef >= n_rows else None
                if stop:
                    BT.tally(self.widen_stats, stop)
                    return ids, dist
                ef *= 4
            BT.tally(self.widen_stats, "exact")
        run = SW.topk_runner(quant, qparams, kernel, k, allow, deny)
        return BT.serve(self, query, seg_dirs, run, k, driver=driver)

    def _serve_range(self, query, radius: float, deny=None, filter=None,
                     ef_search: int | None = None, driver: bool = True):
        """``range_search``'s body: ``range_runner`` over the segments
        with the id masks, (ids, distances), or the Spark frame over the
        budget."""
        metric = self.meta["metric"]
        kradius = float(radius) - 1.0 if metric == "cos" else float(radius)
        quant, qparams = self._quant()
        run = SW.range_runner(
            quant, qparams, self.meta["kernel"], kradius, self._resolve_ef(ef_search),
            self._allowed(filter, driver), deny,
        )
        return BT.serve(self, query, self._segment_dirs(), run, driver=driver)

    def search(
        self,
        query: Sequence[float],
        k: int = 10,
        ef_search: int | None = None,
        filter=None,
        max_widen: int = 3,
        exact: bool = False,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k: per-segment resident-graph search (ef_search candidates
        each), global merge.  With a residual ``filter`` or an
        ``exclude`` id-set (tombstones), mirrors VBASE's unbounded
        stream by iterative ef-widening: if fewer than k survivors,
        re-search with ef*4 up to ``max_widen`` times, then fall back to
        an exact scan of the segment vectors (guaranteed k survivors
        when they exist).  ``exact=True`` skips the graph and
        brute-scans the vectors — the full-rerank mode used for oracle
        checks of the storage/merge path.

        The block runners answer every call (``_serve_search``): in the
        driver on an index under ``batch.DRIVER_SERVE_BYTES``, else as
        one Spark job per round, with ``filter`` and ``exclude`` as id
        masks.  The result is eager and driver-held."""
        driver = BT.route(self)
        return BT.frame(self, self._serve_search(
            query, k, BT.denied(exclude), filter, ef_search, max_widen, exact, driver
        ))

    def range_search(
        self,
        query: Sequence[float],
        radius: float,
        ef_search: int | None = None,
        filter=None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """All rows with distance < ``radius`` (SQL-level units) via the
        graph's ordered candidate stream — the VBASE sphere-scan
        semantics on HNSW (am_scan.rs range strategy): consume the
        stream until it crosses the radius.  Per segment the widening
        happens INSIDE the task: search with ef, and while the ef-th
        (worst) candidate still lies inside the sphere the stream may
        not have drained it, so quadruple ef until the frontier crosses
        the radius or ef reaches the segment size (at which point the
        segment scan is exhaustive).  No driver round-trips between
        rounds.  With a quantized graph the widening-stop rule runs on
        the CODED frontier (the stream's actual order) AND the exactly
        rescored max — both must cross the radius — while the output
        mask uses the exact distances (graph reranker), same as top-k
        search.

        Like the reference's HNSW range scan this is
        reachability-complete, not provably complete: a vector the
        greedy stream never surfaces is missed (recall-gated in tests;
        exact at ef = segment size, which the widening reaches for any
        radius whose sphere contains ≥ ef candidates).

        A call on an index under a tenth of ``batch.DRIVER_SERVE_BYTES``
        (``_RANGE_SCANS``) runs the per-segment scan in the driver and
        returns an eager, driver-held result; over it, Spark tasks run
        the same scan behind a Spark plan.  ``filter`` and ``exclude``
        are id masks."""
        driver = BT.route(self, scans=self._driver_scans("range_search"))
        return BT.frame(self, self._serve_range(
            query, radius, BT.denied(exclude), filter, ef_search, driver
        ))

    def search_batch(
        self,
        queries: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        k: int = 10,
        ef_search: int | None = None,
    ) -> DataFrame:
        """Batched search: each query block answers every query per
        segment pass (amortizes task dispatch and keeps the graph
        resident), then a per-query window merges the segments' local
        top-ef (indexes/batch.py — the same block path at every query
        count).  Returns (query_id, id, distance) with k rows per
        query; eager and driver-held when ``batch.route`` serves it in
        the driver."""
        rows = BT.collect_queries_or_none(queries, query_id_col, query_vec_col)
        quant, qparams = self._quant()
        run = SW.hnsw_segment_block_runner(
            quant, qparams, self.meta["kernel"], max(self._resolve_ef(ef_search), k)
        )
        return BT.search_blocks(
            self, queries, query_id_col, query_vec_col, rows,
            self._segment_dirs(), run, k,
        )

    def stat(self) -> dict:
        return {
            "idx_status": "NORMAL",
            "idx_indexing": False,
            "idx_tuples": self.meta["n_rows"],
            "idx_sealed": [self.meta["n_rows"]],
            "idx_growing": [],
            "idx_options": {
                k: self.meta[k] for k in ("kind", "metric", "m", "ef_construction", "n_segments")
            },
        }
