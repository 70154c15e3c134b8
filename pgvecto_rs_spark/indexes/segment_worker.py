"""Executor-side HNSW segment workers — IMPORT-LIGHT by design.

This module is what a Spark python worker imports when it unpickles an
HNSW search task closure.  It depends on numpy + stdlib only (pyarrow
is imported lazily inside the segment loader), so a cold worker pays
~10 ms of import instead of the ~700 ms pandas/pyspark chain that
`pgvecto_rs_spark.indexes.hnsw` pulls in.  That chain cost is exactly
what regressed per-query HNSW latency in long benchmark sessions:
Spark's python-worker pool is reused FIFO, so a 4-task search job keeps
landing on workers that have never run HNSW code, and every such task
re-paid the heavy import.  Keeping the task dependency graph to
{segment_worker, numpy} makes any pooled worker warm enough.

Semantics are unchanged from the pre-split `indexes/hnsw.py` (reference
parity notes live there): per-segment executor-resident graphs, the
mmap-open-on-demand model of crates/index/src/segment (LRU cache keyed
on file fingerprints), greedy descent + best-first layer-0 search
(hnsw/src/lib.rs), and the graph reranker's transient exact fetch
(crates/quantization/src/reranker/graph_2.rs).
"""

from __future__ import annotations

import glob
import heapq
import os
import threading
from collections import OrderedDict

import numpy as np


class _FileLRU:
    """Process-wide LRU of decoded storage, keyed by path and valid
    while the stored key (file fingerprint plus decode options) matches:
    a rewritten unit reloads.  Bounded by entries and by decoded bytes
    (``_nbytes``); the newest entry stays even when it alone is over
    ``maxbytes``.  Executors and the driver (in-process serving,
    ``indexes/batch.py``) share this code, and the driver serves from
    several threads while ``streaming/optimizer.py`` compacts from
    another, so one lock guards each cache.  Loads run outside the
    lock; two threads missing the same unit both load it and the later
    insert wins."""

    def __init__(self, maxsize: int, maxbytes: int):
        self.maxsize = maxsize
        self.maxbytes = maxbytes
        self.nbytes = 0
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, path: str, key, load):
        with self._lock:
            hit = self._data.get(path)
            if hit is not None and hit[0] == key:
                self._data.move_to_end(path)
                return hit[1]
        val = load()
        size = _nbytes(val)
        with self._lock:
            old = self._data.pop(path, None)
            if old is not None:
                self.nbytes -= old[2]
            self._data[path] = (key, val, size)
            self.nbytes += size
            while len(self._data) > 1 and (
                len(self._data) > self.maxsize or self.nbytes > self.maxbytes
            ):
                self.nbytes -= self._data.popitem(last=False)[1][2]
        return val


def _nbytes(v) -> int:
    """Resident bytes of a cached value, estimated from its numpy
    arrays (found through tuples, lists and the coded-vector and
    neighbour-list wrappers) plus 8 per list or tuple slot."""
    if isinstance(v, np.ndarray):
        return v.nbytes
    if isinstance(v, (tuple, list)):
        return 8 * len(v) + sum(_nbytes(x) for x in v)
    attrs = getattr(v, "__slots__", None)
    if attrs is not None:
        return sum(_nbytes(getattr(v, a)) for a in attrs)
    return sum(_nbytes(x) for x in getattr(v, "__dict__", {}).values())


#: decoded bytes each cache may hold per process: four times the
#: driver serving budget (``batch.DRIVER_SERVE_BYTES``), so the driver
#: keeps one served index's f64-decoded units warm and its resident
#: total stays bounded however many indexes it serves
_CACHE_BYTES = 256 << 20

_SEG_CACHE = _FileLRU(64, _CACHE_BYTES)

# quant kinds whose graph distances are approximate and need the exact
# rerank fetch; "f16" stores on the binary16 grid but its decoded
# distances ARE the type's exact distances — no rerank
_RERANK_QUANTS = ("sq8", "pq", "rabitq")


def np_kernel_distance(kernel: str, mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Batch kernel distance (l2 = squared L2; dot = negative dot).
    Both are per-row einsums: a BLAS gemv's result for a row depends on
    its position in the matrix, so a file, a list and an Arrow batch
    holding the same row would score it differently."""
    if kernel == "l2":
        d = mat - q[None, :]
        return np.einsum("ij,ij->i", d, d)
    if kernel == "dot":
        return -np.einsum("ij,j->i", mat, q)
    raise ValueError(kernel)


def _segment_fingerprint(source: str):
    """(path, mtime, size) of a storage unit's Parquet files: a segment
    or list directory's, or one rows file's own."""
    if os.path.isfile(source):
        files = [source]
    else:
        files = sorted(glob.glob(os.path.join(source, "*.parquet")))
    return tuple((f, os.path.getmtime(f), os.path.getsize(f)) for f in files)


class _CodedVecs:
    """SQ8-coded vectors with decode-on-access: the resident footprint is
    1 byte/dim (uint8 codes) instead of 8 (float64); traversal decodes
    only the rows it touches.  Drop-in for the ndarray the search code
    indexes (``v[i:j]``, ``v[int_array]``, ``len``)."""

    def __init__(self, codes: np.ndarray, lo: np.ndarray, width: np.ndarray):
        self.codes = codes  # (n, d) uint8
        self.lo = lo
        self.scale = width / 255.0

    def __len__(self) -> int:
        return len(self.codes)

    def __getitem__(self, key) -> np.ndarray:
        return self.lo + self.codes[key].astype(np.float64) * self.scale

    # NOTE: no adc() here on purpose — a (d, 256) per-dim gather table
    # measured 0.8x the vectorized decode+einsum path (cache-hostile
    # row-wise gathers); SQ decode is already one fused multiply-add.
    # PQ's adc() wins 5.3x because its table is (n_sub, 256) with
    # sub-vector granularity (see _PQCodedVecs.adc).


class _PQCodedVecs:
    """PQ-coded vectors with decode-on-access (the hnsw x pq cell of the
    reference's algorithm x quantizer matrix,
    crates/quantization/src/reranker/graph_2.rs): resident footprint is
    n_subspaces small ints per row; traversal reconstructs touched rows
    from the per-segment codebooks."""

    def __init__(self, codes: np.ndarray, books: np.ndarray):
        self.codes = codes  # (n, n_sub) int
        self.books = books  # (n_sub, 2^bits, sub) float64

    def __len__(self) -> int:
        return len(self.codes)

    def __getitem__(self, key) -> np.ndarray:
        c = self.codes[key]
        single = c.ndim == 1
        if single:
            c = c[None, :]
        n_sub, _, sub = self.books.shape
        out = np.empty((len(c), n_sub * sub), dtype=np.float64)
        for s in range(n_sub):
            out[:, s * sub : (s + 1) * sub] = self.books[s][c[:, s]]
        return out[0] if single else out

    def adc(self, q: np.ndarray, kernel: str):
        """Per-query ADC scorer (r10): classic PQ asymmetric distance —
        T[s, c] = kernel contribution of subspace s at code c, scored
        as n_sub gathers instead of decode + dense distance (sub x
        fewer flops per touched row)."""
        n_sub, ksz, sub = self.books.shape
        tbl = np.empty((n_sub, ksz))
        for s in range(n_sub):
            blk = q[s * sub : (s + 1) * sub]
            if kernel == "l2":
                dd = self.books[s] - blk[None, :]
                tbl[s] = np.einsum("ij,ij->i", dd, dd)
            else:
                tbl[s] = -(self.books[s] @ blk)
        cols = np.arange(n_sub)[None, :]

        def score(idx: np.ndarray) -> np.ndarray:
            return tbl[cols, self.codes[idx]].sum(axis=1)

        return score


class _RaBitQVecs:
    """RaBitQ-coded vectors with decode-on-access (hnsw x rabitq cell):
    1 bit/dim + a norm per row; x_hat = norm * P^T sgn / sqrt(d) (the
    estimator of crates/quantization/src/rabitq.rs:24-143)."""

    def __init__(self, norms: np.ndarray, words: np.ndarray, proj: np.ndarray):
        self.norms = norms  # (n,) float64
        self.words = words  # (n, n_words) uint32
        self.proj = proj  # (d, d) orthogonal
        self.dims = proj.shape[0]

    def __len__(self) -> int:
        return len(self.norms)

    def __getitem__(self, key) -> np.ndarray:
        w = self.words[key]
        nm = self.norms[key]
        single = w.ndim == 1
        if single:
            w = w[None, :]
            nm = np.atleast_1d(nm)
        n_words = w.shape[1]
        bits = ((w[:, :, None] >> np.arange(32, dtype=np.uint32)[None, None, :]) & 1)
        bits = bits.reshape(len(w), n_words * 32)[:, : self.dims].astype(np.float64)
        sgn = 2.0 * bits - 1.0
        dec = (nm[:, None] / np.sqrt(self.dims)) * (sgn @ self.proj)
        return dec[0] if single else dec


def _read_exact_vecs(source, keys: np.ndarray, key: str = "idx") -> np.ndarray:
    """Transiently fetch exact vectors, in ``keys`` order, from Parquet
    storage (``key`` + vec columns only) — the reranker's storage
    access (reranker/graph_2.rs): exact values are read per request,
    never held resident.  ``source`` is a segment directory or a list
    of files; ``key`` is the HNSW node index ``idx`` or the row ``id``
    (a replicated IVF row may repeat across lists — any copy serves,
    the vectors are identical).  Small requests push a ``key IN``
    predicate into the parquet read (row-group stats pruning); a large
    one keeps the plain column read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = np.asarray(keys, dtype=np.int64)
    filters = None
    if 0 < len(keys) <= 2048:
        filters = [(key, "in", sorted({int(i) for i in keys}))]
    tbl = pq.read_table(source, columns=[key, "vec"], filters=filters)
    got = tbl.column(key).to_numpy()
    order = np.argsort(got, kind="stable")
    pos = order[np.searchsorted(got, keys, sorter=order)]
    return _read_vec_matrix_from(tbl.column("vec").take(pa.array(pos)), np.float64)


def _load_segment(seg_dir: str, quant: str | None = None, qparams: tuple = ()):
    """Load (ids, vecs, neighbors, levels, entry) for one segment, via the
    process-global cache keyed by file path + mtime + size (stale entries
    reload after a rebuild).

    Storage access assumes a filesystem path readable from every
    executor — trivially true on local[*]; on a real cluster this is a
    shared FS (NFS/HDFS-fuse) or an object store mounted/fronted by a
    pyarrow filesystem (pq.read_table accepts fsspec URIs, and the
    mtime/size fingerprint generalizes to etag/length).  The layout —
    one self-contained directory per segment, opened lazily and cached
    worker-resident — is exactly the reference's mmap-open-on-demand
    model and is the part that matters at 100 TB.  With a quantization
    kind, ``vecs`` is a decode-on-access view (:class:`_CodedVecs` for
    sq8, :class:`_PQCodedVecs`, :class:`_RaBitQVecs`) and the exact
    vector column stays on disk (fetched transiently at rerank).
    ``qparams`` = (pq_ratio, pq_bits, seed) for pq / (dims, seed) for
    rabitq."""
    fp = _segment_fingerprint(seg_dir)
    if not fp:  # hash-assigned segment with no rows: no directory written
        return (np.empty(0, np.int64), np.empty((0, 0)), [], [], 0)
    return _SEG_CACHE.get(
        seg_dir, (fp, quant, qparams), lambda: _read_segment(seg_dir, quant, qparams)
    )


def _read_segment(seg_dir: str, quant, qparams: tuple):
    import pyarrow.parquet as pq

    cols = ["idx", "id", "level", "neighbors", "entry"]
    cols += {
        None: ["vec"],
        "f16": ["vec16"],
        "sq8": ["codes", "qlo", "qwidth"],
        "pq": ["codes", "codebook"],
        "rabitq": ["rq_norm", "rq_words"],
    }[quant]
    tbl = pq.read_table(seg_dir, columns=cols)
    order = np.argsort(tbl.column("idx").to_numpy())
    col = {c: tbl.column(c).take(order) for c in tbl.column_names}
    if quant == "sq8":
        codes = np.asarray(col["codes"].to_pylist(), dtype=np.uint8)
        lo = np.asarray(col["qlo"][0].as_py(), dtype=np.float64)
        width = np.asarray(col["qwidth"][0].as_py(), dtype=np.float64)
        vecs = _CodedVecs(codes, lo, width)
    elif quant == "pq":
        _pq_ratio, pq_bits, _seed = qparams
        codes = np.asarray(col["codes"].to_pylist(), dtype=np.int32)
        flat = next(b.as_py() for b in col["codebook"] if b.is_valid)
        n_sub, k = codes.shape[1], 1 << pq_bits
        sub = len(flat) // (n_sub * k)
        books = np.asarray(flat, dtype=np.float64).reshape(n_sub, k, sub)
        vecs = _PQCodedVecs(codes, books)
    elif quant == "rabitq":
        from pgvecto_rs_spark.indexes.quantization import rabitq_projection

        dims, seed = qparams
        norms = col["rq_norm"].to_numpy(zero_copy_only=False).astype(np.float64)
        words = np.asarray(col["rq_words"].to_pylist(), dtype=np.int64).astype(
            np.uint32
        )
        vecs = _RaBitQVecs(norms, words, rabitq_projection(dims, seed))
    elif quant == "f16":
        # decode the stored binary16 words; all grid values are exactly
        # representable in f32 (and f64 — distances compute in f64 via
        # mixed-dtype promotion against the f64 query), so distances on
        # the f32-resident decode ARE the vecf16 type's exact distances
        # (the reference also computes f16 via wider floats)
        vecs = np.asarray(
            [np.frombuffer(b.as_py(), dtype=np.float16) for b in col["vec16"]],
            dtype=np.float32,
        )
    else:
        vecs = _read_vec_matrix_from(col["vec"])
    neighbors = _decode_neighbors(col["neighbors"])
    levels = col["level"].to_pylist()
    entry = int(col["entry"][0].as_py()) if len(levels) else 0
    ids = col["id"].to_numpy().astype(np.int64)
    return (ids, vecs, neighbors, levels, entry)


class _NeighborLists:
    """Zero-copy per-node adjacency view over the Arrow buffers of a
    ``list<list<int>>`` column: ``nl[i]`` is the node's per-level list
    of int32 neighbor-index arrays (numpy views into the flat values
    buffer).  Decoding 20k nodes through ``to_pylist`` built ~a million
    python objects and dominated cold segment loads (~2 s/segment at
    20k rows); slicing offsets is ~50x faster and the resident
    footprint is three flat arrays."""

    __slots__ = ("vals", "inner", "outer")

    def __init__(self, vals: np.ndarray, inner: np.ndarray, outer: np.ndarray):
        self.vals = vals    # flat int32 neighbor indexes
        self.inner = inner  # offsets into vals, one per (node, level)
        self.outer = outer  # offsets into inner, one per node

    def __len__(self) -> int:
        return len(self.outer) - 1

    def __getitem__(self, i):
        s, e = self.outer[i], self.outer[i + 1]
        inner = self.inner
        vals = self.vals
        return [vals[inner[j] : inner[j + 1]] for j in range(s, e)]


def _decode_neighbors(arr) -> "_NeighborLists":
    """ChunkedArray/Array of list<list<int>> -> _NeighborLists."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    outer = arr.offsets.to_numpy().astype(np.int64)
    inner_arr = arr.values
    inner = inner_arr.offsets.to_numpy().astype(np.int64)
    vals = inner_arr.values.to_numpy(zero_copy_only=False).astype(np.int32)
    # offsets are ABSOLUTE into the child buffers, so sliced/taken
    # arrays stay aligned without re-zeroing
    return _NeighborLists(vals, inner, outer)



def _search_graph(
    vecs: np.ndarray,
    neighbors: list,
    levels: list,
    entry: int,
    q: np.ndarray,
    kernel: str,
    ef: int,
):
    """Greedy descent + best-first layer-0 search.  Returns (dists,
    node_indexes) of up to ef candidates, sorted ascending."""
    if len(vecs) == 0:
        return np.empty(0), np.empty(0, dtype=np.int64)

    adc = getattr(vecs, "adc", None)
    if adc is not None:
        dist_many = adc(q, kernel)
    else:
        def dist_many(idx: np.ndarray) -> np.ndarray:
            return np_kernel_distance(kernel, vecs[idx], q)

    ep = entry
    ep_d = float(dist_many(np.asarray([ep]))[0])
    for l in range(levels[entry], 0, -1):
        changed = True
        while changed:
            changed = False
            nbrs = neighbors[ep][l] if l < len(neighbors[ep]) else np.empty(0, np.int32)
            if len(nbrs):
                ds = dist_many(nbrs)
                j = int(np.argmin(ds))
                if ds[j] < ep_d:
                    ep, ep_d = int(nbrs[j]), float(ds[j])
                    changed = True
    # layer-0 best-first with a batched frontier (same scheme as the
    # build loop): up to B nodes expand per distance batch, visited is a
    # bool array, rejected nodes are marked (their distance is fixed and
    # the worst bound only shrinks), accepted pushes happen in ascending
    # order with an early break.
    n = len(vecs)
    visited = np.zeros(n, dtype=bool)
    visited[ep] = True
    cand = [(ep_d, ep)]
    result = [(-ep_d, ep)]
    B = 8
    done = False
    while cand and not done:
        batch: list[int] = []
        while cand and len(batch) < B:
            d, u = heapq.heappop(cand)
            if len(result) >= ef and d > -result[0][0]:
                done = True
                break
            batch.append(u)
        if not batch:
            break
        parts = [neighbors[u][0] for u in batch if len(neighbors[u][0])]
        if not parts:
            continue
        allnb = (np.concatenate(parts) if len(parts) > 1 else parts[0]).astype(
            np.int64, copy=False
        )
        fresh = allnb[~visited[allnb]]
        if not len(fresh):
            continue
        fresh = np.unique(fresh)
        visited[fresh] = True
        ds = dist_many(fresh)
        nres = len(result)
        if nres >= ef:
            keep = ds < -result[0][0]
            fresh, ds = fresh[keep], ds[keep]
        if not len(fresh):
            continue
        o = np.argsort(ds, kind="stable")
        fresh, ds = fresh[o], ds[o]
        worst = -result[0][0]
        for v, dv in zip(fresh.tolist(), ds.tolist()):
            if nres >= ef and dv >= worst:
                break
            heapq.heappush(cand, (dv, v))
            if nres >= ef:
                heapq.heappushpop(result, (-dv, v))
            else:
                heapq.heappush(result, (-dv, v))
                nres += 1
            worst = -result[0][0]
    out = sorted((-d, v) for d, v in result)
    return np.asarray([d for d, _ in out]), np.asarray([v for _, v in out])


def topk_runner(quant, qparams, kernel: str, k: int, allow=None, deny=None):
    """Runner over (block, seg_dir) pairs that skips the graph: every
    vector of the segment (a coded graph's exact vectors, fetched from
    storage) scored against each query of the block, the id mask
    (``_kept``) applied, and each query's top ``k`` by (distance, id)
    emitted.  HNSW ``search(exact=True)`` and the widening ladder's
    exact fallback run it."""

    def run(pairs):
        for blk, seg_dir in pairs:
            if blk is None:
                continue
            qids, qmat = blk
            ids, vecs, _nb, _lv, _en = _load_segment(seg_dir, quant, qparams)
            if len(ids) == 0:
                continue
            if quant in _RERANK_QUANTS:
                vecs = _read_exact_vecs(seg_dir, np.arange(len(ids)))
            keep = _kept(ids, allow, deny)
            if keep is not None:
                ids, vecs = ids[keep], vecs[keep]
            d = np.empty((len(ids), len(qmat)))
            for qi in range(len(qmat)):
                d[:, qi] = np_kernel_distance(kernel, vecs, qmat[qi])
            yield from _block_topk_emit(qids, d, ids, k)

    return run


def range_runner(quant, qparams, kernel: str, kradius: float, ef0: int,
                 allow=None, deny=None):
    """Runner over (block, seg_dir) pairs for the VBASE sphere scan: per
    segment and query, ef widens in-task until the ordered stream
    crosses the radius (see HNSWIndex.range_search for the stop-rule
    rationale).  The id mask (``_kept``) drops rows from the emitted
    sphere."""

    def run(pairs):
        for blk, seg_dir in pairs:
            if blk is None:
                continue
            ids, vecs, neighbors, levels, entry = _load_segment(seg_dir, quant, qparams)
            n = len(ids)
            if n == 0:
                continue
            for qid, q in zip(*blk):
                ef = min(max(1, int(ef0)), n)
                while True:
                    coded_d, out_i = _search_graph(
                        vecs, neighbors, levels, entry, q, kernel, ef
                    )
                    if quant in _RERANK_QUANTS and len(out_i):
                        exact_mat = _read_exact_vecs(seg_dir, np.asarray(out_i))
                        out_d = np_kernel_distance(kernel, exact_mat, q)
                    else:
                        out_d = coded_d
                    # the stream is ordered by CODED distance, so the
                    # drained-the-sphere test must run on the coded
                    # frontier; requiring the exact max to cross too keeps
                    # code-error from stopping while exact in-range rows
                    # are still surfacing (only ever widens further)
                    if (
                        len(coded_d) < ef
                        or ef >= n
                        or (
                            len(coded_d)
                            and float(np.max(coded_d)) >= kradius
                            and float(np.max(out_d)) >= kradius
                        )
                    ):
                        break
                    ef = min(ef * 4, n)
                out_i = np.asarray(out_i, dtype=np.int64)
                mask = out_d < kradius
                kept = _kept(ids[out_i], allow, deny)
                if kept is not None:
                    mask &= kept
                for i, d in zip(out_i[mask], out_d[mask]):
                    yield (qid, int(ids[int(i)]), float(d))

    return run


# ---------------------------------------------------------------------------
# Block runners (indexes/batch.py): query BLOCKS — one query for
# per-query search, sliced on the driver from a collected query set, or
# assembled executor-side for query sets over the collect cap — are
# paired with storage units (parquet files / graph segments / list-id
# chunks).  Each pair runs one (block x unit) scan or graph pass, in the
# driver or in a Spark task, and emits per-query local top-k; a window
# merge finishes globally.  Scans score one query at a time with per-row
# einsums (``np_kernel_distance``), so a row's distance does not depend
# on its position; certified gemm scoring is ROADMAP item 3.  O(Q x N)
# work is inherent to exact batch search; this shape spreads it over
# tasks with bounded memory per task.  Quantized flat and IVF units run
# the two-phase scan in the same task: codes score the block, each query
# keeps its rerank candidates (an approximate window or the SQ error
# bound), and one exact fetch per (block, unit) rescores them (the
# per-unit rerank of crates/quantization/src/reranker/*).


def assemble_block(rows, normalize: bool):
    """One (qids, qmat) block from (qid, vec) rows, None when empty.
    Runs on the driver for a collected query set and inside an executor
    task (rdd.mapPartitions) otherwise.  Rows normalize one at a time,
    exactly as ``base.prep_query`` does, so a block query scores
    bit-identically to the per-query path."""
    qids, vecs = [], []
    for r in rows:
        qids.append(int(r[0]))
        v = np.asarray(r[1], dtype=np.float64)
        if normalize:
            n = np.linalg.norm(v)
            if n > 0:
                v = v / n
        vecs.append(v)
    if not qids:
        return None
    return (qids, np.vstack(vecs))


def _kept(ids: np.ndarray, allow=None, deny=None):
    """Which of ``ids`` an id mask keeps: those in ``allow`` (when
    given) and not in ``deny`` — a residual filter resolved to the ids
    passing it, and an exclusion set such as a fresh index's
    tombstones.  None when there is no mask."""
    if allow is None and deny is None:
        return None
    keep = np.ones(len(ids), dtype=bool) if allow is None else np.isin(ids, allow)
    if deny is not None:
        keep &= ~np.isin(ids, deny)
    return keep


def _masked(ids: np.ndarray, unit, allow=None, deny=None):
    """(ids, payload) of one loaded unit without the masked rows; the
    unit as loaded when unmasked."""
    keep = _kept(ids, allow, deny)
    if keep is None or unit is None:
        return ids, unit
    if isinstance(unit, tuple):
        return ids[keep], tuple(u[keep] for u in unit)
    return ids[keep], unit[keep]


def _block_topk_emit(qids, d, ids, k, below=None):
    """Per-query local top-k rows by (distance, id) from a (rows x
    queries) distance matrix: ties at the k-th distance keep the
    smallest ids, as the global merge does.  With ``below``, only the
    rows whose distance is under it (a range scan)."""
    top = min(k, len(ids))
    if top == 0:
        return
    for qi in range(len(qids)):
        sel = _window(d[:, qi], ids, top)
        if below is not None:
            sel = sel[d[sel, qi] < below]
        for i, dv in zip(ids[sel].tolist(), d[sel, qi].tolist()):
            yield (qids[qi], int(i), float(dv))


def _read_vec_matrix_from(col, dtype=np.float32) -> np.ndarray:
    """list<number> column -> matrix via the Arrow values-buffer
    reshape (equal-length null-free lists guaranteed by index layout).

    RESIDENT vector matrices stay f32 (r12 verdict item #2 / r11 #8):
    the stored values ARE f32, every distance call mixes them with an
    f64 query (numpy promotes, so results are bit-identical to an f64
    resident copy), and f32 halves both the resident footprint and the
    first-touch decode traffic — measured 2.11 -> 1.63 ms/segment
    traversal at 256 dims (scripts/hnsw_qps_floor_experiment.py) and
    half the 1024-dim cold-load bytes.  Exact rerank fetches
    (_read_exact_vecs) widen to f64; code columns read as int64."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if not n:
        return np.empty((0, 0), dtype=dtype)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat, dtype=dtype).reshape(n, len(flat) // n)


def _read_vec_matrix(tbl, vec_col: str) -> np.ndarray:
    """Column -> float32 matrix (see _read_vec_matrix_from for why f32);
    vec16 holds packed IEEE binary16 bytes — every f16 grid value is
    exactly representable in f32, so the decode loses nothing.

    The f32 path reshapes the Arrow values buffer directly (index
    layouts guarantee equal-length, null-free lists) — ~50x faster than
    a to_pylist round-trip, which matters when a block task scans a
    probed list of millions of rows."""
    col = tbl.column(vec_col)
    if vec_col == "vec16":
        return np.asarray(
            [np.frombuffer(bb, dtype=np.float16) for bb in col.to_pylist()],
            dtype=np.float32,
        )
    return _read_vec_matrix_from(col)


def _unit_col(quant, vec_col: str) -> str:
    """The column a batch scan reads from a storage unit: the vectors,
    or the quantizer's codes (RaBitQ keeps its (norm, words) struct in
    ``rq``)."""
    if quant is None:
        return vec_col
    return "rq" if quant == "rabitq" else "codes"


def _read_unit(tbl, col: str):
    """One unit's payload: a vector matrix, an int64 code matrix (SQ,
    PQ), or (norms, sign words) for RaBitQ."""
    if col == "rq":
        norm, words = tbl.column("rq").combine_chunks().flatten()
        return (norm.to_numpy(zero_copy_only=False).astype(np.float64),
                _read_vec_matrix_from(words, np.int64).astype(np.uint32))
    if col == "codes":
        return _read_vec_matrix_from(tbl.column(col), np.int64)
    return _read_vec_matrix(tbl, col)


def _decode_codes(quant: str, params, codes, cent=None) -> np.ndarray:
    """Approximate vectors from one unit's codes (decode-on-access):
    flat codes decode to the stored vectors, IVF codes to residuals
    recomposed with the list centroid ``cent``."""
    if quant == "rabitq":
        approx = _RaBitQVecs(codes[0], codes[1], params)[:]
    elif quant == "pq":
        approx = _PQCodedVecs(codes, params)[:]
    else:
        lo, width, levels = params
        off = lo if cent is None else cent + lo
        return off[None, :] + codes / levels * width[None, :]
    return approx if cent is None else cent[None, :] + approx


def _ivf_pq_adist(books: np.ndarray, kernel: str, codes: np.ndarray,
                  c: np.ndarray, qs: np.ndarray) -> np.ndarray:
    """(rows x queries) ADC over one list's residual PQ codes.

    Batched ADC (r9 advice item 4): ONE shared LUT tensor per (list,
    query-set) — (n_sub, 2^bits, nq) — then every query scores with
    n_sub gather-adds over the code matrix.  n_sub << dims, so this
    beats decode-to-dense + per-query dense distance by ~dims/n_sub and
    amortizes better with more queries.  The LUT is one einsum over all
    subspaces x queries (r11: the per-subspace loop was the hot spot —
    12.3 -> 7.4 ms per 1000-row list at 100 queries); the gather-add
    stays a per-subspace loop (a flat (rows x n_sub x nq) gather is 4x
    slower at 20k rows).  Every term is per-query arithmetic, so a
    query scores the same whichever block it rides in."""
    n_sub, _, sub = books.shape
    qres = qs - c[None, :] if kernel == "l2" else qs
    qb = qres.reshape(len(qs), n_sub, sub)
    cross = np.einsum("qsj,skj->qsk", qb, books)
    if kernel == "l2":
        b2 = np.einsum("skj,skj->sk", books, books)
        q2 = np.einsum("qsj,qsj->qs", qb, qb)
        lut = (b2[None, :, :] - 2.0 * cross + q2[:, :, None]).transpose(1, 2, 0)
    else:
        lut = (-cross).transpose(1, 2, 0)
    acc = np.zeros((len(codes), len(qs)))
    for s in range(n_sub):
        acc += lut[s][codes[:, s]]
    if kernel != "l2":
        # dot: -q.(c + res); a per-row einsum, not a gemv, whose result
        # would depend on how many queries share the list
        acc += -np.einsum("qj,j->q", qs, c)[None, :]
    return acc


def _approx_dists(quant: str, params, kernel: str, codes, qs: np.ndarray,
                  cent=None) -> np.ndarray:
    """(rows x queries) approximate distances over one unit's codes:
    IVF-PQ scores with the batched LUT, every other cell decodes and
    scores like the exact scan.  The one quantized scorer: the block
    runners call it per (block, unit), for per-query search and
    ``search_batch`` alike.  ``params`` is the SQ (lo, width, levels)
    tuple or the path of the saved PQ codebooks / RaBitQ projection
    (``_load_params``)."""
    if isinstance(params, str):
        params = _load_params(params)
    if quant == "pq" and cent is not None:
        return _ivf_pq_adist(params, kernel, codes, cent, qs)
    approx = _decode_codes(quant, params, codes, cent)
    ad = np.empty((len(approx), len(qs)))
    for j, q in enumerate(qs):
        ad[:, j] = np_kernel_distance(kernel, approx, q)
    return ad


def sq_error(kernel: str, params, q: np.ndarray) -> float:
    """The SQ decode-error term of ``sq_bounds`` (reranker/error.rs):
    with SQ ``params`` (lo, width, levels) the decode error per dim is
    at most eps_j = width_j / (2·levels), so ||eps||₂ for l2 and
    Σ |q_j|·eps_j for dot."""
    eps = params[1] / (2.0 * params[2])
    if kernel == "l2":
        return float(np.sqrt((eps**2).sum()))
    return float(np.abs(q) @ eps)


def sq_bounds(kernel: str, err: float, adist: np.ndarray):
    """Sound (lower, upper) bounds on the exact kernel distance of
    SQ-coded rows from their decoded-code distances ``adist``
    (reranker/error.rs); ``err`` is ``sq_error``.  l2 (adist is
    squared L2): |√d − √adist| ≤ err; dot: |Δ| ≤ err."""
    if kernel == "l2":
        rt = np.sqrt(np.maximum(adist, 0.0))
        lb = np.maximum(rt - err, 0.0)
        return lb * lb, (rt + err) * (rt + err)
    return adist - err, adist + err


def kth_upper(ids: np.ndarray, ub: np.ndarray, k: int) -> float:
    """The k-th smallest per-id minimum of ``ub`` (an id scored in
    several IVF lists counts once), +inf when fewer than k ids."""
    o = np.lexsort((ub, ids))
    first = np.r_[True, ids[o][1:] != ids[o][:-1]] if len(o) else np.zeros(0, bool)
    best = ub[o][first]
    if len(best) < k:
        return float("inf")
    return float(np.partition(best, k - 1)[k - 1])


def _window(d: np.ndarray, ids: np.ndarray, top: int) -> np.ndarray:
    """Row indexes of the ``top`` smallest ``d`` ordered by (d, id) —
    the merge's order, so a unit-local window keeps every row the
    global cut would."""
    if top >= len(d):
        return np.arange(len(d))
    t = d[np.argpartition(d, top - 1)[top - 1]]
    below = np.flatnonzero(d < t)
    tied = np.flatnonzero(d == t)
    tied = tied[np.argsort(ids[tied], kind="stable")][: top - len(below)]
    return np.concatenate([below, tied])


def _rerank_cands(kernel: str, params, ad: np.ndarray, ids: np.ndarray,
                  q: np.ndarray, k: int, win, below):
    """One query's rerank candidates in a unit, as (ids, adists): its
    top ``win`` by (adist, id), or, with no window, the SQ error bound
    (``sq_bounds``) with None for adists, because the merge then ranks
    by exact distance alone.  The bound keeps the rows whose lower
    bound is at most the unit's k-th smallest upper bound, or, for a
    range, under ``below``.  That is exact: a unit's k-th upper bound is
    at least the global one, which is at least the global k-th exact
    distance, so every row of the exact top-k stays."""
    if win:
        sel = _window(ad, ids, min(win, len(ids)))
        return ids[sel], ad[sel]
    lb, ub = sq_bounds(kernel, sq_error(kernel, params, q), ad)
    if below is None:
        return ids[lb <= kth_upper(ids, ub, k)], None
    # relative margin: FP error in the bound scales with its own
    # magnitude (dot/cos bounds can dwarf |below|)
    return ids[lb < below + 1e-9 * np.abs(lb)], None


def _rerank_emit(kernel: str, source, windows: list, below=None):
    """Exact rerank of a (block, unit) pair's candidates ``(qid, q, ids,
    adists)`` (``_rerank_cands``): ONE pushed ``id IN`` read of
    ``source`` fetches the union, every query rescores its own.  Emits
    (query_id, id, adist, distance), or (query_id, id, distance) for
    candidates without adists; with ``below``, only rows under it."""
    uni = np.unique(np.concatenate([w[2] for w in windows] or [np.empty(0, np.int64)]))
    if not len(uni):
        return
    mat = _read_exact_vecs(source, uni, key="id")
    for qid, q, wid, wad in windows:
        ds = np_kernel_distance(kernel, mat[np.searchsorted(uni, wid)], q)
        keep = slice(None) if below is None else ds < below
        wid, ds = wid[keep], ds[keep]
        if wad is None:
            for i, d in zip(wid.tolist(), ds.tolist()):
                yield (qid, i, d)
        else:
            for i, a, d in zip(wid.tolist(), wad[keep].tolist(), ds.tolist()):
                yield (qid, i, a, d)


def flat_file_block_runner(kernel: str, k: int, vec_col: str = "vec",
                           quant=None, params=None, win: int = 0,
                           below: float | None = None, allow=None, deny=None):
    """Runner over (block, parquet_file) pairs: the file, as decoded
    once per process (``_load_unit``), scored one query at a time with
    per-row einsums.  A quantized index reads the file's codes instead,
    keeps each query's rerank candidates (``_rerank_cands``: the top
    ``win`` by approximate distance, or the SQ error bound when ``win``
    is 0) and reranks them exactly.  ``below`` emits only rows under
    that kernel distance.  The id mask (``_kept``) drops rows before
    any query's window, so the window holds the residual top-k."""
    col = _unit_col(quant, vec_col)

    def run(pairs):
        for blk, path in pairs:
            if blk is None:
                continue
            qids, qmat = blk
            ids, unit = _masked(*_load_unit(path, col), allow, deny)
            if not len(ids):
                continue
            if quant is None:
                d = np.empty((len(unit), len(qmat)))
                for qi in range(len(qmat)):
                    d[:, qi] = np_kernel_distance(kernel, unit, qmat[qi])
                yield from _block_topk_emit(qids, d, ids, k, below)
                continue
            ad = _approx_dists(quant, params, kernel, unit, qmat)
            wins = [
                (qid, q, *_rerank_cands(kernel, params, ad[:, j], ids, q, k, win, below))
                for j, (qid, q) in enumerate(zip(qids, qmat))
            ]
            yield from _rerank_emit(kernel, path, wins, below)

    return run


def hnsw_segment_block_runner(quant, qparams, kernel: str, ef: int,
                              allow=None, deny=None):
    """Runner over (block, seg_dir) pairs: the segment graph loads once
    per task (worker LRU cache) and answers every query in the block.
    The id mask (``_kept``) drops a query's masked candidates before its
    rerank and its ``ef`` window: the graph search itself is the
    unfiltered one."""

    def run(pairs):
        for blk, seg_dir in pairs:
            if blk is None:
                continue
            qids, qmat = blk
            ids, vecs, neighbors, levels, entry = _load_segment(seg_dir, quant, qparams)
            if len(ids) == 0:
                continue
            per_q = []
            union: set[int] = set()
            for qid, q in zip(qids, qmat):
                ds, idxs = _search_graph(vecs, neighbors, levels, entry, q, kernel, ef)
                keep = _kept(ids[idxs.astype(np.int64)], allow, deny)
                if keep is not None:
                    ds, idxs = ds[keep], idxs[keep]
                per_q.append((qid, q, idxs, ds))
                if quant in _RERANK_QUANTS:
                    union.update(int(i) for i in idxs)
            if quant in _RERANK_QUANTS and union:
                # ONE exact-vec fetch per (block, segment) serves every
                # query in the block: the union is <= n_queries*ef rows,
                # where per-query fetches would re-read the vec column
                # once per (query, segment)
                uni = np.asarray(sorted(union), dtype=np.int64)
                mat = _read_exact_vecs(seg_dir, uni)
                pos = {int(v): p for p, v in enumerate(uni)}
                for qid, q, idxs, _coded in per_q:
                    if not len(idxs):
                        continue
                    sel = np.asarray([pos[int(i)] for i in idxs])
                    ds = np_kernel_distance(kernel, mat[sel], q)
                    for i, d in zip(np.asarray(idxs)[:ef], ds[:ef]):
                        yield (qid, int(ids[int(i)]), float(d))
            else:
                for qid, _q, idxs, ds in per_q:
                    for i, d in zip(idxs[:ef], ds[:ef]):
                        yield (qid, int(ids[int(i)]), float(d))

    return run


_LIST_CACHE = _FileLRU(64, _CACHE_BYTES)


def _load_unit(source: str, col: str):
    """(ids, payload) for one IVF list partition or one flat rows file
    (``_read_unit``), via a worker-resident LRU keyed on the file
    fingerprint — consecutive query blocks and driver-served queries
    scan the same units, and re-decoding a unit per block or per query
    would dominate the scan."""

    def load():
        import pyarrow.parquet as pq

        tbl = pq.read_table(source, columns=["id", col])
        ids = tbl.column("id").to_numpy()
        return (ids, _read_unit(tbl, col) if len(ids) else None)

    return _LIST_CACHE.get(source, (_segment_fingerprint(source), col), load)


_PARAMS_CACHE = _FileLRU(16, _CACHE_BYTES)


def _load_params(path: str) -> np.ndarray:
    """A quantizer's saved constants (PQ codebooks, RaBitQ projection)
    by file path, through a fingerprint-keyed LRU: query closures carry
    the path, not megabytes of constants."""
    st = os.stat(path)
    return _PARAMS_CACHE.get(
        path, (st.st_mtime, st.st_size), lambda: np.load(path, allow_pickle=False)
    )


def ivf_block_runner(centroids: np.ndarray, kernel: str, nprobe: int, k: int,
                     lists_dir: str, vec_col: str = "vec", quant=None,
                     params=None, win: int = 0, below: float | None = None,
                     allow=None, deny=None):
    """Runner over (block, list-id chunk) pairs: each task probes its
    block's nearest lists and scans, with pyarrow, ONLY the probed lists
    inside its chunk (the static partition-pruning of the DataFrame
    path, done in-task).  Centroids ride in the closure (nlist x dims,
    bounded by build).  A quantized index scores the lists' residual
    codes, keeps each query's rerank candidates over the chunk (best
    adist per id: a replicated row sits in several lists; then
    ``_rerank_cands``, the top ``win`` or the SQ error bound when
    ``win`` is 0) and reranks them with one exact fetch over the
    chunk's probed lists.  ``below`` emits only rows under that kernel
    distance.  The id mask (``_kept``) drops rows before any query's
    window."""
    import os as _os

    col = _unit_col(quant, vec_col)

    def run(pairs):
        for blk, chunk in pairs:
            if blk is None:
                continue
            qids, qmat = blk
            mine = set(chunk)
            nl = len(centroids)
            np_eff = min(nprobe, nl)
            # (queries x lists) centroid distances -> per-query probes
            cd = np.empty((len(qmat), nl))
            for qi in range(len(qmat)):
                cd[qi] = np_kernel_distance(kernel, centroids, qmat[qi])
            # stable argsort mirrors IVFIndex.probe_lists exactly
            # (deterministic tie-break), so a block probes the same
            # lists as the per-query path
            probes = np.argsort(cd, axis=1, kind="stable")[:, :np_eff]
            by_list: dict = {}
            for qi, row in enumerate(probes):
                for lid in row.tolist():
                    if lid in mine:
                        by_list.setdefault(lid, []).append(qi)
            per_q: dict = {}
            files: list = []
            for lid, qis in sorted(by_list.items()):
                ldir = _os.path.join(lists_dir, f"list_id={lid}")
                if not _os.path.isdir(ldir):
                    continue
                ids, unit = _masked(*_load_unit(ldir, col), allow, deny)
                if not len(ids):
                    continue
                if quant is None:
                    d = np.empty((len(unit), len(qis)))
                    for j, qi in enumerate(qis):
                        d[:, j] = np_kernel_distance(kernel, unit, qmat[qi])
                    yield from _block_topk_emit([qids[qi] for qi in qis], d, ids, k, below)
                    continue
                ad = _approx_dists(quant, params, kernel, unit, qmat[qis],
                                   centroids[lid])
                for j, qi in enumerate(qis):
                    # the bound cuts over the whole chunk below
                    sel = _window(ad[:, j], ids, min(win, len(ids))) if win else slice(None)
                    per_q.setdefault(qi, []).append((ids[sel], ad[sel, j]))
                files += sorted(glob.glob(_os.path.join(ldir, "*.parquet")))
            wins = []
            for qi, parts in per_q.items():
                cid = np.concatenate([p[0] for p in parts])
                cad = np.concatenate([p[1] for p in parts])
                # best adist per id, then the chunk's candidates
                o = np.lexsort((cad, cid))
                cid, cad = cid[o], cad[o]
                first = np.r_[True, cid[1:] != cid[:-1]]
                cid, cad = cid[first], cad[first]
                wins.append((qids[qi], qmat[qi],
                             *_rerank_cands(kernel, params, cad, cid, qmat[qi], k, win, below)))
            yield from _rerank_emit(kernel, files, wins, below)

    return run


def ivf_list_radius(tbl, centroid: np.ndarray, vec_col: str) -> float:
    """One IVF list's max residual L2 norm max |x − centroid| over its
    stored rows ``tbl`` (f64 over the stored f32 values or decoded f16
    words, the values the exact scan reads), 0 for an empty list: the
    triangle-inequality pruning bound ``IVFIndex.list_radii`` holds."""
    if not tbl.num_rows:
        return 0.0
    res = _read_vec_matrix(tbl, vec_col).astype(np.float64) - centroid[None, :]
    return float(np.sqrt(np.einsum("ij,ij->i", res, res)).max())


def _conform(tbl, schema):
    """``tbl``'s columns cast to the stored Arrow ``schema``, a column
    it lacks (an insert without a payload column) as nulls."""
    import pyarrow as pa

    cols = [
        tbl.column(f.name).cast(f.type) if f.name in tbl.column_names
        else pa.nulls(tbl.num_rows, f.type)
        for f in schema
    ]
    return pa.Table.from_arrays(cols, schema=schema)


def ivf_list_writer(plan: dict, lid: int, rows):
    """The one IVF list writer (``IVFIndex._rewrite`` runs it per list
    in a grouped Arrow job).  ``rows`` is list ``lid``'s group: its
    routed and encoded new rows plus one marker row (``_row`` null) that
    makes every list a group.  The list becomes its files in the
    driver's snapshot (``plan["snapshot"]``) minus the rows whose ids
    are in the sorted ``plan["removes"]``, plus the new rows, sorted by
    id (row-group id skipping for the rerank's ``id IN`` fetch), written
    with pyarrow as ONE hidden pending file ``.<token>.pending`` in the
    list's directory that ``IVFIndex._commit_lists`` renames in.  Ids
    and vectors are stored plain, codes and payload columns with
    dictionary pages, as Spark's writer ends up storing them: dictionary
    pages over vectors grow a list by a third.

    A list no id leaves and no row joins is untouched: no file, no row.
    Otherwise returns one row (list_id, removed ids, rows added, rows
    written, radius), with no pending file when the list ended empty.
    The task reads only the snapshot and writes the pending name through
    a temp file and an atomic rename, so a retried task rewrites the
    same file.

    Limit: the task holds the whole list at once (the group, the old
    files and the sorted output, about three times the list's bytes),
    so one list must fit a Python worker's memory; nothing spills."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema, removes = plan["schema"], plan["removes"]
    new = rows.filter(rows.column("_row").is_valid())
    new = _conform(new, schema) if new.num_rows else schema.empty_table()
    files = plan["snapshot"].get(lid, [])
    ids = np.concatenate(
        [pq.read_table(f, columns=["id"]).column("id").to_numpy() for f in files]
        or [np.empty(0, np.int64)]
    )
    pos = np.minimum(np.searchsorted(removes, ids), max(len(removes) - 1, 0))
    gone = removes[pos] == ids if len(removes) else np.zeros(len(ids), bool)
    if not new.num_rows and not gone.any():
        return pa.Table.from_pylist([], schema=plan["result"])
    old = [_conform(pq.read_table(f), schema) for f in files]
    kept = pa.concat_tables(old or [schema.empty_table()]).filter(pa.array(~gone))
    out = pa.concat_tables([kept, new]).sort_by("id")
    ldir = os.path.join(plan["dir"], f"list_id={lid}")
    if out.num_rows:
        os.makedirs(ldir, exist_ok=True)
        tmp = os.path.join(ldir, f".{plan['token']}-{uuid.uuid4().hex}.tmp")
        pq.write_table(out, tmp, compression="snappy", use_dictionary=plan["dictionary"])
        os.replace(tmp, os.path.join(ldir, f".{plan['token']}.pending"))
    removed = np.unique(ids[gone]).astype(np.int64)
    return pa.Table.from_pylist(
        [{"list_id": lid, "removed": removed.tolist(), "added": new.num_rows,
          "rows": out.num_rows,
          "radius": ivf_list_radius(out, plan["centroids"][lid], plan["vec_col"])}],
        schema=plan["result"],
    )
