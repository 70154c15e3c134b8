"""Batch search: one block-runner path for every query count.

``search_batch`` on flat, IVF and HNSW turns the query set into
``(qids, qmat)`` BLOCKS, cartesian-pairs them with the index's storage
units, and runs one index-specific block runner per pair
(``segment_worker``):

- flat: (block x parquet file) scan tasks over the rows dir
- hnsw: (block x graph segment) resident-graph passes
- ivf:  (block x list-id chunk) tasks: in-task centroid probing, then a
  pyarrow scan of ONLY the probed lists that fall in the chunk (the
  static partition pruning of the DataFrame path, done in-task); the
  chunks round-robin the list ids, one per core, so even a single
  block scans its probed lists in parallel

A scan scores one query at a time with per-row einsums
(``segment_worker.np_kernel_distance``), so a row's distance does not
depend on its position in a file, a list or a block; certified gemm
scoring is ROADMAP item 3.

Quantized flat and IVF indexes (SQ, residual SQ, PQ, RaBitQ) run the
two-phase scan inside the same tasks: the unit's codes score the
block, each query keeps its top ``win`` by approximate distance (or,
per-query SQ without a window, the rows its error bound cannot rule
out), and one pushed ``id IN`` read per (block, unit) rescores those
candidates exactly.  ``_finish`` then cuts the global window by
approximate distance and the top k by exact distance — partition-local
top-k with a global merge (REPOSE, ICDE 2021).

Only where the blocks are built depends on the query count.  A query
set under ``BATCH_COLLECT_CAP`` is collected once and the driver slices
it into blocks; a larger one is assembled into blocks executor-side
(``rdd.mapPartitions`` — the query DataFrame never materializes on the
driver), so results do not depend on the query count.  Each task emits
per-query local top-k; ``_finish`` merges them with query-keyed
windows.  O(Q x N) work is inherent to exact batch search — this shape
spreads it across tasks with bounded memory per task (block_rows x dims
floats + one storage unit).

The reference has no corpus-scale batch entry point (its CLI loops
queries, crates/cli/src/main.rs:131-160); this is the Spark-native
extension, sharing its merge semantics with ``knn_join_ivf``.

In-process serving.  The pairs have a third place to run: the driver
itself.  When the query set was collected and the call's cost
(``serve_cost``) fits ``DRIVER_SERVE_BYTES``, the driver runs the same
runners over the same pairs in-process and ``merge`` — the numpy twin
of ``_finish`` — cuts the rows; the result is a driver-held
``base.local_frame``, so the call launches no Spark job.
``segment_worker``'s fingerprint-keyed caches keep the units warm in
the driver as they do in executors.  Above the budget, or for a query
set assembled on executors, Spark runs the pairs.  Each index handle
counts the decision in ``serve_stats``.

Per-query ``search`` and ``range_search`` on flat, IVF and HNSW are
a batch of one (``serve``), the ordered scan of the reference (VBASE,
am_scan.rs), and have no other engine: ``route`` picks only where the
pairs run.  In the driver, or over the budget as one Spark job over
the pairs whose top-k rows the driver collects and merges; an
over-budget sphere stays a Spark DataFrame (``_finish``), since it can
be corpus-sized.  The runners drop masked rows before each query's
window: a ``filter`` becomes the ids passing it (``allowed``), an
``exclude`` frame the ids to drop (``denied``), and a fresh index hands
its tombstones over as a deny array directly.  Both id sets are held in
the driver, 8 bytes per id.
"""

from __future__ import annotations

import math
import os
import threading

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.indexes import segment_worker as SW

#: query-count threshold above which search_batch assembles its query
#: blocks on executors instead of collecting queries to the driver
BATCH_COLLECT_CAP = 65536

#: queries per block (4096 x 64 dims x 8 B = 2 MiB)
BLOCK_ROWS = 4096

#: the cost (``serve_cost``, in bytes) up to which a collected query set
#: is served in the driver process instead of by Spark tasks.  Measured
#: on 4 vCPU, a one-query scan of a 62.5 MiB flat index takes 249 ms in
#: the driver against 592 ms through Spark (IVF: 29 vs 373 ms), and a
#: sphere holding 0.1 % to 50 % of the rows 321-1,393 vs 766-1,388 ms
#: (IVF: 903-2,287 vs 2,414-3,449 ms)
DRIVER_SERVE_BYTES = 64 << 20

#: batch queries that cost as much as one scan of the index.  The driver
#: computes a batch on one core, Spark on all of them after its job
#: floor.  Measured on 4 vCPU with 5k x 64 indexes, the driver wins at
#: 64 queries on flat, IVF and HNSW and HNSW breaks even at 128
#: (717 vs 686 ms); with 62.5 MiB flat it loses from 8 queries on
#: (927 vs 742 ms).  At 2 every measured driver-served call was a win.
_QUERIES_PER_SCAN = 2

#: ``k`` that makes a top-k runner emit every scanned row (range scans)
EVERY_ROW = 1 << 62


def collect_queries_or_none(queries: DataFrame, query_id_col: str,
                            query_vec_col: str):
    """Driver-collect the query set if it fits under
    ``BATCH_COLLECT_CAP`` (read at call time), else None (the caller
    assembles blocks on executors).  One job either way — the cap probe
    rides the same collect via limit(cap+1)."""
    cap = BATCH_COLLECT_CAP
    rows = queries.select(query_id_col, query_vec_col).limit(cap + 1).collect()
    return None if len(rows) > cap else rows


def _blocks_rdd(queries: DataFrame, query_id_col: str, query_vec_col: str,
                normalize: bool):
    q = queries.select(query_id_col, query_vec_col)
    n_blocks = max(1, math.ceil(q.count() / BLOCK_ROWS))
    return (
        q.repartition(n_blocks)
        .rdd.mapPartitions(lambda it: iter([SW.assemble_block(it, normalize)]))
    )


def quant_params(index, quant: str):
    """What a quantizer's scan needs from the index: SQ (lo, width,
    levels), or the path of the saved PQ codebooks / RaBitQ projection,
    which ``segment_worker._load_params`` loads once per process."""
    if quant in ("pq", "rabitq"):
        name = "pq_codebooks.npy" if quant == "pq" else "rabitq_proj.npy"
        return os.path.join(index.path, name)
    meta = index.meta
    return (
        np.asarray(meta["sq_lo"], dtype=np.float64),
        np.asarray(meta["sq_width"], dtype=np.float64),
        float((1 << meta.get("sq_bits", 8)) - 1),
    )


def storage_bytes(index) -> int:
    """Summed sizes of the files under the index's ``STORAGE_DIR``,
    cached on the handle (``apply_updates`` resets it); a directory
    walk on the driver, no Spark job."""
    if index._storage_bytes is None:
        root = os.path.join(index.path, index.STORAGE_DIR)
        index._storage_bytes = sum(
            os.stat(os.path.join(d, f)).st_size
            for d, _, files in os.walk(root) for f in files
        )
    return index._storage_bytes


def serve_cost(index, n_queries: int, scans: float = 1) -> int:
    """A driver-served call's cost in bytes: the index storage read
    ``scans`` times, plus 1/``_QUERIES_PER_SCAN`` of that per further
    query, and at least the largest distance matrix a block allocates
    (every stored row x the block's queries x 8 B)."""
    scan = storage_bytes(index) * scans * (1 + (n_queries - 1) / _QUERIES_PER_SCAN)
    rows = int(index.meta.get("n_rows", 0)) * int(index.meta.get("replicas", 1))
    return int(max(scan, rows * min(n_queries, BLOCK_ROWS) * 8))


#: guards the per-handle counters: driver threads serving one handle
#: update them together
_TALLY_LOCK = threading.Lock()


def tally(stats: dict, key: str) -> None:
    """Add one to ``stats[key]``, a per-handle counter (``serve_stats``,
    ``IVFIndex.widen_stats``)."""
    with _TALLY_LOCK:
        stats[key] = stats.get(key, 0) + 1


def decide(handle, driver: bool) -> bool:
    """Count a serving decision in ``handle.serve_stats`` and return
    it."""
    tally(handle.serve_stats, "driver" if driver else "spark")
    return driver


def route(index, eligible: bool = True, n_queries: int = 1, scans: float = 1) -> bool:
    """True to run a call's (block, unit) pairs in the driver, False to
    run them as Spark tasks: the driver takes an ``eligible`` call (a
    batch's collected queries; every per-query call) whose
    ``serve_cost`` fits ``DRIVER_SERVE_BYTES`` (read at call time).
    Counts the decision in ``index.serve_stats``."""
    cost = serve_cost(index, max(1, n_queries), scans)
    return decide(index, eligible and cost <= DRIVER_SERVE_BYTES)


def denied(exclude: DataFrame | None):
    """The ids of an ``exclude`` frame as an int64 array, None without
    one: one collect, which runs no Spark job for a driver-held
    frame."""
    if exclude is None:
        return None
    return np.asarray([r[0] for r in exclude.select("id").collect()], dtype=np.int64)


def allowed(index, filter, files: list, schema, base_dir: str | None = None,
            keys: tuple = ("id",), driver: bool = True) -> np.ndarray:
    """The ``keys`` of the stored rows in ``files`` that pass
    ``filter``, an (n, len(keys)) int64 array.  The rows' non-vector
    columns, named by the Spark ``schema`` (Hive partition columns come
    from the paths under ``base_dir``), are read: for a ``driver`` call
    with pyarrow into a driver-held frame, where Catalyst folds the
    ``where`` into the local relation and the collect runs no Spark job
    (a Python UDF in the filter runs one); else by one Spark scan of the
    files (Spark lists more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths in
    a job of its own)."""
    import pyarrow.dataset as pads

    if not files:
        return np.empty((0, len(keys)), dtype=np.int64)
    if driver:
        tbl = pads.dataset(
            list(files), format="parquet", partitioning="hive" if base_dir else None,
            partition_base_dir=base_dir,
        ).to_table(columns=schema.names)
        frame = index.spark.createDataFrame(tbl, schema)
    else:
        reader = index.spark.read.schema(schema)
        frame = (reader.option("basePath", base_dir) if base_dir else reader).parquet(*files)
    rows = frame.where(filter).select(*keys).collect()
    return np.asarray(rows, dtype=np.int64).reshape(len(rows), len(keys))


def kernel_below(index, radius: float) -> float:
    """The kernel distance a range runner emits under for an SQL
    ``radius``, loosened by a relative epsilon: ``merge`` applies the
    exact cut after ``post_map``."""
    kr = float(radius) - 1.0 if index.meta["metric"] == "cos" else float(radius)
    return kr + 1e-9 * max(1.0, abs(kr))


def _cut(df: DataFrame, col: str, n: int) -> DataFrame:
    """Keep each query's first ``n`` rows by (``col``, id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col(col).asc(), F.col("id").asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= int(n)
    ).drop("_rn")


def _finish(index, rdd, k: int | None, win: int | None = None,
            radius: float | None = None) -> DataFrame:
    """Merge the runners' rows to k per query (every row when ``k`` is
    None), as a Spark plan.  Quantized runners emit (query_id, id,
    adist, distance): the global rerank window keeps the ``win`` best
    by approximate distance, then the exact distances rank; unit
    windows are a superset of it, so this is the global two-phase cut.
    With ``radius``, only the rows under it."""
    vals = ["distance"] if win is None else ["adist", "distance"]
    cand = index.spark.createDataFrame(
        rdd, schema=", ".join(["query_id bigint", "id bigint"]
                              + [f"{c} double" for c in vals])
    )
    if index.meta.get("replicas", 1) > 1:
        # multi-assignment: the same id reaches a query from every probed
        # list holding a replica, at one exact distance; codes differ
        # per list, so keep the best approximate distance
        cand = cand.groupBy("query_id", "id").agg(*[F.min(c).alias(c) for c in vals])
    if win is not None:
        cand = _cut(cand, "adist", win)
    dist = base.post_map(index.meta["metric"], F.col("distance")).alias("distance")
    if k is None:
        out = cand.select("query_id", "id", dist)
    else:
        out = _cut(cand.withColumn("distance", dist), "distance", k)
        out = out.select("query_id", "id", "distance")
    return out if radius is None else out.where(F.col("distance") < float(radius))


def _order(qid: np.ndarray, ids: np.ndarray, key: np.ndarray, n: int | None):
    """Row indexes ordered by (query, ``key``, id), each query's first
    ``n`` (all when None) — ``_cut``'s window."""
    o = np.lexsort((ids, key, qid))
    if n is None or not len(o):
        return o
    q = qid[o]
    start = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = np.arange(len(o)) - np.repeat(start, np.diff(np.r_[start, len(o)]))
    return o[rank < n]


def merge(index, rows, k: int | None = None, win: int | None = None,
          radius: float | None = None):
    """``_finish`` in numpy over driver-held runner rows (query_id, id,
    [adist,] distance): the per-(query, id) minimum when replicas > 1,
    the ``win`` cut by (adist, id), ``post_map``, then each query's
    first ``k`` by (distance, id) — all rows when ``k`` is None — and,
    with ``radius``, the rows under it.  Returns (query_id, id,
    distance) arrays ordered by (query_id, distance, id)."""
    cols = list(zip(*rows)) or [(), (), ()]
    qid = np.asarray(cols[0], dtype=np.int64)
    ids = np.asarray(cols[1], dtype=np.int64)
    vals = [np.asarray(c, dtype=np.float64) for c in cols[2:]]
    if index.meta.get("replicas", 1) > 1 and len(ids):
        o = np.lexsort((ids, qid))
        qid, ids, vals = qid[o], ids[o], [v[o] for v in vals]
        start = np.flatnonzero(np.r_[True, (qid[1:] != qid[:-1]) | (ids[1:] != ids[:-1])])
        qid, ids = qid[start], ids[start]
        vals = [np.fmin.reduceat(v, start) for v in vals]
    if win is not None:
        sel = _order(qid, ids, vals[0], win)
        qid, ids, vals = qid[sel], ids[sel], [v[sel] for v in vals]
    dist = vals[-1] + 1.0 if index.meta["metric"] == "cos" else vals[-1]
    sel = _order(qid, ids, dist, k)
    qid, ids, dist = qid[sel], ids[sel], dist[sel]
    if radius is not None:
        m = dist < float(radius)
        qid, ids, dist = qid[m], ids[m], dist[m]
    return qid, ids, dist


def _local_blocks(qrows, normalize: bool) -> list:
    """Driver-sliced query blocks, the executor path's block size: it
    bounds each task's (rows x queries) distance matrix."""
    return [
        SW.assemble_block(qrows[i : i + BLOCK_ROWS], normalize)
        for i in range(0, len(qrows), BLOCK_ROWS)
    ]


def run_local(qrows, normalize: bool, units: list, run) -> list:
    """The runner's rows over every (query block, unit) pair, run in
    this process."""
    return list(run((b, u) for b in _local_blocks(qrows, normalize) for u in units))


def serve(index, query, units: list, run, k: int | None = None,
          win: int | None = None, radius: float | None = None, driver: bool = True):
    """One query as a batch of one over ``units``: (ids, distances)
    ordered by (distance, id).  ``driver`` (``route``'s decision) runs
    the (block, unit) pairs in this process, else as one Spark job,
    one task per unit, whose top-k rows the driver collects; a range
    (``k`` None) over Spark returns the lazy (id, distance) DataFrame
    instead.  ``query`` is the raw vector — ``assemble_block``
    normalizes it as ``base.prep_query`` does."""
    if driver:
        rows = run_local([(0, query)], index.meta["normalize"], units, run)
    else:
        block = SW.assemble_block([(0, query)], index.meta["normalize"])
        rdd = index.spark.sparkContext.parallelize(
            [(block, u) for u in units], max(1, len(units))
        ).mapPartitions(run)
        if k is None:
            return _finish(index, rdd, None, win, radius)
        rows = rdd.collect()
    _, ids, dist = merge(index, rows, k, win, radius)
    return ids, dist


def frame(index, got, id_type: str = "bigint") -> DataFrame:
    """A served call's (id, distance) result: ``serve``'s (ids,
    distances) as a driver-held frame, or the (id, distance) columns of
    its Spark range frame, the ids cast to ``id_type``."""
    if isinstance(got, DataFrame):
        return got.select(F.col("id").cast(id_type), "distance")
    ids, dist = got
    return base.local_frame(
        index.spark, zip(ids.tolist(), dist.tolist()), f"id {id_type}, distance double"
    )


def search_blocks(index, queries: DataFrame, query_id_col: str,
                  query_vec_col: str, qrows, units: list, run,
                  k: int, win: int | None = None) -> DataFrame:
    """Run ``run`` over every (query block, storage unit) pair and merge
    to k rows per query.  ``qrows`` is the driver-collected query set
    (``collect_queries_or_none``); None means blocks are assembled on
    executors from ``queries``.  ``win`` is the rerank window of a
    quantized runner.  A collected set under the driver budget
    (``route``) runs in this process and returns a driver-held
    frame."""
    normalize = index.meta["normalize"]
    if route(index, qrows is not None, len(qrows or ())):
        rows = run_local(qrows, normalize, units, run)
        qid, ids, dist = merge(index, rows, k, win)
        return base.local_frame(
            index.spark, zip(qid.tolist(), ids.tolist(), dist.tolist()),
            "query_id bigint, id bigint, distance double",
        )
    sc = index.spark.sparkContext
    if qrows is None:
        blocks = _blocks_rdd(queries, query_id_col, query_vec_col, normalize)
    else:
        local = _local_blocks(qrows, normalize)
        blocks = sc.parallelize(local, max(1, len(local)))
    pairs = blocks.cartesian(sc.parallelize(units, max(1, len(units))))
    return _finish(index, pairs.mapPartitions(run), k, win)
