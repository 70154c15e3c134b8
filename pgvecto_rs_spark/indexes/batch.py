"""Batch search: one block-runner path for every query count.

``search_batch`` on flat, IVF and HNSW turns the query set into
``(qids, qmat)`` BLOCKS, cartesian-pairs them with the index's storage
units, and runs one index-specific block runner per pair
(``segment_worker``):

- flat: (block x parquet file) gemm tasks over the rows dir
- hnsw: (block x graph segment) resident-graph passes
- ivf:  (block x list-id chunk) tasks: in-task centroid probing, then a
  pyarrow scan of ONLY the probed lists that fall in the chunk (the
  static partition pruning of the DataFrame path, done in-task); the
  chunks round-robin the list ids, one per core, so even a single
  block scans its probed lists in parallel

Quantized flat and IVF indexes (SQ, residual SQ, PQ, RaBitQ) run the
two-phase scan inside the same tasks: the unit's codes score the
block, each query keeps its top ``win`` by approximate distance, and
one pushed ``id IN`` read per (block, unit) rescores those windows
exactly.  ``_finish`` then cuts the global window by approximate
distance and the top k by exact distance — partition-local top-k with
a global merge (REPOSE, ICDE 2021).

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
"""

from __future__ import annotations

import math
import os

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
    """Driver-side constants of a quantizer's batch scan: PQ codebooks,
    the RaBitQ projection, or SQ (lo, width, levels)."""
    if quant == "pq":
        return np.load(os.path.join(index.path, "pq_codebooks.npy"))
    if quant == "rabitq":
        return np.load(os.path.join(index.path, "rabitq_proj.npy"))
    meta = index.meta
    return (
        np.asarray(meta["sq_lo"], dtype=np.float64),
        np.asarray(meta["sq_width"], dtype=np.float64),
        float((1 << meta.get("sq_bits", 8)) - 1),
    )


def _cut(df: DataFrame, col: str, n: int) -> DataFrame:
    """Keep each query's first ``n`` rows by (``col``, id)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col(col).asc(), F.col("id").asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= int(n)
    ).drop("_rn")


def _finish(index, rdd, k: int, win: int | None = None) -> DataFrame:
    """Merge the runners' rows to k per query.  Quantized runners emit
    (query_id, id, adist, distance): the global rerank window keeps the
    ``win`` best by approximate distance, then the exact distances
    rank; unit windows are a superset of it, so this is the global
    two-phase cut."""
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
    cand = cand.withColumn("distance", base.post_map(index.meta["metric"], F.col("distance")))
    return _cut(cand, "distance", k).select("query_id", "id", "distance")


def search_blocks(index, queries: DataFrame, query_id_col: str,
                  query_vec_col: str, qrows, units: list, run,
                  k: int, win: int | None = None) -> DataFrame:
    """Run ``run`` over every (query block, storage unit) pair and merge
    to k rows per query.  ``qrows`` is the driver-collected query set
    (``collect_queries_or_none``); None means blocks are assembled on
    executors from ``queries``.  ``win`` is the rerank window of a
    quantized runner."""
    sc = index.spark.sparkContext
    normalize = index.meta["normalize"]
    if qrows is None:
        blocks = _blocks_rdd(queries, query_id_col, query_vec_col, normalize)
    else:
        # same block size as the executor path: it bounds each task's
        # (rows x queries) distance matrix
        local = [
            SW.assemble_block(qrows[i : i + BLOCK_ROWS], normalize)
            for i in range(0, len(qrows), BLOCK_ROWS)
        ]
        blocks = sc.parallelize(local, max(1, len(local)))
    pairs = blocks.cartesian(sc.parallelize(units, max(1, len(units))))
    return _finish(index, pairs.mapPartitions(run), k, win)
