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

Only where the blocks are built depends on the query count.  A query
set under ``BATCH_COLLECT_CAP`` is collected once and the driver slices
it into blocks; a larger one is assembled into blocks executor-side
(``rdd.mapPartitions`` — the query DataFrame never materializes on the
driver).  Each task emits per-query local top-k; ``_finish`` merges
them with one query-keyed window.  O(Q x N) work is inherent to exact
batch search — this shape spreads it across tasks with bounded memory
per task (block_rows x dims floats + one storage unit).

The reference has no corpus-scale batch entry point (its CLI loops
queries, crates/cli/src/main.rs:131-160); this is the Spark-native
extension, sharing its merge semantics with ``knn_join_ivf``.
"""

from __future__ import annotations

import math

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


def _finish(index, rdd, k: int) -> DataFrame:
    from pyspark.sql import Window

    cand = index.spark.createDataFrame(
        rdd, schema="query_id bigint, id bigint, distance double"
    ).withColumn("distance", base.post_map(index.meta["metric"], F.col("distance")))
    if index.meta.get("replicas", 1) > 1:
        # multi-assignment: the same id reaches a query from every probed
        # list holding a replica, always at the same exact distance
        cand = cand.dropDuplicates(["query_id", "id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("id").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(k))
        .drop("_rn")
    )


def search_blocks(index, queries: DataFrame, query_id_col: str,
                  query_vec_col: str, qrows, units: list, run,
                  k: int) -> DataFrame:
    """Run ``run`` over every (query block, storage unit) pair and merge
    to k rows per query.  ``qrows`` is the driver-collected query set
    (``collect_queries_or_none``); None means blocks are assembled on
    executors from ``queries``."""
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
    return _finish(index, pairs.mapPartitions(run), k)
