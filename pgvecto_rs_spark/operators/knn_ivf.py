"""IVF-bucketed knn-join: approximate k-nearest-neighbors for EVERY row
of a large query side against a large corpus — the similarity join the
reference's users write as LATERAL + index scan (SURVEY.md §2.6), made
shuffle-bounded for corpus×corpus scale.

Plan shape:

1. train centroids on a corpus sample (driver numpy, cap 65536 — the
   IVF recipe);
2. corpus rows are assigned to their ``replicas`` nearest lists,
   queries to their ``nprobe`` nearest lists — co-membership is the
   candidate condition (same trick as LSH banding: the quadratic blowup
   is confined to lists);
3. shuffle both sides by ``list_id`` (an equi-join Catalyst can plan as
   sort-merge or shuffled-hash — never a cross join);
4. per (query, candidate) exact distance, window top-k per query, with
   a groupBy-min dedup for candidates met in several lists.

Cost at scale: shuffle = rows×assignments lightweight rows; compute =
Σ_list |Q_list|·|C_list| distances, bounded by the centroid balance —
versus |Q|·|C| for the broadcast nested-loop path.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.indexes.ivf import SAMPLE_CAP, _lloyd

__all__ = ["knn_join_ivf"]


def knn_join_ivf(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    k: int,
    metric: str = "l2",
    nlist: int = 64,
    nprobe: int = 8,
    replicas: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Returns (query_id, neighbor_id, distance), top-k per query row.

    Approximate: a true neighbor assigned only to lists the query does
    not probe is missed; raise ``nprobe``/``replicas`` for recall.
    """
    kernel, do_norm = base.resolve_metric(metric)
    spark = left.sparkSession

    rvec = base.normalized_col(right_col, do_norm).cast("array<float>")
    lvec = base.normalized_col(left_col, do_norm).cast("array<float>")
    corpus = right.where(F.col(right_col).isNotNull()).select(
        F.col(right_id).alias("__cid"), rvec.alias("__cv")
    )
    queries = left.where(F.col(left_col).isNotNull()).select(
        F.col(left_id).alias("__qid"), lvec.alias("__qv")
    )

    n = corpus.count()
    fraction = min(1.0, SAMPLE_CAP / max(n, 1))
    # trimmed in hashed-id order: the k-means++ seeding follows row
    # order, so a layout-dependent sample would move the centroids (the
    # id is hashed to a bigint first: ids here may be of any type)
    x = base.training_sample(
        corpus.select(F.xxhash64("__cid").alias("id"), "__cv"),
        "__cv", fraction, seed, SAMPLE_CAP,
    )
    nlist_eff = min(nlist, max(1, len(x)))
    centroids = _lloyd(x, nlist_eff, seed=seed).astype(np.float64)

    bc = spark.sparkContext.broadcast(centroids)
    c_sq = spark.sparkContext.broadcast(np.einsum("ij,ij->i", centroids, centroids))

    def _assign(n_lists: int):
        @F.pandas_udf("array<int>")
        def assign(v: pd.Series) -> pd.Series:
            cent = bc.value
            mat = np.asarray(v.tolist(), dtype=np.float64)
            d = -2.0 * (mat @ cent.T) + c_sq.value[None, :]
            t = min(n_lists, cent.shape[0])
            if t == 1:
                top = np.argmin(d, axis=1)[:, None]
            else:
                top = np.argpartition(d, t - 1, axis=1)[:, :t]
            return pd.Series([row.astype("int32").tolist() for row in top])

        return assign

    c_assigned = corpus.withColumn("__list", F.explode(_assign(replicas)("__cv")))
    q_assigned = queries.withColumn("__list", F.explode(_assign(nprobe)("__qv")))

    from pgvecto_rs_spark.operators.search import distance as dist_expr

    joined = q_assigned.join(c_assigned, "__list")
    d = dist_expr(F.col("__cv"), F.col("__qv"), kernel)
    scored = joined.select(
        "__qid", "__cid", base.post_map(metric, d).alias("distance")
    )
    # a candidate can co-occur in several probed lists -> keep one
    scored = scored.groupBy("__qid", "__cid").agg(F.min("distance").alias("distance"))
    w = Window.partitionBy("__qid").orderBy(F.col("distance").asc(), F.col("__cid").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("neighbor_id"),
            "distance",
        )
    )
