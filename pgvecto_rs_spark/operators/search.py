"""Exact vector search: top-k, range ("sphere") search, knn-join.

These reproduce the reference's *query semantics* (src/index/am_scan.rs)
on the exact path — Spark's TakeOrderedAndProject is the distributed
analogue of the reference's per-segment ordered streams merged by a
LoserTree (crates/index/src/lib.rs:401-422): each partition produces its
local top-k, the driver merges — no full sort, no full shuffle.

ANN paths live in ``pgvecto_rs_spark.indexes`` and share this module's
distance dispatch.

Distance metrics (crates/base/src/distance.rs:5-10 + the SQL opclasses):
``l2`` (squared L2), ``dot`` (negative dot), ``cos`` (cosine distance),
``hamming``/``jaccard`` for bvector.  ``cos`` follows the reference's
opclass rewrite: normalize + Dot + post-map ``d + 1``
(src/index/am_options.rs:54-62, 231-249) when served by an index; the
exact path computes it directly — identical result, fewer kernels.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgvecto_rs_spark.functions import binary as B
from pgvecto_rs_spark.functions import dense as D
from pgvecto_rs_spark.functions import sparse as S

DENSE_METRICS = ("l2", "dot", "cos")


def _qlit(q: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in q]).cast("array<float>")


def distance(col: Column | str, query: Column | Sequence[float], metric: str = "l2") -> Column:
    """Distance Column between a vector column and a query.

    ``query`` may be a Column (vector-vector) or a Python sequence
    (query literal, the common search shape).
    """
    q = _qlit(query) if not isinstance(query, Column) else query
    metric = metric.lower()
    if metric == "l2":
        return D.l2sq_distance(col, q, check=False)
    if metric == "dot":
        return D.neg_dot_product(col, q, check=False)
    if metric == "cos":
        return D.cosine_distance(col, q, check=False)
    if metric == "hamming":
        return B.bvector_hamming_distance(col, q, check=False)
    if metric == "jaccard":
        return B.bvector_jaccard_distance(col, q, check=False)
    if metric == "sparse_l2":
        return S.svector_l2sq_distance(col, q, check=False)
    if metric == "sparse_dot":
        return S.svector_neg_dot(col, q, check=False)
    if metric == "sparse_cos":
        return S.svector_cosine_distance(col, q, check=False)
    raise ValueError(f"unknown metric {metric!r}")


def arrow_distance(query: Sequence[float], metric: str = "l2") -> Column:
    """Arrow-vectorized dense distance to a literal query — a pandas UDF
    whose batch body is one numpy einsum/matmul.  ~2x faster than the
    interpreted higher-order-function expression at full-scan scale
    (HOFs don't enter whole-stage codegen); numerically it reorders the
    per-element accumulation, so oracle-parity paths keep the exact
    left-to-right expression and index scan paths use this.

    The SIMD-kernel analogue of the reference's runtime-dispatched
    distance kernels (crates/base/src/scalar/f32.rs).
    """
    q = np.asarray([float(x) for x in query], dtype=np.float64)
    m = metric.lower()
    if m not in ("l2", "dot", "cos"):
        raise ValueError(f"arrow_distance supports dense metrics only, got {metric!r}")

    @F.pandas_udf("double")
    def score(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)
        if m == "l2":
            d = mat - q[None, :]
            return pd.Series(np.einsum("ij,ij->i", d, d))
        # per-row einsum, as segment_worker.np_kernel_distance: the
        # score of a row does not depend on the batch it arrives in
        dots = np.einsum("ij,j->i", mat, q)
        if m == "dot":
            return pd.Series(-dots)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat) * float(q @ q))
        return pd.Series(1.0 - dots / norms)

    return score


def top_k(
    df: DataFrame,
    col: str,
    query: Sequence[float] | Column,
    k: int,
    metric: str = "l2",
    filter: Column | None = None,
    dist_col: str = "distance",
    tiebreaker: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """``SELECT ... ORDER BY col <op> query LIMIT k`` — exact path.

    NULL vectors are skipped, matching the reference's index behavior
    (src/index/am.rs:199-211: NULLs are never indexed/returned).

    Non-finite distances order TOTALLY and deterministically: the
    reference sorts distances through an order-preserving f32 -> i32
    bijection (crates/base/src/distance.rs:17-44) giving
    ``-Inf < finite < +Inf < NaN`` (sign-positive NaN bit patterns — the
    only kind IEEE arithmetic produces); Spark's double ordering places
    NaN greater than every value including +Inf, and DuckDB does the
    same, so all three engines agree on which candidates survive the
    LIMIT when vectors contain NaN/Inf elements.  ``descending=True``
    serves the farthest-k shape (ORDER BY dist DESC), where that
    agreement is observable: NaN rows fill the window first, then +Inf,
    then the largest finite distances.

    Residual ``filter`` is applied BEFORE the limit — this is the VBASE
    exact-k guarantee (README.md:25): Spark evaluates the filter in the
    same stage as the scan, then takes the global top-k of survivors, so
    a selective filter can never starve the result set.

    Physical plan: per-partition partial TakeOrdered + driver merge
    (TakeOrderedAndProject) — O(n/p · log k) per task, no shuffle.
    """
    d = distance(F.col(col), query, metric)
    out = df.where(F.col(col).isNotNull())
    if filter is not None:
        out = out.where(filter)
    out = out.withColumn(dist_col, d)
    order = [F.col(dist_col).desc() if descending else F.col(dist_col).asc()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    return out.orderBy(*order).limit(k)


def range_search(
    df: DataFrame,
    col: str,
    query: Sequence[float] | Column,
    radius: float,
    metric: str = "l2",
    filter: Column | None = None,
    dist_col: str = "distance",
) -> DataFrame:
    """Sphere search ``WHERE col <<op>> sphere(query, radius)`` — i.e.
    ``dist(col, query) < radius`` (strict, src/sql/finalize.sql:492-574;
    impl operators_vecf32.rs:91-128).

    Expressed as a plain filter so Catalyst can combine it with other
    predicates, push partition pruning, etc.
    """
    d = distance(F.col(col), query, metric)
    out = df.where(F.col(col).isNotNull()).withColumn(dist_col, d).where(F.col(dist_col) < radius)
    if filter is not None:
        out = out.where(filter)
    return out


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    k: int,
    metric: str = "l2",
    dist_col: str = "distance",
    broadcast_left: bool = True,
    partition_keys: Iterable[str] | None = None,
    tiebreaker: str | None = None,
) -> DataFrame:
    """For every row of ``left`` (queries), the top-k rows of ``right``
    (corpus) by distance — the LATERAL-join idiom users of the reference
    write by hand (SURVEY.md §2.6 "similarity join").

    Plan shape: broadcast the (small) query side, crossJoin — evaluated
    as BroadcastNestedLoopJoin so the corpus is scanned once, partitioned
    — then per-query top-k via window rank.  At scale, the corpus-side
    scan dominates and parallelizes across its partitions; use the IVF
    index path for large query sides.

    ``partition_keys`` identifies a query row for the window.  When not
    given, a synthetic row id is derived — windowing on the float vector
    column itself would make group identity hinge on float/NaN equality
    and silently merge duplicate query rows.
    """
    from pyspark.sql import Window

    synthetic_qid = partition_keys is None
    if synthetic_qid:
        left = left.withColumn("__qid", F.monotonically_increasing_id())
        qkeys = ["__qid"]
    else:
        qkeys = list(partition_keys)
    lhs = F.broadcast(left) if broadcast_left else left
    joined = lhs.crossJoin(right).where(F.col(right_col).isNotNull())
    d = distance(F.col(right_col), F.col(left_col), metric)
    joined = joined.withColumn(dist_col, d)
    order = [F.col(dist_col).asc()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    w = Window.partitionBy(*qkeys).orderBy(*order)
    out = (
        joined.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= k)
        .drop("__rank")
    )
    return out.drop("__qid") if synthetic_qid else out
