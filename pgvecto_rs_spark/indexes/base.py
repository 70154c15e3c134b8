"""Shared plumbing for persisted vector indexes."""

from __future__ import annotations

import json
import math
import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the import-light executor copy, shared by driver-side code (centroid
# selection, probes)
from pgvecto_rs_spark.indexes.segment_worker import np_kernel_distance

META_FILE = "_vindex_meta.json"
_ISIN_LITERAL_CAP = 512  # max ids to inline as IN-list literals (planning cost)

# DistanceKind (crates/base/src/distance.rs:5-10).  `cos` is not a
# kernel kind: the opclass normalizes + runs Dot, post-maps d+1
# (src/index/am_options.rs:54-62, 231-249).  We keep the same design.
KERNEL_METRICS = ("l2", "dot")
SQL_METRICS = ("l2", "dot", "cos")


def write_meta(path: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, META_FILE), "w") as f:
        json.dump(meta, f, indent=2)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, META_FILE)) as f:
        return json.load(f)


def resolve_metric(metric: str) -> tuple[str, bool]:
    """Map the SQL-level metric to (kernel_metric, normalize) —
    the reference's Cos -> normalize+Dot rewrite."""
    m = metric.lower()
    if m == "cos":
        return "dot", True
    if m in KERNEL_METRICS:
        return m, False
    raise ValueError(f"unsupported metric {metric!r} (use {SQL_METRICS})")


def post_map(metric: str, dist_col):
    """Kernel distance -> SQL-level distance (am_options.rs:244-249:
    cos distance = dot distance + 1 on normalized vectors)."""
    if metric.lower() == "cos":
        return dist_col + F.lit(1.0)
    return dist_col


def f16_distance(kernel: str, q: Sequence[float], col: str = "vec16"):
    """Exact kernel distance Column over packed IEEE binary16 words
    (vecf16 storage): a decode-and-score pandas UDF.  Grid values decode
    exactly, so these ARE the vecf16 type's distances (the reference
    also computes f16 via wider floats)."""
    qv = np.asarray(q, dtype=np.float64)

    @F.pandas_udf("double")
    def f16_score(vb: pd.Series) -> pd.Series:
        mat = np.asarray(
            [np.frombuffer(b, dtype=np.float16) for b in vb], dtype=np.float64
        )
        return pd.Series(np_kernel_distance(kernel, mat, qv))

    return f16_score(F.col(col))


def normalize_rows(mat: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(mat, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return mat / n


def prep_query(q: Sequence[float], normalize: bool) -> np.ndarray:
    arr = np.asarray(q, dtype=np.float64)
    if normalize:
        n = np.linalg.norm(arr)
        if n > 0:
            arr = arr / n
    return arr


def apply_residual(df: DataFrame, filter=None, exclude: DataFrame | None = None) -> DataFrame:
    """Apply the residual predicate and/or the exclusion set to a candidate
    DataFrame that has an ``id`` column.

    ``exclude`` is a DataFrame with an ``id`` column (e.g. tombstones) and
    is applied as a broadcast LEFT ANTI join — never collected to the
    driver, never turned into an IN-list.  At 100 TB the tombstone set can
    be millions of ids; an anti-join shuffles nothing on the big side and
    ships only the id set to executors (compaction bounds its size via the
    delete threshold)."""
    if filter is not None:
        df = df.where(filter)
    if exclude is not None:
        df = df.join(F.broadcast(exclude.select("id")), "id", "left_anti")
    return df


def normalized_col(col, do_normalize: bool):
    """Optionally L2-normalize an array<float> column (cos preprocessing,
    am_options.rs:231-243), as a native expression."""
    if not do_normalize:
        return F.col(col) if isinstance(col, str) else col
    from pgvecto_rs_spark.functions.dense import vector_normalize

    return vector_normalize(col)
