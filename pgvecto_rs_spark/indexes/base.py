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


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held rows (tuples in ``schema`` column
    order; ``schema`` a StructType or DDL string), shipped as one Arrow
    table.  ``createDataFrame(list)`` pickles every row through a
    Python RDD (~0.4 s for 100 rows in a warm session); an Arrow table
    under the local-relation threshold becomes a LocalTableScan and
    runs no job until it is used."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def training_sample(
    df: DataFrame,
    col: str,
    fraction: float,
    seed: int,
    cap: int,
    tie: str | None = None,
    by_id: bool = False,
) -> np.ndarray:
    """Up to ``cap`` rows of ``df[col]`` as an f64 matrix: a seeded
    ``sample`` collected, sorted by the Knuth-hashed id, then the id
    (then ``tie``, for tables holding an id more than once), and trimmed
    on the driver.  A ``limit`` before the collect would keep whichever
    partitions answered first, so the training set, and every codebook
    or centroid trained on it, would depend on the partition layout;
    the hash keeps the trim from biasing the set toward low ids (ids
    often correlate with ingest time or content).  ``by_id`` returns
    the kept rows in id order, the order ``quantization.pq_train``
    strides over (HNSW segments hand it id-sorted rows)."""
    cols = ["id", col] + ([tie] if tie else [])
    rows = df.select(*cols).sample(fraction=fraction, seed=seed).collect()

    def tail(r):
        return (int(r["id"]), r[tie] if tie else 0)

    rows.sort(key=lambda r: ((int(r["id"]) * 2654435761) & 0xFFFFFFFF, *tail(r)))
    rows = rows[:cap]
    if by_id:
        rows.sort(key=tail)
    return np.asarray([r[col] for r in rows], dtype=np.float64)


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


def f16_words(col: str):
    """array<float> Column -> packed IEEE binary16 words (vecf16
    storage: 2 bytes per dim on disk)."""

    @F.pandas_udf("binary")
    def to_f16(v: pd.Series) -> pd.Series:
        return v.map(
            lambda x: None
            if x is None
            else np.asarray(x, dtype=np.float32).astype(np.float16).tobytes()
        )

    return to_f16(F.col(col))


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
