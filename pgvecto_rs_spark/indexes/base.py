"""Shared plumbing for persisted vector indexes."""

from __future__ import annotations

import json
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


def stored_schema(path: str):
    """The Spark schema of one Parquet file: the one Spark writes into
    the footer, else converted from the Arrow schema.  A driver-side
    footer read: left to infer it, a Spark read runs a job."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    arrow = pq.read_schema(path)
    stored = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if stored is not None:
        return StructType.fromJson(json.loads(stored))
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(arrow)


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


def prepare_rows(df: DataFrame, id_col, vector_col: str, normalize: bool,
                 storage: str = "f32", where=None, keep: Sequence[str] = ()) -> DataFrame:
    """(id, vec, *keep): the rows an index stores, before routing and
    encoding.  NULL vectors are skipped (am.rs:199-211), ``where``
    keeps a partial index's rows, cos vectors are normalized, values are
    cast to f32, and f16 storage snaps them to the binary16 grid, so
    training, routing, graphs and radii see the values the stored words
    decode to.  ``id_col`` is a column name or a Column.  ``create``,
    ``apply_updates`` and compaction prepare rows only here."""
    src = df.where(F.col(vector_col).isNotNull())
    if where is not None:
        src = src.where(where)
    vec = normalized_col(vector_col, normalize).cast("array<float>")
    if storage == "f16":
        from pgvecto_rs_spark.functions.dense import to_f16_grid

        vec = to_f16_grid(vec)
    ids = F.col(id_col) if isinstance(id_col, str) else id_col
    return src.select(ids.alias("id"), vec.alias("vec"), *[F.col(c) for c in keep])


def stored_vectors(df: DataFrame, storage: str) -> DataFrame:
    """Stored index rows with their vectors in ``vec`` as array<float>:
    f16 storage decodes the binary16 ``vec16`` words (every grid value
    is exact in f32)."""
    if storage != "f16":
        return df

    @F.pandas_udf("array<float>")
    def f16_floats(vb: pd.Series) -> pd.Series:
        return vb.map(
            lambda b: None
            if b is None
            else np.frombuffer(b, dtype=np.float16).astype(np.float32).tolist()
        )

    return df.withColumn("vec", f16_floats("vec16")).drop("vec16")


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


def normalized_col(col, do_normalize: bool):
    """Optionally L2-normalize an array<float> column (cos preprocessing,
    am_options.rs:231-243), as a native expression."""
    if not do_normalize:
        return F.col(col) if isinstance(col, str) else col
    from pgvecto_rs_spark.functions.dense import vector_normalize

    return vector_normalize(col)
