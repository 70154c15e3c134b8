"""fvecs/ivecs benchmark-file readers (the reference CLI's dataset
format, crates/cli/src/read.rs).

Format: each record is ``int32 dim`` followed by ``dim`` little-endian
values (f32 for fvecs, i32 for ivecs).  Files are read with numpy on
the driver (these are benchmark inputs, typically ≤ a few GB) and
enter Spark as one Arrow table; for larger corpora convert once to
Parquet and use the normal scan path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pgvecto_rs_spark.indexes.base import local_frame

__all__ = ["read_bvecs", "read_fvecs", "read_ivecs"]


def _read_vecs(path: str, dtype) -> np.ndarray:
    raw = np.fromfile(path, dtype=np.int32)
    if len(raw) == 0:
        return np.empty((0, 0), dtype=dtype)
    dim = int(raw[0])
    rec = dim + 1
    if len(raw) % rec != 0:
        raise ValueError(f"{path}: not a whole number of {dim}-dim records")
    mat = raw.reshape(-1, rec)[:, 1:]
    return mat.view(np.float32) if dtype == np.float32 else mat


def _frame(spark: SparkSession, mat: np.ndarray, id_offset: int, schema: str) -> DataFrame:
    return local_frame(spark, [(id_offset + i, row) for i, row in enumerate(mat)], schema)


def read_fvecs(spark: SparkSession, path: str, id_offset: int = 0) -> DataFrame:
    mat = _read_vecs(path, np.float32)
    return _frame(spark, mat, id_offset, "vec_id bigint, embedding array<float>")


def read_ivecs(spark: SparkSession, path: str, id_offset: int = 0) -> DataFrame:
    mat = _read_vecs(path, np.int32)
    return _frame(spark, mat, id_offset, "vec_id bigint, neighbors array<int>")


def read_bvecs(spark: SparkSession, path: str, id_offset: int = 0) -> DataFrame:
    """bvecs (SIFT1B-style): ``int32 dim`` + ``dim`` uint8 components
    per record — the third member of the TexMex benchmark-file family
    the reference CLI's corpora come in.  Components surface as the
    dense f32 logical type (uint8 values are exact in f32)."""
    raw = np.fromfile(path, dtype=np.uint8)
    if len(raw) == 0:
        return local_frame(spark, [], "vec_id bigint, embedding array<float>")
    dim = int(np.frombuffer(raw[:4].tobytes(), dtype=np.int32)[0])
    rec = 4 + dim
    if len(raw) % rec != 0:
        raise ValueError(f"{path}: not a whole number of {dim}-dim records")
    mat = raw.reshape(-1, rec)[:, 4:].astype(np.float32)
    return _frame(spark, mat, id_offset, "vec_id bigint, embedding array<float>")
