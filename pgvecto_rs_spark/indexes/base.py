"""Shared plumbing for persisted vector indexes."""

from __future__ import annotations

import json
import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import segment_worker as SW

# the import-light executor copy, shared by driver-side code (centroid
# selection, probes)
from pgvecto_rs_spark.indexes.segment_worker import np_kernel_distance

META_FILE = "_vindex_meta.json"
_ISIN_LITERAL_CAP = 512  # max ids to inline as IN-list literals (planning cost)

#: candidate sets larger than this rerank through a join instead of a
#: driver-collected id list
RERANK_FETCH_CAP = 8192

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


def exact_distance(meta: dict, q: Sequence[float]):
    """Exact kernel distance Column over the stored vectors: the Arrow
    kernel (``arrow_distance``) on f32 ``vec``, or the decode-and-score
    UDF on f16 ``vec16`` words."""
    qlist = [float(v) for v in q]
    if meta.get("storage") == "f16":
        return f16_distance(meta["kernel"], qlist)
    from pgvecto_rs_spark.operators.search import arrow_distance

    return arrow_distance(qlist, meta["kernel"])(F.col("vec"))


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


def apply_residual(df: DataFrame, filter=None, exclude: DataFrame | None = None) -> DataFrame:
    """Apply the residual predicate and/or the exclusion set to a candidate
    DataFrame that has an ``id`` column.

    ``exclude`` is a DataFrame with an ``id`` column (e.g. tombstones) and
    is applied as a broadcast LEFT ANTI join, never turned into an
    IN-list: at 100 TB the tombstone set can be millions of ids; an
    anti-join shuffles nothing on the big side and ships only the id set
    to executors (compaction bounds its size via the delete threshold).
    These are the Spark plans.  A call the driver serves
    (``batch.route``: an index under ``batch.DRIVER_SERVE_BYTES``) takes
    both as id masks inside the block runners instead: the filter
    resolved over the scanned units' stored columns
    (``batch.allowed``), and an ``exclude`` held in the driver, whose
    collect runs no job (``batch.denied``)."""
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


# ---------------------------------------------------------------------------
# Per-query quantized two-phase search (flat and IVF)
# ---------------------------------------------------------------------------


def code_scores(index, df: DataFrame, quant: str, q: np.ndarray,
                cents: dict | None = None, keep=None) -> DataFrame:
    """(id, adist): every row's approximate kernel distance to ``q``
    from its codes alone, in one ``mapInArrow`` pass that reads only
    (id[, list_id], codes|rq).  Each Arrow batch scores with the batch
    runners' kernel (``segment_worker._approx_dists``), so a row's
    adist is the one ``search_batch`` computes for the same query.
    ``cents`` maps the probed IVF list ids to their centroids (codes
    are residuals); flat passes None.  The closure carries the SQ
    constants or the path of the saved PQ/RaBitQ constants, which
    executors load once through a cache: nothing is broadcast per
    query.

    With ``keep`` (SQ codes only) each partition instead emits
    (id, lb, ub) — the ``sq_error`` bounds on the exact distance — for
    the rows ``keep(ids, lb, ub)`` selects among all of its rows."""
    from pgvecto_rs_spark.indexes import batch as BT

    params = BT.quant_params(index, quant)
    kernel = index.meta["kernel"]
    col = SW._unit_col(quant, "vec")
    qs = np.asarray(q, dtype=np.float64)[None, :]
    err = sq_error(index.meta, qs[0]) if keep is not None else None

    def adists(b):
        import pyarrow as pa

        tbl = pa.Table.from_batches([b])
        unit = SW._read_unit(tbl, col)
        if cents is None:
            ad = SW._approx_dists(quant, params, kernel, unit, qs)[:, 0]
        else:
            lids = tbl.column("list_id").to_numpy()
            ad = np.empty(len(lids))
            for lid in np.unique(lids).tolist():
                m = lids == lid
                part = tuple(u[m] for u in unit) if isinstance(unit, tuple) else unit[m]
                ad[m] = SW._approx_dists(quant, params, kernel, part, qs, cents[lid])[:, 0]
        return tbl.column("id").to_numpy().astype(np.int64), ad

    def score(batches):
        import pyarrow as pa

        parts = (adists(b) for b in batches if b.num_rows)
        if keep is None:
            for ids, ad in parts:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids), pa.array(ad)], names=["id", "adist"]
                )
            return
        got = list(parts)
        if not got:
            return
        ids = np.concatenate([g[0] for g in got])
        lb, ub = SW.sq_bounds(kernel, err, np.concatenate([g[1] for g in got]))
        m = keep(ids, lb, ub)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids[m]), pa.array(lb[m]), pa.array(ub[m])], names=["id", "lb", "ub"]
        )

    cols = ["id"] + (["list_id"] if cents is not None else []) + [col]
    schema = "id bigint, adist double" if keep is None else "id bigint, lb double, ub double"
    return df.select(*cols).mapInArrow(score, schema)


def sq_error(meta: dict, q: np.ndarray) -> float:
    """The SQ decode-error term of ``segment_worker.sq_bounds``
    (reranker/error.rs): decode error per dim is at most
    eps_j = width_j / (2·levels), so ||eps||₂ for l2 and Σ |q_j|·eps_j
    for dot."""
    levels = (1 << meta.get("sq_bits", 8)) - 1
    eps = np.asarray(meta["sq_width"], dtype=np.float64) / (2.0 * levels)
    if meta["kernel"] == "l2":
        return float(np.sqrt((eps**2).sum()))
    return float(np.abs(q) @ eps)


def two_phase(index, df: DataFrame, quant: str, q: np.ndarray, k: int = 10,
              window: int = 0, radius: float | None = None,
              cents: dict | None = None) -> DataFrame:
    """Quantized two-phase search over ``df`` (rows with id, codes and
    vec, already filtered): ``code_scores`` scores the codes, a cut
    keeps the rerank candidates, their exact vectors are fetched by id
    and rescored with ``exact_distance`` (the unquantized scorer), and
    the result is the top ``k`` by (distance, id), or every row under
    ``radius`` (SQL units).  The candidate cut is

    - ``window`` > 0: the best ``window`` by (adist, id), per distinct
      id (with replicas > 1 an id is scored once per probed list, and
      duplicates would waste window slots);
    - otherwise the SQ error bound (``segment_worker.sq_bounds``): for
      top-k, every row whose lower bound beats the k-th smallest per-id
      upper bound t (provably holds the exact top-k); for a range,
      every row whose lower bound is inside the radius.

    The top-k bound cut scores once: each partition emits its rows with
    lower bound ≤ its own k-th smallest per-id upper bound (all rows
    when it holds fewer than k ids).  A partition's threshold is at
    least t and every top-k id's best row is emitted.  The driver
    collects the emitted rows' first ``RERANK_FETCH_CAP`` + 1 by lower
    bound, as Arrow.  Every row with lower bound ≤ t, so every top-k
    row, is in that head whenever t from the head is below its last
    lower bound; otherwise the head's t (≥ the global t) cuts the
    emitted rows as a Spark plan.

    Candidate ids reach the driver and come back as a pushed ``id IN``
    filter (row-group skipping on the id-sorted layout), a broadcast id
    join above ``_ISIN_LITERAL_CAP`` ids, and a plain join against the
    candidates above ``RERANK_FETCH_CAP`` — a large-radius ring can be
    corpus-scale, too big to force a broadcast."""
    meta = index.meta
    dedup = meta.get("replicas", 1) > 1
    cand = None
    if window:
        scored = code_scores(index, df, quant, q, cents)
        if dedup:
            scored = scored.groupBy("id").agg(F.min("adist").alias("adist"))
        cand = scored.orderBy(F.col("adist").asc(), F.col("id").asc()).limit(int(window))
    elif radius is not None:
        kradius = float(radius) - 1.0 if meta["metric"] == "cos" else float(radius)

        def in_ring(ids, lb, ub):
            # relative margin: FP error in the bound scales with its own
            # magnitude (dot/cos bounds can dwarf |kradius|)
            return lb < kradius + 1e-9 * np.maximum(max(1.0, abs(kradius)), np.abs(lb))

        cand = code_scores(index, df, quant, q, cents, keep=in_ring)
    else:
        kk = int(k)

        def under_kth(ids, lb, ub):
            return lb <= SW.kth_upper(ids, ub, kk)

        emitted = code_scores(index, df, quant, q, cents, keep=under_kth)
        # the driver takes the first RERANK_FETCH_CAP + 1 emitted rows
        # by lower bound, as Arrow
        head = emitted.orderBy("lb", "id").limit(RERANK_FETCH_CAP + 1).toArrow()
        hid, lb, ub = (head.column(c).to_numpy() for c in ("id", "lb", "ub"))
        t = SW.kth_upper(hid, ub, kk)
        if len(hid) <= RERANK_FETCH_CAP or t < lb[-1]:
            # the head holds every row with lb <= t, top-k ones included
            ids = np.unique(hid[lb <= t]).tolist()
        else:
            # t from the head bounds the global one from above
            cand = emitted.where(F.col("lb") <= float(t))
    if cand is not None:
        ids = [r["id"] for r in cand.select("id").limit(RERANK_FETCH_CAP + 1).collect()]
    if len(ids) <= _ISIN_LITERAL_CAP:
        fetched = df.where(F.col("id").isin(ids))
    elif len(ids) <= RERANK_FETCH_CAP:
        # a giant IN-list costs more to plan than its row-group skipping
        # saves
        iddf = local_frame(index.spark, [(int(i),) for i in ids], "id bigint")
        fetched = df.join(F.broadcast(iddf), "id")
    else:
        fetched = df.join(cand.select("id"), "id")
    out = fetched.withColumn("distance", post_map(meta["metric"], exact_distance(meta, q)))
    if dedup:
        # a replicated id is fetched once per list holding it; the rows
        # carry the same vector, so any one per id is exact
        out = out.dropDuplicates(["id"])
    if radius is not None:
        out = out.where(F.col("distance") < F.lit(float(radius)))
    else:
        out = out.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(int(k))
    return out.drop("vec", "codes", "rq")
