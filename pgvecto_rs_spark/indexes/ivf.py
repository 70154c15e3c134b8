"""IVF (inverted-file) ANN index — the scale workhorse.

Reference: crates/ivf/src/lib.rs (build :122-211, vbase probes :68-119,
nprobe selection :230-239), k-means crates/k_means/ (nlist=1000 default,
10 Lloyd iterations, spherical option = re-normalize centroids each
round; sample cap 65536 via common/src/sample.rs).

Spark-first design (SURVEY.md §7 Phase 3):

- **train**: sample ≤65536 vectors to the driver (same cap as the
  reference), vectorized numpy Lloyd iterations — centroids are
  nlist×dims floats, trivially driver-sized even at nlist=65536.
- **assign**: broadcast centroids; one Arrow-batched pandas UDF computes
  argmin list_id per row (a single (batch × nlist) matmul).
- **layout**: Parquet *partitioned by* ``list_id``.  At query time
  ``WHERE list_id IN (<top-nprobe>)`` is partition pruning — Spark
  reads only nprobe/nlist of the data, the exact analogue of probing
  nprobe inverted lists.  At 100 TB with nlist=1000, nprobe=10 this
  scans ~1% of the corpus, embarrassingly parallel across executors.
- **search**: centroid top-nprobe on the driver (numpy over the small
  centroid table), pruned scan, exact kernel distance, TakeOrdered k.

Cos metric follows the reference opclass: vectors are normalized at
build, queries normalized at search, kernel is Dot, SQL distance is
``d + 1`` (src/index/am_options.rs:54-62, 231-249).
"""

from __future__ import annotations

import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.operators.search import distance as dist_expr

DEFAULT_NLIST = 1000  # crates/base/src/index.rs:368-370
DEFAULT_NPROBE = 10  # crates/base/src/index.rs:558-560


def default_nprobe(nlist: int) -> int:
    """Scale-aware default: probe ~5% of lists, floor 10 (the
    reference's flat default, index.rs:558-560, is tuned for its small
    default nlist).  Calibrated on the 1M-row / nlist=1024 quality
    sweep (scripts/ann_quality_experiment.py): 2% of lists gave
    recall@10 ~0.8; 4% read 0.956 on r10's k-means draw but 0.946 on
    r11's — within sampling jitter of the 0.95 bar, so the default
    takes 5% for margin (r11 re-measurement at nprobe=52 with the
    deterministic training sample: 0.990 on every ivf quantizer cell,
    BENCHNOTES r11).  The training sample is deterministic since r11,
    so the default operating point is a fixed number per corpus, not a
    draw.  Identical to the old nlist/50 rule for every nlist <= 200
    (all bench/oracle configurations)."""
    return max(DEFAULT_NPROBE, -(-nlist // 20))


KMEANS_ITERS = 10  # crates/k_means/src/lib.rs:40-46
SAMPLE_CAP = 65536  # common/src/sample.rs


def _kmeanspp_init(x: np.ndarray, k: int, rng: np.random.Generator) -> np.ndarray:
    """k-means++ seeding (better spread than the reference's random
    init) on a bounded sub-sample, D² sampling."""
    sub = x if len(x) <= 16384 else x[rng.choice(len(x), 16384, replace=False)]
    cents = [sub[rng.integers(len(sub))]]
    d2 = np.einsum("ij,ij->i", sub - cents[0], sub - cents[0])
    for _ in range(k - 1):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = sub[rng.choice(len(sub), p=p)]
        cents.append(nxt)
        nd = np.einsum("ij,ij->i", sub - nxt, sub - nxt)
        d2 = np.minimum(d2, nd)
    return np.asarray(cents)


def _lloyd(
    x: np.ndarray, nlist: int, iters: int = KMEANS_ITERS, spherical: bool = False, seed: int = 42
) -> np.ndarray:
    """Vectorized Lloyd k-means (crates/k_means/src/lloyd.rs semantics:
    fixed iterations, empty clusters re-seeded from random points),
    k-means++ seeded."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    nlist = min(nlist, n)
    centroids = _kmeanspp_init(x, nlist, rng).copy()
    # assignment scratch reused across iterations: the naive expression
    # materializes three (n x nlist) temporaries per iteration and the
    # allocation+traffic dominated PQ training at high dims (r12 — the
    # hnsw_pq 256-dim quantizer phase measured 3x the graph build).
    # The in-place order below is BIT-IDENTICAL to the old expression:
    # gemm out= writes the same product, (-2)*t == -(2*t) exactly, and
    # IEEE addition commutes, so ((-2xc) + x2) + c2 == (x2 - 2xc) + c2.
    x2 = np.einsum("ij,ij->i", x, x)  # constant across iterations
    d = np.empty((n, nlist), dtype=np.float64)
    for _ in range(iters):
        np.dot(x, centroids.T, out=d)
        d *= -2.0
        d += x2[:, None]
        d += np.einsum("ij,ij->i", centroids, centroids)[None, :]
        assign = np.argmin(d, axis=1)
        for c in range(nlist):
            mask = assign == c
            if mask.any():
                centroids[c] = x[mask].mean(axis=0)
            else:  # re-seed empty cluster (lloyd.rs does the same)
                centroids[c] = x[rng.integers(0, n)]
        if spherical:  # k_means/src/lib.rs:24-30
            centroids = base.normalize_rows(centroids)
    return centroids.astype(np.float32)


def _compute_list_radii(
    spark: SparkSession, lists: DataFrame, centroids: np.ndarray, storage: str = "f32"
) -> dict[int, float]:
    """max residual L2 norm per list over ``lists`` rows (f64 over the
    stored values — the same values the exact scan reads; f16 storage
    decodes the stored binary16 words)."""
    bc = spark.sparkContext.broadcast(centroids.astype(np.float64))

    if storage == "f16":

        @F.pandas_udf("double")
        def rnorm(v: pd.Series, lid: pd.Series) -> pd.Series:
            mat = np.asarray(
                [np.frombuffer(b, dtype=np.float16) for b in v], dtype=np.float64
            )
            res = mat - bc.value[lid.to_numpy()]
            return pd.Series(np.sqrt(np.einsum("ij,ij->i", res, res)))

        vcol = "vec16"
    else:

        @F.pandas_udf("double")
        def rnorm(v: pd.Series, lid: pd.Series) -> pd.Series:
            res = np.asarray(v.tolist(), dtype=np.float64) - bc.value[lid.to_numpy()]
            return pd.Series(np.sqrt(np.einsum("ij,ij->i", res, res)))

        vcol = "vec"

    rows = (
        lists.select(rnorm(vcol, F.col("list_id").cast("int")).alias("r"), "list_id")
        .groupBy("list_id")
        .agg(F.max("r").alias("mr"))
        .collect()
    )
    return {int(r["list_id"]): float(r["mr"]) for r in rows}


def _save_list_radii(
    spark: SparkSession,
    lists: DataFrame,
    centroids: np.ndarray,
    nlist: int,
    path: str,
    storage: str = "f32",
) -> None:
    radii = np.zeros(nlist, dtype=np.float64)
    for lid, mr in _compute_list_radii(spark, lists, centroids, storage).items():
        radii[lid] = mr
    np.save(os.path.join(path, "list_radii.npy"), radii, allow_pickle=False)


class IVFIndex:
    #: triangle-inequality list pruning is lossless -- range_search is
    #: exact, safe for the planner's bare-sphere dispatch.
    RANGE_EXACT = True

    def __init__(self, spark: SparkSession, path: str, meta: dict, centroids: np.ndarray):
        self.spark = spark
        self.path = path
        self.meta = meta
        self.centroids = centroids
        self._lists_df: DataFrame | None = None
        self._radii: np.ndarray | None = None
        #: filtered-search widening stop reasons per handle
        #: ({"rounds", "full", "certified", "exhausted"}) —
        #: makes the certificate's fire rate measurable (r11 advice)
        self.widen_stats: dict[str, int] = {}

    def _lists(self) -> DataFrame:
        """The lists DataFrame, created once per index handle.

        Re-creating it per search would re-run Spark's parallel
        file-listing job over all nlist partition directories (one task
        per directory — measured as the dominant per-query cost at
        nlist=1000); a cached DataFrame keeps the InMemoryFileIndex and
        leaves only the pruned scan per query."""
        if self._lists_df is None:
            self._lists_df = self.spark.read.parquet(os.path.join(self.path, "lists"))
        return self._lists_df

    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        metric: str = "l2",
        nlist: int = DEFAULT_NLIST,
        spherical: bool = False,
        seed: int = 42,
        payload_cols: Sequence[str] = (),
        replicas: int = 1,
        where=None,  # partial index predicate (partition.slt 'partial index')
        residual_quantization: bool = False,  # back-compat alias for "sq8"
        quantization: str | None = None,  # None | "sq{1,2,4,8}" | "pq" | "rabitq"
        pq_ratio: int = 1,  # dims per subspace (base/src/index.rs:475-496)
        pq_bits: int = 8,  # codebook size 2^bits (base/src/index.rs:482-496)
        storage: str = "f32",  # "f32" | "f16" (vecf16: 2 bytes/dim on disk)
    ) -> "IVFIndex":
        """``replicas`` > 1 stores each vector in its ``replicas``
        nearest lists (multi-assignment).  A deliberate extension over
        the reference: trades replicas× storage for markedly better
        recall-per-probe (at 100 TB, storage is cheaper than scan I/O).
        Query-side results are deduped by id.

        ``quantization`` composes a quantizer into the IVF cells over
        *residuals* (vec − centroid[list]), mirroring the reference's
        quantizer-generic IVF (crates/ivf/src/lib.rs:68-119 scores via
        its Quantizer; options crates/base/src/index.rs:354-388):
        "sq8" = per-dim scalar codes (native decode), "pq" = product
        codes + per-query LUT, "rabitq" = sign-bit codes + estimator.
        At 100 TB, IVF+PQ is the standard memory/I/O operating point —
        the first-pass scan reads codes (n_sub bytes/row) instead of
        4·dims bytes/row."""
        kernel, do_norm = base.resolve_metric(metric)
        if storage not in ("f32", "f16"):
            raise ValueError(f"unknown storage {storage!r} (f32 | f16)")
        if storage == "f16" and (quantization is not None or residual_quantization):
            raise ValueError("f16 storage does not compose with quantization")
        src = df.where(F.col(vector_col).isNotNull())
        if where is not None:
            src = src.where(where)  # partial index: only matching rows are indexed  # NULLs not indexed (am.rs:199-211)
        vec = base.normalized_col(vector_col, do_norm).cast("array<float>")
        if storage == "f16":
            # vecf16 semantics: snap to the binary16 grid BEFORE training,
            # assignment and radii so every derived artifact matches the
            # values the stored words decode to
            from pgvecto_rs_spark.functions.dense import to_f16_grid

            vec = to_f16_grid(vec)
        prepared = src.select(
            F.col(id_col).alias("id"), vec.alias("vec"), *[F.col(c) for c in payload_cols]
        )

        # --- train on a driver-side sample (cap mirrors the reference).
        # r11: the old sample(...).limit(cap) kept whichever partitions
        # answered first, so two builds of the SAME file could train on
        # different subsets in different orders — recall at the default
        # operating point jittered ~±0.01 across processes.  sample()
        # itself is seed+content deterministic per partition; sorting by
        # id and trimming driver-side makes the whole build a pure
        # function of (file, options, seed).  The over-draw above the
        # cap is binomial (~±sqrt(cap) rows) — trivially collectable.
        n_total = prepared.count()
        fraction = min(1.0, (SAMPLE_CAP * 1.05 + 1024) / max(n_total, 1))
        sample = (
            prepared.select("id", "vec").sample(fraction=fraction, seed=seed).collect()
        )
        # order/trim by a Knuth-hashed id, not the raw id: the trim to
        # the cap must not bias the training set toward low ids (ids
        # often correlate with ingest time/content)
        sample.sort(
            key=lambda r: ((int(r["id"]) * 2654435761) & 0xFFFFFFFF, int(r["id"]))
        )
        x = np.asarray([r["vec"] for r in sample[:SAMPLE_CAP]], dtype=np.float64)
        if len(x) == 0:
            # issue_427.slt: an all-NULL (or empty) column must build an
            # empty index that searches to the empty set, not crash in
            # centroid seeding
            os.makedirs(os.path.join(path, "lists"), exist_ok=True)
            centroids = np.zeros((0, 0), dtype=np.float32)
            np.save(os.path.join(path, "centroids.npy"), centroids, allow_pickle=False)
            np.save(
                os.path.join(path, "list_radii.npy"),
                np.zeros(0, dtype=np.float64), allow_pickle=False,
            )
            meta = {
                "kind": "ivf", "metric": metric.lower(), "kernel": kernel,
                "normalize": do_norm, "nlist": 0, "dims": 0, "n_rows": 0,
                "spherical": spherical, "payload_cols": list(payload_cols),
                "replicas": 1, "storage": storage, "quantization": quantization,
                "residual_quantization": False,
            }
            base.write_meta(path, meta)
            return cls(spark, path, meta, centroids)
        nlist_eff = min(nlist, len(x))
        centroids = _lloyd(x, nlist_eff, spherical=spherical, seed=seed)

        # --- assign list ids with one broadcast matmul per Arrow batch.
        # Assignment runs in float32 (the input dtype): the (rows x
        # nlist) gemm is bandwidth-bound and list membership is a
        # routing decision — a boundary flip lands the vector in its
        # second-nearest list, which search handles identically (and
        # f32 is deterministic, so builds stay reproducible).  Residual
        # and quantization-bound math below stays f64.
        sc = spark.sparkContext
        bc = sc.broadcast(centroids.astype(np.float64))
        bc32 = sc.broadcast(centroids.astype(np.float32))
        c_sq32 = sc.broadcast(
            np.einsum("ij,ij->i", centroids.astype(np.float32), centroids.astype(np.float32))
        )

        r = max(1, min(replicas, nlist_eff))

        @F.pandas_udf("array<int>")
        def assign_lists(v: pd.Series) -> pd.Series:
            mat = np.asarray(v.tolist(), dtype=np.float32)
            cent = bc32.value
            d = np.float32(-2.0) * (mat @ cent.T) + c_sq32.value[None, :]
            if r == 1:
                top = np.argmin(d, axis=1)[:, None]
            else:
                top = np.argpartition(d, r - 1, axis=1)[:, :r]
            return pd.Series([row.astype("int32").tolist() for row in top])

        indexed = prepared.withColumn("list_id", F.explode(assign_lists("vec")))

        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        if residual_quantization and quantization is None:
            quantization = "sq8"
        lo = width = None
        if quantization is not None:
            # All quantizers code *residuals* (vec − centroid[list]): the
            # residual range is much tighter than the raw range, so the
            # codes lose less — the reference's residual_quantization
            # option, applied to whichever quantizer is composed in.
            @F.pandas_udf("array<float>")
            def residual(v: pd.Series, lid: pd.Series) -> pd.Series:
                cent = bc.value
                mat = np.asarray(v.tolist(), dtype=np.float64)
                res = mat - cent[lid.to_numpy()]
                return pd.Series([row.astype("float32").tolist() for row in res])

            indexed = indexed.withColumn("res", residual("vec", "list_id"))

        if quantization in _SQ_KINDS:
            levels = (1 << _SQ_KINDS[quantization]) - 1
            mm = (
                indexed.select(F.posexplode("res").alias("pos", "x"))
                .groupBy("pos")
                .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
                .orderBy("pos")
                .collect()
            )
            lo = np.array([m["lo"] for m in mm], dtype=np.float64)
            hi = np.array([m["hi"] for m in mm], dtype=np.float64)
            width = np.where(hi > lo, hi - lo, 1.0)
            lo_c = F.array(*[F.lit(float(v)) for v in lo])
            w_c = F.array(*[F.lit(float(v)) for v in width])
            codes = F.zip_with(
                F.col("res").cast("array<double>"),
                F.zip_with(lo_c, w_c, lambda a, b: F.struct(a.alias("lo"), b.alias("w"))),
                lambda x, p: F.least(
                    F.lit(levels),
                    F.greatest(F.lit(0), F.round((x - p["lo"]) / p["w"] * levels, 0).cast("int")),
                ).cast("smallint"),
            )
            indexed = indexed.withColumn("codes", codes).drop("res")
        elif quantization in ("pq", "rabitq"):
            from pgvecto_rs_spark.indexes import quantization as Qz

            os.makedirs(path, exist_ok=True)
            dims = int(centroids.shape[1])
            res_sample = (
                indexed.select("res").sample(fraction=fraction, seed=seed)
                .limit(SAMPLE_CAP)
                .collect()
            )
            rx = np.asarray([r["res"] for r in res_sample], dtype=np.float64)
            if quantization == "pq":
                n_sub = dims // pq_ratio
                books = Qz.pq_train(rx, n_sub, bits=pq_bits, seed=seed)
                np.save(os.path.join(path, "pq_codebooks.npy"), books, allow_pickle=False)
                indexed = indexed.withColumn(
                    "codes", Qz.pq_encode_udf(books, spark)("res")
                ).drop("res")
            else:
                proj = Qz.rabitq_projection(dims, seed)
                np.save(os.path.join(path, "rabitq_proj.npy"), proj, allow_pickle=False)
                indexed = indexed.withColumn(
                    "rq", Qz.rabitq_encode_udf(proj, spark)("res")
                ).drop("res")
        elif quantization is not None:
            raise ValueError(f"unknown quantization {quantization!r}")

        if storage == "f16":

            @F.pandas_udf("binary")
            def _to_f16_bytes(v: pd.Series) -> pd.Series:
                return v.map(
                    lambda x: None
                    if x is None
                    else np.asarray(x, dtype=np.float32).astype(np.float16).tobytes()
                )

            indexed = indexed.withColumn("vec16", _to_f16_bytes("vec")).drop("vec")
        (
            indexed.repartition("list_id")
            .sortWithinPartitions("id")  # row-group min/max skipping for
            # the rerank's id IN (...) fetch (two-phase quantized scan)
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(path, "lists"))
        )

        np.save(os.path.join(path, "centroids.npy"), centroids, allow_pickle=False)
        # per-list max residual norm — the triangle-inequality pruning
        # bound for index-accelerated range search (list_radii docstring);
        # computed from the WRITTEN lists so stored-f32 rounding is
        # exactly what the exact range scan will see
        _save_list_radii(
            spark, spark.read.parquet(os.path.join(path, "lists")),
            centroids, int(nlist_eff), path, storage=storage,
        )
        meta = {
            "kind": "ivf",
            "metric": metric.lower(),
            "kernel": kernel,
            "normalize": do_norm,
            "nlist": int(nlist_eff),
            "dims": int(centroids.shape[1]),
            "n_rows": int(n_total),
            "spherical": spherical,
            "payload_cols": list(payload_cols),
            "replicas": int(r),
            "storage": storage,
            "quantization": quantization,
            "residual_quantization": quantization in _SQ_KINDS,  # back-compat
        }
        if quantization in _SQ_KINDS:
            meta["sq_lo"] = lo.tolist()
            meta["sq_width"] = width.tolist()
            meta["sq_bits"] = _SQ_KINDS[quantization]
        if quantization == "pq":
            meta["pq_subspaces"] = int(centroids.shape[1]) // pq_ratio
            meta["pq_ratio"] = int(pq_ratio)
        base.write_meta(path, meta)
        return cls(spark, path, meta, centroids)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "IVFIndex":
        meta = base.read_meta(path)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(spark, path, meta, centroids)

    # ------------------------------------------------------------------
    def _assign_udf(self):
        """List assignment against the STORED centroids (no retrain).
        Same f32 routing kernel as create() so delta rows assign exactly
        as build-time rows would."""
        sc = self.spark.sparkContext
        cent = self.centroids.astype(np.float32)
        bc = sc.broadcast(cent)
        c_sq = sc.broadcast(np.einsum("ij,ij->i", cent, cent))
        r = self.meta.get("replicas", 1)

        @F.pandas_udf("array<int>")
        def assign_lists(v: pd.Series) -> pd.Series:
            mat = np.asarray(v.tolist(), dtype=np.float32)
            d = np.float32(-2.0) * (mat @ bc.value.T) + c_sq.value[None, :]
            if r == 1:
                top = np.argmin(d, axis=1)[:, None]
            else:
                top = np.argpartition(d, r - 1, axis=1)[:, :r]
            return pd.Series([row.astype("int32").tolist() for row in top])

        return assign_lists

    def _encode_delta(self, indexed: DataFrame) -> DataFrame:
        """Encode (vec, list_id) rows with the STORED quantizer constants
        (meta SQ bounds / saved PQ codebooks / RaBitQ projection).  The
        incremental path never retrains — mirroring the reference's merge
        of affected segments only (optimizing/mod.rs:58-105)."""
        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        quant = self.meta.get("quantization")
        if quant is None:
            return indexed
        bc = self.spark.sparkContext.broadcast(self.centroids.astype(np.float64))

        @F.pandas_udf("array<float>")
        def residual(v: pd.Series, lid: pd.Series) -> pd.Series:
            mat = np.asarray(v.tolist(), dtype=np.float64)
            res = mat - bc.value[lid.to_numpy()]
            return pd.Series([row.astype("float32").tolist() for row in res])

        indexed = indexed.withColumn("res", residual("vec", "list_id"))
        if quant in _SQ_KINDS:
            levels = (1 << _SQ_KINDS[quant]) - 1
            lo_c = F.array(*[F.lit(float(v)) for v in self.meta["sq_lo"]])
            w_c = F.array(*[F.lit(float(v)) for v in self.meta["sq_width"]])
            codes = F.zip_with(
                F.col("res").cast("array<double>"),
                F.zip_with(lo_c, w_c, lambda a, b: F.struct(a.alias("lo"), b.alias("w"))),
                lambda x, p: F.least(
                    F.lit(levels),
                    F.greatest(F.lit(0), F.round((x - p["lo"]) / p["w"] * levels, 0).cast("int")),
                ).cast("smallint"),
            )
            return indexed.withColumn("codes", codes).drop("res")
        from pgvecto_rs_spark.indexes import quantization as Qz

        if quant == "pq":
            books = np.load(os.path.join(self.path, "pq_codebooks.npy"))
            return indexed.withColumn(
                "codes", Qz.pq_encode_udf(books, self.spark)("res")
            ).drop("res")
        proj = np.load(os.path.join(self.path, "rabitq_proj.npy"))
        return indexed.withColumn(
            "rq", Qz.rabitq_encode_udf(proj, self.spark)("res")
        ).drop("res")

    def apply_updates(
        self,
        delete_ids: DataFrame | None = None,
        insert_rows: DataFrame | None = None,
        id_col: str = "id",
        vector_col: str = "vec",
    ) -> list[int]:
        """Incremental maintenance (the reference merges only affected
        segments, crates/index/src/optimizing/mod.rs:58-105): assign new
        rows to the EXISTING centroids and rewrite ONLY the touched
        list_id partitions.  Deletes/re-inserts touch the lists holding
        their old rows (found by a column-pruned (id, list_id) scan +
        broadcast semi-join); inserts touch their assigned lists.
        Untouched list partitions keep their files byte-for-byte;
        centroids and quantizer constants are never retrained.  Returns
        the rewritten list ids."""
        import shutil

        lists_dir = os.path.join(self.path, "lists")
        spark = self.spark
        lists = spark.read.parquet(lists_dir)

        # ids whose OLD rows must go: deletes plus re-inserted ids
        remove = None
        if delete_ids is not None:
            remove = delete_ids.select(F.col(id_col).cast("long").alias("id")).distinct()
        storage = self.meta.get("storage", "f32")
        add = None
        if insert_rows is not None:
            vec = base.normalized_col(vector_col, self.meta["normalize"]).cast("array<float>")
            if storage == "f16":
                from pgvecto_rs_spark.functions.dense import to_f16_grid

                vec = to_f16_grid(vec)
            payloads = [
                c for c in self.meta.get("payload_cols", []) if c in insert_rows.columns
            ]
            add = insert_rows.select(
                F.col(id_col).cast("long").alias("id"),
                vec.alias("vec"),
                *[F.col(c) for c in payloads],
            ).withColumn("list_id", F.explode(self._assign_udf()("vec")))
            newids = add.select("id").distinct()
            remove = newids if remove is None else remove.unionByName(newids).distinct()

        affected: set[int] = set()
        if remove is not None:
            affected |= {
                r["list_id"]
                for r in lists.select("id", "list_id")
                .join(F.broadcast(remove), "id")
                .select("list_id")
                .distinct()
                .collect()
            }
        if add is not None:
            affected |= {r["list_id"] for r in add.select("list_id").distinct().collect()}
        if not affected:
            return []
        segs = sorted(int(s) for s in affected)

        keep = lists.where(F.col("list_id").isin(segs))
        if remove is not None:
            keep = keep.join(F.broadcast(remove), "id", "left_anti")
        live = keep
        if add is not None:
            delta = self._encode_delta(add)
            if storage == "f16":

                @F.pandas_udf("binary")
                def _to_f16_bytes(v: pd.Series) -> pd.Series:
                    return v.map(
                        lambda x: None
                        if x is None
                        else np.asarray(x, dtype=np.float32).astype(np.float16).tobytes()
                    )

                delta = delta.withColumn("vec16", _to_f16_bytes("vec")).drop("vec")
            live = keep.unionByName(delta, allowMissingColumns=True)
        # checkpoint severs lineage from the list files we overwrite
        live = live.localCheckpoint(eager=True)
        (
            live.repartition("list_id")
            .sortWithinPartitions("id")  # keep the row-group id-skipping invariant
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("list_id")
            .parquet(lists_dir)
        )
        # a list can end up empty: dynamic overwrite never writes its
        # directory, so drop the stale one explicitly
        present = {r["list_id"] for r in live.select("list_id").distinct().collect()}
        for s in segs:
            if s not in present:
                shutil.rmtree(os.path.join(lists_dir, f"list_id={s}"), ignore_errors=True)
        self._lists_df = None  # invalidate the cached file index
        n = spark.read.parquet(lists_dir).select("id").distinct().count()
        self.meta["n_rows"] = int(n)
        base.write_meta(self.path, self.meta)
        # inserted rows can extend a list's residual radius, which would
        # silently break range_search completeness on a stale bound —
        # re-derive the touched lists' radii (deletes only shrink, but
        # tightening them is free in the same pass)
        radii_path = os.path.join(self.path, "list_radii.npy")
        if os.path.exists(radii_path):
            radii = np.load(radii_path)
            patch = _compute_list_radii(
                spark,
                spark.read.parquet(lists_dir).where(F.col("list_id").isin(segs)),
                self.centroids,
                storage=storage,
            )
            for lid in segs:
                radii[lid] = patch.get(lid, 0.0)
            np.save(radii_path, radii, allow_pickle=False)
            self._radii = None
        return segs

    def _exact_distance_col(self, qlist: list[float]):
        """Exact distance Column over the stored vector representation:
        arrow kernel on the f32 array, or a decode-and-score UDF on f16
        binary16 words (grid values decode exactly, so these ARE the
        vecf16 type's distances)."""
        kernel = self.meta["kernel"]
        if self.meta.get("storage") == "f16":
            return base.f16_distance(kernel, qlist)
        from pgvecto_rs_spark.operators.search import arrow_distance

        return arrow_distance(qlist, kernel)(F.col("vec"))

    def probe_lists(self, q: np.ndarray, nprobe: int) -> list[int]:
        d = base.np_kernel_distance(self.meta["kernel"], self.centroids.astype(np.float64), q)
        return np.argsort(d, kind="stable")[:nprobe].tolist()

    def list_radii(self) -> np.ndarray:
        """Per-list max residual L2 norm max_{x∈list} |x − centroid| —
        the pruning bound for index-accelerated range search.  Loaded
        from the build artifact; derived once (and persisted) for
        indexes built before the artifact existed."""
        if self._radii is None:
            p = os.path.join(self.path, "list_radii.npy")
            if not os.path.exists(p):
                _save_list_radii(
                    self.spark, self._lists(), self.centroids,
                    int(self.meta["nlist"]), self.path,
                    storage=self.meta.get("storage", "f32"),
                )
            self._radii = np.load(p)
        return self._radii

    def range_search(
        self,
        query: Sequence[float],
        radius: float,
        filter=None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """All rows with distance < ``radius`` (SQL-level metric units,
        matching ``search``'s returned distances) — EXACT, via
        triangle-inequality list pruning instead of a full scan (the
        sphere predicate of am_scan.rs pushed through the IVF layout).

        A list can contain a hit only if its best-case distance beats
        the radius: with c the centroid and R the list's max residual
        norm, every member x has |x−c| ≤ R, so for L2
        d(q,x) ≥ (max(0, |q−c| − R))² and for dot
        −⟨q,x⟩ ≥ −⟨q,c⟩ − |q|·R (Cauchy-Schwarz on ⟨q, x−c⟩); cos runs
        as dot on normalized vectors (+1 post-map).  Lists failing the
        bound are pruned BEFORE the scan — partition pruning, same as
        nprobe search — and any vector within range lives in a
        surviving list (its own list's bound passes through it), so the
        pruned scan provably returns exactly the full-scan result.
        Scan fraction approaches nprobe-like selectivity for small
        radii and degrades gracefully to a full scan for huge ones.
        """
        kernel = self.meta["kernel"]
        if self.meta["nlist"] == 0:  # empty index (issue_427 build path)
            return self.spark.createDataFrame([], "id long, distance double")
        q = base.prep_query(query, self.meta["normalize"])
        rad = self.list_radii()
        n = len(rad)
        kradius = (
            float(radius) - 1.0 if self.meta["metric"] == "cos" else float(radius)
        )
        d_c = base.np_kernel_distance(kernel, self.centroids.astype(np.float64), q)[:n]
        if kernel == "l2":
            lb = np.maximum(0.0, np.sqrt(np.maximum(d_c, 0.0)) - rad) ** 2
        else:
            lb = d_c - float(np.linalg.norm(q)) * rad
        # relative epsilon margin: the bound holds for real arithmetic;
        # a last-ulp overestimate of lb must never prune a borderline
        # list on an exactness-guaranteed path.  FP error in lb scales
        # with |d_c| and |q|·R (for dot/cos these can dwarf |kradius|),
        # so the margin tracks the bound's own magnitude elementwise.
        margin = 1e-9 * np.maximum.reduce(
            [np.full_like(lb, max(1.0, abs(kradius))), np.abs(lb), np.abs(d_c)]
        )
        lists = np.nonzero(lb < kradius + margin)[0].tolist()
        schema = "id long, distance double"
        if not lists:
            return self.spark.createDataFrame([], schema)
        if len(lists) > 0.5 * n:
            # a radius spanning most of the space can't prune usefully;
            # skip the per-partition enumeration (a 1000-term isin only
            # adds planning cost) and let the distance filter do the work
            df = self._lists()
        else:
            df = self._lists().where(F.col("list_id").isin(lists))
        df = base.apply_residual(df, filter, exclude)
        out = (
            df.withColumn(
                "distance",
                base.post_map(
                    self.meta["metric"],
                    self._exact_distance_col([float(v) for v in q]),
                ),
            )
            .where(F.col("distance") < F.lit(float(radius)))
            .select("id", "distance")
        )
        if self.meta.get("replicas", 1) > 1:
            out = out.dropDuplicates(["id"])
        return out

    def _widen_certified(self, q: np.ndarray, np_eff: int, rows) -> bool:
        """Exactness certificate for the filtered-widening early stop
        (r11).  The old stop returned as soon as k survivors existed,
        which is only the GLOBAL filtered top-k when the probed lists
        happen to contain it — true by luck of the centroid draw, not
        by construction.  This certifies it: every UNPROBED list j has
        a distance lower bound from its stored residual radius r_j
        (range-search pruning reuses the same artifact) —

        - l2:  (max(0, ||q - c_j|| - r_j))^2   (ball bound)
        - dot: -(q . c_j) - ||q|| r_j          (Cauchy-Schwarz)
        - cos: the dot bound on normalized vectors (+1 in SQL units)

        and the early result is exact iff the worst kept distance
        strictly beats every unprobed bound.  Driver-side numpy over
        nlist entries — O(nlist . dims) per widening round, no job
        (the radii are loaded once per handle).

        The comparison subtracts a relative-epsilon margin (the same
        scheme range_search applies to the identical bounds): t comes
        from the Spark-side kernel and can differ from the driver
        numpy bound by ulps, so a borderline case must fail CLOSED —
        uncertified -> widen (r11 advice)."""
        if not rows:
            return False
        nlist = self.meta["nlist"]
        probed = {int(l) for l in self.probe_lists(q, np_eff)}
        un = np.asarray(
            [j for j in range(nlist) if j not in probed], dtype=np.int64
        )
        if not len(un):
            return True
        radii = self.list_radii()
        cents = self.centroids.astype(np.float64)[un]
        r = radii[un]
        t = max(float(row["distance"]) for row in rows)
        if self.meta["kernel"] == "l2":
            d = cents - q[None, :]
            cd = np.sqrt(np.maximum(np.einsum("ij,ij->i", d, d), 0.0))
            lb = np.maximum(cd - r, 0.0) ** 2
        else:  # dot kernel; cos metric = dot distance + 1 in SQL units
            lb = -(cents @ q) - float(np.linalg.norm(q)) * r
            if self.meta["metric"] == "cos":
                t -= 1.0
        m = float(lb.min())
        margin = 1e-9 * max(1.0, abs(t), abs(m))
        return bool(t < m - margin)

    def search(
        self,
        query: Sequence[float],
        k: int = 10,
        nprobe: int | None = None,
        filter=None,
        rerank_size: int = 0,
        max_widen: int = 3,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k by metric distance.  Returns DataFrame(id, distance).

        Filtered/excluded searches are EXACT whenever the widening
        ladder terminates at ``full`` or ``certified`` — the VBASE
        exact-k semantics.  At the default nprobe (~nlist/20) the 4x
        ladder reaches a full probe within the default ``max_widen=3``,
        so every filtered search is exact; only an explicit small
        nprobe with too few rounds to reach nlist can stop at
        ``exhausted`` with an unproven top-k.

        ``nprobe`` defaults to ``default_nprobe`` = ceil(nlist/20), i.e.
        ~5% of lists (r11 calibration: the pool-fraction law measured at
        the 1M gate — BENCHNOTES r11 quality matrix; 5% clears the 0.95
        recall@10 bar with margin at both 64 and 256 dims).  The
        reference's flat default of 10 misses that target once nlist
        grows (measured 0.86 at nlist=1000 on 2M rows), so the default
        scales with nlist.

        The scan touches only the nprobe pruned partitions; residual
        ``filter`` runs before the limit (VBASE exact-k under filters —
        within the probed lists).  If a selective filter leaves fewer
        than k survivors, the probe set widens (nprobe ×4, up to
        ``max_widen`` rounds or nlist) — the bounded analogue of
        VBASE's unbounded ordered stream.  With residual quantization,
        the first pass scores decoded ``centroid + residual̂`` codes and
        a rerank window gets exact distances (two-phase).
        """
        if nprobe is None:
            nprobe = int(self.meta.get("default_nprobe")
                         or default_nprobe(self.meta["nlist"]))
        if (filter is not None or exclude is not None) and max_widen > 0:
            # Escalation ladder (cost-bounded, r11 advice): per round,
            # stop on the first of
            #   full      — probed every list: exact by construction;
            #   certified — _widen_certified's ball/Cauchy-Schwarz
            #               bound proves the kept top-k is the global
            #               filtered top-k: exact.
            # Otherwise probe 4x more lists, up to max_widen rounds.
            # self.widen_stats counts stop reasons per handle so the
            # certification rate is measurable (ADVICE r11).
            q_ = base.prep_query(query, self.meta["normalize"])
            np_eff = nprobe
            stats = self.widen_stats
            for _ in range(max_widen + 1):
                out = self.search(
                    query, k=k, nprobe=np_eff, filter=filter,
                    rerank_size=rerank_size, max_widen=0, exclude=exclude,
                )
                rows = out.limit(k).collect()
                stats["rounds"] = stats.get("rounds", 0) + 1
                enough = len(rows) >= min(k, self.meta["n_rows"])
                if np_eff >= self.meta["nlist"]:
                    stats["full"] = stats.get("full", 0) + 1
                    return self.spark.createDataFrame(rows, out.schema)
                if enough and self._widen_certified(q_, np_eff, rows):
                    stats["certified"] = stats.get("certified", 0) + 1
                    return self.spark.createDataFrame(rows, out.schema)
                np_eff = min(self.meta["nlist"], np_eff * 4)
            stats["exhausted"] = stats.get("exhausted", 0) + 1
            return self.spark.createDataFrame(rows, out.schema)

        if self.meta["nlist"] == 0:  # empty index (issue_427 build path)
            return self.spark.createDataFrame([], "id long, distance double")
        q = base.prep_query(query, self.meta["normalize"])
        lists = self.probe_lists(q, nprobe)
        df = self._lists().where(F.col("list_id").isin(lists))
        df = base.apply_residual(df, filter, exclude)
        from pgvecto_rs_spark.operators.search import arrow_distance

        qlist = [float(v) for v in q]
        scorer = arrow_distance(qlist, self.meta["kernel"])

        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        quant = self.meta.get("quantization") or (
            "sq8" if self.meta.get("residual_quantization") else None
        )
        if quant in _SQ_KINDS:
            levels = float((1 << self.meta.get("sq_bits", 8)) - 1)
            # decode centroid[list] + lo + code/levels·width and score
            # inside one broadcast numpy scorer (see _sq_scorer for why
            # not a Catalyst fold), rerank by exact vec distance.
            # pass 1 reads ONLY (id, list_id, codes): projection pruning
            # keeps the vector column out of the approximate scan
            approx = self._sq_scorer(q, lists)(F.col("list_id"), F.col("codes"))
            scored = df.select("id", "list_id", "codes").withColumn("adist", approx)
            if rerank_size == 0:
                # error-bound reranker (reranker/error.rs, default like
                # the flat SQ path): decode error per dim <= eps_j =
                # width_j/(2*levels); sound bounds make the rerank set
                # provably contain the exact top-k WITHIN the probed
                # lists — no window guess.
                eps = np.asarray(self.meta["sq_width"], dtype=np.float64) / (2.0 * levels)
                adist = F.col("adist")
                if self.meta["kernel"] == "l2":
                    e = float(np.sqrt((eps**2).sum()))
                    rt = F.sqrt(F.greatest(adist, F.lit(0.0)))
                    upper = (rt + F.lit(e)) * (rt + F.lit(e))
                    lb = F.greatest(rt - F.lit(e), F.lit(0.0))
                    lower = lb * lb
                else:  # dot: |Δ| <= Σ |q_j|·eps_j
                    e = float(np.abs(q) @ eps)
                    upper = adist + F.lit(e)
                    lower = adist - F.lit(e)
                scored = scored.withColumn("__ub", upper).withColumn("__lb", lower)
                # Threshold = k-th smallest per-ID upper bound.  With
                # replicas > 1 the same id sits in several probed lists,
                # so the k smallest *row* bounds can contain duplicates
                # and understate the k-th distinct id's bound — a true
                # top-k id could then fail the __lb <= t test.  Collapse
                # to per-id min(__ub) first (one extra k-row shuffle,
                # only when multi-assignment is configured).
                tsrc = scored
                if self.meta.get("replicas", 1) > 1:
                    tsrc = scored.groupBy("id").agg(F.min("__ub").alias("__ub"))
                trow = (
                    tsrc.orderBy(F.col("__ub").asc(), F.col("id").asc())
                    .limit(k)
                    .agg(F.max("__ub").alias("t"))
                    .collect()
                )
                if trow and trow[0]["t"] is not None:
                    cand = scored.where(F.col("__lb") <= float(trow[0]["t"]))
                else:
                    cand = scored.where(F.lit(False))
                cand = cand.drop("__ub", "__lb")
            else:
                window = max(k, rerank_size, k * 4)
                cand = self._window_cut(scored, window)
            out = self._fetch_rerank(df, cand, scorer)
        elif quant == "pq":
            window = self._fixed_rerank_window("pq", k, nprobe, rerank_size)
            approx = self._pq_scorer(q, lists)(F.col("list_id"), F.col("codes"))
            cand = self._window_cut(
                df.select("id", "list_id", "codes").withColumn("adist", approx),
                window,
            )
            out = self._fetch_rerank(df, cand, scorer)
        elif quant == "rabitq":
            window = self._fixed_rerank_window("rabitq", k, nprobe, rerank_size)
            approx = self._rabitq_scorer(q, lists)(
                F.col("list_id"), F.col("rq.norm"), F.col("rq.words")
            )
            cand = self._window_cut(
                df.select("id", "list_id", "rq").withColumn("adist", approx),
                window,
            )
            out = self._fetch_rerank(df, cand, scorer)
        else:
            out = df.withColumn(
                "distance",
                base.post_map(self.meta["metric"], self._exact_distance_col(qlist)),
            )
        if self.meta.get("replicas", 1) > 1:
            # multi-assignment can surface the same id from two probed
            # lists; rows are identical so any-one-per-id is exact
            out = out.dropDuplicates(["id"])
        return (
            out.orderBy(F.col("distance").asc(), F.col("id").asc())
            .limit(k)
            .drop("vec", "codes", "adist", "__cent", "rq")
        )

    def _window_cut(self, scored: DataFrame, window: int) -> DataFrame:
        """Top-``window`` candidate cut for the quantized two-phase
        search.  With replicas > 1 the same id appears once per probed
        replica list, so a plain row LIMIT wastes window slots on
        duplicates (fewer DISTINCT candidates -> measurably worse
        rerank quality than the batch path, which deduped — r10);
        collapse to per-id best adist first.  replicas == 1 keeps the
        shuffle-free TakeOrdered row cut."""
        if self.meta.get("replicas", 1) > 1:
            scored = scored.groupBy("id").agg(F.min("adist").alias("adist"))
        return scored.orderBy(F.col("adist").asc(), F.col("id").asc()).limit(window)

    RERANK_FETCH_CAP = 8192

    def _fixed_rerank_window(self, quant: str | None, k: int,
                             nprobe: int, rerank_size: int) -> int:
        """Scale-aware rerank window over the probed candidate pool
        (nprobe x rows/list) — see quantization.scaled_rerank_window
        for the calibration."""
        from pgvecto_rs_spark.indexes.quantization import scaled_rerank_window

        meta = self.meta
        pool = int(nprobe) * max(1, meta["n_rows"] // max(1, meta["nlist"]))
        return scaled_rerank_window(
            quant, k, pool, rerank_size, pq_ratio=int(meta.get("pq_ratio", 4))
        )

    def _fetch_rerank(self, rows: DataFrame, cand: DataFrame, scorer) -> DataFrame:
        """Second phase of the quantized scan: fetch candidates' exact
        vectors by id within the probed (pruned) lists and rescore.  Ids
        collect to the driver and push down as id IN (...) — against the
        id-sorted within-list layout this skips row groups, so pass 2
        reads only the touched vector chunks (see FlatIndex._fetch_rerank
        for the same design)."""
        ids = [
            r["id"] for r in cand.select("id").limit(self.RERANK_FETCH_CAP + 1).collect()
        ]
        if len(ids) <= base._ISIN_LITERAL_CAP:
            fetched = rows.where(F.col("id").isin(ids))
        elif len(ids) <= self.RERANK_FETCH_CAP:
            # a giant IN-list costs more to plan/codegen than it saves in
            # row-group skipping; ship the collected ids as a broadcast
            # join instead (same pruned scan, no literal explosion)
            iddf = self.spark.createDataFrame([(int(i),) for i in ids], "id bigint")
            fetched = rows.join(F.broadcast(iddf), "id")
        else:
            fetched = rows.join(F.broadcast(cand.select("id")), "id")
        return fetched.withColumn(
            "distance", base.post_map(self.meta["metric"], scorer(F.col("vec")))
        )

    # -- quantized first-pass scorers (asymmetric, per-probed-list) -----
    def _sq_scorer(self, q: np.ndarray, lists: list[int]):
        """Approx scorer over residual SQ codes: decode
        ``centroid[list] + lo + code/levels*width`` and kernel-score in
        ONE Arrow-batched numpy pass.  This replaces a Catalyst
        zip_with fold over per-call literal arrays (lo/width/centroid
        as 64-element literals + a broadcast centroid join) that forced
        a fresh Janino codegen compile on EVERY query — measured 4.3 s
        /query vs 0.24 for the unquantized path at 1M rows (r10 ANN
        quality harness); the numpy scorer broadcasts index constants
        once and compiles nothing."""
        kernel = self.meta["kernel"]
        cents = self.centroids.astype(np.float64)
        lo = np.asarray(self.meta["sq_lo"], dtype=np.float64)
        width = np.asarray(self.meta["sq_width"], dtype=np.float64)
        levels = float((1 << self.meta.get("sq_bits", 8)) - 1)
        base_by_list = {int(l): cents[l] + lo for l in lists}
        bc = self.spark.sparkContext.broadcast(
            (base_by_list, width / levels, q, kernel)
        )

        @F.pandas_udf("double")
        def adist(lid: pd.Series, codes: pd.Series) -> pd.Series:
            bases, scale, qv, kern = bc.value
            lids = lid.to_numpy()
            cmat = np.asarray(codes.tolist(), dtype=np.float64) * scale[None, :]
            out = np.empty(len(lids), dtype=np.float64)
            for l in np.unique(lids):
                m = lids == l
                out[m] = base.np_kernel_distance(kern, cmat[m] + bases[int(l)], qv)
            return pd.Series(out)

        return adist

    def _pq_scorer(self, q: np.ndarray, lists: list[int]):
        """ADC over residual PQ codes: per probed list the query residual
        (q − centroid) gets its own LUT (n_sub × 2^bits, driver-side,
        broadcast); scoring is one LUT gather per Arrow batch.  The scan
        reads ONLY (list_id, codes) — n_sub bytes of information per row
        instead of 4·dims."""
        from pgvecto_rs_spark.indexes import quantization as Qz

        books = np.load(os.path.join(self.path, "pq_codebooks.npy"))
        kernel = self.meta["kernel"]
        cents = self.centroids.astype(np.float64)
        luts, consts = {}, {}
        for l in lists:
            if kernel == "l2":
                luts[int(l)] = Qz.pq_lut(books, q - cents[l], "l2")
                consts[int(l)] = 0.0
            else:  # dot: −q·(c+res) = −q·c + Σ_s −q_s·book_s[code]
                luts[int(l)] = Qz.pq_lut(books, q, "dot")
                consts[int(l)] = -float(q @ cents[l])
        bc = self.spark.sparkContext.broadcast((luts, consts))

        @F.pandas_udf("double")
        def adist(lid: pd.Series, codes: pd.Series) -> pd.Series:
            tbl, cst = bc.value
            lids = lid.to_numpy()
            cmat = np.asarray(codes.tolist(), dtype=np.int64)
            sub_idx = np.arange(cmat.shape[1])[None, :]
            out = np.empty(len(lids), dtype=np.float64)
            for l in np.unique(lids):
                m = lids == l
                out[m] = tbl[int(l)][sub_idx, cmat[m]].sum(axis=1) + cst[int(l)]
            return pd.Series(out)

        return adist

    def _rabitq_scorer(self, q: np.ndarray, lists: list[int]):
        """RaBitQ estimator over residual sign codes: per probed list the
        rotated query residual z_l = P·(q − centroid_l) is precomputed on
        the driver; per batch one unpack + matvec."""
        proj = np.load(os.path.join(self.path, "rabitq_proj.npy"))
        kernel = self.meta["kernel"]
        cents = self.centroids.astype(np.float64)
        dims = proj.shape[0]
        zs, consts = {}, {}
        for l in lists:
            if kernel == "l2":
                d = q - cents[l]
                zs[int(l)] = proj @ d
                consts[int(l)] = float(d @ d)
            else:  # dot: −q·(c+res) = −q·c − q·reŝ
                zs[int(l)] = proj @ q
                consts[int(l)] = -float(q @ cents[l])
        bc = self.spark.sparkContext.broadcast((zs, consts, kernel, dims))

        @F.pandas_udf("double")
        def adist(lid: pd.Series, norm: pd.Series, words: pd.Series) -> pd.Series:
            tbl, cst, kern, d = bc.value
            n_words = (d + 31) // 32
            lids = lid.to_numpy()
            w = np.asarray(words.tolist(), dtype=np.int64).astype(np.uint32)
            bits = ((w[:, :, None] >> np.arange(32, dtype=np.uint32)[None, None, :]) & 1).astype(np.float64)
            sgn = 2.0 * bits.reshape(len(w), n_words * 32)[:, :d] - 1.0
            nm = norm.to_numpy(dtype=np.float64)
            out = np.empty(len(lids), dtype=np.float64)
            for l in np.unique(lids):
                m = lids == l
                est = (nm[m] / np.sqrt(d)) * (sgn[m] @ tbl[int(l)])
                if kern == "l2":
                    out[m] = cst[int(l)] + nm[m] ** 2 - 2.0 * est
                else:
                    out[m] = cst[int(l)] - est
            return pd.Series(out)

        return adist

    def search_batch(
        self,
        queries: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        k: int = 10,
        nprobe: int | None = None,
        rerank_size: int = 0,
    ) -> DataFrame:
        """Batched search (the hnsw.search_batch analogue): each query
        block pairs with round-robin chunks of list ids, one chunk per
        core; a task probes its block's nearest lists in-task and scans
        only the probed lists in its chunk, keeping per-query local
        top-k, and a per-query window merges (indexes/batch.py — the
        same block path at every query count, for f32 and f16 storage
        and every quantizer).  Per-query warm latency is
        dispatch-dominated locally — batching amortizes job setup
        across the query set.

        Quantized indexes run the two-phase shape per (block, chunk):
        the probed lists' residual codes score the block (decode-on-
        access recomposes cent + decode(res), algebraically the
        per-list ADC; PQ scores with a batched LUT), each query keeps
        its top window by approximate distance, and one pushed-id read
        over the chunk's probed lists reranks the windows exactly; the
        merge cuts the global window, then k.  The batch path always
        uses the fixed rerank window (``_fixed_rerank_window``); the
        per-query sq8 default (error-bound rerank) needs a per-query
        threshold job and is not batched.

        Returns (query_id, id, distance), k rows per query; unquantized
        results are bit-identical to per-query search at the same
        nprobe (same np_kernel_distance arithmetic)."""
        from pgvecto_rs_spark.indexes import batch as BT
        from pgvecto_rs_spark.indexes import segment_worker as SW
        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        meta = self.meta
        if nprobe is None:
            nprobe = int(meta.get("default_nprobe") or default_nprobe(meta["nlist"]))
        nlist = meta["nlist"]
        if nlist == 0:  # empty index (issue_427 build path)
            return self.spark.createDataFrame(
                [], "query_id bigint, id bigint, distance double"
            )

        qrows = BT.collect_queries_or_none(queries, query_id_col, query_vec_col)
        quant = meta.get("quantization") or (
            "sq8" if meta.get("residual_quantization") else None
        )
        params = win = None
        if quant is not None:
            # scale-aware default window keyed by the EFFECTIVE code
            # kind (residual SQ keeps its trained bit width in meta)
            qkey = f"sq{meta.get('sq_bits', 8)}" if quant in _SQ_KINDS else quant
            win = self._fixed_rerank_window(qkey, k, nprobe, rerank_size)
            params = BT.quant_params(self, quant)
        n_chunks = min(nlist, self.spark.sparkContext.defaultParallelism)
        chunks = [list(range(c, nlist, n_chunks)) for c in range(n_chunks)]
        run = SW.ivf_block_runner(
            self.centroids.astype(np.float64),
            meta["kernel"],
            int(nprobe),
            int(k),
            os.path.join(self.path, "lists"),
            vec_col="vec16" if meta.get("storage") == "f16" else "vec",
            quant=quant,
            params=params,
            win=win,
        )
        return BT.search_blocks(
            self, queries, query_id_col, query_vec_col, qrows, chunks, run, k, win
        )

    def stat(self) -> dict:
        """vector_index_stat analogue (src/index/views.rs:17-80)."""
        return {
            "idx_status": "NORMAL",
            "idx_indexing": False,
            "idx_tuples": self.meta["n_rows"],
            "idx_sealed": [self.meta["n_rows"]],
            "idx_growing": [],
            "idx_options": {k: self.meta[k] for k in ("kind", "metric", "nlist", "dims")},
        }
