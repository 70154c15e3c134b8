"""Flat (brute-force) index with optional scalar quantization.

Reference: crates/flat/src/lib.rs (vbase :42-64 = scan all codes, keep a
rerank window, rerank by exact distance; build :83-107), scalar
quantization crates/quantization/src/scalar.rs:32-120 (per-dim min/max,
k-bit codes; bits ∈ {1,2,4,8} — crates/base/src/index.rs:447-462),
window reranker crates/quantization/src/reranker/flat.rs, error-bound
reranker crates/quantization/src/reranker/error.rs.

Spark design:

- exact path: the scan IS the index — Parquet columnar + TakeOrdered.
- SQ path: store ``codes array<smallint>`` next to the exact vectors
  (``sq{1,2,4,8}``; Parquet dictionary/RLE encoding compresses the
  low-cardinality codes, so 1/2/4-bit cells shrink on disk without an
  explicit bit-packing pass).  First pass scans only the code column,
  computes approximate distances natively (decode = min + code·Δ inside
  zip_with), then reranks by exact distance.  Two rerank policies:

  * **error-bound** (default, reranker/error.rs analogue): the per-dim
    rounding error ε_j = width_j / (2·levels) gives sound bounds on the
    true distance per candidate; the rerank set = every candidate whose
    lower bound beats the k-th smallest upper bound.  Adaptive — no
    fixed window guess — and provably exact.
  * **window** (reranker/flat.rs): fixed ``max(k, rerank_size)`` window
    when the caller passes ``rerank_size``.
"""

from __future__ import annotations

import glob
import os
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.operators.search import distance as dist_expr

SQ_BITS = 8  # default (crates/base/src/index.rs:447-462)
_SQ_KINDS = {"sq1": 1, "sq2": 2, "sq4": 4, "sq8": 8}


class FlatIndex:
    #: range_search returns the provably-complete sphere (exact scan /
    #: SQ error-bound two-phase) -- the planner may answer a bare sphere
    #: predicate with it.
    RANGE_EXACT = True

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        df: DataFrame,
        path: str,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        metric: str = "l2",
        quantization: str | None = None,  # None | "sq{1,2,4,8}" | "pq" | "rabitq"
        where=None,  # partial index predicate (partition.slt 'partial index')
        pq_ratio: int = 1,  # dims per subspace (base/src/index.rs:475-496)
        pq_bits: int = 8,  # codebook size 2^bits (base/src/index.rs:482-496)
        seed: int = 42,
        storage: str = "f32",  # "f32" | "f16" (vecf16: 2 bytes/dim)
    ) -> "FlatIndex":
        kernel, do_norm = base.resolve_metric(metric)
        os.makedirs(path, exist_ok=True)
        src = df.where(F.col(vector_col).isNotNull())
        if where is not None:
            src = src.where(where)  # partial index: only matching rows are indexed
        vec = base.normalized_col(vector_col, do_norm).cast("array<float>")
        prepared = src.select(F.col(id_col).alias("id"), vec.alias("vec"))

        if storage == "f16":
            # vecf16 storage model (crates/base/src/scalar/f16.rs): values
            # live on the IEEE binary16 grid, 2 bytes per dim on disk.  A
            # BINARY column of raw f16 words guarantees the 2-byte layout
            # (Parquet has no 16-bit physical type); compute decodes to
            # f32/f64 per Arrow batch, exactly like the reference computes
            # f16 via f32.
            if quantization is not None:
                raise ValueError("f16 storage does not compose with quantization")

            @F.pandas_udf("binary")
            def to_f16_bytes(v: pd.Series) -> pd.Series:
                return v.map(
                    lambda x: None
                    if x is None
                    else np.asarray(x, dtype=np.float32).astype(np.float16).tobytes()
                )

            dims = len(prepared.select("vec").first()["vec"])
            prepared = prepared.select("id", to_f16_bytes("vec").alias("vec16"))
            prepared.write.mode("overwrite").parquet(os.path.join(path, "rows"))
            n = spark.read.parquet(os.path.join(path, "rows")).count()
            meta = {
                "kind": "flat",
                "metric": metric.lower(),
                "kernel": kernel,
                "normalize": do_norm,
                "quantization": None,
                "storage": "f16",
                "dims": dims,
                "n_rows": int(n),
            }
            base.write_meta(path, meta)
            return cls(spark, path, meta)
        if storage != "f32":
            raise ValueError(f"unknown storage {storage!r} (f32 | f16)")

        meta: dict = {
            "kind": "flat",
            "metric": metric.lower(),
            "kernel": kernel,
            "normalize": do_norm,
            "quantization": quantization,
            "storage": "f32",
        }

        if quantization in ("pq", "rabitq"):
            from pgvecto_rs_spark.indexes import quantization as Qz

            dims = len(prepared.select("vec").first()["vec"])
            meta["dims"] = dims
            # uniform sample, not limit(): limit takes the first
            # partitions only, which trains codebooks on a biased slice
            # when the input is sorted or partition-skewed
            n_total = prepared.count()
            fraction = min(1.0, Qz.TRAIN_CAP / max(n_total, 1))
            sample = (
                prepared.select("vec")
                .sample(fraction=fraction, seed=seed)
                .limit(Qz.TRAIN_CAP)
                .collect()
            )
            x = np.asarray([r["vec"] for r in sample], dtype=np.float64)
            if quantization == "pq":
                n_sub = dims // pq_ratio
                books = Qz.pq_train(x, n_sub, bits=pq_bits, seed=seed)
                np.save(os.path.join(path, "pq_codebooks.npy"), books, allow_pickle=False)
                prepared = prepared.withColumn("codes", Qz.pq_encode_udf(books, spark)("vec"))
                meta["pq_subspaces"] = n_sub
                meta["pq_ratio"] = int(pq_ratio)
            else:
                proj = Qz.rabitq_projection(dims, seed)
                np.save(os.path.join(path, "rabitq_proj.npy"), proj, allow_pickle=False)
                enc = Qz.rabitq_encode_udf(proj, spark)("vec")
                prepared = prepared.withColumn("rq", enc)

        if quantization in _SQ_KINDS:
            # per-dim min/max over the dataset (scalar.rs:32-60 trains
            # the same bounds); one aggregation pass.
            bits = _SQ_KINDS[quantization]
            dims = len(prepared.select("vec").first()["vec"])
            exploded = prepared.select(F.posexplode("vec").alias("pos", "x"))
            mm = (
                exploded.groupBy("pos")
                .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
                .orderBy("pos")
                .collect()
            )
            lo = np.array([r["lo"] for r in mm], dtype=np.float64)
            hi = np.array([r["hi"] for r in mm], dtype=np.float64)
            width = np.where(hi > lo, hi - lo, 1.0)
            lo_c = F.array(*[F.lit(float(v)) for v in lo])
            w_c = F.array(*[F.lit(float(v)) for v in width])
            levels = (1 << bits) - 1
            codes = F.zip_with(
                F.col("vec").cast("array<double>"),
                F.zip_with(lo_c, w_c, lambda a, b: F.struct(a.alias("lo"), b.alias("w"))),
                lambda x, p: F.least(
                    F.lit(levels),
                    F.greatest(
                        F.lit(0), F.round((x - p["lo"]) / p["w"] * levels, 0).cast("int")
                    ),
                ).cast("smallint"),
            )
            prepared = prepared.withColumn("codes", codes)
            meta["sq_lo"] = lo.tolist()
            meta["sq_width"] = width.tolist()
            meta["sq_bits"] = bits
            meta["dims"] = dims

        # range-partitioned + sorted by id: Parquet min/max stats then
        # skip row groups for the rerank's `id IN (...)` fetch — the
        # two-phase scan reads the codes column in pass 1 and only the
        # touched row groups' vectors in pass 2
        (
            prepared.repartitionByRange(max(2, spark.sparkContext.defaultParallelism), "id")
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "rows"))
        )
        n = spark.read.parquet(os.path.join(path, "rows")).count()
        meta["n_rows"] = int(n)
        base.write_meta(path, meta)
        return cls(spark, path, meta)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "FlatIndex":
        return cls(spark, path, base.read_meta(path))

    def _rows(self):
        # cached handle: avoids re-running the file-listing job per query
        if getattr(self, "_rows_df", None) is None:
            self._rows_df = self.spark.read.parquet(os.path.join(self.path, "rows"))
        return self._rows_df

    # ------------------------------------------------------------------
    def _decoded_codes(self) -> F.Column:
        """Approximate vector from codes: lo + code/levels * width."""
        levels = float((1 << self.meta.get("sq_bits", SQ_BITS)) - 1)
        lo_c = F.array(*[F.lit(float(v)) for v in self.meta["sq_lo"]])
        w_c = F.array(*[F.lit(float(v)) for v in self.meta["sq_width"]])
        return F.zip_with(
            F.col("codes"),
            F.zip_with(lo_c, w_c, lambda a, b: F.struct(a.alias("lo"), b.alias("w"))),
            lambda c, p: (p["lo"] + c.cast("double") / levels * p["w"]).cast("float"),
        )

    def _sq_bounds(self, df: DataFrame, qlist: list[float]) -> DataFrame:
        """Sound per-row distance bounds from SQ codes: decode error per
        dim is at most ε_j = width_j / (2·levels), so the true distance
        lies in [__lb, __ub] around the decoded-code distance __adist."""
        bits = self.meta.get("sq_bits", SQ_BITS)
        levels = (1 << bits) - 1
        eps = np.asarray(self.meta["sq_width"], dtype=np.float64) / (2.0 * levels)
        kernel = self.meta["kernel"]
        adist = dist_expr(self._decoded_codes(), qlist, kernel)
        if kernel == "l2":
            # |√d_exact − √d_approx| ≤ ||ε||₂  (adist is squared L2)
            e = float(np.sqrt((eps**2).sum()))
            rt = F.sqrt(F.greatest(adist, F.lit(0.0)))
            upper = (rt + F.lit(e)) * (rt + F.lit(e))
            lower_expr = F.greatest(rt - F.lit(e), F.lit(0.0))
            lower = lower_expr * lower_expr
        else:  # dot: |Δ| ≤ Σ |q_j|·ε_j, bounds are linear
            e = float(np.abs(np.asarray(qlist)) @ eps)
            upper = adist + F.lit(e)
            lower = adist - F.lit(e)
        return df.withColumn("__adist", adist).withColumn("__ub", upper).withColumn("__lb", lower)

    def _sq_error_rerank(self, df: DataFrame, qlist: list[float], k: int) -> DataFrame:
        """Error-bound reranker (reranker/error.rs analogue, exact by
        construction): sound bounds from ``_sq_bounds``; rerank set =
        candidates whose lower bound beats the k-th smallest upper
        bound — adaptive (no window guess) and provably contains the
        exact top-k.  Costs one tiny threshold job over the code
        column, then reranks only the qualifying rows."""
        scored = self._sq_bounds(df, qlist)
        thresh_row = (
            scored.orderBy(F.col("__ub").asc(), F.col("id").asc())
            .limit(k)
            .agg(F.max("__ub").alias("t"))
            .collect()
        )
        if not thresh_row or thresh_row[0]["t"] is None:
            return scored.where(F.lit(False))  # empty input, keep schema
        t = float(thresh_row[0]["t"])
        return scored.where(F.col("__lb") <= t)

    # candidate sets larger than this rerank in-plan (join) instead of
    # via a driver id-list fetch
    RERANK_FETCH_CAP = 8192

    def _fetch_rerank(self, rows: DataFrame, cand: DataFrame, qlist: list[float]) -> DataFrame:
        """Second phase of the quantized scan: fetch candidates' exact
        vectors by id and rescore — the reference's by-pointer rerank.

        Candidate ids collect to the driver (the reference materializes
        candidate pointers the same way) and come back as an `id IN
        (...)` predicate: against the id-sorted Parquet layout that is a
        pushed filter with row-group min/max skipping, so pass 2 reads
        only the touched row groups' vector chunks instead of the whole
        vector column.  Falls back to a broadcast join when the
        candidate set exceeds RERANK_FETCH_CAP — a PLAIN shuffle join,
        not a forced broadcast: a large-radius range scan can make the
        candidate ring corpus-scale, and force-broadcasting that would
        hit the broadcast size limit / driver memory (AQE still picks
        broadcast on its own when the set turns out small)."""
        exact = dist_expr(F.col("vec"), qlist, self.meta["kernel"])
        ids = [
            r["id"] for r in cand.select("id").limit(self.RERANK_FETCH_CAP + 1).collect()
        ]
        if len(ids) <= base._ISIN_LITERAL_CAP:
            fetched = rows.where(F.col("id").isin(ids))
        elif len(ids) <= self.RERANK_FETCH_CAP:
            # giant IN-lists cost more to plan/codegen than the row-group
            # skipping saves; ship the ids as a broadcast join instead
            iddf = self.spark.createDataFrame([(int(i),) for i in ids], "id bigint")
            fetched = rows.join(F.broadcast(iddf), "id")
        else:
            fetched = rows.join(cand.select("id"), "id")
        return fetched.withColumn("distance", base.post_map(self.meta["metric"], exact))

    def search(
        self,
        query: Sequence[float],
        k: int = 10,
        rerank_size: int = 0,
        filter=None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k; for scalar quantization the default rerank policy is the
        error-bound reranker (exact by construction); passing
        ``rerank_size`` > 0 selects the fixed window instead (GUC
        sq_rerank_size semantics, src/gucs/executing.rs:4-14).  pq and
        rabitq estimators carry no sound error bound and always use the
        window.  ``exclude`` is an id-set DataFrame removed via broadcast
        anti-join (tombstones) before ranking."""
        q = base.prep_query(query, self.meta["normalize"])
        qlist = [float(v) for v in q]
        if not rerank_size:
            # alter(default_rerank_size) persists the reference's
            # sq_rerank_size GUC analogue into meta (maintenance.py)
            rerank_size = int(self.meta.get("default_rerank_size", 0))
        df = base.apply_residual(self._rows(), filter, exclude)

        if self.meta.get("storage") == "f16":
            f16_d = base.f16_distance(self.meta["kernel"], qlist)
            out = df.withColumn("distance", base.post_map(self.meta["metric"], f16_d))
            return (
                out.orderBy(F.col("distance").asc(), F.col("id").asc())
                .limit(k)
                .select("id", "distance")
            )

        quant = self.meta.get("quantization")
        if quant in _SQ_KINDS and rerank_size == 0:
            # pass 1 reads ONLY (id, codes) — projection pruning keeps
            # the vector column out of the approximate scan's I/O
            cand = self._sq_error_rerank(df.select("id", "codes"), qlist, k)
            out = self._fetch_rerank(df, cand, qlist)
            return (
                out.orderBy(F.col("distance").asc(), F.col("id").asc())
                .limit(k)
                .select("id", "distance")
            )
        if quant in _SQ_KINDS or quant in ("pq", "rabitq"):
            from pgvecto_rs_spark.indexes.quantization import scaled_rerank_window

            # flat's approximate pass scores the WHOLE corpus, so the
            # scale-aware default window pools over n_rows
            window = scaled_rerank_window(
                quant, k, self.meta["n_rows"], rerank_size,
                pq_ratio=int(self.meta.get("pq_ratio", 4)),
            )
            if quant in _SQ_KINDS:
                approx = dist_expr(self._decoded_codes(), qlist, self.meta["kernel"])
                code_cols = ["id", "codes"]
            elif quant == "pq":
                from pgvecto_rs_spark.indexes import quantization as Qz

                books = np.load(os.path.join(self.path, "pq_codebooks.npy"))
                lut = Qz.pq_lut(books, np.asarray(qlist), self.meta["kernel"])
                approx = Qz.pq_approx_distance("codes", lut)
                code_cols = ["id", "codes"]
            else:
                from pgvecto_rs_spark.indexes import quantization as Qz

                proj = np.load(os.path.join(self.path, "rabitq_proj.npy"))
                score = Qz.rabitq_score_udf(proj, np.asarray(qlist), self.meta["kernel"], self.spark)
                approx = score(F.col("rq.norm"), F.col("rq.words"))
                code_cols = ["id", "rq"]
            cand = (
                df.select(*code_cols)
                .withColumn("adist", approx)
                .orderBy(F.col("adist").asc(), F.col("id").asc())
                .limit(window)
            )
            out = self._fetch_rerank(df, cand, qlist)
            return (
                out.orderBy(F.col("distance").asc(), F.col("id").asc())
                .limit(k)
                .select("id", "distance")
            )

        from pgvecto_rs_spark.operators.search import arrow_distance

        d = arrow_distance(qlist, self.meta["kernel"])(F.col("vec"))
        out = df.withColumn("distance", base.post_map(self.meta["metric"], d))
        return out.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(k).select("id", "distance")

    def range_search(
        self,
        query: Sequence[float],
        radius: float,
        filter=None,
        exclude: DataFrame | None = None,
    ) -> DataFrame:
        """All rows with distance < ``radius`` (SQL-level units) — EXACT
        for every storage/quantization cell.

        Raw f32 and f16 storage: one scan + filter.  SQ codes run the
        two-phase sphere: the first pass reads ONLY the code column and
        keeps rows whose sound LOWER bound (``_sq_bounds``) is inside
        the radius — the true distance is ≥ that bound, so every
        in-range row survives the prefilter by construction — then
        exact vectors are fetched for just that candidate set and
        refiltered.  At width·levels⁻¹ code error the candidate ring is
        a thin shell around the sphere: the exact-vector I/O is
        proportional to the answer, not the corpus.  PQ/RaBitQ
        estimators carry no sound bound, so those cells fall back to
        the exact vector scan (same answer, no I/O skip)."""
        q = base.prep_query(query, self.meta["normalize"])
        qlist = [float(v) for v in q]
        metric = self.meta["metric"]
        kradius = float(radius) - 1.0 if metric == "cos" else float(radius)
        df = base.apply_residual(self._rows(), filter, exclude)

        if self.meta.get("storage") == "f16":
            f16_d = base.f16_distance(self.meta["kernel"], qlist)
            out = df.withColumn("distance", base.post_map(metric, f16_d))
            return out.where(F.col("distance") < F.lit(float(radius))).select(
                "id", "distance"
            )

        quant = self.meta.get("quantization")
        if quant in _SQ_KINDS:
            # elementwise relative margin: FP error in the code bound
            # scales with the bound's own magnitude (dot/cos bounds can
            # dwarf |kradius|), so widen by max(1, |kradius|, |__lb|)
            margin = F.lit(1e-9) * F.greatest(
                F.lit(max(1.0, abs(kradius))), F.abs(F.col("__lb"))
            )
            cand = self._sq_bounds(df.select("id", "codes"), qlist).where(
                F.col("__lb") < F.lit(kradius) + margin
            )
            out = self._fetch_rerank(df, cand, qlist)
        else:
            from pgvecto_rs_spark.operators.search import arrow_distance

            d = arrow_distance(qlist, self.meta["kernel"])(F.col("vec"))
            out = df.withColumn("distance", base.post_map(metric, d))
        return out.where(F.col("distance") < F.lit(float(radius))).select(
            "id", "distance"
        )

    def search_batch(
        self,
        queries: DataFrame,
        query_id_col: str,
        query_vec_col: str,
        k: int = 10,
    ) -> DataFrame:
        """Batched search (the hnsw.search_batch analogue): each query
        block pairs with every rows file, one task per pair computes a
        single (rows x queries) distance matrix and keeps per-query
        local top-k, and a per-query window merges (indexes/batch.py —
        the same block path at every query count, for f32 and f16
        storage and every quantizer).  At warm local scale the
        per-query path is dispatch-dominated; batching amortizes job
        setup across the whole query set.  Quantized indexes run the
        two-phase shape per (block, file): the codes score the block,
        each query keeps its fixed rerank window (``scaled_rerank_window``
        over n_rows; the per-query sq error-bound rerank needs a
        threshold job per query and is not batched), and one pushed-id
        read of the file reranks the windows exactly; the merge cuts the
        global window, then k.  Returns (query_id, id, distance), k
        rows per query."""
        from pgvecto_rs_spark.indexes import batch as BT
        from pgvecto_rs_spark.indexes import segment_worker as SW

        qrows = BT.collect_queries_or_none(queries, query_id_col, query_vec_col)
        meta = self.meta
        quant = meta.get("quantization")
        params = win = None
        if quant is not None:
            from pgvecto_rs_spark.indexes.quantization import scaled_rerank_window

            win = scaled_rerank_window(
                quant, k, meta["n_rows"], int(meta.get("default_rerank_size", 0)),
                pq_ratio=int(meta.get("pq_ratio", 4)),
            )
            params = BT.quant_params(self, quant)
        files = sorted(glob.glob(os.path.join(self.path, "rows", "*.parquet")))
        vec_col = "vec16" if meta.get("storage") == "f16" else "vec"
        run = SW.flat_file_block_runner(
            meta["kernel"], int(k), vec_col, quant, params, win
        )
        return BT.search_blocks(
            self, queries, query_id_col, query_vec_col, qrows, files, run, k, win
        )

    def stat(self) -> dict:
        return {
            "idx_status": "NORMAL",
            "idx_indexing": False,
            "idx_tuples": self.meta["n_rows"],
            "idx_sealed": [self.meta["n_rows"]],
            "idx_growing": [],
            "idx_options": {k: self.meta.get(k) for k in ("kind", "metric", "quantization")},
        }
