"""Flat (brute-force) index with optional scalar quantization.

Reference: crates/flat/src/lib.rs (vbase :42-64 = scan all codes, keep a
rerank window, rerank by exact distance; build :83-107), scalar
quantization crates/quantization/src/scalar.rs:32-120 (per-dim min/max,
k-bit codes; bits ∈ {1,2,4,8} — crates/base/src/index.rs:447-462),
window reranker crates/quantization/src/reranker/flat.rs, error-bound
reranker crates/quantization/src/reranker/error.rs.

Spark design:

- exact path: the scan IS the index — each rows file scored by the
  block runner, per-file top-k merged (``indexes/batch.py``).
- SQ path: store ``codes array<smallint>`` next to the exact vectors
  (``sq{1,2,4,8}``; Parquet dictionary/RLE encoding compresses the
  low-cardinality codes, so 1/2/4-bit cells shrink on disk without an
  explicit bit-packing pass).  First pass scans only the code column
  and scores decoded codes (min + code·Δ) inside the block runners
  (``segment_worker.flat_file_block_runner``), then reranks by exact
  distance.  Two rerank policies:

  * **error-bound** (default, reranker/error.rs analogue): the per-dim
    rounding error ε_j = width_j / (2·levels) gives sound bounds on the
    true distance per candidate; the rerank set = every candidate whose
    lower bound beats the k-th smallest upper bound of its rows file
    (at least the global one).  Adaptive — no fixed window guess — and
    provably exact.
  * **window** (reranker/flat.rs): fixed ``max(k, rerank_size)`` window
    when the caller passes ``rerank_size``.
"""

from __future__ import annotations

import glob
import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.indexes import batch as BT
from pgvecto_rs_spark.indexes import segment_worker as SW
from pgvecto_rs_spark.indexes.quantization import scaled_rerank_window

SQ_BITS = 8  # default (crates/base/src/index.rs:447-462)
_SQ_KINDS = {"sq1": 1, "sq2": 2, "sq4": 4, "sq8": 8}


class FlatIndex:
    #: range_search returns the provably-complete sphere (exact scan /
    #: SQ error-bound two-phase) -- the planner may answer a bare sphere
    #: predicate with it.
    RANGE_EXACT = True
    #: the files whose summed size ``batch.route`` weighs
    STORAGE_DIR = "rows"

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.meta = meta
        self._storage_bytes: int | None = None
        #: calls served in the driver vs by Spark (``batch.route``)
        self.serve_stats: dict[str, int] = {}

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
        if storage == "f16" and quantization is not None:
            raise ValueError("f16 storage does not compose with quantization")
        if storage not in ("f32", "f16"):
            raise ValueError(f"unknown storage {storage!r} (f32 | f16)")
        os.makedirs(path, exist_ok=True)
        prepared = base.prepare_rows(df, id_col, vector_col, do_norm, storage, where)
        meta: dict = {
            "kind": "flat",
            "metric": metric.lower(),
            "kernel": kernel,
            "normalize": do_norm,
            "quantization": quantization,
            "storage": storage,
        }
        rows_dir = os.path.join(path, "rows")

        if storage == "f16":
            # vecf16 storage model (crates/base/src/scalar/f16.rs): values
            # live on the IEEE binary16 grid, 2 bytes per dim on disk.  A
            # BINARY column of raw f16 words guarantees the 2-byte layout
            # (Parquet has no 16-bit physical type); compute decodes to
            # f32/f64 per Arrow batch, exactly like the reference computes
            # f16 via f32.
            meta["dims"] = len(prepared.select("vec").first()["vec"])
            prepared.select("id", base.f16_words("vec").alias("vec16")).write.mode(
                "overwrite"
            ).parquet(rows_dir)
        else:
            if quantization is not None:
                from pgvecto_rs_spark.indexes import quantization as Qz

                dims = len(prepared.select("vec").first()["vec"])
                if quantization in _SQ_KINDS:
                    lo, width = Qz.sq_train(prepared, "vec")
                    meta["sq_lo"] = lo.tolist()
                    meta["sq_width"] = width.tolist()
                    meta["sq_bits"] = _SQ_KINDS[quantization]
                    meta["dims"] = dims
                elif quantization in ("pq", "rabitq"):
                    meta["dims"] = dims
                    # uniform sample trimmed in hashed-id order: limit()
                    # takes the first partitions only, which trains
                    # codebooks on a biased, layout-dependent slice
                    n_total = prepared.count()
                    fraction = min(1.0, Qz.TRAIN_CAP / max(n_total, 1))
                    x = base.training_sample(
                        prepared, "vec", fraction, seed, Qz.TRAIN_CAP, by_id=True
                    )
                    if quantization == "pq":
                        n_sub = dims // pq_ratio
                        books = Qz.pq_train(x, n_sub, bits=pq_bits, seed=seed)
                        np.save(os.path.join(path, "pq_codebooks.npy"), books, allow_pickle=False)
                        meta["pq_subspaces"] = n_sub
                        meta["pq_ratio"] = int(pq_ratio)
                    else:
                        proj = Qz.rabitq_projection(dims, seed)
                        np.save(os.path.join(path, "rabitq_proj.npy"), proj, allow_pickle=False)
                prepared = Qz.encode(prepared, "vec", quantization, meta, path, spark)
            # range-partitioned + sorted by id: Parquet min/max stats then
            # skip row groups for the rerank's `id IN (...)` fetch — the
            # two-phase scan reads the codes column in pass 1 and only the
            # touched row groups' vectors in pass 2
            (
                prepared.repartitionByRange(max(2, spark.sparkContext.defaultParallelism), "id")
                .sortWithinPartitions("id")
                .write.mode("overwrite")
                .parquet(rows_dir)
            )
        meta["n_rows"] = int(spark.read.parquet(rows_dir).count())
        base.write_meta(path, meta)
        return cls(spark, path, meta)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "FlatIndex":
        return cls(spark, path, base.read_meta(path))

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.path, "rows", "*.parquet")))

    def _id_type(self) -> str:
        files = self._files()
        return base.stored_schema(files[0])["id"].dataType.simpleString() if files else "bigint"

    def _driver_scans(self, op: str) -> float:
        """The index scans ``op`` ("search" or "range_search") weighs in
        ``batch.route``."""
        return 1.0

    def _serve(self, query, k: int | None = None, radius: float | None = None,
               filter=None, deny=None, rerank_size: int = 0, driver: bool = True):
        """Top-k or sphere through ``flat_file_block_runner`` over every
        rows file as a batch of one (``batch.serve``), in the driver or
        as Spark tasks, with the ``filter`` resolved to the ids passing
        it (``batch.allowed``) and ``deny`` dropped.  Quantized top-k
        scores the codes and reranks its window, or, for SQ without
        one, the rows the error bound keeps; an SQ sphere keeps the
        rows whose lower bound is inside it.  PQ and RaBitQ carry no
        sound bound, so their spheres scan the exact vectors."""
        from pyspark.sql.types import StructType

        meta = self.meta
        files = self._files()
        allow = None
        if filter is not None and files:
            schema = StructType([base.stored_schema(files[0])["id"]])
            allow = BT.allowed(self, filter, files, schema, driver=driver)[:, 0]
        quant = meta.get("quantization")
        if radius is not None and quant not in _SQ_KINDS:
            quant = None
        params = win = None
        if quant is not None:
            params = BT.quant_params(self, quant)
            # alter(default_rerank_size) persists the reference's
            # sq_rerank_size GUC analogue into meta (maintenance.py)
            rerank_size = rerank_size or int(meta.get("default_rerank_size", 0))
            if radius is None and (quant not in _SQ_KINDS or rerank_size):
                # flat's approximate pass scores the WHOLE corpus, so
                # the scale-aware default window pools over n_rows
                win = scaled_rerank_window(
                    quant, k, meta["n_rows"], rerank_size,
                    pq_ratio=int(meta.get("pq_ratio", 4)),
                )
        run = SW.flat_file_block_runner(
            meta["kernel"], BT.EVERY_ROW if k is None else int(k),
            "vec16" if meta.get("storage") == "f16" else "vec", quant, params, win,
            below=None if radius is None else BT.kernel_below(self, radius),
            allow=allow, deny=deny,
        )
        return BT.serve(self, query, files, run, k, win, radius, driver)

    def _serve_search(self, query, k: int, deny=None, filter=None, rerank_size: int = 0,
                      driver: bool = True):
        """``search``'s body, with its keywords and ``deny`` ids: (ids,
        distances)."""
        return self._serve(query, k=k, filter=filter, deny=deny,
                           rerank_size=rerank_size, driver=driver)

    def _serve_range(self, query, radius: float, deny=None, filter=None,
                     driver: bool = True):
        """``range_search``'s body: (ids, distances), or the Spark
        frame over the budget."""
        return self._serve(query, radius=radius, filter=filter, deny=deny, driver=driver)

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
        window.  ``exclude`` is an id-set DataFrame removed before
        ranking (tombstones).

        The block runners answer every call (``_serve``): in the driver
        on an index under ``batch.DRIVER_SERVE_BYTES``, else as one
        Spark job.  The ``filter`` becomes the ids passing it and
        ``exclude`` the ids to drop.  The result is eager and
        driver-held."""
        driver = BT.route(self)
        got = self._serve_search(query, k, BT.denied(exclude), filter, rerank_size, driver)
        return BT.frame(self, got, self._id_type())

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
        keeps rows whose sound LOWER bound (``segment_worker.sq_bounds``)
        is inside the radius — the true distance is ≥ that bound, so every
        in-range row survives the prefilter by construction — then
        exact vectors are fetched for just that candidate set and
        refiltered.  At width·levels⁻¹ code error the candidate ring is
        a thin shell around the sphere: the exact-vector I/O is
        proportional to the answer, not the corpus.  PQ/RaBitQ
        estimators carry no sound bound, so those cells fall back to
        the exact vector scan (same answer, no I/O skip).

        The scan runs in the driver on an index under
        ``batch.DRIVER_SERVE_BYTES`` and returns an eager, driver-held
        result; over it, Spark tasks run the same scan and the result
        is a Spark plan."""
        driver = BT.route(self)
        got = self._serve_range(query, radius, BT.denied(exclude), filter, driver)
        return BT.frame(self, got, self._id_type())

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
        over n_rows; the SQ error-bound cut is per-query ``search``'s
        default only), and one pushed-id read of the file reranks the
        windows exactly; the merge cuts the global window, then k.  Returns (query_id, id, distance), k
        rows per query; eager and driver-held when ``batch.route``
        serves it in the driver."""
        qrows = BT.collect_queries_or_none(queries, query_id_col, query_vec_col)
        meta = self.meta
        quant = meta.get("quantization")
        params = win = None
        if quant is not None:
            win = scaled_rerank_window(
                quant, k, meta["n_rows"], int(meta.get("default_rerank_size", 0)),
                pq_ratio=int(meta.get("pq_ratio", 4)),
            )
            params = BT.quant_params(self, quant)
        vec_col = "vec16" if meta.get("storage") == "f16" else "vec"
        run = SW.flat_file_block_runner(
            meta["kernel"], int(k), vec_col, quant, params, win
        )
        return BT.search_blocks(
            self, queries, query_id_col, query_vec_col, qrows, self._files(), run, k, win
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
