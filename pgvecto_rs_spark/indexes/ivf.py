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
- **layout**: Parquet *partitioned by* ``list_id``, one directory per
  list.  A search opens only its nprobe probed list directories — the
  exact analogue of probing nprobe inverted lists.  At 100 TB with
  nlist=1000, nprobe=10 this scans ~1% of the corpus, spread over
  round-robin list chunks, one task each.
  One writer, ``segment_worker.ivf_list_writer``, writes every list
  file: build, updates and compaction run it per list inside one
  grouped Arrow job.
- **search**: ``segment_worker.ivf_block_runner`` per list chunk:
  centroid top-nprobe (numpy over the small centroid table), a pyarrow
  scan of the probed lists, exact kernel distance, per-list top-k
  merged (``indexes/batch.py``), in the driver or as Spark tasks.

Cos metric follows the reference opclass: vectors are normalized at
build, queries normalized at search, kernel is Dot, SQL distance is
``d + 1`` (src/index/am_options.rs:54-62, 231-249).
"""

from __future__ import annotations

import functools
import glob
import os
import shutil
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.indexes import batch as BT
from pgvecto_rs_spark.indexes import quantization as Qz
from pgvecto_rs_spark.indexes import segment_worker as SW

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


def _lists_schema(lists_dir: str):
    """The lists' Spark schema, ``list_id`` last, read from one list
    file's footer (``base.stored_schema``); None without list files."""
    first = next(glob.iglob(os.path.join(lists_dir, "list_id=*", "*.parquet")), None)
    return None if first is None else base.stored_schema(first).add("list_id", "integer")


def _snapshot(lists_dir: str) -> dict[int, list[str]]:
    """Each list's Parquet files, by list id, as the driver sees them
    now: what ``segment_worker.ivf_list_writer`` reads and the commit
    unlinks."""
    snap: dict[int, list[str]] = {}
    for f in sorted(glob.glob(os.path.join(lists_dir, "list_id=*", "*.parquet"))):
        snap.setdefault(int(os.path.basename(os.path.dirname(f))[8:]), []).append(f)
    return snap


#: what ``segment_worker.ivf_list_writer`` reports for each list it
#: rewrote: the ids that left it, the rows added and written, its radius
_REWRITE_SCHEMA = "list_id int, removed array<bigint>, added bigint, rows bigint, radius double"


class IVFIndex:
    #: triangle-inequality list pruning is lossless -- range_search is
    #: exact, safe for the planner's bare-sphere dispatch.
    RANGE_EXACT = True
    #: the files whose summed size ``batch.route`` weighs
    STORAGE_DIR = "lists"

    def __init__(self, spark: SparkSession, path: str, meta: dict, centroids: np.ndarray):
        self.spark = spark
        self.path = path
        self.meta = meta
        self.centroids = centroids
        self._radii: np.ndarray | None = None
        self._storage_bytes: int | None = None
        #: calls served in the driver vs by Spark (``batch.route``)
        self.serve_stats: dict[str, int] = {}
        #: filtered-search widening stop reasons per handle
        #: ({"rounds", "full", "certified", "exhausted"}) —
        #: makes the certificate's fire rate measurable (r11 advice)
        self.widen_stats: dict[str, int] = {}

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
        prepared = base.prepare_rows(
            df, id_col, vector_col, do_norm, storage, where, payload_cols
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
        x = base.training_sample(prepared, "vec", fraction, seed, SAMPLE_CAP)
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

        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        if residual_quantization and quantization is None:
            quantization = "sq8"
        if quantization not in (None, "pq", "rabitq", *_SQ_KINDS):
            raise ValueError(f"unknown quantization {quantization!r}")
        meta = {
            "kind": "ivf",
            "metric": metric.lower(),
            "kernel": kernel,
            "normalize": do_norm,
            "nlist": int(nlist_eff),
            "dims": int(centroids.shape[1]),
            "n_rows": 0,  # ``_rewrite`` counts the rows it writes
            "spherical": spherical,
            "payload_cols": list(payload_cols),
            "replicas": int(max(1, min(replicas, nlist_eff))),
            "storage": storage,
            "quantization": quantization,
            "residual_quantization": quantization in _SQ_KINDS,  # back-compat
        }
        idx = cls(spark, path, meta, centroids)
        indexed = idx._route(prepared)
        os.makedirs(path, exist_ok=True)

        # --- quantizer constants, trained once here on the residuals
        # (vec − centroid[list]); apply_updates encodes with them as is
        if quantization in _SQ_KINDS:
            lo, width = Qz.sq_train(indexed, "res")
            meta["sq_lo"] = lo.tolist()
            meta["sq_width"] = width.tolist()
            meta["sq_bits"] = _SQ_KINDS[quantization]
        elif quantization is not None:
            # the centroid sample's rule: replicas > 1 holds an id once
            # per list, so the list id breaks the tie
            rx = base.training_sample(
                indexed, "res", fraction, seed, SAMPLE_CAP, tie="list_id", by_id=True
            )
            dims = int(centroids.shape[1])
            if quantization == "pq":
                books = Qz.pq_train(rx, dims // pq_ratio, bits=pq_bits, seed=seed)
                np.save(os.path.join(path, "pq_codebooks.npy"), books, allow_pickle=False)
                meta["pq_subspaces"] = dims // pq_ratio
                meta["pq_ratio"] = int(pq_ratio)
            else:
                proj = Qz.rabitq_projection(dims, seed)
                np.save(os.path.join(path, "rabitq_proj.npy"), proj, allow_pickle=False)

        np.save(os.path.join(path, "centroids.npy"), centroids, allow_pickle=False)
        np.save(os.path.join(path, "list_radii.npy"), np.zeros(nlist_eff), allow_pickle=False)
        shutil.rmtree(os.path.join(path, "lists"), ignore_errors=True)
        idx._rewrite(np.empty(0, np.int64), prepared)
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "IVFIndex":
        meta = base.read_meta(path)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        return cls(spark, path, meta, centroids)

    # ------------------------------------------------------------------
    def _route(self, prepared: DataFrame) -> DataFrame:
        """Prepared rows (``base.prepare_rows``) with their ``list_id``:
        one row per assigned list (``replicas`` nearest centroids), plus
        the residual ``res`` = vec − centroid[list] when the index is
        quantized.  Build and updates route here, against the stored
        centroids (updates never retrain).

        Assignment runs in float32 (the input dtype): the (rows x
        nlist) gemm is bandwidth-bound and list membership is a routing
        decision — a boundary flip lands the vector in its
        second-nearest list, which search handles identically (and f32
        is deterministic, so builds stay reproducible).  Residuals stay
        f64."""
        sc = self.spark.sparkContext
        cent = self.centroids.astype(np.float32)
        bc32 = sc.broadcast(cent)
        c_sq = sc.broadcast(np.einsum("ij,ij->i", cent, cent))
        r = self.meta.get("replicas", 1)

        @F.pandas_udf("array<int>")
        def assign_lists(v: pd.Series) -> pd.Series:
            mat = np.asarray(v.tolist(), dtype=np.float32)
            d = np.float32(-2.0) * (mat @ bc32.value.T) + c_sq.value[None, :]
            if r == 1:
                top = np.argmin(d, axis=1)[:, None]
            else:
                top = np.argpartition(d, r - 1, axis=1)[:, :r]
            return pd.Series([row.astype("int32").tolist() for row in top])

        indexed = prepared.withColumn("list_id", F.explode(assign_lists("vec")))
        if self._quant() is None:
            return indexed
        bc = sc.broadcast(self.centroids.astype(np.float64))

        @F.pandas_udf("array<float>")
        def residual(v: pd.Series, lid: pd.Series) -> pd.Series:
            mat = np.asarray(v.tolist(), dtype=np.float64)
            res = mat - bc.value[lid.to_numpy()]
            return pd.Series([row.astype("float32").tolist() for row in res])

        return indexed.withColumn("res", residual("vec", "list_id"))

    def _encode(self, indexed: DataFrame) -> DataFrame:
        """Routed rows (``_route``) as stored: the quantizer codes of
        ``res`` (``quantization.encode``, with the stored constants) in
        place of it, and f16 storage's binary16 words in place of
        ``vec``.  All quantizers code *residuals*: their range is much
        tighter than the raw range, so the codes lose less (the
        reference's residual_quantization option, applied to whichever
        quantizer is composed in)."""
        quant = self._quant()
        if quant is not None:
            indexed = Qz.encode(indexed, "res", quant, self.meta, self.path, self.spark)
            indexed = indexed.drop("res")
        if self.meta.get("storage") == "f16":
            indexed = indexed.withColumn("vec16", base.f16_words("vec")).drop("vec")
        return indexed

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
        lists.  Deletes and re-inserts touch the lists that hold their
        old rows; inserts touch their assigned lists.  Untouched lists
        keep their files byte-for-byte; centroids and quantizer
        constants are never retrained.

        The ids leaving (deleted ids and the inserted rows' ids) are
        collected to the driver once and reach every list task as one
        sorted int64 array in the broadcast write plan, never as an
        IN-list: 8 bytes per id, so the driver must hold them all.
        ``insert_rows`` that Spark computes (not ``isLocal()``) are
        checkpointed once after preparation, so the ids leaving and the
        rows written come from one evaluation of the input.  Then
        ``_rewrite`` writes every touched list in one grouped job.
        Returns the rewritten list ids."""
        prepared = None
        leaving = []
        if delete_ids is not None:
            leaving.append(delete_ids.select(F.col(id_col).cast("long").alias("id")))
        if insert_rows is not None:
            payloads = [c for c in self.meta.get("payload_cols", []) if c in insert_rows.columns]
            prepared = base.prepare_rows(
                insert_rows, F.col(id_col).cast("long"), vector_col, self.meta["normalize"],
                self.meta.get("storage", "f32"), keep=payloads,
            )
            if not insert_rows.isLocal():
                prepared = prepared.localCheckpoint(eager=True)
            leaving.append(prepared.select("id"))
        if not leaving:
            return []
        ids = functools.reduce(DataFrame.unionByName, leaving).toArrow().column("id")
        return self._rewrite(np.unique(ids.drop_null().to_numpy()), prepared)

    def _rewrite(self, removes: np.ndarray, prepared: DataFrame | None) -> list[int]:
        """Write the lists through ``segment_worker.ivf_list_writer``:
        the ``prepared`` rows (``base.prepare_rows``) routed and encoded,
        plus one marker row per list, grouped by ``list_id`` in ONE Arrow
        job; ``removes`` (sorted int64 ids) reach the tasks in the
        broadcast plan, never as an IN-list.  Each list is one task that
        holds the whole list in memory (``ivf_list_writer``).  Then
        ``_commit_lists`` publishes the rewritten lists.  Returns the
        rewritten list ids."""
        if prepared is None and not len(removes):
            return []
        lists_dir = os.path.join(self.path, "lists")
        rows = base.local_frame(
            self.spark, [(i, None) for i in range(len(self.centroids))], "list_id int, _row boolean"
        )
        schema = _lists_schema(lists_dir)
        if prepared is not None:
            enc = self._encode(self._route(prepared))
            rows = enc.withColumn("_row", F.lit(True)).unionByName(rows, allowMissingColumns=True)
            schema = schema or enc.schema
        if schema is None:  # no list files and nothing to insert
            return []
        plan = self._write_plan(removes, schema)
        bc = self.spark.sparkContext.broadcast(plan)
        try:
            done = (
                rows.groupBy("list_id")
                .applyInArrow(lambda key, tbl: SW.ivf_list_writer(bc.value, key[0].as_py(), tbl),
                              _REWRITE_SCHEMA)
                .toArrow()
            )
            return self._commit_lists(plan, done)
        finally:
            bc.destroy()
            for f in glob.glob(os.path.join(lists_dir, "list_id=*", f".{plan['token']}*")):
                os.unlink(f)

    def _write_plan(self, removes: np.ndarray, schema) -> dict:
        """What every ``ivf_list_writer`` task reads: the lists' snapshot,
        the sorted ids leaving, the centroids, the stored columns (the
        Spark ``schema`` without ``list_id``) and this write's token."""
        import uuid

        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import DataType

        lists_dir = os.path.join(self.path, "lists")
        stored = StructType([f for f in schema.fields if f.name != "list_id"])
        return {
            "dir": lists_dir, "snapshot": _snapshot(lists_dir), "token": uuid.uuid4().hex,
            "removes": np.asarray(removes, dtype=np.int64),
            "centroids": self.centroids.astype(np.float64), "vec_col": self._vec_col(),
            "schema": to_arrow_schema(stored),
            "result": to_arrow_schema(DataType.fromDDL(_REWRITE_SCHEMA)),
            "dictionary": [
                f"{f.name}.list.element" if f.dataType.typeName() == "array" else f.name
                for f in stored.fields if f.name not in ("id", "vec", "vec16", "rq")
            ],
        }

    def _commit_lists(self, plan: dict, done) -> list[int]:
        """Publish the lists ``ivf_list_writer`` rewrote (``done``, its
        result rows): unlink each one's snapshot files, rename its pending
        file in, drop a directory that ended empty (0 rows written) — a
        generation cloned by hardlinks keeps its inodes.  A list that
        wrote rows but whose pending file the driver cannot see raises
        before any file is touched.  The touched lists' radii are
        patched into ``list_radii.npy`` (inserts can extend a radius,
        which would silently break range_search completeness on a stale
        bound) and ``n_rows`` becomes old − ids leaving + rows arriving /
        replicas, with no pass over the lists.  Returns the rewritten
        list ids."""
        done = done.to_pydict()
        ldirs = [os.path.join(plan["dir"], f"list_id={lid}") for lid in done["list_id"]]
        pending = [os.path.join(d, f".{plan['token']}.pending") for d in ldirs]
        lost = [lid for lid, n, p in zip(done["list_id"], done["rows"], pending)
                if n and not os.path.exists(p)]
        if lost:
            raise RuntimeError(
                f"IVF lists {lost} were written but their files are not visible "
                "to the driver; no list was changed"
            )
        for lid, n, ldir, p in zip(done["list_id"], done["rows"], ldirs, pending):
            for f in plan["snapshot"].get(lid, ()):
                os.unlink(f)
            if n:
                os.replace(p, os.path.join(ldir, f"part-{plan['token']}.parquet"))
            else:
                shutil.rmtree(ldir, ignore_errors=True)
        if not done["list_id"]:
            return []
        radii_path = os.path.join(self.path, "list_radii.npy")
        if os.path.exists(radii_path):
            radii = np.load(radii_path)
            radii[done["list_id"]] = done["radius"]
            # a fresh inode: a generation cloned by hardlinks keeps its radii
            tmp = os.path.join(self.path, ".list_radii.npy")
            np.save(tmp, radii, allow_pickle=False)
            os.replace(tmp, radii_path)
        self._radii = None
        self._storage_bytes = None
        removed = np.unique(np.concatenate([np.empty(0, np.int64), *map(np.asarray, done["removed"])]))
        self.meta["n_rows"] = (
            int(self.meta["n_rows"]) - len(removed)
            + sum(done["added"]) // int(self.meta.get("replicas", 1))
        )
        base.write_meta(self.path, self.meta)
        return sorted(done["list_id"])

    def probe_lists(self, q: np.ndarray, nprobe: int) -> list[int]:
        d = base.np_kernel_distance(self.meta["kernel"], self.centroids.astype(np.float64), q)
        return np.argsort(d, kind="stable")[:nprobe].tolist()

    def list_radii(self) -> np.ndarray:
        """Per-list max residual L2 norm max_{x∈list} |x − centroid| —
        the pruning bound for index-accelerated range search.  Loaded
        from the build artifact; for indexes built before the artifact
        existed, derived once in the driver from the stored lists with
        the list writer's ``segment_worker.ivf_list_radius`` (and
        persisted)."""
        if self._radii is None:
            p = os.path.join(self.path, "list_radii.npy")
            if not os.path.exists(p):
                import pyarrow as pa
                import pyarrow.parquet as pq

                radii = np.zeros(int(self.meta["nlist"]))
                for lid, files in _snapshot(os.path.join(self.path, "lists")).items():
                    tbl = pa.concat_tables([pq.read_table(f, columns=[self._vec_col()]) for f in files])
                    radii[lid] = SW.ivf_list_radius(
                        tbl, self.centroids[lid].astype(np.float64), self._vec_col()
                    )
                np.save(p, radii, allow_pickle=False)
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

        ``ivf_block_runner`` scans the surviving lists, with ``filter``
        and ``exclude`` as id masks: in the driver on an index under
        ``batch.DRIVER_SERVE_BYTES``, returning an eager, driver-held
        result, else as Spark tasks behind a Spark plan (``_finish``).
        """
        if self.meta["nlist"] == 0:  # empty index (issue_427 build path)
            return base.local_frame(self.spark, [], "id long, distance double")
        driver = BT.route(self)
        got = self._serve_range(query, radius, BT.denied(exclude), filter, driver)
        return BT.frame(self, got, self._id_type())

    def _sphere_lists(self, q: np.ndarray, radius: float) -> list[int]:
        """The lists whose triangle-inequality bound (``range_search``)
        lets them hold a row under ``radius``."""
        kernel = self.meta["kernel"]
        rad = self.list_radii()
        kradius = (
            float(radius) - 1.0 if self.meta["metric"] == "cos" else float(radius)
        )
        d_c = base.np_kernel_distance(kernel, self.centroids.astype(np.float64), q)[: len(rad)]
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
        return np.nonzero(lb < kradius + margin)[0].tolist()

    def _serve_range(self, query, radius: float, deny=None, filter=None,
                     driver: bool = True):
        """``range_search``'s body: the surviving lists scanned by
        ``ivf_block_runner`` (probing every list restricts the runner to
        its chunk), as one unit in the driver or in round-robin chunks
        as Spark tasks, with the id masks: (ids, distances), or the
        Spark frame over the budget."""
        if self.meta["nlist"] == 0:
            return np.empty(0, np.int64), np.empty(0)
        lists = self._sphere_lists(base.prep_query(query, self.meta["normalize"]), radius)
        if not lists:
            return np.empty(0, np.int64), np.empty(0)
        keys = None if filter is None else self._allowed(filter, lists, driver)
        run = SW.ivf_block_runner(
            self.centroids.astype(np.float64), self.meta["kernel"], len(self.centroids),
            BT.EVERY_ROW, os.path.join(self.path, "lists"), self._vec_col(),
            below=BT.kernel_below(self, radius),
            allow=None if keys is None else keys[:, 0], deny=deny,
        )
        units = [lists] if driver else self._chunks(lists)
        return BT.serve(self, query, units, run, radius=radius, driver=driver)

    def _allowed(self, filter, lists: list[int], driver: bool = True) -> np.ndarray:
        """(id, list_id) of the rows in ``lists`` passing ``filter``
        (``batch.allowed`` over id, the payload columns and list_id)."""
        lists_dir = os.path.join(self.path, "lists")
        files = self._list_files(lists)
        if not files:
            return np.empty((0, 2), dtype=np.int64)
        names = {"id", "list_id", *self.meta.get("payload_cols", [])}
        schema = StructType([f for f in _lists_schema(lists_dir).fields if f.name in names])
        return BT.allowed(self, filter, files, schema, lists_dir, ("id", "list_id"), driver)

    def _list_files(self, lists: list[int]) -> list[str]:
        lists_dir = os.path.join(self.path, "lists")
        return [
            f for lid in lists
            for f in glob.glob(os.path.join(lists_dir, f"list_id={lid}", "*.parquet"))
        ]

    def _id_type(self) -> str:
        schema = _lists_schema(os.path.join(self.path, "lists"))
        return "bigint" if schema is None else schema["id"].dataType.simpleString()

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
        from the runner's per-row kernel and can differ from this
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

        The scan reads only the nprobe probed lists; residual
        ``filter`` and ``exclude`` drop rows before the limit (VBASE
        exact-k under filters — within the probed lists).  If a
        selective filter leaves fewer than k survivors, the probe set
        widens (nprobe ×4, up to ``max_widen`` rounds or nlist) — the
        bounded analogue of VBASE's unbounded ordered stream.  With
        quantization, the first pass scores decoded ``centroid +
        residual̂`` codes and a rerank window (for SQ without
        ``rerank_size``, the error bound) gets exact distances
        (two-phase).

        ``ivf_block_runner`` answers every call, ladder included
        (``_ladder``): in the driver on an index under
        ``batch.DRIVER_SERVE_BYTES``, else as one Spark job per round.
        The result is eager and driver-held, with the winners' stored
        columns (``_stored``).
        """
        if self.meta["nlist"] == 0:  # empty index (issue_427 build path)
            return base.local_frame(self.spark, [], "id long, distance double")
        driver = BT.route(self)
        return self._stored(*self._ladder(
            query, k, self._nprobe(nprobe), filter, max_widen, BT.denied(exclude),
            rerank_size, driver,
        ))

    def _nprobe(self, nprobe: int | None) -> int:
        if nprobe is not None:
            return nprobe
        return int(self.meta.get("default_nprobe") or default_nprobe(self.meta["nlist"]))

    def _widen(self, query, k: int, nprobe: int, max_widen: int, scan):
        """The escalation ladder of a residual search (cost-bounded, r11
        advice): ``scan(np_eff)`` returns (the kept rows, an answer),
        and each round stops on the first of

        - full: probed every list, exact by construction;
        - certified: ``_widen_certified``'s ball/Cauchy-Schwarz bound
          proves the kept top-k is the global filtered top-k, exact.

        Otherwise it probes 4x more lists, up to ``max_widen`` rounds,
        and returns the last answer.  ``widen_stats`` counts rounds and
        stop reasons per handle, whichever source ran the rounds, so the
        certification rate is measurable (ADVICE r11)."""
        q = base.prep_query(query, self.meta["normalize"])
        nlist, n_rows = self.meta["nlist"], self.meta["n_rows"]
        np_eff = nprobe
        for _ in range(max_widen + 1):
            rows, answer = scan(np_eff)
            BT.tally(self.widen_stats, "rounds")
            if np_eff >= nlist:
                BT.tally(self.widen_stats, "full")
                return answer
            if len(rows) >= min(k, n_rows) and self._widen_certified(q, np_eff, rows):
                BT.tally(self.widen_stats, "certified")
                return answer
            np_eff = min(nlist, np_eff * 4)
        BT.tally(self.widen_stats, "exhausted")
        return answer

    def _ladder(self, query, k: int, nprobe: int, filter, max_widen: int, deny,
                rerank_size: int = 0, driver: bool = True):
        """``search``'s body: ``ivf_block_runner`` over the batch chunks
        as a batch of one at ``nprobe`` (``batch.serve``, in the driver
        or as Spark tasks), with the id masks; a ``filter`` or ``deny``
        mask climbs the ladder (``_widen``), each round resolving the
        filter over its probed lists.  Quantized indexes rerank the
        window over the probed pool (``_fixed_rerank_window``), or SQ
        without ``rerank_size`` the error bound's rows.  Returns (ids,
        distances, the probed lists, the (id, list_id) rows passing the
        filter)."""
        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        q = base.prep_query(query, self.meta["normalize"])
        quant = self._quant()
        params = None if quant is None else BT.quant_params(self, quant)

        def scan(np_eff):
            probed = self.probe_lists(q, np_eff)
            keys = None if filter is None else self._allowed(filter, probed, driver)
            win = None
            if quant is not None and (quant not in _SQ_KINDS or rerank_size):
                win = self._fixed_rerank_window(quant, k, np_eff, rerank_size)
            run = SW.ivf_block_runner(
                self.centroids.astype(np.float64), self.meta["kernel"], int(np_eff),
                int(k), os.path.join(self.path, "lists"), self._vec_col(), quant, params,
                win, allow=None if keys is None else keys[:, 0], deny=deny,
            )
            ids, dist = BT.serve(self, query, self._chunks(), run, k, win, driver=driver)
            return [{"distance": d} for d in dist.tolist()], (ids, dist, probed, keys)

        if (filter is None and deny is None) or max_widen <= 0:
            return scan(nprobe)[1]
        return self._widen(query, k, nprobe, max_widen, scan)

    def _driver_scans(self, op: str) -> float:
        """The index scans ``op`` ("search" or "range_search") weighs in
        ``batch.route``."""
        return 1.0

    def _serve_search(self, query, k: int, deny=None, filter=None, nprobe=None,
                      rerank_size: int = 0, max_widen: int = 3, driver: bool = True):
        """``search``'s body, with its keywords and ``deny`` ids: (ids,
        distances)."""
        if self.meta["nlist"] == 0:
            return np.empty(0, np.int64), np.empty(0)
        return self._ladder(query, k, self._nprobe(nprobe), filter, max_widen, deny,
                            rerank_size, driver)[:2]

    def _quant(self) -> str | None:
        return self.meta.get("quantization") or (
            "sq8" if self.meta.get("residual_quantization") else None
        )

    def _vec_col(self) -> str:
        return "vec16" if self.meta.get("storage") == "f16" else "vec"

    def _chunks(self, lists: list[int] | None = None) -> list[list[int]]:
        """Round-robin chunks of ``lists`` (default: every list id), one
        per core: the batch units."""
        lists = list(range(self.meta["nlist"])) if lists is None else lists
        n_chunks = min(len(lists), self.spark.sparkContext.defaultParallelism)
        return [lists[c::n_chunks] for c in range(n_chunks)]

    def _stored(self, ids: np.ndarray, dist: np.ndarray, probed: list[int],
                keys: np.ndarray | None) -> DataFrame:
        """The search result: the winners' stored columns (every list
        column but the vectors and codes) and their distance, read from
        the ``probed`` lists with pyarrow in the driver (a
        replicated row from its smallest list id among the rows passing
        the filter, whose (id, list_id) are ``keys``)."""
        import pyarrow.dataset as pads

        lists_dir = os.path.join(self.path, "lists")
        schema = StructType(
            [f for f in _lists_schema(lists_dir).fields if f.name not in ("vec", "codes", "rq")]
        ).add("distance", "double")
        rec: dict[int, dict] = {}
        if len(ids):
            held = pads.dataset(
                self._list_files(probed), format="parquet", partitioning="hive", partition_base_dir=lists_dir
            ).to_table(columns=schema.names[:-1], filter=pads.field("id").isin(ids.tolist()))
            passing = None if keys is None else set(map(tuple, keys.tolist()))
            for r in held.sort_by("list_id").to_pylist():
                if passing is None or (r["id"], r["list_id"]) in passing:
                    rec.setdefault(int(r["id"]), r)
        rows = [
            tuple({**rec[i], "distance": d}[c] for c in schema.names)
            for i, d in zip(ids.tolist(), dist.tolist())
        ]
        return base.local_frame(self.spark, rows, schema)

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
        uses the fixed rerank window (``_fixed_rerank_window``); the SQ
        error-bound cut is per-query ``search``'s default only.

        Returns (query_id, id, distance), k rows per query; unquantized
        results are bit-identical to per-query search at the same
        nprobe (same np_kernel_distance arithmetic); eager and
        driver-held when ``batch.route`` serves it in the driver."""
        from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

        meta = self.meta
        nprobe = self._nprobe(nprobe)
        nlist = meta["nlist"]
        if nlist == 0:  # empty index (issue_427 build path)
            return base.local_frame(
                self.spark, [], "query_id bigint, id bigint, distance double"
            )

        qrows = BT.collect_queries_or_none(queries, query_id_col, query_vec_col)
        quant = self._quant()
        params = win = None
        if quant is not None:
            # scale-aware default window keyed by the EFFECTIVE code
            # kind (residual SQ keeps its trained bit width in meta)
            qkey = f"sq{meta.get('sq_bits', 8)}" if quant in _SQ_KINDS else quant
            win = self._fixed_rerank_window(qkey, k, nprobe, rerank_size)
            params = BT.quant_params(self, quant)
        run = SW.ivf_block_runner(
            self.centroids.astype(np.float64),
            meta["kernel"],
            int(nprobe),
            int(k),
            os.path.join(self.path, "lists"),
            vec_col=self._vec_col(),
            quant=quant,
            params=params,
            win=win,
        )
        return BT.search_blocks(
            self, queries, query_id_col, query_vec_col, qrows, self._chunks(), run, k, win
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
