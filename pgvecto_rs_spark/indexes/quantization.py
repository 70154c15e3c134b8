"""Product quantization and RaBitQ — the remaining quantizers.

Reference:
- PQ: crates/quantization/src/product.rs:31-120 — split dims into
  subspaces (``ratio`` dims each), k-means codebook of 2^bits centroids
  per subspace (defaults ratio=1, bits=8; train sample cap 65536,
  product.rs:60-66), asymmetric distance via per-query LUT.
- RaBitQ: crates/quantization/src/rabitq.rs:24-143 — seeded random
  orthogonal projection (QR of a gaussian matrix, rabitq.rs:37-56),
  1-bit sign codes of the rotated normalized vector + per-vector
  correction factors, estimator rescales the bit dot product.

Spark shapes:
- PQ codes are an ``array<smallint>`` column (n_subspaces bytes of
  information per row); RaBitQ codes are sign bits packed into
  ``array<int>`` words plus a stored norm (``rq`` struct).  Each has
  one numpy encoder (``pq_encode``, ``rabitq_encode``; SQ's is
  ``segment_worker.sq_encode``): flat and IVF rows encode through
  ``encoder``, in an Arrow UDF (``encode``) or in the driver's IVF
  write loop, at build and update time alike; HNSW segment builds
  call them directly.
- Scoring has one implementation per quantizer, in
  ``segment_worker._approx_dists``: decode-on-access for flat codes,
  a batched per-list LUT for IVF-PQ residual codes, one unpack +
  matmul for RaBitQ.  Per-query ``search`` and ``search_batch`` both
  run it inside the block runners.

Both feed the same two-phase scan as SQ: approximate scan -> rerank
window -> exact distances (reranker/flat.rs,
``segment_worker._rerank_emit``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, ShortType

from pgvecto_rs_spark.indexes import segment_worker as SW

PQ_BITS = 8  # crates/base/src/index.rs:475-496 default
TRAIN_CAP = 65536  # common/src/sample.rs


# ---------------------------------------------------------------------------
# Scalar quantization and the one encoder every index writes codes with
# ---------------------------------------------------------------------------

def sq_train(df, col: str) -> tuple[np.ndarray, np.ndarray]:
    """Per-dim (lo, width) of ``df[col]`` in one aggregation pass
    (crates/quantization/src/scalar.rs:32-60 trains the same bounds); a
    constant dim gets width 1."""
    mm = (
        df.select(F.posexplode(col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("pos")
        .collect()
    )
    lo = np.array([m["lo"] for m in mm], dtype=np.float64)
    hi = np.array([m["hi"] for m in mm], dtype=np.float64)
    return lo, np.where(hi > lo, hi - lo, 1.0)


def encoder(quant: str, meta: dict, path: str):
    """(column, its Spark type, codes of f64 rows as an Arrow array)
    for the quantizer ``quant`` with its trained constants (``meta``'s
    SQ bounds, the PQ codebooks or RaBitQ projection saved under
    ``path``): ``codes`` (SQ ``segment_worker.sq_encode``,
    ``pq_encode``) or ``rq`` (``rabitq_encode``).  ``encode``'s UDF and
    the driver's IVF write loop (``IVFIndex._write_lists``) both code
    through it."""
    from pgvecto_rs_spark.indexes.flat import _SQ_KINDS

    if quant in _SQ_KINDS:
        lo = np.asarray(meta["sq_lo"], dtype=np.float64)
        width = np.asarray(meta["sq_width"], dtype=np.float64)
        levels = (1 << int(meta.get("sq_bits", 8))) - 1
        # no null elements, the type Catalyst's zip_with stored SQ codes as
        return "codes", ArrayType(ShortType(), False), \
            lambda mat: SW.list_array(SW.sq_encode(mat, lo, width, levels))
    if quant == "pq":
        books = os.path.join(path, "pq_codebooks.npy")
        return "codes", "array<smallint>", \
            lambda mat: SW.list_array(pq_encode(mat, SW._load_params(books)))
    if quant == "rabitq":
        proj = os.path.join(path, "rabitq_proj.npy")

        def rq(mat):
            norms, words = rabitq_encode(mat, SW._load_params(proj))
            return pa.StructArray.from_arrays(
                [pa.array(norms), SW.list_array(words)], names=["norm", "words"]
            )

        return "rq", "struct<norm: float, words: array<int>>", rq
    raise ValueError(f"unknown quantization {quant!r}")


def encode(df, col: str, quant: str, meta: dict, path: str):
    """``df`` plus the quantizer codes of its vector column ``col``
    (``encoder``), computed by an Arrow UDF.  Build and incremental
    updates both encode here or in the driver through the same
    ``encoder``, so a row's codes never depend on which of them wrote
    it."""
    name, rtype, codes = encoder(quant, meta, path)
    dims = int(meta["dims"])

    @F.arrow_udf(rtype)
    def encode_rows(v: pa.Array) -> pa.Array:
        return codes(SW._read_vec_matrix_from(v, np.float64, dims))

    return df.withColumn(name, encode_rows(col))


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------

def pq_train(sample: np.ndarray, n_subspaces: int, bits: int = PQ_BITS, seed: int = 42) -> np.ndarray:
    """Codebooks (n_subspaces, 2^bits, sub_dims) via per-subspace Lloyd.

    Training rows are capped at 64 per centroid (16384 at 8 bits) by a
    deterministic stride over the caller's id-sorted rows.  NOTE: the
    reference's PQ trainer itself samples 65536 rows for 256 centroids
    (256/centroid, crates/quantization/src/product.rs:61); our 64/centroid
    cap matches the reference's *IVF* k-means ratio (65536-row cap over
    nlist=1000 defaults, common/src/sample.rs), i.e. 4x fewer rows than
    its PQ trainer — a deliberate divergence validated by the recall
    gates (0.968-0.998 at 1M across 64/256 dims, 0.973 at 200kx1024).
    Lloyd cost is linear in rows, and past ~64/centroid extra rows only
    re-measure the same cells: the r12 profile had quantizer training
    at 3x the HNSW graph build per 256-dim segment, almost all of it
    Lloyd over the full 50k rows.  Encoding still covers every row."""
    from pgvecto_rs_spark.indexes.ivf import _lloyd

    n, dims = sample.shape
    cap = max((1 << bits) * 64, 4096)
    if n > cap:
        # floor stride keeps the strided sample >= cap rows (ceil would
        # undershoot: n=16385 with ceil stride 2 trains on 8193 rows —
        # half the documented target); truncate back down to exactly cap
        sample = sample[:: max(1, n // cap)][:cap]
        n = len(sample)
    if dims % n_subspaces:
        raise ValueError(f"dims {dims} not divisible by n_subspaces {n_subspaces}")
    sub = dims // n_subspaces
    k = 1 << bits
    books = []
    for s in range(n_subspaces):
        block = sample[:, s * sub : (s + 1) * sub]
        books.append(_lloyd(block, min(k, len(block)), seed=seed + s).astype(np.float64))
    # pad codebooks short of k (tiny training sets) by repeating rows so
    # the LUT stays rectangular
    full = np.zeros((n_subspaces, k, sub))
    for s, b in enumerate(books):
        full[s, : len(b)] = b
        if len(b) < k:
            full[s, len(b) :] = b[-1]
    return full


def pq_encode(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, n_subspaces) int16 codes: each subvector's nearest codeword."""
    n_sub, _, sub = books.shape
    codes = np.empty((len(mat), n_sub), dtype=np.int16)
    for s in range(n_sub):
        block = mat[:, s * sub : (s + 1) * sub]
        d = (
            np.einsum("ij,ij->i", block, block)[:, None]
            - 2.0 * block @ books[s].T
            + np.einsum("ij,ij->i", books[s], books[s])[None, :]
        )
        codes[:, s] = np.argmin(d, axis=1)
    return codes


# ---------------------------------------------------------------------------
# RaBitQ
# ---------------------------------------------------------------------------

def rabitq_projection(dims: int, seed: int = 42) -> np.ndarray:
    """Seeded random orthogonal matrix: QR of a gaussian (rabitq.rs:37-56)."""
    rng = np.random.default_rng(seed)
    g = rng.normal(size=(dims, dims))
    qmat, r = np.linalg.qr(g)
    # sign-fix so the decomposition is unique/deterministic
    qmat *= np.sign(np.diag(r))[None, :]
    return qmat


def rabitq_encode(mat: np.ndarray, proj: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(norms f32, (n, ceil(dims/32)) int32 sign words): bit i of a row
    is sign(P·x̂)_i > 0, packed little-end first into 32-bit words."""
    dims = proj.shape[0]
    n_words = (dims + 31) // 32
    norms = np.linalg.norm(mat, axis=1)
    safe = np.where(norms > 0, norms, 1.0)
    rotated = (mat / safe[:, None]) @ proj.T
    padded = np.zeros((len(mat), n_words * 32), dtype=np.int64)
    padded[:, :dims] = rotated > 0
    packed = (
        padded.reshape(len(mat), n_words, 32) << np.arange(32, dtype=np.int64)[None, None, :]
    ).sum(axis=2)
    return norms.astype(np.float32), packed.astype(np.uint32).view(np.int32)


# ---------------------------------------------------------------------------
# scale-aware default rerank windows (r11)
# ---------------------------------------------------------------------------

#: Default rerank fraction of the approximately-scored candidate pool
#: per quantizer (applies when rerank_size=0; an explicit rerank_size —
#: the reference's pq_rerank_size / sq_rerank_size GUCs,
#: src/gucs/executing.rs:4-14 — keeps the fixed-window contract).
#: Calibrated on the 200k-row / nlist=512 sweep (BENCHNOTES r11
#: "rerank window calibration"): pq recall saturates at its nprobe
#: ceiling at ~4% of the pool (win 320 of a ~8.2k-candidate pool hit
#: the 0.93 ceiling; the old fixed win 40 read 0.83), and at
#: saturation results are bit-identical to the unquantized cell at the
#: same nprobe (verified directly).  rabitq (1 bit/dim at 64 dims)
#: needs ~2x that to approach its ceiling.  sq8's decode error is
#: small enough that the fixed 4k window already matched the
#: unquantized cell at the 1M gate (r10), so it keeps the cheap
#: default; low-bit SQ interpolates by code size (conservative).
RERANK_POOL_FRAC = {"pq": 0.04, "rabitq": 0.08,
                    "sq4": 0.02, "sq2": 0.08, "sq1": 0.08}

#: absolute bound on the scale-aware default window: keeps the
#: exact-vector rerank fetch (win rows/query) bounded however large the
#: candidate pool grows; users chasing the last recall points at
#: extreme pool sizes set rerank_size explicitly
RERANK_WINDOW_CAP = 4096


def scaled_rerank_window(quant: str | None, k: int, pool: int,
                         rerank_size: int, pq_ratio: int = 4) -> int:
    """Rerank window for the fixed-window two-phase paths.  The DEFAULT
    scales with the candidate pool because ADC rank error displaces
    true neighbors further down the approximate order the more
    candidates are scored — a fixed window's recall decays as the
    corpus grows (pq measured 0.80 recall at the 1M gate with the old
    fixed win 40; 4% of the pool restores the unquantized ceiling).

    An explicit ``rerank_size`` wins only UPWARD: it is floored at
    ``k*4`` (and ``k``), so a caller can widen the window but never
    shrink it below the recall-safe minimum — conservative by design
    (never loses recall; costs at most a 4k-row exact fetch).

    ``pq_ratio`` scales the pq window by code coarseness,
    (pq_ratio/4)^2, and lifts the absolute cap by pq_ratio/4: ADC rank
    displacement grows with dims-per-subspace, and the r12 high-dim
    smoke (200k x 1024, ratio 8, nlist=1024) measured default recall
    0.825 at the flat 4% window vs 0.946/0.984/0.998 at windows
    1000/2000/4096 — while the plain ivf cell read 1.000 at the same
    nprobe, pinning the whole gap on ADC error.  The quadratic rule
    puts ratio 8 at 16% of the pool (>=0.95 on that cell); ratio 4
    keeps the calibrated 4% exactly."""
    if rerank_size:
        return int(max(k, rerank_size, k * 4))
    frac = RERANK_POOL_FRAC.get(quant or "", 0.0)
    if not frac:
        return int(k * 4)
    cap = RERANK_WINDOW_CAP
    if quant == "pq" and pq_ratio > 4:
        coarse = (pq_ratio / 4.0) ** 2
        frac *= coarse
        cap = int(cap * pq_ratio / 4)
    return int(max(k * 4, min(int(frac * pool), cap)))
