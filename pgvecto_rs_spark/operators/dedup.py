"""Deduplication operators for LLM training-data pipelines.

Scale design (the point of running these on Spark):

- **exact**: one hash-shuffle on a 16-byte digest — the minimum possible
  movement; at 100 TB this is a single groupBy over ~n rows of ~50 bytes.
- **MinHash + LSH**: shingle → minhash signature (one pass, Python-free)
  → band buckets → self-join *within buckets only*.  The O(n²) pair
  explosion is confined to hash buckets, the classic LSH trick; skewed
  buckets are bounded by ``max_bucket`` (drop pathological buckets, same
  spirit as AQE skew handling).
- **SimHash**: 64-bit signature via per-token hashing; near-dup =
  Hamming distance on two longs — join on band keys of the signature.
- **embedding cosine**: near-dup pairs via the IVF/LSH index path in
  ``pgvecto_rs_spark.indexes`` or brute knn_join for small sides.

MinHash here is fully deterministic: shingles hashed with xxhash64
(seeded), permutations are the classic ``(a*x + b) mod p`` family with
fixed constants, so results are reproducible across runs and engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "exact_dedup",
    "hamming_candidate_pairs",
    "minhash_signature",
    "lsh_candidate_pairs",
    "minhash_dedup_groups",
    "neardup_components",
    "shingles",
    "simhash",
    "simhash_candidate_pairs",
    "srp_neardup_pairs",
    "verify_pairs_jaccard",
]

# Mersenne prime 2^61 - 1: multiply of two < 2^61 values overflows i64,
# so the permutation family uses mod-p arithmetic on 31-bit hashes
# instead — products stay < 2^62, exact under ANSI longs.
_P = (1 << 31) - 1  # Mersenne prime, classic MinHash modulus

# r14 A/B toggle: Arrow shingle hashing in verify_pairs_jaccard (True)
# vs the interpreted Catalyst HOF (False).  Both produce bit-identical
# jaccard values; see verify_pairs_jaccard.
_ARROW_VERIFY_SHINGLES = True


def _perm_constants(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_perm)]


def shingles(text: Column | str, k: int = 5) -> Column:
    """Character k-shingles of the normalized text, as a distinct array.
    Character shingles (vs word) are robust to tokenization choices."""
    t = F.regexp_replace(F.lower(F.trim(text if isinstance(text, Column) else F.col(text))), r"\s+", " ")
    n = F.length(t)
    return F.when(n < k, F.array(t)).otherwise(
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n - (k - 1)), lambda i: F.substring(t, i, k))
        )
    )


def _shingle_hashes(text: Column | str, k: int = 5) -> Column:
    """31-bit positive hash per distinct shingle (xxhash64 folded)."""
    return F.transform(
        shingles(text, k),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_P)).cast("long"),
    )


def _norm_text(text: Column | str) -> Column:
    """The shingle normalization (lower/trim/ws-collapse), as a column —
    kept JVM-side so Java-regex ``\\s`` semantics can never diverge from
    a Python reimplementation."""
    return F.regexp_replace(
        F.lower(F.trim(text if isinstance(text, Column) else F.col(text))),
        r"\s+",
        " ",
    )


def _shingle_hash_arrays(texts: "pd.Series", k: int) -> list:
    """Distinct xxhash64 per character-k-shingle, one uint64 array per
    NORMALIZED text (r14, guide §4.2).

    Replaces the Catalyst ``array_distinct(transform(shingles(t, k),
    xxhash64))`` pipeline: higher-order functions are CodegenFallback,
    so every shingle paid ~10 us of interpreted evaluation (measured
    r13) — ~15 s of task time for the sf0.1 corpus' 1.5 M shingles vs
    ~50 ms in this vectorized pass.  Hashes are bit-identical to
    Spark's ``xxhash64`` (operators._xxh64, parity-tested); distinct is
    taken on the hash values, which equals distinct-on-strings unless
    two distinct shingles collide in 64 bits (P ~ 1e-15 per document —
    and a collision would have altered the old pipeline's Jaccard
    too).

    Fast path: pure-ASCII docs (chars == UTF-8 bytes) hash every window
    of every doc in ONE numpy pass; non-ASCII or shorter-than-k docs
    take a scalar per-row fallback with identical semantics (a doc
    shorter than k yields its whole text as the single shingle, exactly
    like :func:`shingles`).  None is treated as ''."""
    from ._xxh64 import xxh64_bytes, xxh64_windows

    n = len(texts)
    per_doc: list = [None] * n
    fast_rows: list[int] = []
    enc: list[bytes] = []
    for idx, t in enumerate(texts):
        if t is None:
            t = ""
        b = t.encode("utf-8")
        nc = len(t)
        if nc >= k and len(b) == nc:
            fast_rows.append(idx)
            enc.append(b)
        elif nc < k:
            per_doc[idx] = np.array([xxh64_bytes(b)], dtype=np.int64).view(np.uint64)
        else:  # non-ASCII: character windows != byte windows
            hs = np.fromiter(
                (xxh64_bytes(t[i : i + k].encode("utf-8")) for i in range(nc - k + 1)),
                dtype=np.int64,
                count=nc - k + 1,
            )
            per_doc[idx] = np.unique(hs.view(np.uint64))
    if fast_rows:
        lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
        big = np.frombuffer(b"".join(enc), dtype=np.uint8)
        n_wins = lens - (k - 1)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        cw = np.concatenate(([0], np.cumsum(n_wins)))
        total = int(cw[-1])
        doc_of = np.repeat(np.arange(len(enc), dtype=np.int64), n_wins)
        pos = np.repeat(starts, n_wins) + (
            np.arange(total, dtype=np.int64) - np.repeat(cw[:-1], n_wins)
        )
        wins = np.lib.stride_tricks.sliding_window_view(big, k)[pos]
        h = xxh64_windows(wins)
        order = np.lexsort((h, doc_of))
        d2, h2 = doc_of[order], h[order]
        keep = np.ones(total, dtype=bool)
        keep[1:] = (d2[1:] != d2[:-1]) | (h2[1:] != h2[:-1])
        d2, h2 = d2[keep], h2[keep]
        cnts = np.bincount(d2, minlength=len(enc))
        offs = np.concatenate(([0], np.cumsum(cnts)))
        for j, idx in enumerate(fast_rows):
            per_doc[idx] = h2[offs[j] : offs[j + 1]]
    return per_doc


def _shingle_hashes_udf(k: int):
    """pandas UDF: normalized text -> sorted distinct shingle-xxhash64
    array (array<long>) — the Arrow replacement for the interpreted
    shingle HOF wherever only the hash SET matters (Jaccard verify)."""

    @F.pandas_udf("array<long>")
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [a.view(np.int64) for a in _shingle_hash_arrays(texts, k)]
        )

    return sh


def minhash_signature(text: Column | str, num_perm: int = 32, k: int = 5, seed: int = 42) -> Column:
    """MinHash signature: array<long> of length ``num_perm``.

    sig[i] = min over shingles x of (a_i * x + b_i) mod p.

    NOTE: Column-level helper for ad-hoc/small-data use; pipelines
    should use :func:`minhash_signatures_df` — the fold below builds a
    large generated method that Janino compiles slowly when the
    expression is duplicated across join branches.
    """
    hashes = _shingle_hashes(text, k)
    # Single fold over the shingle hashes: the expensive part (shingle
    # extraction + xxhash) is evaluated ONCE per document; each step
    # updates all num_perm running minimums.  (The naive formulation —
    # one array_min(transform(...)) per permutation — re-evaluates the
    # shingle pipeline num_perm times; Catalyst does not CSE across
    # projection expressions.)
    ab = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _perm_constants(num_perm, seed)
        ]
    )
    init = F.array(*[F.lit(_P).cast("long") for _ in range(num_perm)])
    return F.aggregate(
        hashes,
        init,
        lambda acc, x: F.zip_with(
            acc,
            F.transform(ab, lambda p: (p["a"] * x + p["b"]) % F.lit(_P)),
            lambda m, c: F.least(m, c),
        ),
    )


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(__id, __sig array<long>) — the scale formulation.

    One fused Arrow MAP stage, NO shuffle at all (r14): normalized text
    -> distinct shingle xxhash64 (vectorized `_shingle_hash_arrays`,
    bit-identical to the JVM hash) -> fold to 31 bits mod p -> the
    num_perm minimums of ``(a·h + b) mod p`` per document, all in
    numpy.  min over the distinct shingle set equals min over the
    position multiset, so this reproduces the r13 explode + partial-agg
    formulation bit for bit while deleting its one exchange: at corpus
    scale the r13 shape still shuffled one 32-long row per DOCUMENT
    through a ``groupBy(id)``; signatures are logically a per-row map
    and now execute as one.  (History: the r8 explode form shuffled raw
    (id, perm, value) rows; the r10 Arrow variant paid an interpreted
    Catalyst shingle ``transform`` at ~10 us/shingle feeding the
    Python stage — the r14 kernel hashes every window of a batch in
    one numpy pass instead.)  Products fit signed 64-bit: a, b,
    h < 2^31 so a·h + b < 2^62.
    """
    consts = _perm_constants(num_perm, seed)
    pa_ = np.array([a for a, _ in consts], dtype=np.int64)
    pb_ = np.array([b for _, b in consts], dtype=np.int64)
    base = _spread(df).select(
        F.col(id_col).alias("__id"), _norm_text(text_col).alias("__t")
    )

    @F.pandas_udf("array<long>")
    def sig_of(texts: pd.Series) -> pd.Series:
        per_doc = _shingle_hash_arrays(texts, k)
        if not per_doc:
            return pd.Series([], dtype=object)
        flat = np.concatenate(per_doc).view(np.int64) % _P  # pmod: P > 0
        offs = np.zeros(len(per_doc), dtype=np.int64)
        np.cumsum([len(a) for a in per_doc[:-1]], out=offs[1:])
        sigs = np.empty((len(per_doc), len(pa_)), dtype=np.int64)
        for j in range(len(pa_)):
            sigs[:, j] = np.minimum.reduceat((pa_[j] * flat + pb_[j]) % _P, offs)
        return pd.Series(list(sigs))

    return base.select("__id", sig_of("__t").alias("__sig"))


def simhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """(__id, __sig long) — 64-bit SimHash.

    One fused Arrow stage: normalized text -> distinct shingle xxhash64
    (vectorized, `_shingle_hash_arrays`) -> 64-way bit-majority, all in
    numpy.  NO shuffle at all — signatures are a per-row map (the
    earlier explode + 64-sum groupBy formulation shuffled 200x the rows;
    the r13 form kept hashing in a Catalyst ``transform`` HOF, which
    evaluates interpreted at ~10 us/shingle and dominated the stage —
    r14 moves it into the same Arrow batch as the majority vote).
    """
    base = _spread(df).select(
        F.col(id_col).alias("__id"), _norm_text(text_col).alias("__t")
    )

    @F.pandas_udf("long")
    def sig_of(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        per_doc = _shingle_hash_arrays(texts, k)
        out = np.empty(len(per_doc), dtype=np.int64)
        for i, h in enumerate(per_doc):
            votes = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            sig = int((votes * 2 > len(h)).astype(np.uint64) @ weights)
            out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig
        return pd.Series(out)

    return base.select("__id", sig_of("__t").alias("__sig"))


def _spread(df: DataFrame) -> DataFrame:
    """Ensure enough partitions that the shingle fan-out parallelizes.

    Small corpora often arrive as one Parquet file -> one partition;
    the ~200x explode then runs on a single core (observed 5x wall-time
    difference at 5k docs).  At real scale inputs already have many
    partitions and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _pairs_within(ids_col: str, groups: DataFrame) -> DataFrame:
    """(id_a, id_b) with id_a < id_b from every bucket's id array —
    nested transform + flatten, bounded by the bucket-size guard."""
    ids = F.array_sort(F.array_distinct(F.col(ids_col)))
    n = F.size(ids)
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, n), lambda y: F.struct(x.alias("a"), y.alias("b"))
            ),
        )
    )
    return groups.select(F.explode(pairs).alias("p")).select(
        F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b")
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups by content hash: returns
    (content_hash, n_copies, keep_id) — keep_id = min id, the canonical
    survivor.  One shuffle on the digest."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.md5(norm).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    seed: int = 42,
    max_bucket: int = 1000,
    est_threshold: float | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    rows = documents; output = (id_a, id_b) candidate pairs with
    id_a < id_b, distinct.  Two docs collide if ANY band of their
    signatures matches.  Shuffle cost: rows × bands lightweight rows;
    join happens inside buckets only.  Buckets larger than
    ``max_bucket`` are dropped (boilerplate/empty-doc pathologies that
    would otherwise produce quadratic blowup at scale).

    ``est_threshold`` prefilters pairs by full-signature agreement
    (estimated Jaccard) DURING the in-bucket expansion — on correlated
    corpora band collisions alone admit orders of magnitude more pairs
    than the target similarity; the estimate costs num_perm comparisons
    per expanded pair, before anything is shuffled or verified.  Set it
    a wide margin below the verify threshold (e.g. 0.6 for a 0.9
    target: P[Bin(32, 0.9)/32 < 0.6] ~ 1e-9 per pair).
    """
    rows_per_band = num_perm // bands
    sig = minhash_signatures_df(df, text_col, id_col, num_perm, k, seed)
    member = (
        F.struct("__id", "__sig") if est_threshold is not None else F.col("__id")
    )
    # bucket key = xxhash64 over the band's signature slice (seeded by
    # the band id).  Internal to Spark, so no cross-engine hash needed:
    # a LONG key shuffles ~4x lighter than the md5-hex string it
    # replaced and skips the concat_ws allocation per (row, band).
    banded = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b),
                            *[
                                F.col("__sig")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "__sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # One aggregation per (band, bucket): collect members, bound
    # pathological buckets (skew guard), expand pairs inside the array —
    # the signature pipeline runs ONCE and there is no self-join.
    groups = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(member).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    if est_threshold is None:
        return _pairs_within("ids", groups).distinct()

    # Vectorized in-bucket expansion + estimate prefilter: one Arrow
    # batch UDF computes per-bucket signature agreement in numpy and
    # emits only pairs whose estimated Jaccard clears the threshold.
    # (The earlier higher-order-function form built every combination
    # as a struct and compared signatures element-wise interpreted —
    # the dominant cost of the candidate stage at sf0.1.)
    thr = float(est_threshold)
    npm = float(num_perm)

    @F.pandas_udf("array<struct<id_a: bigint, id_b: bigint>>")
    def expand(members: pd.Series) -> pd.Series:
        out = []
        for arr in members:
            ids = np.asarray([m["__id"] for m in arr], dtype=np.int64)
            sigs = np.asarray([m["__sig"] for m in arr], dtype=np.int64)
            order = np.argsort(ids, kind="stable")
            ids, sigs = ids[order], sigs[order]
            keep = np.ones(len(ids), dtype=bool)
            keep[1:] = ids[1:] != ids[:-1]  # same id => same signature
            ids, sigs = ids[keep], sigs[keep]
            pairs = []
            for i in range(len(ids) - 1):
                agree = (sigs[i + 1 :] == sigs[i]).sum(axis=1)
                sel = np.flatnonzero(agree.astype(np.float64) / npm >= thr)
                pairs.extend(
                    {"id_a": int(ids[i]), "id_b": int(ids[i + 1 + j])} for j in sel
                )
            out.append(pairs)
        return pd.Series(out)

    return (
        groups.select(F.explode(expand("ids")).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 32,
    bands: int = 8,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """LSH candidates filtered by estimated Jaccard (signature agreement
    >= threshold).  Returns (id_a, id_b, est_jaccard)."""
    pairs = lsh_candidate_pairs(df, text_col, id_col, num_perm, bands, k, seed)
    sig = minhash_signatures_df(df, text_col, id_col, num_perm, k, seed).withColumnRenamed(
        "__id", "__sid"
    )
    joined = (
        pairs.join(sig.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sig", "sig_a"), "id_a")
        .join(sig.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sig", "sig_b"), "id_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    est = agree.cast("double") / F.lit(float(num_perm))
    return (
        joined.withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def neardup_components(
    pairs: DataFrame, max_iter: int = 20, max_driver_edges: int = 100_000
) -> DataFrame:
    """Connected components over a near-dup pair graph -> canonical
    survivor per cluster: returns (id, comp) for every id appearing in
    a pair, where ``comp`` is the minimum id in its component (the
    keep-one rule a training-data dedup applies after pair discovery —
    pairs alone over-delete when clusters chain: A~B, B~C must keep ONE
    of {A,B,C}, not drop both B and C's partners independently).

    Spark shape: min-label propagation — each round joins the (small)
    label table to the bidirectional edge list, takes the min neighbor
    label, and stops when no label changes.  Rounds needed = component
    diameter; near-dup clusters are tiny and shallow so this is 2-3
    rounds in practice, each a linear equi-join shuffle (never a
    transitive-closure blowup).  Lineage is truncated per round
    (localCheckpoint) so the plan does not grow with iterations.

    Small-graph fast path: a verified near-dup edge list is usually
    tiny relative to the corpus (bounded by the true duplicate count,
    not the row count); when it fits under ``max_driver_edges`` a
    driver-side union-find resolves it in one pass instead of paying
    2-3 rounds of join jobs — bit-identical output (min id per
    component).  The distributed propagation remains the path for edge
    lists beyond the cap."""
    # Fast-path probe on the RAW pair list: union-find is symmetric, so
    # the bidirectional distinct edge list is only needed by the
    # distributed propagation.  One limit(cap+1)+collect job replaces
    # the union + distinct exchange + eager checkpoint + count job the
    # old probe paid before deciding (3 fewer Spark jobs per call; the
    # cap halves because directed edges = 2x unique pairs).
    cap = max_driver_edges // 2
    probe = pairs.select("id_a", "id_b").limit(cap + 1).collect()
    if len(probe) <= cap:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in probe:
            a, b = int(r["id_a"]), int(r["id_b"])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict[int, int] = {}
        for x in parent:
            r0 = find(x)
            comp_min[r0] = min(comp_min.get(r0, x), x)
        from pgvecto_rs_spark.indexes.base import local_frame

        out = [(x, comp_min[find(x)]) for x in sorted(parent)]
        return local_frame(pairs.sparkSession, out, "id long, comp long")
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("src"), F.col("comp").alias("src_comp")),
                "src",
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("src_comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def _guard_brute_rows(df: DataFrame, max_rows: int, what: str) -> None:
    """Refuse a quadratic all-pairs path above ``max_rows`` input rows.

    Even an EXPLICIT brute call must not cartesian a large input by
    accident (r12 verdict #8): n rows cost n(n-1)/2 comparisons, so the
    default 100k cap bounds the worst case at ~5e9 — large but finite.
    The count is one cheap job over an input that is small by contract;
    raise ``max_rows`` deliberately (or pass 0 to disable) if a bigger
    validation slice is genuinely intended."""
    if max_rows and (n := df.count()) > max_rows:
        raise ValueError(
            f"{what} is quadratic: input has {n} rows > max_rows={max_rows}; "
            "use the bucketed/LSH path at scale, or raise max_rows explicitly"
        )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all document pairs:
    (id_a, id_b, jaccard).  All-pairs is O(n²) — use it on candidate
    sets (e.g. minhash buckets) or bounded slices; the MinHash path is
    the at-scale approximation of exactly this measure.  Inputs above
    ``max_rows`` are refused (``_guard_brute_rows``)."""
    _guard_brute_rows(df, max_rows, "ngram_jaccard_pairs")
    sh = df.select(
        F.col(id_col).alias("__id"), F.array_distinct(shingles(text_col, k)).alias("__sh")
    )
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return pairs.select("id_a", "id_b", j.alias("jaccard")).where(F.col("jaccard") >= threshold)


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact-verify candidate pairs by true k-shingle Jaccard — the
    standard LSH -> verify pipeline stage (candidates come from
    :func:`lsh_candidate_pairs` or :func:`simhash_candidate_pairs`).

    Scale shape: candidates are a tiny fraction of n²; the join is
    candidates × two id-keyed shingle lookups (equi-joins that shuffle
    linearly on id — never all-pairs).  Returns (id_a, id_b, jaccard)
    with jaccard >= threshold.
    """
    # _spread: single-file corpora arrive as ONE partition; without it the
    # shingle computation under both join branches runs on one core
    # (observed 10x wall-time at sf0.1).  The lookup carries 64-bit
    # shingle HASHES, not strings: set intersection/union cardinalities
    # are hash-collision-exact at ~1e-9 over 100k pairs, the broadcast
    # table shrinks ~10x (string arrays measured as the dominant
    # broadcast-build cost), and long equality beats string equality in
    # the intersects.  Broadcasting keeps both joins hash-probes — a
    # sort-merge plan would drag the sh_a arrays through the id_b
    # shuffle.  At corpus scale where even the hash table outgrows
    # broadcast, drop the hint: Catalyst falls back to shuffled joins
    # that stay linear in candidates.
    # Shingle ONLY the documents that appear in a candidate pair: the
    # broadcast semi-join filters rows before the shingle fan-out, so
    # lookup construction is O(candidate ids), not O(corpus) — at 100 TB
    # the candidates are a vanishing fraction of the table.
    # r14: no .distinct() — LEFT SEMI dedups build-side keys itself, so
    # the extra exchange+agg job bought nothing; and no _spread — the
    # Arrow shingle kernel (below) made re-shingling the candidate docs
    # ~ms-cheap, so the repartition job cost more than the parallelism
    # it bought (at scale the semi-join output inherits the corpus
    # scan's many partitions and _spread was a no-op anyway).
    cand_ids = pairs.select(F.col("id_a").alias(id_col)).unionByName(
        pairs.select(F.col("id_b").alias(id_col))
    )
    src = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    # r14: shingle hashing moved from the interpreted Catalyst HOF into
    # one vectorized Arrow batch (same xxhash64 bits, same distinct set
    # — see _shingle_hash_arrays; Jaccard depends only on set sizes, so
    # the sorted order is immaterial)
    if _ARROW_VERIFY_SHINGLES:
        sh_col = _shingle_hashes_udf(k)(_norm_text(text_col))
    else:
        sh_col = F.array_distinct(
            F.transform(shingles(text_col, k), lambda s: F.xxhash64(s))
        )
    sh = F.broadcast(
        src.select(F.col(id_col).alias("__vid"), sh_col.alias("__sh"))
    )
    # identical broadcast subtree on both sides -> Spark's ReuseExchange
    # builds it once (aliasing after the broadcast, not before)
    a, b = sh.alias("__sha"), sh.alias("__shb")
    out = (
        pairs.select("id_a", "id_b")
        .join(a, F.col("id_a") == F.col("__sha.__vid"))
        .join(b, F.col("id_b") == F.col("__shb.__vid"))
        .select(
            "id_a",
            "id_b",
            F.col("__sha.__sh").alias("sh_a"),
            F.col("__shb.__sh").alias("sh_b"),
        )
    )
    j = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    ).cast("double")
    return out.select("id_a", "id_b", j.alias("jaccard")).where(F.col("jaccard") >= threshold)


def embedding_neardup_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.2,
    method: str = "ivf",
    nlist: int = 64,
    replicas: int = 2,
    seed: int = 42,
    max_brute_rows: int = 100_000,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine distance < threshold:
    (id_a, id_b, cos_dist).

    ``ivf`` (the DEFAULT — safe at corpus scale, r11 verdict #6):
    spherical-k-means centroids on a sample, every vector assigned to
    its ``replicas`` nearest lists, candidates = pairs sharing a list
    (an equi-join on list_id — the quadratic blowup is confined to
    lists, same shape as LSH banding and knn_join_ivf), then exact
    cosine verify.  ``replicas = nlist`` degenerates to exact (every
    pair co-occurs) — the full-probe mode used to validate recall.

    ``brute`` cross-joins (exact; quadratic) — an explicit
    oracle/validation mode for BOUNDED inputs only, never the default:
    a caller who omits ``method`` on a 100 TB corpus must not get the
    cartesian by omission.
    """
    from pgvecto_rs_spark.functions.dense import cosine_distance

    e = df.where(F.col(vector_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(vector_col).alias("__v")
    )
    if method == "brute":
        _guard_brute_rows(e, max_brute_rows, "embedding_neardup_pairs(brute)")
        a = e.select(F.col("__id").alias("id_a"), F.col("__v").alias("v_a"))
        b = e.select(F.col("__id").alias("id_b"), F.col("__v").alias("v_b"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        d = cosine_distance(F.col("v_a"), F.col("v_b"), check=False)
        return pairs.select("id_a", "id_b", d.alias("cos_dist")).where(
            F.col("cos_dist") < threshold
        )
    if method != "ivf":
        raise ValueError(f"unknown method {method!r} (brute | ivf)")

    from pgvecto_rs_spark.indexes import base
    from pgvecto_rs_spark.indexes.ivf import SAMPLE_CAP, _lloyd

    spark = df.sparkSession
    n = e.count()
    fraction = min(1.0, SAMPLE_CAP / max(n, 1))
    # trimmed in hashed-id order: the k-means++ seeding follows row
    # order, so a layout-dependent sample would move the centroids (the
    # id is hashed to a bigint first: ids here may be of any type)
    x = base.training_sample(
        e.select(F.xxhash64("__id").alias("id"), "__v"),
        "__v", fraction, seed, SAMPLE_CAP,
    )
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    x = x / norms
    nlist_eff = max(1, min(nlist, len(x)))
    r = max(1, min(replicas, nlist_eff))
    centroids = _lloyd(x, nlist_eff, spherical=True, seed=seed).astype(np.float64)
    bc = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        cent = bc.value
        mat = np.asarray(v.tolist(), dtype=np.float64)
        nm = np.linalg.norm(mat, axis=1, keepdims=True)
        nm[nm == 0] = 1.0
        sim = (mat / nm) @ cent.T
        if r >= cent.shape[0]:
            top = np.tile(np.arange(cent.shape[0], dtype=np.int64), (len(mat), 1))
        elif r == 1:
            top = np.argmax(sim, axis=1)[:, None]
        else:
            top = np.argpartition(-sim, r - 1, axis=1)[:, :r]
        return pd.Series([row.astype("int32").tolist() for row in top])

    assigned = e.withColumn("__list", F.explode(assign("__v")))
    a = assigned.select("__list", F.col("__id").alias("id_a"), F.col("__v").alias("v_a"))
    b = assigned.select("__list", F.col("__id").alias("id_b"), F.col("__v").alias("v_b"))
    cand = a.join(b, "__list").where(F.col("id_a") < F.col("id_b"))
    d = cosine_distance(F.col("v_a"), F.col("v_b"), check=False)
    scored = cand.select("id_a", "id_b", d.alias("cos_dist")).where(
        F.col("cos_dist") < threshold
    )
    # the same pair can co-occur in several lists; keep one
    return scored.groupBy("id_a", "id_b").agg(F.min("cos_dist").alias("cos_dist"))


def srp_codes(
    mat: "np.ndarray", bands: int, band_bits: int, seed: int
) -> "np.ndarray":
    """(n, bands) int64 SRP band codes for an (n, dims) float64 matrix.

    Hyperplane entry for (global bit g, dim d) is ±1 from a
    deterministic integer hash of ``idx = g*dims + d``: a multiplicative
    step then two xor-shift/multiply rounds (hash32-style finalizer —
    the plain linear hash correlates across consecutive dims), all in
    int64-safe mod-2^32 arithmetic (multipliers < 2^31, so products
    stay < 2^63 — no overflow in numpy, Spark, or ANSI SQL).
    Components are quantized to ``floor(v * 2^24)`` int64 before the
    dot, so ANY engine (numpy here, plain SQL arithmetic in the
    oracle) reproduces the codes bit-for-bit: no float-summation-order
    dependence.
    """
    dims = mat.shape[1]
    q = np.floor(mat * 16777216.0).astype(np.int64)  # (n, dims)
    g = np.arange(bands * band_bits * dims, dtype=np.int64).reshape(
        bands * band_bits, dims
    )
    s = (g * 2654435761 + seed) % 4294967296
    s = ((s ^ (s >> 16)) * 73244475) % 4294967296
    s = ((s ^ (s >> 16)) * 73244475) % 4294967296
    s = s ^ (s >> 16)
    sign = (s & 1) * 2 - 1  # (bands*band_bits, dims) of ±1
    dots = q @ sign.T  # int64 exact
    bits = (dots > 0).astype(np.int64).reshape(len(mat), bands, band_bits)
    return (bits << np.arange(band_bits, dtype=np.int64)).sum(axis=2)


def srp_neardup_pairs(
    df: DataFrame,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.2,
    bands: int = 16,
    band_bits: int = 4,
    seed: int = 12345,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine via random-hyperplane
    (signed-random-projection) LSH — the classic cosine LSH family
    (Charikar 2002), complementing the IVF-bucketed path in
    :func:`embedding_neardup_pairs`: (id_a, id_b, cos_dist).

    Candidates = pairs sharing any band's ``band_bits``-bit SRP code
    (an equi-join on (band, code) — quadratic work confined to
    buckets, same shape as MinHash banding), then exact cosine
    verify ``< threshold``.  Recall vs candidate volume tunes like
    any LSH: more + shorter bands raise both.

    Codes come from :func:`srp_codes` (deterministic integer-hash
    hyperplanes + quantized int64 dots) so the full pipeline is
    engine-reproducible — the registered oracle replays it in plain
    SQL arithmetic.  Signature computation is a per-row Arrow batch
    (no shuffle); the only shuffles are the (band, code) join and the
    final pair dedup.
    """
    from pgvecto_rs_spark.functions.dense import cosine_distance

    e = df.where(F.col(vector_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(vector_col).alias("__v")
    )

    @F.pandas_udf("array<bigint>")
    def codes(v: pd.Series) -> pd.Series:
        mat = np.asarray(v.tolist(), dtype=np.float64)
        c = srp_codes(mat, bands, band_bits, seed)
        return pd.Series([row.tolist() for row in c])

    coded = e.withColumn("__codes", codes("__v")).select(
        "__id", "__v", F.posexplode("__codes").alias("__band", "__code")
    )
    a = coded.select(
        "__band", "__code", F.col("__id").alias("id_a"), F.col("__v").alias("v_a")
    )
    b = coded.select(
        "__band", "__code", F.col("__id").alias("id_b"), F.col("__v").alias("v_b")
    )
    cand = a.join(b, ["__band", "__code"]).where(F.col("id_a") < F.col("id_b"))
    d = cosine_distance(F.col("v_a"), F.col("v_b"), check=False)
    scored = cand.select("id_a", "id_b", d.alias("cos_dist")).where(
        F.col("cos_dist") < threshold
    )
    # a pair can collide in several bands; keep one row
    return scored.groupBy("id_a", "id_b").agg(F.min("cos_dist").alias("cos_dist"))


def simhash(text: Column | str, bits: int = 64, k: int = 5) -> Column:
    """64-bit SimHash of the shingle set, as a signed long.

    NOTE: Column-level helper for ad-hoc use; pipelines should use
    :func:`simhash_signatures_df` (see minhash_signature's note).

    bit j of the signature = majority vote of shingle-hash bit j.
    Computed natively: per bit, count shingles whose xxhash64 has that
    bit set vs total.  (bits != 64 not supported — one long word.)
    """
    if bits != 64:
        raise ValueError("simhash: only 64-bit signatures supported")
    hashes = F.transform(shingles(text, k), lambda s: F.xxhash64(s))
    n = F.size(hashes)
    # Single fold: per shingle hash, add its 64 bits to 64 running
    # vote counters (shingle pipeline evaluated once, same reasoning
    # as minhash_signature).  Bit j of hash h: j<63 via mask AND;
    # j=63 via sign test (1<<63 is not a valid long literal).
    def bits_of(h: Column) -> Column:
        low = [
            F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)).otherwise(F.lit(0)).cast("int")
            for j in range(63)
        ]
        top = F.when(h < 0, F.lit(1)).otherwise(F.lit(0)).cast("int")
        return F.array(*low, top)

    init = F.array(*[F.lit(0).cast("int") for _ in range(64)])
    votes = F.aggregate(
        hashes, init, lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, b: a + b)
    )
    # majority vote -> bit j; assemble the signed long from bit arrays:
    # low 62..0 sum exactly; bit 63 contributes the sign via subtraction.
    bit = F.transform(votes, lambda v: F.when(v * 2 > n, F.lit(1)).otherwise(F.lit(0)).cast("long"))
    low_part = F.aggregate(
        F.zip_with(
            F.slice(bit, 1, 63),
            F.array(*[F.lit(1 << j).cast("long") for j in range(63)]),
            lambda b, m: b * m,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    top_part = F.when(F.element_at(bit, 64) == 1, F.lit(-(1 << 63)).cast("long")).otherwise(
        F.lit(0).cast("long")
    )
    return low_part + top_part


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    k: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``max_hamming + 1`` bit-bands
    of the signature (pigeonhole: two signatures within max_hamming
    Hamming distance must agree exactly on at least one band), verify
    exact Hamming <= max_hamming inside the bucket.  Buckets larger than
    ``max_bucket`` are dropped — one degenerate band bucket
    (empty/boilerplate docs) would otherwise make the in-array pair
    expansion quadratic (same skew guard as the MinHash path)."""
    sig = simhash_signatures_df(df, text_col, id_col, k)
    return hamming_candidate_pairs(sig, max_hamming=max_hamming, max_bucket=max_bucket)


def hamming_candidate_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a, id_b, hamming) over a ``(__id long, __sig long)`` 64-bit
    signature relation: band the signature into ``max_hamming + 1``
    bit-bands (pigeonhole completeness), equi-join on (band, key),
    verify exact Hamming inside each bucket with one vectorized XOR
    popcount matrix per bucket.  The shared engine behind
    ``simhash_candidate_pairs`` (text) and
    ``multimodal.image_neardup_pairs`` (perceptual hashes) — any
    64-bit per-row fingerprint gets the same exact-within-radius,
    bucket-confined join."""
    if max_hamming > 15:
        # the pigeonhole guarantee needs max_hamming+1 bands of >= 4 bits
        # each over a 64-bit signature; silently clamping the band count
        # would quietly lose completeness, so refuse instead
        raise ValueError(
            f"max_hamming={max_hamming} > 15 cannot keep the pigeonhole "
            "guarantee over a 64-bit signature (needs max_hamming+1 bands)"
        )
    n_bands = min(max_hamming + 1, 16)
    base, rem = divmod(64, n_bands)
    widths = [base + 1] * rem + [base] * (n_bands - rem)
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    bands = sig.select(
        "__id",
        "__sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("__sig", offsets[i])
                        # width 64 (max_hamming=0: one exact-match band)
                        # needs the all-ones mask as -1 — (1<<64)-1
                        # overflows the JVM long literal
                        .bitwiseAND(F.lit(-1 if widths[i] == 64
                                          else (1 << widths[i]) - 1))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", "__sig", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    # collect (id, sig) per bucket once; expand + verify Hamming inside
    # the array — no self-join, signature pipeline evaluated once
    groups = (
        bands.groupBy("band", "key")
        .agg(F.collect_list(F.struct("__id", "__sig")).alias("members"))
        .where((F.size("members") >= 2) & (F.size("members") <= max_bucket))
    )
    # Vectorized in-bucket expansion: one Arrow batch UDF computes the
    # pairwise XOR popcount matrix per bucket in numpy and emits ONLY
    # the pairs within max_hamming.  The earlier higher-order-function
    # expression built (and exploded) every in-bucket combination as a
    # struct before filtering — ~1000x more combinations than surviving
    # pairs on a correlated corpus, and HOFs evaluate interpreted
    # (measured: this stage dominated the pipeline at sf0.1).
    mh = int(max_hamming)

    @F.pandas_udf("array<struct<id_a: bigint, id_b: bigint, hamming: int>>")
    def expand(members: pd.Series) -> pd.Series:
        out = []
        for arr in members:
            ids = np.asarray([m["__id"] for m in arr], dtype=np.int64)
            sigs = np.asarray([m["__sig"] for m in arr], dtype=np.int64)
            # sort by (id, sig) + drop exact duplicates — the
            # array_sort(array_distinct(...)) semantics of the SQL form
            order = np.lexsort((sigs, ids))
            ids, sigs = ids[order], sigs[order]
            keep = np.ones(len(ids), dtype=bool)
            keep[1:] = (ids[1:] != ids[:-1]) | (sigs[1:] != sigs[:-1])
            ids, sigs = ids[keep], sigs[keep]
            u = sigs.view(np.uint64)
            x = (u[:, None] ^ u[None, :]).ravel()
            # popcount via per-byte unpack (numpy<2 has no bitwise_count)
            ham = (
                np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1)
                .sum(axis=1)
                .reshape(len(ids), len(ids))
                .astype(np.int32)
            )
            a, b = np.triu_indices(len(ids), k=1)
            sel = ham[a, b] <= mh
            out.append(
                [
                    {"id_a": int(ia), "id_b": int(ib), "hamming": int(h)}
                    for ia, ib, h in zip(ids[a[sel]], ids[b[sel]], ham[a[sel], b[sel]])
                ]
            )
        return pd.Series(out)

    exploded = groups.select(F.explode(expand("members")).alias("p")).select(
        "p.id_a", "p.id_b", "p.hamming"
    )
    return exploded.distinct()
