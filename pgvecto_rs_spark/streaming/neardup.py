"""Streaming near-duplicate admission: incremental MinHash-LSH dedup
at ingest.

The batch pipeline (``dedup.lsh_candidate_pairs`` →
``dedup.verify_pairs_jaccard`` → components → keep-one) answers "which
documents of a finished corpus are near-dups".  An INGEST pipeline asks
the online form: *as documents arrive, admit each one only if no
near-duplicate was admitted before it* — the admission policy a
training-data collector runs continuously.

:class:`StreamingNearDup` maintains a persistent store of admitted
documents' LSH band codes (plus their text, for exact verification) and
processes each micro-batch with the same proven stages:

1. batch signatures (``minhash_signatures_df`` — per-row Arrow map, no
   shuffle) banded into (band, bucket) codes;
2. cross-batch candidates = equi-join of batch codes against the
   admitted store's codes (bucket-confined, never corpus × batch);
3. in-batch candidates = bucket-grouped pair expansion within the
   micro-batch;
4. exact k-shingle Jaccard verification of both candidate sets
   (``verify_pairs_jaccard``);
5. greedy sequential admission in ``id`` order: a document is rejected
   iff it verifies against an already-admitted document (previously
   admitted, or admitted earlier in this same batch).  Only the
   VERIFIED near-dup pair list — not the batch — is resolved on the
   driver: its cardinality is the number of true near-dup pairs
   touching the batch, which the admission policy itself keeps small
   (duplicates of admitted docs are never re-admitted to collide with
   again).
6. survivors' (id, text) and band codes appended to the store
   (Parquet atomic commit — the same WAL-analogue crash story as
   ``FreshVectorIndex``).

The one-shot batch form (:meth:`admit_all`) runs the identical code
path on a static DataFrame, and is the oracle the streaming tests
compare against: any split of the corpus into arrival batches must
produce the same admitted set as one pass.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes.base import local_frame
from pgvecto_rs_spark.operators.dedup import (
    minhash_signatures_df,
    verify_pairs_jaccard,
)

__all__ = ["StreamingNearDup"]

_BANDS_SCHEMA = "band int, bucket long, doc_id long"


class StreamingNearDup:
    """Incremental near-dup admission over a persistent LSH store.

    Parameters mirror the batch LSH pipeline: ``num_perm`` hash
    permutations split into ``bands`` bands (``num_perm % bands == 0``),
    ``k``-shingle Jaccard verified at ``threshold``.

    **Ordering contract**: the documented streaming-vs-batch equivalence
    (any arrival split reproduces :meth:`admit_all`'s admitted set)
    requires doc ids to be NONDECREASING across micro-batches — greedy
    admission sorts ids within a batch, but a later batch carrying an id
    smaller than an already-admitted doc is evaluated after it, which
    the one-shot oracle would have evaluated first.  The instance tracks
    the max id seen and emits a ``UserWarning`` when a batch violates
    this (out-of-order arrivals still get a deterministic, just not
    batch-equivalent, admission).

    **Driver-memory bound**: exact-duplicate texts are collapsed to one
    representative per sha2(text) BEFORE signatures/LSH (provably
    admission-equivalent: a non-representative's neighbors include
    everything its representative's do, so whatever blocks — or would
    admit — the representative blocks the duplicate), which makes the
    pathological all-duplicates batch cost one edge, not O(n^2).  The
    residual verified-edge fetch is capped at ``max_driver_edges``
    (mirroring ``dedup.neardup_components``); a batch of >cap true
    *near*-dup (non-exact) pairs raises rather than silently exhausting
    driver memory.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        threshold: float = 0.9,
        num_perm: int = 32,
        bands: int = 8,
        k: int = 5,
        seed: int = 42,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_driver_edges: int = 200_000,
    ) -> None:
        if num_perm % bands:
            raise ValueError("num_perm must divide evenly into bands")
        self.spark = spark
        self.path = path
        self.threshold = threshold
        self.num_perm = num_perm
        self.bands = bands
        self.k = k
        self.seed = seed
        self.text_col = text_col
        self.id_col = id_col
        self.max_driver_edges = max_driver_edges
        self._max_seen_id: int | None = None
        os.makedirs(path, exist_ok=True)

    # -- store ---------------------------------------------------------

    def _admitted_path(self) -> str:
        return os.path.join(self.path, "admitted")

    def _bands_path(self) -> str:
        return os.path.join(self.path, "bands")

    def admitted(self) -> DataFrame:
        """(id, text) of every admitted document so far."""
        p = self._admitted_path()
        if not os.path.isdir(p):
            return local_frame(
                self.spark, [], f"{self.id_col} long, {self.text_col} string"
            )
        return self.spark.read.parquet(p)

    def _stored_bands(self) -> DataFrame:
        p = self._bands_path()
        if not os.path.isdir(p):
            return local_frame(self.spark, [], _BANDS_SCHEMA)
        return self.spark.read.parquet(p)

    # -- banding -------------------------------------------------------

    def _band_codes(self, df: DataFrame) -> DataFrame:
        """(doc_id, band, bucket) — xxhash64 of each band's signature
        slice, seeded by the band id (the same banding rule as
        ``lsh_candidate_pairs``: a LONG bucket key, no string alloc)."""
        rpb = self.num_perm // self.bands
        sig = minhash_signatures_df(
            df, self.text_col, self.id_col, self.num_perm, self.k, self.seed
        )
        return sig.select(
            F.col("__id").alias("doc_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                F.lit(b),
                                *[
                                    F.col("__sig")[b * rpb + r]
                                    for r in range(rpb)
                                ],
                            ).alias("bucket"),
                        )
                        for b in range(self.bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.bucket")

    # -- admission -----------------------------------------------------

    def process_batch(self, batch_df: DataFrame) -> list[int]:
        """Admit one micro-batch; returns the admitted ids (sorted).

        Contract: ids are unique across the whole stream (ingest keys) —
        a re-sent id is the caller's bug, not a duplicate to detect
        (content duplicates are what this operator detects) — and
        nondecreasing across batches for batch-equivalence (see class
        docstring; violations warn, not raise).
        """
        full_batch = batch_df.select(self.id_col, self.text_col).cache()
        batch = None
        try:
            # exact-duplicate collapse: one representative (min id) per
            # text.  Admission-equivalent (class docstring) and the
            # reason a pathologically-duplicated batch stays O(distinct)
            # rather than O(n^2) in candidate pairs.  sha2-256 keyed so
            # the shuffle carries a 32-byte digest, not document text.
            reps = (
                full_batch.withColumn("__h", F.sha2(F.col(self.text_col), 256))
                .groupBy("__h")
                .agg(F.min(self.id_col).alias(self.id_col))
                .select(self.id_col)
            )
            batch = full_batch.join(F.broadcast(reps), self.id_col, "left_semi").cache()
            codes = self._band_codes(batch).cache()
            all_ids = [r[0] for r in full_batch.select(self.id_col).collect()]
            ids = [r[0] for r in batch.select(self.id_col).collect()]
            if not ids:
                return []
            if self._max_seen_id is not None and min(all_ids) <= self._max_seen_id:
                warnings.warn(
                    f"StreamingNearDup: batch contains id {min(all_ids)} <= "
                    f"max previously seen id {self._max_seen_id}; out-of-order "
                    "arrival breaks streaming-vs-batch admission equivalence "
                    "(see class docstring)",
                    UserWarning,
                    stacklevel=2,
                )
            self._max_seen_id = max(
                max(all_ids), self._max_seen_id if self._max_seen_id is not None else -(1 << 62)
            )

            # 2. cross-batch candidates: batch codes vs admitted codes
            stored = self._stored_bands()
            cross = (
                codes.alias("n")
                .join(
                    stored.alias("o"),
                    (F.col("n.band") == F.col("o.band"))
                    & (F.col("n.bucket") == F.col("o.bucket")),
                )
                .select(
                    F.col("o.doc_id").alias("id_a"),
                    F.col("n.doc_id").alias("id_b"),
                )
                .where(F.col("id_a") != F.col("id_b"))
                .distinct()
            )
            # 3. in-batch candidates
            within = (
                codes.alias("x")
                .join(
                    codes.alias("y"),
                    (F.col("x.band") == F.col("y.band"))
                    & (F.col("x.bucket") == F.col("y.bucket")),
                )
                .select(
                    F.col("x.doc_id").alias("id_a"),
                    F.col("y.doc_id").alias("id_b"),
                )
                .where(F.col("id_a") < F.col("id_b"))
                .distinct()
            )

            # 4. exact verification over the union corpus (batch texts +
            # only the admitted texts that appear in a candidate pair —
            # verify_pairs_jaccard semi-joins the corpus down itself)
            pairs = cross.unionByName(within)
            corpus = batch.unionByName(
                self.admitted().select(self.id_col, self.text_col)
            )
            verified = verify_pairs_jaccard(
                corpus,
                pairs,
                self.text_col,
                self.id_col,
                self.k,
                self.threshold,
            )
            # bounded driver fetch: true near-dup pairs touching this
            # batch (see module docstring).  Exact dups were collapsed
            # above, so only genuine near-dup (non-identical) pairs land
            # here; the explicit cap turns a pathological batch into a
            # loud error instead of silent driver-memory exhaustion.
            edges = [
                (r["id_a"], r["id_b"])
                for r in verified.limit(self.max_driver_edges + 1).collect()
            ]
            if len(edges) > self.max_driver_edges:
                raise RuntimeError(
                    f"StreamingNearDup: batch produced more than "
                    f"max_driver_edges={self.max_driver_edges} verified near-dup "
                    "pairs; split the batch or raise the cap (greedy sequential "
                    "admission requires the edge list on the driver)"
                )

            # 5. greedy sequential admission in id order
            batch_ids = set(ids)
            blocked_by_old: set[int] = set()
            neighbors: dict[int, set[int]] = {}
            for a, b in edges:
                if a in batch_ids and b in batch_ids:
                    neighbors.setdefault(a, set()).add(b)
                    neighbors.setdefault(b, set()).add(a)
                else:
                    blocked_by_old.add(b if a not in batch_ids else a)
            admitted: list[int] = []
            admitted_set: set[int] = set()
            for i in sorted(ids):
                if i in blocked_by_old:
                    continue
                if neighbors.get(i) and neighbors[i] & admitted_set:
                    continue
                admitted.append(i)
                admitted_set.add(i)

            # 6. persist survivors (atomic Parquet append)
            if admitted:
                keep = local_frame(
                    self.spark, [(int(i),) for i in admitted], f"{self.id_col} long"
                )
                surv = batch.join(F.broadcast(keep), self.id_col, "left_semi")
                surv.write.mode("append").parquet(self._admitted_path())
                codes.join(
                    F.broadcast(keep.withColumnRenamed(self.id_col, "doc_id")),
                    "doc_id",
                    "left_semi",
                ).write.mode("append").parquet(self._bands_path())
            return admitted
        finally:
            full_batch.unpersist()
            try:
                batch.unpersist()
                codes.unpersist()
            except Exception:  # noqa: BLE001 — batch/codes may not exist yet
                pass

    def admit_all(self, df: DataFrame) -> list[int]:
        """One-shot batch form: identical policy over a static corpus
        (the oracle for streaming-vs-batch equivalence tests)."""
        return self.process_batch(df)

    def foreach_batch_sink(self):
        """For ``stream.writeStream.foreachBatch(snd.foreach_batch_sink())``."""

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.process_batch(batch_df)

        return sink
