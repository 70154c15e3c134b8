"""Sparse inverted index — classic IR posting lists, fully native Spark.

Reference: crates/sparse_inverted_index/src/lib.rs (build :90-120 makes
one posting list per token dimension; vbase :46-71 scores = Σ val·posting
over the query's nonzero dims, exhaustive over touched postings; svector
+ Dot only — crates/base/src/index.rs:141-152).

Spark design (SURVEY.md §2.7): postings are a DataFrame
``(term, id, val)`` range-partitioned and sorted by ``term`` so a query
touching q terms prunes row groups via min/max stats.  Scoring is a
broadcast join of the (tiny) query terms against postings, then
``groupBy(id).sum`` — map-side partial aggregation keeps the shuffle at
one row per (candidate doc × 1).  This is exact for Dot, not
approximate: only docs sharing ≥1 term can have nonzero dot.
"""

from __future__ import annotations

import os
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base


class SparseInvertedIndex:
    #: postings cover every doc overlapping the query support, so the
    #: index sphere is complete ONLY when the radius requires a strictly
    #: positive dot (radius <= 0): a zero-overlap doc has neg-dot
    #: distance exactly 0 and is never touched by the query's postings,
    #: yet satisfies distance < radius for any radius > 0.  The planner
    #: asks ``range_exact_for(radius)`` and answers positive-radius
    #: spheres with the exact seqscan filter instead.
    RANGE_EXACT = False

    @staticmethod
    def range_exact_for(radius: float) -> bool:
        return float(radius) <= 0.0

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
        svector_col: str = "svec",
        id_col: str = "doc_id",
        partitions: int | None = None,
    ) -> "SparseInvertedIndex":
        src = df.where(F.col(svector_col).isNotNull())
        postings = src.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.arrays_zip(
                    F.col(svector_col)["indexes"].alias("term"),
                    F.col(svector_col)["values"].alias("val"),
                )
            ).alias("p"),
        ).select(F.col("p.term").alias("term"), F.col("id"), F.col("p.val").alias("val"))

        writer = postings
        if partitions:
            writer = postings.repartitionByRange(partitions, "term")
        else:
            writer = postings.repartitionByRange("term")
        (
            writer.sortWithinPartitions("term")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "postings"))
        )
        n_docs = src.count()
        meta = {"kind": "sparse_inverted", "metric": "dot", "n_rows": int(n_docs)}
        base.write_meta(path, meta)
        return cls(spark, path, meta)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "SparseInvertedIndex":
        return cls(spark, path, base.read_meta(path))

    # ------------------------------------------------------------------
    def search(
        self,
        query: Mapping[int, float] | Sequence[tuple[int, float]],
        k: int = 10,
        filter=None,
    ) -> DataFrame:
        """Top-k docs by negative dot product (the reference's only
        supported sparse metric).  Returns DataFrame(id, distance)."""
        items = list(query.items()) if isinstance(query, Mapping) else list(query)
        qdf = base.local_frame(
            self.spark, [(int(t), float(w)) for t, w in items if w != 0.0], "term int, qw float"
        )
        postings = self.spark.read.parquet(os.path.join(self.path, "postings"))
        # min/max row-group pruning: push the term membership first
        terms = [int(t) for t, w in items if w != 0.0]
        postings = postings.where(F.col("term").isin(terms))
        scored = (
            postings.join(F.broadcast(qdf), "term")
            .groupBy("id")
            .agg(
                F.sum(F.col("val").cast("double") * F.col("qw").cast("double")).alias("score")
            )
        )
        out = scored.select("id", (-F.col("score")).alias("distance"))
        if filter is not None:
            out = out.where(filter)
        return out.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(k)

    def range_search(
        self,
        query: Mapping[int, float] | Sequence[tuple[int, float]],
        radius: float,
        filter=None,
    ) -> DataFrame:
        """Docs with negative-dot distance < ``radius`` among docs that
        OVERLAP the query's support — the sphere predicate through the
        postings layout: only the query terms' postings are scanned
        (term-membership pushdown, same as top-k), one doc-keyed
        aggregation, then the threshold filter.

        Zero-overlap docs (distance exactly 0, never touched by the
        query's postings) are NOT emitted even when 0 < radius — the
        same index contract as top-k, which also ranks only overlapping
        docs; a sphere that must include non-overlapping docs is a full
        table predicate, not an index scan."""
        items = list(query.items()) if isinstance(query, Mapping) else list(query)
        qdf = base.local_frame(
            self.spark, [(int(t), float(w)) for t, w in items if w != 0.0], "term int, qw float"
        )
        postings = self.spark.read.parquet(os.path.join(self.path, "postings"))
        terms = [int(t) for t, w in items if w != 0.0]
        postings = postings.where(F.col("term").isin(terms))
        scored = (
            postings.join(F.broadcast(qdf), "term")
            .groupBy("id")
            .agg(
                F.sum(F.col("val").cast("double") * F.col("qw").cast("double")).alias("score")
            )
        )
        out = scored.select("id", (-F.col("score")).alias("distance")).where(
            F.col("distance") < F.lit(float(radius))
        )
        if filter is not None:
            out = out.where(filter)
        return out

    def search_batch(
        self,
        queries: DataFrame,
        query_id_col: str,
        query_svec_col: str,
        k: int = 10,
    ) -> DataFrame:
        """Batched sparse top-k: the whole query set answered in ONE
        postings scan (the flat/IVF/HNSW ``search_batch`` analogue),
        fully native — no Python kernel.

        Shape: queries explode to (query_id, term, qw) and broadcast;
        postings join on term (the scan still prunes to the UNION of
        query terms via min/max stats); one (query_id, id)-keyed
        aggregation with map-side combine; per-query top-k by window
        row_number — k rows per query cross the final shuffle.
        Returns (query_id, id, distance)."""
        from pyspark.sql import Window

        qexp = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(
                F.arrays_zip(
                    F.col(query_svec_col)["indexes"].alias("term"),
                    F.col(query_svec_col)["values"].alias("qw"),
                )
            ).alias("p"),
        ).select(
            "query_id", F.col("p.term").alias("term"), F.col("p.qw").alias("qw")
        ).where(F.col("qw") != 0.0)

        terms = sorted(
            {int(r["term"]) for r in qexp.select("term").distinct().collect()}
        )
        postings = self.spark.read.parquet(os.path.join(self.path, "postings"))
        postings = postings.where(F.col("term").isin(terms))
        scored = (
            postings.join(F.broadcast(qexp), "term")
            .groupBy("query_id", "id")
            .agg(
                F.sum(F.col("val").cast("double") * F.col("qw").cast("double")).alias("score")
            )
            .select("query_id", "id", (-F.col("score")).alias("distance"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("distance").asc(), F.col("id").asc()
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )

    def stat(self) -> dict:
        return {
            "idx_status": "NORMAL",
            "idx_indexing": False,
            "idx_tuples": self.meta["n_rows"],
            "idx_sealed": [self.meta["n_rows"]],
            "idx_growing": [],
            "idx_options": {"kind": "sparse_inverted", "metric": "dot"},
        }
