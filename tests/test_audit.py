"""Plan-audit utility (audit.py): the summary must reflect the plans
the operators were engineered to have."""

from __future__ import annotations

from pgvecto_rs_spark.audit import audit_plan, audit_query
from tests.conftest import count_jobs


class TestAudit:
    def test_topk_uses_take_ordered_no_shuffle(self, spark, sf_dir):
        a = audit_query(spark, "topk_l2", sf_dir)
        assert a["take_ordered"]
        assert a["shuffle_exchanges"] == 0

    def test_tpch_q1_pushes_filters_and_partial_aggs(self, spark, sf_dir):
        a = audit_query(spark, "tpch_q1", sf_dir)
        assert a["pushed_filters"]
        assert a["partial_aggregation"]
        assert a["wholestage_codegen_spans"] >= 1

    def test_plain_groupby_counts_one_shuffle(self, spark, sf_dir):
        df = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .groupBy("lang")
            .count()
        )
        df.collect()
        a = audit_plan(df)
        assert a["shuffle_exchanges"] == 1
        assert a["partial_aggregation"]

    def test_dup_ngram_fraction_materializes_the_gram_relation(
        self, spark, sf_dir
    ):
        """dup_ngram_fraction's three consumers shuffle on different
        keys, so AQE cannot dedupe the explode subtrees (measured: one
        of three reused); the (id, gram, count) relation must therefore
        be checkpointed — the final plan reads the materialized RDD and
        contains NO Generate (explode) node."""
        from pgvecto_rs_spark.operators.curation import dup_ngram_fraction

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = dup_ngram_fraction(docs, materialize=True)
        df.collect()
        a = audit_plan(df)
        assert "Generate" not in a["plan"]
        assert "ExistingRDD" in a["plan"]

    def test_dup_ngram_fraction_is_lazy_by_default(self, spark, sf_dir):
        """r8: a plain library call must be side-effect-free — the
        default runs NO Spark job at call time (the query layer opts
        into materialize=True because it executes immediately)."""
        from pgvecto_rs_spark.operators.curation import dup_ngram_fraction

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        with count_jobs(spark) as jobs:
            df = dup_ngram_fraction(docs)
        assert jobs.n == 0, "default must not run an eager job"
        assert df.count() > 0  # still computes correctly when executed

    def test_dedup_passages_has_no_skewed_window(self, spark, sf_dir):
        """The first-occurrence decision must be a map-side-combinable
        aggregate, NOT a window rank partitioned by passage text: a
        boilerplate passage repeated across millions of docs is one hot
        key, and a window (unlike an agg or join) cannot be AQE-skew-
        split — its whole partition lands on one task (r7 `weak` item).
        The plan must contain no Window node at all and the win_text
        groupBy must partial-aggregate."""
        a = audit_query(spark, "doc_dup_passages", sf_dir)
        assert "Window" not in a["plan"]
        assert a["partial_aggregation"]

    def test_dsir_materializes_the_bucket_relation(self, spark, sf_dir):
        """DSIR's trigram explode must run once: model counts, totals
        and doc features all derive from the checkpointed (doc, side,
        bucket, n) relation, so the final plan has no Generate node."""
        from pyspark.sql import functions as F

        from pgvecto_rs_spark.operators.curation import dsir_importance_weights

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        raw = docs.where(F.col("doc_id") % 10 != 0)
        target = docs.where(F.col("doc_id") % 10 == 0)
        df = dsir_importance_weights(raw, target, materialize=True)
        df.collect()
        a = audit_plan(df)
        assert "Generate" not in a["plan"]
        assert "ExistingRDD" in a["plan"]

    def test_bm25_materializes_the_tf_relation(self, spark, sf_dir):
        """BM25 scores read the checkpointed (id, dl, tf...) relation;
        the final plan must not re-tokenize (no regexp over the text
        column) nor re-scan the parquet text."""
        from pgvecto_rs_spark.operators.retrieval import bm25_topk

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = bm25_topk(docs, ["the", "data", "model"], k=5)
        df.collect()
        a = audit_plan(df)
        assert "regexp" not in a["plan"].lower()
        assert "ExistingRDD" in a["plan"]
        assert a["take_ordered"]


class TestDriverWindowRotation:
    """queries._core._ordered(): the driver gate window must
    self-rotate oldest-green-first from the CORRECTNESS ledgers."""

    def test_pins_first_then_never_green_then_oldest(self):
        from pgvecto_rs_spark.queries import _core as C

        names = C._ordered()
        npins = len([n for n in C._DRIVER_WINDOW if n in C._REGISTRY])
        assert names[:npins] == [
            n for n in C._DRIVER_WINDOW if n in C._REGISTRY
        ]
        last = C._last_green_rounds()
        rest = names[npins:]
        # never-green queries lead the auto-filled tail
        ranks = [last.get(n, -1) for n in rest]
        assert ranks == sorted(ranks), "tail must be oldest-green-first"
        # nothing dropped, nothing duplicated
        assert sorted(names) == sorted(C._REGISTRY)

    def test_ledger_parse_shape(self):
        from pgvecto_rs_spark.queries import _core as C

        last = C._last_green_rounds()
        # the repo ships r1-r6 ledgers; every value is a known round
        assert last and all(1 <= r <= 99 for r in last.values())
        # a query green in r6's ledger must map to >= 6
        assert last.get("topk_l2", 0) >= 6

    def test_hashless_rows_never_count_as_green(self, tmp_path, monkeypatch):
        # r9 advice item 5: hash_match must be strictly True — a driver
        # row without a value hash (rows-only check) is not proof.
        import json

        from pgvecto_rs_spark.queries import _core as C

        ledg = {
            "q_hashed": {"rows_match": True, "schema_match": True,
                         "hash_match": True},
            "q_hashless": {"rows_match": True, "schema_match": True,
                           "hash_match": None},
            "q_nohashkey": {"rows_match": True, "schema_match": True},
        }
        (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps(ledg))
        import os as _os
        monkeypatch.setattr(_os.path, "dirname", lambda p: str(tmp_path))
        last = C._last_green_rounds()
        assert last == {"q_hashed": 3}

    def test_r10_window_drains_r7_tail(self):
        # the first 50 names the driver will check must leave nothing
        # in the ledger older than r8 after this round lands
        from pgvecto_rs_spark.queries import _core as C

        last = C._last_green_rounds()
        gate = C._ordered()[:50]
        stale = [n for n in C._REGISTRY
                 if 0 < last.get(n, 0) <= 7 and n not in gate]
        assert not stale, f"r<=7-stale queries outside the gate: {stale}"


class TestNewQueryPlans:
    """Plan audits for the r7 queries: no cartesian products, no
    unexpected shuffles — codec work happens inside mapInPandas
    batches; only keyed joins/aggregations exchange data."""

    def test_mm_image_gif_shape(self, spark, sf_dir):
        a = audit_query(spark, "mm_image_gif", sf_dir)
        assert "CartesianProduct" not in a["plan"]
        # id-spread + join + per-source agg: bounded small shuffle count
        assert a["shuffle_exchanges"] <= 4

    def test_mm_gif_frames_shape(self, spark, sf_dir):
        a = audit_query(spark, "mm_gif_frames", sf_dir)
        assert "CartesianProduct" not in a["plan"]
        assert a["shuffle_exchanges"] <= 4

    def test_mm_image_progressive_shape(self, spark, sf_dir):
        a = audit_query(spark, "mm_image_progressive", sf_dir)
        assert "CartesianProduct" not in a["plan"]
        # two decode branches join on doc_id + source join + groupBy
        assert a["shuffle_exchanges"] <= 8

    def test_mm_mp4_idr_shape(self, spark, sf_dir):
        """H.264 keyframe decode (r9): one mapInPandas synth + one
        mapInPandas decode — payload bytes never shuffle; no joins."""
        a = audit_query(spark, "mm_mp4_idr", sf_dir)
        assert "CartesianProduct" not in a["plan"]
        assert a["shuffle_exchanges"] <= 2

    def test_mm_video_idr_neardup_shape(self, spark, sf_dir):
        """Video near-dup (r9): 16-byte frame signatures through the
        banded Hamming join + one pair rollup; the video bytes stay in
        the decode stage (no payload column past the hash op)."""
        a = audit_query(spark, "mm_video_idr_neardup", sf_dir)
        assert "CartesianProduct" not in a["plan"]
        # band groupBy + pair distinct + video-pair rollup (+AQE reads)
        assert a["shuffle_exchanges"] <= 5
        # the printed plan lists downstream operators ABOVE the band
        # exchange: nothing up there may carry the payload column
        lines = a["plan"].splitlines()
        band = next(i for i, ln in enumerate(lines)
                    if "Exchange hashpartitioning(band" in ln)
        assert not any("payload" in ln for ln in lines[:band])
