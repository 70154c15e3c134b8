"""Freshness semantics (reference §2.8): inserts visible before
compaction, tombstoned rows never reappear, re-insert after delete is
visible (version semantics, delete.rs:45-51), compaction folds delta."""

from __future__ import annotations

import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from pgvecto_rs_spark.queries import Q64
from pgvecto_rs_spark.streaming import FreshVectorIndex


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.cache().count()
    return df


def make(spark, emb, path, **kw):
    base_rows = emb.where(F.col("vec_id") < 400)
    return FreshVectorIndex.create(spark, base_rows, path, sealed_kind="flat", **kw)


def test_insert_visible_before_compaction(spark, emb):
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        before = {r["id"] for r in idx.search(Q64, k=10).collect()}
        late = emb.where(F.col("vec_id") >= 400)  # contains some top hits
        idx.insert(late)
        after = {r["id"] for r in idx.search(Q64, k=10).collect()}
        assert any(i >= 400 for i in after), "delta rows must be searchable"
        st = idx.stat()
        assert st["idx_growing"] and st["idx_growing"][0] > 0
        assert before != after


def test_delete_and_reinsert_version_semantics(spark, emb):
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        top = [r["id"] for r in idx.search(Q64, k=3).collect()]
        victim = top[0]
        idx.delete([victim])
        got = [r["id"] for r in idx.search(Q64, k=10).collect()]
        assert victim not in got, "tombstoned row must disappear"
        # re-insert the same id -> visible again (version > tombstone)
        idx.insert(emb.where(F.col("vec_id") == victim))
        got2 = [r["id"] for r in idx.search(Q64, k=10).collect()]
        assert victim in got2, "re-inserted row must be visible again"


def test_compaction_folds_delta_and_tombstones(spark, emb):
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        idx.insert(emb.where(F.col("vec_id") >= 400))
        top = [r["id"] for r in idx.search(Q64, k=5).collect()]
        idx.delete([top[0]])
        expect = [r["id"] for r in idx.search(Q64, k=10).collect()]
        idx.compact()
        st = idx.stat()
        assert not st["idx_growing"] and st["idx_tombstones"] == 0
        assert st["idx_sealed"][0] == emb.count() - 1
        got = [r["id"] for r in idx.search(Q64, k=10).collect()]
        assert got == expect, "compaction must not change results"


def test_structured_streaming_sink(spark, emb, tmp_path):
    """F8: micro-batches appended via writeStream.foreachBatch become
    searchable — the aminsert/growing-segment path."""
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        stage = str(tmp_path / "stage")
        late = emb.where(F.col("vec_id") >= 400)
        late.write.mode("overwrite").parquet(stage)

        stream = (
            spark.readStream.schema(late.schema).option("maxFilesPerTrigger", 1).parquet(stage)
        )
        q = (
            stream.writeStream.foreachBatch(idx.foreach_batch_sink())
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r["id"] for r in idx.search(Q64, k=10).collect()}
        assert any(i >= 400 for i in got)
        assert idx.stat()["idx_growing"][0] == late.count()


def test_bulk_tombstones_100k_no_driver_collect(spark, monkeypatch):
    """Scale guard: 100k+ tombstones flow through searches and compaction
    (the delete.rs bulkdelete path) — never as an IN-list: the sealed
    side takes them as a deny mask read from the tombstone files on
    both block sources, and an over-budget growing side joins them as
    a broadcast aggregate.  Search and
    compaction stay correct with a tombstone set far larger than k."""
    import numpy as np

    from pgvecto_rs_spark.indexes import batch as BT

    n = 120_000
    with tempfile.TemporaryDirectory() as d:
        rows = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(
                (F.col("id") % 1000).cast("float"),
                ((F.col("id") * 7) % 1000).cast("float"),
            ).alias("embedding"),
        )
        idx = FreshVectorIndex.create(spark, rows, d, sealed_kind="flat")
        # tombstone every id not divisible by 6 -> 100k dead ids
        idx.delete_df(rows.where(F.col("vec_id") % 6 != 0), id_col="vec_id")
        assert idx.stat()["idx_tombstones"] == n - n // 6

        got = [(r["id"], r["distance"]) for r in idx.search([0.0, 0.0], k=5).collect()]
        # survivors are multiples of 6; embedding = (id%1000, id*7%1000)
        ids = np.arange(0, n, 6)
        d2 = (ids % 1000).astype(float) ** 2 + ((ids * 7) % 1000).astype(float) ** 2
        order = np.lexsort((ids, d2))[:5]
        expect = [(int(ids[i]), float(d2[i])) for i in order]
        assert got == expect
        with monkeypatch.context() as m:
            m.setattr(BT, "DRIVER_SERVE_BYTES", 0)
            assert [tuple(r) for r in idx.search([0.0, 0.0], k=5).collect()] == expect

        idx.compact()
        st = idx.stat()
        assert st["idx_tombstones"] == 0 and st["idx_sealed"][0] == n // 6
        got2 = [(r["id"], r["distance"]) for r in idx.search([0.0, 0.0], k=5).collect()]
        assert got2 == expect, "compaction must not change results"


def test_hnsw_incremental_compact(spark, emb):
    """HNSW compaction is incremental (delete-patching analogue,
    hnsw/src/lib.rs:359-390): only segments whose membership changed are
    rebuilt; untouched segment files stay byte-identical, and search
    results equal the freshness view from before compaction."""
    import glob
    import os

    with tempfile.TemporaryDirectory() as d:
        idx = FreshVectorIndex.create(
            spark,
            emb.where(F.col("vec_id") < 400),
            d,
            sealed_kind="hnsw",
            segment_rows=50,  # 8 segments; a small update set (2 deletes
            # + 3 inserts) can touch at most 5, so some must survive
        )
        top = [r["id"] for r in idx.search(Q64, k=5).collect()]
        idx.delete([top[0], top[1]])
        idx.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 403)))
        # ef_search >= any segment size -> per-segment search is
        # exhaustive, so pre/post-compaction results are exactly equal
        expect = [
            (r["id"], round(r["distance"], 6))
            for r in idx.search(Q64, k=10, ef_search=200).collect()
        ]

        # compaction publishes a NEW generation directory (hardlink clone
        # for untouched segments), so key by path relative to the live
        # sealed dir; untouched files share the old inode -> same
        # (mtime, size), rewritten ones get fresh inodes.
        def snap():
            graph = os.path.join(idx.sealed.path, "graph")
            return {
                os.path.relpath(f, graph): (os.path.getmtime(f), os.path.getsize(f))
                for f in glob.glob(os.path.join(graph, "seg=*", "*.parquet"))
            }

        before = snap()
        idx.compact()
        after = snap()
        untouched = [f for f in before if f in after and before[f] == after[f]]
        assert untouched, "some segments must survive compaction untouched"
        assert any(f not in after or before[f] != after[f] for f in before), (
            "affected segments must be rewritten"
        )

        st = idx.stat()
        assert not st["idx_growing"] and st["idx_tombstones"] == 0
        assert st["idx_sealed"][0] == 400 - 2 + 3
        got = [
            (r["id"], round(r["distance"], 6))
            for r in idx.search(Q64, k=10, ef_search=200).collect()
        ]
        assert got == expect, "incremental compaction must not change results"


def test_ivf_incremental_compact(spark, emb):
    """IVF compaction is incremental (reference merges only affected
    segments, optimizing/mod.rs:58-105): delta rows are assigned to the
    EXISTING centroids and only touched list_id partitions are
    rewritten; untouched list partitions stay byte-for-byte identical,
    and post-compaction full-probe search equals the brute-force truth
    over the live row set."""
    import glob
    import hashlib
    import os

    def content_hashes(lists_dir):
        # keyed by path relative to the live sealed dir: compaction
        # publishes a new generation (hardlink clone), so absolute paths
        # change while untouched partitions stay byte-identical
        out = {}
        for f in glob.glob(os.path.join(lists_dir, "list_id=*", "*.parquet")):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, lists_dir)] = hashlib.md5(fh.read()).hexdigest()
        return out

    with tempfile.TemporaryDirectory() as d:
        idx = FreshVectorIndex.create(
            spark,
            emb.where(F.col("vec_id") < 400),
            d,
            sealed_kind="ivf",
            nlist=8,
        )
        top = [r["id"] for r in idx.search(Q64, k=5).collect()]
        idx.delete([top[0], top[1]])
        idx.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 403)))

        before = content_hashes(os.path.join(idx.sealed.path, "lists"))
        old_radii = os.path.join(idx.sealed.path, "list_radii.npy")
        with open(old_radii, "rb") as fh:
            radii_bytes = fh.read()
        idx.compact()
        after = content_hashes(os.path.join(idx.sealed.path, "lists"))
        # the retired generation (kept for in-flight readers) keeps its
        # radii: the fold writes the clone's radii to a new inode
        with open(old_radii, "rb") as fh:
            assert fh.read() == radii_bytes
        untouched = [f for f in before if f in after and before[f] == after[f]]
        assert untouched, "some list partitions must survive compaction untouched"
        assert any(f not in after or before[f] != after[f] for f in before), (
            "affected list partitions must be rewritten"
        )

        st = idx.stat()
        assert not st["idx_growing"] and st["idx_tombstones"] == 0
        assert st["idx_sealed"][0] == 400 - 2 + 3

        # full-probe search over the compacted index == brute force on
        # the live membership (2 deleted, 3 inserted)
        live = emb.where(
            ((F.col("vec_id") < 400) & ~F.col("vec_id").isin([top[0], top[1]]))
            | ((F.col("vec_id") >= 400) & (F.col("vec_id") < 403))
        )
        from pgvecto_rs_spark.operators.search import top_k

        truth = [
            r["vec_id"]
            for r in top_k(live, "embedding", Q64, 10, metric="l2", tiebreaker="vec_id").collect()
        ]
        got = [r["id"] for r in idx.search(Q64, k=10, nprobe=8).collect()]
        assert got == truth


def test_crash_mid_append_leaves_index_consistent(spark, emb):
    """Crash recovery (reference tests/crash/): Parquet's task-commit
    protocol is the WAL — a writer killed mid-append leaves its output
    under _temporary/ (plus stray hidden files), never as committed
    part files.  Reopening must see exactly the pre-crash state, and
    subsequent appends/compactions must succeed."""
    import os

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        idx.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)))
        expect = [(r["id"], r["distance"]) for r in idx.search(Q64, k=10).collect()]

        # forge the exact debris a SIGKILLed Spark writer leaves: an
        # uncommitted task attempt under _temporary and a torn hidden file
        rows_dir = os.path.join(d, "delta", "rows")
        attempt = os.path.join(
            rows_dir, "_temporary", "0", "_temporary", "attempt_20260101_0001_m_000000_1"
        )
        os.makedirs(attempt)
        with open(os.path.join(attempt, "part-00000-dead.snappy.parquet"), "wb") as f:
            f.write(b"PAR1\x00\x00partial-write-no-footer")
        with open(os.path.join(rows_dir, ".part-00001-dead.snappy.parquet.crc"), "wb") as f:
            f.write(b"\x00" * 12)

        # reopen from disk: the uncommitted debris must be invisible
        reopened = FreshVectorIndex.open(spark, d)
        got = [(r["id"], r["distance"]) for r in reopened.search(Q64, k=10).collect()]
        assert got == expect

        # the index must remain fully writable after the crash
        reopened.insert(emb.where(F.col("vec_id") >= 450))
        reopened.compact()
        assert reopened.stat()["idx_sealed"][0] == emb.count()
        assert reopened.search(Q64, k=10).count() == 10


def test_crash_mid_compact_keeps_old_sealed(spark, emb):
    """compact() builds the NEXT generation and commits via an atomic
    manifest swap; a crash mid-build leaves a half-written gen-NNNNNN
    above the manifest pointer that reopen must ignore (it serves the
    committed generation), and a retried compact() must clear the
    debris and complete."""
    import os

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        idx.insert(emb.where(F.col("vec_id") >= 400))
        # compare on (id, distance rounded): the delta-side SQL kernel and
        # the post-compact numpy kernel associate float sums differently
        # at the 1e-8 level
        expect = [(r["id"], round(r["distance"], 6)) for r in idx.search(Q64, k=10).collect()]

        # a dead half-built next generation (crash before manifest swap)
        debris = os.path.join(d, "gen-000001", "sealed", "rows")
        os.makedirs(debris)
        dead_file = os.path.join(debris, "part-00000-dead.parquet")
        with open(dead_file, "wb") as f:
            f.write(b"PAR1 torn")

        reopened = FreshVectorIndex.open(spark, d)
        got = [(r["id"], round(r["distance"], 6)) for r in reopened.search(Q64, k=10).collect()]
        assert got == expect, "old sealed index must still serve"

        reopened.compact()
        assert not os.path.exists(dead_file), "retry must discard the debris"
        got2 = [(r["id"], round(r["distance"], 6)) for r in reopened.search(Q64, k=10).collect()]
        assert got2 == expect


def test_auto_seal_on_size(spark, emb):
    """seal-on-size: foreachBatch sink compacts once the growing segment
    crosses the threshold (max_growing_segment_size analogue)."""
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        sink = idx.foreach_batch_sink(auto_compact_rows=50)
        sink(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 430)), 0)
        assert idx.stat()["idx_growing"], "below threshold: stays growing"
        sink(emb.where(F.col("vec_id") >= 430), 1)
        st = idx.stat()
        assert not st["idx_growing"], "threshold crossed: sealed"
        assert st["idx_sealed"][0] == emb.count()
        assert idx.search(Q64, k=10).count() == 10


@pytest.mark.parametrize("sealed_kind", ["flat", "ivf", "hnsw"])
def test_range_search_union_delta_minus_tombstones(spark, emb, sealed_kind):
    """range_search twin of search: sealed pruned sphere (each sealed
    kind's own pruning strategy) + brute delta sphere − tombstones ==
    the brute sphere over the LIVE row set."""
    from pgvecto_rs_spark.operators.search import range_search

    # radius at a clear gap so membership is float-noise-proof
    ds = sorted(
        r["distance"]
        for r in range_search(emb, "embedding", Q64, float("inf"), metric="l2").collect()
    )
    radius = next(
        (ds[i] + ds[i + 1]) / 2.0 for i in range(25, len(ds) - 1) if ds[i + 1] - ds[i] > 1e-5
    )
    in_sphere = {
        r["vec_id"]
        for r in range_search(emb, "embedding", Q64, radius, metric="l2").collect()
    }
    assert len(in_sphere) > 5
    victims = sorted(in_sphere)[:3]

    kw = {"flat": {}, "ivf": {"nlist": 8}, "hnsw": {"segment_rows": 200}}[sealed_kind]
    with tempfile.TemporaryDirectory() as d:
        base_rows = emb.where(F.col("vec_id") < 400)
        idx = FreshVectorIndex.create(
            spark, base_rows, d, sealed_kind=sealed_kind, **kw
        )
        idx.insert(emb.where(F.col("vec_id") >= 400))  # delta side
        idx.delete(victims)  # tombstones hit sealed rows in the sphere
        got = {r["id"] for r in idx.range_search(Q64, radius).collect()}
        assert got == in_sphere - set(victims)
        # re-insert one victim: version beats the tombstone
        idx.insert(emb.where(F.col("vec_id") == victims[0]))
        got2 = {r["id"] for r in idx.range_search(Q64, radius).collect()}
        assert got2 == in_sphere - set(victims[1:])


def test_delete_threshold_triggers_compaction(spark, emb):
    """GC trigger parity (crates/base/src/index.rs:261-264): once the
    tombstoned fraction of the sealed index passes delete_threshold,
    maybe_compact must fold — below it, it must not."""
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)  # sealed = 400 rows
        idx.delete(list(range(0, 40)))  # 10% dead
        assert not idx.maybe_compact(max_growing_rows=10**9, delete_threshold=0.2)
        idx.delete(list(range(40, 100)))  # 25% dead
        assert idx.maybe_compact(max_growing_rows=10**9, delete_threshold=0.2)
        st = idx.stat()
        assert st["idx_growing"] == [] or st["idx_growing"][0] == 0
        assert st["idx_sealed"][0] == 400 - 100
        got = {r["id"] for r in idx.search(Q64, k=400).collect()}
        assert got.isdisjoint(set(range(100)))


def test_optimizer_sealing_converges_without_explicit_compact(spark, emb):
    """tests/sealing/check.slt analogue: insert into the growing
    segment, start the timer-driven optimizer (optimizing/mod.rs:33-131
    cadence), and WITHOUT any explicit compact() call the stat must
    converge to sealed=[all rows] / growing=[] — the idle write segment
    seals after two unchanged ticks."""
    from pgvecto_rs_spark.streaming import run_optimizer

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        idx.insert(emb.where(F.col("vec_id") >= 400))
        assert idx.stat()["idx_growing"], "precondition: delta present"
        total = idx.stat()["idx_tuples"]
        opt = run_optimizer(idx, sealing_secs=0.2, optimizing_secs=3600)
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                st = idx.stat()
                if not st["idx_growing"]:
                    break
                time.sleep(0.3)
            st = idx.stat()
            assert st["idx_growing"] == [], "growing segment must seal"
            assert st["idx_sealed"] == [total]
            assert st["idx_tuples"] == total
        finally:
            opt.stop()


def test_optimizer_active_segment_not_sealed_then_seals_when_idle(spark, emb):
    """The stamp check (mod.rs:41-55): a write segment that changed
    between ticks is left alone; once idle for a full cadence it
    seals."""
    from pgvecto_rs_spark.streaming import IndexOptimizer

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        idx.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)))
        opt = IndexOptimizer(idx, sealing_secs=3600, optimizing_secs=3600)
        # tick 1: first tick only RECORDS the stamp (mod.rs seals only a
        # segment unchanged since the previous tick) — an actively-
        # written segment is never compacted at optimizer start
        assert opt.tick_sealing() is False
        assert idx.stat()["idx_growing"], "first tick records, never seals"
        # tick 2: idle since tick 1 -> stamp unchanged -> seals
        assert opt.tick_sealing() is True
        assert idx.stat()["idx_growing"] == []
        # new writes arrive; the next tick observes a CHANGED stamp (the
        # previous check was from the sealed state) -> no seal
        idx.insert(emb.where((F.col("vec_id") >= 450) & (F.col("vec_id") < 500)))
        assert opt.tick_sealing() is False
        assert idx.stat()["idx_growing"], "active segment left alone"
        # segment idle since last tick -> stamp unchanged -> seals
        assert opt.tick_sealing() is True
        assert idx.stat()["idx_growing"] == []


def test_optimizer_delete_threshold_gc(spark, emb):
    """The optimizing-scan trigger: past the delete_threshold tombstone
    fraction, a tick merges (tombstone GC) without any size trigger."""
    from pgvecto_rs_spark.streaming import IndexOptimizer

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)  # 400 sealed rows
        idx.delete(list(range(0, 120)))  # 30% > default 0.2
        opt = IndexOptimizer(idx, max_growing_rows=10**9)
        assert opt.tick_optimizing() is True
        st = idx.stat()
        assert st["idx_tombstones"] == 0, "tombstones folded"
        assert opt.tick_optimizing() is False, "no further work"


def test_streaming_ingest_with_background_optimizer(spark, emb, tmp_path):
    """End-to-end: Structured Streaming micro-batches feed the growing
    segment while the timer-driven optimizer runs concurrently; after
    the stream drains and the segment goes idle, the index converges to
    fully sealed WITHOUT any explicit compact() — the reference's
    aminsert + background-optimizer interplay (optimizing/mod.rs)."""
    from pgvecto_rs_spark.streaming import run_optimizer

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        total_base = idx.stat()["idx_tuples"]
        stage = str(tmp_path / "sstage")
        late = emb.where(F.col("vec_id") >= 400)
        late.write.mode("overwrite").parquet(stage)
        n_late = late.count()

        opt = run_optimizer(idx, sealing_secs=0.3, optimizing_secs=3600)
        try:
            stream = (
                spark.readStream.schema(late.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(stage)
            )
            q = (
                stream.writeStream.foreachBatch(idx.foreach_batch_sink())
                .option("checkpointLocation", str(tmp_path / "sckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            # searchable regardless of sealing state, right away
            got = {r["id"] for r in idx.search(Q64, k=10).collect()}
            assert any(i >= 400 for i in got)
            # idle stream -> the optimizer seals within a few cadences
            deadline = time.time() + 90
            while time.time() < deadline:
                st = idx.stat()
                if not st["idx_growing"]:
                    break
                time.sleep(0.4)
            st = idx.stat()
            assert st["idx_growing"] == []
            assert st["idx_sealed"] == [total_base + n_late]
            # sealed result unchanged
            sealed_got = {r["id"] for r in idx.search(Q64, k=10).collect()}
            assert sealed_got == got
        finally:
            opt.stop()


def test_concurrent_search_during_compaction_stress(spark, emb):
    """The round-5 race regression test: queries planned against the
    previous generation must keep valid files while the background
    optimizer compacts (generation grace GC — the old generation is
    deleted only when the NEXT one commits).  Before the generational
    manifest, compact() rmtree'd delta/tombstones under in-flight
    FileScan tasks and this pattern intermittently threw
    FileNotFoundException."""
    from pgvecto_rs_spark.streaming import run_optimizer

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        # aggressive cadence: seal whenever the segment sat idle one tick
        opt = run_optimizer(idx, sealing_secs=0.05, optimizing_secs=0.2,
                            max_growing_rows=20)
        errors = []
        try:
            for i in range(12):
                lo = 400 + i * 15
                idx.insert(
                    emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 15))
                )
                if i % 3 == 2:
                    idx.delete([lo, lo + 1])
                # hammer searches between writes; any missing-file error
                # from a retired generation surfaces here
                for _ in range(3):
                    try:
                        rows = idx.search(Q64, k=10).collect()
                        assert len(rows) == 10
                        idx.range_search(Q64, 2.5).count()
                    except Exception as e:  # noqa: BLE001
                        errors.append(e)
        finally:
            opt.stop()
        assert not errors, f"search failed during concurrent compaction: {errors[0]}"
        assert opt.stats["compactions"] >= 1, "stress must actually compact"
        # converged state is consistent: every live id exactly once
        st = idx.stat()
        assert st["idx_tuples"] == idx.search(Q64, k=10**6).count()


class TestTransactions:
    """Transaction-scoped visibility (tests/transaction/test.sql,
    src/index/hooks.rs:76-106): staged writes invisible until commit;
    rollback leaves the index byte-identically unchanged."""

    def test_insert_rollback_sees_nothing(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            before = [tuple(r) for r in idx.search(Q64, k=10).collect()]
            txn = idx.begin()
            txn.insert(emb.where(F.col("vec_id") >= 400))
            # staged rows invisible pre-commit, even to this handle
            mid = [tuple(r) for r in idx.search(Q64, k=10).collect()]
            assert mid == before
            assert idx.stat()["idx_growing"] == []
            txn.rollback()
            after = [tuple(r) for r in idx.search(Q64, k=10).collect()]
            assert after == before
            # no staging debris
            import glob as _g
            import os as _o

            assert not _g.glob(_o.path.join(d, "txn-*"))

    def test_insert_commit_becomes_visible(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            with idx.begin() as txn:
                txn.insert(emb.where(F.col("vec_id") >= 400))
            got = {r["id"] for r in idx.search(Q64, k=10).collect()}
            assert any(i >= 400 for i in got)
            # all 100 staged rows present
            assert idx.stat()["idx_growing"][0] == emb.where(
                F.col("vec_id") >= 400
            ).count()

    def test_delete_rollback_keeps_row(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            victim = idx.search(Q64, k=1).collect()[0]["id"]
            txn = idx.begin()
            txn.delete([victim])
            assert victim in {r["id"] for r in idx.search(Q64, k=5).collect()}
            txn.rollback()
            assert victim in {r["id"] for r in idx.search(Q64, k=5).collect()}

    def test_delete_commit_applies(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            victim = idx.search(Q64, k=1).collect()[0]["id"]
            with idx.begin() as txn:
                txn.delete([victim])
            assert victim not in {r["id"] for r in idx.search(Q64, k=10).collect()}

    def test_exception_in_context_rolls_back(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            before = [tuple(r) for r in idx.search(Q64, k=10).collect()]
            with pytest.raises(RuntimeError, match="boom"):
                with idx.begin() as txn:
                    txn.insert(emb.where(F.col("vec_id") >= 400))
                    raise RuntimeError("boom")
            assert [tuple(r) for r in idx.search(Q64, k=10).collect()] == before

    def test_closed_txn_raises(self, spark, emb):
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            txn.rollback()
            with pytest.raises(RuntimeError, match="committed or rolled back"):
                txn.insert(emb.where(F.col("vec_id") >= 400))
            with pytest.raises(RuntimeError):
                txn.commit()

    def test_committed_txn_survives_compaction(self, spark, emb):
        """Committed staged rows fold into the sealed index like any
        append; an uncommitted txn is unaffected by a compaction that
        runs between stage and commit."""
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            txn.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 450)))
            idx.compact()  # runs mid-transaction
            assert idx.stat()["idx_growing"] == []
            txn.commit()
            n = idx.search(Q64, k=10**6).count()
            assert n == 450
            idx.compact()
            assert idx.search(Q64, k=10**6).count() == 450

    def test_stale_transaction_gc(self, spark, emb):
        import os
        import os as _o

        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            old_txn = idx.begin()
            old_txn.insert(emb.where(F.col("vec_id") >= 400))
            fresh_txn = idx.begin()
            # backdate the first txn's staging dir
            past = time.time() - 100_000
            os.utime(old_txn._dir, (past, past))
            removed = idx.cleanup_stale_transactions(max_age_seconds=86_400)
            assert removed == 1
            assert not _o.path.isdir(old_txn._dir)
            assert _o.path.isdir(fresh_txn._dir)
            # the fresh transaction still commits normally
            fresh_txn.insert(emb.where(F.col("vec_id") == 0))
            fresh_txn.commit()
            assert idx.search(Q64, k=10).count() == 10

    def test_commit_raises_if_staging_dir_vanished(self, spark, emb):
        """A GC'd (or manually removed) staging dir must make commit()
        FAIL LOUDLY, never silently publish nothing (r7 advice)."""
        import shutil as _sh

        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            txn.insert(emb.where(F.col("vec_id") >= 400))
            _sh.rmtree(txn._dir)
            with pytest.raises(RuntimeError, match="vanished|lost"):
                txn.commit()
            # index unchanged; txn is closed
            assert idx.stat()["idx_growing"] == []
            with pytest.raises(RuntimeError, match="committed or rolled back"):
                txn.commit()

    def test_staging_writes_refresh_txn_mtime(self, spark, emb):
        """Parquet writes land under txn-*/delta/rows/ and do not bump
        the top-level dir mtime on their own; insert()/delete() must
        utime() the txn dir so a still-live transaction never looks
        stale to cleanup_stale_transactions (r7 advice)."""
        import os

        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            past = time.time() - 100_000
            os.utime(txn._dir, (past, past))
            txn.insert(emb.where(F.col("vec_id") >= 400))
            assert time.time() - os.path.getmtime(txn._dir) < 3_600
            removed = idx.cleanup_stale_transactions(max_age_seconds=86_400)
            assert removed == 0
            txn.commit()
            assert idx.search(Q64, k=10**6).count() == 500

    def test_gc_race_slow_txn_never_loses_writes_silently(self, spark, emb):
        """r8 verdict item 7: a transaction staging slowly past
        max_age_seconds while cleanup_stale_transactions runs
        concurrently must either commit ALL staged batches or raise
        loudly — never publish a subset.  The sharp edge: a Spark
        parquet append RECREATES a GC'd staging dir, so without the
        OPEN-marker check a swept txn would resurrect holding only
        post-GC batches and commit them as if complete."""
        import threading

        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            stop = threading.Event()
            # GC thread sweeping with a max_age shorter than the
            # deliberate stalls below — it WILL reap the txn mid-flight
            def gc_loop():
                while not stop.is_set():
                    idx.cleanup_stale_transactions(max_age_seconds=0.3)
                    time.sleep(0.02)

            t = threading.Thread(target=gc_loop, daemon=True)
            t.start()
            batches = [(400 + 20 * i, 400 + 20 * (i + 1)) for i in range(3)]
            try:
                committed = False
                try:
                    txn = idx.begin()
                    for lo, hi in batches:
                        txn.insert(
                            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
                        )
                        time.sleep(0.6)  # stall past max_age — GC reaps
                    txn.commit()
                    committed = True
                except RuntimeError as e:
                    # loud failure is a correct outcome; message must say
                    # the staging dir / staged writes are gone
                    assert "staging" in str(e) or "lost" in str(e)
            finally:
                stop.set()
                t.join(timeout=5)
            staged_total = sum(hi - lo for lo, hi in batches)
            visible = idx.search(Q64, k=10**6).count() - 400  # base rows
            if committed:
                assert visible == staged_total, "commit() returned but lost rows"
            else:
                # nothing from the failed txn may have been published
                assert visible == 0, "failed commit leaked partial rows"

    def test_gc_of_live_txn_detected_even_after_dir_resurrection(self, spark, emb):
        """Deterministic twin of the race: GC sweeps the staging dir
        between two stages; the second stage's parquet write recreates
        the dir (Spark behavior), so commit would silently publish only
        batch 2 — the OPEN marker must turn that into a loud error at
        stage or commit time."""
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            txn.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 420)))
            # GC wins: backdate + sweep
            past = time.time() - 100_000
            os.utime(txn._dir, (past, past))
            assert idx.cleanup_stale_transactions(max_age_seconds=86_400) == 1
            with pytest.raises(RuntimeError, match="staging|removed|lost"):
                # either this stage (marker gone) or commit must raise
                txn.insert(
                    emb.where((F.col("vec_id") >= 420) & (F.col("vec_id") < 440))
                )
                txn.commit()
            assert idx.stat()["idx_growing"] == []  # nothing leaked

    def test_delete_into_swept_staging_dir_raises(self, spark, emb):
        """A transaction's ``delete`` writes its tombstone file with
        pyarrow, which never recreates a swept staging dir: the write
        fails, and the missing marker turns that into the loud
        RuntimeError; nothing is published."""
        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            past = time.time() - 100_000
            os.utime(txn._dir, (past, past))
            assert idx.cleanup_stale_transactions(max_age_seconds=86_400) == 1
            with pytest.raises(RuntimeError, match="mid-write"):
                txn.delete([1, 2])
            assert not os.path.exists(txn._dir)
            assert idx.stat()["idx_tombstones"] == 0

    def test_insert_into_swept_staging_dir_raises(self, spark, emb):
        """A transaction's ``insert`` of a driver-held frame writes its
        growing rows with pyarrow, which never recreates a swept
        staging dir: the write fails, and the missing marker turns that
        into the loud RuntimeError; nothing is published."""
        from pgvecto_rs_spark.indexes.base import local_frame

        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            txn = idx.begin()
            past = time.time() - 100_000
            os.utime(txn._dir, (past, past))
            assert idx.cleanup_stale_transactions(max_age_seconds=86_400) == 1
            with pytest.raises(RuntimeError, match="mid-write"):
                txn.insert(local_frame(spark, [(900, list(Q64))], "vec_id long, embedding array<float>"))
            assert not os.path.exists(txn._dir)
            assert idx.stat()["idx_growing"] == []

    def test_cleanup_counts_only_removed_dirs(self, spark, emb):
        """cleanup_stale_transactions must not count a directory that
        rmtree failed to remove (r7 advice): make one stale dir
        undeletable via permissions, expect count of the other only."""
        import os
        import stat as _stat

        with tempfile.TemporaryDirectory() as d:
            idx = make(spark, emb, d)
            t1, t2 = idx.begin(), idx.begin()
            past = time.time() - 100_000
            os.utime(t1._dir, (past, past))
            os.utime(t2._dir, (past, past))
            if os.geteuid() == 0:
                # root ignores permission bits — only assert the happy path
                assert idx.cleanup_stale_transactions(max_age_seconds=86_400) == 2
                return
            os.chmod(t1._dir, _stat.S_IRUSR | _stat.S_IXUSR)  # no write → rmtree fails
            try:
                removed = idx.cleanup_stale_transactions(max_age_seconds=86_400)
                assert removed == 1
                assert os.path.isdir(t1._dir) and not os.path.isdir(t2._dir)
            finally:
                os.chmod(t1._dir, _stat.S_IRWXU)


def test_tomb_agg_materialized_once_per_generation(spark, emb):
    """r14: the per-id max-version tombstone aggregate is checkpointed
    once per tombstone-file fingerprint (the in-memory delete-map
    analogue) — reused across searches, invalidated by a write."""
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        idx.delete([3, 5])
        a1 = idx._tomb_agg()
        a2 = idx._tomb_agg()
        assert a1 is a2, "same generation must reuse the materialized agg"
        idx.delete([7])
        idx._refresh()
        a3 = idx._tomb_agg()
        assert a3 is not a1, "a new tombstone file must invalidate the agg"
        got = {(r["id"], r["tv"]) for r in a3.collect()}
        assert {i for i, _ in got} == {3, 5, 7}
        # and the search result reflects the newest tombstone set
        ids = {r["id"] for r in idx.search(Q64, k=400).collect()}
        assert not ids & {3, 5, 7}


def test_ivf_compaction_job_budget(spark, emb):
    """compact() on the test_ivf_incremental_compact shape takes the ids
    leaving and the newest visible growing rows from the driver-held
    tombstone map and growing rows, collects the prepared rows once and
    writes the touched lists in the driver (``IVFIndex._rewrite``): at
    most 1 Spark job (3 with the grouped Arrow job, 14 when the fold ran
    its own tombstone aggregate, insert checkpoint, touched-lists
    aggregate, list checkpoint, partitioned write and radii job)."""
    from tests.conftest import count_jobs

    with tempfile.TemporaryDirectory() as d:
        idx = FreshVectorIndex.create(
            spark, emb.where(F.col("vec_id") < 400), d, sealed_kind="ivf", nlist=8
        )
        top = [r["id"] for r in idx.search(Q64, k=5).collect()]
        idx.delete([top[0], top[1]])
        idx.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 403)))
        with count_jobs(spark) as jobs:
            idx.compact()
        assert jobs.n <= 1, f"compact() launched {jobs.n} Spark jobs"
        # the insert of a frame Spark computes was a Spark append
        assert idx.write_stats == {"spark": 1, "driver": 1}
        assert idx.stat()["idx_sealed"][0] == 400 - 2 + 3


def test_ivf_apply_updates_job_budget(spark, emb):
    """IVFIndex.apply_updates with driver-held deletes and inserts that
    Spark computes collects the deleted ids without a job and the
    inserted rows with one bounded collect, then writes every touched
    list in the driver: at most 2 Spark jobs (4 with a checkpoint, an id
    collect and the grouped Arrow job; 11 with the touched-lists
    aggregate, two checkpoints, the partitioned write and the radii
    job)."""
    from pgvecto_rs_spark.indexes import IVFIndex
    from pgvecto_rs_spark.indexes.base import local_frame
    from tests.conftest import count_jobs

    with tempfile.TemporaryDirectory() as d:
        idx = IVFIndex.create(spark, emb.where(F.col("vec_id") < 400), d, nlist=8)
        dels = local_frame(spark, [(i,) for i in range(0, 400, 40)], "id long")
        ins = emb.where(F.col("vec_id") >= 400).select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
        )
        with count_jobs(spark) as jobs:
            assert idx.apply_updates(delete_ids=dels, insert_rows=ins)
        assert jobs.n <= 2, f"apply_updates launched {jobs.n} Spark jobs"
        assert idx.write_stats == {"driver": 2}
        assert idx.meta["n_rows"] == 400 - 10 + 100


def test_ivf_create_job_budget(spark, emb):
    """An f32 IVFIndex.create at nlist=128 runs the row count, the
    training sample and one grouped Arrow job that writes every list
    with its radius: at most 5 Spark jobs (7 with the partitioned
    write, the list re-read and the radii job)."""
    from pgvecto_rs_spark.indexes import IVFIndex
    from tests.conftest import count_jobs

    with tempfile.TemporaryDirectory() as d:
        with count_jobs(spark) as jobs:
            idx = IVFIndex.create(spark, emb, d, nlist=128)
        assert jobs.n <= 5, f"create launched {jobs.n} Spark jobs"
        assert idx.meta["nlist"] == 128 and idx.meta["n_rows"] == 500


def test_local_insert_writes_without_a_write_job(spark, emb):
    """``insert`` and a transaction's ``insert`` of a driver-held frame
    collect the prepared rows once and write them with pyarrow, in
    ``_SCHEMAS["delta"]``'s types: at most one Spark job each and no
    write job (a Spark append leaves ``_SUCCESS``); the rows are
    searchable and compact like any others."""
    from pyspark.sql.types import DataType

    from pgvecto_rs_spark.indexes.base import local_frame
    from pgvecto_rs_spark.streaming.freshness import _SCHEMAS
    from tests.conftest import count_jobs

    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.where(F.col("vec_id") >= 400).collect()]
    schema = "vec_id long, embedding array<float>"
    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        with count_jobs(spark) as jobs:
            idx.insert(local_frame(spark, rows[:60], schema))
        assert jobs.n <= 1, f"insert launched {jobs.n} Spark jobs"
        with count_jobs(spark) as jobs:
            with idx.begin() as txn:
                txn.insert(local_frame(spark, rows[60:], schema))
        assert jobs.n <= 1, f"a transaction's insert launched {jobs.n} Spark jobs"
        rows_dir = os.path.join(idx._gen_dir(), "delta", "rows")
        assert sorted(os.listdir(rows_dir)) == sorted(os.path.basename(f) for f in idx._list_files("delta"))
        assert len(idx._list_files("delta")) == 2
        assert spark.read.parquet(*idx._list_files("delta")).schema == DataType.fromDDL(_SCHEMAS["delta"])
        assert idx.write_stats == {"driver": 2}
        assert idx.stat()["idx_growing"] == [100]
        assert idx.search(Q64, k=10**6).count() == 500
        idx.compact()
        assert idx.stat()["idx_sealed"] == [500]


def test_delete_writes_tombstones_without_a_job(spark, emb):
    """``delete`` and a transaction's ``delete`` write their tombstone
    rows with pyarrow, in ``_TOMB_SCHEMA``'s types: no Spark job, and
    the deleted ids stay hidden."""
    from pyspark.sql.types import DataType

    from pgvecto_rs_spark.streaming.freshness import _TOMB_SCHEMA
    from tests.conftest import count_jobs

    with tempfile.TemporaryDirectory() as d:
        idx = make(spark, emb, d)
        with count_jobs(spark) as jobs:
            idx.delete([1, 2])
            with idx.begin() as txn:
                txn.delete([3])
        assert jobs.n == 0
        files = idx._list_files("tombstones")
        assert len(files) == 2
        assert spark.read.parquet(*files).schema == DataType.fromDDL(_TOMB_SCHEMA)
        assert idx.stat()["idx_tombstones"] == 3
        assert not {r["id"] for r in idx.search(Q64, k=400).collect()} & {1, 2, 3}


@pytest.mark.parametrize("sealed_kind", ["flat", "ivf"])
def test_growing_distance_survives_compaction(spark, emb, sealed_kind):
    """Growing rows score against the f64 query, as the sealed indexes
    do, so a row keeps its distance when a compaction folds it in: on
    the driver path, bit for bit before and after ``compact()``."""
    kw = {"ivf": {"nlist": 8}}.get(sealed_kind, {})
    search = {"ivf": {"nprobe": 8}}.get(sealed_kind, {})
    with tempfile.TemporaryDirectory() as d:
        idx = FreshVectorIndex.create(
            spark, emb.where(F.col("vec_id") < 400), d, sealed_kind=sealed_kind, **kw
        )
        idx.insert(emb.where(F.col("vec_id") >= 400))

        def distances():
            return {r["id"]: r["distance"] for r in idx.search(Q64, k=500, **search).collect()}

        before = distances()
        idx.compact()
        after = distances()
        assert idx.serve_stats == {"driver": 2}
        grown = [i for i in before if i >= 400]
        assert len(grown) == 100
        assert [after[i] for i in grown] == [before[i] for i in grown]


@pytest.mark.parametrize("sealed_kind", ["flat", "ivf", "hnsw"])
def test_f16_compaction_rebuilds_from_stored_words(spark, tmp_path, sealed_kind):
    """A full compaction reads an f16 index's stored binary16 words back
    as vectors (flat always rebuilds; IVF and HNSW rebuild on a large
    delta or ``incremental=False``).  Values on the f16 grid keep
    search results exactly equal across the compaction."""
    import numpy as np

    from pgvecto_rs_spark.indexes.base import local_frame

    x = np.random.default_rng(5).integers(-16, 16, size=(160, 16)) / 8.0
    rows = [(i, x[i].tolist()) for i in range(len(x))]
    schema = "vec_id long, embedding array<float>"
    opts = {"ivf": {"nlist": 4}, "hnsw": {"segment_rows": 200}}.get(sealed_kind, {})
    idx = FreshVectorIndex.create(
        spark, local_frame(spark, rows[:140], schema), str(tmp_path / "f"),
        sealed_kind=sealed_kind, storage="f16", **opts,
    )
    idx.delete([0, 1, 2, 3])
    idx.insert(local_frame(spark, rows[140:], schema))
    search = {"ivf": {"nprobe": 4}, "hnsw": {"ef_search": 400}}.get(sealed_kind, {})
    queries = [x[i].tolist() for i in (0, 10, 150)]

    def answers():
        return [
            [(r["id"], r["distance"]) for r in idx.search(q, k=8, **search).collect()]
            for q in queries
        ]

    before = answers()
    idx.compact(incremental=None if sealed_kind == "flat" else False)
    st = idx.stat()
    assert not st["idx_growing"] and st["idx_sealed"][0] == 156
    assert idx.sealed.meta["storage"] == "f16"
    assert answers() == before


@pytest.mark.parametrize("sealed_kind", ["flat", "ivf", "hnsw"])
def test_driver_serving_matches_spark(spark, emb, monkeypatch, sealed_kind):
    """Under the driver budget ``search`` and ``range_search`` serve
    sealed ∪ growing − tombstones in the driver (the sealed index with
    the tombstoned ids as a deny mask, the visible growing rows scored in
    numpy) and launch no Spark job, nor does a ``maybe_compact`` that
    does not compact.  With inserts, deletes of sealed and growing rows,
    a re-insert after a delete (visible) and a delete after a re-insert
    (hidden) pending, the answers equal the Spark side's at a zero
    budget: same ids, distances within 1e-9 relative.  Every result is
    (id, distance), before the writes, with them pending and after the
    compaction; each call counts one decision per side."""
    from pgvecto_rs_spark.indexes import batch as BT
    from tests.conftest import count_jobs

    kw = {"flat": {}, "ivf": {"nlist": 8}, "hnsw": {"segment_rows": 250}}[sealed_kind]

    def both(call, collect=True, ordered=True):
        with count_jobs(spark) as jobs:
            got = call()
            rows = [tuple(r) for r in got.collect()]
        with monkeypatch.context() as m:
            m.setattr(BT, "DRIVER_SERVE_BYTES", 0)
            ref = call()
            ref_rows = [tuple(r) for r in ref.collect()] if collect else rows
        assert got.columns == ref.columns == ["id", "distance"] and jobs.n == 0
        if not ordered:
            rows, ref_rows = sorted(rows), sorted(ref_rows)
        assert [r[0] for r in rows] == [r[0] for r in ref_rows]
        assert all(r[1] == pytest.approx(e[1], rel=1e-9, abs=0) for r, e in zip(rows, ref_rows))
        return [r[0] for r in rows]

    with tempfile.TemporaryDirectory() as d:
        idx = FreshVectorIndex.create(
            spark, emb.where(F.col("vec_id") < 400), d, sealed_kind=sealed_kind, **kw
        )
        top = both(lambda: idx.search(Q64, k=10), collect=False)
        idx.insert(emb.where(F.col("vec_id") >= 400))
        grown = both(lambda: idx.search(Q64, k=10), collect=False)
        back, gone = top[0], top[1]
        young = next(i for i in grown if i >= 400)
        idx.delete([back, gone, young, top[2]])
        idx.insert(emb.where(F.col("vec_id").isin(back, gone)))
        idx.delete([gone])
        got = both(lambda: idx.search(Q64, k=10))
        assert back in got and not {gone, young, top[2]} & set(got)
        sphere = both(lambda: idx.range_search(Q64, 60.0), ordered=False)
        assert back in sphere and not {gone, young, top[2]} & set(sphere)
        with count_jobs(spark) as jobs:
            assert not idx.maybe_compact(max_growing_rows=10**9, delete_threshold=0.99)
        assert jobs.n == 0
        assert idx.serve_stats == {"driver": 4, "spark": 4}
        if sealed_kind == "ivf":
            idx.compact()
            both(lambda: idx.search(Q64, k=10), collect=False)


def test_hnsw_compaction_job_budget(spark, emb):
    """compact() on the test_hnsw_incremental_compact shape runs one
    aggregate for the touched segments, one checkpoint of their
    surviving and new rows, the segment builds, and one aggregate over
    that checkpoint for the rebuilt segments' row counts; the untouched
    segments' counts come from their Parquet footers: at most 18 Spark
    jobs (recounting the whole graph with separate distinct-segment
    collects launches 23)."""
    from tests.conftest import count_jobs

    with tempfile.TemporaryDirectory() as d:
        idx = FreshVectorIndex.create(
            spark, emb.where(F.col("vec_id") < 400), d, sealed_kind="hnsw", segment_rows=50
        )
        top = [r["id"] for r in idx.search(Q64, k=5).collect()]
        idx.delete([top[0], top[1]])
        idx.insert(emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 403)))
        with count_jobs(spark) as jobs:
            idx.compact()
        assert jobs.n <= 18, f"compact() launched {jobs.n} Spark jobs"
        assert idx.stat()["idx_sealed"][0] == 400 - 2 + 3
