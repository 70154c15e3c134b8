"""Index freshness: growing delta + versioned tombstones + compaction.

Reference semantics (SURVEY.md §2.8):

- growing segment: append-only WAL-backed rows, searched brute-force
  (crates/index/src/segment/growing.rs:132-220)
- delete/MVCC: versioned delete map; a payload is visible iff its
  insert-time version is current (crates/index/src/delete.rs:10-74,
  filtered during vbase at crates/index/src/lib.rs:416-422)
- sealing/merge: background optimizer folds growing segments into
  sealed ones and applies deletes
  (crates/index/src/optimizing/mod.rs:33-131)
- crash recovery: WAL replay + FileAtomic manifest
  (crates/index/src/lib.rs:128-211) — Parquet's atomic task-commit
  protocol plays the WAL role here; the generation MANIFEST below
  plays FileAtomic's.

Spark design: the sealed part is any of the ANN indexes (flat/ivf/hnsw);
the growing part is an append-only Parquet directory searched exactly;
tombstones are (id, version) rows.  A search unions
``sealed ∖ tombstones`` with ``delta_live`` and takes the global top-k
— the LoserTree merge analogue.  ``compact()`` is the optimizer pass:
rebuild the sealed index over the live rows, clear delta + tombstones.

Concurrency (the FileAtomic analogue, crates/index/src/lib.rs:128-211):
all mutable state lives under a numbered generation directory
``gen-NNNNNN/{sealed,delta,tombstones}`` named by ``MANIFEST.json``.
``compact()`` builds the next generation COMPLETELY (never touching the
current one), hardlinks any delta/tombstone files that arrived during
the rebuild into it, then commits by atomically replacing the manifest
(write-temp + ``os.replace``).  The previous generation stays on disk
until the *next* commit (grace-period GC: generation G is deleted when
G+2 commits), so a concurrently planned DataFrame — including cached
handles and mid-flight FileScan tasks — keeps valid files.  Writers
(insert/delete) serialize against the commit step with a lock so an
append always lands in a generation that is either folded or carried
forward; readers never take the lock.

Structured Streaming: ``foreach_batch_sink()`` returns a function for
``writeStream.foreachBatch`` so a stream of (id, vector) rows feeds the
growing segment with exactly-once batches — the ``aminsert`` path.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgvecto_rs_spark.indexes import base
from pgvecto_rs_spark.indexes import batch as BT
from pgvecto_rs_spark.indexes import segment_worker as SW
from pgvecto_rs_spark.indexes.flat import FlatIndex
from pgvecto_rs_spark.indexes.hnsw import HNSWIndex
from pgvecto_rs_spark.indexes.ivf import IVFIndex
from pgvecto_rs_spark.operators.search import distance as dist_expr

_KINDS = {"flat": FlatIndex, "ivf": IVFIndex, "hnsw": HNSWIndex}

_MANIFEST = "MANIFEST.json"

# fixed file schemas of the growing segment and the tombstones: reads
# pass them instead of inferring from a footer, which costs a Spark job
# per new file set
_TOMB_SCHEMA = "id long, version int"
_SCHEMAS = {"delta": "id long, vec array<float>, version int", "tombstones": _TOMB_SCHEMA}


def _gen_name(n: int) -> str:
    return f"gen-{n:06d}"


def _publish_manifest(path: str, gen: int) -> None:
    """Atomically publish the manifest: write-temp + flush + fsync +
    ``os.replace``.  The fsync matters — without it a crash between the
    replace and the data reaching disk can publish an empty/partial
    manifest that makes every subsequent ``open()`` fail (FileAtomic
    parity, crates/index/src/lib.rs:128-211)."""
    tmp = os.path.join(path, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"generation": gen}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _link_or_copy_tree(src: str, dst: str) -> None:
    """Clone a directory tree cheaply: hardlink immutable data files
    (Spark never rewrites a committed parquet file in place — overwrite
    modes unlink and write fresh inodes, which leaves the source link
    intact), but COPY .json metadata, which index code rewrites via
    ``open(.., "w")`` and would otherwise mutate the shared inode."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        troot = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(troot, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(troot, f)
            if f.endswith(".json"):
                shutil.copy2(s, d)
            else:
                os.link(s, d)


def _visible(delta: DataFrame, tomb_agg: DataFrame | None) -> DataFrame:
    """Growing rows a tombstone does not shadow: an insert is visible
    iff its version beats its id's newest tombstone (delete.rs:10-74)."""
    if tomb_agg is None:
        return delta
    return (
        delta.join(F.broadcast(tomb_agg), "id", "left")
        .where(F.col("tv").isNull() | (F.col("version") > F.col("tv")))
        .drop("tv")
    )


def _visible_mask(gids: np.ndarray, gver: np.ndarray, tids: np.ndarray,
                  tver: np.ndarray) -> np.ndarray:
    """``_visible`` over driver-held arrays: which growing rows (ids
    ``gids`` at versions ``gver``) beat their id's newest tombstone
    (``tids`` sorted, ``tver`` each one's newest version)."""
    if not len(tids):
        return np.ones(len(gids), dtype=bool)
    pos = np.minimum(np.searchsorted(tids, gids), len(tids) - 1)
    return (tids[pos] != gids) | (gver > tver[pos])


def _newest_visible(gids: np.ndarray, gvec: np.ndarray, gver: np.ndarray,
                    tids: np.ndarray, tver: np.ndarray):
    """``_newest(_visible(...))`` over driver-held arrays (as
    ``_visible_mask``): the ids and vectors of the highest-version
    visible growing row per id."""
    vis = _visible_mask(gids, gver, tids, tver)
    ids, vec, ver = gids[vis], gvec[vis], gver[vis]
    o = np.lexsort((-ver, ids))
    o = o[np.r_[True, ids[o][1:] != ids[o][:-1]]] if len(o) else o
    return ids[o], vec[o]


def _write_tombstones(ids: Sequence[int], version: int, rows_dir: str) -> None:
    """The (id, version) rows of driver-held ``ids`` as one Parquet file
    in ``rows_dir``, in ``_TOMB_SCHEMA``'s types, written with pyarrow
    under a hidden temp name and renamed in, so no reader sees a partial
    file: no Spark job.  A missing ``rows_dir`` raises."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    ids = [int(i) for i in ids]
    schema = to_arrow_schema(DataType.fromDDL(_TOMB_SCHEMA))
    tbl = pa.table([pa.array(ids, schema[0].type),
                    pa.array([version] * len(ids), schema[1].type)], schema=schema)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(tbl, os.path.join(rows_dir, "." + name))
    os.replace(os.path.join(rows_dir, "." + name), os.path.join(rows_dir, name))


def _newest(rows: DataFrame) -> DataFrame:
    """(id, vec): the highest-version row per id."""
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("id").orderBy(F.col("version").desc()))
    return rows.withColumn("_rn", rn).where(F.col("_rn") == 1).select("id", "vec")


class FreshVectorIndex:
    """A vector index that stays searchable while rows arrive/leave."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta = base.read_meta(path)
        # writers + manifest commits serialize on this; readers don't
        self._write_lock = threading.RLock()
        self._compact_lock = threading.Lock()
        # memo of per-fingerprint reads (``_memo``): serving threads read
        # it while commits clear it
        self._cache_lock = threading.Lock()
        self._df_cache: dict = {}
        #: searches served in the driver vs by Spark (``batch.decide``)
        self.serve_stats: dict[str, int] = {}
        self._migrate_legacy_layout()
        self._gen = self._read_manifest()
        cls = _KINDS[self.meta["sealed_kind"]]
        self.sealed = cls.open(spark, os.path.join(self._gen_dir(), "sealed"))

    # -- generation bookkeeping ----------------------------------------
    def _migrate_legacy_layout(self) -> None:
        """Pre-generation indexes kept sealed/delta/tombstones at the
        root; fold them into gen-000000 once, on open."""
        if os.path.exists(os.path.join(self.path, _MANIFEST)):
            return
        g0 = os.path.join(self.path, _gen_name(0))
        os.makedirs(g0, exist_ok=True)
        for sub in ("sealed", "delta", "tombstones"):
            src = os.path.join(self.path, sub)
            if os.path.exists(src):
                os.rename(src, os.path.join(g0, sub))
            else:
                os.makedirs(os.path.join(g0, sub), exist_ok=True)
        self._write_manifest(0)

    def _read_manifest(self) -> int:
        with open(os.path.join(self.path, _MANIFEST)) as f:
            return int(json.load(f)["generation"])

    def _write_manifest(self, gen: int) -> None:
        _publish_manifest(self.path, gen)

    def _gen_dir(self, gen: int | None = None) -> str:
        return os.path.join(self.path, _gen_name(self._gen if gen is None else gen))

    def _refresh(self) -> None:
        """Adopt a newer generation committed by another handle/thread
        on the same path (readers see commits without any locking)."""
        gen = self._read_manifest()
        if gen == self._gen:
            return
        with self._write_lock:
            if gen == self._gen:
                return
            cls = _KINDS[self.meta["sealed_kind"]]
            self.sealed = cls.open(self.spark, os.path.join(self._gen_dir(gen), "sealed"))
            self._clear_cache()
            self._gen = gen
            self.meta = base.read_meta(self.path)

    def _gc(self, keep_from: int) -> None:
        """Delete generations below ``keep_from``.  Called after a
        commit with ``keep_from = new_gen - 1`` so the previous
        generation survives one full compaction cycle — the grace
        period for in-flight plans."""
        for d in glob.glob(os.path.join(self.path, "gen-*")):
            name = os.path.basename(d)
            try:
                n = int(name.split("-", 1)[1])
            except ValueError:
                continue
            if n < keep_from:
                shutil.rmtree(d, ignore_errors=True)

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
        sealed_kind: str = "flat",
        **index_opts,
    ) -> "FreshVectorIndex":
        idx_cls = _KINDS[sealed_kind]
        g0 = os.path.join(path, _gen_name(0))
        idx_cls.create(
            spark,
            df,
            os.path.join(g0, "sealed"),
            vector_col=vector_col,
            id_col=id_col,
            metric=metric,
            **index_opts,
        )
        meta = {
            "kind": "fresh",
            "sealed_kind": sealed_kind,
            "metric": metric.lower(),
            "vector_col": vector_col,
            "id_col": id_col,
            "version": 1,
            "index_opts": index_opts,
        }
        base.write_meta(path, meta)
        os.makedirs(os.path.join(g0, "delta"), exist_ok=True)
        os.makedirs(os.path.join(g0, "tombstones"), exist_ok=True)
        _publish_manifest(path, 0)
        return cls(spark, path)

    open = classmethod(lambda cls, spark, path: cls(spark, path))

    # ------------------------------------------------------------------
    def _bump(self) -> int:
        self.meta["version"] += 1
        base.write_meta(self.path, self.meta)
        return self.meta["version"]

    def insert(self, df: DataFrame) -> None:
        """Append (id, vector) rows to the growing segment
        (``aminsert`` path; NULL vectors skipped like am.rs:266-278).

        Serialized with compaction commits (not with the rebuild) so an
        append lands either in the generation being folded — where the
        commit step carries its files forward — or in the committed new
        one; it can never vanish into a just-retired directory."""
        with self._write_lock:
            self._refresh()
            v = self._bump()
            self._delta_rows(df, v).write.mode("append").parquet(
                os.path.join(self._gen_dir(), "delta", "rows")
            )

    def _delta_rows(self, df: DataFrame, version: int) -> DataFrame:
        """(id, vec, version): ``df`` as growing-segment rows, prepared
        like the sealed index's own (``base.prepare_rows``) but kept in
        f32 until compaction encodes them."""
        _, do_norm = base.resolve_metric(self.meta["metric"])
        return base.prepare_rows(
            df, F.col(self.meta["id_col"]).cast("long"), self.meta["vector_col"], do_norm
        ).withColumn("version", F.lit(version))

    def delete(self, ids: Sequence[int]) -> None:
        """Tombstone ids at the current version (delete.rs:52-65 —
        deletes shadow strictly-older inserts, so a later re-insert of
        the same id is visible again)."""
        with self._write_lock:
            self._refresh()
            rows_dir = os.path.join(self._gen_dir(), "tombstones", "rows")
            os.makedirs(rows_dir, exist_ok=True)
            _write_tombstones(ids, self._bump(), rows_dir)

    def delete_df(self, ids_df: DataFrame, id_col: str = "id") -> None:
        """Distributed bulk delete: tombstone every id in ``ids_df``
        (the ambulkdelete path) without materializing ids on the driver —
        at scale a delete predicate selects millions of rows."""
        with self._write_lock:
            self._refresh()
            v = self._bump()
            (
                ids_df.select(
                    F.col(id_col).cast("long").alias("id"), F.lit(v).alias("version")
                )
                .write.mode("append")
                .parquet(os.path.join(self._gen_dir(), "tombstones", "rows"))
            )

    def foreach_batch_sink(self, auto_compact_rows: int | None = None):
        """For ``stream.writeStream.foreachBatch(idx.foreach_batch_sink())``.

        ``auto_compact_rows`` triggers compaction when the growing
        segment exceeds that many rows — the streaming analogue of the
        optimizer's seal-on-size (max_growing_segment_size = 20,000,
        crates/base/src/index.rs:210-213)."""

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            self.insert(batch_df)
            if auto_compact_rows is not None:
                self.maybe_compact(auto_compact_rows)

        return sink

    def maybe_compact(
        self,
        max_growing_rows: int = 20_000,
        delete_threshold: float = 0.2,
    ) -> bool:
        """Compact iff the growing segment exceeds the size threshold
        (seal-on-size, optimizing/mod.rs:33-131) OR the tombstoned
        fraction of the sealed index exceeds ``delete_threshold`` (the
        reference's deleted-row GC trigger, crates/base/src/index.rs:
        261-264 default 0.2: past that, every search scans and masks dead
        rows worth a fifth of the index).  Returns True if a
        compaction ran.

        Neither count runs a Spark job: the growing row count comes from
        the Parquet footers, the dead id count from the driver-held
        tombstone map (``_tomb_map``), each cached per file fingerprint.
        The sealed side's ``n_rows`` is
        the index's own bookkeeping: an incremental IVF fold sets it to
        old − leaving + arriving and takes the touched lists' radii from
        the tasks that write them (``IVFIndex.apply_updates``), so neither
        needs a pass over the lists."""
        self._refresh()
        if self._row_count("delta") >= max_growing_rows:
            self.compact()
            return True
        sealed_rows = max(1, int(self.sealed.meta.get("n_rows", 1)))
        if self._dead_ids() / sealed_rows >= delete_threshold:
            self.compact()
            return True
        return False

    # ------------------------------------------------------------------
    def _list_files(self, sub: str, gen: int | None = None) -> tuple[str, ...]:
        p = os.path.join(self._gen_dir(gen), sub, "rows")
        return tuple(sorted(glob.glob(os.path.join(p, "*.parquet"))))

    def _fingerprint(self, sub: str, files: tuple[str, ...] | None = None) -> tuple:
        if files is None:
            files = self._list_files(sub)
        return tuple((f, os.path.getmtime(f), os.path.getsize(f)) for f in files)

    def _memo(self, key: str, fp: tuple, build):
        """``build()``, cached under ``key`` until the file fingerprint
        ``fp`` changes.  Inserts/deletes change the fingerprint; writers
        and commits clear ``_df_cache`` outright.  A lock guards the
        lookups and inserts, as in ``segment_worker._FileLRU``; builds
        run outside it, and two threads missing the same key both build
        it."""
        with self._cache_lock:
            hit = self._df_cache.get(key)
        if hit is not None and hit[0] == fp:
            return hit[1]
        val = build()
        with self._cache_lock:
            self._df_cache[key] = (fp, val)
        return val

    def _clear_cache(self) -> None:
        with self._cache_lock:
            self._df_cache.clear()

    def _read_cached(self, sub: str, files: tuple[str, ...] | None = None) -> DataFrame | None:
        """DataFrame handle for the growing/tombstone rows, cached per
        file fingerprint: re-creating it per search re-runs Spark's file
        listing (~100 ms — the dominant warm fresh-query cost, same
        rationale as IVFIndex._lists), and the fixed schema spares the
        footer-inference job a new file set would cost.  When ``files``
        is given the read is pinned to EXACTLY that snapshot (used by
        compaction so concurrently arriving appends are carried forward
        instead of half-folded)."""
        fp = self._fingerprint(sub, files)
        if not fp:
            return None
        return self._memo(
            sub, fp,
            lambda: self.spark.read.schema(_SCHEMAS[sub]).parquet(*(f for f, _, _ in fp)),
        )

    def _row_count(self, sub: str, files: tuple[str, ...] | None = None) -> int:
        """Rows in the growing segment or the tombstone files, summed
        from the Parquet footers on the driver."""
        import pyarrow.parquet as pq

        fp = self._fingerprint(sub, files)
        return self._memo(
            f"{sub}_rows", fp,
            lambda: sum(pq.ParquetFile(f).metadata.num_rows for f, _, _ in fp),
        )

    def _delta(self) -> DataFrame | None:
        return self._read_cached("delta")

    def _tomb_agg(self, files: tuple[str, ...] | None = None) -> DataFrame | None:
        """Per-id max tombstone version, as a DataFrame: what the Spark
        plans join against — the growing side of searches over the
        driver budget (``batch.DRIVER_SERVE_BYTES``), as a broadcast
        left join, and ``compact``.  The sealed side, and searches under
        the budget, take the same map from the driver-held
        ``_tomb_map`` instead.

        The aggregate is MATERIALIZED once per tombstone-file
        fingerprint (eager localCheckpoint, cached like the raw handles
        in ``_read_cached``), so repeated searches do not re-run the
        tombstone parquet scan + groupBy.  ``files`` pins the snapshot
        as in ``_read_cached``."""
        fp = self._fingerprint("tombstones", files)
        if not fp:
            return None
        return self._memo(
            "tomb_agg", fp,
            lambda: self._read_cached("tombstones", files)
            .groupBy("id")
            .agg(F.max("version").alias("tv"))
            .localCheckpoint(eager=True),
        )

    def _growing_rows(self, fp: tuple):
        """(ids, vectors, versions) of the growing segment's files in the
        fingerprint ``fp``, read with pyarrow once per fingerprint."""

        def load():
            import pyarrow.dataset as pads

            if not fp:
                return np.empty(0, np.int64), np.empty((0, 0)), np.empty(0, np.int64)
            tbl = pads.dataset([f for f, _, _ in fp], format="parquet").to_table(
                columns=["id", "vec", "version"]
            )
            return (
                tbl.column("id").to_numpy().astype(np.int64),
                SW._read_vec_matrix_from(tbl.column("vec"), np.float64),
                tbl.column("version").to_numpy().astype(np.int64),
            )

        return self._memo("growing", fp, load)

    def _tomb_map(self, fp: tuple):
        """The tombstone map held in the driver: (ids sorted, each id's
        newest tombstone version) over the tombstone files in ``fp``,
        read with pyarrow once per fingerprint — the in-memory delete
        map of crates/index/src/delete.rs."""

        def load():
            import pyarrow.dataset as pads

            if not fp:
                return np.empty(0, np.int64), np.empty(0, np.int64)
            tbl = pads.dataset([f for f, _, _ in fp], format="parquet").to_table(
                columns=["id", "version"]
            )
            ids = tbl.column("id").to_numpy().astype(np.int64)
            ver = tbl.column("version").to_numpy().astype(np.int64)
            o = np.lexsort((ver, ids))
            ids, ver = ids[o], ver[o]
            last = np.r_[ids[1:] != ids[:-1], True] if len(ids) else np.zeros(0, bool)
            return ids[last], ver[last]

        return self._memo("tomb_map", fp, load)

    def _dead_ids(self) -> int:
        """Distinct tombstoned ids, from the driver-held tombstone map."""
        return len(self._tomb_map(self._fingerprint("tombstones"))[0])

    def _serve(self, op: str, query: Sequence[float], arg, opts: dict) -> DataFrame:
        """``op`` ("search" with k, or "range_search" with a radius) over
        sealed ∪ growing − tombstones.  The sealed index answers through
        its block runners with the tombstoned ids as a deny mask (sealed
        rows predate every tombstone; the map is held in the driver, so
        the mask costs no job).  The growing and tombstone file bytes
        add to the sealed index's ``batch.serve_cost`` against
        ``batch.DRIVER_SERVE_BYTES``.  Under it, the sealed pairs run in
        the driver, the visible growing rows are scored exactly in
        numpy, and each id keeps its best distance.  Over it, the
        sealed pairs run as Spark tasks and the growing side, which has
        no size bound, stays a Spark plan (``_growing``)."""
        gen = self._gen  # before the sealed handle: see ``_commit``
        sealed = self.sealed
        fps = [self._fingerprint(sub, self._list_files(sub, gen)) for sub in ("delta", "tombstones")]
        held = sum(size for fp in fps for _, _, size in fp)
        cost = BT.serve_cost(sealed, 1, sealed._driver_scans(op)) + held
        driver = BT.decide(self, cost <= BT.DRIVER_SERVE_BYTES)
        tids, tver = self._tomb_map(fps[1])
        serve = sealed._serve_search if op == "search" else sealed._serve_range
        got = serve(query, arg, tids if fps[1] else None, driver=driver, **opts)
        if not driver:
            return self._union_growing(op, query, arg, BT.frame(self, got))
        ids, dist = got
        gids, gvec, gver = self._growing_rows(fps[0])
        vis = _visible_mask(gids, gver, tids, tver)
        gi, gd = gids[vis], np.empty(0)
        if len(gi):
            kernel, do_norm = base.resolve_metric(self.meta["metric"])
            gd = SW.np_kernel_distance(kernel, gvec[vis], base.prep_query(query, do_norm))
            if self.meta["metric"] == "cos":
                gd = gd + 1.0
        if op == "range_search":
            inside = gd < float(arg)
            gi, gd = gi[inside], gd[inside]
        ids, dist = np.concatenate([ids, gi]), np.concatenate([dist, gd])
        # the same id can be visible on both sides (re-insert without
        # delete): keep its best distance, then the (distance, id) order
        o = np.lexsort((dist, ids))
        first = np.r_[True, ids[o][1:] != ids[o][:-1]] if len(o) else np.zeros(0, bool)
        ids, dist = ids[o][first], dist[o][first]
        o = np.lexsort((ids, dist))[: arg if op == "search" else None]
        return BT.frame(self, (ids[o], dist[o]))

    def _union_growing(self, op: str, query: Sequence[float], arg,
                       sealed: DataFrame) -> DataFrame:
        """The Spark plan of an over-budget ``_serve``: the ``sealed``
        (id, distance) result with the visible growing rows, each id at
        its best distance, cut to k or to the radius."""
        growing = self._growing(query, self._tomb_agg())
        if growing is None:
            return sealed
        if op == "range_search":
            growing = growing.where(F.col("distance") < F.lit(float(arg)))
        # the same id can be visible on both sides (re-insert without
        # delete); keep its best distance, dedup BEFORE the limit so the
        # result never falls short of k
        merged = sealed.unionByName(growing).groupBy("id").agg(
            F.min("distance").alias("distance")
        )
        if op == "range_search":
            return merged
        return merged.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(arg)

    def _growing(self, query: Sequence[float], tomb_agg: DataFrame | None) -> DataFrame | None:
        """(id, distance) of the visible growing rows: brute-force exact
        over the (small) delta, in SQL units; None without a delta."""
        delta = self._delta()
        if delta is None:
            return None
        kernel, do_norm = base.resolve_metric(self.meta["metric"])
        # the f64 query as an array<double> literal, as the sealed
        # indexes score it (a plain list becomes array<float>)
        q = F.array(*[F.lit(float(x)) for x in base.prep_query(query, do_norm)])
        d = dist_expr(F.col("vec"), q, kernel)
        return _visible(delta, tomb_agg).select(
            "id", base.post_map(self.meta["metric"], d).alias("distance")
        )

    def search(self, query: Sequence[float], k: int = 10, **search_opts) -> DataFrame:
        """Top-k over sealed ∪ growing, minus tombstoned rows — the
        vbase union + delete filter (crates/index/src/lib.rs:387-423).
        Returns (id, distance): eager and driver-held when ``_serve``
        serves it in the driver, else a Spark plan."""
        self._refresh()
        return self._serve("search", query, k, search_opts)

    def range_search(
        self, query: Sequence[float], radius: float, **search_opts
    ) -> DataFrame:
        """Sphere search over sealed ∪ growing, minus tombstoned rows —
        the freshness twin of ``search``: the sealed index's own range
        scan (pruned: IVF triangle-inequality lists, HNSW stream
        widening, flat SQ code-bound prefilter) unions an exact range
        over the small delta with version visibility, deduped to each
        id's best distance.  Returns (id, distance), in the driver under
        the budget as ``search`` is."""
        self._refresh()
        return self._serve("range_search", query, radius, search_opts)

    # ------------------------------------------------------------------
    def _commit(self, old_gen: int, snap_delta: tuple, snap_tomb: tuple) -> None:
        """Publish generation ``old_gen + 1``: carry forward any delta/
        tombstone files that arrived after the snapshot (hardlinks — the
        writers hold .parquet files immutable once committed), atomically
        swap the manifest, then GC generations older than ``old_gen``
        (grace period: the just-retired generation survives until the
        NEXT commit, so every in-flight plan keeps valid files)."""
        new_gen = old_gen + 1
        with self._write_lock:
            for sub, snap in (("delta", snap_delta), ("tombstones", snap_tomb)):
                dst = os.path.join(self._gen_dir(new_gen), sub, "rows")
                carried = [f for f in self._list_files(sub, old_gen) if f not in set(snap)]
                if carried:
                    os.makedirs(dst, exist_ok=True)
                for f in carried:
                    os.link(f, os.path.join(dst, os.path.basename(f)))
                os.makedirs(os.path.join(self._gen_dir(new_gen), sub), exist_ok=True)
            self._write_manifest(new_gen)
            # the sealed handle before the generation: a reader that takes
            # the generation, then the handle (``_serve``) pairs the new
            # sealed index with the old generation's growing rows and
            # tombstones at worst, whose folded rows it already holds
            self.sealed = _KINDS[self.meta["sealed_kind"]].open(
                self.spark, os.path.join(self._gen_dir(new_gen), "sealed")
            )
            self._gen = new_gen
            self._clear_cache()
            self._bump()
        self._gc(keep_from=old_gen)

    def compact(self, incremental: bool | None = None) -> None:
        """The optimizer pass (optimizing/mod.rs:58-105): fold delta into
        the sealed index, apply deletes, publish a new generation with an
        empty delta + tombstones.

        For HNSW and IVF sealed indexes the default is *incremental*:
        only the segments / list partitions whose membership changed are
        rebuilt (the reference merges only affected segments,
        optimizing/mod.rs:58-105; HNSW delete-patching,
        hnsw/src/lib.rs:359-390) — at 100x scale a full rebuild per
        compaction is the dominant cost.  Falls back to a full rebuild
        when the delta outgrows half the sealed capacity (HNSW: segment
        count is fixed at create time; IVF: centroids would drift too
        far from the merged distribution)."""
        with self._compact_lock:
            self._refresh()
            old_gen = self._gen
            snap_delta = self._list_files("delta", old_gen)
            snap_tomb = self._list_files("tombstones", old_gen)
            n_delta = self._row_count("delta", snap_delta)

            if incremental is None:
                incremental = self.meta["sealed_kind"] in ("hnsw", "ivf")
            if incremental and self.meta["sealed_kind"] in ("hnsw", "ivf"):
                if self.meta["sealed_kind"] == "hnsw":
                    cap = self.sealed.meta["n_segments"] * self.sealed.meta.get(
                        "segment_rows", 20_000
                    )
                    small = n_delta <= cap // 2
                else:
                    n_sealed = self.sealed.meta.get("n_rows", 0)
                    small = n_delta <= max(10_000, n_sealed // 2)
                if small:
                    self._compact_incremental(old_gen, snap_delta, snap_tomb)
                    return

            delta = self._read_cached("delta", snap_delta)
            tomb_agg = self._tomb_agg(snap_tomb)
            sealed_path = os.path.join(self._gen_dir(old_gen), "sealed")
            sealed_rows = base.stored_vectors(
                self.spark.read.parquet(os.path.join(sealed_path, self.sealed.STORAGE_DIR)),
                self.sealed.meta.get("storage", "f32"),
            ).select("id", "vec")
            # IVF multi-assignment (replicas>1) stores each id in several
            # lists; dedup before rebuilding or every compaction multiplies
            # rows and storage by the replica factor.
            sealed_rows = sealed_rows.dropDuplicates(["id"])
            if tomb_agg is not None:
                # any tombstone kills a sealed row (all sealed inserts predate
                # all tombstones) — broadcast anti-join, never an IN-list
                sealed_rows = sealed_rows.join(
                    F.broadcast(tomb_agg.select("id")), "id", "left_anti"
                )
            live = sealed_rows
            if delta is not None:
                # an id can live on both sides (re-insert) or twice in the
                # delta; keep the newest version per id (sealed rows rank as
                # version 0 — they predate every delta append)
                live = _newest(
                    sealed_rows.withColumn("version", F.lit(0)).unionByName(
                        _visible(delta, tomb_agg).select("id", "vec", "version")
                    )
                )

            idx_cls = _KINDS[self.meta["sealed_kind"]]
            new_sealed = os.path.join(self._gen_dir(old_gen + 1), "sealed")
            shutil.rmtree(self._gen_dir(old_gen + 1), ignore_errors=True)
            idx_cls.create(
                self.spark,
                live,
                new_sealed,
                vector_col="vec",
                id_col="id",
                metric=self.meta["metric"],
                **self.meta.get("index_opts", {}),
            )
            self._commit(old_gen, snap_delta, snap_tomb)

    def _compact_incremental(self, old_gen: int, snap_delta: tuple, snap_tomb: tuple) -> None:
        """Fold delta + tombstones into the sealed index by rebuilding
        only the affected segments (HNSW) / lists (IVF) through the
        index's ``apply_updates`` — run against a hardlink CLONE of the
        sealed directory in the next generation, so the current
        generation's files are never touched (the rewrites unlink the
        clone's links and write fresh inodes; the old generation keeps
        its links).

        The deletes (every tombstoned id: sealed rows predate all
        tombstones) and the inserts (the newest visible growing row per
        id) come from the driver-held tombstone map and growing rows
        (``_tomb_map``, ``_growing_rows``) as driver-held frames, so the
        fold scans no growing or tombstone file through Spark."""
        old_sealed = os.path.join(self._gen_dir(old_gen), "sealed")
        new_sealed = os.path.join(self._gen_dir(old_gen + 1), "sealed")
        shutil.rmtree(self._gen_dir(old_gen + 1), ignore_errors=True)
        _link_or_copy_tree(old_sealed, new_sealed)
        clone = _KINDS[self.meta["sealed_kind"]].open(self.spark, new_sealed)
        gids, gvec, gver = self._growing_rows(self._fingerprint("delta", snap_delta))
        tids, tver = self._tomb_map(self._fingerprint("tombstones", snap_tomb))
        ids, vec = _newest_visible(gids, gvec, gver, tids, tver)
        clone.apply_updates(
            delete_ids=base.local_frame(self.spark, [(i,) for i in tids.tolist()], "id long")
            if len(tids) else None,
            insert_rows=base.local_frame(
                self.spark, zip(ids.tolist(), vec.tolist()), "id long, vec array<float>"
            ) if len(ids) else None,
        )
        self._commit(old_gen, snap_delta, snap_tomb)

    def stat(self) -> dict:
        """vector_index_stat analogue (src/index/views.rs:17-80)."""
        self._refresh()
        growing = self._row_count("delta")
        return {
            "idx_status": "NORMAL",
            "idx_indexing": False,
            "idx_tuples": self.sealed.meta.get("n_rows", 0) + growing,
            "idx_sealed": [self.sealed.meta.get("n_rows", 0)],
            "idx_growing": [growing] if growing else [],
            "idx_tombstones": self._row_count("tombstones"),
            "idx_options": {"sealed_kind": self.meta["sealed_kind"], "metric": self.meta["metric"]},
        }

    def cleanup_stale_transactions(self, max_age_seconds: float = 86_400.0) -> int:
        """Disk GC for crash-abandoned transactions: remove ``txn-*``
        staging directories whose mtime is older than
        ``max_age_seconds``.  Staged batches are invisible to readers
        until commit, so this can never lose committed data — it only
        reclaims the space a process that died mid-transaction left
        behind (Postgres reclaims the same way via vacuum after an
        aborted xact).  Returns the number of directories removed."""
        import time

        n = 0
        now = time.time()
        for d in glob.glob(os.path.join(self.path, "txn-*")):
            try:
                if os.path.isdir(d) and now - os.path.getmtime(d) >= max_age_seconds:
                    shutil.rmtree(d, ignore_errors=True)
                    # Count only what actually went away: rmtree with
                    # ignore_errors can fail (permissions, live writer on
                    # another mount) and a survivor must not be counted —
                    # it will be retried, and recounted, next call.
                    if not os.path.isdir(d):
                        n += 1
            except OSError:
                continue
        return n

    # ------------------------------------------------------------------
    def begin(self) -> "IndexTransaction":
        """Open a transaction: writes staged through it are INVISIBLE to
        every reader (including this handle) until ``commit()``;
        ``rollback()`` discards them without a trace — the mirror of the
        reference's xact commit/abort hooks (src/index/hooks.rs:76-106,
        tests/transaction/test.sql: an aborted transaction leaves the
        index exactly as it was).

        Usable as a context manager: commit on clean exit, rollback on
        exception."""
        return IndexTransaction(self)


class IndexTransaction:
    """Transaction-scoped write batch for :class:`FreshVectorIndex`.

    Staged rows live in a ``txn-<id>/`` directory next to the ``gen-*``
    generations; readers only ever resolve files through the manifest's
    generation directory, so staged files are structurally invisible —
    no flag checks on the read path.  ``commit()`` publishes by
    hardlinking the staged parquet parts into the live generation's
    delta/tombstones under the writer lock (same per-file granularity
    as a plain ``insert()`` append), so a compaction racing the commit
    either folds the files or carries them forward, exactly like any
    other append.  ``rollback()`` removes the staging directory.

    Versions are assigned at STAGE time from the index's global version
    counter: the write's serialization point is when it is staged, the
    commit only makes the batch visible atomically-per-file.  (A
    non-transactional delete of the same id issued between stage and
    commit therefore shadows the staged insert — a documented
    divergence from Postgres snapshot semantics, where the delete could
    not have seen the uncommitted row.)
    """

    def __init__(self, idx: FreshVectorIndex):
        import uuid

        self._idx = idx
        self._dir = os.path.join(idx.path, f"txn-{uuid.uuid4().hex[:12]}")
        self._open = True
        self._staged = 0  # stage() calls recorded — commit() cross-checks
        os.makedirs(os.path.join(self._dir, "delta", "rows"), exist_ok=True)
        os.makedirs(os.path.join(self._dir, "tombstones", "rows"), exist_ok=True)
        # Liveness marker, stamped once at begin(): a Spark parquet
        # append RECREATES a missing target directory, so a staging dir
        # GC'd mid-transaction would otherwise come back from the dead
        # holding only post-GC batches — and commit would publish that
        # partial batch silently.  Every stage and the commit verify the
        # marker; a recreated dir lacks it and fails loudly instead.
        with open(os.path.join(self._dir, "OPEN"), "w") as f:
            f.write("txn liveness marker — see IndexTransaction.__init__\n")

    def _check_open(self) -> None:
        if not self._open:
            raise RuntimeError("transaction already committed or rolled back")

    def _check_marker(self) -> None:
        """Fail loudly if the staging dir was GC'd (and possibly
        recreated by a later parquet write) mid-transaction."""
        if not os.path.isfile(os.path.join(self._dir, "OPEN")):
            self._open = False
            raise RuntimeError(
                f"transaction staging dir {self._dir} was removed "
                f"mid-transaction ({self._staged} staged batch(es) may be "
                "lost) — was it GC'd as stale while staging stalled past "
                "max_age_seconds?"
            )

    def _staged_write(self, write, path: str) -> None:
        """Run a staging parquet append ``write(path)``; if it blows up
        BECAUSE the staging dir was swept mid-write (GC raced the write
        itself, not just the gaps between writes), surface the
        documented loud RuntimeError instead of a raw Spark task failure
        or a missing-directory error."""
        try:
            write(path)
        except Exception as e:  # noqa: BLE001 - re-raised unless swept
            if os.path.isfile(os.path.join(self._dir, "OPEN")):
                raise
            self._open = False
            raise RuntimeError(
                f"transaction staging dir {self._dir} was removed "
                f"mid-write ({self._staged} staged batch(es) may be "
                "lost) — was it GC'd as stale while staging stalled "
                "past max_age_seconds?"
            ) from e

    def _touch(self) -> None:
        """Refresh the staging dir's mtime on every stage: parquet writes
        land in ``txn-*/delta/rows/`` and do NOT bump the top-level dir,
        which is what :meth:`FreshVectorIndex.cleanup_stale_transactions`
        judges staleness by — without this, a long-lived transaction that
        keeps writing could be GC'd mid-flight."""
        try:
            os.utime(self._dir)
        except OSError:
            pass

    def _next_version(self) -> int:
        idx = self._idx
        with idx._write_lock:
            idx._refresh()
            return idx._bump()

    def insert(self, df: DataFrame) -> None:
        """Stage (id, vector) rows — the transactional ``aminsert``."""
        self._check_open()
        w = self._idx._delta_rows(df, self._next_version()).write.mode("append")
        self._staged_write(w.parquet, os.path.join(self._dir, "delta", "rows"))
        self._staged += 1
        self._touch()
        self._check_marker()

    def delete(self, ids: Sequence[int]) -> None:
        self._check_open()
        v = self._next_version()
        self._staged_write(
            lambda path: _write_tombstones(ids, v, path),
            os.path.join(self._dir, "tombstones", "rows"),
        )
        self._staged += 1
        self._touch()
        self._check_marker()

    def delete_df(self, ids_df: DataFrame, id_col: str = "id") -> None:
        self._check_open()
        v = self._next_version()
        w = (
            ids_df.select(
                F.col(id_col).cast("long").alias("id"), F.lit(v).alias("version")
            )
            .write.mode("append")
        )
        self._staged_write(w.parquet, os.path.join(self._dir, "tombstones", "rows"))
        self._staged += 1
        self._touch()
        self._check_marker()

    def commit(self) -> None:
        """Publish the staged batch into the live generation.

        Raises ``RuntimeError`` instead of silently committing nothing if
        the staging directory disappeared (e.g. a too-aggressive
        ``cleanup_stale_transactions`` on another handle, or manual rm) —
        a stage was recorded, so an empty publish means staged writes
        were LOST and the caller must know."""
        self._check_open()
        idx = self._idx
        if self._staged and not os.path.isdir(self._dir):
            self._open = False
            raise RuntimeError(
                f"transaction staging dir {self._dir} vanished before commit "
                f"({self._staged} staged batch(es) lost) — was it GC'd as stale?"
            )
        # a GC'd-then-recreated dir (parquet append resurrects missing
        # paths) holds only post-GC batches — the marker catches it
        self._check_marker()
        published = 0
        linked: list[str] = []
        with idx._write_lock:
            idx._refresh()
            try:
                for sub in ("delta", "tombstones"):
                    files = sorted(
                        glob.glob(os.path.join(self._dir, sub, "rows", "*.parquet"))
                    )
                    published += len(files)
                    if not files:
                        continue
                    dst = os.path.join(idx._gen_dir(), sub, "rows")
                    os.makedirs(dst, exist_ok=True)
                    for f in files:
                        target = os.path.join(dst, os.path.basename(f))
                        os.link(f, target)
                        linked.append(target)
            except OSError as e:
                # staging swept away between the marker check and the
                # hardlink (GC racing commit): unlink what was already
                # published so the batch stays all-or-nothing, then fail
                # loudly — never a partial publish presented as success
                for t in linked:
                    try:
                        os.unlink(t)
                    except OSError:
                        pass
                self._open = False
                idx._clear_cache()
                raise RuntimeError(
                    f"transaction staging files under {self._dir} vanished "
                    f"during commit ({e}) — staged writes lost"
                ) from e
            idx._clear_cache()
        if self._staged and published == 0:
            self._open = False
            raise RuntimeError(
                f"transaction staged {self._staged} batch(es) but no parquet "
                f"parts were found under {self._dir} at commit — staged "
                "writes lost"
            )
        self._open = False
        shutil.rmtree(self._dir, ignore_errors=True)

    def rollback(self) -> None:
        """Discard the staged batch — the index is untouched."""
        self._check_open()
        self._open = False
        shutil.rmtree(self._dir, ignore_errors=True)

    def __enter__(self) -> "IndexTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if not self._open:
            return
        if exc_type is None:
            self.commit()
        else:
            self.rollback()
