"""Timer-driven background index optimizer.

Reference: crates/index/src/optimizing/mod.rs:33-131 — two scheduled
tasks per index, re-armed after every run:

- **sealing** (every ``sealing_secs``, default 10; crates/base/src/
  index.rs:158-167): if the write (growing) segment has NOT changed
  since the previous tick and holds at least ``sealing_size`` rows,
  seal it.  An actively-written segment is left alone (the stamp
  check), so sealing only fires on idle segments.
- **optimizing** (every ``optimizing_secs``, default 60): scan for a
  merge source (growing segments over the size threshold, or sealed
  segments past the ``delete_threshold`` tombstone fraction) and merge;
  if work was found, re-run immediately, else sleep the full cadence.

Spark mapping: ``FreshVectorIndex`` already exposes the mechanisms
(``compact`` = seal+merge fold of delta/tombstones into the sealed
index, ``maybe_compact`` = the optimizing scan's trigger predicate);
this module adds the reference's *cadence* on a daemon thread.  The
thread only ever drives driver-side Spark actions (count + compact
jobs) — the heavy lifting stays distributed.

``tick_sealing()`` / ``tick_optimizing()`` are exposed separately so
tests (and cron-style external schedulers, the deployment-friendly
alternative to a long-lived thread on a shared driver) can advance the
schedule deterministically.
"""

from __future__ import annotations

import threading


class IndexOptimizer:
    def __init__(
        self,
        index,
        sealing_secs: float = 10.0,      # optimizing/mod.rs + index.rs:158-167
        sealing_size: int = 1,           # idle write segment of >= this seals
        optimizing_secs: float = 60.0,
        max_growing_rows: int = 20_000,  # seal-on-size (index.rs:210-213)
        delete_threshold: float = 0.2,   # tombstone GC trigger (index.rs:261-264)
    ) -> None:
        self.index = index
        # altered options (alter_vector_index analogue) override the
        # constructor defaults — the reference re-reads its alterable
        # options on every tick; here they're read at attach time
        meta = getattr(index, "meta", {}) or {}
        self.sealing_secs = float(meta.get("optimizing.sealing_secs", sealing_secs))
        self.sealing_size = int(meta.get("optimizing.sealing_size", sealing_size))
        self.optimizing_secs = float(
            meta.get("optimizing.optimizing_secs", optimizing_secs)
        )
        self.max_growing_rows = int(
            meta.get("segment.max_growing_segment_size", max_growing_rows)
        )
        self.delete_threshold = float(
            meta.get("optimizing.delete_threshold", delete_threshold)
        )
        self._stamp_check = None
        self._first = True
        self._shutdown = threading.Event()
        self._thread: threading.Thread | None = None
        #: counters for observability/tests
        self.stats = {"sealing_runs": 0, "optimizing_runs": 0, "compactions": 0}

    # -- the two reference tasks, one tick each ------------------------

    def _growing_stamp(self):
        """(version, growing-rows) — the write-segment identity stamp
        (mod.rs compares (segment id, len) the same way)."""
        return (self.index.meta.get("version", 0), self.index._row_count("delta"))

    def tick_sealing(self) -> bool:
        """One sealing check; True if a seal (compaction) ran.

        Sealing requires TWO consecutive ticks observing the same write-
        segment stamp (mod.rs:41-55): the first tick only records the
        stamp, so an actively-written segment is never compacted at
        optimizer start — it must sit idle for a full cadence first."""
        self.stats["sealing_runs"] += 1
        stamp = self._growing_stamp()
        ran = False
        if self._first or stamp != self._stamp_check:
            self._stamp_check = stamp
        elif stamp[1] >= self.sealing_size and stamp[1] > 0:
            self.index.compact()
            self.stats["compactions"] += 1
            ran = True
        self._first = False
        return ran

    def tick_optimizing(self) -> bool:
        """One optimizing scan; True if a merge ran (the reference
        re-arms immediately after productive work — callers looping on
        this should do the same)."""
        self.stats["optimizing_runs"] += 1
        ran = self.index.maybe_compact(
            max_growing_rows=self.max_growing_rows,
            delete_threshold=self.delete_threshold,
        )
        if ran:
            self.stats["compactions"] += 1
        return bool(ran)

    # -- cadence loop --------------------------------------------------

    def _loop(self) -> None:
        import time

        next_seal = time.monotonic()
        next_opt = time.monotonic()
        while not self._shutdown.is_set():
            now = time.monotonic()
            if now >= next_seal:
                try:
                    self.tick_sealing()
                except Exception:  # noqa: BLE001 - mirror catch_unwind (mod.rs:109)
                    pass
                next_seal = time.monotonic() + self.sealing_secs
            if now >= next_opt:
                try:
                    productive = self.tick_optimizing()
                except Exception:  # noqa: BLE001
                    productive = False
                # productive merge -> re-run immediately (mod.rs:97-99)
                next_opt = time.monotonic() + (0.0 if productive else self.optimizing_secs)
            wake = min(next_seal, next_opt)
            self._shutdown.wait(timeout=max(0.0, wake - time.monotonic()))

    def start(self) -> "IndexOptimizer":
        if self._thread is not None:
            return self
        self._shutdown.clear()
        self._thread = threading.Thread(
            target=self._loop, name="pgvrs-optimizer", daemon=True
        )
        self._thread.start()
        return self

    def stop(self, timeout: float = 30.0) -> None:
        self._shutdown.set()
        if self._thread is not None:
            self._thread.join(timeout=timeout)
            self._thread = None


def run_optimizer(index, **kwargs) -> IndexOptimizer:
    """Start a background optimizer for ``index`` and return the handle
    (call ``.stop()`` to shut it down — the analogue of the reference's
    shutdown channel)."""
    return IndexOptimizer(index, **kwargs).start()
