"""Per-layer metrics of a traced run, named ``<module>.<call>.<measure>``.

Every traced run reports every metric below; a layer the workload does
not call reports 0.  Values are per call of the layer (medians for
``p50_ms``, means otherwise), so they compare across runs that fit a
different number of requests into the window."""

from __future__ import annotations

import statistics

SEARCH = ("p50_ms", "jobs", "driver_s")
STAGES = ("wall_s", "exec_run_s", "python_s", "shuffle_bytes")
CREATE = ("wall_s", "exec_run_s", "straggler_ratio")
CALLS = ("p50_ms", "jobs")
QUERIES = ("wall_s", "jobs", "tasks", "exec_run_s", "python_s")

SPANS: dict[str, tuple[str, ...]] = {
    "indexes.flat.search": SEARCH,
    "indexes.ivf.search": SEARCH,
    "indexes.hnsw.search": SEARCH,
    "indexes.ivf.search_filtered": CALLS,
    "indexes.ivf.range_search": CALLS,
    "indexes.flat.search_batch": STAGES,
    "indexes.ivf.search_batch": STAGES,
    "indexes.quantization.search_batch": STAGES,
    "indexes.hnsw.search_batch": STAGES,
    "indexes.ivf.create": CREATE,
    "indexes.quantization.create": CREATE,
    "indexes.hnsw.create": CREATE,
    "streaming.freshness.search": SEARCH + ("delta_rows", "tombstones"),
    "streaming.freshness.range_search": CALLS,
    "streaming.freshness.insert": CALLS,
    "streaming.freshness.delete": CALLS,
    "streaming.freshness.maybe_compact": CALLS,
    "streaming.freshness.compact": ("wall_s", "exec_run_s", "bytes_written", "write_amp"),
    "operators.textanalysis.quality_score": STAGES,
    "operators.dedup.exact_dedup": STAGES,
    "operators.dedup.lsh_candidate_pairs": STAGES,
    "operators.dedup.verify_pairs_jaccard": STAGES,
    "operators.dedup.neardup_components": STAGES,
    "operators.curation.decontaminate": STAGES,
    "sources.embedding.text2vec_hash": STAGES,
    "queries.vector": QUERIES,
    "queries.multimodal": QUERIES,
    "queries.events": QUERIES,
    "queries.tpch": QUERIES,
}
# counted by the benchmark itself, outside the program
COUNTERS = (
    "indexes.ivf.search.widen_rounds",
    "operators.dedup.lsh_candidate_pairs.candidates",
    "operators.dedup.verify_pairs_jaccard.verified_per_candidate",
)
# whole-window totals per request
SPARK = ("jobs", "stages", "tasks", "exec_run_s", "jvm_cpu_s", "gc_s", "spill_bytes", "fetch_wait_s")

UNITS = {
    "p50_ms": "ms", "jobs": "count", "driver_s": "s", "wall_s": "s", "exec_run_s": "s",
    "python_s": "s", "shuffle_bytes": "bytes", "straggler_ratio": "ratio", "delta_rows": "count",
    "tombstones": "count", "bytes_written": "bytes", "write_amp": "ratio", "stages": "count",
    "tasks": "count", "jvm_cpu_s": "s", "gc_s": "s", "spill_bytes": "bytes", "fetch_wait_s": "s",
    "widen_rounds": "count", "candidates": "count", "verified_per_candidate": "ratio",
}


def names() -> list[tuple[str, str]]:
    """(metric name, unit) for every per-layer metric, in report order."""
    out = [(f"{layer}.{m}", UNITS[m]) for layer, ms in SPANS.items() for m in ms]
    out += [(c, UNITS[c.rsplit(".", 1)[1]]) for c in COUNTERS]
    out += [(f"spark.{m}", UNITS[m]) for m in SPARK]
    return out


def _mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


def compute(spans, profiles, counters: dict, cpus: int, requests: int) -> dict[str, float]:
    """Per-layer values from the run's spans, the status-store profile of
    each span's job group, and the benchmark's own counters."""
    from harness import GroupProfile

    empty = GroupProfile()
    # the window's calls; a layer called only in set-up (an index build)
    # falls back to its set-up calls
    by_layer: dict[str, list] = {}
    for s in sorted(spans, key=lambda s: s.attrs.get("phase") != "window"):
        calls = by_layer.setdefault(s.layer, [])
        if not calls or calls[0][0].attrs.get("phase") == s.attrs.get("phase"):
            calls.append((s, profiles.get(s.group, empty)))

    def measure(m: str, calls) -> float:
        if not calls:
            return 0.0
        if m == "p50_ms":
            return float(statistics.median(s.wall_s for s, _ in calls)) * 1e3
        per_call = {
            "jobs": lambda s, p: p.jobs,
            "tasks": lambda s, p: p.tasks,
            "driver_s": lambda s, p: s.wall_s - p.exec_run_s / cpus,
            "wall_s": lambda s, p: s.wall_s,
            "exec_run_s": lambda s, p: p.exec_run_s,
            "python_s": lambda s, p: max(0.0, p.exec_run_s - p.jvm_cpu_s),
            "shuffle_bytes": lambda s, p: p.shuffle_bytes,
            "straggler_ratio": lambda s, p: p.straggler_ratio,
            "bytes_written": lambda s, p: p.output_bytes,
            "delta_rows": lambda s, p: s.attrs["delta_rows"],
            "tombstones": lambda s, p: s.attrs["tombstones"],
            "write_amp": lambda s, p: s.attrs["write_amp"],
        }[m]
        return _mean(per_call(s, p) for s, p in calls)

    out = {}
    for layer, ms in SPANS.items():
        for m in ms:
            out[f"{layer}.{m}"] = measure(m, by_layer.get(layer, []))
    for c in COUNTERS:
        out[c] = _mean(counters.get(c, []))
    window = [profiles.get(s.group, empty) for s in spans if s.attrs.get("phase") == "window"]
    per_req = max(1, requests)
    for m in SPARK:
        out[f"spark.{m}"] = sum(getattr(p, m) for p in window) / per_req
    return out
