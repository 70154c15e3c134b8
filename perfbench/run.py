"""Benchmark of the pgvecto_rs_spark engine.

    python3 perfbench/run.py --workload ann_serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One run starts a local[n] Spark session
(n = SPARK_GRAFT_CPUS, else the usable cores), generates the workload's
inputs from ``--seed``, sets up untimed, then drives one closed-loop
client for ``--seconds`` and checks every reply.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` each call into a layer is tagged with its own Spark
job group and the per-layer metrics are read from Spark's status store
(see layers.py).  The line before it carries the run's metadata.
Everything the run writes goes under ``.perfbench_work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


#: end-to-end metric -> unit, in report order
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}


def end_to_end(ctx, setup_s: float, peak_rss_bytes: int) -> dict[str, float]:
    """The end-to-end metrics.  A workload is a fixed plan of requests
    (plan positions are slots) and the window runs whole passes over it,
    so every slot has the same number of samples.  ``pass_s`` is one pass
    over the plan: the sum of each slot's median latency, so a slower
    request of any kind moves it by that request's share of the pass."""
    return {
        "setup_s": setup_s,
        "pass_s": sum(statistics.median(s.walls) for s in ctx.slots.values()),
        "recall_at_10": statistics.fmean(ctx.recalls),
        "peak_rss_mb": peak_rss_bytes / 2**20,
    }


def latencies(ctx) -> dict[str, dict]:
    """Median latency and sample count of the single top-k and of the
    range requests.  They go into the run's metadata, not the metrics: a
    run holds 2 to 6 samples of each, and their run-to-run spread on a
    shared 4-vCPU machine exceeds the largest bound a metric may have."""
    from workloads import RANGE, TOPK

    out = {}
    for kind in (TOPK, RANGE):
        walls = [w for s in ctx.slots.values() if s.kind == kind for w in s.walls]
        out[kind] = {"p50_ms": statistics.median(walls) * 1e3, "samples": len(walls)}
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pgvecto_rs_spark")):
        print(f"perfbench: no pgvecto_rs_spark package under {ROOT}", file=sys.stderr)
        return 2

    import harness
    import layers
    from workloads import Ctx

    t0 = time.perf_counter()
    cpus = harness.cpu_count()
    meta = harness.metadata(ROOT, args.seed, cpus)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        with harness.RssSampler() as rss:
            spark = harness.start_session(ROOT, work, cpus)
            try:
                tracer = harness.Tracer(spark, enabled=bool(args.trace))
                ctx = Ctx(spark, tracer, args.seed, args.seconds, work, cpus)
                ctx.setup_phases["session"] = time.perf_counter() - t0
                workload = WORKLOADS[args.workload]()
                workload.setup(ctx)
                setup_s = time.perf_counter() - t0
                tracer.phase = "window"
                w0 = time.perf_counter()
                workload.window(ctx)
                window_s = time.perf_counter() - w0
                profiles = harness.read_profiles(spark) if args.trace else {}
            finally:
                harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    kinds = {s.kind for s in ctx.slots.values() if s.walls}
    if not ({"topk", "range"} <= kinds and ctx.recalls and all(s.walls for s in ctx.slots.values())):
        print("perfbench: the window left a request kind or a plan position without a sample",
              file=sys.stderr)
        return 1
    e2e = end_to_end(ctx, setup_s, rss.peak_bytes)
    meta.update(
        workload=args.workload,
        trace=args.trace,
        seconds=args.seconds,
        window_s=window_s,
        error_rate=ctx.failed / max(1, ctx.attempted),
        latency=latencies(ctx),
        slot_ms=[[round(w * 1e3, 1) for w in ctx.slots[k].walls] for k in sorted(ctx.slots)],
        inputs=ctx.sizes,
        setup_phases=ctx.setup_phases,
        loadavg_end=os.getloadavg(),
    )
    if args.trace:
        values = layers.compute(tracer.spans, profiles, ctx.counters, cpus, ctx.attempted)
        metrics = {name: {"value": values[name], "unit": unit} for name, unit in layers.names()}
        # the traced run's own end-to-end figures, for the tracing overhead
        meta["end_to_end"] = e2e
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print("perfbench meta " + harness.dumps(meta))
    print(harness.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    sys.exit(main())
