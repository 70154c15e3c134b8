#!/usr/bin/env python
"""Filtered-IVF escalation cost at the 1M gate (r11 advice, medium).

The r11 exactness certificate (_widen_certified) compares the worst
kept distance against min-over-unprobed-lists of a ball/Cauchy-Schwarz
bound; when it fires the ladder stops early with a proven-exact top-k,
otherwise the ladder widens the probe set 4x per round up to a full
scan.  This measures, on the standard 1M x 64 quality mixture
(default nprobe):

- stop-reason distribution over 25 filtered searches x 2 filter
  selectivities (mod 2 — non-selective; mod 100 — selective), read
  from IVFIndex.widen_stats;
- mean filtered-search wall per selectivity with the certificate ON
  (the shipped ladder) and OFF (escalate to a full scan);
- result parity between the two modes (the certificate is a proof, so
  every certified answer must equal the full-scan answer).

Run: python scripts/ivf_filtered_cost_experiment.py [n_rows] [nlist]

``nlist`` defaults to 1024 (the gate); a fat-list configuration (e.g.
nlist=64: larger radii, balls overlap the query) is where the
certificate fires least, so its cost should be measured there too.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))
sys.path.insert(0, _HERE)

from hnsw_straggler_experiment import prepare  # noqa: E402  (same corpus recipe)


def main() -> None:
    from pyspark.sql import functions as F

    from pgvecto_rs_spark.indexes import IVFIndex
    from pgvecto_rs_spark.session import get_spark

    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    nlist = int(sys.argv[2]) if len(sys.argv) > 2 else 1024
    dims = 64
    path = prepare(n_rows, dims)  # reuses the straggler corpus (seg split unused)
    spark = get_spark("ivf-filtered-cost",
                      cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(path).select("vec_id", "embedding")

    idx_path = f"/tmp/pgvrs_filtcost_{n_rows}_{dims}_{nlist}"
    if not os.path.exists(os.path.join(idx_path, "_vindex_meta.json")):
        t0 = time.perf_counter()
        IVFIndex.create(spark, corpus, idx_path, metric="l2", nlist=nlist)
        print(f"built ivf nlist={nlist} in {time.perf_counter()-t0:.0f}s",
              flush=True)
    idx = IVFIndex.open(spark, idx_path)

    # held-out mixture queries (same recipe as ann_quality_experiment)
    srng = np.random.default_rng(42)
    centers = srng.standard_normal((16, dims)) * 4.0
    scales = 0.8 + srng.random(16) * 0.8
    qrng = np.random.default_rng(4242)
    n_q = 25
    comp = qrng.integers(0, 16, n_q)
    qs = centers[comp] + qrng.standard_normal((n_q, dims)) * scales[comp, None]

    # modes: (label, certificate enabled).  cert_off forces every
    # filtered search to escalate to a full scan — the exact reference
    # the certified answers are compared against.
    cert = IVFIndex._widen_certified
    modes = [("cert_on", True), ("cert_off", False)]
    for label, filt in (
        ("mod2", F.col("id") % 2 == 0),
        ("mod100", F.col("id") % 100 == 0),
    ):
        answers: dict[str, list] = {}
        for mode, cert_on in modes:
            IVFIndex._widen_certified = cert if cert_on else (
                lambda *a, **k: False)
            idx.widen_stats = {}
            idx.search(qs[0].tolist(), k=10, filter=filt).collect()  # warm
            t0 = time.perf_counter()
            got = []
            for q in qs:
                rows = idx.search(q.tolist(), k=10, filter=filt).collect()
                got.append(tuple((int(r["id"]), round(float(r["distance"]), 9))
                                 for r in rows))
            wall = time.perf_counter() - t0
            answers[mode] = got
            print(json.dumps({
                "filter": label, "nlist": nlist, "mode": mode,
                "mean_wall_s": round(wall / n_q, 3),
                "stats": idx.widen_stats,
            }), flush=True)
        IVFIndex._widen_certified = cert
        same = sum(a == b for a, b in zip(answers["cert_on"], answers["cert_off"]))
        print(json.dumps({"filter": label, "mode": "cert_on",
                          "equals_exact": f"{same}/{n_q}"}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
