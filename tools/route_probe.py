"""Search-strategy routing sweep: domain {selective, unselective} ×
panel {1, 16, 64}, strategies {brute, broadcast walker, iterative,
auto}.

Usage: python tools/route_probe.py [n_rows] [dims] [runs]

The round-2 verdict's top item: `auto` never considered brute force,
though a codegen scan beats the tree 3.5× at unselective domains.
This probe validates the cost model end to end — per sweep point it
reports every strategy's best-of-N (interleaved, so host throttling
can't bias one strategy), what `auto` chose (via the pilot
candidate-frac estimate), and whether auto landed within 20% of the
best strategy. All strategies must agree on the result set.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from vector_database_spark import get_spark
from vector_database_spark.operators.index_build import build_index
from vector_database_spark.operators.search import (
    estimate_candidate_frac,
    search,
    search_route,
)
from vector_database_spark.sources.generators import clusters


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dims = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3  # iterative always runs once

    spark = get_spark(app_name="route-probe", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    vecs = clusters(spark, n, dims, n_clusters=32, seed=3).select("id", "vector")
    vecs = vecs.repartition(32).persist()
    vecs.count()
    idx = build_index(vecs, local_threshold=None).persist()
    idx.count()

    all_ids = [5, 777, 123_456 % n] + [1000 + 97 * i for i in range(61)]
    rows = {r.id: list(r.vector) for r in vecs.where(F.col("id").isin(all_ids)).collect()}
    panels = {p: [(i, rows[i]) for i in all_ids[:p]] for p in (1, 16, 64)}
    domains = {"tight": 0.1, "selective": 0.5, "unselective": 2.0}

    # auto runs back-to-back with brute (the strategy it most often
    # picks): the rig's throttle drifts over a 40-minute sweep, and
    # separating a pair by two slow strategies measures the drift, not
    # the routing
    strategies = ["brute", "auto", "broadcast", "iterative"]
    failures = []
    for dname, dom in domains.items():
        for pname, panel in panels.items():
            est = estimate_candidate_frac(idx, panel, dom)
            auto_choice = search_route(idx, panel, dom)
            times = {s: [] for s in strategies}
            results = {}
            for it in range(runs):
                for s in strategies:
                    # the iterative frontier join is never the winner in
                    # either regime at this size — one timing is enough
                    # and keeps the sweep's wall-clock sane
                    if s == "iterative" and it > 0:
                        continue
                    t0 = time.time()
                    got = {
                        (r.qid, r.id)
                        for r in search(idx, vecs, panel, dom, strategy=s).collect()
                    }
                    times[s].append(time.time() - t0)
                    results.setdefault(s, got)
                    assert got == results[s]
            base = results["brute"]
            for s in strategies[1:]:
                assert results[s] == base, (dname, pname, s, "result mismatch")
            best = {s: min(ts) for s, ts in times.items()}
            floor = min(best[s] for s in strategies if s != "auto")
            ok = best["auto"] <= floor * 1.2
            if not ok:
                failures.append((dname, pname))
            print(
                f"{dname:12s} panel={pname:3d} est_frac={est:5.3f} "
                f"auto->{auto_choice:9s} "
                + "  ".join(f"{s}={best[s]:5.2f}s" for s in strategies)
                + f"  best={floor:5.2f}s  {'OK' if ok else 'MISS'}"
            )
    if failures:
        print(f"FAIL: auto >20% off best at {failures}")
        sys.exit(1)
    print("auto within 20% of best at every sweep point")


if __name__ == "__main__":
    main()
