"""Cost-model routing: decision boundaries (pure function) and the
pilot candidate-frac estimator against measured telemetry."""

from __future__ import annotations

from pyspark.sql import functions as F

from vector_database_spark.operators.index_build import build_index
from vector_database_spark.operators import search as S
from vector_database_spark.operators.search import (
    BROADCAST_INDEX_MAX_ROWS,
    _auto_strategy,
    _index_size,
    brute_force_search,
    estimate_candidate_frac,
    search,
    search_route,
    search_stats,
)
from vector_database_spark.sources.generators import clusters


def test_auto_strategy_boundaries():
    small = BROADCAST_INDEX_MAX_ROWS  # walker-eligible index size
    big = BROADCAST_INDEX_MAX_ROWS * 10
    # tiny panels never amortize the walker's fixed tree transfer
    assert _auto_strategy(small, 1, 0.0) == "brute"
    # a big panel with real pruning routes to the walker
    assert _auto_strategy(small, 64, 0.05) == "broadcast"
    # no pruning -> the tree can never win locally
    assert _auto_strategy(small, 64, 1.0) == "brute"
    assert _auto_strategy(big, 1, 1.0) == "brute"
    # beyond the walker cap, a big pruned panel clears the iterative
    # job-latency floor
    assert _auto_strategy(big, 64, 0.01) == "iterative"


def test_route_first_matches_estimate_first(monkeypatch):
    """`search_route` picks the route from the estimate-free bound
    first; over the boundary grid (and the sizes and panel widths
    around it) it returns exactly the estimate-first route, and never
    runs the pilot estimate when the tree loses even at estimate 0."""
    small = BROADCAST_INDEX_MAX_ROWS
    big = BROADCAST_INDEX_MAX_ROWS * 10
    grid = [(small, 1, 0.0), (small, 64, 0.05), (small, 64, 1.0),
            (big, 1, 1.0), (big, 64, 0.01)]
    grid += [
        (n, n_q, est)
        for n in (0, 2_000, small, small + 2, big)
        for n_q in (0, 1, 23, 24, 64, 5_000)
        for est in (0.0, 0.01, 0.05, 0.26, 0.3, 1.0)
    ]
    for n, n_q, est in grid:
        probes = []
        monkeypatch.setattr(S, "_index_size", lambda idx, doc_id=None: n)
        monkeypatch.setattr(
            S, "estimate_candidate_frac",
            lambda *a, **k: probes.append(1) or est,
        )
        panel = [(i, [0.0, 1.0]) for i in range(n_q)]
        want = _auto_strategy(n, n_q, est)
        assert search_route(None, panel, 0.5) == want, (n, n_q, est)
        if _auto_strategy(n, n_q, 0.0) == "brute":
            assert not probes, (n, n_q, est)


def test_brute_route_starts_no_job(spark):
    """On an index whose size is already memoized, a brute route is
    decided on the driver: zero Spark jobs in its job group (the
    pilot estimate it skips would collect the top tree levels)."""
    vecs = clusters(spark, 600, 8, n_clusters=4, seed=5).select("id", "vector")
    idx = build_index(vecs, local_threshold=64)
    _index_size(idx)
    q = [(0, [0.0] * 8)]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, tracker.getJobIdsForGroup(group)

    route, jobs = jobs_in("route-first", lambda: search_route(idx, q, 0.5))
    assert route == "brute" and jobs == [], (route, jobs)
    _, pilot_jobs = jobs_in(
        "pilot-probe", lambda: estimate_candidate_frac(idx, q, 0.5)
    )
    assert pilot_jobs  # the job count above can see a collect


def test_pilot_estimate_tracks_measured_frac(spark):
    vecs = clusters(spark, 4000, 16, n_clusters=8, seed=7).select("id", "vector")
    vecs = vecs.persist()
    idx = build_index(vecs, local_threshold=256).persist()
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([3, 777, 1500])).collect()
    ]
    for domain in (0.3, 1.0):
        est = estimate_candidate_frac(idx, panel, domain)
        st = search_stats(idx, vecs, panel, domain, strategy="broadcast").collect()
        measured = sum(r.candidate_frac for r in st) / len(st)
        # the estimator only needs to be good enough to route: right
        # order of magnitude, never wildly below the measured frac
        assert est >= measured * 0.3, (domain, est, measured)
        assert est <= max(1.0, measured * 3 + 0.1), (domain, est, measured)
    idx.unpersist()
    vecs.unpersist()


def test_auto_equals_every_strategy(spark):
    vecs = clusters(spark, 3000, 8, n_clusters=4, seed=11).select("id", "vector")
    vecs = vecs.persist()
    idx = build_index(vecs, local_threshold=128).persist()
    panel = [
        (int(r.id), list(r.vector))
        for r in vecs.where(F.col("id").isin([1, 2000])).collect()
    ]
    want = {(r.qid, r.id) for r in brute_force_search(vecs, panel, 0.9).collect()}
    for strategy in ("auto", "brute", "broadcast", "iterative"):
        got = {
            (r.qid, r.id)
            for r in search(idx, vecs, panel, 0.9, strategy=strategy).collect()
        }
        assert got == want, strategy
    idx.unpersist()
    vecs.unpersist()


def test_calibrate_costs(spark):
    """Calibration yields sane positive measurements, updates only the
    hardware-dependent constant, and leaves decision extremes stable:
    huge-panel selective domains keep the tree, tiny panels on big
    corpora keep brute."""
    from vector_database_spark.operators import search as S

    old = S._ITER_FIXED_ROW_UNITS
    try:
        out = S.calibrate_costs(spark)
        assert out["job_latency_s"] > 0
        assert out["scan_rows_per_s"] > 1e4
        assert S._ITER_FIXED_ROW_UNITS == out["iter_fixed_row_units"] >= 1e6
        # extremes survive any plausible calibration
        big = S.BROADCAST_INDEX_MAX_ROWS + 2
        assert S._auto_strategy(big, 1, 1.0) == "brute"
        assert S._auto_strategy(2000, 10_000, 0.001) == "broadcast"
    finally:
        S._ITER_FIXED_ROW_UNITS = old
