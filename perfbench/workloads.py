"""The `serve` and `ingest` workloads: one client, closed loop.

Both build one bsp facade store over a seeded corpus and then repeat a
fixed cycle of public calls a whole number of times:

    serve   search(q, r) once per radius of `oracle.RADII`; nothing
            writes, so whatever the facade caches for the store stays
            valid
    ingest  `ADDS_PER_DOC` rounds on one document, each an
            add_documents(batch, reindex="auto") and then one
            search(q, r), one per radius; every read sees a new epoch
            and an un-indexed tail, and the cycle's last add compacts
            the document (`index_build` on it)

The number of cycles comes from ``--seconds`` and the cycle's wall time
on a 4-core host (`CYCLE_S`), so a run does the same calls, with the
same radii, however fast the host is. Every result is checked against
the numpy oracle.

The traced run adds a candidate count per read (`search_candidates`)
and, after the loop, a batch phase: on `serve` an ivf and a mips store
are built and served (`ann_ball`, `knn_dot`); on `ingest`
`graph.knn_graph_blocked`, `dedup.minhash_dedup_pairs` and
`dedup.dedup_groups` run once each, all checked too.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import oracle
from layers import COUNTERS, Meter, NoSpans, Spans, peak_rss_mb

WORKLOADS = {
    "serve": "reads hit a store no write touches, so its caches stay valid",
    "ingest": "adds land in the store the reads query: new epochs, tail scans, compactions",
}
# wall time of one cycle on a 4-core host, which turns --seconds into a
# whole number of cycles
CYCLE_S = {"serve": 2.5, "ingest": 9.0}
LOOP_OPS = ("add", "vicinity")
# ops with per-layer counters in the traced run; an op a workload does
# not run reports 0
TRACED_OPS = LOOP_OPS + ("ann_ball", "knn_dot", "bsp_build", "ivf_build", "mips_build",
                         "knn_graph", "minhash_pairs", "dedup_groups")
# spans that are the meter's own work, not the library's
PROBES = ("meter", "vicinity.candidates", "ann_ball.candidates")
N_CELLS = 16
# recall floors, set below what the unmodified library reaches on this
# corpus: knn_dot recall@10 at the facade's default nprobe (4 of 16
# cells) was 1.0 on 48 queries over 6 seeds; knn_graph sampled
# recall@4 was 0.996-1.0 and planted-pair recall 1.0 on 3 seeds
KNN_DOT_RECALL_FLOOR = 0.9
GRAPH_K = 4
GRAPH_RECALL_FLOOR = 0.95
DEDUP_THRESHOLD = 0.5
DEDUP_RECALL_FLOOR = 0.95
# set-up: serve reads each radius once; ingest runs one round (an add
# and a read) on the last document, which the loop never writes
WARM_ROUNDS = 1
# the traced batch phase: one warm call, then one timed call per radius
BATCH_CALLS = len(oracle.RADII)
# share of the traced loop that may fall outside every span
UNACCOUNTED_TOLERANCE = 0.02

SCALES = {
    # corpus rows, knn_graph rows, dedup documents
    "full": (16_000, 4096, 2000),
    "tiny": (2000, 512, 300),
}


def percentile_tail(samples: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest order statistic with at least
    ten samples above it, or None when that would not lie above the
    median (below 21 samples)."""
    n = len(samples)
    if n < 21:
        return None
    s = sorted(samples)
    i = n - 11
    return s[i], 100.0 * (i + 1) / n, n


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _subdirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _listing(path: str) -> frozenset:
    try:
        return frozenset(os.listdir(path))
    except FileNotFoundError:
        return frozenset()


class Run:
    """One run of one workload: set-up, timed loop, checks, metrics."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 trace: bool, scale: str, work: str):
        from vector_database_spark.api import VectorDatabase

        self.VectorDatabase = VectorDatabase
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.cycles = max(1, round(seconds / CYCLE_S[workload]))
        self.trace = trace
        self.n, self.graph_n, self.dedup_docs = SCALES[scale]
        self.root = os.path.join(work, "stores")
        self.meter = Meter(spark) if trace else None
        self.spans = Spans() if trace else NoSpans()
        # per op: samples {ms, call_ms, force_ms, ok, out_rows, counters}
        self.samples: dict[str, list[dict]] = {}
        # untimed checked calls (warm-up, index checks): (name, ok)
        self.checks: list[tuple[str, bool]] = []
        # search_candidates rows and distinct matches of the probed reads
        self.candidates = {"vicinity": [0, 0], "ann_ball": [0, 0]}
        self.probes = {"vicinity": 0, "ann_ball": 0}
        # ids a ball search returned more than once, per op
        self.repeated = {"vicinity": 0, "ann_ball": 0}
        # recall of the approximate ops, per call, for the report
        self.recall: dict[str, list[float]] = {}
        self.compactions = 0
        self.adds = 0
        self.last_batch = None  # first row of the last add that returned
        self.setup_s = 0.0
        self.loop_s = 0.0

    # -- one public call --------------------------------------------------
    def _call(self, op: str, call, force=None, check=None, timed: bool = True):
        """Time ``call()`` (the public function) and ``force(result)``
        (collect), then check the forced rows. A raise or a wrong
        result counts as a failed op; its time stays in the sample."""
        rows, ok, counters = None, False, {}
        with self.spans.span(op):
            if self.meter:
                with self.spans.span("meter"):
                    group = self.meter.begin(op)
            t0 = t1 = time.monotonic()
            try:
                with self.spans.span(f"{op}.call"):
                    res = call()
                t1 = time.monotonic()
                with self.spans.span(f"{op}.force"):
                    rows = force(res) if force else res
                ok = True
            except Exception as e:  # noqa: BLE001 - an op failure is data
                print(f"perfbench: {op} raised {type(e).__name__}: {e}", flush=True)
            t2 = time.monotonic()
            if self.meter:
                with self.spans.span("meter"):
                    counters = self.meter.end(group)
            if ok and check is not None:
                with self.spans.span(f"{op}.check"):
                    ok = bool(check(rows))
                if not ok:
                    print(f"perfbench: {op} failed its check", flush=True)
        if timed:
            self.samples.setdefault(op, []).append(
                {"ms": (t2 - t0) * 1e3, "call_ms": (t1 - t0) * 1e3,
                 "force_ms": (t2 - t1) * 1e3, "ok": ok,
                 "out_rows": len(rows) if isinstance(rows, list) else 0, **counters})
        elif check is not None:
            self.checks.append((op, ok))
        return rows, ok

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Upload the corpus, build the bsp store, check its index, then
        warm the workload's calls."""
        t0 = time.monotonic()
        c = self.corpus = oracle.Corpus(self.seed, self.n)
        # what the store holds, as the oracle sees it
        self.held = oracle.Store(c.text_ids, c.doc_ids, c.vectors)
        with self.spans.span("setup"):
            self.data = oracle.frame(self.spark, c.doc_ids, c.text_ids, c.vectors).localCheckpoint()
            self.store = self._build("bsp", "bsp_build", timed=self.trace)
            self._call("bsp_build.index_check", lambda: self.store.index().select(
                "doc_id", "range_id", "text_id").collect(), timed=False,
                check=lambda rows: oracle.index_ok(rows, self.held.ids, self.held.docs))
            if self.workload == "serve":
                for r in oracle.RADII:
                    self._read(self.store, "vicinity", r, "warm", timed=False)
            else:
                for i in range(WARM_ROUNDS):
                    self._round(oracle.DOCS - 1, i, "warm", timed=False)
        self.setup_s = time.monotonic() - t0

    def _build(self, kind: str, op: str, timed: bool):
        vdb = self.VectorDatabase(self.spark, f"{self.root}/{kind}", index_type=kind,
                                  n_cells=N_CELLS)
        self._call(op, lambda: vdb.add_documents(self.data), timed=timed)
        return vdb

    # -- the ops ----------------------------------------------------------
    def _read(self, vdb, op: str, r: float, stream: str, timed: bool = True) -> None:
        """A ball search of radius ``r`` around a jittered corpus point."""
        q = self.corpus.query(stream)
        held = self.held
        rows, ok = self._call(op, lambda: vdb.search(q, r),
                              lambda df: [row.text_id for row in df.collect()],
                              lambda ids: held.ball_ok(q, r, ids), timed=timed)
        if ok and len(set(rows)) != len(rows):
            # the right id set with some ids twice: counted and reported
            # (README, "Repeated rows"), not failed
            self.repeated[op] += len(rows) - len(set(rows))
        if timed and self.trace and ok and self.probes[op] < len(oracle.RADII):
            # the first read of each radius: the ratio without doubling
            # the loop
            self.probes[op] += 1
            with self.spans.span(f"{op}.candidates"):
                self.candidates[op][0] += vdb.search_candidates(q, r).count()
            self.candidates[op][1] += len(set(rows))

    def _add(self, doc: int, timed: bool = True) -> None:
        ids, vecs = self.corpus.add_batch()
        self.adds += 1
        batch = oracle.frame(self.spark, np.full(len(ids), doc), ids, vecs)
        part = os.path.join(self.store.index_path, f"doc_id={doc}")
        before = _listing(part)
        _, ok = self._call("add", lambda: self.store.add_documents(batch, reindex="auto"),
                           timed=timed)
        if ok:
            self.held.append(doc, ids, vecs)
            self.last_batch = vecs[0]
        if _listing(part) != before:
            self.compactions += 1

    def _round(self, doc: int, i: int, stream: str, timed: bool = True) -> None:
        """Ingest's round ``i`` of a cycle: one add to ``doc``, then one
        read of the i-th radius. One read per add: a second read of the
        same epoch is about 40% faster, and the median of such a 50/50
        mix would fall in the gap between the two."""
        self._add(doc, timed)
        self._read(self.store, "vicinity", oracle.RADII[i % len(oracle.RADII)], stream, timed)

    # -- the timed loop ---------------------------------------------------
    def loop(self) -> None:
        t0 = time.monotonic()
        with self.spans.span("loop"):
            for c in range(self.cycles):
                if self.workload == "serve":
                    for r in oracle.RADII:
                        self._read(self.store, "vicinity", r, "loop")
                else:
                    # a new document each cycle (the warmed last one
                    # excepted), so its last add is the compacting one
                    doc = c % (oracle.DOCS - 1)
                    for i in range(oracle.ADDS_PER_DOC):
                        self._round(doc, i, "loop")
        self.loop_s = time.monotonic() - t0

    def final_checks(self) -> None:
        """After an ingest loop: the store holds exactly what was added
        (a broad ball around the last batch) and its index is sound.
        Adds are checked through reads only, so a wrong store fails
        every add of the run."""
        if self.workload != "ingest" or self.last_batch is None:
            return  # no store change, or every add already failed
        t = self.held
        with self.spans.span("final_checks"):
            q = self.corpus.query("final_check", self.last_batch)
            r = oracle.RADII[-1]
            _, ok = self._call("add.final_check", lambda: self.store.search(q, r),
                               lambda df: [row.text_id for row in df.collect()],
                               lambda ids: t.ball_ok(q, r, ids), timed=False)
            self._call("add.index_check", lambda: self.store.index().select(
                "doc_id", "range_id", "text_id").collect(), timed=False,
                check=lambda rows: oracle.index_ok(rows, t.ids, t.docs, complete=False))
        if not ok:
            for s in self.samples.get("add", []):
                s["ok"] = False

    def batch_ops(self) -> None:
        """Traced run only: the ANN stores on `serve`, the batch
        operators on `ingest`."""
        with self.spans.span("batch"):
            if self.workload == "serve":
                self._serve_ann()
            else:
                self._graph_and_dedup()

    def _serve_ann(self) -> None:
        ivf = self._build("ivf", "ivf_build", timed=True)
        mips = self._build("mips", "mips_build", timed=True)
        for i in range(1 + BATCH_CALLS):  # the first call warms
            self._read(ivf, "ann_ball", oracle.RADII[i % len(oracle.RADII)], "ann_ball",
                       timed=i > 0)
            q = self.corpus.query("knn_dot")
            self._call("knn_dot", lambda: mips.knn_dot(q, oracle.KNN_K),
                       lambda df: [(row.text_id, row.ip) for row in df.collect()],
                       lambda rows: self._knn_dot_ok(q, rows), timed=i > 0)

    def _graph_and_dedup(self) -> None:
        from vector_database_spark.operators import dedup, graph

        m = self.graph_n
        vecs = self.corpus.vectors[:m]
        gdf = oracle.frame(self.spark, np.zeros(m), np.arange(m), vecs).select(
            "text_id", "vector").withColumnRenamed("text_id", "id").localCheckpoint()
        rng = np.random.default_rng(self.seed + 1)
        self._call("knn_graph", lambda: graph.knn_graph_blocked(gdf, GRAPH_K, method="dgemm"),
                   lambda df: [(r.src, r.dst, r.dist) for r in df.collect()],
                   lambda e: self._recall_ok("knn_graph", oracle.knn_graph_ok(
                       e, vecs, GRAPH_K, 64, GRAPH_RECALL_FLOOR, rng)))

        tc = oracle.TextCorpus(self.seed, self.dedup_docs)
        tdf = self.spark.createDataFrame(
            list(enumerate(tc.texts)), "doc_id long, text string").localCheckpoint()
        pairs, ok = self._call(
            "minhash_pairs", lambda: dedup.minhash_dedup_pairs(tdf, threshold=DEDUP_THRESHOLD),
            lambda df: [(r.a_id, r.b_id, r.jaccard) for r in df.collect()],
            lambda p: self._recall_ok("minhash_pairs", tc.pairs_ok(
                p, DEDUP_THRESHOLD, DEDUP_RECALL_FLOOR)))
        if ok:
            pdf = self.spark.createDataFrame(pairs, "a_id long, b_id long, jaccard double")
            self._call("dedup_groups", lambda: dedup.dedup_groups(tdf, pdf),
                       lambda df: [(r.doc_id, r.group_id, r.group_size, r.is_canonical)
                                   for r in df.collect()],
                       lambda rows: tc.groups_ok(rows, pairs))

    def _recall_ok(self, op: str, verdict: tuple[bool, float]) -> bool:
        self.recall.setdefault(op, []).append(verdict[1])
        return verdict[0]

    def _knn_dot_ok(self, q, rows) -> bool:
        recall = self.held.knn_dot_recall(q, rows)
        if recall is None or len(rows) != oracle.KNN_K:
            return False
        return self._recall_ok("knn_dot", (recall >= KNN_DOT_RECALL_FLOOR, recall))

    # -- results ----------------------------------------------------------
    def attempted_failed(self) -> tuple[int, int]:
        oks = [s["ok"] for v in self.samples.values() for s in v] + [ok for _, ok in self.checks]
        return len(oks), oks.count(False)

    def loop_ops(self) -> int:
        return sum(len(self.samples.get(op, [])) for op in LOOP_OPS)

    def store_bytes_per_user_byte(self) -> float:
        """Bytes on disk of the store over the bytes of the rows it
        holds (16 float32, text_id and doc_id per row)."""
        return _dir_bytes(self.store.root) / (
            len(self.held.ids) * (oracle.DIMS * 4 + 8 + 4))

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "vicinity_p50_ms": (statistics.median(s["ms"] for s in self.samples["vicinity"]),
                                "ms"),
            "ops_per_s": (self.loop_ops() / self.loop_s, "1/s"),
            "store_bytes_per_user_byte": (self.store_bytes_per_user_byte(), "ratio"),
        }

    def per_layer(self) -> dict:
        units = {"call_ms": "ms", "force_ms": "ms", "run_ms": "ms", "cpu_ms": "ms",
                 "gc_ms": "ms", "jobs": "count", "stages": "count", "tasks": "count",
                 "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                 "input_rows": "rows", "out_rows": "rows"}
        m = {}
        for op in TRACED_OPS:
            ss = self.samples.get(op, [])
            for c in COUNTERS:
                m[f"{op}.{c}"] = (statistics.fmean(s.get(c, 0) for s in ss) if ss else 0.0,
                                  units[c])
        for op, (cand, match) in self.candidates.items():
            m[f"{op}.candidates_per_match"] = (cand / match if match else 0.0, "ratio")
        m["add.compactions"] = (self.compactions, "count")
        m["vicinity.repeated_rows"] = (self.repeated["vicinity"], "rows")
        m["proc.peak_rss_mb"] = (peak_rss_mb(os.getpid()), "MB")
        m["trace.overhead_ms"] = (self.meter.overhead_s * 1e3 / max(1, self.meter.calls), "ms")
        m["trace.unaccounted_frac"] = (self.trace_summary()["between_calls_s"] / self.loop_s,
                                       "ratio")
        return m

    def trace_summary(self) -> dict:
        """The traced set-up and loop split into the library's work and
        the tracing's own (meter and candidate probes), with each loop
        op's time net of the meter. ``work_s`` is what an untraced run
        of the same seed spends in set-up plus loop."""
        rows = self.spans.rows
        top = {r["name"]: r for r in rows if r["parent"] is None}
        setup, loop = top["setup"], top["loop"]

        def dur(r):
            return r["end"] - r["start"]

        def under(r, root):
            while r["parent"] is not None:
                r = rows[r["parent"]]
            return r is root

        probe_s = sum(dur(r) for r in rows if r["name"] in PROBES
                      and (under(r, setup) or under(r, loop)))
        op_s = {}
        for r in rows:
            if r["parent"] == loop["id"] and r["name"] in LOOP_OPS:
                meter = sum(dur(k) for k in rows if k["parent"] == r["id"] and k["name"] == "meter")
                op_s[r["name"]] = op_s.get(r["name"], 0.0) + dur(r) - meter
        kids = sum(dur(r) for r in rows if r["parent"] == loop["id"])
        return {"setup_s": dur(setup), "loop_s": dur(loop), "probe_s": probe_s,
                "op_s": op_s, "between_calls_s": dur(loop) - kids,
                "work_s": dur(setup) + dur(loop) - probe_s}

    def reconcile(self) -> tuple[str, bool]:
        """The traced loop's wall time split into op spans, tracing and
        the rest, against a stated 2% tolerance for the rest."""
        t = self.trace_summary()
        ops = sum(t["op_s"].values())
        loop_probes = t["loop_s"] - ops - t["between_calls_s"]
        ok = t["between_calls_s"] <= UNACCOUNTED_TOLERANCE * t["loop_s"]
        return (f"reconcile: loop {t['loop_s']:.2f} s = ops {ops:.2f} s"
                f" + meter and candidate probes {loop_probes:.2f} s"
                f" + between calls {t['between_calls_s']:.3f} s"
                f" ({t['between_calls_s'] / t['loop_s']:.2%},"
                f" {'within' if ok else 'OVER'} the {UNACCOUNTED_TOLERANCE:.0%} tolerance);"
                f" set-up {t['setup_s']:.2f} s; untraced-equivalent work {t['work_s']:.2f} s"), ok

    def op_report(self) -> list[str]:
        """Human-readable per-op lines: samples, p50, tail, failures."""
        lines = [f"loop: {self.cycles} cycles, {self.loop_ops()} ops in {self.loop_s:.2f} s"]
        for op, ss in self.samples.items():
            ms = [s["ms"] for s in ss]
            tail = percentile_tail(ms)
            tail_s = (f"tail {tail[0]:.1f} ms (p{tail[1]:.0f} of {tail[2]})"
                      if tail else "tail n/a (<21 samples)")
            lines.append(f"op {op}: n={len(ms)} p50 {statistics.median(ms):.1f} ms {tail_s} "
                         f"failed {sum(not s['ok'] for s in ss)}")
        if self.adds:
            lines.append(f"add: {self.compactions} compactions in {self.adds} adds"
                         " (set-up included)")
        for op, rs in self.recall.items():
            lines.append(f"op {op}: recall min {min(rs):.3f} mean {statistics.fmean(rs):.3f}"
                         f" over {len(rs)} checked calls")
        for op, n in self.repeated.items():
            if n:
                lines.append(f"{op}: {n} repeated rows (an id returned twice)")
        return lines

    def counter_violations(self, cores: int) -> list[str]:
        """Calls whose summed stage run time exceeds wall time x cores."""
        return [f"{op}: run_ms {s['run_ms']:.0f} > {s['ms']:.0f} ms x {cores}"
                for op, ss in self.samples.items() for s in ss
                if s.get("run_ms", 0) > s["ms"] * cores * 1.05 + 50]
