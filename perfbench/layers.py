"""Per-call layer counters read from outside the library, and spans.

`Meter` wraps each public call in its own Spark job group and, after
the call, sums that group's stages from the application status store
(`sc._jsc.sc().statusStore()`); nothing in the library is patched.
`Spans` keeps (name, start, end, parent) records in memory and writes
them out once at exit.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

# per-op counters, in report order: driver, scheduler, executor,
# shuffle, input/output
COUNTERS = (
    "call_ms", "force_ms",
    "jobs", "stages", "tasks",
    "run_ms", "cpu_ms", "gc_ms",
    "shuffle_write_bytes", "spill_bytes",
    "input_rows", "out_rows",
)
# the counters summed from the status store's stages
STAGE_COUNTERS = COUNTERS[2:-1]


def _seq(jseq):
    """A Scala Seq seen through py4j, as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


class Meter:
    """Job group per call + status-store stage sums for that group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.calls = 0
        self.overhead_s = 0.0  # spent in begin() and end()

    def begin(self, label: str) -> str:
        """Put the next jobs in a fresh job group."""
        t0 = time.monotonic()
        self.calls += 1
        group = f"perfbench-{self.calls}-{label}"
        self.sc.setJobGroup(group, label)
        self.overhead_s += time.monotonic() - t0
        return group

    def end(self, group: str) -> dict:
        """Stage sums over every job the group ran. Stages shared by
        several jobs of the group count once; skipped stages add no
        stage, task or time."""
        t0 = time.monotonic()
        # status events arrive through the listener bus: drain it
        # first, or the last stage's metrics may not be posted yet
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(STAGE_COUNTERS, 0)
        seen = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            for sid in _seq(self._store.job(jid).stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["run_ms"] += st.executorRunTime()
                out["cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_rows"] += st.inputRecords()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.monotonic() - t0
        return out


class Spans:
    """In-memory spans: each has an id, a name, a parent, a start and an
    end, in seconds on the monotonic clock from the recorder's start."""

    def __init__(self):
        self.t0 = time.monotonic()
        self.rows: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.rows)
        row = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None,
               "start": time.monotonic() - self.t0, "end": None}
        self.rows.append(row)
        self._open.append(sid)
        try:
            yield
        finally:
            self._open.pop()
            row["end"] = time.monotonic() - self.t0

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for r in self.rows:
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - child[r["id"]]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.rows, f)


class NoSpans:
    """Tracing off: spans cost one no-op context manager."""

    @contextmanager
    def span(self, name: str):
        yield


def process_tree(pid: int) -> list[int]:
    """``pid`` and every live descendant, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``pid``'s process tree:
    this driver, the Spark JVM and its Python workers."""
    kb = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])
