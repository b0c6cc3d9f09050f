"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Every line but the last is a report for
people; the last line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``; ``correct`` is
false when any op raised or its output did not match the oracle. The
exit code is 1 when ``correct`` is false or a traced run's own checks
(span reconcile, counter bounds) fail, else 0. Stores, Spark
scratch space and temp files live under ``.perfbench/work`` and are
removed at exit; the full report and, when traced, the spans are kept
under ``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from layers import cpu_ticks, process_tree
from workloads import WORKLOADS, Run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "vector_database_spark")


def host() -> dict:
    """Cores this process may use and a driver heap that leaves room
    for the OS and one Python worker per core (local mode: the driver
    JVM is the only executor)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        info = {k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in f)}
    avail_gb = info.get("MemAvailable", info["MemTotal"]) / 2**20
    heap_gb = int(max(1, min(8, (avail_gb - 2 - 0.5 * cpus) / 2)))
    return {"cpus": cpus, "mem_total_gb": round(info["MemTotal"] / 2**20, 1),
            "mem_available_gb": round(avail_gb, 1), "driver_memory_gb": heap_gb}


def host_ref_ms() -> float:
    """Wall time of a fixed single-thread Python loop: how fast this
    host ran just before the timed loop, to tell a slow host from slow
    code when reading results side by side."""
    t0 = time.perf_counter()
    total = 0
    for i in range(1_000_000):
        total += i * i
    return (time.perf_counter() - t0) * 1e3


def source_id() -> str:
    """The git commit when the checkout has one, else a hash of the
    library's source files, so results name the code they measured."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        return ref
    except OSError:
        h = hashlib.sha256()
        for d, subdirs, files in sorted(os.walk(PACKAGE)):
            subdirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(d, name), "rb") as f:
                        h.update(name.encode() + f.read())
        return "src-" + h.hexdigest()[:16]


def start_spark(h: dict, work: str):
    from vector_database_spark import get_spark

    conf = {
        "spark.driver.memory": f"{h['driver_memory_gb']}g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files, and its perf data out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"
        f" -Dderby.system.home={work}/tmp -XX:-UsePerfData",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{h['cpus']}]",
                      shuffle_partitions=h["cpus"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test only")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE, "api.py")):
        print(f"perfbench: no library at {PACKAGE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would write its perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()

    h = host()
    t_start = time.monotonic()
    steal0, total0 = cpu_ticks()
    spark = start_spark(h, work)
    try:
        import pyspark

        run = Run(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                  args.scale, work)
        run.setup()
        ref_ms = host_ref_ms()
        run.loop()
        run.final_checks()
        if run.trace:
            run.batch_ops()
        metrics = run.per_layer() if run.trace else run.end_to_end()
        attempted, failed = run.attempted_failed()
        context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "scale": args.scale, **h,
                   "spark": pyspark.__version__, "source": source_id(),
                   "cycles": run.cycles, "setup_s": round(run.setup_s, 3),
                   "loop_s": round(run.loop_s, 3), "host_ref_ms": round(ref_ms, 1)}
        steal1, total1 = cpu_ticks()
        # a run whose CPUs were partly given to other machines reads slow
        context["cpu_steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 3)
        lines = [f"context {json.dumps(context)}"] + run.op_report()
        trace_ok, summary = True, None
        if run.trace:
            self_s = run.spans.self_times()
            lines += [f"self {name} {s:.3f} s" for name, s in sorted(self_s.items())]
            line, trace_ok = run.reconcile()
            lines.append(line)
            violations = run.counter_violations(h["cpus"])
            lines += [f"counter check FAILED: {v}" for v in violations]
            trace_ok &= not violations
            summary = run.trace_summary()
            run.spans.write(os.path.join(out_dir, f"spans-{tag}.json"))
        lines += [f"metric {k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
        lines += [f"check {name} {'ok' if ok else 'FAILED'}" for name, ok in run.checks]
        with open(os.path.join(out_dir, f"report-{tag}.json"), "w") as f:
            json.dump({"context": context, "lines": lines, "trace": summary,
                       "samples": run.samples, "checks": run.checks}, f)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(f"wall {time.monotonic() - t_start:.1f} s")
    correct = failed == 0
    if not trace_ok:
        print("perfbench: the traced run's own checks failed (reconcile or counter lines above)")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct and trace_ok else 1


if __name__ == "__main__":
    sys.exit(main())
