"""Check that the benchmark is steady: two sets of runs of the same code.

    python3 perfbench/steady.py --workload serve --runs 10 [--traced 1]

Runs ``perfbench/run.py`` ``--runs`` times per set, each run with its own
seed: the first set on seeds 1..runs, the second on held-out seeds
1001..1000+runs. For every end-to-end metric in BENCHMARK.json it prints
each set's median and quartiles, the spread (third minus first
quartile, over the median) against the metric's bound, and how far the
second median moved from the first, in the metric's worse direction.

``--traced 1`` follows each set's first run with a traced run of the
same seed. The traced run's set-up plus loop, net of the tracing's own
spans (meter and candidate probes), must come within
`RECONCILE_TOLERANCE` of the untraced run's set-up plus loop wall time;
it prints each loop op's traced time and the tracing overhead, which is
the traced run's set-up plus loop minus the untraced one's.

Exits 1 when any run fails or is incorrect, a spread exceeds its bound,
a second median is worse than the first by more than the bound, or a
traced run does not reconcile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HELD_OUT = 1000
# traced work vs untraced wall time: two separate runs, so this also
# absorbs the host's drift between them
RECONCILE_TOLERANCE = 0.15


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed (exit {p.returncode}): {' '.join(cmd)}\n"
                         f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def report(workload: str, seed: int, trace: int) -> dict:
    with open(os.path.join(ROOT, ".perfbench", "out",
                           f"report-{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def reconcile(workload: str, seed: int, label: str) -> bool:
    """Traced work (set-up + loop - tracing spans) vs untraced wall."""
    ctx = report(workload, seed, 0)["context"]
    t = report(workload, seed, 1)["trace"]
    wall = ctx["setup_s"] + ctx["loop_s"]
    off = t["work_s"] / wall - 1
    ok = abs(off) <= RECONCILE_TOLERANCE
    ops = " ".join(f"{op} {s:.2f} s" for op, s in sorted(t["op_s"].items()))
    print(f"{label} traced seed {seed}: set-up {t['setup_s']:.2f} s + loop ops {ops}"
          f" + between calls {t['between_calls_s']:.3f} s; net of tracing"
          f" {t['work_s']:.2f} s vs untraced set-up + loop {wall:.2f} s ({off:+.1%},"
          f" tolerance {RECONCILE_TOLERANCE:.0%}) {'ok' if ok else 'DOES NOT RECONCILE'}")
    print(f"{label} tracing overhead: {t['setup_s'] + t['loop_s'] - wall:+.2f} s over the"
          f" untraced run, of which meter and candidate probes {t['probe_s']:.2f} s")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]
    ok = True
    medians: list[dict] = []
    for s in range(2):
        base = 1 + s * HELD_OUT
        label = f"set {s + 1}"
        results = []
        for i in range(args.runs):
            r = run_once(args.workload, base + i, seconds, 0)
            results.append(r)
            print(f"{label} seed {base + i}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
            ok &= bool(r["correct"]) and r["failed"] == 0
            if args.traced and i == 0:
                run_once(args.workload, base, seconds, 1)
                ok &= reconcile(args.workload, base, label)
        med = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            q1, mid, q3 = statistics.quantiles(
                [r["metrics"][name]["value"] for r in results], n=4)
            spread = (q3 - q1) / mid
            med[name] = mid
            wide = spread > bound
            ok &= not wide
            print(f"{label} {name}: median {mid:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {spread:.3f} bound {bound} ({spread / bound:.2f} of bound) "
                  f"{'TOO WIDE' if wide else 'ok'}")
        medians.append(med)
    for m in metrics:
        name, bound = m["name"], m["bound"]
        a, b = medians[0][name], medians[1][name]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        ok &= worse <= bound
        print(f"second vs first {name}: {a:.4g} -> {b:.4g} (worse by {worse:+.3f},"
              f" bound {bound}) {'ok' if worse <= bound else 'WORSE'}")
    print("STEADY" if ok else "NOT STEADY")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
