"""Smoke test: every workload once at tiny size, traced and untraced.

    python3 perfbench/smoke.py

Checks that each run exits 0, that its last line is one JSON object with
exactly ``correct``, ``attempted``, ``failed`` and ``metrics``, that the
metrics are exactly BENCHMARK.json's end-to-end (untraced) or per-layer
(traced) names with their units and finite values, and that every op
output matched the oracle. Also checks that the benchmark refuses to run
without the library beside it. Exits 1 on the first mismatch.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(spec: dict, workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} trace={trace}"
    if p.returncode != 0:
        raise SystemExit(f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{where}: result keys {sorted(out)}")
    if not (isinstance(out["attempted"], int) and isinstance(out["failed"], int)
            and out["attempted"] >= 1):
        raise SystemExit(f"{where}: attempted/failed {out['attempted']}/{out['failed']}")
    if out["correct"] is not True or out["failed"] != 0:
        raise SystemExit(f"{where}: incorrect output\n{p.stdout[-3000:]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != want:
        raise SystemExit(f"{where}: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}, "
                         f"units {[k for k in want if k in got and want[k] != got[k]]}")
    bad = [k for k, v in out["metrics"].items()
           if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if bad:
        raise SystemExit(f"{where}: non-numeric values {bad}")
    print(f"ok {where}: {len(got)} metrics, attempted {out['attempted']}")


def check_refuses_without_library() -> None:
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, capture_output=True, text=True, timeout=180)
        if p.returncode == 0 or p.stdout.strip():
            raise SystemExit(f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    print("ok refuses to run without the library")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    check_refuses_without_library()
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    print("SMOKE OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
