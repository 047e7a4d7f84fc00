#!/usr/bin/env python3
"""Steadiness mode: run every workload of BENCHMARK.json in two sets of
ten seeded runs on the same code and report, per end-to-end metric,
whether the sets agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--seed 100]

Set k uses seeds ``seed + 10*k .. seed + 10*k + 9`` and BENCHMARK.json's
``run_seconds``.  A metric agrees when each set's quartile spread,
(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``, is within
its bound and the two medians differ by at most the bound, in either
direction: |m2 - m1| / min(m1, m2).  Each run's result line is appended
to ``.perfbench_out/steady-runs.jsonl``; the verdict goes to stdout and
``.perfbench_out/steady.json``.  Exits 1 when any metric disagrees.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = 10
SETS = 2


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def shift(a: float, b: float) -> float:
    """Relative difference of two medians, the same in either order."""
    return abs(b - a) / min(a, b)


def run_one(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
    return {"workload": workload, "seed": seed, "rc": proc.returncode,
            "wall_s": round(time.time() - t0, 1), "result": res}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=100)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    verdict, ok_all = {}, True
    for name in [w["name"] for w in spec["workloads"]]:
        sets = []
        for k in range(SETS):
            runs = []
            for i in range(RUNS):
                r = run_one(name, args.seed + k * RUNS + i,
                            spec["run_seconds"])
                with open(os.path.join(out_dir, "steady-runs.jsonl"), "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                runs.append(r)
            sets.append(runs)
        rows = {}
        for m in spec["end_to_end"]:
            vals = [[r["result"]["metrics"][m["name"]]["value"] for r in runs
                     if r["result"].get("correct")] for runs in sets]
            if any(len(v) < 4 for v in vals):
                rows[m["name"]] = {"agree": False, "why": "too few correct runs"}
                ok_all = False
                continue
            spreads = [spread(v) for v in vals]
            meds = [statistics.median(v) for v in vals]
            moved = shift(*meds)
            agree = all(x <= m["bound"] for x in spreads + [moved])
            ok_all &= agree
            rows[m["name"]] = {"agree": agree, "bound": m["bound"],
                               "medians": meds, "spreads": spreads,
                               "shift": moved}
            print(f"{name:20s} {m['name']:12s} "
                  f"medians={['%.4g' % x for x in meds]} "
                  f"spreads={['%.3f' % x for x in spreads]} "
                  f"shift={moved:.3f} "
                  f"bound={m['bound']} {'agree' if agree else 'DISAGREE'}")
        failed = sum(1 for runs in sets for r in runs
                     if not r["result"].get("correct"))
        verdict[name] = {"metrics": rows, "incorrect_runs": failed,
                         "wall_s": [r["wall_s"] for runs in sets for r in runs]}
        ok_all &= failed == 0
    with open(os.path.join(out_dir, "steady.json"), "w") as fh:
        json.dump(verdict, fh, indent=1)
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
