#!/usr/bin/env python3
"""Steadiness runner for the graft benchmark.

    python3 perfbench/steady.py --workload curate --runs 10 [--first-seed 1]
                                [--show ann_recall_at_10_min]

Runs one workload `--runs` times, each with another seed, the way the
benchmark is judged: for every end-to-end metric it prints the median
and the spread, the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, next to
the metric's bound from BENCHMARK.json. A spread above a third of the
bound is flagged `WIDE`. Runs whose timed phase saw more than 5 % host
CPU steal are flagged `contaminated`. `--show` adds named report lines
(`metric <name> <value> <unit>` on the run's output) to each run's line.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--show", action="append", default=[])
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    bad = 0
    for i in range(a.runs):
        seed = a.first_seed + i
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        steal = next((l.split()[1] for l in lines if l.startswith("host_steal_pct")), "?")
        flag = " contaminated" if any(l.startswith("noise_guard") for l in lines) else ""
        shown = {l.split()[1]: l.split()[2] for l in lines
                 if l.startswith("metric ") and len(l.split()) > 2 and l.split()[1] in a.show}
        for l in lines:
            if l.startswith("failure"):
                print(f"seed {seed}: {l}")
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: run failed (exit {p.returncode})")
            bad += 1
            continue
        r = json.loads(lines[-1])
        bad += (not r["correct"]) or r["failed"] > 0
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} "
              f"steal={steal}%{flag} " + "".join(f"{k}={v} " for k, v in shown.items()) +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        spread = (q3 - q1) / med if med else float("inf")
        b = bounds.get(k)
        mark = "" if b is None or spread < b / 3 else "  WIDE"
        print(f"{k:20s} median={med:.4g} spread={spread:.3f} bound={b}{mark}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
