#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 10] [--first-seed 1]
                                [--trace 0|1] [--out FILE]

For every workload and metric: the median over the runs and the spread,
(Q3 - Q1) / median with quartiles from statistics.quantiles(values, n=4),
next to the metric's bound from BENCHMARK.json. Every run's JSON line is
kept in --out, so two sets of runs can be compared later.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    results = {}
    for w in a.workloads.split(","):
        runs = results.setdefault(w, [])
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not line:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}", file=sys.stderr)
                runs.append({"seed": seed, "exit": p.returncode})
                continue
            r = json.loads(line)
            r["seed"] = seed
            runs.append(r)
            print(f"{w} seed {seed}: correct={r['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                if not a.trace or k.startswith("traced.")), file=sys.stderr)
        ok = [r for r in runs if "metrics" in r]
        for name in (ok[0]["metrics"] if ok else []):
            vals = [r["metrics"][name]["value"] for r in ok]
            if len(vals) >= 2 and (a.trace == 0 or name.startswith("traced.")):
                b = bounds.get(name)
                print(f"{w:16s} {name:24s} median {statistics.median(vals):12.4f} "
                      f"spread {spread(vals):6.3f}" + (f"  bound {b} (1/3: {b / 3:.3f})" if b else ""))
    if a.out:
        Path(a.out).write_text(json.dumps(results, indent=1) + "\n")


if __name__ == "__main__":
    main()
