#!/usr/bin/env python3
"""Record one point of the benchmark's trajectory.

    python3 perfbench/trajectory.py --label NAME --untraced SPREAD.json
                                    [--seeds 3] [--first-seed 101] [--note TEXT]

SPREAD.json is the --out file of `spread.py` (untraced runs of every
workload). This runs each workload --seeds more times with --trace 1, takes
the median of every per-layer metric, computes the tracing overhead (median
traced end-to-end value minus median untraced value, per workload), appends
the point to trajectory.json and rewrites TRAJECTORY.md from all points.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TRAJ = HERE / "trajectory.json"


def medians(runs):
    ok = [r for r in runs if "metrics" in r]
    return {k: statistics.median(r["metrics"][k]["value"] for r in ok) for k in ok[0]["metrics"]}


def render(points, spec):
    e2e = [m["name"] for m in spec["end_to_end"]]
    lines = ["# Benchmark trajectory", "",
             "Generated by `perfbench/trajectory.py` from `trajectory.json`; one section",
             "per recorded point, oldest first. Values are medians over the runs named.", ""]
    for p in points:
        lines += [f"## {p['label']}", "", p.get("note", ""), ""]
        wls = list(p["untraced"])
        lines += ["End to end, untraced, and tracing overhead (traced − untraced):", "",
                  "| metric | " + " | ".join(wls) + " |", "|---" * (len(wls) + 1) + "|"]
        for m in e2e:
            cells = []
            for w in wls:
                u, o = p["untraced"][w].get(m), p["overhead"][w].get(m)
                cells.append(f"{u:.4g} ({o:+.3g})" if u is not None and o is not None else "")
            lines.append(f"| `{m}` | " + " | ".join(cells) + " |")
        lines += ["", "Per layer, traced:", "",
                  "| metric | " + " | ".join(wls) + " |", "|---" * (len(wls) + 1) + "|"]
        for m in [x["name"] for x in spec["per_layer"]]:
            if m.startswith("traced."):
                continue
            vals = [p["per_layer"][w].get(m) for w in wls]
            if all(not v for v in vals):
                continue
            lines.append(f"| `{m}` | " + " | ".join("" if v is None else f"{v:.4g}" for v in vals) + " |")
        lines.append("")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--label", required=True)
    ap.add_argument("--untraced", required=True)
    ap.add_argument("--seeds", type=int, default=3)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--note", default="")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    untraced = json.loads(Path(a.untraced).read_text())
    point = {"label": a.label, "note": a.note, "untraced": {}, "per_layer": {}, "overhead": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        traced = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w, "--seed",
                                str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "1"],
                               cwd=ROOT, capture_output=True, text=True)
            if p.returncode == 0:
                traced.append(json.loads(p.stdout.strip().splitlines()[-1]))
            else:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-1500:]}", file=sys.stderr)
        pl, un = medians(traced), medians(untraced[w])
        point["per_layer"][w] = pl
        point["untraced"][w] = un
        point["overhead"][w] = {k: pl[f"traced.{k}"] - un[k] for k in un if f"traced.{k}" in pl}
        print(f"{w}: {len(traced)} traced runs", file=sys.stderr)
    points = json.loads(TRAJ.read_text()) if TRAJ.is_file() else []
    points.append(point)
    TRAJ.write_text(json.dumps(points, indent=1) + "\n")
    (HERE / "TRAJECTORY.md").write_text(render(points, spec) + "\n")


if __name__ == "__main__":
    main()
