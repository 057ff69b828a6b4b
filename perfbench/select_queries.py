#!/usr/bin/env python3
"""Freeze the registry_driver query list and hashes into queries.json.

    python3 perfbench/select_queries.py [--k 4] [--min-wall 0.3] [--survey FILE]

Runs the whole registry twice with tracing on (one warm and one timed pass
each, the same forcing as the benchmark) and keeps the queries whose forced
hash repeated across all four executions without error and whose timed
wall was at least --min-wall seconds. Of those it takes the k with the
highest build share of wall time (the registry function itself: eager jobs,
driver loops).

The survey is written to survey.json; each entry also carries the query's
executor-busy share (task time / (wall x cores)). --survey re-derives the
choice from a saved survey without running one. Run this only to redefine
the workload; the benchmark itself never re-selects.
"""
import argparse
import json
import statistics

import run
import metrics as M


def survey_stats(rec):
    """Query -> list of per-execution stats from one survey record."""
    task_ms = {}
    jobs = {j["id"]: j["parent"] for j in rec["spark"]["jobs"]}
    for t in rec["spark"]["tasks"]:
        parent = jobs.get(t["job"]) or ""
        if ":" in parent and "#" in parent:
            key = parent.split(":", 1)[1]
            task_ms[key] = task_ms.get(key, 0) + t["run_ms"]
    out = {}
    for r in rec["runs"]:
        key = f"{r['query']}#{r['pass']}"
        busy = task_ms.get(key, 0) / 1000.0 / (max(r["wall_s"], 1e-9) * rec["cores"])
        out.setdefault(r["query"], []).append({
            "pass": r["pass"], "hash": r["hash"], "error": r["error"], "wall_s": r["wall_s"],
            "build_s": r["build_s"], "exec_busy": busy})
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=4)
    ap.add_argument("--min-wall", type=float, default=0.3)
    ap.add_argument("--survey", help="reuse a survey file instead of running one")
    a = ap.parse_args()
    if a.survey:
        survey = json.load(open(a.survey))
    else:
        bd = run.build_dir()
        cp, data = run.ensure_built(bd)
        run.RUN_TIMEOUT_S = 1800
        survey = {}
        for seed in (1, 2):
            rec = run.run_harness(cp, bd, "registry", seed, 0, True, data, [])
            for q, stats in survey_stats(rec).items():
                survey.setdefault(q, []).extend(stats)
            run.log(f"survey pass {seed} done")
    timed = {q: [s for s in v if s["pass"] >= 1] or v for q, v in survey.items()}
    # determinism is judged over every execution, warm passes included
    deterministic = {q: v for q, v in survey.items()
                     if not any(s["error"] for s in v) and len({s["hash"] for s in v}) == 1}
    pool = {q: timed[q] for q in deterministic}
    driver = M.select_queries(pool, a.k, a.min_wall, lambda s: s["build_s"] / s["wall_s"])
    out = {
        "rule": {"k": a.k, "min_wall_s": a.min_wall,
                 "registry_driver": "highest build_s / wall_s"},
        "registry_driver": {q: deterministic[q][0]["hash"] for q in driver},
    }
    (run.HERE / "queries.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    if not a.survey:
        # one line per query keeps the file reviewable
        (run.HERE / "survey.json").write_text("{\n" + ",\n".join(
            f"{json.dumps(q)}: {json.dumps(survey[q], sort_keys=True)}" for q in sorted(survey))
            + "\n}\n")
    wall = sum(statistics.median(r["wall_s"] for r in timed[q]) for q in driver)
    run.log(f"registry_driver: {len(driver)} queries, {wall:.1f} s per timed pass: "
            f"{', '.join(driver)}")

if __name__ == "__main__":
    main()
