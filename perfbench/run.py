#!/usr/bin/env python3
"""Benchmark of the streaming runner and the query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program with its
own sbt build, then the harness in perfbench/harness, and generates the
sf0.1 tables with graft.DataGen; all of it lands in the build directory
($CARGO_TARGET_DIR, default .bench_build) and is reused while the sources
are unchanged. Each run launches one harness JVM, checks its outputs and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. A run whose load was not what the workload promises is
reported as invalid (exit 3) instead of as numbers. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import metrics as M  # noqa: E402

WORKLOADS = {
    "stream_backlog": "stream_backlog",
    "registry_driver": "registry",
}
SF = "0.1"
DATAGEN_CPUS = "4"  # fixed, so the generated files do not depend on the box
JVM_HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

class Invalid(Exception):
    """The run did not apply the promised load; it reports no numbers."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


# ---------------------------------------------------------------- build

def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob("*") if p.is_file() and "target" not in p.relative_to(base).parts)
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt(cwd, args, env_extra, log_path):
    env = dict(os.environ, COURSIER_MODE="offline", **env_extra)
    tmp = log_path.parent / "tmp"
    tmp.mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(log_path, "w") as f:
        p = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", *args], cwd=cwd,
                           env=env, stdout=subprocess.PIPE, stderr=f, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"sbt failed in {cwd} (log: {log_path})\n{p.stdout[-2000:]}")
    return [line for line in p.stdout.splitlines() if line and not line.startswith("[")]


def ensure_built(bd):
    """Compile the program and the harness, generate the tables; each step
    is skipped while its inputs are unchanged. Returns the run classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("program sources not found: run from the root of a checkout")
    bd.mkdir(parents=True, exist_ok=True)
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               ROOT / "src" / "main", HERE / "harness"]
    stamp = tree_digest([p for p in sources if p.exists()])
    cp_file, stamp_file = bd / "classpath.txt", bd / "build.stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file()):
        log("building the program")
        out = sbt(ROOT, ["compile", "export Runtime/fullClasspath", "export scalaVersion"], {},
                  bd / "sbt-program.log")
        program_cp, scala_version = out[-2], out[-1]
        log("building the harness")
        out = sbt(HERE / "harness", ["compile", "export Compile/classDirectory"],
                  {"PERFBENCH_PROGRAM_CP": program_cp, "PERFBENCH_SCALA_VERSION": scala_version},
                  bd / "sbt-harness.log")
        cp_file.write_text(os.pathsep.join([out[-1], program_cp]))
        stamp_file.write_text(stamp)
    cp = cp_file.read_text().strip()

    data = bd / "data" / f"sf{SF}"
    data_stamp = tree_digest([ROOT / "src" / "main" / "scala" / "graft" / "DataGen.scala"])
    data_stamp_file = bd / "data" / "stamp"
    if not (data_stamp_file.is_file() and data_stamp_file.read_text() == data_stamp):
        log(f"generating sf{SF} tables")
        shutil.rmtree(bd / "data", ignore_errors=True)
        tmp = bd / "data" / "tmp"
        tmp.mkdir(parents=True)
        with open(bd / "datagen.log", "w") as f:
            subprocess.run(java_cmd(cp, tmp, ["graft.DataGen", SF, str(data)]), cwd=ROOT,
                           env=dict(os.environ, SPARK_GRAFT_CPUS=DATAGEN_CPUS,
                                    SPARK_LOCAL_DIRS=str(tmp)),
                           stdout=f, stderr=f, check=True, timeout=600)
        shutil.rmtree(tmp)
        data_stamp_file.write_text(data_stamp)
    return cp, data


def java_cmd(cp, tmp, main_args):
    return ["java", *ADD_OPENS, JVM_HEAP, "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, *main_args]


# ------------------------------------------------------------------ run

def load_queries():
    return json.loads((HERE / "queries.json").read_text())


def run_harness(cp, bd, jvm_workload, seed, seconds, trace, data, queries):
    runs = bd / "runs"
    tmp = runs / f"{jvm_workload}-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    out = tmp / "record.json"
    args = ["perfbench.Harness", "--workload", jvm_workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--tmp", str(tmp), "--out", str(out), "--data", str(data)]
    if queries:
        args += ["--queries", ",".join(queries)]
    log_path = bd / "logs" / f"{jvm_workload}-{seed}-trace{int(trace)}.log"
    log_path.parent.mkdir(exist_ok=True)
    try:
        with open(log_path, "w") as f:
            p = subprocess.run(java_cmd(cp, tmp, args), cwd=ROOT, stdout=f, stderr=f,
                               env=dict(os.environ, SPARK_LOCAL_DIRS=str(tmp / "spark-local")),
                               timeout=RUN_TIMEOUT_S)
        if p.returncode != 0 or not out.is_file():
            raise SystemExit(f"harness failed with code {p.returncode} (log: {log_path})")
        return json.loads(out.read_text())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -------------------------------------------------------------- metrics

def stream_end_to_end(rec):
    w0, w1 = rec["window_us"]
    commits = rec["bus"]["commits"]
    # one sample per pull: a read call's return to the commit covering it
    starts = [(lo, t) for t, lo, hi in rec["bus"]["reads"] if w0 <= t < w1 and hi > lo]
    acks = M.ack_times([o for o, _ in starts], commits)
    # a pull never acked counts as missing any limit: it waits to the end of
    # the drain wait, whether that wait succeeded or timed out
    end_us = rec["drain_end_us"]
    lat = [((acks[o] if acks[o] is not None else end_us) - t) / 1000.0 for o, t in starts]
    p50, tail, level, n = M.latency_summary(lat)

    def acked_by(us):
        return max([up for t, up in commits if t < us], default=0)

    done = acked_by(w1) - acked_by(w0)
    return {"latency_p50_ms": p50, "latency_tail_ms": tail,
            "throughput_per_s": done / ((w1 - w0) / 1e6)}, {"samples": n, "tail_level": level}


def registry_end_to_end(rec):
    per_query = {}
    for r in rec["runs"]:
        if r["pass"] >= 1:
            per_query.setdefault(r["query"], []).append(r["wall_s"])
    walls = [min(v) for v in per_query.values()]
    ms = [w * 1000.0 for w in walls]
    if M.tail_index(len(ms)) is None:
        # one sample per query is too few for a percentile with ten beyond
        # it: the tail is the slowest query, a worst case
        p50, tail, level, n = statistics.median(ms), max(ms), 1.0, len(ms)
    else:
        p50, tail, level, n = M.latency_summary(ms)
    return {"latency_p50_ms": p50, "latency_tail_ms": tail,
            "throughput_per_s": len(walls) / sum(walls)}, {"samples": n, "tail_level": level}


def stream_outcome(rec):
    """(attempted, failed) of a stream run. Every message pulled inside the
    window must be acked by the end of the drain wait; one that is not is a
    failure, as is each output-check finding."""
    never_acked = max(0, rec["drain_target"] - rec["acked"])
    return (max(rec["acked"], rec["drain_target"]),
            sum(rec["check"].values()) + never_acked)


def end_to_end(rec):
    e2e, info = (stream_end_to_end if rec["kind"] == "stream" else registry_end_to_end)(rec)
    # the first set-up runs from JVM start; setup_s is the median of the
    # warm ones after it (a fresh session, runner and probe each)
    e2e["setup_s"] = statistics.median(rec["setup_s"][1:])
    e2e["live_heap_mb"] = rec["live_heap_mb"]
    return e2e, info


def check_valid(rec):
    if rec["kind"] != "stream":
        return
    w0, w1 = rec["window_us"]
    bulk = rec["bulk_limit"]
    in_window = [b for t, b in rec["backlog"] if w0 <= t < w1]
    if min(in_window) < bulk:
        raise Invalid(f"backlog ran dry: {min(in_window)} queued < bulk limit {bulk}")


def check_registry(rec, frozen):
    bad = [r for r in rec["runs"] if r["error"] or r["hash"] != frozen[r["query"]]]
    for r in bad:
        log(f"{r['query']} pass {r['pass']}: {r['error'] or 'hash ' + str(r['hash'])}")
    return len(rec["runs"]), len(bad)


def spark_spans(rec):
    spark = rec.get("spark", {})
    spans = [{"id": f"job:{j['id']}", "name": "spark.job", "start_us": j["start_us"],
              "end_us": j["end_us"], "parent": j["parent"]}
             for j in spark.get("jobs", []) if j["end_us"] >= 0]
    spans += [{"id": f"task:{t['id']}", "name": "spark.task", "start_us": t["start_us"],
               "end_us": t["end_us"], "parent": f"job:{t['job']}"} for t in spark.get("tasks", [])]
    spans += [{"id": f"batch:{b['batch']}", "name": "streaming.batch", "start_us": b["start_us"],
               "end_us": b["start_us"] + 1000 * b["duration_ms"].get("triggerExecution", 0),
               "parent": None} for b in rec.get("progress", [])]
    return spans


STREAM_PHASES = ["latestOffset", "queryPlanning", "walCommit", "addBatch", "commitOffsets",
                 "triggerExecution"]
VERBS = ["endOffset", "read", "publishBatch", "commit"]
LAYERS = ["sources", "streaming", "spark", "operators", "catalyst", "exec", "registry"]


def per_layer(rec, e2e, info):
    w0, w1 = rec["window_us"]
    win_s = (w1 - w0) / 1e6
    stream = rec["kind"] == "stream"
    passes = 1 if stream else max(r["pass"] for r in rec["runs"])
    m = {}
    inw = (lambda t: w0 <= t < w1)
    spans = rec["spans"] + spark_spans(rec)

    calls = {v: [s for s in rec["spans"] if s["name"] == f"sources.{v}" and inw(s["start_us"])]
             for v in VERBS}
    batches = [b for b in rec.get("progress", []) if inw(b["start_us"]) and b["rows"] > 0]
    for v in VERBS:
        m[f"sources.{v}.calls"] = len(calls[v])
        m[f"sources.{v}.ms"] = sum(s["end_us"] - s["start_us"] for s in calls[v]) / 1000.0
    for v in ("read", "publishBatch"):
        m[f"sources.{v}.msgs_per_call"] = (sum(s["items"] for s in calls[v]) / len(calls[v])
                                           if calls[v] else 0.0)
    useful = sum(1 for t, _ in rec["bus"]["commits"] if inw(t)) if stream else 0
    m["sources.commit.useful_ratio"] = useful / len(calls["commit"]) if calls["commit"] else 0.0
    m["sources.endOffset.calls_per_batch"] = (len(calls["endOffset"]) / len(batches)
                                              if batches else 0.0)
    m["sources.backlog.max"] = max([b for t, b in rec.get("backlog", []) if inw(t)], default=0)
    m["sources.errors"] = rec["bus"]["errors"] if stream else 0

    m["streaming.batches"] = len(batches)
    m["streaming.rows_per_batch"] = (sum(b["rows"] for b in batches) / len(batches)
                                     if batches else 0.0)
    for ph in STREAM_PHASES:
        m[f"streaming.{ph}.ms_per_batch"] = (sum(b["duration_ms"].get(ph, 0) for b in batches)
                                             / len(batches) if batches else 0.0)
    busy = M.covered([(b["start_us"], b["start_us"] + 1000 * b["duration_ms"].get("triggerExecution", 0))
                      for b in batches], w0, w1)
    m["streaming.idle.ms"] = (w1 - w0 - busy) / 1000.0 if stream else 0.0
    lags = []
    if stream:
        commits = rec["bus"]["commits"]
        for b in batches:
            end = b["start_us"] + 1000 * b["duration_ms"].get("triggerExecution", 0)
            t = M.ack_times([int(b["end_offset"]) - 1], commits)[int(b["end_offset"]) - 1]
            if t is not None:
                lags.append((t - end) / 1000.0)
    m["streaming.ack_lag.ms"] = statistics.mean(lags) if lags else 0.0

    runs = [] if stream else [r for r in rec["runs"] if r["pass"] >= 1]
    jobs = [j for j in rec.get("spark", {}).get("jobs", []) if inw(j["start_us"])]
    m["operators.build.s"] = sum(r["build_s"] for r in runs) / passes
    m["operators.build.jobs"] = sum(1 for j in jobs if (j["parent"] or "").startswith("build:")) / passes
    tables = [j for j in jobs if "Tables.scala" in (j["call_site"] or "")]
    m["tables.jobs"] = len(tables) / passes
    m["tables.s"] = sum(max(0, j["end_us"] - j["start_us"]) for j in tables) / 1e6 / passes
    m["catalyst.plan.s"] = sum(r["plan_s"] for r in runs) / passes
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}.s"] = sum(r["phases_ms"].get(ph, 0) for r in runs) / 1000.0 / passes
    m["exec.s"] = sum(r["exec_s"] for r in runs) / passes

    tasks = [t for t in rec.get("spark", {}).get("tasks", []) if inw(t["end_us"])]
    stages = [s for s in rec.get("spark", {}).get("stages", []) if inw(s[2])]
    m["spark.jobs"] = len(jobs) / passes
    m["spark.stages"] = len(stages) / passes
    m["spark.tasks"] = len(tasks) / passes
    run_s = sum(t["run_ms"] for t in tasks) / 1000.0
    m["spark.task.s"] = run_s / passes
    m["spark.task_cpu.s"] = sum(t["cpu_ns"] for t in tasks) / 1e9 / passes
    m["spark.gc.s"] = sum(t["gc_ms"] for t in tasks) / 1000.0 / passes
    m["spark.sched_delay.s"] = sum(t["sched_ms"] for t in tasks) / 1000.0 / passes
    for key, field in (("input", "input_b"), ("shuffle_read", "shuffle_read_b"),
                       ("shuffle_write", "shuffle_write_b"), ("spill", "spill_b")):
        m[f"spark.{key}.bytes"] = sum(t[field] for t in tasks) / passes
    m["spark.core_busy_ratio"] = run_s / (win_s * rec["cores"])

    by_layer = M.self_time_by_layer(spans, w0, w1)
    for layer in LAYERS:
        m[f"self.{layer}.s"] = by_layer.get(layer, 0) / 1e6 / passes

    m["setup.cold_s"] = rec["setup_s"][0]
    m["e2e.samples"] = info["samples"]
    m["e2e.tail_level"] = info["tail_level"]
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    return m


def units(kind):
    """Name -> unit of the metrics BENCHMARK.json lists under `kind`: the
    result line carries exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {x["name"]: x["unit"] for x in spec[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bd = build_dir()
    cp, data = ensure_built(bd)
    frozen = load_queries().get(a.workload, {}) if WORKLOADS[a.workload] == "registry" else {}
    order = sorted(frozen)
    random.Random(a.seed).shuffle(order)
    rec = run_harness(cp, bd, WORKLOADS[a.workload], a.seed, a.seconds, a.trace, data, order)
    rec["workload"] = a.workload
    try:
        check_valid(rec)
    except Invalid as e:
        log(f"invalid run: {e}")
        return 3
    if rec["kind"] == "stream":
        attempted, failed = stream_outcome(rec)
        if failed:
            log(f"output check failed: {rec['check']}; pulled in the window "
                f"{rec['drain_target']}, acked {rec['acked']}")
    else:
        attempted, failed = check_registry(rec, frozen)
    e2e, info = end_to_end(rec)
    if a.trace:
        values, unit = per_layer(rec, e2e, info), units("per_layer")
        trace_dir = bd / "traces"
        trace_dir.mkdir(exist_ok=True)
        (trace_dir / f"{a.workload}-seed{a.seed}.json").write_text(json.dumps(
            {"metrics": values, "spans": rec["spans"] + spark_spans(rec)}))
    else:
        values, unit = e2e, units("end_to_end")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in unit.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
