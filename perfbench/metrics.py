"""Pure functions that turn one harness record into metrics.

Everything here is deterministic and free of I/O so it can be unit-tested
(`python3 -m unittest discover -s perfbench/tests`). Times in a harness
record are epoch microseconds on one clock.
"""
import bisect
import statistics

# A reported tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail_index(n, beyond=TAIL_BEYOND):
    """Index into ascending samples of the highest order statistic with at
    least `beyond` samples after it, or None when n is too small."""
    return n - 1 - beyond if n > beyond else None


def latency_summary(samples, beyond=TAIL_BEYOND):
    """(median, tail, tail_level, n) of `samples`; the tail is the highest
    percentile that has `beyond` samples beyond it. Raises when the sample
    cannot support such a percentile."""
    xs = sorted(samples)
    i = tail_index(len(xs), beyond)
    if i is None:
        raise ValueError(f"{len(xs)} samples leave fewer than {beyond} beyond any percentile")
    return statistics.median(xs), xs[i], (i + 1) / len(xs), len(xs)


def ack_times(offsets, commits):
    """Map each offset to the time of the first commit covering it.

    `commits` are (time, up_to) pairs of advancing commits, up_to
    exclusive, in commit order (so both fields ascend). An offset no commit
    covers maps to None."""
    ups = [c[1] for c in commits]
    out = {}
    for o in offsets:
        k = bisect.bisect_right(ups, o)
        out[o] = commits[k][0] if k < len(commits) else None
    return out


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi)."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    its child spans cover."""
    kids = {}
    for s in spans:
        if s.get("parent"):
            kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered(kids.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def self_time_by_layer(spans, w0, w1):
    """Layer -> summed self time (µs) of the spans that start in [w0, w1).
    A span's layer is the first dotted component of its name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if w0 <= s["start_us"] < w1:
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0) + st[s["id"]]
    return out


def select_queries(survey, k, min_wall_s, score):
    """Deterministic query subset: among queries that repeated their hash
    across every survey run without error and took at least `min_wall_s`,
    the `k` with the highest `score(stats)`, ties broken by name.

    `survey` maps query -> list of per-run stats dicts, each with `hash`,
    `error` and `wall_s` plus whatever `score` reads."""
    eligible = []
    for name, runs in survey.items():
        if not runs:
            continue
        if any(r.get("error") for r in runs) or len({r["hash"] for r in runs}) != 1:
            continue
        if statistics.median(r["wall_s"] for r in runs) < min_wall_s:
            continue
        eligible.append((-statistics.median(score(r) for r in runs), name))
    return [name for _, name in sorted(eligible)[:k]]

