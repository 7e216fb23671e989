"""Metric arithmetic: medians and percentiles, slopes, stage self time,
inclusive span counters.

Kept apart from run.py so the tests can check it on hand-made spans.
"""
import math

# Spark counters recorded for every span (Trace.scala, Counters.Names).
COUNTERS = ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
            "gc_ms", "scheduler_delay_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_bytes", "task_failures"]


def median(xs):
    xs = sorted(x for x in xs if x is not None and not math.isnan(x))
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100)."""
    xs = sorted(x for x in xs if x is not None and not math.isnan(x))
    if not xs:
        return 0.0
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def slope(x0, y0, x1, y1):
    """Cost per unit between two measurements (per iteration, per round)."""
    return (y1 - y0) / float(x1 - x0) if x1 != x0 else 0.0


def self_times(stage_ms):
    """Stages listed in pipeline order, each measured inclusive of the
    stages before it: each stage's own share is its time minus the
    previous stage's."""
    out, prev = {}, 0.0
    for name, ms in stage_ms:
        out[name] = ms - prev
        prev = ms
    return out


def inclusive(spans):
    """Each span's counters plus those of all its descendants, by span id."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    by_id = {s["id"]: s for s in spans}
    memo = {}

    def total(i):
        if i not in memo:
            acc = {c: by_id[i].get(c, 0) for c in COUNTERS}
            for k in kids.get(i, []):
                for c, v in total(k).items():
                    acc[c] += v
            memo[i] = acc
        return memo[i]

    return {s["id"]: total(s["id"]) for s in spans}
