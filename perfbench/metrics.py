"""Metric arithmetic for the scragspark benchmark.

Pure functions over what the harness JVM records (samples, operation
counts, spans, task and planning records), kept apart from the launcher
so they can be unit-tested (see test_metrics.py).
"""

import math
import statistics

# The percentile ladder the reporting rule walks, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

# Phase spans and the short key their per-layer metrics use. Each traced
# run is one workload, so the key needs no workload prefix.
PHASES = {
    "crawl_extract.unit": "unit",
    "rag_serve.build": "build",
    "near_dup_clusters.pairs": "pairs",
    "near_dup_clusters.keep_best": "keep_best",
    "crawl_extract.query": "query",
    "rag_serve.query": "query",
}
PHASE_KEYS = ("unit", "build", "query", "pairs", "keep_best")
PHASE_METRICS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("task_gc_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("plan_ms", "ms"), ("straggler_ratio", "ratio"), ("core_util", "ratio"),
    ("idle_s", "s"), ("jvm_gc_ms", "ms"), ("jvm_gc_count", "count"),
)


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def nearest_rank(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Returns (value, samples beyond it)."""
    s = sorted(values)
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    rank = max(1, math.ceil(round(p * len(s) / 100.0, 9)))
    return s[rank - 1], len(s) - rank


def highest_percentile(values):
    """The highest percentile of the ladder with at least ten samples
    beyond it, as (p, value); None when even the median has fewer."""
    for p in PERCENTILES:
        value, beyond = nearest_rank(values, p)
        if beyond >= MIN_BEYOND:
            return p, value
    return None


def scaling_eff(rate_n, rate_1, n):
    """Throughput at n threads over n times the one-thread throughput."""
    return rate_n / (n * rate_1)


def pass_rates(rates, n):
    """From the batch passes' records ({"round", "threads", "docs_per_s"}),
    the n-thread rates and the scaling_eff of every round that has a pass
    at both n threads and one thread, in round order."""
    by_level = {(r["round"], r["threads"]): r["docs_per_s"] for r in rates}
    rounds = sorted({r["round"] for r in rates})
    full = [by_level[(k, n)] for k in rounds if (k, n) in by_level]
    effs = [scaling_eff(by_level[(k, n)], by_level[(k, 1)], n)
            for k in rounds if (k, n) in by_level and (k, 1) in by_level]
    return full, effs


def failed_frac(ops):
    """Failed over attempted, summed over operation kinds. ops maps a
    kind to {"attempted": a, "failed": f}; failures stay counted."""
    attempted = sum(o["attempted"] for o in ops.values())
    failed = sum(o["failed"] for o in ops.values())
    return attempted, failed, (failed / attempted if attempted else 1.0)


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span_id -> duration minus the part of it its children cover
    (overlapping children are counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["span_id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["span_id"]] = dur - union_length(kids, s["start_ms"], s["end_ms"])
    return out


def coverage(spans, root_name):
    """Share of the root spans' wall clock that the self times of the
    spans below them cover."""
    selfs = self_times(spans)
    by_id = {s["span_id"]: s for s in spans}
    roots = {s["span_id"] for s in spans if s["name"] == root_name and s["parent"] == 0}
    wall = sum(by_id[r]["end_ms"] - by_id[r]["start_ms"] for r in roots)

    def root_of(s):
        while s["parent"] != 0:
            s = by_id[s["parent"]]
        return s["span_id"]

    covered = sum(selfs[s["span_id"]] for s in spans
                  if s["span_id"] not in roots and root_of(s) in roots)
    return covered / wall if wall else 0.0


def _phase_of(spans):
    """span_id -> id of the nearest enclosing phase span (or None)."""
    by_id = {s["span_id"]: s for s in spans}
    out = {}
    for s in spans:
        cur = s
        while cur is not None and cur["name"] not in PHASES:
            cur = by_id.get(cur["parent"])
        out[s["span_id"]] = cur["span_id"] if cur is not None else None
    return out


def _innermost(spans, t):
    best = None
    for s in spans:
        if s["start_ms"] <= t <= s["end_ms"] and (best is None or s["start_ms"] >= best["start_ms"]):
            best = s
    return best


def phase_metrics(spans, tasks, jobs, stages, plans, default_cores):
    """Per-phase Spark and JVM metrics, each a mean per phase instance
    (ratios over the phase's totals). Phases absent from the run read 0."""
    phase_of = _phase_of(spans)
    by_id = {s["span_id"]: s for s in spans}
    inst = {}  # phase span id -> accumulators
    for s in spans:
        if s["name"] in PHASES:
            inst[s["span_id"]] = {"tasks": [], "jobs": 0, "stages": 0, "plan_ms": 0.0}

    def target(group):
        if not group:
            return None
        p = phase_of.get(int(group))
        return inst.get(p) if p is not None else None

    for t in tasks:
        a = target(t["group"])
        if a is not None:
            a["tasks"].append(t)
    for j in jobs:
        a = target(j["group"])
        if a is not None:
            a["jobs"] += 1
    for st in stages:
        a = target(st["group"])
        if a is not None:
            a["stages"] += 1
    for p in plans:
        s = _innermost(spans, p["start_ms"])
        if s is not None and phase_of[s["span_id"]] is not None:
            inst[phase_of[s["span_id"]]]["plan_ms"] += p["plan_ms"]

    out = {}
    for key in PHASE_KEYS:
        ids = [i for i in inst if PHASES[by_id[i]["name"]] == key]
        vals = {m: 0.0 for m, _ in PHASE_METRICS}
        if ids:
            n = len(ids)
            ts = [t for i in ids for t in inst[i]["tasks"]]

            def total(field, scale=1.0):
                return sum(t.get(field, 0) for t in ts) * scale

            run_s = total("run_ms", 1e-3)
            capacity = sum((by_id[i]["end_ms"] - by_id[i]["start_ms"]) / 1e3 *
                           by_id[i].get("cores", default_cores) for i in ids)
            idle = 0.0
            for i in ids:
                s = by_id[i]
                busy = union_length([(t["launch_ms"], t["finish_ms"]) for t in inst[i]["tasks"]],
                                    s["start_ms"], s["end_ms"])
                idle += (s["end_ms"] - s["start_ms"] - busy) / 1e3
            vals.update({
                "jobs": sum(inst[i]["jobs"] for i in ids) / n,
                "stages": sum(inst[i]["stages"] for i in ids) / n,
                "tasks": len(ts) / n,
                "exec_run_s": run_s / n,
                "exec_cpu_s": total("cpu_ns", 1e-9) / n,
                "task_gc_s": total("gc_ms", 1e-3) / n,
                "shuffle_write_mb": total("shuffle_write_b", 2 ** -20) / n,
                "shuffle_read_mb": total("shuffle_read_b", 2 ** -20) / n,
                "spill_mb": total("spill_b", 2 ** -20) / n,
                "plan_ms": sum(inst[i]["plan_ms"] for i in ids) / n,
                "straggler_ratio": straggler_ratio(ts),
                "core_util": run_s / capacity if capacity else 0.0,
                "idle_s": idle / n,
                "jvm_gc_ms": sum(by_id[i].get("jvm_gc_ms", 0) for i in ids) / n,
                "jvm_gc_count": sum(by_id[i].get("jvm_gc_count", 0) for i in ids) / n,
            })
        for m, _ in PHASE_METRICS:
            out[f"{key}.{m}"] = float(vals[m])
    return out


def straggler_ratio(tasks):
    """Max over stages (with two or more successful tasks) of the longest
    task time over the median task time; 1.0 when no stage qualifies."""
    per_stage = {}
    for t in tasks:
        if not t.get("failed"):
            per_stage.setdefault((t.get("ctx", 0), t["stage"], t["stage_attempt"]), []).append(
                t["finish_ms"] - t["launch_ms"])
    ratios = [max(d) / statistics.median(d) for d in per_stage.values()
              if len(d) >= 2 and statistics.median(d) > 0]
    return max(ratios, default=1.0)


def span_mean_ms(spans, name, self_time=False):
    """Mean duration (or self time) of the spans with this name."""
    selfs = self_times(spans) if self_time else None
    xs = [selfs[s["span_id"]] if self_time else s["end_ms"] - s["start_ms"]
          for s in spans if s["name"] == name]
    return sum(xs) / len(xs) if xs else 0.0
