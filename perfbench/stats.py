"""Arithmetic behind the benchmark's figures: medians, tail percentiles,
job attribution by time window and per-span totals.

Kept free of I/O so test_stats.py can check it without Spark.
"""
import bisect
import math
import statistics

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values):
    """The highest percentile of TAIL_LADDER with at least ten samples
    strictly beyond its rank, as {"pct", "n", "value"}; value is None
    when there are too few samples for any of them."""
    n = len(values)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return {"pct": p, "n": n, "value": percentile(values, p)}
    return {"pct": None, "n": n, "value": None}


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Span and job rows as Main.scala writes them.
SPAN_NAME, SPAN_START, SPAN_END, SPAN_NS, SPAN_EXTRAS = range(5)
(JOB_ID, JOB_SUBMIT, JOB_END, JOB_TASKS, JOB_CPU_NS, JOB_READ, JOB_RECORDS,
 JOB_WRITTEN, JOB_SHUFFLE, JOB_DESC, JOB_CALLSITE) = range(11)


def attribute(spans, jobs):
    """Index of the span whose [start, end] window holds each job's
    submit time, or None. Windows come from one client thread and are
    disjoint, so at most one holds it."""
    order = sorted(range(len(spans)), key=lambda i: spans[i][SPAN_START])
    starts = [spans[i][SPAN_START] for i in order]
    out = []
    for j in jobs:
        k = bisect.bisect_right(starts, j[JOB_SUBMIT]) - 1
        if k >= 0 and j[JOB_SUBMIT] <= spans[order[k]][SPAN_END]:
            out.append(order[k])
        else:
            out.append(None)
    return out


def span_totals(spans, jobs):
    """Per span name: busy_s, driver_s, jobs, tasks, cpu_s, read_mb,
    written_mb, shuffle_mb, records_read, calls and summed extras.
    driver_s is each call's duration minus the union of its jobs'
    [submit, end] intervals clipped to the call's window. Returns
    (totals, unattributed job count)."""
    owner = attribute(spans, jobs)
    per_call = {}
    unattributed = 0
    for j, o in zip(jobs, owner):
        if o is None:
            unattributed += 1
        else:
            per_call.setdefault(o, []).append(j)
    mb = 1024.0 * 1024.0
    totals = {}
    for i, s in enumerate(spans):
        t = totals.setdefault(s[SPAN_NAME], {
            "busy_s": 0.0, "driver_s": 0.0, "jobs": 0, "tasks": 0, "cpu_s": 0.0,
            "read_mb": 0.0, "written_mb": 0.0, "shuffle_mb": 0.0,
            "records_read": 0, "calls": 0, "extras": {}})
        mine = per_call.get(i, [])
        busy = s[SPAN_NS] / 1e9
        window = [(max(j[JOB_SUBMIT], s[SPAN_START]),
                   min(j[JOB_END] if j[JOB_END] >= 0 else s[SPAN_END], s[SPAN_END]))
                  for j in mine]
        t["busy_s"] += busy
        t["driver_s"] += max(0.0, busy - union_length(window) / 1000.0)
        t["jobs"] += len(mine)
        t["tasks"] += sum(j[JOB_TASKS] for j in mine)
        t["cpu_s"] += sum(j[JOB_CPU_NS] for j in mine) / 1e9
        t["read_mb"] += sum(j[JOB_READ] for j in mine) / mb
        t["written_mb"] += sum(j[JOB_WRITTEN] for j in mine) / mb
        t["shuffle_mb"] += sum(j[JOB_SHUFFLE] for j in mine) / mb
        t["records_read"] += sum(j[JOB_RECORDS] for j in mine)
        t["calls"] += 1
        for k, v in s[SPAN_EXTRAS].items():
            t["extras"][k] = t["extras"].get(k, 0.0) + v
    return totals, unattributed


def median_or_none(xs):
    return statistics.median(xs) if xs else None
