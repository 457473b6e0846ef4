"""Arithmetic the benchmark reports with: nearest-rank percentiles that
carry their sample counts, q-error, and span self time."""

import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the value at 1-based rank ceil(p/100 * n)
    of the sorted samples. Returns (value, n, beyond), where `beyond` is
    the number of samples ranked above it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    n = len(s)
    rank = max(1, math.ceil(p / 100.0 * n))
    return s[rank - 1], n, n - rank


def qerror(est, truth):
    """q-error with the zero conventions of graft.workload.Workload.qError."""
    if truth == 0 and est != 0:
        return float(est)
    if truth != 0 and est == 0:
        return float(truth)
    if truth == 0 and est == 0:
        return 1.0
    return max(est / truth, truth / est)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    total = 0
    end = lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """Map span id -> its duration minus the part of its interval that
    its child spans cover. `spans` are dicts with id, start, end, parent."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"]) - covered(
        children.get(sp["id"], []), sp["start"], sp["end"]) for sp in spans}


def overruns(spans):
    """Spans that start before or end after their parent."""
    by_id = {sp["id"]: sp for sp in spans}
    return [sp for sp in spans if sp["parent"] in by_id and (
        sp["start"] < by_id[sp["parent"]]["start"]
        or sp["end"] > by_id[sp["parent"]]["end"])]


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median), with the quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")
