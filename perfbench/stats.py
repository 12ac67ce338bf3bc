"""Arithmetic of the benchmark: percentiles, medians, spreads and span self time.

Everything here is plain Python so that `tests/test_stats.py` can check it
without a JVM.
"""

import math
import statistics


def percentile(values, q):
    """Nearest-rank q-quantile, or None when fewer than 10 samples lie beyond it.

    A percentile is only reported when at least ten samples are above it, so
    p50 needs 20 samples and p90 needs 100.
    """
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        return None
    return sorted(values)[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def geomean(values):
    values = [v for v in values if v > 0]
    if not values:
        return None
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values):
    """Distance between the first and third quartile as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def _union_length(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time of every span, in the span's own time unit.

    `spans` are (id, parent, name, op, start, end) tuples. Within one op a
    span's children are the spans it contains most tightly (spans of one op
    may run on different threads, so nesting is by interval, not by thread).
    A span's self time is its duration minus the part of its interval its
    children cover. Returns a list of (name, op, duration, self).
    """
    by_op = {}
    for s in spans:
        by_op.setdefault(s[3], []).append(s)
    out = []
    for op, group in by_op.items():
        group.sort(key=lambda s: (s[4], -s[5]))
        children = {s[0]: [] for s in group}
        stack = []
        for s in group:
            while stack and not (stack[-1][4] <= s[4] and s[5] <= stack[-1][5]):
                stack.pop()
            if stack:
                children[stack[-1][0]].append((s[4], s[5]))
            stack.append(s)
        for s in group:
            start, end = s[4], s[5]
            covered = _union_length([(max(a, start), min(b, end)) for a, b in children[s[0]]])
            out.append((s[2], op, end - start, end - start - covered))
    return out


def op_class(op):
    """Class of an op id: `exact-12` -> `exact`, `pagerank#2` -> `pagerank`."""
    return op.split("#")[0].rsplit("-", 1)[0]


def op_of(group):
    """Op a job group belongs to: `lsh-7/encode` (a part of op `lsh-7`) -> `lsh-7`."""
    return group.split("/", 1)[0]


def group_totals(groups, keep):
    """Sum the listener's per-group counters over the ops `keep` accepts.

    Returns (totals, number of distinct ops summed)."""
    total = {}
    ops = set()
    for g, counters in groups.items():
        if keep(op_of(g)):
            ops.add(op_of(g))
            for k, v in counters.items():
                total[k] = total.get(k, 0.0) + v
    return total, len(ops)


def carve_planning(spans, groups, inside="api.Wire.execute_encode", name="spark.planning"):
    """Add a `spark.planning` span at the start of every `inside` span.

    Spark plans lazily inside the encoder's action, so the planning time is
    known only from the listener (counter `plan_ms` of job group
    `<op>/encode`, in ms); the added span lets self time subtract it from
    the encoder. `spans` are (id, parent, name, op, start ns, end ns)."""
    out = list(spans)
    next_id = max((s[0] for s in spans), default=0) + 1
    for s in spans:
        if s[2] == inside:
            ms = groups.get(s[3] + "/encode", {}).get("plan_ms", 0.0)
            end = min(s[5], s[4] + int(ms * 1e6))
            out.append((next_id, s[0], name, s[3], s[4], end))
            next_id += 1
    return out
