"""Order statistics and span arithmetic for the benchmark (pure Python, no
Spark, so the unit tests run without a JVM)."""

from __future__ import annotations

import math
import statistics

# On a workload with a tail rule, op_p90_s must have this many samples
# above it; with the nearest-rank rule that takes MIN_SAMPLES_P90 samples.
MIN_ABOVE_P90 = 10
MIN_SAMPLES_P90 = 10 * MIN_ABOVE_P90


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def samples_above(values: list[float], threshold: float) -> int:
    return sum(1 for v in values if v > threshold)


def drift_ratio(values: list[float]) -> float:
    """Median of the last third of the samples over the median of the
    first third (in issue order). Near 1 when warm-up has finished; well
    below 1 flags ops still getting faster."""
    k = len(values) // 3
    if k == 0:
        return 1.0
    return statistics.median(values[-k:]) / statistics.median(values[:k])


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles(n=4)
    gives them — the steadiness figure the bounds are checked against."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its own length minus the part of it covered
    by its direct children. Children are clipped to the parent and their
    overlaps are counted once, so self times never go negative; when
    siblings do not overlap (one thread), a tree's self times sum to the
    root's length."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp.get("parent") is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        covered = union_length(
            [(max(s, c["start"]), min(e, c["end"])) for c in children.get(sp["id"], [])]
        )
        out[sp["id"]] = (e - s) - covered
    return out
