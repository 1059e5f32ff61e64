"""Percentile rule, quartile spread and span self-time arithmetic."""

from __future__ import annotations

import statistics

import pytest

from perfbench import stats
from perfbench.trace import Tracer


def test_p90_leaves_ten_samples_above_at_the_minimum_count():
    assert stats.MIN_SAMPLES_P90 == 100
    v = [float(i) for i in range(stats.MIN_SAMPLES_P90)]
    assert stats.percentile(v, 90) == 89.0
    assert stats.samples_above(v, stats.percentile(v, 90)) == stats.MIN_ABOVE_P90
    fewer = v[:-1]
    assert stats.samples_above(fewer, stats.percentile(fewer, 90)) < stats.MIN_ABOVE_P90
    ties = [1.0] * 200
    assert stats.samples_above(ties, stats.percentile(ties, 90)) == 0


def test_percentile_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 90) == 4.0
    assert stats.percentile([5.0], 90) == 5.0


def test_quartile_spread_matches_statistics_quantiles():
    v = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 9.7, 10.6]
    q1, med, q3 = statistics.quantiles(v, n=4)
    assert stats.quartile_spread(v) == pytest.approx((q3 - q1) / med)


def test_drift_ratio():
    assert stats.drift_ratio([2.0, 2.0, 2.0, 1.0, 1.0, 1.0]) == 0.5
    assert stats.drift_ratio([1.0]) == 1.0


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert stats.union_length([]) == 0.0


def test_self_time_with_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1 on [3, 4)
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
        {"id": 4, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (5.0 + 1.0))  # children cover [1, 6) and [9, 10)
    assert own[1] == pytest.approx(3.0 - 1.0)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(1.0)


def test_tracer_layer_self_times_sum_to_op_wall():
    tr = Tracer(True)
    tr.op_id = "op0"
    with tr.span("op.curate"):
        with tr.span("queries.construct"):
            with tr.span("dedup.minhash_candidates"):
                pass
        with tr.span("queries.action"):
            pass
    root = tr.spans[0]
    layers = tr.layer_self_times({"op0"})
    assert set(layers) == {"op", "queries", "dedup"}
    assert sum(layers.values()) == pytest.approx(root["end"] - root["start"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []
