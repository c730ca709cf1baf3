"""The tail-percentile rule, its printed sample count, and span self time."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_tail_keeps_ten_samples_beyond():
    samples = [float(x) for x in range(30)]
    value, pct, n = stats.tail(samples)
    assert (value, n) == (19.0, 30)
    assert pct == pytest.approx(100 * 20 / 30)
    assert sum(s > value for s in samples) == 10


def test_tail_stops_at_p90_when_the_sample_allows():
    samples = [float(x) for x in range(1, 201)]
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (180.0, 90.0, 200)
    assert sum(s > value for s in samples) >= 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_report_prints_the_percentile_and_sample_count(capsys):
    from perfbench import run

    e2e = dict.fromkeys(run.END_TO_END, 1.0)
    run._print_report(
        {
            "workload": "w",
            "seed": 1,
            "trace": 0,
            "confs": dict.fromkeys(
                ("cpus", "shuffle_partitions", "driver_memory", "pyspark", "java"), "x"
            ),
            "inputs": {"sf": 0.1, "replicas": 1, "tables": {"t": {"rows": 1, "bytes": 1}}},
            "passes": {"warmup_s": [1.0], "timed_s": [1.0]},
            "op_tail": {"value_s": 1.5, "percentile": 100 * 20 / 30, "samples": 30},
            "end_to_end": e2e,
            "driver_peak_rss_mb": 1.0,
            "host": {},
            "problems": {},
            "failures": [],
        }
    )
    assert "op_tail_s = 1.5000 s (p66.7 of 30 samples)" in capsys.readouterr().out


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(0, 2), (1, 3), (5, 6), (9, 12)], 0, 10) == 5


def test_self_time_on_a_span_tree():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps its sibling
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild: not the root's
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    own = stats.self_times(spans)
    assert own == {0: 10 - (5 + 1), 1: 3 - 1, 2: 3, 3: 1, 4: 3}
