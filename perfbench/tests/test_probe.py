"""Parsing of the SQL status store's formatted metrics (no Spark needed)."""

from __future__ import annotations

import pytest

from perfbench.probe import _PLAN_METRIC, _SEP, parse_metric


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n169.9 KiB (41.7 KiB, 42.4 KiB)", 169.9 * 1024),
        ("total (min, med, max (stageId: taskId))\n4.6 s (1.1 s, 1.2 s, 1.2 s)", 4.6),
        ("total (min, med, max (stageId: taskId))\n500 ms (1 ms, 2 ms, 3 ms)", 0.5),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 s, 2 s, 3 s)", 90.0),
        ("0", 0.0),
    ],
)
def test_parse_metric_takes_the_total(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_plan_metrics_are_split_per_entry():
    listing = _SEP.join(
        [
            "SQLPlanMetric(number of output rows,5,sum)",
            "SQLPlanMetric(data sent to Python workers,123,size)",
            "SQLPlanMetric(time to run Python workers,124,timing)",
        ]
    )
    assert _PLAN_METRIC.findall(listing) == [
        ("number of output rows", "5"),
        ("data sent to Python workers", "123"),
        ("time to run Python workers", "124"),
    ]
