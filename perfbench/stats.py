"""Order statistics and span arithmetic used by the benchmark's reports."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail(samples: Sequence[float], max_pct: float = 90.0, beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile, up to ``max_pct``, that has at least
    ``beyond`` samples above it: returns ``(value, percentile, n)``.

    With ``n`` samples sorted ascending the value at 0-based index
    ``n - beyond - 1`` has exactly ``beyond`` samples above it, so its
    percentile is ``100 * (n - beyond) / n``; once that exceeds
    ``max_pct`` the ``max_pct`` percentile (nearest rank) is used instead.
    Needs more than ``beyond`` samples.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"{n} samples: need more than {beyond} for a tail percentile")
    s = sorted(samples)
    pct = 100.0 * (n - beyond) / n
    if pct <= max_pct:
        return float(s[n - beyond - 1]), pct, n
    rank = max(1, -(-int(max_pct * n) // 100))  # ceil(max_pct/100 * n), nearest rank
    return float(s[rank - 1]), max_pct, n


def covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. Spans are dicts with ``id``,
    ``parent`` (an id or None), ``start`` and ``end``."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }
