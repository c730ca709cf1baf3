"""Print per-layer self time from the span files of traced runs.

    python3 perfbench/report.py .perfbench_out/trace-*.json

For each trace (one workload, one seed) it sums every span's self time --
its duration minus what its child spans cover -- by layer over the timed
passes and divides by their number, so the rows add up to the mean time
a pass spends inside its ops. Layers are the span names' first component: ``operators``
(builder calls), ``plans`` (medallion stages), ``sinks`` (reads of
written tables), ``catalyst``, ``execution`` (the noop write outside its
jobs), ``scheduler`` (time covered by Spark jobs) and ``op`` (the
benchmark's own loop between those spans).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import self_times  # noqa: E402


def layer_self_times(trace: dict) -> dict[str, float]:
    """Mean self time per timed pass, by layer."""
    spans = trace["spans"]
    timed = set(trace["timed_passes"])
    by_id = {s["id"]: s for s in spans}

    def root(s: dict) -> dict:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        if root(s).get("pass_no") in timed:
            layer = s["name"].split(":")[0].split(".")[0]
            out[layer] = out.get(layer, 0.0) + own[s["id"]] / len(timed)
    return out


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    for path in paths:
        with open(path) as f:
            trace = json.load(f)
        rows = layer_self_times(trace)
        total = sum(rows.values())
        print(f"{trace['workload']} seed={trace['seed']} ({len(trace['timed_passes'])} timed passes)")
        for layer, s in sorted(rows.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:<12} {s:9.3f} s/pass  {100 * s / total:5.1f}%")
        print(f"  {'total':<12} {total:9.3f} s/pass")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
