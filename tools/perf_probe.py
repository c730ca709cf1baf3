"""r15 optimization probe: isolated noop-sink timing + plan capture.

Usage:
    python tools/perf_probe.py [--sf DIR] [--passes N] [--tag before|after] \
        [--plans-only] query [query ...]

For each named suite query: builds the DataFrame (REBUILD-style — the
builder re-runs inside the timed region every pass, so eager builders are
billed honestly), times N noop-sink writes (guide §1.4), prints per-pass
seconds + min, and writes `.explain("formatted")` to
<plans-dir>/<name>_<tag>.txt (guide §1 "capture the plan shape").
Jobs are labelled per query (guide §1.5). ``--clear-cache`` calls
spark.catalog.clearCache() before every pass so builders that persist()
an intermediate are billed their honest FIRST-build cost each pass
instead of the plan-cache hit (r16).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalake_nba_dmc_spark.session import get_spark
from datalake_nba_dmc_spark.suite import load_all


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--tag", default=None)
    ap.add_argument("--plans-dir", default="plans/r16")
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--clear-cache", action="store_true",
                    help="clearCache() before every pass (honest first-build cost "
                         "for builders that persist intermediates)")
    ap.add_argument("--prebuild", action="store_true",
                    help="build once outside the timed region (non-REBUILD style)")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    if args.plans_only and not args.tag:
        # r15 ADVICE: --plans-only without --tag wrote nothing yet printed
        # "plan written" — default the tag instead of lying
        args.tag = "plan"

    specs = load_all()
    spark = get_spark("perf_probe")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        *args.plans_dir.split("/"),
    )
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.queries:
        spec = specs[name]
        spark.sparkContext.setJobDescription(f"probe: {name} (build)")
        df = spec.builder(spark, args.sf)
        if args.tag:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        if args.plans_only:
            print(f"{name}: plan written")
            continue
        times = []
        for p in range(args.passes):
            if args.clear_cache:
                spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"probe: {name} pass {p}")
            start = time.perf_counter()
            d = df if args.prebuild else spec.builder(spark, args.sf)
            d.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - start)
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: "
            + " ".join(f"{t:.3f}" for t in times)
            + f"  min={min(times):.3f}"
        )


if __name__ == "__main__":
    main()
