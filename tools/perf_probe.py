"""Per-query probe: noop-sink timing + plan capture.

Usage:
    python tools/perf_probe.py [--sf DIR] [--passes N] [--tag before|after] \
        [--plans-only] query [query ...]

For each named suite query, every pass times what perfbench times:
``spark.catalog.clearCache()``, then the builder call (so eager builders
and the intermediates they persist are billed each pass), then the noop
write of the returned frame. Prints per-pass seconds + min, then per pass
the generated classes compiled and Janino's milliseconds
(``session.codegen_compiles``): a warm pass that compiles anything means
the codegen cache is evicting the query's classes. With
``--tag`` it also writes ``.explain("formatted")`` to
<plans-dir>/<name>_<tag>.txt (guide §1 "capture the plan shape").
Jobs are labelled per query (guide §1.5).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datalake_nba_dmc_spark.session import codegen_compiles, get_spark
from datalake_nba_dmc_spark.suite import load_all


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--tag", default=None)
    ap.add_argument("--plans-dir", default="plans/r16")
    ap.add_argument("--plans-only", action="store_true")
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
        if args.tag:
            spark.sparkContext.setJobDescription(f"probe: {name} (plan)")
            df = spec.builder(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
        if args.plans_only:
            print(f"{name}: plan written")
            continue
        times, compiles = [], []
        for p in range(args.passes):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"probe: {name} pass {p}")
            n0, ms0 = codegen_compiles(spark)
            start = time.perf_counter()
            spec.builder(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - start)
            n1, ms1 = codegen_compiles(spark)
            compiles.append((n1 - n0, ms1 - ms0))
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: "
            + " ".join(f"{t:.3f}" for t in times)
            + f"  min={min(times):.3f}"
            + "  compiled: "
            + " ".join(f"{n}/{ms:.0f}ms" for n, ms in compiles)
        )


if __name__ == "__main__":
    main()
