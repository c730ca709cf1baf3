"""Driver-window planner — mechanizes the per-round recut of
``suite/__init__._CHECK_PRIORITY``.

Reads every CORRECTNESS_r*.json, classifies each oracle-checked query by
its most recent driver row, and prints the recommended 50-slot window for
the NEXT round: never-checked first (new registrations MUST be
driver-checked in their own round), then cohorts oldest-first, with the
overflow that must queue contiguously past the edge. Rows-only queries
(``oracle is None``) are left out: ``load_all()`` pins them at the bottom
of the rotation, outside the window. The output is a checklist, not a
patch — the builder still curates which same-cohort names defer (pick the
ones with in-window code-path siblings) and documents the choice.

Usage: python tools/window_plan.py [window_size]
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_checked(repo: str = REPO) -> dict[str, int]:
    """Query name → the latest round whose CORRECTNESS file has its row."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for q in json.load(open(path)):
            last[q] = max(last.get(q, 0), rnd)
    return last


def cohorts_of(specs, last: dict[str, int]) -> dict[int, list[str]]:
    """Oracle-checked queries grouped by last-checked round (0 = never),
    in registry order within each cohort."""
    cohorts: dict[int, list[str]] = {}
    for n, spec in specs.items():
        if spec.oracle is not None:
            cohorts.setdefault(last.get(n, 0), []).append(n)
    return cohorts


def window_plan(specs, last: dict[str, int]) -> list[str]:
    """Every window candidate, stalest first: the never-checked cohort,
    then each older cohort up to (not including) the latest round."""
    latest = max(last.values()) if last else 0
    cohorts = cohorts_of(specs, last)
    return [n for rnd in sorted(cohorts) if rnd < latest for n in cohorts[rnd]]


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50

    from datalake_nba_dmc_spark.suite import load_all

    specs = load_all()
    last = last_checked()
    latest = max(last.values()) if last else 0
    cohorts = cohorts_of(specs, last)

    print(f"{len(specs)} registered; latest recorded round r{latest}")
    for rnd in sorted(cohorts):
        label = "never-checked" if rnd == 0 else f"last checked r{rnd}"
        print(f"  {label}: {len(cohorts[rnd])}")

    plan = window_plan(specs, last)
    print(f"\nrecommended window ({window} slots; {len(plan)} candidates):")
    for i, n in enumerate(plan):
        marker = "  " if i < window else "->"  # -> = overflow, defers
        print(f"{marker} {i:3d} {n}" + ("" if last.get(n) else "  [never]"))
    if len(plan) > window:
        print(
            f"\n{len(plan) - window} overflow: defer same-cohort names with "
            "in-window siblings; they must sit contiguously at the edge "
            "(tests/test_suite_contract.py pins this)."
        )
    else:
        print(
            f"\n{window - len(plan)} free slots: fill with the next cohort "
            f"(r{latest}) or new registrations."
        )


if __name__ == "__main__":
    main()
