"""Data-quality expectation checks (dbt-test / Delta-CHECK-constraint
style) compiled into a minimal number of Spark jobs.

The reference pipeline has no validation step at all — bad rows flow
silently into the marts (e.g. the null-guarded date parse at reference
``aws-job-bronze-to-silver/aws-job-bronze-to-silver.py:61-66`` simply
nulls unparseable dates). A production lake needs declarative
expectations with a violations report. Design:

- Every *scalar* rule (not-null, accepted-values, range, custom
  predicate) compiles to a null-safe violation predicate and ALL of them
  evaluate in ONE scan as conditional aggregates — adding a rule adds a
  column to one hash aggregate, never another pass over 100 TB.
- ``unique`` needs its own hash aggregate on the key (one shuffle of
  (key, partial-count) pairs, map-side combined).
- ``referential`` needs one left join against the distinct reference
  keys (broadcast when the dimension is small, shuffle otherwise —
  Catalyst/AQE decides), counting misses and total in the same pass.

The report is a tiny DataFrame ``(rule, violations, total, passed)`` —
one row per rule — cheap to sink next to the table it audits.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One expectation. ``kind`` selects the execution strategy:
    ``predicate`` rules share a single scan; ``unique`` and
    ``referential`` each add one shuffle."""

    name: str
    kind: str  # 'predicate' | 'unique' | 'referential'
    violation: Column | None = None  # predicate rules: True ⇒ row violates
    cols: tuple[str, ...] = ()
    ref: DataFrame | None = None
    ref_col: str | None = field(default=None)


def not_null(col: str) -> Rule:
    return Rule(f"not_null_{col}", "predicate", F.col(col).isNull())


def accepted_values(col: str, values: Sequence) -> Rule:
    """Violation when a NON-NULL value falls outside ``values`` (null
    handling belongs to :func:`not_null`, mirroring dbt's
    ``accepted_values``)."""
    v = F.coalesce(~F.col(col).isin(list(values)), F.lit(False))
    return Rule(f"accepted_values_{col}", "predicate", v)


def in_range(col: str, lo, hi) -> Rule:
    """Violation when a NON-NULL value is outside [lo, hi]."""
    v = F.coalesce((F.col(col) < lo) | (F.col(col) > hi), F.lit(False))
    return Rule(f"in_range_{col}", "predicate", v)


def unique(*cols: str) -> Rule:
    """Violations = rows in excess of one per distinct key (null keys
    form a group like any other, matching ``GROUP BY`` semantics)."""
    return Rule("unique_" + "_".join(cols), "unique", None, tuple(cols))


def referential(col: str, ref: DataFrame, ref_col: str) -> Rule:
    """Violations = NON-NULL foreign keys absent from the reference
    column (dbt ``relationships``: null FKs are not violations)."""
    return Rule(f"referential_{col}", "referential", None, (col,), ref, ref_col)


def expectation_report(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """Evaluate ``rules`` against ``df``; return one report row per rule:
    ``(rule: string, violations: long, total: long, passed: boolean)``.

    ``total`` is the population the rule inspected (all rows for scalar /
    unique rules; non-null FK rows for referential rules).
    """
    parts: list[DataFrame] = []

    preds = [r for r in rules if r.kind == "predicate"]
    if preds:
        # coalesce: SUM over zero rows is NULL — an expectation over an
        # empty table must pass vacuously (violations=0, passed=true),
        # not report NULL (robustness_audit `empty` finding)
        row = df.agg(
            *[
                F.coalesce(
                    F.sum(F.when(r.violation, 1).otherwise(0)), F.lit(0)
                ).alias(r.name)
                for r in preds
            ],
            F.count(F.lit(1)).alias("_total"),
        )
        packed = F.array(
            *[
                F.struct(
                    F.lit(r.name).alias("rule"),
                    F.col(r.name).alias("violations"),
                )
                for r in preds
            ]
        )
        parts.append(
            row.select(F.explode(packed).alias("p"), "_total").select(
                F.col("p.rule").alias("rule"),
                F.col("p.violations").alias("violations"),
                F.col("_total").alias("total"),
            )
        )

    for r in rules:
        if r.kind == "unique":
            g = df.groupBy(*[F.col(c) for c in r.cols]).agg(
                F.count(F.lit(1)).alias("_c")
            )
            parts.append(
                g.agg(
                    F.coalesce(F.sum("_c") - F.count(F.lit(1)), F.lit(0)).alias(
                        "violations"
                    ),
                    F.coalesce(F.sum("_c"), F.lit(0)).alias("total"),
                ).select(F.lit(r.name).alias("rule"), "violations", "total")
            )
        elif r.kind == "referential":
            col = r.cols[0]
            base = df.select(F.col(col).alias("_k")).filter(
                F.col("_k").isNotNull()
            )
            ref_keys = r.ref.select(F.col(r.ref_col).alias("_r")).distinct()
            joined = base.join(ref_keys, base["_k"] == F.col("_r"), "left")
            parts.append(
                joined.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("_r").isNull(), 1).otherwise(0)),
                        F.lit(0),
                    ).alias("violations"),
                    F.count(F.lit(1)).alias("total"),
                ).select(F.lit(r.name).alias("rule"), "violations", "total")
            )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.withColumn("passed", F.col("violations") == 0)


def observed_write(
    df: DataFrame,
    path: str,
    metrics: dict[str, Column],
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
):
    """Write a table while collecting pipeline metrics IN-FLIGHT via
    ``DataFrame.observe`` — zero extra scans, zero extra shuffles.

    ``metrics`` maps names to aggregate expressions (count, null counts,
    sums, min/max…). Spark accumulates them on the executors as the write
    job streams rows past; the observed values describe EXACTLY the rows
    written (a separate audit query could race a concurrent change, and at
    100 TB it would cost a second full scan). Returns the metrics dict —
    the write-audit row a scheduler logs next to the job.
    """
    from pyspark.sql import Observation

    obs = Observation()
    w = (
        df.observe(obs, *[expr.alias(name) for name, expr in metrics.items()])
        .write.mode(mode)
        .format(fmt)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    return obs.get
