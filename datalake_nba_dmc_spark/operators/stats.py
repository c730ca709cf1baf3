"""Exact distributed statistics — moments and correlation from integer sums.

Plain ``stddev``/``corr`` aggregates accumulate doubles, so their low bits
depend on partial-aggregation order — fine for analysis, fatal for a
cross-engine differential oracle (and irreproducible run-to-run on a real
cluster). These helpers instead reduce each column to EXACT integer sums
(values scaled to fixed-point longs), then combine the sums with a fixed
double-arithmetic expression tree. Identical inputs → identical IEEE ops →
bit-identical results on any engine, any partitioning, any cluster size.

Scale notes:

- One hash aggregate, map-side combined: the shuffle carries only
  (n, Sx, Sy, Sxx, Syy, Sxy) per group — O(groups), not O(rows).
- Long sums hold exactly while n · (scale·max|x|)² < 2^63; for 100 TB facts
  with wide value ranges switch the accumulators to ``decimal(38,0)`` —
  same one-pass shape, ~20% slower.
- The double combination step is per-group scalar work, negligible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scaled(col: str, scale: int) -> Column:
    return F.round(F.col(col) * scale).cast("long")


def exact_moments(
    df: DataFrame,
    group_by: Sequence[str],
    col: str,
    scale: int = 1,
    prefix: str | None = None,
) -> DataFrame:
    """Per-group n / mean / sample variance / sample stddev, deterministic.

    mean = Sx / scale / n;  var = (n·Sxx − Sx²) / (n·(n−1)) / scale².
    All products/differences are computed in double AFTER the exact integer
    reduction, so there is no long overflow and no order dependence.
    """
    p = prefix or col
    x = _scaled(col, scale)
    agged = df.groupBy(*group_by).agg(
        F.count("*").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(x * x).alias("_sxx"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    s2 = float(scale) * float(scale)
    return agged.select(
        *group_by,
        F.col("_n").alias(f"{p}_n"),
        (sx / scale / n).alias(f"{p}_mean"),
        ((n * sxx - sx * sx) / (n * (n - 1)) / s2).alias(f"{p}_var"),
        F.sqrt((n * sxx - sx * sx) / (n * (n - 1)) / s2).alias(f"{p}_std"),
    )


def exact_corr(
    df: DataFrame,
    group_by: Sequence[str],
    xcol: str,
    ycol: str,
    xscale: int = 1,
    yscale: int = 1,
    alias: str = "corr",
) -> DataFrame:
    """Per-group Pearson correlation from exact integer sums.

    corr = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²)); the scale
    factors cancel. Same one-pass / O(groups)-shuffle shape as
    ``exact_moments``.
    """
    x, y = _scaled(xcol, xscale), _scaled(ycol, yscale)
    agged = df.groupBy(*group_by).agg(
        F.count("*").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    return agged.select(
        *group_by,
        F.col("_n").alias("n"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias(alias),
    )


def psi_binned(
    df: DataFrame,
    split_col: Column,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 10,
) -> DataFrame:
    """Population Stability Index between the rows where ``split_col`` is
    true (baseline A) and false (comparison B) — the standard
    distribution-drift monitor for feature/label pipelines
    (PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 action).

    Equi-width bins over [lo, hi] with edge clamping (same binning as
    ``profile.histogram``); per-bin shares are Laplace-smoothed
    (``(cnt + 0.5) / (total + nbins/2)``) so empty bins contribute finite
    terms deterministically instead of the ±inf of the raw formula.
    Returns one row per bin: counts, both shares, and the bin's PSI
    contribution ``(pa − pb)·ln(pa/pb)`` rounded to 6 dp (ln may differ
    in the last ulp across engines — the tf_idf rounding rule); sum the
    contributions for the scalar PSI.

    Scale shape: ONE scan → conditional counts per bin (map-side
    combined, ≤ nbins groups) → totals broadcast back. No sort, no
    per-row state — the grain is bins, never rows."""
    w = (float(hi) - float(lo)) / nbins
    # clamp the LONG bucket BEFORE narrowing to int: a corrupt outlier
    # value puts the raw floor() past 2^31 and an early cast would be an
    # ANSI ARITHMETIC_OVERFLOW — on the one operator whose whole job is
    # being fed suspect data
    bucket = F.least(
        F.greatest(F.floor((F.col(value_col) - float(lo)) / F.lit(w)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("int")
    # rows where the split predicate is NULL (e.g. a NULL date) belong to
    # NEITHER cohort and are excluded EXPLICITLY: left in, they form
    # bucket rows whose conditional sums are NULL-skipped — an unknown
    # period cannot vote on drift (robustness_audit `nulls` finding)
    counts = (
        df.filter(F.col(value_col).isNotNull() & split_col.isNotNull())
        .select(bucket.alias("bucket"), split_col.cast("int").alias("_is_a"))
        .groupBy("bucket")
        .agg(
            F.sum("_is_a").cast("long").alias("n_a"),
            F.sum(1 - F.col("_is_a")).cast("long").alias("n_b"),
        )
    )
    totals = counts.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    sm = float(nbins) / 2.0
    pa = (F.col("n_a") + 0.5) / (F.col("_ta") + sm)
    pb = (F.col("n_b") + 0.5) / (F.col("_tb") + sm)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.round(pa, 6).alias("share_a"),
            F.round(pb, 6).alias("share_b"),
            F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
        )
    )


#: Cumulative Poisson(1) CDF scaled to 2^32 (floor), k = 0..8 — computed
#: once offline (math.exp) and embedded as integer literals so BOTH
#: engines compare the same constants against the same 32-bit hash.
_POISSON1_CDF_32 = [
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
    4294923276,
    4294962463,
]


def bootstrap_weight_sql(id_expr: str, r_expr: str, seed: int, dialect: str) -> str:
    """Dialect-rendered Poisson(1) bootstrap weight of row ``id_expr`` in
    resample ``r_expr``: the avalanche-mixed 32-bit hash of (id, r, seed)
    is a uniform draw, inverted through the embedded Poisson CDF ladder
    (capped at 9 — P(X ≥ 9 | λ=1) ≈ 1.1e-8, and the cap is part of the
    deterministic contract, not an approximation of something else).

    ``r_expr`` is a COLUMN expression, not a literal: the caller explodes
    the resample index first and evaluates ONE mixer + one CASE ladder
    over the exploded rows. The first cut embedded the ladder per
    resample (n_resamples × 9 mixer copies in one projection) — the
    janino method-size blowup shape the plan census exists to catch.

    The id enters through BOTH 31-bit halves (low bits direct, high bits
    pre-mixed), so 64-bit keys congruent mod 2^31 get independent weights
    instead of aliasing into fully-correlated resamples (r11 ADVICE: the
    old fold dropped the high bits, silently narrowing the CI whenever
    distinct ids shared low words). Residual collisions are the
    pseudorandom 31-bit birthday kind, not congruence classes; ids
    congruent mod 2^62 still alias — beyond any real key space."""
    return _bootstrap_weight_from_base_sql(
        _bootstrap_idbase_sql(id_expr, dialect), r_expr, seed, dialect
    )


def _bootstrap_idbase_sql(id_expr: str, dialect: str) -> str:
    """The id-only half of :func:`bootstrap_weight_sql`'s hash — the
    folded 31-bit base both halves of the id enter through. Split out
    (r16) so hot paths can STAGE it as a column BEFORE the
    n_resamples explode: it is a pure function of the row id, and
    evaluating the full weight expression post-explode re-ran this
    mixer + wrap once per (row, resample) instead of once per row."""
    from datalake_nba_dmc_spark.operators.hyperball import mixer_sql

    # double-mod wrap: % is sign-of-dividend in BOTH engines, and the
    # mixer's input contract is non-negative — negative ids must not
    # leak a negative base into it. The wrap runs at 2^62 BEFORE the
    # half-split so hi/lo derive from a non-negative value, where
    # Spark `div` (trunc) and DuckDB `//` (floor) agree.
    nn = (
        f"((((({id_expr}) % 4611686018427387904) + 4611686018427387904)"
        f" % 4611686018427387904))"
    )
    hi_mixed = mixer_sql(f"({nn} div 2147483648)" if dialect == "spark" else f"({nn} // 2147483648)", dialect)
    return f"(({hi_mixed} * 40503 + ({nn} % 2147483648)) % 2147483648)"


def _bootstrap_weight_from_base_sql(
    base_expr: str, r_expr: str, seed: int, dialect: str
) -> str:
    """Poisson(1) weight from a staged :func:`_bootstrap_idbase_sql`
    value: one mixer over (base + r·K + seed) and the CDF ladder —
    composed by :func:`bootstrap_weight_sql` for single-expression
    (oracle-twin) use; identical integers either way."""
    from datalake_nba_dmc_spark.operators.hyperball import mixer_sql

    u = mixer_sql(
        f"(({base_expr}) + ({r_expr}) * 2654435761 + {seed}) % 2147483648",
        dialect,
    )
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POISSON1_CDF_32)
    )
    return f"(CASE {branches} ELSE 9 END)"


def bootstrap_ci_mean(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_resamples: int = 64,
    seed: int = 42,
    scale: int = 10**4,
    alpha_pct: int = 5,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean of
    ``value_col`` → ONE row (n_resamples, point_micro, lo_micro,
    hi_micro), everything exact integers (micro-units of the mean).

    The metric-uncertainty primitive a 100 TB pipeline needs next to its
    point estimates (did mean document quality MOVE, or is the delta
    inside resampling noise?). Classic m-out-of-n bootstrap resamples
    can't run at scale (each wants its own shuffled copy of the data);
    the Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    for massive data streams" — public) replaces sampling-with-
    replacement by an independent Poisson(1) weight per (row, resample),
    so ALL ``n_resamples`` resamples ride ONE scan: each row explodes
    into (r, w·x, w) contributions and a single map-side-combinable
    aggregation leaves ``n_resamples`` groups REGARDLESS of corpus size.

    Determinism contract: weights come from the avalanche-mixed integer
    hash of (id, r, seed) through an embedded integer CDF ladder —
    no engine RNG anywhere — so a DuckDB twin replays every weight, every
    resample mean, and the nearest-rank percentile cut bit-exactly.
    Resample means are integer micro-units via the suite's scaled-long
    rule; a degenerate resample with total weight 0 contributes mean 0
    (deterministic on both engines; at any real n the probability is
    e^-n). Percentile = nearest-rank (ceil) over the sorted resample
    means at alpha/2 and 1-alpha/2.

    Scale notes: the shuffle after partial aggregation carries
    n_resamples rows per partition; the final sort is over n_resamples
    values (driver-trivial). Long sums hold while
    n · scale·max|x| < 2^63 / 9 (weights cap at 9) — the stats-module
    accumulator rule, same decimal(38,0) escape hatch."""
    if n_resamples < 2:
        raise ValueError("n_resamples must be >= 2")
    if not 0 < alpha_pct < 100:
        raise ValueError("alpha_pct must be in (0, 100)")
    xs = F.round(F.col(value_col).cast("double") * scale).cast("long")
    # NULL ids are excluded from the BASE too, not just the weight leg:
    # a NULL id yields a NULL weight, so such a row would enter the point
    # estimate yet vanish from every resample mean — point and interval
    # describing different populations (r11 ADVICE finding)
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(F.col(id_col).alias("_id"), xs.alias("_xs"))
    # the id-only hash base stages BEFORE the explode (r16): it is a pure
    # function of the row id, so evaluating it post-explode re-ran one
    # mixer + the sign wrap per (row, resample) — n_resamples× the work.
    # The Project below the Generate can't collapse into the weight
    # projection above it, so the staging is structural.
    per_r = (
        base.select(
            F.expr(_bootstrap_idbase_sql("_id", "spark")).alias("_idb"),
            "_xs",
            F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias(
                "r"
            ),
        )
        .withColumn(
            "w",
            F.expr(_bootstrap_weight_from_base_sql("_idb", "r", seed, "spark")),
        )
        .groupBy("r")
        .agg(
            F.sum(F.col("w") * F.col("_xs")).alias("_swx"),
            F.sum("w").alias("_sw"),
        )
        .select(
            "r",
            # floor(double/double), NOT div or /+cast: `div`/`//`
            # disagree across engines on negative values (trunc vs
            # floor), while int64→double casts, the IEEE divide, and
            # floor are bit-identical everywhere (the stats-module
            # fixed-expression-tree rule)
            # divide FIRST, then micro-scale: swx * 10^6 overflows
            # int64 at sf0.1 already. Both operands are exact doubles
            # below 2^53 at gate scales; past that the rounding stays
            # IDENTICAL on both engines (same casts, same IEEE ops)
            F.when(
                F.col("_sw") > 0,
                F.floor(
                    F.col("_swx").cast("double")
                    / (F.col("_sw") * scale).cast("double")
                    * F.lit(1000000.0)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_micro"),
        )
    )
    # nearest-rank (ceil) indices over the sorted n_resamples means;
    # array_sort + element_at keeps the whole cut inside one projection
    lo_rank = max(1, -(-n_resamples * alpha_pct // 200))  # ceil
    hi_rank = max(1, -(-n_resamples * (200 - alpha_pct) // 200))
    point = (
        base.agg(
            F.sum("_xs").alias("_sx"), F.count(F.lit(1)).alias("_n")
        )
        .select(
            F.when(
                F.col("_n") > 0,
                F.floor(
                    F.col("_sx").cast("double")
                    / (F.col("_n") * scale).cast("double")
                    * F.lit(1000000.0)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("point_micro")
        )
    )
    dist = (
        per_r.agg(
            F.array_sort(F.collect_list("mean_micro")).alias("_means")
        )
        # try_element_at, not element_at: empty input leaves the global
        # agg's single row holding an empty array, and the ANSI variant
        # would throw before the size filter drops it (totality rule)
        .filter(F.size("_means") > 0)
        .select(
            F.lit(n_resamples).cast("long").alias("n_resamples"),
            F.try_element_at("_means", F.lit(lo_rank)).alias("lo_micro"),
            F.try_element_at("_means", F.lit(hi_rank)).alias("hi_micro"),
        )
    )
    # one-row × one-row broadcast cross join (the suite's scalar-join
    # pattern) stitches the point estimate onto the interval
    return dist.crossJoin(F.broadcast(point)).select(
        "n_resamples", "point_micro", "lo_micro", "hi_micro"
    )


#: Largest product that may be multiplied by 10^6 inside int64 — the
#: validity bound the rank/ECDF statistics' docstrings promise. Guarded
#: at runtime (r12 ADVICE): past the bound the micro divisions would
#: silently WRAP under non-ANSI mode, producing plausible-looking wrong
#: statistics exactly at the 100 TB posture the operators advertise.
_MICRO_I64_BOUND = ((1 << 63) - 1) // 1_000_000

#: Hard cap on ``by_col`` cardinality in the per-segment substrate
#: (:func:`_cohort_value_cum_by`): its per-segment (min, span) and
#: totals frames are BROADCAST by design — correct for the
#: dashboard-cardinality segment columns the operators document, and
#: enforced in-plan so a mistaken high-cardinality segment column
#: raises a contract error instead of an opaque broadcast/driver OOM.
#: 100k rows of (segment, min, span) is still a few MB broadcast.
_SEGMENT_BROADCAST_CAP = 100_000


def _segment_cap_guard(fn: str) -> Column:
    """A 0-valued long column that RAISES when the frame it rides
    exceeds :data:`_SEGMENT_BROADCAST_CAP` rows — the per-segment
    broadcast contract, enforced in-plan like :func:`_i64_guard`. Must
    be attached to a SEGMENT-grain frame (one row per segment): the
    count window then runs over segment rows, never corpus rows, and
    throws during the broadcast build instead of letting a
    high-cardinality ``by_col`` reach an opaque broadcast/driver OOM."""
    from pyspark.sql import Window

    n_seg = F.count(F.lit(1)).over(Window.partitionBy())
    return F.coalesce(
        F.assert_true(
            n_seg <= F.lit(_SEGMENT_BROADCAST_CAP),
            F.lit(
                f"{fn}: by_col cardinality exceeds the broadcast "
                f"contract ({_SEGMENT_BROADCAST_CAP} segments) — "
                "per-segment stats expect a dashboard-cardinality "
                "segment column; bucket or hash the segments first"
            ),
        ).cast("long"),
        F.lit(0),
    )


def _i64_guard(fn: str, *conds: Column) -> Column:
    """A 0-valued long column that RAISES when any int64-validity bound
    is exceeded: ``assert_true`` yields NULL while every bound holds
    (coalesced to 0 and ADDED to the guarded expression, so the check
    rides the existing projection — no extra scan, no driver action)
    and throws loudly the moment a cohort outgrows the contract."""
    ok = conds[0]
    for c in conds[1:]:
        ok = ok & c
    return F.coalesce(
        F.assert_true(
            ok,
            F.lit(
                f"{fn}: cohort sizes exceed the int64 micro-division "
                "validity bound (n_a*n_b*10^6 < 2^63) — shard the "
                "cohorts or switch the micro division to decimal"
            ),
        ).cast("long"),
        F.lit(0),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    split_col: Column,
    scale: int = 100,
    num_buckets: int = 256,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the rows
    where ``split_col`` is true (cohort A) and false (cohort B) → ONE
    row ``(n_a, n_b, ks_num, ks_d_micro)`` — the sup-norm companion to
    :func:`psi_binned`: PSI reports WHERE binned mass moved, KS is the
    distribution-free hypothesis statistic D = sup_x |F_a(x) − F_b(x)|,
    computed EXACTLY (no binning, no approximation).

    Integer contract (cross-engine bit-exact): values are scaled to
    longs (``round(x·scale)`` — the suite's scaled-long rule), and D is
    carried as the integer numerator ``ks_num = max |cum_a·n_b −
    cum_b·n_a|`` over the merged value grid (cross-multiplied ECDFs —
    no division anywhere in the max, so no float ties);
    ``ks_d_micro = ks_num·10^6 div (n_a·n_b)`` is exact integer floor
    division on both engines. Valid while ``n_a·n_b·10^6 < 2^63``
    (~3M×3M rows) — GUARDED at runtime (an in-plan ``assert_true``
    riding the final projection raises loudly past the bound instead
    of wrapping); past it carry ks_num/denominator separately or
    switch the product to decimal — the stats-module accumulator rule.

    Scale shape: ONE scan → per-distinct-value conditional counts
    (map-side combined, O(V) groups) → the pack_sequences two-phase
    parallel prefix sum over the value grid (order-preserving bucket
    split; the only unpartitioned window runs over ≤ ``num_buckets``
    rows, never the grid) → one global max. The textbook formulation
    (ECDF via an unpartitioned ORDER BY window) would single-task the
    grid at 100 TB; this never does. Rows with a NULL value or NULL
    split are excluded from BOTH cohorts explicitly (the psi_binned
    rule: an unknown period cannot vote on drift)."""
    cum, totals = _cohort_value_cum(
        df, value_col, split_col, scale, num_buckets
    )
    stat = (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(
                F.abs(
                    F.col("_cuma") * F.col("n_b")
                    - F.col("_cumb") * F.col("n_a")
                )
            ).alias("ks_num"),
        )
        # empty input: the global agg still emits one all-NULL row on
        # BOTH engines — drop it so empty in → empty out (totality rule)
        .filter(F.col("n_a").isNotNull())
    )
    # n_a <= bound div n_b  <=>  n_a*n_b <= bound, without the guard
    # condition itself being able to wrap (ks_num <= n_a*n_b, so this
    # bounds the 10^6-scaled numerator too)
    guard = _i64_guard(
        "ks_two_sample",
        F.col("n_a")
        <= F.expr(f"{_MICRO_I64_BOUND} div greatest(n_b, 1)"),
    )
    return stat.select(
        "n_a",
        "n_b",
        "ks_num",
        (
            F.expr("(ks_num * 1000000) div greatest(n_a * n_b, 1)") + guard
        ).alias("ks_d_micro"),
    )


def _cohort_value_cum(
    df: DataFrame,
    value_col: str,
    split_col: Column,
    scale: int,
    num_buckets: int,
):
    """Shared substrate of the rank/ECDF statistics (:func:`ks_two_sample`,
    :func:`mann_whitney_u`): per-distinct-scaled-value conditional counts
    (_xs, _ca, _cb) with INCLUSIVE cumulative counts (_cuma, _cumb) via
    the pack_sequences two-phase parallel prefix sum — the only
    unpartitioned window runs over ≤ ``num_buckets`` rows, never the
    value grid — plus the broadcastable cohort totals (n_a, n_b)."""
    from pyspark.sql import Window

    xs = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull() & split_col.isNotNull()
    ).select(xs.alias("_xs"), split_col.cast("long").alias("_ia"))
    g = base.groupBy("_xs").agg(
        F.sum("_ia").alias("_ca"),
        F.sum(1 - F.col("_ia")).alias("_cb"),
    )
    # order-preserving bucket split of the VALUE domain (monotone in
    # _xs; the pack_sequences min-shifted double form, same tolerance
    # of precision-merged adjacent buckets)
    rng = g.agg(
        F.min("_xs").cast("double").alias("_mn"),
        (F.max("_xs").cast("double") - F.min("_xs").cast("double") + 1).alias(
            "_span"
        ),
    )
    bucketed = g.crossJoin(F.broadcast(rng)).withColumn(
        "_b",
        (
            (F.col("_xs").cast("double") - F.col("_mn"))
            / F.col("_span")
            * num_buckets
        ).cast("long"),
    )
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        bucketed.groupBy("_b")
        .agg(F.sum("_ca").alias("_ba"), F.sum("_cb").alias("_bb"))
        .withColumn("_offa", F.coalesce(F.sum("_ba").over(w_b), F.lit(0)))
        .withColumn("_offb", F.coalesce(F.sum("_bb").over(w_b), F.lit(0)))
        .select("_b", "_offa", "_offb")
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy("_xs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        bucketed.join(F.broadcast(offsets), on="_b")
        .withColumn("_cuma", F.sum("_ca").over(w_in) + F.col("_offa"))
        .withColumn("_cumb", F.sum("_cb").over(w_in) + F.col("_offb"))
    )
    totals = base.agg(
        F.sum("_ia").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("_ia")).alias("n_b"),
    )
    return cum, totals


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    split_col: Column,
    scale: int = 100,
    num_buckets: int = 256,
) -> DataFrame:
    """Exact Mann–Whitney U (Wilcoxon rank-sum) between the rows where
    ``split_col`` is true (cohort A) and false (cohort B) → ONE row
    ``(n_a, n_b, u2_a, u2_b, auc_micro)`` — the rank companion to
    :func:`ks_two_sample`: KS asks "did the distribution CHANGE shape
    anywhere", U asks "did one cohort stochastically DOMINATE" (its
    normalization U_a/(n_a·n_b) is exactly the AUC / common-language
    effect size — the probability a random A value exceeds a random B
    value, ties counted half).

    Integer contract: ranks are handled as DOUBLED midranks so ties
    never produce fractions — for a distinct scaled value with total
    count c and cumulative-before count cb (both cohorts),
    ``midrank2 = 2·cb + c + 1``; then ``u2_a = 2·U_a = Σ ca·midrank2 −
    n_a(n_a+1)``, ``u2_b = 2·n_a·n_b − u2_a`` (the exact U-sum law, a
    pinned invariant), and ``auc_micro = u2_a·10^6 div (2·n_a·n_b)``.
    Every quantity is exact int64 on both engines; overflow bounds are
    GUARDED at runtime like KS (an in-plan ``assert_true`` raises
    loudly instead of wrapping): ``2·n_a·n_b·10^6 < 2^63`` for the AUC
    numerator AND ``n_a+n_b < 2^31`` for the doubled-rank sum ``r2a ≤
    n_a·(2·(n_a+n_b)+1)`` — the tighter of the two binds.

    Scale shape: identical to KS — the shared
    :func:`_cohort_value_cum` substrate (O(V) grouped counts, two-phase
    parallel prefix sum, ≤ num_buckets-row global window), then one
    map-side-combinable weighted sum. Never sorts the corpus, never
    single-partitions the grid."""
    cum, totals = _cohort_value_cum(
        df, value_col, split_col, scale, num_buckets
    )
    # inclusive cums -> per-value (count, cumulative-before) pairs
    per_v = cum.select(
        "_ca",
        ((F.col("_cuma") + F.col("_cumb"))
         - (F.col("_ca") + F.col("_cb"))).alias("_cball"),
        (F.col("_ca") + F.col("_cb")).alias("_call"),
    )
    r2a = per_v.agg(
        F.sum(
            F.col("_ca") * (2 * F.col("_cball") + F.col("_call") + 1)
        ).alias("_r2a")
    )
    stat = (
        r2a.crossJoin(F.broadcast(totals))
        .filter(F.col("n_a").isNotNull())
        .select(
            "n_a",
            "n_b",
            (F.col("_r2a") - F.col("n_a") * (F.col("n_a") + 1)).alias(
                "u2_a"
            ),
        )
        .select(
            "n_a",
            "n_b",
            "u2_a",
            (2 * F.col("n_a") * F.col("n_b") - F.col("u2_a")).alias("u2_b"),
            (
                F.expr("(u2_a * 1000000) div greatest(2 * n_a * n_b, 1)")
                + _i64_guard(
                    "mann_whitney_u",
                    # u2_a <= 2*n_a*n_b: bound the 10^6-scaled numerator
                    F.col("n_a")
                    <= F.expr(
                        f"{_MICRO_I64_BOUND // 2} div greatest(n_b, 1)"
                    ),
                    # r2a <= n_a*(2*(n_a+n_b)+1): keep the doubled-rank
                    # sum itself inside int64
                    F.col("n_a") + F.col("n_b") < F.lit(1 << 31),
                )
            ).alias("auc_micro"),
        )
    )
    return stat


def _cohort_value_counts_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    split_col: Column,
    scale: int,
    fn: str = "_cohort_value_counts_by",
):
    """First stage of the per-segment substrate, shared by the
    prefix-sum consumers (:func:`_cohort_value_cum_by`) and the
    bin-grain consumers (:func:`psi_binned_by`): per-(segment,
    scaled-value) conditional cohort counts ``g`` (one hash-agg,
    map-side combined, O(per-segment distinct values) groups) plus
    per-segment cohort totals. Rows with a NULL value, NULL split, or
    NULL segment are excluded (an unknown segment cannot vote on any
    segment's drift — the psi_binned rule). ``fn`` is the PUBLIC
    operator name threaded down for the broadcast-cap contract error,
    so a user calling e.g. ``ks_two_sample_by`` sees the API they
    invoked, never this private helper (r14 ADVICE)."""
    xs = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull()
        & split_col.isNotNull()
        & F.col(by_col).isNotNull()
    ).select(F.col(by_col), xs.alias("_xs"), split_col.cast("long").alias("_ia"))
    g = base.groupBy(by_col, "_xs").agg(
        F.sum("_ia").alias("_ca"),
        F.sum(1 - F.col("_ia")).alias("_cb"),
    )
    # the totals frame is broadcast by every consumer (KS/MW/quantile/
    # PSI), so the dashboard-cardinality contract is enforced HERE —
    # one guard covers the whole per-segment family (the count window
    # runs over the segment-grain frame, never corpus rows)
    totals = base.groupBy(by_col).agg(
        F.sum("_ia").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("_ia")).alias("n_b"),
    )
    totals = totals.select(
        by_col,
        (F.col("n_a") + _segment_cap_guard(fn)).alias("n_a"),
        "n_b",
    )
    return g, totals


def _cohort_value_cum_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    split_col: Column,
    scale: int,
    num_buckets: int,
    fn: str = "_cohort_value_cum_by",
):
    """Per-SEGMENT generalization of :func:`_cohort_value_cum` (the
    shared rank/ECDF substrate): identical two-phase parallel prefix
    sum, with every grouping, bucket split, and window additionally
    keyed by ``by_col`` — so each segment gets its own value grid and
    its own <= ``num_buckets``-row offset scan, and a hot segment
    parallelizes across its (segment, bucket) pairs exactly like the
    global form. NULL handling lives in the shared first stage
    (:func:`_cohort_value_counts_by`)."""
    g, totals = _cohort_value_counts_by(
        df, by_col, value_col, split_col, scale, fn=fn
    )
    return _cum_from_counts(g, by_col, num_buckets, fn), totals


def _cum_from_counts(
    g: DataFrame, by_col: str, num_buckets: int, fn: str
) -> DataFrame:
    """The cumulative stage of :func:`_cohort_value_cum_by`, factored so
    a consumer that already HOLDS the per-(segment, value) counts frame
    (:func:`drift_panel_by` shares one materialized ``g`` across four
    statistic families) can derive the prefix sums without a second
    pass over the corpus."""
    from pyspark.sql import Window

    rng = g.groupBy(by_col).agg(
        F.min("_xs").cast("double").alias("_mn"),
        (F.max("_xs").cast("double") - F.min("_xs").cast("double") + 1).alias(
            "_span"
        ),
    )
    # segments are dashboard-cardinality (the operator's contract);
    # their (min, span) frame broadcasts like the global scalar did.
    # The contract is ENFORCED in-plan on THIS frame too (the shared
    # totals guard in _cohort_value_counts_by covers the totals
    # broadcast, but the rng broadcast below builds concurrently, so
    # it carries its own guard rather than racing the other one).
    rng = rng.select(
        by_col,
        (
            F.col("_mn") + _segment_cap_guard(fn).cast("double")
        ).alias("_mn"),
        "_span",
    )
    bucketed = g.join(F.broadcast(rng), on=by_col).withColumn(
        "_b",
        (
            (F.col("_xs").cast("double") - F.col("_mn"))
            / F.col("_span")
            * num_buckets
        ).cast("long"),
    )
    w_b = (
        Window.partitionBy(by_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy(by_col, "_b")
        .agg(F.sum("_ca").alias("_ba"), F.sum("_cb").alias("_bb"))
        .withColumn("_offa", F.coalesce(F.sum("_ba").over(w_b), F.lit(0)))
        .withColumn("_offb", F.coalesce(F.sum("_bb").over(w_b), F.lit(0)))
        .select(by_col, "_b", "_offa", "_offb")
    )
    w_in = (
        Window.partitionBy(by_col, "_b")
        .orderBy("_xs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        bucketed.join(F.broadcast(offsets), on=[by_col, "_b"])
        .withColumn("_cuma", F.sum("_ca").over(w_in) + F.col("_offa"))
        .withColumn("_cumb", F.sum("_cb").over(w_in) + F.col("_offb"))
    )
    return cum


def ks_two_sample_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    split_col: Column,
    scale: int = 100,
    num_buckets: int = 256,
) -> DataFrame:
    """Per-segment exact two-sample KS — the drift SCAN a curation stack
    runs after the global :func:`ks_two_sample` fires ("WHICH segment
    drifted?"): one row per ``by_col`` value, (``by_col``, n_a, n_b,
    ks_num, ks_d_micro), same integer contract (cross-multiplied ECDF
    numerator, floor micro division, in-plan int64 guard). Segments
    with an empty cohort still report (ks degenerates to 0 only when a
    side is empty AND the other never accumulates — the cross-multiplied
    form handles n_a=0 or n_b=0 without division anywhere).

    Scale shape: the per-segment substrate — every window keyed by
    (segment, bucket), so segment count multiplies PARALLELISM, not any
    single task's row count; the final per-segment max is one hash-agg."""
    cum, totals = _cohort_value_cum_by(
        df, by_col, value_col, split_col, scale, num_buckets,
        fn="ks_two_sample_by",
    )
    return _ks_finish(cum, totals, by_col, "ks_two_sample_by")


def _ks_finish(
    cum: DataFrame, totals: DataFrame, by_col: str, fn: str
) -> DataFrame:
    """KS finisher over the shared segmented prefix-sum substrate —
    factored so :func:`drift_panel_by` computes the identical statistic
    from ONE materialized counts frame (the finisher IS the registered
    contract; the panel cannot drift from :func:`ks_two_sample_by`)."""
    stat = (
        cum.join(F.broadcast(totals), on=by_col)
        .groupBy(by_col)
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(
                F.abs(
                    F.col("_cuma") * F.col("n_b")
                    - F.col("_cumb") * F.col("n_a")
                )
            ).alias("ks_num"),
        )
    )
    guard = _i64_guard(
        fn,
        F.col("n_a")
        <= F.expr(f"{_MICRO_I64_BOUND} div greatest(n_b, 1)"),
    )
    return stat.select(
        by_col,
        "n_a",
        "n_b",
        "ks_num",
        (
            F.expr("(ks_num * 1000000) div greatest(n_a * n_b, 1)") + guard
        ).alias("ks_d_micro"),
    )


def mann_whitney_u_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    split_col: Column,
    scale: int = 100,
    num_buckets: int = 256,
) -> DataFrame:
    """Per-segment exact Mann-Whitney U / AUC — the stochastic-dominance
    scan next to :func:`ks_two_sample_by`: one row per segment,
    (``by_col``, n_a, n_b, u2_a, u2_b, auc_micro), doubled-midrank
    integer contract with the U-sum law u2_a + u2_b == 2*n_a*n_b
    holding PER SEGMENT, int64 bounds guarded in-plan. Same
    per-segment substrate; the weighted rank sum is one map-side-
    combinable hash-agg per segment."""
    cum, totals = _cohort_value_cum_by(
        df, by_col, value_col, split_col, scale, num_buckets,
        fn="mann_whitney_u_by",
    )
    return _mw_finish(cum, totals, by_col, "mann_whitney_u_by")


def _mw_finish(
    cum: DataFrame, totals: DataFrame, by_col: str, fn: str
) -> DataFrame:
    """Mann-Whitney finisher over the shared segmented substrate —
    factored for :func:`drift_panel_by` like :func:`_ks_finish`."""
    per_v = cum.select(
        by_col,
        "_ca",
        ((F.col("_cuma") + F.col("_cumb"))
         - (F.col("_ca") + F.col("_cb"))).alias("_cball"),
        (F.col("_ca") + F.col("_cb")).alias("_call"),
    )
    r2a = per_v.groupBy(by_col).agg(
        F.sum(
            F.col("_ca") * (2 * F.col("_cball") + F.col("_call") + 1)
        ).alias("_r2a")
    )
    return (
        r2a.join(F.broadcast(totals), on=by_col)
        .select(
            by_col,
            "n_a",
            "n_b",
            (F.col("_r2a") - F.col("n_a") * (F.col("n_a") + 1)).alias(
                "u2_a"
            ),
        )
        .select(
            by_col,
            "n_a",
            "n_b",
            "u2_a",
            (2 * F.col("n_a") * F.col("n_b") - F.col("u2_a")).alias("u2_b"),
            (
                F.expr("(u2_a * 1000000) div greatest(2 * n_a * n_b, 1)")
                + _i64_guard(
                    fn,
                    F.col("n_a")
                    <= F.expr(
                        f"{_MICRO_I64_BOUND // 2} div greatest(n_b, 1)"
                    ),
                    F.col("n_a") + F.col("n_b") < F.lit(1 << 31),
                )
            ).alias("auc_micro"),
        )
    )


def exact_quantiles_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    probs_pct: Sequence[int] = (25, 50, 75),
    scale: int = 100,
    num_buckets: int = 256,
) -> DataFrame:
    """EXACT nearest-rank quantiles per segment WITHOUT sorting the
    corpus — the exact counterpart to ``percentile_approx`` for the
    cases where a drift gate or an SLA needs the true value, not a
    sketch bound. → one row per (segment, prob):
    (``by_col``, p_pct, n, q_scaled) with q_scaled the scaled-long
    value at nearest rank ``ceil(p·n/100)`` (the classic Type-1 /
    inverted-ECDF definition — every output is an ACTUAL data value).

    Scale shape: the rank/ECDF substrate again — per-(segment, value)
    counts (one hash-agg, map-side combined, O(V) groups), the
    per-segment two-phase parallel prefix sum (every window keyed by
    (segment, bucket); nothing ever sorts rows), then the quantile
    probe is a RANK-CUT FILTER over the cumulative grid: the row
    containing rank r is the unique one with cum−cnt < r ≤ cum, so
    each requested prob selects exactly one grid row per segment — a
    map-side predicate against broadcast totals, no join explosion,
    probs ride a literal explode. Empty segments yield no rows (rank
    cut, never a scalar subquery — the r12 registration rule).

    Integer contract: values are scaled longs, ranks are exact
    integers — ``ceil(p·n/100)`` as ``(p·n + 99) div 100``, the
    positive-operand form that is identical under BOTH truncating
    division (Spark ``div``, DuckDB ``//``) and floor division; the
    tempting ``-((-a) div b)`` ceiling trick silently degrades to
    FLOOR under truncation and is exactly the cross-engine division
    trap the suite's standing rules warn about."""
    probs = sorted(set(int(p) for p in probs_pct))
    if not probs or probs[0] < 1 or probs[-1] > 100:
        raise ValueError("probs_pct must be integers in [1, 100]")
    # the shared segmented substrate with a constant-true split: cohort
    # A is every row, so _ca/_cuma/n_a ARE the per-value count, the
    # inclusive cumulative, and the segment total — one definition of
    # the bucketed prefix sum instead of a third inline copy
    cum, totals = _cohort_value_cum_by(
        df, by_col, value_col, F.lit(True), scale, num_buckets,
        fn="exact_quantiles_by",
    )
    probed = (
        cum.join(
            F.broadcast(totals.select(by_col, F.col("n_a").alias("n"))),
            on=by_col,
        )
        .select(
            by_col,
            "n",
            "_xs",
            F.col("_ca").alias("_c"),
            F.col("_cuma").alias("_cum"),
            F.explode(
                F.array(*[F.lit(p) for p in probs])
            ).alias("p_pct"),
        )
        .withColumn("_rank", F.expr("(p_pct * n + 99) div 100"))
        .filter(
            (F.col("_cum") >= F.col("_rank"))
            & (F.col("_cum") - F.col("_c") < F.col("_rank"))
        )
    )
    return probed.select(
        by_col,
        F.col("p_pct").cast("int").alias("p_pct"),
        F.col("n").cast("long").alias("n"),
        F.col("_xs").cast("long").alias("q_scaled"),
    )


def psi_binned_by(
    df: DataFrame,
    by_col: str,
    split_col: Column,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 10,
    scale: int = 100,
) -> DataFrame:
    """Per-SEGMENT Population Stability Index — the drift-monitor scan
    completing the segment-capable family next to
    :func:`ks_two_sample_by` / :func:`mann_whitney_u_by` ("WHICH
    segment's distribution shifted, and in WHICH bins?"): one row per
    (``by_col``, non-empty bin) with both cohorts' counts,
    Laplace-smoothed shares, and the bin's PSI contribution
    ``(pa − pb)·ln(pa/pb)`` rounded to 6 dp (the tf_idf ln rule) —
    smoothing uses the PER-SEGMENT cohort totals, so each segment's
    contributions sum to that segment's scalar PSI as
    :func:`psi_binned` defines it globally, MODULO the scaled-grid
    bucketing noted below: this variant buckets ``round(v·scale)``
    (the shared substrate's grid) while :func:`psi_binned` buckets raw
    values, so a value within ``1/(2·scale)`` of a bin edge can land
    one bin over vs the global form (r14 ADVICE; the reduction law in
    the tests picks values away from scaled-grid bin boundaries for
    exactly this reason).

    Substrate reuse (no fourth inline copy): rides
    :func:`_cohort_value_counts_by`, the same per-(segment,
    scaled-value) conditional-count stage the KS/MW/quantile family
    consumes — bins derive from the SCALED grid (``round(v·scale)``,
    then equi-width clamped bucketing over [lo, hi]), which the twin
    replays; a raw-value edge case that rounds across a bin boundary
    lands identically on both engines by construction.

    Scale shape: one corpus scan → O(distinct (segment, value)) counts
    (map-side combined) → one bin-grain hash-agg (≤ segments × nbins
    groups) → per-segment totals joined back as a broadcast (the
    :data:`_SEGMENT_BROADCAST_CAP` contract, enforced IN-PLAN by the
    guard the shared counts stage attaches to the totals frame). No
    sort, no window, no per-row state."""
    if nbins < 1 or not (hi > lo):
        raise ValueError("psi_binned_by: need hi > lo and nbins >= 1")
    g, totals = _cohort_value_counts_by(
        df, by_col, value_col, split_col, scale, fn="psi_binned_by"
    )
    return _psi_bin_rows(g, totals, by_col, lo, hi, nbins, scale)


def _psi_bin_rows(
    g: DataFrame,
    totals: DataFrame,
    by_col: str,
    lo: float,
    hi: float,
    nbins: int,
    scale: int,
) -> DataFrame:
    """PSI bin-grain finisher over the shared counts frame — factored
    for :func:`drift_panel_by` like :func:`_ks_finish`."""
    w = (float(hi) - float(lo)) / nbins
    bucket = F.least(
        F.greatest(
            F.floor(
                (F.col("_xs").cast("double") / scale - float(lo)) / F.lit(w)
            ),
            F.lit(0),
        ),
        F.lit(nbins - 1),
    ).cast("int")
    counts = (
        g.select(by_col, bucket.alias("bucket"), "_ca", "_cb")
        .groupBy(by_col, "bucket")
        .agg(
            F.sum("_ca").cast("long").alias("bin_a"),
            F.sum("_cb").cast("long").alias("bin_b"),
        )
    )
    sm = float(nbins) / 2.0
    pa = (F.col("bin_a") + 0.5) / (F.col("n_a") + sm)
    pb = (F.col("bin_b") + 0.5) / (F.col("n_b") + sm)
    return counts.join(F.broadcast(totals), on=by_col).select(
        by_col,
        "bucket",
        F.col("bin_a").alias("n_a"),
        F.col("bin_b").alias("n_b"),
        F.round(pa, 6).alias("share_a"),
        F.round(pb, 6).alias("share_b"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_contrib"),
    )


def bootstrap_ci_mean_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    id_col: str,
    n_resamples: int = 64,
    seed: int = 42,
    scale: int = 10**4,
    alpha_pct: int = 5,
) -> DataFrame:
    """Per-SEGMENT Poisson-bootstrap CI for the mean of ``value_col`` —
    the uncertainty primitive made segment-capable like the rest of the
    drift family (:func:`ks_two_sample_by` / :func:`mann_whitney_u_by`
    / :func:`psi_binned_by`): one row per segment, (``by_col``,
    n_resamples, point_micro, lo_micro, hi_micro), all exact integers.
    "Did THIS segment's mean move beyond resampling noise?" is the
    per-cohort question the global interval cannot answer.

    Same one-scan Poisson shape as :func:`bootstrap_ci_mean` (weights
    from the avalanche-mixed (id, r, seed) hash through the embedded
    integer CDF ladder — no engine RNG, twin replays every weight):
    each row explodes into ``n_resamples`` contributions, the partial
    aggregation leaves segments × n_resamples groups regardless of
    corpus size, and the nearest-rank cut runs inside a per-segment
    sorted array of exactly ``n_resamples`` means (every segment with
    >= 1 row generates ALL resample groups by construction, so the
    array length is a constant, never data-dependent). Segments ride
    the group keys — per-segment cardinality multiplies PARALLELISM,
    not any task's state; the dist⋈point stitch is a broadcast join on
    the segment key instead of the global scalar cross join."""
    if n_resamples < 2:
        raise ValueError("n_resamples must be >= 2")
    if not 0 < alpha_pct < 100:
        raise ValueError("alpha_pct must be in (0, 100)")
    xs = F.round(F.col(value_col).cast("double") * scale).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(id_col).isNotNull()
        & F.col(by_col).isNotNull()
    ).select(F.col(by_col), F.col(id_col).alias("_id"), xs.alias("_xs"))
    # id-only hash base staged before the explode — the bootstrap_ci_mean
    # rule (one mixer + wrap per ROW instead of per (row, resample))
    per_r = (
        base.select(
            by_col,
            F.expr(_bootstrap_idbase_sql("_id", "spark")).alias("_idb"),
            "_xs",
            F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias(
                "r"
            ),
        )
        .withColumn(
            "w",
            F.expr(_bootstrap_weight_from_base_sql("_idb", "r", seed, "spark")),
        )
        .groupBy(by_col, "r")
        .agg(
            F.sum(F.col("w") * F.col("_xs")).alias("_swx"),
            F.sum("w").alias("_sw"),
        )
        .select(
            by_col,
            "r",
            F.when(
                F.col("_sw") > 0,
                F.floor(
                    F.col("_swx").cast("double")
                    / (F.col("_sw") * scale).cast("double")
                    * F.lit(1000000.0)
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_micro"),
        )
    )
    lo_rank = max(1, -(-n_resamples * alpha_pct // 200))  # ceil
    hi_rank = max(1, -(-n_resamples * (200 - alpha_pct) // 200))
    point = base.groupBy(by_col).agg(
        F.when(
            F.count(F.lit(1)) > 0,
            F.floor(
                F.sum("_xs").cast("double")
                / (F.count(F.lit(1)) * scale).cast("double")
                * F.lit(1000000.0)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("point_micro")
    )
    # the point frame is broadcast into the dist join below — enforce
    # the per-segment broadcast contract in-plan like the KS/MW family
    point = point.select(
        by_col,
        (
            F.col("point_micro")
            + _segment_cap_guard("bootstrap_ci_mean_by")
        ).alias("point_micro"),
    )
    dist = (
        per_r.groupBy(by_col)
        .agg(F.array_sort(F.collect_list("mean_micro")).alias("_means"))
        .filter(F.size("_means") > 0)
        .select(
            by_col,
            F.lit(n_resamples).cast("long").alias("n_resamples"),
            F.try_element_at("_means", F.lit(lo_rank)).alias("lo_micro"),
            F.try_element_at("_means", F.lit(hi_rank)).alias("hi_micro"),
        )
    )
    return dist.join(F.broadcast(point), on=by_col).select(
        by_col, "n_resamples", "point_micro", "lo_micro", "hi_micro"
    )


def drift_panel_by(
    df: DataFrame,
    by_col: str,
    value_col: str,
    split_col: Column,
    lo: float,
    hi: float,
    nbins: int = 10,
    scale: int = 100,
    num_buckets: int = 256,
    probs_pct: Sequence[int] = (50, 90),
) -> DataFrame:
    """The per-segment drift DASHBOARD row — KS, Mann-Whitney AUC,
    total PSI, and per-cohort exact quantiles for every segment, all
    computed from ONE scan of the fact table (VERDICT r14 ask #7: the
    segmented family is complete, this composes it and proves the
    shared substrate amortizes — the 100 TB monitoring shape, where
    the fact scan IS the cost and four separate monitoring queries
    would pay it four times).

    → one row per segment: (``by_col``, n_a, n_b, ks_d_micro,
    auc_micro, psi_micro, and q{p}_a_scaled / q{p}_b_scaled /
    q{p}_delta_scaled per requested prob). ``psi_micro`` is the
    segment's total PSI in micro units (each 6-dp bin contribution
    rounded to an exact long, then summed — integer-associative, so
    partial aggregation order cannot ulp-drift it). Quantile columns
    are NULL for an empty cohort (rank-cut probe, never a scalar
    subquery).

    One-scan mechanics: the per-(segment, scaled-value) conditional
    counts frame ``g`` (:func:`_cohort_value_counts_by` — the stage
    every family in this module consumes) is materialized ONCE via an
    eager ``localCheckpoint``; Catalyst does not share subplans across
    join branches, so WITHOUT the checkpoint each statistic family
    would re-scan the corpus — with it, the four finishers
    (:func:`_ks_finish`, :func:`_mw_finish`, :func:`_psi_bin_rows`,
    and the rank-cut quantile probe) all read the materialized counts
    (O(distinct (segment, value)) rows, the corpus never again), and
    the panel is BIT-IDENTICAL per statistic to the four registered
    standalone queries because the finishers ARE their registered
    contracts (pytest law). Segment totals are re-derived from ``g``
    itself (summing per-value counts — same values as the counts
    stage's own totals) so not even the totals agg touches the corpus
    a second time. The eager checkpoint makes the builder itself run a
    job, so its cost lands in the builder call, not the returned plan."""
    probs = sorted(set(int(p) for p in probs_pct))
    if not probs or probs[0] < 1 or probs[-1] > 100:
        raise ValueError("probs_pct must be integers in [1, 100]")
    if nbins < 1 or not (hi > lo):
        raise ValueError("drift_panel_by: need hi > lo and nbins >= 1")
    g, _ = _cohort_value_counts_by(
        df, by_col, value_col, split_col, scale, fn="drift_panel_by"
    )
    g = g.localCheckpoint(eager=True)
    totals = g.groupBy(by_col).agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    totals = totals.select(
        by_col,
        (F.col("n_a") + _segment_cap_guard("drift_panel_by")).alias("n_a"),
        "n_b",
    )
    cum = _cum_from_counts(g, by_col, num_buckets, "drift_panel_by")
    ks = _ks_finish(cum, totals, by_col, "drift_panel_by")
    mw = _mw_finish(cum, totals, by_col, "drift_panel_by").select(
        by_col, "auc_micro"
    )
    psi_tot = (
        _psi_bin_rows(g, totals, by_col, lo, hi, nbins, scale)
        .groupBy(by_col)
        .agg(
            F.sum(
                F.round(F.col("psi_contrib") * 1000000.0).cast("long")
            ).alias("psi_micro")
        )
    )

    def _quant(cnt: str, cumc: str, tot: str, tag: str) -> DataFrame:
        probed = (
            cum.join(
                F.broadcast(
                    totals.select(by_col, F.col(tot).alias("_n_t"))
                ),
                on=by_col,
            )
            .select(
                by_col,
                "_xs",
                F.col(cnt).alias("_c"),
                F.col(cumc).alias("_cm"),
                "_n_t",
                F.explode(F.array(*[F.lit(p) for p in probs])).alias(
                    "p_pct"
                ),
            )
            .withColumn("_rank", F.expr("(p_pct * _n_t + 99) div 100"))
            .filter(
                (F.col("_n_t") > 0)
                & (F.col("_cm") >= F.col("_rank"))
                & (F.col("_cm") - F.col("_c") < F.col("_rank"))
            )
        )
        return probed.groupBy(by_col).agg(
            *[
                F.max(
                    F.when(F.col("p_pct") == p, F.col("_xs"))
                )
                .cast("long")
                .alias(f"q{p}_{tag}_scaled")
                for p in probs
            ]
        )

    qa = _quant("_ca", "_cuma", "n_a", "a")
    qb = _quant("_cb", "_cumb", "n_b", "b")
    panel = (
        ks.join(F.broadcast(mw), on=by_col, how="left")
        .join(F.broadcast(psi_tot), on=by_col, how="left")
        .join(F.broadcast(qa), on=by_col, how="left")
        .join(F.broadcast(qb), on=by_col, how="left")
    )
    return panel.select(
        by_col,
        "n_a",
        "n_b",
        "ks_d_micro",
        "auc_micro",
        "psi_micro",
        *[
            c
            for p in probs
            for c in (
                F.col(f"q{p}_a_scaled"),
                F.col(f"q{p}_b_scaled"),
                (F.col(f"q{p}_a_scaled") - F.col(f"q{p}_b_scaled")).alias(
                    f"q{p}_delta_scaled"
                ),
            )
        ],
    )
