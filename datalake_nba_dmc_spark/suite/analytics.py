"""Analytic-surface queries: window extensions (ntile / percent_rank /
moving frames / first-last) and exact distributed statistics.

The reference's single window is row_number+filter (SURVEY.md §2.7); this
module adds the rest of the window-function surface an analytics user
expects, plus moments/correlation computed deterministically at any scale
(operators/stats.py explains why plain stddev/corr can't be oracled).

Every double produced here is a fixed expression over exact integer sums,
so the DuckDB hash comparison is bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators import stats, windows
from datalake_nba_dmc_spark.sources import TableRegistry
from datalake_nba_dmc_spark.suite import query


@query(
    "w5_ntile_quartiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal NULLS FIRST, c_custkey) AS bucket
    FROM customer
    """,
)
def w5_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height quartiles of account balance within each market segment.
    One shuffle on the partition key; c_custkey tiebreaker pins bucket
    boundaries for rows with equal balances."""
    c = TableRegistry(spark, sf_dir).customer
    return windows.with_ntile(
        c,
        ["c_mktsegment"],
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        4,
    ).select("c_custkey", "c_mktsegment", "bucket")


@query(
    "w6_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey,
           (CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
            / 100.0) / COUNT(*) OVER w AS o_totalprice_mavg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
)
def w6_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-order moving average of spend per customer — explicit rows-frame,
    exact cent-scaled frame sums (windows.with_moving_exact_avg)."""
    o = TableRegistry(spark, sf_dir).orders
    return windows.with_moving_exact_avg(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        "o_totalprice",
        preceding=2,
        scale=100,
    ).select("o_custkey", "o_orderkey", "o_totalprice_mavg")


@query(
    "w7_first_last_order",
    oracle="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice)  OVER w AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w7_first_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last order price per customer over the FULL partition frame —
    the default growing frame would silently make last_value a running
    value (windows.with_first_last pins the frame)."""
    o = TableRegistry(spark, sf_dir).orders
    return windows.with_first_last(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        "o_totalprice",
        "first_price",
        "last_price",
    ).select("o_custkey", "o_orderkey", "first_price", "last_price")


@query(
    "w8_percent_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST()    OVER w AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal NULLS FIRST, c_custkey)
    """,
)
def w8_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist — integer-ratio window functions, exactly
    comparable across engines with the unique (acctbal, custkey) order."""
    c = TableRegistry(spark, sf_dir).customer
    return windows.with_percent_rank(
        c,
        ["c_mktsegment"],
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        alias="pct_rank",
        cume_alias="cume",
    ).select("c_custkey", "c_mktsegment", "pct_rank", "cume")


@query(
    "stat_exact_moments",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             COUNT(*) AS _n,
             CAST(SUM(CAST(round(l_quantity * 1) AS BIGINT)) AS BIGINT) AS _sx,
             CAST(SUM(CAST(round(l_quantity * 1) AS BIGINT)
                      * CAST(round(l_quantity * 1) AS BIGINT)) AS BIGINT) AS _sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           _n AS l_quantity_n,
           CAST(_sx AS DOUBLE) / 1 / CAST(_n AS DOUBLE) AS l_quantity_mean,
           (CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
             - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
             / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1)) / 1.0
             AS l_quantity_var,
           sqrt((CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
             - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
             / (CAST(_n AS DOUBLE) * (CAST(_n AS DOUBLE) - 1)) / 1.0)
             AS l_quantity_std
    FROM a
    """,
)
def stat_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n/mean/variance/stddev of quantity per returnflag, from exact integer
    sums (operators/stats.exact_moments). One map-side-combined aggregate;
    the shuffle carries 3 longs per group."""
    li = TableRegistry(spark, sf_dir).lineitem
    return stats.exact_moments(li, ["l_returnflag"], "l_quantity", scale=1)


@query(
    "stat_corr_qty_price",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             COUNT(*) AS _n,
             CAST(SUM(qx) AS BIGINT) AS _sx, CAST(SUM(qy) AS BIGINT) AS _sy,
             CAST(SUM(qx * qx) AS BIGINT) AS _sxx,
             CAST(SUM(qy * qy) AS BIGINT) AS _syy,
             CAST(SUM(qx * qy) AS BIGINT) AS _sxy
      FROM (
        SELECT l_returnflag,
               CAST(round(l_quantity * 1) AS BIGINT) AS qx,
               CAST(round(l_extendedprice * 1) AS BIGINT) AS qy
        FROM lineitem
      ) GROUP BY l_returnflag
    )
    SELECT l_returnflag, _n AS n,
           (CAST(_n AS DOUBLE) * CAST(_sxy AS DOUBLE)
             - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))
           / (sqrt(CAST(_n AS DOUBLE) * CAST(_sxx AS DOUBLE)
                   - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))
              * sqrt(CAST(_n AS DOUBLE) * CAST(_syy AS DOUBLE)
                     - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE)))
           AS corr_qty_price
    FROM a
    """,
)
def stat_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs (whole-dollar) extended price per
    returnflag — exact integer sums, double combination (operators/stats.
    exact_corr). Dollar scale keeps Σy² within long range out to sf100;
    beyond that the accumulators move to decimal(38,0)."""
    li = TableRegistry(spark, sf_dir).lineitem
    return stats.exact_corr(
        li,
        ["l_returnflag"],
        "l_quantity",
        "l_extendedprice",
        xscale=1,
        yscale=1,
        alias="corr_qty_price",
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube: exactly three
    groupings) with grouping flags to disambiguate produced NULLs. One
    expand + one shuffle — same cost model as rollup."""
    li = TableRegistry(spark, sf_dir).lineitem
    gs = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    )
    return gs.agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.count("*").alias("n"),
        F.sum(F.round(F.col("l_quantity")).cast("long")).cast("double").alias(
            "sum_qty"
        ),
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS big_share,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER/count_if) — single pass, no joins or
    self-unions for per-predicate counts."""
    o = TableRegistry(spark, sf_dir).orders
    big = F.col("o_totalprice") > 150000.0
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_total"),
        F.count_if(big).alias("n_big"),
        (F.count_if(big).cast("double") / F.count("*").cast("double")).alias(
            "big_share"
        ),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
    )


@query(
    "grouped_minmax_norm",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CASE WHEN MAX(c_acctbal) OVER w > MIN(c_acctbal) OVER w
                THEN (c_acctbal - MIN(c_acctbal) OVER w)
                     / (MAX(c_acctbal) OVER w - MIN(c_acctbal) OVER w)
                ELSE 0.0 END AS minmax
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment)
    """,
)
def grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment min-max normalization through the grouped-map Pandas
    path (operators/grouped.py) — the batch ``applyInPandas`` counterpart
    of the streaming ``applyInPandasWithState`` operator, verified against
    a plain window-function oracle so the Arrow round-trip itself is
    differentially tested."""
    from datalake_nba_dmc_spark.operators.grouped import grouped_minmax_norm as g

    c = TableRegistry(spark, sf_dir).customer.select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return g(c, ["c_mktsegment"], "c_acctbal")


@query(
    "sketch_distinct_rollup",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           1 AS sketch_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct rollup (operators/sketches.py): one scan
    builds a DataSketches-HLL blob per (l_returnflag, ship-year); the
    per-returnflag count comes from ``hll_union_agg`` over those blobs
    ALONE — the 100 TB pattern where a persisted sketch table answers
    every coarser rollup without rescanning the fact table (unlike
    ``approx_count_distinct``, whose sketch cannot be stored or
    re-merged). Driver oracle via accuracy certificate: the estimate must
    land within 10% of the exact count (lg_k=12 → 1.6% RSE; union does
    not widen the bound), and the exact count rides along so real values
    are hash-compared."""
    from datalake_nba_dmc_spark.operators.sketches import distinct_rollup

    li = TableRegistry(spark, sf_dir).lineitem
    est = distinct_rollup(
        li.select("l_returnflag", F.year("l_shipdate").alias("ship_year"), "l_orderkey"),
        fine_cols=["l_returnflag", "ship_year"],
        coarse_cols=["l_returnflag"],
        key_col="l_orderkey",
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    within = (
        F.abs(F.col("distinct_est") - F.col("exact_orders"))
        <= F.lit(0.10) * F.col("exact_orders")
    )
    # eqNullSafe: a plain equi-join silently drops the NULL-returnflag
    # group (NULL keys never match), losing a row the oracle keeps
    return (
        exact.alias("e")
        .join(
            est.alias("s"),
            F.col("e.l_returnflag").eqNullSafe(F.col("s.l_returnflag")),
        )
        .select(
            F.col("e.l_returnflag").alias("l_returnflag"),
            "exact_orders",
            within.cast("int").alias("sketch_ok"),
        )
    )


@query(
    "w9_time_range_hour",
    oracle="""
    SELECT user_id, event_id,
           COUNT(*) OVER w AS n_prev_hour,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) OVER w AS DOUBLE)
             / 10000.0 AS sum_prev_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """,
)
def w9_time_range_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour activity per event: an event-TIME range frame (not a
    rows frame) — each row aggregates every same-user event in the hour
    ending at its own timestamp (operators/windows.with_time_range_sum).
    Frames at exact microsecond precision match DuckDB's interval frame."""
    e = TableRegistry(spark, sf_dir).events
    return windows.with_time_range_sum(
        e,
        ["user_id"],
        "ts",
        "value",
        range_seconds=3600,
        n_alias="n_prev_hour",
        sum_alias="sum_prev_hour",
    ).select("user_id", "event_id", "n_prev_hour", "sum_prev_hour")


@query(
    "sketch_quantile_rollup",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
      FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, v,
             SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum_c,
             SUM(c) OVER (PARTITION BY l_returnflag) AS n
      FROM counts
    )
    SELECT l_returnflag,
           MIN(CASE WHEN cum_c >= (n + 1) // 2 THEN v END) AS exact_med,
           MIN(CASE WHEN cum_c >= (9 * n + 9) // 10 THEN v END) AS exact_p90,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           1 AS kll_ok
    FROM cum GROUP BY 1
    """,
)
def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-QUANTILE sketch rollup (operators/sketches.kll_partial /
    kll_quantile_rollup): one scan builds a DataSketches-KLL blob per
    (l_returnflag, ship-year); per-returnflag quantiles come from
    ``kll_merge_agg_double`` over those blobs ALONE — the quantile twin of
    the HLL distinct rollup (``approx_percentile`` state cannot be stored
    or re-merged; a persisted KLL sketch table answers any later
    quantile/rank question without rescanning the fact table). Driver
    oracle via accuracy certificate: the merged sketch's median/p90
    estimates must land within ±2.0 of the exact discrete quantiles (KLL
    k=200 → 1.65% rank error, < 1 value step on the uniform 1..50
    l_quantity domain; merging does not widen the bound). The exact
    quantiles ride along as integer-exact discrete quantiles (smallest
    value whose inclusive cumulative count reaches ceil(q·n), integer
    threshold arithmetic) so real values are hash-compared bit-stably —
    interpolated percentile_cont values could differ in ULPs between
    engines."""
    from datalake_nba_dmc_spark.operators.sketches import (
        kll_partial,
        kll_quantile_rollup,
    )

    li = TableRegistry(spark, sf_dir).lineitem
    sk = kll_quantile_rollup(
        kll_partial(
            li.select(
                "l_returnflag", F.year("l_shipdate").alias("ship_year"), "l_quantity"
            ),
            ["l_returnflag", "ship_year"],
            "l_quantity",
        ),
        ["l_returnflag"],
        quantiles=[0.5, 0.9],
    )

    # quantiles are defined over the NON-NULL values (matching the KLL
    # sketch, which ignores null inputs, and the oracle's filtered CTE)
    counts = (
        li.filter(F.col("l_quantity").isNotNull())
        .groupBy("l_returnflag", F.col("l_quantity").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("l_returnflag")
    cum = counts.select(
        "l_returnflag",
        "v",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    # integer-division thresholds, mirrored exactly: (n+1)//2 and (9n+9)//10
    exact = cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("cum_c") >= F.floor((F.col("n") + 1) / 2), F.col("v"))
        ).alias("exact_med"),
        F.min(
            F.when(F.col("cum_c") >= F.floor((F.lit(9) * F.col("n") + 9) / 10), F.col("v"))
        ).alias("exact_p90"),
        F.max("n").alias("n_rows"),
    )
    # value-space certificate: l_quantity is uniform over 1..50, so the
    # 1.65% KLL rank error is < 1 value step; ±2.0 covers it plus the ≤1
    # step offset between KLL's quantile definition and the discrete one.
    # (kll_sketch_get_rank_double needs a FOLDABLE probe, so a rank-space
    # certificate can't use per-group exact values.)
    ok = (F.abs(F.col("q50") - F.col("exact_med")) <= 2.0) & (
        F.abs(F.col("q90") - F.col("exact_p90")) <= 2.0
    )
    # eqNullSafe: keep the NULL-returnflag group (see sketch_distinct_rollup)
    return (
        exact.alias("e")
        .join(
            sk.alias("s"),
            F.col("e.l_returnflag").eqNullSafe(F.col("s.l_returnflag")),
        )
        .select(
            F.col("e.l_returnflag").alias("l_returnflag"),
            "exact_med",
            "exact_p90",
            "n_rows",
            ok.cast("int").alias("kll_ok"),
        )
    )


@query(
    "sketch_theta_overlap",
    oracle="""
    WITH a AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ), b AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    SELECT
      (SELECT COUNT(*) FROM a WHERE o_custkey IN (SELECT o_custkey FROM b))
        AS exact_inter,
      (SELECT COUNT(*) FROM a WHERE o_custkey NOT IN (SELECT o_custkey FROM b))
        AS exact_only_a,
      1 AS theta_ok
    """,
)
def sketch_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-customer overlap between the URGENT and HIGH order segments
    via Theta sketches (operators/sketches.theta_overlap) — set
    INTERSECTION/DIFFERENCE of distincts, the algebra HLL cannot do (HLL
    only unions). One scan builds both segment sketches; the overlap and
    A-minus-B reach are sketch algebra, no distinct-heavy self-join. At
    100 TB this answers audience-overlap questions from a persisted
    per-segment sketch table. Certificate: both estimates within 5% of the
    exact counts (lg_k=12 keeps the sketch exact below ~4k distincts, so
    test scales are exact); exact counts ride along for the value-hash."""
    from datalake_nba_dmc_spark.operators.sketches import theta_overlap

    o = TableRegistry(spark, sf_dir).orders
    est = theta_overlap(
        o,
        "o_custkey",
        F.col("o_orderpriority") == "1-URGENT",
        F.col("o_orderpriority") == "2-HIGH",
    )
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey").distinct()
    exact = a.join(b, "o_custkey", "left_semi").agg(
        F.count("*").alias("exact_inter")
    ).crossJoin(
        a.join(b, "o_custkey", "left_anti").agg(F.count("*").alias("exact_only_a"))
    )
    ok = (
        (
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            <= F.lit(0.05) * F.col("exact_inter")
        )
        & (
            F.abs(F.col("est_diff_a") - F.col("exact_only_a"))
            <= F.lit(0.05) * F.col("exact_only_a")
        )
    )
    return exact.crossJoin(est).select(
        "exact_inter", "exact_only_a", ok.cast("int").alias("theta_ok")
    )


@query(
    "mart_rfm_segments",
    oracle="""
    WITH base AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS monetary
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, n_orders, monetary,
           NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
           NTILE(5) OVER (ORDER BY n_orders DESC, o_custkey) AS f_score,
           NTILE(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
    FROM base
    """,
)
def mart_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation — the
    classic CRM mart: one agg over orders, then three global NTILE(5)
    scores (1 = best). Monetary sums are scaled-long exact; every NTILE
    carries the o_custkey tiebreaker so equal measures land in
    deterministic quintiles. Scale note: a global NTILE is a single-task
    sort at the mart grain (customers, not orders) — fine to |customers| ≈
    10⁸; beyond that, swap to percent_rank over a range-partitioned sort
    or bucket by approxQuantile boundaries."""
    from pyspark.sql import Window

    o = TableRegistry(spark, sf_dir).orders
    scaled = F.round(F.col("o_totalprice") * 10000).cast("long")
    base = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
        (F.sum(scaled).cast("double") / 10000.0).alias("monetary"),
    )
    return base.select(
        "o_custkey",
        "last_order",
        "n_orders",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.col("last_order").desc(), F.col("o_custkey")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("n_orders").desc(), F.col("o_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("o_custkey")))
        .alias("m_score"),
    )


@query(
    "agg_incremental_maintenance",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 10000) AS BIGINT)) AS BIGINT)
             AS revenue_scaled
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta update (operators/aggregates.
    merge_partial_aggs): the per-priority mart is maintained
    incrementally — aggregate the historical two-thirds once (the stored
    STATE), aggregate only the new batch, and fold the batch partials
    into the state by summing — then proven equal to the oracle's
    full-table aggregate. The 100 TB pattern where a daily refresh
    touches one day's rows instead of rescanning the fact table; works
    for any distributive measure (scaled-long sums here; HLL/KLL sketch
    states cover distincts/quantiles)."""
    from datalake_nba_dmc_spark.operators.aggregates import merge_partial_aggs

    o = TableRegistry(spark, sf_dir).orders
    scaled = F.round(F.col("o_totalprice") * 10000).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(scaled).alias("revenue_scaled"),
        )

    state = partial(o.filter(F.col("o_orderkey") % 3 != 0))
    delta = partial(o.filter(F.col("o_orderkey") % 3 == 0))
    return merge_partial_aggs(state, delta, ["o_orderpriority"])


@query(
    "stat_psi_price_drift",
    oracle="""
    WITH c AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0) / 60000.0) AS INT),
                            0), 9) AS bucket,
             CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS a
      FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ), g AS (
      SELECT bucket,
             CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(1 - a) AS BIGINT) AS n_b
      FROM c GROUP BY bucket
    ), t AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM g)
    SELECT bucket, n_a, n_b,
           round((n_a + 0.5) / (ta + 5.0), 6) AS share_a,
           round((n_b + 0.5) / (tb + 5.0), 6) AS share_b,
           round(((n_a + 0.5) / (ta + 5.0) - (n_b + 0.5) / (tb + 5.0))
                 * ln(((n_a + 0.5) / (ta + 5.0)) / ((n_b + 0.5) / (tb + 5.0))),
                 6) AS psi_contrib
    FROM g CROSS JOIN t
    """,
)
def stat_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift report (operators/stats.
    psi_binned): order-price distribution pre-1998 vs 1998-onward, 10
    equi-width bins over [0, 600k] — the standard feature-drift monitor a
    training pipeline runs before every data refresh. One scan, ≤ nbins
    groups, Laplace-smoothed shares so empty bins stay finite; per-bin
    contributions rounded to 6 dp (the tf_idf ln rule) and summed by the
    reader for the scalar PSI."""
    from datalake_nba_dmc_spark.operators.stats import psi_binned

    o = TableRegistry(spark, sf_dir).orders
    return psi_binned(
        o,
        split_col=F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
        value_col="o_totalprice",
        lo=0.0,
        hi=600000.0,
        nbins=10,
    )


@query(
    "mart_basket_pairs",
    oracle="""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS nb FROM items),
    sup AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s
            FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.n_ab,
           round(CAST(p.n_ab AS DOUBLE) * n.nb
                 / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS lift
    FROM pairs p
    JOIN sup sa ON p.item_a = sa.l_partkey
    JOIN sup sb ON p.item_b = sb.l_partkey
    CROSS JOIN n
    """,
)
def mart_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs over order line items
    (operators/aggregates.basket_pairs): parts co-purchased in ≥2 orders
    with their lift — the pairwise Apriori core behind recommendations.
    The self-join is keyed on the order id, so the blow-up is
    items-per-order squared (single digits), never |parts|²; supports
    and the basket total are tiny side aggregates. Lift rounded to 6 dp
    (the tf_idf cross-engine rule for transcendental-free but
    division-chained doubles)."""
    from datalake_nba_dmc_spark.operators.aggregates import basket_pairs

    li = TableRegistry(spark, sf_dir).lineitem
    return basket_pairs(li, "l_orderkey", "l_partkey", min_support=2)


@query(
    "mart_supplier_pareto",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS BIGINT)
               AS rev_scaled
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT CAST(SUM(rev_scaled) AS BIGINT) AS t FROM rev)
    SELECT l_suppkey, rev_scaled,
           CAST(SUM(rev_scaled) OVER (ORDER BY rev_scaled DESC, l_suppkey)
                AS BIGINT) AS cum_scaled,
           round(CAST(SUM(rev_scaled) OVER (ORDER BY rev_scaled DESC, l_suppkey)
                      AS DOUBLE) / t, 6) AS cum_share
    FROM rev CROSS JOIN tot
    """,
)
def mart_supplier_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / concentration curve: suppliers ranked by revenue with the
    running cumulative share — the 80/20 analysis behind vendor
    consolidation. The global running sum runs at the SUPPLIER grain
    (O(|suppliers|) rows after one fact-table aggregation), so the
    single-task window is over thousands of rows, not the fact table —
    the same mart-grain discipline as the RFM NTILEs; exact scaled-long
    sums keep the shares bit-stable."""
    from pyspark.sql import Window

    li = TableRegistry(spark, sf_dir).lineitem
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 10000).cast("long")).alias(
            "rev_scaled"
        )
    )
    tot = rev.agg(F.sum("rev_scaled").cast("long").alias("t"))
    w = (
        Window.orderBy(F.col("rev_scaled").desc(), F.col("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rev.crossJoin(F.broadcast(tot)).select(
        "l_suppkey",
        "rev_scaled",
        F.sum("rev_scaled").over(w).cast("long").alias("cum_scaled"),
        F.round(
            F.sum("rev_scaled").over(w).cast("double") / F.col("t"), 6
        ).alias("cum_share"),
    )


@query(
    "stat_gini_order_value",
    oracle="""
    WITH r AS (
      SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 10000) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_custkey) AS i,
             COUNT(*) OVER () AS n,
             SUM(v) OVER () AS s
      FROM r
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
           round(CAST(SUM((2 * i - n - 1) * v) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * MAX(s)), 6) AS gini
    FROM ranked
    """,
)
def stat_gini_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality summary behind
    whale-concentration monitoring, via the exact rank formula
    ``Σ(2i−n−1)·vᵢ / (n·Σv)`` over spend-ranked customers. The global
    rank runs at the CUSTOMER grain after one fact aggregation (the
    mart-grain window discipline); spend is scaled-long exact and the
    single division is rounded to 6 dp, so the scalar hash-matches."""
    from pyspark.sql import Window

    o = TableRegistry(spark, sf_dir).orders
    r = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 10000).cast("long")).alias("v")
    )
    w = Window.orderBy(F.col("v"), F.col("o_custkey"))
    wall = Window.partitionBy()
    ranked = r.select(
        "v",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wall).alias("n"),
        F.sum("v").over(wall).alias("s"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(
            F.sum((2 * F.col("i") - F.col("n") - 1) * F.col("v")).cast("double")
            / (F.max("n").cast("double") * F.max("s")),
            6,
        ).alias("gini"),
    )


def _hll_portable_oracle() -> str:
    """The twin evaluates the SAME dialect-rendered register aggregates
    (integer mixer + rho ladder, MAX(CASE) per register) and the SAME
    literal-embedded estimate expression — a full VALUE oracle for an
    approximate sketch, the gap the engine-private DataSketches blobs in
    sketch_distinct_rollup can only close with a tolerance certificate."""
    from datalake_nba_dmc_spark.operators.hll_portable import (
        M_REGISTERS,
        estimate_sql,
        register_agg_sql,
    )

    m = M_REGISTERS
    regs = [f"_r{j}" for j in range(m)]
    reg_select = ", ".join(
        f"{register_agg_sql('doc_id', j, 'duck', m)} AS {r}"
        for j, r in enumerate(regs)
    )
    return f"""
    WITH regs AS (
      SELECT source, {reg_select} FROM documents GROUP BY source
    )
    SELECT source, {estimate_sql(regs, m)} AS distinct_est_micro
    FROM regs
    """


@query("sketch_hll_portable", oracle=_hll_portable_oracle())
def sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count rollup (operators/
    hll_portable.hll_portable_distinct, registered r11): per-source
    distinct doc_id estimates where the HASH is a dialect-rendered
    integer avalanche mixer (no engine hash builtin), the registers are
    m flat MAX(CASE) aggregates (map-side combined, skew-immune: group
    state is m small ints however hot the group), and the estimate —
    alpha_m correction, linear-counting small range, micro-unit floor —
    is an identical-literal, identical-order expression in both engines,
    so the sketch's VALUE hash-matches bit-for-bit. The Spark side
    stages the (sum, zero-count) reductions as separate projections:
    fusing all three layers into the aggregate's generated method blew
    janino's 64 KB limit at sf0.1 and silently fell back to interpreted
    execution (r10 cross-scale finding, now a plan-census rule)."""
    from datalake_nba_dmc_spark.operators.hll_portable import (
        hll_portable_distinct,
    )

    docs = TableRegistry(spark, sf_dir).documents
    return hll_portable_distinct(docs, ["source"], "doc_id")


# --- r12 registrations: portable CMS + Poisson-bootstrap CI ------------

#: ASCII contract, DuckDB side (shared with the portable dedup family).
_CMS_ASCII = (
    "text IS NOT NULL AND octet_length(encode(text)) = length(text)"
)


def _cms_counters_oracle(depth: int, width: int) -> str:
    from datalake_nba_dmc_spark.operators.cdc import token_hash_sql
    from datalake_nba_dmc_spark.operators.dedup import _MERSENNE31
    from datalake_nba_dmc_spark.operators.portable_sketch import (
        permutation_coeffs,
    )

    th = token_hash_sql("tok", "duck")
    expanded = " UNION ALL ".join(
        f"SELECT {i} AS row_idx, "
        f"(((h % {_MERSENNE31}) * {a} + {b}) % {_MERSENNE31}) % {width} "
        "AS col_idx FROM hashed"
        for i, (a, b) in enumerate(permutation_coeffs(depth))
    )
    return rf"""
    WITH t AS (
      SELECT list_filter(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               x -> x != '') AS toks
      FROM documents WHERE {_CMS_ASCII}
    ), t2 AS (
      SELECT unnest(toks) AS tok FROM t
    ), hashed AS (
      SELECT ({th}) AS h FROM t2
    ), expanded AS ({expanded})
    SELECT row_idx, col_idx, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM expanded GROUP BY 1, 2
    """


@query("sketch_cms_counters", oracle=_cms_counters_oracle(4, 64))
def sketch_cms_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Count-Min sketch (operators/portable_sketch.cms_counters
    — Cormode & Muthukrishnan 2005): the full 4x64 counter matrix over
    token occurrences, counter (i,j) = occurrences whose i-th seeded
    affine permutation of the mixer token hash folds to column j. ONE
    hash aggregation whose group count is capped at d*w REGARDLESS of
    corpus size or token skew (a hot token partial-aggregates like any
    other — the property that makes CMS the 100 TB frequency sketch);
    shards merge by plain counter addition. Every count bit-exact vs
    the twin; mass conservation (all d row-sums equal) pytest-pinned."""
    from datalake_nba_dmc_spark.operators.portable_sketch import cms_counters

    docs = TableRegistry(spark, sf_dir).documents
    return cms_counters(docs)


def _cms_hh_oracle(k: int, depth: int, width: int) -> str:
    from datalake_nba_dmc_spark.operators.cdc import token_hash_sql
    from datalake_nba_dmc_spark.operators.dedup import _MERSENNE31
    from datalake_nba_dmc_spark.operators.portable_sketch import (
        permutation_coeffs,
    )

    th = token_hash_sql("tok", "duck")
    coeffs = permutation_coeffs(depth)
    expanded_c = " UNION ALL ".join(
        f"SELECT {i} AS row_idx, "
        f"(((h % {_MERSENNE31}) * {a} + {b}) % {_MERSENNE31}) % {width} "
        "AS col_idx FROM hashed"
        for i, (a, b) in enumerate(coeffs)
    )
    probes = " UNION ALL ".join(
        f"SELECT tok, true_cnt, {i} AS row_idx, "
        f"(((h % {_MERSENNE31}) * {a} + {b}) % {_MERSENNE31}) % {width} "
        "AS col_idx FROM topk"
        for i, (a, b) in enumerate(coeffs)
    )
    return rf"""
    WITH t AS (
      SELECT list_filter(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               x -> x != '') AS toks
      FROM documents WHERE {_CMS_ASCII}
    ), t2 AS (
      SELECT unnest(toks) AS tok FROM t
    ), hashed AS (
      SELECT ({th}) AS h FROM t2
    ), counters AS (
      SELECT row_idx, col_idx, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ({expanded_c}) GROUP BY 1, 2
    ), truec AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_cnt, ({th}) AS h
      FROM t2 GROUP BY tok
    ), topk AS (
      SELECT tok, true_cnt, h FROM truec
      ORDER BY true_cnt DESC, tok ASC LIMIT {k}
    )
    SELECT p.tok, p.true_cnt, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
    FROM ({probes}) p
    JOIN counters c USING (row_idx, col_idx)
    GROUP BY p.tok, p.true_cnt
    """


@query("sketch_cms_heavy_hitters", oracle=_cms_hh_oracle(20, 4, 64))
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by exact count with their Count-Min estimates
    (operators/portable_sketch.cms_heavy_hitters): the exact leg
    CERTIFIES the sketch — cms_est >= true_cnt on every row by
    construction (collisions only add; strictness forced and pinned by
    pytest at width 8). Deterministic top-k cut (count DESC, token ASC);
    the d*w counter table is broadcast to the probe join, never
    shuffled against the corpus. At 100 TB the exact-count leg is the
    vocabulary-wide aggregation the sketch replaces — certificate
    scaffolding at gate scales, not sketch cost."""
    from datalake_nba_dmc_spark.operators.portable_sketch import (
        cms_heavy_hitters,
    )

    docs = TableRegistry(spark, sf_dir).documents
    return cms_heavy_hitters(docs, k=20)


def _bootstrap_oracle(
    n_resamples: int, seed: int, scale: int, alpha_pct: int
) -> str:
    from datalake_nba_dmc_spark.operators.stats import (
        _bootstrap_idbase_sql,
        _bootstrap_weight_from_base_sql,
    )

    # r16: stage the id-only mixer base BEFORE the resample unnest —
    # bootstrap_weight_sql composes these same two pieces, so the
    # integers are identical, but DuckDB otherwise re-runs the id mixer
    # n_resamples× per row — pure oracle cost the driver pays at every
    # correctness check (and the sf0.1 twin test paid 270 s for)
    idb = _bootstrap_idbase_sql("o_orderkey", "duck")
    w = _bootstrap_weight_from_base_sql("idb", "r", seed, "duck")
    lo_rank = max(1, -(-n_resamples * alpha_pct // 200))
    hi_rank = max(1, -(-n_resamples * (200 - alpha_pct) // 200))
    return f"""
    WITH base AS (
      SELECT o_orderkey AS id, {idb} AS idb,
             CAST(round(o_totalprice * {scale}) AS BIGINT) AS xs
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    ), ex AS (
      SELECT idb, xs, unnest(range(0, {n_resamples})) AS r FROM base
    ), wtab AS (
      SELECT r, {w} AS w, xs FROM ex
    ), agg AS (
      SELECT r, CAST(SUM(w * xs) AS BIGINT) AS swx,
             CAST(SUM(w) AS BIGINT) AS sw
      FROM wtab GROUP BY r
    ), means AS (
      SELECT CASE WHEN sw > 0 THEN
        CAST(floor(CAST(swx AS DOUBLE)
                   / CAST(sw * {scale} AS DOUBLE) * 1000000.0) AS BIGINT)
        ELSE 0 END AS mean_micro
      FROM agg
    ), sorted AS (
      SELECT mean_micro, ROW_NUMBER() OVER (ORDER BY mean_micro) AS rk
      FROM means
    ), pt AS (
      SELECT CAST(floor(CAST(SUM(xs) AS DOUBLE)
                  / CAST(COUNT(*) * {scale} AS DOUBLE) * 1000000.0)
             AS BIGINT) AS point_micro
      FROM base
    )
    SELECT CAST({n_resamples} AS BIGINT) AS n_resamples, pt.point_micro,
           lo.mean_micro AS lo_micro, hi.mean_micro AS hi_micro
    FROM pt
    JOIN sorted lo ON lo.rk = {lo_rank}
    JOIN sorted hi ON hi.rk = {hi_rank}
    """


@query("stat_bootstrap_ci", oracle=_bootstrap_oracle(64, 42, 10**4, 5))
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap CI for mean(o_totalprice) (operators/stats.
    bootstrap_ci_mean — Chamandy et al. 2012): the metric-uncertainty
    primitive next to every point estimate. Classic resampling can't
    run at 100 TB (each resample wants its own shuffled copy); the
    Poisson(1)-weight form rides ONE scan — each row explodes into 64
    (resample, w*x, w) contributions, partial aggregation leaves 64
    groups regardless of corpus size. Weights come from the avalanche
    mixer over BOTH 31-bit halves of the id (no engine RNG; 64-bit keys
    cannot alias by congruence — r11 ADVICE) through an embedded
    integer Poisson-CDF ladder, so the twin replays every weight, every
    resample mean, and the nearest-rank cut bit-exactly. The twin joins
    the rank cut against the sorted means (not scalar subqueries) so
    EMPTY input yields zero rows on both engines."""
    from datalake_nba_dmc_spark.operators.stats import bootstrap_ci_mean

    orders = TableRegistry(spark, sf_dir).orders
    return bootstrap_ci_mean(orders, "o_totalprice", "o_orderkey")


_KS_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xs,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ia
  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
), g AS (
  SELECT xs, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM base GROUP BY xs
), c AS (
  SELECT xs,
         CAST(SUM(ca) OVER (ORDER BY xs ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (ORDER BY xs ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_b
  FROM g
), n AS (
  SELECT CAST(SUM(ia) AS BIGINT) AS n_a,
         CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n_b
  FROM base
)
SELECT n.n_a, n.n_b,
       CAST(MAX(ABS(c.cum_a * n.n_b - c.cum_b * n.n_a)) AS BIGINT) AS ks_num,
       CAST(MAX(ABS(c.cum_a * n.n_b - c.cum_b * n.n_a)) * 1000000
            // GREATEST(n.n_a * n.n_b, 1) AS BIGINT) AS ks_d_micro
FROM c CROSS JOIN n
GROUP BY n.n_a, n.n_b
HAVING COUNT(*) > 0
"""


@query("stat_ks_drift", oracle=_KS_ORACLE)
def stat_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic
    (operators/stats.ks_two_sample, registered r13): D = sup_x
    |F_a(x) - F_b(x)| between pre-1998 and 1998+ order totals — the
    distribution-free sup-norm companion to stat_psi_price_drift (PSI
    reports WHERE binned mass moved; KS is the hypothesis statistic,
    computed exactly, no binning). Integer contract: values scaled to
    longs, D carried as the cross-multiplied numerator max|cum_a*n_b -
    cum_b*n_a| (no division in the max, no float ties), micro division
    floor-exact on both engines and int64-GUARDED in-plan (r12
    ADVICE). The twin is the SEQUENTIAL formulation (one unpartitioned
    running-sum window over the value grid); the operator never builds
    that window — per-distinct-value conditional counts (O(V) groups,
    map-side combined) feed the pack_sequences two-phase parallel
    prefix sum, so the only global window runs over <=256 bucket rows
    however large the corpus."""
    from datalake_nba_dmc_spark.operators.stats import ks_two_sample

    orders = TableRegistry(spark, sf_dir).orders
    return ks_two_sample(
        orders,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
    )


_MW_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xs,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ia
  FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
), g AS (
  SELECT xs, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM base GROUP BY xs
), c AS (
  SELECT xs, ca, cb,
         CAST(SUM(ca + cb) OVER (ORDER BY xs ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cumall
  FROM g
), r AS (
  SELECT CAST(SUM(ca * (2 * (cumall - (ca + cb)) + (ca + cb) + 1))
              AS BIGINT) AS r2a
  FROM c
), n AS (
  SELECT CAST(SUM(ia) AS BIGINT) AS n_a,
         CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n_b
  FROM base
)
SELECT n.n_a, n.n_b,
       r.r2a - n.n_a * (n.n_a + 1) AS u2_a,
       2 * n.n_a * n.n_b - (r.r2a - n.n_a * (n.n_a + 1)) AS u2_b,
       (r.r2a - n.n_a * (n.n_a + 1)) * 1000000
         // GREATEST(2 * n.n_a * n.n_b, 1) AS auc_micro
FROM r CROSS JOIN n WHERE r.r2a IS NOT NULL
"""


@query("stat_mann_whitney", oracle=_MW_ORACLE)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U / AUC between the same two date cohorts
    (operators/stats.mann_whitney_u, registered r13): KS asks "did the
    distribution change shape anywhere"; U asks "does one cohort
    stochastically DOMINATE" — its normalization U_a/(n_a*n_b) is the
    AUC / common-language effect size. Integer contract: DOUBLED
    midranks so ties never produce fractions (midrank2 = 2*cb + c + 1
    per distinct scaled value), u2_a + u2_b == 2*n_a*n_b is a pinned
    law, the AUC micro division is int64-GUARDED in-plan. Shares
    ks_two_sample's _cohort_value_cum substrate — O(V) grouped counts
    + the two-phase parallel prefix sum; never sorts the corpus, never
    single-partitions the value grid. The tie-heavy hand case
    (A=[1,2,2], B=[2,3] -> U_a=1, AUC=1/6) is pytest-pinned."""
    from datalake_nba_dmc_spark.operators.stats import mann_whitney_u

    orders = TableRegistry(spark, sf_dir).orders
    return mann_whitney_u(
        orders,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
    )


_KMV_K = 16


def _kmv_topk_ctes(k: int) -> str:
    """Shared CTE chain of the KMV/theta twins: per-source DISTINCT
    mixer token hashes (mod P) and their k smallest (rank <= k)."""
    from datalake_nba_dmc_spark.operators.cdc import token_hash_sql
    from datalake_nba_dmc_spark.operators.dedup import _MERSENNE31

    th = token_hash_sql("tok", "duck")
    return rf"""
    t AS (
      SELECT source,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
               x -> x != '') AS toks
      FROM documents WHERE {_CMS_ASCII}
    ), t2 AS (
      SELECT source, unnest(toks) AS tok FROM t
    ), dh AS (
      SELECT DISTINCT source, ({th}) % {_MERSENNE31} AS h FROM t2
    ), rk AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS r
      FROM dh
    ), topk AS (SELECT * FROM rk WHERE r <= {k})
    """


def _kmv_vocab_oracle(k: int) -> str:
    from datalake_nba_dmc_spark.operators.dedup import _MERSENNE31

    return rf"""
    WITH {_kmv_topk_ctes(k)},
    pg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(MAX(h) AS BIGINT) AS maxh
      FROM topk GROUP BY source
    ), ex AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM dh GROUP BY source
    )
    SELECT pg.source, pg.n_kept,
           CAST(CASE WHEN pg.n_kept < {k} THEN {_MERSENNE31}
                ELSE pg.maxh END AS BIGINT) AS theta,
           CAST(CASE WHEN pg.n_kept < {k} THEN pg.n_kept * 1000000
                ELSE {(k - 1) * _MERSENNE31 * 1_000_000} // pg.maxh
                END AS BIGINT) AS distinct_est_micro,
           ex.exact_distinct
    FROM pg JOIN ex USING (source)
    """


@query("sketch_theta_vocab", oracle=_kmv_vocab_oracle(_KMV_K))
def sketch_theta_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable KMV/theta distinct-vocabulary sketch per source
    (operators/portable_sketch.kmv_theta_vocab — Bar-Yossef et al.
    2002, registered r13): keep the k=16 smallest DISTINCT mixer token
    hashes per source; the k-th smallest is theta and the estimate is
    floor((k-1)*P*10^6/theta) — k < per-source vocabulary here, so the
    theta-division estimator path is LIVE, not the holds-the-whole-set
    small case. Unlike HLL (sketch_hll_portable), KMV sketches support
    SET OPERATIONS — sketch_theta_vocab_overlap cashes that in. Scale
    shape: explode -> DISTINCT (source, hash) hash-agg -> top-k-per-
    group rank<=k filter (WindowGroupLimit: partial group-limit prunes
    map-side BEFORE the shuffle) -> k-row-per-group aggregate; the
    exact_distinct column is the certificate leg the sketch replaces
    at 100 TB (the cms_heavy_hitters accounting)."""
    from datalake_nba_dmc_spark.operators.portable_sketch import (
        kmv_theta_vocab,
    )

    docs = TableRegistry(spark, sf_dir).documents
    return kmv_theta_vocab(docs, k=_KMV_K)


def _kmv_overlap_oracle(k: int) -> str:
    from datalake_nba_dmc_spark.operators.dedup import _MERSENNE31

    return rf"""
    WITH {_kmv_topk_ctes(k)},
    pg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(MAX(h) AS BIGINT) AS maxh
      FROM topk GROUP BY source
    ), thetas AS (
      SELECT source,
             CAST(CASE WHEN n_kept < {k} THEN {_MERSENNE31}
                  ELSE maxh END AS BIGINT) AS theta
      FROM pg
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             LEAST(a.theta, b.theta) AS theta_min
      FROM thetas a JOIN thetas b ON a.source < b.source
    ), common AS (
      SELECT p.source_a, p.source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM pairs p
      JOIN topk ka ON ka.source = p.source_a AND ka.h < p.theta_min
      JOIN topk kb ON kb.source = p.source_b AND kb.h = ka.h
      GROUP BY 1, 2
    ), uni AS (
      SELECT source_a, source_b,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_union
      FROM (
        SELECT p.source_a, p.source_b, ka.h
        FROM pairs p JOIN topk ka
          ON ka.source = p.source_a AND ka.h < p.theta_min
        UNION ALL
        SELECT p.source_a, p.source_b, kb.h
        FROM pairs p JOIN topk kb
          ON kb.source = p.source_b AND kb.h < p.theta_min
      ) GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.theta_min,
           COALESCE(c.n_common, 0) AS n_common, u.n_union,
           (COALESCE(c.n_common, 0) * {_MERSENNE31} * 1000000)
             // GREATEST(p.theta_min, 1) AS inter_est_micro,
           (u.n_union * {_MERSENNE31} * 1000000)
             // GREATEST(p.theta_min, 1) AS union_est_micro
    FROM pairs p
    JOIN uni u USING (source_a, source_b)
    LEFT JOIN common c USING (source_a, source_b)
    """


@query("sketch_theta_vocab_overlap", oracle=_kmv_overlap_oracle(_KMV_K))
def sketch_theta_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS over sketch_theta_vocab's sketches
    (operators/portable_sketch.kmv_theta_vocab_overlap — Dasgupta et
    al. 2016's theta framework, registered r13): for every unordered
    source pair, shared/union distinct-vocabulary estimates below
    theta_min = min(theta_a, theta_b) — the curation question ("how
    much of B's vocabulary is already in A?") that mergeable HLL
    counters cannot answer without inclusion-exclusion blowup. Any
    hash < theta_min samples the combined hash space at rate
    theta_min/P, so kept-count * P/theta_min estimates each set op.
    Scale shape: the corpus is scanned ONCE (thetas derive from the
    same kept frame); the pair join runs over <= k*groups sketch rows,
    never corpus rows — groups^2*k is dashboard-sized at any corpus
    scale. Set-algebra laws (n_common <= n_union <= 2k, inter <=
    union) pytest-pinned."""
    from datalake_nba_dmc_spark.operators.portable_sketch import (
        kmv_theta_vocab_overlap,
    )

    docs = TableRegistry(spark, sf_dir).documents
    return kmv_theta_vocab_overlap(docs, k=_KMV_K)


# --- r14 registrations: the per-segment drift suite + theta difference ---

_KS_BY_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS xs,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ia
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderpriority IS NOT NULL
), g AS (
  SELECT seg, xs, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM base GROUP BY seg, xs
), c AS (
  SELECT seg, xs,
         CAST(SUM(ca) OVER (PARTITION BY seg ORDER BY xs
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
         CAST(SUM(cb) OVER (PARTITION BY seg ORDER BY xs
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
  FROM g
), n AS (
  SELECT seg, CAST(SUM(ia) AS BIGINT) AS n_a,
         CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n_b
  FROM base GROUP BY seg
)
SELECT n.seg AS o_orderpriority, n.n_a, n.n_b,
       CAST(MAX(ABS(c.cum_a * n.n_b - c.cum_b * n.n_a)) AS BIGINT) AS ks_num,
       CAST(MAX(ABS(c.cum_a * n.n_b - c.cum_b * n.n_a)) * 1000000
            // GREATEST(n.n_a * n.n_b, 1) AS BIGINT) AS ks_d_micro
FROM c JOIN n ON c.seg = n.seg
GROUP BY n.seg, n.n_a, n.n_b
"""


@query("stat_ks_drift_by_segment", oracle=_KS_BY_ORACLE)
def stat_ks_drift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact two-sample KS (operators/stats.ks_two_sample_by,
    registered r14): the drift SCAN that runs after the global
    stat_ks_drift fires — "WHICH o_orderpriority segment drifted?" —
    one exact D per segment between the pre-1998 and 1998+ cohorts,
    same integer contract (cross-multiplied ECDF numerator, floor micro
    division, in-plan int64 guard). The twin is the sequential
    per-segment running-sum formulation; the operator rides the
    SEGMENTED two-phase prefix-sum substrate (_cohort_value_cum_by):
    every window keyed by (segment, bucket), so segment count
    multiplies parallelism, never any single task's rows — the
    unpartitioned pass stays <= num_buckets rows per segment frame."""
    from datalake_nba_dmc_spark.operators.stats import ks_two_sample_by

    orders = TableRegistry(spark, sf_dir).orders
    return ks_two_sample_by(
        orders,
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
    )


_MW_BY_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS xs,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ia
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderpriority IS NOT NULL
), g AS (
  SELECT seg, xs, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM base GROUP BY seg, xs
), c AS (
  SELECT seg, xs, ca, cb,
         CAST(SUM(ca + cb) OVER (PARTITION BY seg ORDER BY xs
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumall
  FROM g
), r AS (
  SELECT seg, CAST(SUM(ca * (2 * (cumall - (ca + cb)) + (ca + cb) + 1))
              AS BIGINT) AS r2a
  FROM c GROUP BY seg
), n AS (
  SELECT seg, CAST(SUM(ia) AS BIGINT) AS n_a,
         CAST(COUNT(*) - SUM(ia) AS BIGINT) AS n_b
  FROM base GROUP BY seg
)
SELECT n.seg AS o_orderpriority, n.n_a, n.n_b,
       r.r2a - n.n_a * (n.n_a + 1) AS u2_a,
       2 * n.n_a * n.n_b - (r.r2a - n.n_a * (n.n_a + 1)) AS u2_b,
       (r.r2a - n.n_a * (n.n_a + 1)) * 1000000
         // GREATEST(2 * n.n_a * n.n_b, 1) AS auc_micro
FROM r JOIN n ON r.seg = n.seg
"""


@query("stat_mann_whitney_by_segment", oracle=_MW_BY_ORACLE)
def stat_mann_whitney_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment exact Mann-Whitney U / AUC (operators/stats.
    mann_whitney_u_by, registered r14): stochastic-dominance scan next
    to stat_ks_drift_by_segment — doubled-midrank integer contract,
    the U-sum law u2_a + u2_b == 2*n_a*n_b pinned PER SEGMENT, AUC
    micro division int64-guarded in-plan. Same segmented prefix-sum
    substrate; the weighted rank sum is one map-side-combinable
    hash-agg per segment, the totals join a 5-row broadcast."""
    from datalake_nba_dmc_spark.operators.stats import mann_whitney_u_by

    orders = TableRegistry(spark, sf_dir).orders
    return mann_whitney_u_by(
        orders,
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
    )


_QUANTILES_BY_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS xs
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
), g AS (
  SELECT seg, xs, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY seg, xs
), cgrid AS (
  SELECT seg, xs, c,
         CAST(SUM(c) OVER (PARTITION BY seg ORDER BY xs
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM g
), n AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY seg
), probs AS (SELECT unnest([25, 50, 75, 90, 99]) AS p_pct)
SELECT c.seg AS o_orderpriority, CAST(p.p_pct AS INTEGER) AS p_pct, n.n,
       c.xs AS q_scaled
FROM cgrid c JOIN n USING (seg) CROSS JOIN probs p
WHERE c.cum >= ((p.p_pct * n.n + 99) // 100)
  AND c.cum - c.c < ((p.p_pct * n.n + 99) // 100)
"""


@query("stat_exact_quantiles_by_segment", oracle=_QUANTILES_BY_ORACLE)
def stat_exact_quantiles_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT nearest-rank quantiles per segment (operators/stats.
    exact_quantiles_by, registered r14): the exact counterpart to
    percentile_approx for drift gates and SLAs that need the true
    value, not a sketch bound — p25/50/75/90/99 of o_totalprice per
    o_orderpriority WITHOUT sorting the corpus. The quantile probe is
    a RANK-CUT FILTER over the segmented prefix-sum grid (the row
    holding rank r is the unique one with cum-cnt < r <= cum); probs
    ride a literal explode, totals a broadcast — empty segments yield
    no rows (rank cut, never a scalar subquery). Integer contract:
    ceil(p*n/100) as (p*n + 99) div 100, the positive-operand form
    identical under truncating (Spark div, DuckDB //) AND floor
    division — staging caught the -((-a) div b) ceiling trick
    silently degrading to floor on BOTH engines (standing rule; the
    twin carries a brute-force sorted-list cross-check)."""
    from datalake_nba_dmc_spark.operators.stats import exact_quantiles_by

    orders = TableRegistry(spark, sf_dir).orders
    return exact_quantiles_by(
        orders,
        "o_orderpriority",
        "o_totalprice",
        probs_pct=(25, 50, 75, 90, 99),
    )


def _kmv_diff_oracle(k: int) -> str:
    from datalake_nba_dmc_spark.operators.dedup import _MERSENNE31

    return rf"""
    WITH {_kmv_topk_ctes(k)},
    pg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(MAX(h) AS BIGINT) AS maxh
      FROM topk GROUP BY source
    ), thetas AS (
      SELECT source,
             CAST(CASE WHEN n_kept < {k} THEN {_MERSENNE31}
                  ELSE maxh END AS BIGINT) AS theta
      FROM pg
    ), pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             LEAST(a.theta, b.theta) AS theta_min
      FROM thetas a JOIN thetas b ON a.source != b.source
    ), abelow AS (
      SELECT p.source_a, p.source_b, p.theta_min, ka.h
      FROM pairs p JOIN topk ka
        ON ka.source = p.source_a AND ka.h < p.theta_min
    ), aonly AS (
      SELECT source_a, source_b, theta_min,
             CAST(COUNT(*) AS BIGINT) AS n_a_only
      FROM abelow ab
      WHERE NOT EXISTS (SELECT 1 FROM topk kb
                        WHERE kb.source = ab.source_b AND kb.h = ab.h)
      GROUP BY 1, 2, 3
    )
    SELECT p.source_a, p.source_b, p.theta_min,
           COALESCE(o.n_a_only, 0) AS n_a_only,
           (COALESCE(o.n_a_only, 0) * {_MERSENNE31} * 1000000)
             // GREATEST(p.theta_min, 1) AS diff_est_micro
    FROM pairs p
    LEFT JOIN aonly o USING (source_a, source_b, theta_min)
    """


@query("sketch_theta_vocab_difference", oracle=_kmv_diff_oracle(_KMV_K))
def sketch_theta_vocab_difference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-sketch set DIFFERENCE |A \\ B| (operators/portable_sketch.
    kmv_theta_vocab_difference, registered r14) — completes the theta
    set algebra next to the registered union/intersection overlap
    query: per ORDERED source pair, a's kept hashes below theta_min
    absent from b's kept sketch, scaled by P/theta_min — "how much of
    A's vocabulary does B NOT have", the asymmetric curation question
    (directional novelty) inclusion-exclusion over HLL cannot answer.
    a's sample is restricted below theta_min and probed against b's
    FULL kept sketch (complete below theta_b >= theta_min by the KMV
    invariant, so membership there is exact). Corpus scanned ONCE (the
    shared kept/theta substrate); the anti-join runs over <= k*groups
    sketch rows. n_a_only <= k law pinned; ordered-pair grid complete
    (g*(g-1) rows) by construction."""
    from datalake_nba_dmc_spark.operators.portable_sketch import (
        kmv_theta_vocab_difference,
    )

    docs = TableRegistry(spark, sf_dir).documents
    return kmv_theta_vocab_difference(docs, k=_KMV_K)


_PSI_BY_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS xs,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ia
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderpriority IS NOT NULL
), c AS (
  -- clamp BEFORE narrowing to INT: a corrupt outlier value puts the
  -- raw FLOOR past 2^31 and an early cast would crash the oracle
  -- where the operator clamps (psi_binned's standing comment)
  SELECT seg,
         CAST(LEAST(GREATEST(FLOOR((CAST(xs AS DOUBLE) / 100.0 - 0.0)
                                    / 60000.0), 0), 9) AS INT) AS bucket,
         ia
  FROM base
), g AS (
  SELECT seg, bucket, CAST(SUM(ia) AS BIGINT) AS n_a,
         CAST(SUM(1 - ia) AS BIGINT) AS n_b
  FROM c GROUP BY seg, bucket
), t AS (
  SELECT seg, CAST(SUM(ia) AS BIGINT) AS ta,
         CAST(COUNT(*) - SUM(ia) AS BIGINT) AS tb
  FROM base GROUP BY seg
)
SELECT g.seg AS o_orderpriority, g.bucket, g.n_a, g.n_b,
       round((g.n_a + 0.5) / (t.ta + 5.0), 6) AS share_a,
       round((g.n_b + 0.5) / (t.tb + 5.0), 6) AS share_b,
       round(((g.n_a + 0.5) / (t.ta + 5.0) - (g.n_b + 0.5) / (t.tb + 5.0))
             * ln(((g.n_a + 0.5) / (t.ta + 5.0))
                  / ((g.n_b + 0.5) / (t.tb + 5.0))), 6) AS psi_contrib
FROM g JOIN t USING (seg)
"""


@query("stat_psi_by_segment", oracle=_PSI_BY_ORACLE)
def stat_psi_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment PSI (operators/stats.psi_binned_by, registered r15 —
    VERDICT r13 ask #8): completes the segment-capable drift family
    next to stat_ks_drift_by_segment / stat_mann_whitney_by_segment —
    "WHICH o_orderpriority segment's price distribution shifted, and
    in WHICH bins?" — over the same 10-bin [0, 600k] grid as the
    registered global stat_psi_price_drift, with per-segment Laplace
    smoothing and 6-dp-rounded ln contributions. Rides the shared
    per-(segment, value) counts substrate (_cohort_value_counts_by —
    the SAME first stage the KS/MW/quantile family consumes, so a
    drift dashboard computing all four amortizes one corpus scan).
    Scale shape: one scan -> O(distinct (segment, value)) map-side-
    combined counts -> a <= segments x nbins bin-grain hash-agg ->
    per-segment totals joined back as a broadcast under the in-plan
    _SEGMENT_BROADCAST_CAP guard. No sort, no window, no per-row
    state."""
    from datalake_nba_dmc_spark.operators.stats import psi_binned_by

    orders = TableRegistry(spark, sf_dir).orders
    return psi_binned_by(
        orders,
        "o_orderpriority",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
        "o_totalprice",
        lo=0.0,
        hi=600000.0,
        nbins=10,
    )


def _bootstrap_by_oracle(
    n_resamples: int, seed: int, scale: int, alpha_pct: int
) -> str:
    from datalake_nba_dmc_spark.operators.stats import (
        _bootstrap_idbase_sql,
        _bootstrap_weight_from_base_sql,
    )

    # r16: staged id-mixer base, same rationale as _bootstrap_oracle
    idb = _bootstrap_idbase_sql("o_orderkey", "duck")
    w = _bootstrap_weight_from_base_sql("idb", "r", seed, "duck")
    lo_rank = max(1, -(-n_resamples * alpha_pct // 200))
    hi_rank = max(1, -(-n_resamples * (200 - alpha_pct) // 200))
    return f"""
    WITH base AS (
      SELECT o_orderpriority AS seg, o_orderkey AS id, {idb} AS idb,
             CAST(round(o_totalprice * {scale}) AS BIGINT) AS xs
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
        AND o_orderpriority IS NOT NULL
    ), ex AS (
      SELECT seg, idb, xs, unnest(range(0, {n_resamples})) AS r FROM base
    ), wtab AS (
      SELECT seg, r, {w} AS w, xs FROM ex
    ), agg AS (
      SELECT seg, r, CAST(SUM(w * xs) AS BIGINT) AS swx,
             CAST(SUM(w) AS BIGINT) AS sw
      FROM wtab GROUP BY seg, r
    ), means AS (
      SELECT seg, CASE WHEN sw > 0 THEN
        CAST(floor(CAST(swx AS DOUBLE)
                   / CAST(sw * {scale} AS DOUBLE) * 1000000.0) AS BIGINT)
        ELSE 0 END AS mean_micro
      FROM agg
    ), srt AS (
      SELECT seg, mean_micro,
             ROW_NUMBER() OVER (PARTITION BY seg
                                ORDER BY mean_micro) AS rk
      FROM means
    ), pt AS (
      SELECT seg, CAST(floor(CAST(SUM(xs) AS DOUBLE)
                  / CAST(COUNT(*) * {scale} AS DOUBLE) * 1000000.0)
             AS BIGINT) AS point_micro
      FROM base GROUP BY seg
    )
    SELECT pt.seg AS o_orderpriority,
           CAST({n_resamples} AS BIGINT) AS n_resamples, pt.point_micro,
           lo.mean_micro AS lo_micro, hi.mean_micro AS hi_micro
    FROM pt
    JOIN srt lo ON lo.seg = pt.seg AND lo.rk = {lo_rank}
    JOIN srt hi ON hi.seg = pt.seg AND hi.rk = {hi_rank}
    """


@query(
    "stat_bootstrap_ci_by_segment",
    oracle=_bootstrap_by_oracle(64, 42, 10**4, 5),
)
def stat_bootstrap_ci_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-segment Poisson-bootstrap CI for mean(o_totalprice)
    (operators/stats.bootstrap_ci_mean_by, registered r15): the
    uncertainty primitive made segment-capable like the KS/MW/PSI/
    quantile family — one (point, lo, hi) micro-unit interval per
    o_orderpriority, every weight/resample-mean/rank-cut bit-exact in
    the twin (the registered global stat_bootstrap_ci's contract,
    segmented). Same avalanche-mixer Poisson(1) weights (no engine
    RNG), same nearest-rank cut joined against the sorted means so
    empty segments yield zero rows. Scale shape: ONE scan — each row
    explodes into 64 (resample, w*x, w) contributions, partial
    aggregation leaves 64 x segments groups regardless of corpus size;
    the per-segment rank window runs over 64-row frames; the point
    frame broadcasts under the in-plan _SEGMENT_BROADCAST_CAP guard."""
    from datalake_nba_dmc_spark.operators.stats import bootstrap_ci_mean_by

    orders = TableRegistry(spark, sf_dir).orders
    return bootstrap_ci_mean_by(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    )


_DRIFT_PANEL_ORACLE = """
WITH base AS (
  SELECT o_orderpriority AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS xs,
         CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END AS ia
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_orderpriority IS NOT NULL
), g AS (
  SELECT seg, xs, CAST(SUM(ia) AS BIGINT) AS ca,
         CAST(SUM(1 - ia) AS BIGINT) AS cb
  FROM base GROUP BY seg, xs
), c AS (
  SELECT seg, xs, ca, cb,
         CAST(SUM(ca) OVER w AS BIGINT) AS cuma,
         CAST(SUM(cb) OVER w AS BIGINT) AS cumb,
         CAST(SUM(ca + cb) OVER w AS BIGINT) AS cumall
  FROM g
  WINDOW w AS (PARTITION BY seg ORDER BY xs ROWS UNBOUNDED PRECEDING)
), n AS (
  SELECT seg, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM g GROUP BY seg
), ks AS (
  SELECT n.seg,
         CAST(MAX(ABS(c.cuma * n.n_b - c.cumb * n.n_a)) * 1000000
              // GREATEST(n.n_a * n.n_b, 1) AS BIGINT) AS ks_d_micro
  FROM c JOIN n ON c.seg = n.seg
  GROUP BY n.seg, n.n_a, n.n_b
), r AS (
  SELECT seg, CAST(SUM(ca * (2 * (cumall - (ca + cb)) + (ca + cb) + 1))
              AS BIGINT) AS r2a
  FROM c GROUP BY seg
), mw AS (
  SELECT n.seg,
         (r.r2a - n.n_a * (n.n_a + 1)) * 1000000
           // GREATEST(2 * n.n_a * n.n_b, 1) AS auc_micro
  FROM r JOIN n ON r.seg = n.seg
), bins AS (
  SELECT seg,
         CAST(LEAST(GREATEST(FLOOR((CAST(xs AS DOUBLE) / 100.0 - 0.0)
                                    / 60000.0), 0), 9) AS INT) AS bucket,
         CAST(SUM(ca) AS BIGINT) AS bin_a, CAST(SUM(cb) AS BIGINT) AS bin_b
  FROM g GROUP BY 1, 2
), psi AS (
  SELECT b.seg,
         CAST(SUM(CAST(round(round(
               ((b.bin_a + 0.5) / (n.n_a + 5.0)
                - (b.bin_b + 0.5) / (n.n_b + 5.0))
               * ln(((b.bin_a + 0.5) / (n.n_a + 5.0))
                    / ((b.bin_b + 0.5) / (n.n_b + 5.0))), 6)
               * 1000000.0) AS BIGINT)) AS BIGINT) AS psi_micro
  FROM bins b JOIN n ON b.seg = n.seg
  GROUP BY b.seg
), probs AS (SELECT unnest([50, 90]) AS p_pct
), qa AS (
  SELECT c.seg, p.p_pct, c.xs
  FROM c JOIN n ON c.seg = n.seg CROSS JOIN probs p
  WHERE n.n_a > 0 AND c.cuma >= ((p.p_pct * n.n_a + 99) // 100)
    AND c.cuma - c.ca < ((p.p_pct * n.n_a + 99) // 100)
), qam AS (
  SELECT seg, MAX(CASE WHEN p_pct = 50 THEN xs END) AS q50_a_scaled,
         MAX(CASE WHEN p_pct = 90 THEN xs END) AS q90_a_scaled
  FROM qa GROUP BY seg
), qb AS (
  SELECT c.seg, p.p_pct, c.xs
  FROM c JOIN n ON c.seg = n.seg CROSS JOIN probs p
  WHERE n.n_b > 0 AND c.cumb >= ((p.p_pct * n.n_b + 99) // 100)
    AND c.cumb - c.cb < ((p.p_pct * n.n_b + 99) // 100)
), qbm AS (
  SELECT seg, MAX(CASE WHEN p_pct = 50 THEN xs END) AS q50_b_scaled,
         MAX(CASE WHEN p_pct = 90 THEN xs END) AS q90_b_scaled
  FROM qb GROUP BY seg
)
SELECT n.seg AS o_orderpriority, n.n_a, n.n_b, ks.ks_d_micro, mw.auc_micro,
       psi.psi_micro,
       qam.q50_a_scaled, qbm.q50_b_scaled,
       qam.q50_a_scaled - qbm.q50_b_scaled AS q50_delta_scaled,
       qam.q90_a_scaled, qbm.q90_b_scaled,
       qam.q90_a_scaled - qbm.q90_b_scaled AS q90_delta_scaled
FROM n
JOIN ks ON n.seg = ks.seg
JOIN mw ON n.seg = mw.seg
LEFT JOIN psi ON n.seg = psi.seg
LEFT JOIN qam ON n.seg = qam.seg
LEFT JOIN qbm ON n.seg = qbm.seg
"""


@query("stat_drift_panel_by_segment", oracle=_DRIFT_PANEL_ORACLE)
def stat_drift_panel_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The per-segment drift DASHBOARD (operators/stats.drift_panel_by):
    exact KS, Mann-Whitney AUC, total PSI (micro) and p50/p90 per cohort
    with deltas, per o_orderpriority, off ONE materialized counts frame —
    the shared per-(segment, value) substrate of
    stat_ks_drift_by_segment / stat_mann_whitney_by_segment /
    stat_psi_by_segment / stat_exact_quantiles_by_segment, scanned once
    and read by every finisher. Each column is bit-identical to its
    standalone query, and the final plan holds zero scans of orders
    (both pytest-pinned). The oracle recomputes all four families from
    one base CTE."""
    from datalake_nba_dmc_spark.operators.stats import drift_panel_by

    orders = TableRegistry(spark, sf_dir).orders
    return drift_panel_by(
        orders,
        "o_orderpriority",
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
        lo=0.0,
        hi=600000.0,
        nbins=10,
    )
