"""Event-stream queries (batch path of the streaming operators + temporal
joins + JSON extraction). The same ``tumbling_agg``/``session_agg`` functions
run in tests as real Structured Streaming; here the batch path gives the driver
an oracle-checkable surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators.temporal import asof_join
from datalake_nba_dmc_spark.operators.windows import top1_per_group
from datalake_nba_dmc_spark.sources import TableRegistry
from datalake_nba_dmc_spark.streaming.events import session_agg, tumbling_agg
from datalake_nba_dmc_spark.suite import query


@query(
    "events_tumbling_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS total_value
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type — the batch twin of the
    streaming `tumbling_agg` (same function, unified model). One shuffle on
    (window, type); at 100 TB this is the canonical pre-aggregation that
    runs incrementally under Structured Streaming instead of rescanning."""
    return tumbling_agg(TableRegistry(spark, sf_dir).events)


@query(
    "events_sessionization",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           user_id, COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (10-min inactivity) per user — batch twin
    of streaming `session_agg`. Spark's native session_window matches the
    gaps-and-islands SQL formulation exactly (session_end = last ts + gap)."""
    return session_agg(TableRegistry(spark, sf_dir).events, gap="10 minutes")


@query(
    "events_json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(CASE WHEN json_valid(props)
                     THEN json_extract_string(props, '$.k') END AS BIGINT)
             AS prop_k
    FROM events
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the string props column —
    `get_json_object` runs JVM-side (Jackson) inside codegen; at scale
    prefer parsing ONCE via from_json to a struct column over repeated
    per-field extraction."""
    return TableRegistry(spark, sf_dir).events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@query(
    "events_approx_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, 1 AS approx_ok
    FROM events GROUP BY event_type
    """,
)
def events_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) per event_type — the single-pass,
    mergeable-sketch alternative to exact countDistinct's second shuffle
    (SURVEY.md §4.3-5: the 100 TB path) — with an in-plan accuracy
    certificate so the sketch gets a real driver oracle: the approx count
    must land within 15% (3× the default 5% rsd) of the exact count, and
    the query emits a 1/0 flag the oracle pins to 1. The exact count rides
    along so real values are hash-compared too."""
    agg = (
        TableRegistry(spark, sf_dir)
        .events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.lit(0.15) * F.col("exact_users")
    )
    return agg.select("event_type", "exact_users", within.cast("int").alias("approx_ok"))


@query(
    "events_asof_latest_order",
    oracle="""
    WITH o1 AS (
      SELECT * FROM (
        SELECT o_custkey AS k, CAST(o_orderdate AS TIMESTAMP) AS ot,
               o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN e.ts IS NOT NULL THEN o.o_orderkey END AS asof_o_orderkey
    FROM events e
    ASOF LEFT JOIN o1 o ON e.user_id = o.k AND e.ts >= o.ot
    """,
)
def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ASOF JOIN: each event picks the customer's latest order at or
    before the event time. Union-merge implementation — one shuffle+sort
    over |events|+|orders|, no range explosion (operators/temporal.py)."""
    t = TableRegistry(spark, sf_dir)
    events = t.events.select("event_id", "user_id", "ts")
    orders = top1_per_group(
        t.orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ot"),
            "o_orderkey",
        ),
        ["user_id", "ot"],
        [F.col("o_orderkey").desc()],
    )
    return asof_join(
        events, orders, key="user_id", left_ts="ts", right_ts="ot",
        right_cols=["o_orderkey"],
    )


@query(
    "events_sliding_agg",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
             event_type, value FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
             event_type, value FROM events WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS total_value
    FROM starts
    GROUP BY 1, 2
    """,
)
def events_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes: each event lands in exactly
    two windows (window/slide = 2 expanded rows — the oracle materializes
    the same expansion with a UNION ALL of shifted buckets). Same
    (window, key) shuffle as tumbling; runs unchanged under Structured
    Streaming where the expansion is handled by the window operator."""
    e = TableRegistry(spark, sf_dir).events
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_followup_within_hour",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, COUNT(p.event_id) AS n_purchases
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL '1 hour'
    GROUP BY c.user_id, c.event_id
    """,
)
def events_followup_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel join: purchases per click by the same user within the
    following hour (operators/temporal.range_join shape, left-outer so
    unconverted clicks keep a zero row). The user_id equality is the join
    key; the time band is a post-join filter — the streaming twin is a
    stream-stream join with a 1h watermark bounding both state stores."""
    e = TableRegistry(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy(
        F.col("c_user").alias("user_id"), "click_id"
    ).agg(F.count("p_id").alias("n_purchases"))


@query(
    "events_time_rollup",
    oracle="""
    SELECT CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
           CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,
           CAST(EXTRACT(day FROM ts) AS BIGINT) AS d,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0
             AS total_value
    FROM events
    GROUP BY ROLLUP (y, m, d)
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: one pass materializes the
    day, month, year, and grand-total aggregates of the event stream
    (GROUP BY ROLLUP over the calendar hierarchy). Spark expands the
    grouping sets in a single exchange with partial aggregation — at scale
    this replaces N separate per-resolution jobs with one, which is how
    continuous-aggregate tables are backfilled."""
    e = TableRegistry(spark, sf_dir).events
    return (
        e.select(
            F.year("ts").cast("long").alias("y"),
            F.month("ts").cast("long").alias("m"),
            F.dayofmonth("ts").cast("long").alias("d"),
            "value",
        )
        .rollup("y", "m", "d")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0).alias(
                "total_value"
            ),
        )
    )


@query(
    "events_interval_overlap",
    oracle="""
    WITH l AS (
      SELECT event_id, user_id, ts AS start_ts,
             ts + INTERVAL 1 HOUR AS end_ts
      FROM events
    ), r AS (
      SELECT event_id AS incident_id, user_id, ts AS inc_start,
             ts + INTERVAL 2 HOUR AS inc_end
      FROM events WHERE event_type = 'error'
    )
    SELECT DISTINCT l.event_id, l.user_id, r.incident_id
    FROM l JOIN r ON l.user_id = r.user_id
     AND l.start_ts < r.inc_end AND r.inc_start < l.end_ts
     AND l.event_id <> r.incident_id
    """,
)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: every event's 1-hour activity window against
    each error's 2-hour incident window for the same user. Intervals are
    bucketized into hours so the theta band becomes an equi-join on
    (user, hour-bucket) — never per-key nested loops
    (operators/temporal.py interval_overlap_join)."""
    from datalake_nba_dmc_spark.operators.temporal import interval_overlap_join

    e = TableRegistry(spark, sf_dir).events
    left = e.select(
        "event_id",
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    right = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        "user_id",
        F.col("ts").alias("inc_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("inc_end"),
    )
    joined = interval_overlap_join(
        left,
        right,
        key="user_id",
        left_start="start_ts",
        left_end="end_ts",
        right_start="inc_start",
        right_end="inc_end",
        bucket_seconds=3600,
    )
    return joined.filter(F.col("event_id") != F.col("incident_id")).select(
        "event_id", "user_id", "incident_id"
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH up AS (
      SELECT DISTINCT user_id AS u,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS p
      FROM events
    ), f AS (
      SELECT u, MIN(p) AS cohort FROM up GROUP BY u
    ), act AS (
      SELECT f.cohort,
             CAST(datediff('day', CAST(f.cohort AS DATE), CAST(up.p AS DATE))
                  / 7 AS INT) AS period_offset,
             COUNT(*) AS active_users
      FROM up JOIN f USING (u)
      GROUP BY 1, 2
    ), sz AS (
      SELECT cohort, COUNT(*) AS cohort_size FROM f GROUP BY 1
    )
    SELECT act.cohort, act.period_offset, act.active_users, sz.cohort_size,
           CAST(act.active_users AS DOUBLE) / sz.cohort_size AS retention_rate
    FROM act JOIN sz USING (cohort)
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over the events stream: cohort = user's
    first-active ISO week; each cell counts that cohort's users active N
    weeks later, with the cohort-share rate. Three bounded shuffles —
    the distinct (user, week) pair set caps hot users before any join
    (operators/cohort.py)."""
    from datalake_nba_dmc_spark.operators.cohort import cohort_retention

    e = TableRegistry(spark, sf_dir).events
    return cohort_retention(e, "user_id", "ts", period="week")


@query(
    "events_funnel_3step",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1
    )
    SELECT v.user_id, v.t1 AS step_1_ts, c.t2 AS step_2_ts, p.t3 AS step_3_ts
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def events_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: each step's earliest
    completion strictly after the previous step's
    (operators/cohort.funnel_steps). Incomplete funnels keep null steps —
    the drop-off report falls straight out of the null counts."""
    from datalake_nba_dmc_spark.operators.cohort import funnel_steps

    e = TableRegistry(spark, sf_dir).events
    return funnel_steps(e, ["view", "click", "purchase"]).select(
        "user_id", "step_1_ts", "step_2_ts", "step_3_ts"
    )


@query(
    "events_last_touch_attribution",
    oracle="""
    WITH touches AS (
      SELECT user_id, ts,
             MAX(event_id) AS touch_event_id,
             max_by(event_type, event_id) AS touch_type,
             ts AS touch_ts
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id, ts
    ), conv AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), att AS (
      SELECT c.event_id, c.user_id, c.ts, c.value,
             t.touch_event_id, t.touch_type, t.touch_ts
      FROM conv c
      ASOF LEFT JOIN touches t
        ON c.user_id = t.user_id AND t.ts <= c.ts
    )
    SELECT event_id, user_id, ts, value,
           CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_event_id END
             AS touch_event_id,
           CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_type END
             AS touch_type,
           CASE WHEN touch_ts >= ts - INTERVAL 7 DAY THEN touch_ts END
             AS touch_ts
    FROM att
    """,
)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credited to the same user's
    most recent click/view within 7 days (operators/cohort.
    last_touch_attribution). The lookup is the as-of union-merge — one
    exchange over conversions+touches, mirrored by DuckDB's native ASOF
    LEFT JOIN; the attribution window is a post-hoc null-out on both
    sides so the join itself stays a pure as-of merge."""
    from datalake_nba_dmc_spark.operators.cohort import last_touch_attribution

    e = TableRegistry(spark, sf_dir).events
    return last_touch_attribution(
        e, touch_types=["click", "view"], conversion_type="purchase",
        attribution_window_days=7,
    )


@query(
    "events_latest_state_per_user",
    oracle="""
    SELECT user_id, ts, event_id, event_type, value FROM (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def events_latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming upsert sink's state view as a batch query
    (streaming/events.latest_state_per_user — the SAME function runs per
    micro-batch under foreachBatch in upsert_sink): latest event per user
    via one max_by hash aggregate with map-side combine — no per-user
    sort, no window shuffle; (ts, event_id) tiebreak keeps the reduction
    idempotent and deterministic on both engines."""
    from datalake_nba_dmc_spark.streaming.events import latest_state_per_user

    e = TableRegistry(spark, sf_dir).events
    return latest_state_per_user(e)


@query(
    "events_transition_matrix",
    oracle="""
    WITH steps AS (
      SELECT LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id)
             AS from_type,
             event_type AS to_type
      FROM events WHERE event_type IS NOT NULL
    )
    SELECT from_type, to_type, COUNT(*) AS n_steps
    FROM steps WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's time-ordered
    event stream (operators/cohort.transition_counts): one exchange on
    user_id + lag window + a map-side-combinable (from, to) count — never
    a self-join on the event table. The event_id tiebreaker totalizes the
    ordering so simultaneous events transition deterministically."""
    from datalake_nba_dmc_spark.operators.cohort import transition_counts

    e = TableRegistry(spark, sf_dir).events
    return transition_counts(e)


@query(
    "events_top_paths",
    oracle="""
    WITH steps AS (
      SELECT LAG(event_type, 2) OVER w AS t1,
             LAG(event_type, 1) OVER w AS t2,
             event_type AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    )
    SELECT array_to_string(list_filter([t1, t2, t3], x -> x IS NOT NULL), '>')
             AS path,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM steps WHERE t1 IS NOT NULL
    GROUP BY 1 ORDER BY n_paths DESC, path ASC LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 three-step behavioral paths (sequence mining over each
    user's ordered event stream): two lag windows on ONE exchange share
    the same sort, then a tiny (≤ |types|³) hash agg and a
    TakeOrderedAndProject top-k — never a positional self-join on the
    event table. Deterministic under the (ts, event_id) total order and
    the (count desc, path asc) tiebreak."""
    from pyspark.sql import Window

    e = TableRegistry(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    steps = e.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).filter(F.col("t1").isNotNull())
    return (
        steps.select(F.concat_ws(">", "t1", "t2", "t3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), F.col("path").asc())
        .limit(20)
    )


@query(
    "events_dedup_replay",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type,
           CAST(1 AS BIGINT) AS n_copies
    FROM events
    """,
)
def events_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once replay dedup — the batch twin of
    streaming.stream_dedup (dropDuplicatesWithinWatermark): a partially
    replayed feed (every third event delivered twice) collapses back to
    exactly-once on event_id. The oracle is simply the original feed with
    n_copies pinned to 1 — any surviving duplicate or lost event breaks
    the row count. At scale this is one hash agg keyed on the id; the
    streaming path bounds the id-state by the watermark horizon instead
    (test_streaming covers stream==batch)."""
    from datalake_nba_dmc_spark.streaming.events import stream_dedup

    e = TableRegistry(spark, sf_dir).events
    replayed = e.unionAll(e.filter(F.col("event_id") % 3 == 0))
    return stream_dedup(replayed).groupBy(
        "event_id", "user_id", "event_type"
    ).agg(F.count("*").cast("long").alias("n_copies"))


@query(
    "events_daily_anomalies",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(round(value) AS BIGINT)) AS BIGINT) AS sx1
      FROM events GROUP BY 1
    ), rolled AS (
      SELECT day, n_events, sx, sx1,
             CAST(COUNT(*) OVER w AS BIGINT) AS wn,
             CAST(SUM(sx1) OVER w AS BIGINT) AS wsx,
             CAST(SUM(sx1 * sx1) OVER w AS BIGINT) AS wsxx
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_events,
           CAST(sx AS DOUBLE) / 10000.0 AS revenue,
           CASE WHEN wn >= 3 AND (CAST(wn AS DOUBLE) * CAST(wsxx AS DOUBLE)
                     - CAST(wsx AS DOUBLE) * CAST(wsx AS DOUBLE)) > 0
                THEN CASE WHEN abs(CAST(sx1 AS DOUBLE)
                               - CAST(wsx AS DOUBLE) / CAST(wn AS DOUBLE))
                          > 2.0 * sqrt((CAST(wn AS DOUBLE) * CAST(wsxx AS DOUBLE)
                               - CAST(wsx AS DOUBLE) * CAST(wsx AS DOUBLE))
                               / (CAST(wn AS DOUBLE) * (CAST(wn AS DOUBLE) - 1.0)))
                          THEN 1 ELSE 0 END
                ELSE 0 END AS anomaly
    FROM rolled
    """,
)
def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly screen over daily event revenue — the
    time-series data-quality monitor: per day, flag |x - μ₇| > 2σ₇ over
    the trailing 7-day window. All moments come from exact scaled-long
    sums (the stat_exact_moments discipline), so μ/σ are identical IEEE
    expressions in both engines and the flag is bit-stable; the daily
    grain means the window runs over a tiny pre-aggregated frame, never
    the raw events.

    Overflow discipline: the z-score is scale-invariant, so the MOMENTS
    use a whole-unit scaled sum (sx1 = Σ round(value)) while only the
    displayed revenue uses the 10^-4 scale — squaring the 10^-4-scaled
    sum would pass 2^63 at roughly the sf0.1 daily volume (and crash
    under ANSI mode). With whole units, 7·sx1² stays in range up to
    ~6000× the sf0.1 daily volume; beyond that move wsxx to
    decimal(38,0)."""
    from pyspark.sql import Window

    e = TableRegistry(spark, sf_dir).events
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 10000).cast("long")).alias("sx"),
        F.sum(F.round(F.col("value")).cast("long")).alias("sx1"),
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    rolled = daily.select(
        "day",
        "n_events",
        "sx",
        "sx1",
        F.count("*").over(w).cast("long").alias("wn"),
        F.sum("sx1").over(w).cast("long").alias("wsx"),
        F.sum(F.col("sx1") * F.col("sx1")).over(w).cast("long").alias("wsxx"),
    )
    wn = F.col("wn").cast("double")
    num = wn * F.col("wsxx").cast("double") - (
        F.col("wsx").cast("double") * F.col("wsx").cast("double")
    )
    std = F.sqrt(num / (wn * (wn - 1.0)))
    dev = F.abs(F.col("sx1").cast("double") - F.col("wsx").cast("double") / wn)
    anomaly = F.when(
        (F.col("wn") >= 3) & (num > 0),
        F.when(dev > 2.0 * std, F.lit(1)).otherwise(F.lit(0)),
    ).otherwise(F.lit(0))
    return rolled.select(
        "day",
        "n_events",
        (F.col("sx").cast("double") / 10000.0).alias("revenue"),
        anomaly.alias("anomaly"),
    )


@query(
    "events_variant_agg",
    oracle="""
    WITH parsed AS (
      SELECT event_type,
             CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
      FROM events WHERE props IS NOT NULL
    )
    SELECT event_type,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(COUNT(CASE WHEN k >= 50 THEN 1 END) AS BIGINT) AS n_high
    FROM parsed
    GROUP BY event_type
    """,
)
def events_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VARIANT type: props
    is parsed ONCE per row (``parse_json`` → open binary-variant
    encoding) and fields are read with typed ``variant_get`` paths — the
    modern engine path for schema-on-read JSON (shredded columnar access
    at scale) vs the per-field Jackson re-parse of repeated
    ``get_json_object`` calls (``events_json_extract`` shows that
    legacy path). The parse is staged as a real column so the two
    ``variant_get`` reads share one decode (the with_shingles rule)."""
    e = TableRegistry(spark, sf_dir).events.filter(F.col("props").isNotNull())
    # try_parse_json: malformed props become a NULL variant (reads give
    # NULL) instead of failing the job — schema-on-read data WILL contain
    # junk rows at 100 TB (robustness_audit `nulls` finding)
    v = e.select("event_type", F.try_parse_json("props").alias("v"))
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return v.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"),
        F.count(F.when(k >= 50, F.lit(1))).cast("long").alias("n_high"),
    )


_TIER_CENTERS = [
    ("click", 5.0, "low"), ("click", 25.0, "mid"), ("click", 50.0, "high"),
    ("view", 10.0, "low"), ("view", 40.0, "mid"), ("view", 80.0, "high"),
    ("purchase", 50.0, "low"), ("purchase", 150.0, "mid"), ("purchase", 250.0, "high"),
    ("signup", 1.0, "low"), ("signup", 3.0, "mid"), ("signup", 9.0, "high"),
    ("error", 20.0, "low"), ("error", 60.0, "mid"), ("error", 120.0, "high"),
]

_TIER_VALUES_SQL = ", ".join(
    f"('{t}', {c}, '{label}')" for t, c, label in _TIER_CENTERS
)


@query(
    "join_nearest_tier",
    oracle=f"""
    WITH centers(event_type, center, tier) AS (VALUES {_TIER_VALUES_SQL}),
    assign AS (
      -- nearest center per DISTINCT event, then fanned back out per input
      -- row: keeps the twin duplication-proof (the dup robustness audit
      -- doubles every row; the operator assigns each ROW its tier, while
      -- a bare per-event_id ROW_NUMBER would collapse the copies)
      SELECT event_id, value, nearest_center, nearest_tier FROM (
        SELECT d.event_id, d.value, c.center AS nearest_center,
               c.tier AS nearest_tier,
               ROW_NUMBER() OVER (PARTITION BY d.event_id
                                  ORDER BY abs(d.value - c.center), c.center) AS rn
        FROM (SELECT DISTINCT event_id, event_type, value FROM events) d
        LEFT JOIN centers c
          ON d.event_type = c.event_type AND d.value IS NOT NULL)
      WHERE rn = 1
    )
    SELECT e.event_id, e.value, a.nearest_center, a.nearest_tier
    FROM events e JOIN assign a ON e.event_id = a.event_id
    """,
)
def join_nearest_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-value matching (operators/temporal.nearest_value_join):
    every event snaps to the CLOSEST per-type tier center on the value
    axis — the nearest-calibration semantics one-sided as-of can't give.
    Implemented as two as-of union-merge passes (backward + forward on
    the negated axis) and a per-row nearer-candidate pick: two sorts over
    |L|+|R|, while the oracle's plan is the |L|·|R| theta-join + window
    this operator exists to avoid. Midpoint ties go to the smaller
    center in BOTH engines."""
    from datalake_nba_dmc_spark.operators.temporal import nearest_value_join

    e = TableRegistry(spark, sf_dir).events.select("event_id", "event_type", "value")
    centers = e.sparkSession.createDataFrame(
        _TIER_CENTERS, ["event_type", "center", "tier"]
    )
    out = nearest_value_join(
        e, centers, key="event_type", left_val="value", right_val="center",
        right_cols=["tier"],
    )
    return out.select(
        "event_id",
        "value",
        F.col("nearest_center"),
        F.col("nearest_tier"),
    )


@query(
    "events_user_idle_report",
    oracle="""
    WITH horizon AS (SELECT MAX(ts) AS mx FROM events),
    last_seen AS (
      SELECT user_id, MAX(ts) AS last_ts, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, last_ts, n_events,
           CAST(FLOOR(CAST(epoch_us(mx - last_ts) AS DOUBLE) / 86400000000.0)
                AS BIGINT) AS days_idle,
           CASE WHEN last_ts < mx - INTERVAL '36 hours' THEN 1 ELSE 0 END
             AS inactive_36h
    FROM last_seen CROSS JOIN horizon
    """,
)
def events_user_idle_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn/idleness report: every user's last activity, lifetime event
    count, whole days idle relative to the stream horizon (max ts), and a
    36-hour inactivity flag — the re-engagement audience builder. One
    hash agg per user + a broadcast one-row horizon; no window, no
    self-join. Idle days are exact integer arithmetic on epoch
    microseconds so both engines floor identically."""
    e = TableRegistry(spark, sf_dir).events
    horizon = e.agg(F.max("ts").alias("_mx"))
    last_seen = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"), F.count("*").cast("long").alias("n_events")
    )
    idle_us = F.unix_micros(F.col("_mx")) - F.unix_micros(F.col("last_ts"))
    return (
        last_seen.crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            "last_ts",
            "n_events",
            F.floor(idle_us.cast("double") / 86400000000.0)
            .cast("long")
            .alias("days_idle"),
            (
                F.col("last_ts") < F.col("_mx") - F.expr("INTERVAL 36 HOURS")
            )
            .cast("int")
            .alias("inactive_36h"),
        )
    )


@query(
    "events_user_running_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(COALESCE(value, 0.0) * 10000) AS BIGINT))
                AS DOUBLE) / 10000.0 AS total_value
    FROM events GROUP BY user_id
    """,
)
def events_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the arbitrary-stateful streaming family: the final
    state of streaming.user_running_state (applyInPandasWithState — one
    (n, total) row per user maintained across micro-batches) equals this
    batch aggregate over the full feed; test_streaming asserts the
    stream==batch identity, and this query gives the family an
    oracle-checked batch surface. Scaled-long exact sums over
    null-coalesced values (the stateful op counts null-value events but
    adds 0)."""
    e = TableRegistry(spark, sf_dir).events
    return e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (
            F.sum(F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 10000).cast("long"))
            .cast("double")
            / 10000.0
        ).alias("total_value"),
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY e.user_id
    )
    SELECT s.user_id, s.signup_ts, p.first_purchase_ts,
           CASE WHEN p.first_purchase_ts IS NOT NULL
                THEN epoch_us(p.first_purchase_ts - s.signup_ts) // 3600000000
           END AS hours_to_convert
    FROM s LEFT JOIN p ON s.user_id = p.user_id
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion LATENCY (the funnel counts conversions; this measures
    how long they take): per signed-up user, the first signup, the first
    at-or-after purchase, and whole hours between — the survival-curve
    input for activation analysis. Two filtered min-aggregates + one
    left join keyed on the user (never an event-level self-join); the
    latency is exact integer arithmetic on epoch microseconds so both
    engines floor identically; never-converting users keep NULLs."""
    e = TableRegistry(spark, sf_dir).events
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    # TRUE integer division (`div`), not floor-of-double-divide: the
    # deltas are non-negative longs, so both engines' integer `//`/`div`
    # agree exactly at every hour boundary
    delta_hours = F.expr(
        "(unix_micros(first_purchase_ts) - unix_micros(signup_ts))"
        " div 3600000000"
    )
    return s.join(p, "user_id", "left").select(
        "user_id",
        "signup_ts",
        "first_purchase_ts",
        F.when(F.col("first_purchase_ts").isNotNull(), delta_hours).alias(
            "hours_to_convert"
        ),
    )


@query(
    "events_dau_wau",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), cover AS (
      SELECT DISTINCT day + (INTERVAL 1 DAY * off) AS cover_day, user_id
      FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS off)
    ), wau AS (
      SELECT cover_day AS day, CAST(COUNT(*) AS BIGINT) AS wau
      FROM cover GROUP BY cover_day
    )
    SELECT d.day, d.dau, w.wau,
           round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day — the engagement
    dashboard staple. Exact windowed DISTINCT counts without a windowed
    distinct (which Spark cannot express directly): each (user, day)
    activity row EXPLODES into the 7 future days whose trailing window it
    covers, then one distinct + one count per day — bounded ×7 fan-out,
    the same bucketize-then-aggregate trick as the interval join, instead
    of a 7-way self-join or a per-day subquery. Days with zero activity
    produce no row (both engines agree). WAU days past the stream's end
    are kept only where a DAU row exists (inner join)."""
    e = TableRegistry(spark, sf_dir).events
    du = e.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    cover = (
        du.select(
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "day", "user_id"
        )
        .select(
            (F.col("day") + F.make_interval(days=F.col("off"))).alias("cover_day"),
            "user_id",
        )
        .distinct()
    )
    wau = cover.groupBy(F.col("cover_day").alias("day")).agg(
        F.count("*").cast("long").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


@query(
    "events_heatmap_hour_dow",
    oracle="""
    SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS INT) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def events_heatmap_hour_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap at the (day-of-week × hour) grain — the load-
    pattern dashboard behind capacity planning and send-time picking.
    One hash agg over ≤ 168 cells with an exact per-cell distinct-user
    count; Spark's 1-based-Sunday ``dayofweek`` is aligned to DuckDB's
    0-based convention by subtracting 1 (the same pin as
    functions/scalars.date_parts)."""
    e = TableRegistry(spark, sf_dir).events
    return e.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# --- r14 registrations: as-of tolerance + trailing-window features ---

_ASOF_WITHIN_ORACLE = """
WITH p AS (
  SELECT * FROM (
    SELECT user_id AS k, ts AS pt, event_id AS purchase_event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
  ) WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.ts,
       CASE WHEN e.ts IS NOT NULL
                 AND p.pt >= e.ts - INTERVAL 1 HOUR
            THEN p.purchase_event_id END AS asof_purchase_event_id
FROM events e
ASOF LEFT JOIN p ON e.user_id = p.k AND e.ts >= p.pt
"""


@query("events_asof_within_tolerance", oracle=_ASOF_WITHIN_ORACLE)
def events_asof_within_tolerance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """As-of join with MAX-STALENESS tolerance (operators/temporal.
    asof_join_within, registered r14 — pandas merge_asof(tolerance) /
    kdb wj semantics): each event carries its user's most recent
    purchase ONLY if that purchase is <= 1 hour old; older matches
    null out exactly as if no purchase governed. Correctness rides the
    as-of invariant — the carried row is THE latest <= ts, so if IT is
    stale every candidate is — making one map-side post-mask on the
    carried timestamp a complete implementation: cost identical to the
    plain as-of (ONE union-merge exchange + partitioned sort), the
    tolerance never touches the shuffle. The DuckDB twin uses native
    ASOF LEFT JOIN plus the same tolerance CASE. Purchases
    deduplicated to one row per (user, ts) by deterministic
    top1_per_group, as the as-of right-side contract requires."""
    ev = TableRegistry(spark, sf_dir).events.select(
        "event_id", "user_id", "ts"
    )
    purch = top1_per_group(
        TableRegistry(spark, sf_dir)
        .events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("pt"),
            F.col("event_id").alias("purchase_event_id"),
        ),
        ["user_id", "pt"],
        [F.col("purchase_event_id").desc()],
    )
    from datalake_nba_dmc_spark.operators.temporal import asof_join_within

    return asof_join_within(
        ev,
        purch,
        key="user_id",
        left_ts="ts",
        right_ts="pt",
        right_cols=["purchase_event_id"],
        tolerance="interval 1 hour",
    )


_TRAILING_WINDOW_ORACLE = """
WITH p AS (
  SELECT user_id, ts AS pt, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
), ev AS (
  SELECT DISTINCT event_id, user_id, ts FROM events
), feat AS (
  SELECT e.event_id, e.user_id, e.ts,
         CAST(COUNT(p.pt) AS BIGINT) AS win_count,
         CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS win_sum_scaled
  FROM ev e
  LEFT JOIN p ON p.user_id = e.user_id
             AND p.pt > e.ts - INTERVAL 1 HOUR AND p.pt <= e.ts
  GROUP BY e.event_id, e.user_id, e.ts
)
SELECT f.event_id, f.user_id, f.ts, f.win_count, f.win_sum_scaled
FROM events x
JOIN feat f ON x.event_id IS NOT DISTINCT FROM f.event_id
           AND x.user_id IS NOT DISTINCT FROM f.user_id
           AND x.ts IS NOT DISTINCT FROM f.ts
"""


@query("events_trailing_window_features", oracle=_TRAILING_WINDOW_ORACLE)
def events_trailing_window_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing-window feature join (operators/temporal.
    trailing_window_agg, registered r14 — the kdb wj / time-windowed
    feature every event-driven training pipeline ships):
    purchases-in-the-last-hour count + scaled sum per event, EXACTLY,
    by PREFIX-SUM DIFFERENCING — right collapses to per-(user, ts)
    running (count, sum) and each event reads the cumulative at ts and
    at ts−1h via two as-of passes; the feature is their difference.
    The DuckDB twin materializes the range join directly: fine at
    100k events, |L|·|window| row explosion at 100 TB — the two-sort
    form is the scale path, and the twin proves it exact. Window edges
    (t−w, t] (left EXCLUSIVE, right inclusive) are pytest-pinned. The
    oracle computes at DISTINCT-event grain and fans back out per
    event row (null-safe equality), so a re-delivered events table
    matches the operator's per-left-row multiplicity — the r12
    duplication-proof registration rule (the dup audit caught the
    GROUP-BY-collapsing first form)."""
    t = TableRegistry(spark, sf_dir)
    ev = t.events.select("event_id", "user_id", "ts")
    purch = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    from datalake_nba_dmc_spark.operators.temporal import (
        trailing_window_agg,
    )

    return trailing_window_agg(
        ev,
        purch,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="value",
        window="interval 1 hour",
    )


_TRAILING_MULTI_ORACLE = """
WITH p AS (
  SELECT user_id, ts AS pt, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
), ev AS (
  SELECT DISTINCT event_id, user_id, ts FROM events
), feat AS (
  SELECT e.event_id, e.user_id, e.ts,
         CAST(COUNT(CASE WHEN p.pt > e.ts - INTERVAL 1 HOUR
                         THEN 1 END) AS BIGINT) AS win_1h_count,
         CAST(COALESCE(SUM(CASE WHEN p.pt > e.ts - INTERVAL 1 HOUR
                                THEN p.v END), 0) AS BIGINT)
           AS win_1h_sum_scaled,
         CAST(COUNT(p.pt) AS BIGINT) AS win_24h_count,
         CAST(COALESCE(SUM(p.v), 0) AS BIGINT) AS win_24h_sum_scaled
  FROM ev e
  LEFT JOIN p ON p.user_id = e.user_id
             AND p.pt > e.ts - INTERVAL 24 HOUR AND p.pt <= e.ts
  GROUP BY e.event_id, e.user_id, e.ts
)
SELECT f.event_id, f.user_id, f.ts, f.win_1h_count, f.win_1h_sum_scaled,
       f.win_24h_count, f.win_24h_sum_scaled
FROM events x
JOIN feat f ON x.event_id IS NOT DISTINCT FROM f.event_id
           AND x.user_id IS NOT DISTINCT FROM f.user_id
           AND x.ts IS NOT DISTINCT FROM f.ts
"""


@query("events_trailing_windows_multi", oracle=_TRAILING_MULTI_ORACLE)
def events_trailing_windows_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-HORIZON trailing-window feature block (operators/temporal.
    trailing_window_agg_multi, registered r15): purchases count + exact
    scaled sum in the trailing 1h AND 24h per event, in ONE pass — the
    per-key cumulative table is built once, the at-ts cumulative read
    once, each extra horizon adds exactly one more as-of lower-edge
    pass (N+1 union-merge sorts for N horizons, vs 2N for N separate
    calls and vs the |L|x|R-per-window| explosion of N range joins).
    Single-entry reduction to the registered
    events_trailing_window_features is bit-pinned in pytest; the
    horizon-nesting law (24h dominates 1h on every row) rides the twin.
    The oracle materializes ONE range join on the WIDEST horizon and
    aggregates each horizon conditionally, composed duplication-proof
    (distinct-grain compute + null-safe per-row fan-out — the r14
    registration rule for per-left-row operators)."""
    from datalake_nba_dmc_spark.operators.temporal import (
        trailing_window_agg_multi,
    )

    t = TableRegistry(spark, sf_dir)
    ev = t.events.select("event_id", "user_id", "ts")
    purch = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return trailing_window_agg_multi(
        ev,
        purch,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="value",
        windows={"1h": "interval 1 hour", "24h": "interval 24 hours"},
    )


_TRAILING_DISTINCT_ORACLE = """
WITH p AS (
  SELECT DISTINCT user_id,
         CAST(CASE WHEN json_valid(props)
                   THEN json_extract_string(props, '$.k') END AS BIGINT)
           AS item,
         ts
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND ts IS NOT NULL
    AND CAST(CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS BIGINT)
        IS NOT NULL
), ev AS (
  SELECT DISTINCT event_id, user_id, ts FROM events
), feat AS (
  SELECT e.event_id, e.user_id, e.ts,
         CAST(COUNT(DISTINCT p.item) AS BIGINT) AS win_distinct
  FROM ev e
  LEFT JOIN p ON p.user_id = e.user_id
             AND p.ts > e.ts - INTERVAL 24 HOUR AND p.ts <= e.ts
  GROUP BY e.event_id, e.user_id, e.ts
)
SELECT f.event_id, f.user_id, f.ts, f.win_distinct
FROM events x
JOIN feat f ON x.event_id IS NOT DISTINCT FROM f.event_id
           AND x.user_id IS NOT DISTINCT FROM f.user_id
           AND x.ts IS NOT DISTINCT FROM f.ts
"""


@query("events_trailing_distinct_items", oracle=_TRAILING_DISTINCT_ORACLE)
def events_trailing_distinct_items(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT trailing-window DISTINCT count (operators/temporal.
    trailing_distinct_count): distinct purchased items (props.k) per
    event in the trailing 24 h — the feature prefix-sum differencing
    cannot express. Interval stabbing: each distinct (user, item, ts)
    occurrence emits [max(prev_same_item_ts, ts-24h), ts) on the
    window-start axis, and the distinct count is the number of intervals
    containing t-24h — one running sum + one as-of, never a range join.
    The oracle materializes the range join + COUNT(DISTINCT) definition,
    duplication-proof (distinct-grain compute + null-safe per-row
    fan-out, the events_trailing_windows_multi rule). Boundary semantics
    (t-w, t] and the right-side duplication-invariance law are
    pytest-pinned."""
    from datalake_nba_dmc_spark.operators.temporal import (
        trailing_distinct_count,
    )

    t = TableRegistry(spark, sf_dir)
    ev = t.events.select("event_id", "user_id", "ts")
    purch = t.events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    )
    return trailing_distinct_count(
        ev,
        purch,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_col="item",
        window="interval 24 hours",
    )
