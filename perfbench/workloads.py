"""The benchmark's workloads: which engine entry points each op calls, the
inputs each workload is generated at, and the DuckDB twins that check the
ops' outputs after the timed passes.

Ops only call the engine's public functions: a suite builder
``QuerySpec.builder(spark, dir)`` (its returned frame is executed into the
noop sink), one of the five ``plans.medallion`` stage functions (which
write their tables themselves), or a read query over the tables those
stages wrote, built with ``sinks.read_table``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.checks import compare


@dataclass
class Ctx:
    """What an op needs: the session, the generated inputs and, for the
    medallion ops, the directory the stages write under and its
    ``plans.medallion.LayerIO``."""

    spark: SparkSession
    in_dir: str
    out_dir: str
    io: object


@dataclass(frozen=True)
class Op:
    name: str
    #: Calls the engine. Returns a frame to execute into the noop sink, or
    #: None when the call already did its work (a medallion stage).
    build: Callable[[Ctx], DataFrame | None]
    #: Which layer module the call enters: "suite", "plans" or "sinks".
    entry: str


@dataclass(frozen=True)
class Workload:
    """Why each workload exists is in perfbench/README.md and BENCHMARK.json."""

    name: str
    sf: float
    replicas: int
    #: The generated input tables the ops read.
    tables: tuple[str, ...]
    ops: tuple[Op, ...]
    #: ``check(ctx, con, results) -> {op name: [problem, ...]}``. ``con`` is
    #: a DuckDB connection with one view per generated input table;
    #: ``results`` maps op name -> the frame its last timed call returned,
    #: collected to pandas (absent when the op or the collect raised).
    check: Callable[[Ctx, duckdb.DuckDBPyConnection, dict], dict[str, list[str]]] = field(
        repr=False
    )


# --------------------------------------------------------------------------
# Suite ops (curation_ops)


def _suite_op(name: str) -> Op:
    def build(ctx: Ctx) -> DataFrame:
        from datalake_nba_dmc_spark.suite import load_all

        return load_all()[name].builder(ctx.spark, ctx.in_dir)

    return Op(name, build, "suite")


def _check_suite(names: tuple[str, ...]):
    """Each op's result against the oracle the suite registers for it
    (``load_all()[name].oracle``), run by DuckDB on the same inputs."""

    def check(ctx: Ctx, con: duckdb.DuckDBPyConnection, results: dict) -> dict[str, list[str]]:
        from datalake_nba_dmc_spark.suite import load_all

        specs = load_all()
        out = {}
        for name in names:
            got, oracle = results.get(name), specs[name].oracle
            if got is None:
                out[name] = ["no output: the op raised"]
            else:
                out[name] = compare(got, con.execute(oracle).df())
        return out

    return check


# --------------------------------------------------------------------------
# medallion_replicated

STAGES = (
    "landing_to_bronze",
    "bronze_to_silver",
    "silver_to_silver",
    "silver_to_gold_customer",
    "silver_to_gold_nation",
)


def _stage_op(stage: str) -> Op:
    def build(ctx: Ctx) -> None:
        from datalake_nba_dmc_spark.plans import medallion

        fn = getattr(medallion, stage)
        if stage == "landing_to_bronze":
            fn(ctx.spark, ctx.in_dir, ctx.io)
        else:
            fn(ctx.spark, ctx.io)
        return None

    return Op(stage, build, "plans")


def _written(ctx: Ctx, layer: str, name: str) -> DataFrame:
    from datalake_nba_dmc_spark.sinks import read_table

    return read_table(ctx.spark, os.path.join(ctx.out_dir, layer, name))


def _read_top_customers(ctx: Ctx) -> DataFrame:
    return (
        _written(ctx, "gold", "customer_resume")
        .select("custkey", "customer_name", "o_totalprice", "active_days")
        .orderBy(F.col("o_totalprice").desc(), "custkey")
        .limit(100)
    )


def _read_nation_year(ctx: Ctx) -> DataFrame:
    li = _written(ctx, "silver", "lineitem_enriched")
    nation = _written(ctx, "silver", "nation")
    return (
        li.join(nation, li.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("year"))
        .agg(
            F.count(F.lit(1)).alias("lines"),
            F.sum("l_quantity").alias("qty"),
            F.countDistinct("o_custkey").alias("customers"),
        )
    )


def _read_daily_top(ctx: Ctx) -> DataFrame:
    return (
        _written(ctx, "silver", "customer_daily")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("days"), F.sum("l_linenumber").alias("lines"))
        .orderBy(F.col("lines").desc(), "o_custkey")
        .limit(100)
    )


_READS = {
    "read_top_customers": (
        _read_top_customers,
        """SELECT custkey, customer_name, o_totalprice, active_days
           FROM gold_customer_resume ORDER BY o_totalprice DESC, custkey LIMIT 100""",
    ),
    "read_nation_year": (
        _read_nation_year,
        """SELECT n_name, year(o_orderdate) AS year, count(*) AS lines,
                  sum(l_quantity) AS qty, count(DISTINCT o_custkey) AS customers
           FROM silver_lineitem_enriched JOIN silver_nation ON c_nationkey = n_nationkey
           GROUP BY ALL""",
    ),
    "read_daily_top": (
        _read_daily_top,
        """SELECT o_custkey, count(*) AS days, CAST(sum(l_linenumber) AS BIGINT) AS lines
           FROM silver_customer_daily GROUP BY ALL ORDER BY lines DESC, o_custkey LIMIT 100""",
    ),
}

#: Written table -> (DuckDB twin over the inputs, float decimals compared)
#: for the tables that have a full twin; the rest are checked by row count.
_TWINS = {
    "silver/customer_daily": (
        """SELECT o.o_custkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
                  CAST(sum(l_orderkey) AS BIGINT) AS l_orderkey,
                  CAST(sum(l_partkey) AS BIGINT) AS l_partkey,
                  CAST(sum(l_suppkey) AS BIGINT) AS l_suppkey,
                  CAST(sum(l_linenumber) AS BIGINT) AS l_linenumber,
                  CAST(sum(c.c_nationkey) AS BIGINT) AS c_nationkey
           FROM lineitem l
           LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
           LEFT JOIN (SELECT DISTINCT * FROM customer) c ON o.o_custkey = c.c_custkey
           GROUP BY ALL""",
        None,
    ),
    "gold/customer_resume": (
        """WITH oc AS (
             SELECT o.o_custkey AS custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d,
                    o.o_orderpriority, o.o_totalprice, c.c_name AS customer_name, c.c_mktsegment
             FROM orders o LEFT JOIN (SELECT DISTINCT * FROM customer) c
               ON o.o_custkey = c.c_custkey
           ), totals AS (
             SELECT custkey, customer_name, c_mktsegment, sum(o_totalprice) AS o_totalprice,
                    count(DISTINCT d) AS active_days
             FROM oc GROUP BY ALL
           ), latest AS (
             SELECT custkey, o_orderkey AS latest_orderkey, o_orderpriority AS latest_priority
             FROM oc QUALIFY row_number() OVER (
               PARTITION BY custkey ORDER BY d DESC, o_orderkey DESC) = 1
           )
           SELECT * FROM totals LEFT JOIN latest USING (custkey)""",
        2,
    ),
    "gold/nation_resume": (
        """SELECT c.c_nationkey, n.n_name, sum(l.l_quantity) AS l_quantity,
                  sum(l.l_extendedprice) AS l_extendedprice,
                  count(DISTINCT CAST(o.o_orderdate AS DATE)) AS active_days
           FROM lineitem l
           LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
           LEFT JOIN (SELECT DISTINCT * FROM customer) c ON o.o_custkey = c.c_custkey
           LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
           GROUP BY ALL""",
        2,
    ),
}

_ROW_COUNTS = {
    "bronze/orders": "SELECT count(*) FROM orders",
    "bronze/lineitem": "SELECT count(*) FROM lineitem",
    "bronze/customer": "SELECT count(*) FROM (SELECT DISTINCT * FROM customer)",
    "bronze/nation": "SELECT count(*) FROM nation",
    "silver/orders_customer": "SELECT count(*) FROM orders",
    "silver/lineitem_enriched": "SELECT count(*) FROM lineitem",
    "silver/nation": "SELECT count(*) FROM nation",
}

#: Which stage writes each table (a bad table fails its stage's check).
_WRITER = {
    "bronze": "landing_to_bronze",
    "silver/orders_customer": "bronze_to_silver",
    "silver/lineitem_enriched": "bronze_to_silver",
    "silver/nation": "bronze_to_silver",
    "silver/customer_daily": "silver_to_silver",
    "gold/customer_resume": "silver_to_gold_customer",
    "gold/nation_resume": "silver_to_gold_nation",
}


def _check_medallion(ctx: Ctx, con: duckdb.DuckDBPyConnection, results: dict) -> dict[str, list[str]]:
    """The tables the last pass wrote, against DuckDB twins of their stage
    (or their row count), and the read queries against DuckDB twins over
    the same written tables."""
    out: dict[str, list[str]] = {s: [] for s in STAGES}
    for table in list(_TWINS) + list(_ROW_COUNTS):
        stage = _WRITER.get(table) or _WRITER[table.split("/")[0]]
        view = table.replace("/", "_")
        path = os.path.join(ctx.out_dir, table, "*.parquet")
        try:
            con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
            if table in _TWINS:
                sql, decimals = _TWINS[table]
                problems = compare(con.execute(f"SELECT * FROM {view}").df(), con.execute(sql).df(), decimals)
            else:
                got = con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
                want = con.execute(_ROW_COUNTS[table]).fetchone()[0]
                problems = [] if got == want else [f"rows {got} vs {want}"]
        except duckdb.Error as e:
            problems = [f"duckdb: {str(e)[:200]}"]
        out[stage] += [f"{table}: {p}" for p in problems]
    for name, (_, sql) in _READS.items():
        got = results.get(name)
        out[name] = ["no output: the op raised"] if got is None else compare(got, con.execute(sql).df())
    return out


# --------------------------------------------------------------------------

#: Five LLM-data operators over ``documents``; their builders launch jobs
#: eagerly and the JPEG decode runs in ``mapInPandas``. An odd number of ops
#: keeps the pooled median on one op's middle sample.
CURATION_OPS = (
    "graph_hyperball_m64_est",
    "graph_label_propagation",
    "dedup_incremental",
    "text_bigram_logprob",
    "media_jpeg_decode_stats",
)

#: Key-offset replicas of the sf0.01 order tables in ``medallion_replicated``.
MEDALLION_REPLICAS = 6


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "curation_ops",
            0.01,
            1,
            ("documents",),
            tuple(_suite_op(n) for n in CURATION_OPS),
            _check_suite(CURATION_OPS),
        ),
        Workload(
            "medallion_replicated",
            0.01,
            MEDALLION_REPLICAS,
            ("nation", "customer", "orders", "lineitem"),
            tuple(_stage_op(s) for s in STAGES)
            + tuple(Op(n, build, "sinks") for n, (build, _) in _READS.items()),
            _check_medallion,
        ),
    )
}
