"""Medallion pipeline runner: Landing → Bronze → Silver → Gold.

Reproduces the reference's five-job architecture (README.md:21-26; one Glue
job per hop) as one composable PySpark pipeline over the driver's star
schema, with each hop reading the previous layer's *written* tables — real
table-to-table lineage, like the reference's catalog layers, not one fused
plan.

Job-for-job mapping (reference file → stage here):

- ``aws-job-landing-to-bronze``  → :func:`landing_to_bronze` — typed/cleaned
  tables: safe bigint→int narrowing (one pass, not per-column RDD scans —
  fixes reference ``aws-job-landing-to-bronze.py:68-82``), date
  canonicalization, junk-column drops, whole-row dedup of the dim table
  (``:59``).
- ``aws-job-bronze-to-silver``   → :func:`bronze_to_silver` — bulk renames
  (``:46-106``) + the J1/J2/J3 left joins (``:110-252``) → two silver tables.
- ``aws-job-silver-to-silver``   → :func:`silver_to_silver` — column
  segmentation + dtype-driven dynamic sum aggregate (``:42-49``).
- ``aws-job-silver-to-gold-player`` → :func:`silver_to_gold_customer` — W1
  latest-row window + A3 multi-measure agg + J4 join (``:37-75``).
- ``aws-job-silver-to-gold-team``   → :func:`silver_to_gold_nation` — A4
  group-sums mart (``aws-job-silver-to-gold-team.py:32-48``).

Each stage writes with :func:`datalake_nba_dmc_spark.sinks.write_table`
(plain overwrite, natural partitioning) instead of the reference's
coalesce(1)+boto3-rename (``:85-106``) — see sinks.py for why.

Within a stage no table reads another's output, so :meth:`LayerIO.write_all`
writes a stage's tables concurrently, one ``InheritableThread`` per table:
the small tables' one-task jobs then share the cores instead of queueing,
and every job keeps the caller's job group and description. The stage
returns only after every write has finished, and raises the first table's
failure (in the stage's table order) if any write failed. A failed write
can still leave its own table unreadable (Spark deletes the old files
before the job runs); the others of the stage are written regardless.

Path-mode :class:`LayerIO` also remembers the schema of every table it
wrote, so the next stage's reads of those tables skip Parquet's
schema-inference job (one job per read otherwise).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from datalake_nba_dmc_spark.operators import aggregates as agg
from datalake_nba_dmc_spark.operators import conform, joins, windows
from datalake_nba_dmc_spark.sinks import read_table, write_table
from datalake_nba_dmc_spark.sources import load_table
from datalake_nba_dmc_spark.sources.catalog import (
    ensure_database,
    read_catalog_table,
    save_catalog_table,
)


def _out(base: str, layer: str, name: str) -> str:
    return os.path.join(base, layer, name)


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` as a file-source read returns it: Spark writes files and
    reads them back with every field, element and value nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


class LayerIO:
    """Layer-addressed table IO for the pipeline, in two modes.

    ``use_catalog=False`` (default): plain path reads/writes. The instance
    records the schema of every table it writes (``schemas``, path ->
    schema as a read returns it), and :meth:`read` of a recorded path
    passes that schema to the reader, so no job re-derives it from the
    Parquet footers. Paths this instance did not write are read with
    inference, as before. ``use_catalog=True``: each medallion layer
    becomes a session-catalog database (``db_bronze``/``db_silver``/
    ``db_gold`` — the open equivalent of the reference's Glue databases,
    reference ``aws-job-landing-to-bronze/aws-job-landing-to-bronze.py:22-37``)
    and stages address tables as (database, table); data still lands at
    the SAME layer paths as external-table locations, so path-mode readers
    see identical bytes.

    :meth:`write_all` writes one stage's tables concurrently."""

    def __init__(self, spark: SparkSession, out_dir: str, use_catalog: bool = False):
        self.spark = spark
        self.out_dir = out_dir
        self.use_catalog = use_catalog
        self.schemas: dict[str, StructType] = {}

    def _db(self, layer: str) -> str:
        db = f"db_{layer}"
        ensure_database(self.spark, db, location=_out(self.out_dir, "_catalog", db))
        return db

    def write(self, df: DataFrame, layer: str, name: str) -> str:
        path = _out(self.out_dir, layer, name)
        if self.use_catalog:
            save_catalog_table(df, self._db(layer), name, path=path)
        else:
            # a failed overwrite leaves the table empty: no recorded
            # schema may then make it read back as zero rows
            self.schemas.pop(path, None)
            write_table(df, path)
            self.schemas[path] = _as_nullable(df.schema)
        return path

    def write_all(
        self, layer: str, builds: dict[str, Callable[[], DataFrame]]
    ) -> dict[str, str]:
        """Build and write each table of ``builds`` (name -> builder) on a
        thread of its own; returns name -> path in ``builds``' order.

        The threads inherit the caller's local properties (job group,
        description), so every job they launch is counted where the
        caller's would be. The call returns after every thread has
        finished; if any build or write raised, it then re-raises the
        first such error in ``builds``' order."""
        if self.use_catalog:
            self._db(layer)  # CREATE DATABASE once, before the threads
        paths: dict[str, str] = {}
        errors: dict[str, BaseException] = {}

        def run(name: str) -> None:
            try:
                paths[name] = self.write(builds[name](), layer, name)
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors[name] = e

        threads = [InheritableThread(run, args=(name,)) for name in builds]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for name in builds:
            if name in errors:
                raise errors[name]
        return {name: paths[name] for name in builds}

    def read(self, layer: str, name: str) -> DataFrame:
        if self.use_catalog:
            return read_catalog_table(self.spark, self._db(layer), name)
        path = _out(self.out_dir, layer, name)
        schema = self.schemas.get(path)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        return read_table(self.spark, path)


def landing_to_bronze(spark: SparkSession, sf_dir: str, io: LayerIO) -> dict[str, str]:
    """Landing → Bronze: type hardening + cleaning per table. Each table's
    whole chain (load, the downcast's bounds job, write) runs on its own
    thread."""

    def orders() -> DataFrame:
        df = conform.safe_downcast_longs(load_table(spark, sf_dir, "orders"))
        return conform.with_derived(df, o_orderdate=F.col("o_orderdate").cast("date"))

    def lineitem() -> DataFrame:
        return conform.safe_downcast_longs(load_table(spark, sf_dir, "lineitem"))

    def customer() -> DataFrame:
        # dim table: whole-row dedup, like the reference's season bio table
        # (aws-job-landing-to-bronze.py:59)
        return agg.dedup_rows(load_table(spark, sf_dir, "customer"))

    def nation() -> DataFrame:
        return load_table(spark, sf_dir, "nation")

    return io.write_all(
        "bronze",
        {"orders": orders, "lineitem": lineitem, "customer": customer, "nation": nation},
    )


def bronze_to_silver(spark: SparkSession, io: LayerIO) -> dict[str, str]:
    """Bronze → Silver: conform names + enrich facts with dimension joins."""
    orders = io.read("bronze", "orders")
    lineitem = io.read("bronze", "lineitem")
    customer = io.read("bronze", "customer")
    nation = io.read("bronze", "nation")

    # bulk rename (P2) then J1-style single-key left join; small dim broadcast
    customer = conform.rename_columns(
        customer, {"c_custkey": "custkey", "c_name": "customer_name"}
    )
    orders_customer = joins.left_join(
        conform.rename_columns(orders, {"o_custkey": "custkey"}),
        customer.select("custkey", "customer_name", "c_nationkey", "c_mktsegment"),
        on="custkey",
        broadcast_right=True,
    )

    # J3-style: fact enriched through two joins with a derived key
    li = conform.with_derived(
        lineitem, l_revenue=F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    li_orders = joins.left_join(
        li,
        orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        on=li.l_orderkey == F.col("o_orderkey"),
    ).drop("o_orderkey")
    li_full = joins.left_join(
        li_orders,
        customer.select(F.col("custkey").alias("o_custkey"), "c_nationkey"),
        on="o_custkey",
        broadcast_right=True,
    )

    # dim conformed for gold (J2-style derived join key parallel: nation name)
    return io.write_all(
        "silver",
        {
            "orders_customer": lambda: orders_customer,
            "lineitem_enriched": lambda: li_full,
            "nation": lambda: nation,
        },
    )


def silver_to_silver(spark: SparkSession, io: LayerIO) -> dict[str, str]:
    """Silver → Silver: column segmentation + dynamic dtype-driven aggregate
    (reference aws-job-silver-to-silver.py:31-49)."""
    li = io.read("silver", "lineitem_enriched")
    seg = li.drop("l_comment", "l_shipinstruct")  # column segmentation (P1)
    daily = agg.dynamic_sum_agg(
        seg,
        group_cols=["o_custkey", "o_orderdate"],
        dtypes=("int", "bigint"),
    )
    p = io.write(daily, "silver", "customer_daily")
    return {"customer_daily": p}


def silver_to_gold_customer(spark: SparkSession, io: LayerIO) -> str:
    """Silver → Gold: the flagship W1+A3+J4 mart (customer resume)."""
    oc = io.read("silver", "orders_customer")
    totals = agg.multi_measure_agg(
        oc,
        group_cols=["custkey", "customer_name", "c_mktsegment"],
        sum_cols=["o_totalprice"],
        distinct_count_col="o_orderdate",
        distinct_count_alias="active_days",
    )
    latest = windows.top1_per_group(
        oc.select("custkey", "o_orderkey", "o_orderdate", "o_orderpriority"),
        ["custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    ).select(
        "custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_orderpriority").alias("latest_priority"),
    )
    mart = joins.left_join(totals, latest, on="custkey")
    return io.write(mart, "gold", "customer_resume")


def silver_to_gold_nation(spark: SparkSession, io: LayerIO) -> str:
    """Silver → Gold: the A4 franchise-totals mart (nation resume)."""
    li = io.read("silver", "lineitem_enriched")
    nation = io.read("silver", "nation")
    mart = agg.multi_measure_agg(
        li.join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("c_nationkey"), "n_name")),
            on="c_nationkey",
            how="left",
        ),
        group_cols=["c_nationkey", "n_name"],
        sum_cols=["l_quantity", "l_extendedprice"],
        distinct_count_col="o_orderdate",
        distinct_count_alias="active_days",
    )
    return io.write(mart, "gold", "nation_resume")


def run_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str, use_catalog: bool = False
) -> dict[str, str]:
    """Run all five stages in dependency order; returns every written path.

    The reference enforces this ordering operationally (five separate Glue
    jobs, maxConcurrentRuns=1 — SURVEY.md §3); here it is explicit code.
    ``use_catalog=True`` runs the identical stages addressed through
    session-catalog databases (db_bronze/db_silver/db_gold) instead of raw
    paths — the reference's Glue-catalog layering (SURVEY.md §1.5).
    """
    io = LayerIO(spark, out_dir, use_catalog=use_catalog)
    out: dict[str, str] = {}
    out.update({f"bronze/{k}": v for k, v in landing_to_bronze(spark, sf_dir, io).items()})
    out.update({f"silver/{k}": v for k, v in bronze_to_silver(spark, io).items()})
    out.update({f"silver/{k}": v for k, v in silver_to_silver(spark, io).items()})
    out["gold/customer_resume"] = silver_to_gold_customer(spark, io)
    out["gold/nation_resume"] = silver_to_gold_nation(spark, io)
    return out
