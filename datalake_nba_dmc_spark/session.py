"""SparkSession factory.

Replaces the reference's Glue bootstrap (``GlueContext(SparkContext())`` —
see reference ``aws-job-landing-to-bronze/aws-job-landing-to-bronze.py:13-19``)
with a plain open-source ``SparkSession``. Configuration is chosen for the
100 TB posture:

- AQE on (runtime re-plan, skew-join handling, partition coalescing).
- ``spark.sql.shuffle.partitions`` fixed at 32 locally (AQE coalesces
  the small ones); on a real cluster this (or AQE's coalescing) should
  target ~128 MB per shuffle partition.
- Arrow enabled so Pandas-UDF extension operators get vectorized batches.
- UTC session timezone so date/timestamp semantics match the DuckDB oracle.
- A generated-class cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``). Spark keeps compiled codegen classes in an
  LRU of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
  One ``medallion_replicated`` pass of perfbench uses 116 distinct
  classes and one ``curation_ops`` pass 222, so at the default every pass
  evicted each class before its next use: every warm pass recompiled
  93-108 (medallion) or 216 (curation) classes, 0.4-1.0 s and 0.9-2.7 s
  of Janino, and each recompiled class restarted in the JVM's
  interpreter. With the larger cache a warm pass compiles none (now and
  then 6), so codegen is a cold-pass cost only. The conf is static, so
  it is set on the builder, not in ``RUNTIME_CONFS``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Dynamic SQL confs the engine depends on — the one place each is set.
#: Safe to (re)apply on ANY session, including one the caller built
#: without ``get_spark``.
RUNTIME_CONFS = {
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
    # below every explode; filter pushdown then inlines the array-building
    # expression into that filter, re-evaluating it per row (no CSE in
    # interpreted higher-order functions). Our explodes are over computed,
    # by-construction non-empty arrays (shingles, LSH bands), where the
    # inferred filter is pure overhead — measured 7.6s → 0.7s on the
    # shingle explode at 5k docs.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.adaptive.enabled": "true",
    # Runtime row-level filtering: for a selective join, build a bloom
    # filter on the filtered (creation) side and push it into the other
    # side's SCAN — at 100 TB this skips reading most of a fact table when
    # the dim side is selective but too large to broadcast. Free locally
    # (thresholds keep it off for tiny inputs), decisive on a cluster.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Streaming state-store hygiene for the 100 TB posture: the default
    # HDFS-backed provider keeps every key's state as JVM heap objects —
    # at hundreds of millions of stream keys (user_running_state,
    # transition_steps, dropDuplicatesWithinWatermark) that is an
    # executor-OOM risk and makes checkpoint snapshots O(state size).
    # RocksDB keeps state off-heap with incremental (changelog)
    # checkpointing; the JNI jar ships with Spark (rocksdbjni in
    # pyspark/jars). Consulted at streaming-query start, so safe to set
    # on any session.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


#: Entries in Spark's compiled-class cache (a static conf: it is read once,
#: when the JVM first generates code). The largest per-pass working set
#: measured is 222 classes (``curation_ops``); Guava divides the capacity
#: over 4 segments and evicts per segment, so one segment can fill while
#: the whole cache is far from full. 1000 leaves each segment room for the
#: whole working set.
CODEGEN_CACHE_ENTRIES = 1000


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's dynamic SQL confs to a possibly-foreign session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some build → keep going, correctness unaffected
    return spark


def get_spark(app_name: str = "datalake_nba_dmc_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the caller passes the cluster master / relies on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """Generated classes this JVM has compiled so far, and the milliseconds
    Janino spent on them.

    The count is ``CodegenMetrics``' compile-time histogram's (exact: one
    update per compile); the time is ``CodeGenerator.compileTime``, the
    nanosecond sum Spark keeps beside it, because the histogram's reservoir
    samples its values. Both are JVM-wide, so take a difference around the
    work to count it.
    """
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return count, nanos / 1e6
