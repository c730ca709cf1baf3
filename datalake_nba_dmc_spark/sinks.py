"""Sinks: K1/K2 semantics (overwrite Parquet per table) without the
reference's anti-patterns.

The reference writes every table as `coalesce(1)` → tmp dir → boto3
list/copy/delete rename into `{layer}/{name}/{name}.parquet` (reference
``aws-job-landing-to-bronze/aws-job-landing-to-bronze.py:85-106``, duplicated
in all five jobs). Semantically that is just "overwrite table"; the
single-file collapse serializes the entire final stage and the
copy-then-delete is non-atomic (SURVEY.md §4.3-2/3). Here:

- natural partitioning is kept (`df.write.parquet` emits one file per
  partition — parallel at any scale);
- optional `partition_by` gives hive-style layout so downstream reads get
  partition pruning;
- `compact()` is the small-files answer when a table really should have few
  files: an explicit, separate rewrite (like Delta OPTIMIZE), not a
  `coalesce(1)` fused into the producing job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators.util import invalidate_partition_memo


_SCHEMA_SIDECAR = "_SCHEMA.json"


def _write_schema_sidecar(df: DataFrame, path: str) -> None:
    """Persist ``df``'s full schema (incl. partition columns) as an
    underscore-prefixed sidecar Spark's file index ignores. A
    hive-PARTITIONED write of an EMPTY DataFrame emits no partition
    directories and no data files — only ``_SUCCESS`` — so the table
    becomes unreadable (``UNABLE_TO_INFER_SCHEMA``) until the next
    non-empty write. That is a real operational hazard: re-landing an
    empty corrected daily batch with ``mode("overwrite")`` bricks the
    table for every downstream reader. Table formats solve this with a
    metadata layer; absent those jars, the sidecar + the
    :func:`read_table` fallback keep the empty table readable with its
    exact schema. Found by ``tools/robustness_audit.py empty``. Written
    on every partitioned write; read only when inference finds no data
    file, so a non-empty table reads back with its inferred schema."""
    spark = df.sparkSession
    p = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + _SCHEMA_SIDECAR)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(df.schema.json().encode("utf-8")))
    finally:
        out.close()


def _read_schema_sidecar(spark: SparkSession, path: str):
    from pyspark.sql.types import StructType

    p = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + _SCHEMA_SIDECAR)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8")
    finally:
        stream.close()
    import json

    return StructType.fromJson(json.loads(data))


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
) -> None:
    """K1/K2 — overwrite a table directory. Format is pluggable ("parquet"
    default; "delta"/"iceberg" drop in unchanged where those jars exist).

    Empty-input safety: an unpartitioned write of zero rows emits one
    schema-bearing (footer-only) file, so the table stays readable; a
    PARTITIONED write of zero rows emits nothing, so every partitioned
    write also writes a schema sidecar for :func:`read_table` to fall
    back on (one small file; an emptiness probe would run the plan a
    second time).

    Partition on canonical, NON-EMPTY keys only: hive partition-value
    encoding is lossy for degenerate strings — NULL and ``''`` both
    serialize to ``__HIVE_DEFAULT_PARTITION__`` and read back as NULL, so
    partitioning on a free-text column silently corrupts empty-string
    values (``tools/robustness_audit.py nulls`` demonstrates the loss)."""
    w = df.write.mode(mode).format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)
    invalidate_partition_memo()
    if partition_by:
        _write_schema_sidecar(df, path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a table directory; when the directory has no data files to
    infer a schema from (an empty partitioned write), fall back to the
    schema sidecar so downstream plans keep their exact column types."""
    try:
        return spark.read.format(fmt).load(path)
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        schema = _read_schema_sidecar(spark, path)
        if schema is None:
            raise
        return spark.createDataFrame([], schema)


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Incremental ingest: replace ONLY the hive partitions present in
    ``df``, leaving every other partition untouched (dynamic partition
    overwrite). This is how a daily job lands day N into a 100 TB
    partitioned table — rewriting just day N's directory — where a plain
    ``mode("overwrite")`` would truncate the whole table and re-landing a
    late/corrected day would otherwise need a read-modify-write of
    everything. Idempotent per partition: re-running the same batch
    rewrites the same directories to the same content.

    The mode is set per-write via ``option("partitionOverwriteMode")``
    (Spark reads it from the write options before the session conf), so
    concurrent static-overwrite writes elsewhere in the session are
    unaffected.
    """
    (
        df.write.mode("overwrite")
        .format(fmt)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .save(path)
    )
    invalidate_partition_memo()
    # an empty batch replaces no partitions (correct no-op on an existing
    # table), but against a brand-new path it leaves a file-less directory;
    # the sidecar keeps that readable (see _write_schema_sidecar)
    _write_schema_sidecar(df, path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a catalog table hash-bucketed (optionally sorted) by key.

    The co-located-join primitive: two tables bucketed by the same key into
    the same bucket count join with ZERO shuffle (Catalyst recognizes the
    bucketing as satisfying the join's distribution requirement). At 100 TB
    this is how repeated fact-to-fact joins avoid re-exchanging terabytes
    per query — pay one bucketed write, join shuffle-free forever after.
    Requires the session catalog (``saveAsTable``) because bucket metadata
    lives in the table definition, not the files.
    """
    w = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
    invalidate_partition_memo()


def table_exists(spark: SparkSession, path: str) -> bool:
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    p = hpath(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


def overwrite_self_referencing(
    spark: SparkSession, df: DataFrame, path: str, fmt: str = "parquet"
) -> None:
    """Overwrite ``path`` with a plan that READS ``path``: the result is
    fully written to a staging directory first, then swapped in via the
    Hadoop FS API (works for file://, hdfs://, s3a://). Never overwrite
    your own input in place — a lazy (or cache-evicted) plan re-reading
    the path mid-delete recomputes from files being destroyed. Crashing
    between delete and rename leaves the complete staged copy for manual
    swap, never a half-written table."""
    staging = path.rstrip("/") + "__staging"
    df.write.mode("overwrite").format(fmt).save(staging)
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    src, dst = hpath(staging), hpath(path)
    fs = src.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(dst, True)
    if not fs.rename(src, dst):
        raise OSError(f"overwrite_self_referencing: rename {staging} -> {path} failed")
    invalidate_partition_memo()


def upsert_table(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    keys: Sequence[str],
    fmt: str = "parquet",
) -> None:
    """Merge ``batch`` into the table at ``path`` (MERGE INTO against a
    plain-format table). First call creates the table; later calls apply
    matched-update / not-matched-insert via ``operators.merge.merge_upsert``
    through the staging-swap protocol (the merge reads the path it
    overwrites). Re-applying the same batch is a no-op by construction
    (matched rows update to identical values) — the idempotence that makes
    foreachBatch replays converge."""
    if not table_exists(spark, path):
        batch.write.mode("overwrite").format(fmt).save(path)
        invalidate_partition_memo()
        return
    from datalake_nba_dmc_spark.operators.merge import merge_upsert

    target = spark.read.format(fmt).load(path).select(*batch.columns)
    overwrite_self_referencing(spark, merge_upsert(target, batch, keys), path, fmt)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write a table range-partitioned and sorted on ``sort_cols`` — the
    open-format equivalent of Delta's ``OPTIMIZE ... ZORDER``'s goal for a
    single sort axis: rows cluster into disjoint key ranges per file, so
    each Parquet file's min/max footer stats cover a narrow slice and a
    point/range predicate on the sort key prunes all but a few files
    before any I/O happens.

    ``repartitionByRange`` samples the key distribution (one extra pass
    over a sample, not the data) to build balanced range bounds — skewed
    keys get split across files instead of hot-spotting one writer.
    ``sortWithinPartitions`` then orders rows inside each file so Parquet
    page-level (and row-group-level) stats prune WITHIN the surviving
    files too. At 100 TB this turns "scan everything, filter late" into
    "open the 1% of files whose range intersects the predicate"."""
    parts = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).format(fmt).save(path)
    invalidate_partition_memo()


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    num_files: int = 64,
    buckets_per_dim: int = 64,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Multi-column data clustering via a Morton (Z-order) curve — the
    open-format equivalent of Delta ``OPTIMIZE ... ZORDER BY (a, b)``.

    ``write_range_sorted`` clusters ONE axis perfectly and leaves every
    other column's per-file min/max spanning the full domain (no pruning).
    Z-ordering trades a little locality on each axis for locality on ALL
    of them: rows map to a space-filling curve position built by
    bit-interleaving each column's rank, so files cover small HYPERCUBES
    of the key space and predicates on ANY z-ordered column skip most
    files on footer stats alone.

    Scale shape (same recipe Delta uses):

    1. Per-column equi-depth boundaries from ONE multi-column
       ``approxQuantile`` call — a single sample-based driver action
       computes every dimension's ``buckets_per_dim`` quantiles in one
       pass over the data, regardless of ``len(zorder_cols)``; equi-depth
       (not ``width_bucket`` equi-width) so skewed columns still spread
       across buckets.
    2. Each row's per-column rank = count of boundaries ≤ value — a
       ``filter`` over a tiny broadcast literal array, pure codegen.
    3. Morton-interleave the rank bits into one long; range-partition and
       sort by it (one exchange, the same cost as a single-axis layout
       write).
    """
    import math

    n_bits = max(1, int(math.ceil(math.log2(buckets_per_dim))))
    qs = [i / buckets_per_dim for i in range(1, buckets_per_dim)]
    all_bounds = df.approxQuantile(list(zorder_cols), qs, 0.01)
    rank_cols = []
    for c, bounds in zip(zorder_cols, all_bounds):
        arr = F.array(*[F.lit(b) for b in bounds])
        rank = F.size(F.filter(arr, lambda b: b <= F.col(c).cast("double")))
        rank_cols.append(rank.cast("long").alias(f"__zr_{c}"))
    ranked = df.select("*", *rank_cols)
    z = F.lit(0).cast("long")
    for bit in range(n_bits):
        for d, c in enumerate(zorder_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(f"__zr_{c}"), bit).bitwiseAND(F.lit(1)),
                    bit * len(zorder_cols) + d,
                )
            )
    zdf = ranked.withColumn("__zval", z)
    (
        zdf.repartitionByRange(num_files, "__zval")
        .sortWithinPartitions("__zval")
        .drop("__zval", *[f"__zr_{c}" for c in zorder_cols])
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )
    invalidate_partition_memo()


def compact(
    spark: SparkSession, path: str, target_files: int, fmt: str = "parquet"
) -> None:
    """Rewrite a table directory to ~``target_files`` files (small-file
    compaction). Runs as its own job so the producing pipeline keeps full
    parallelism; ``repartition`` (not ``coalesce``) so the rewrite itself is
    balanced.

    Staging-dir protocol: the compacted copy is FULLY written to a sibling
    ``<path>__staging`` directory before the original is touched, then
    swapped in via the Hadoop FileSystem API (works for file://, hdfs://,
    s3a://). Never cache-then-overwrite-in-place: a cached partition evicted
    mid-write would recompute from the source files being deleted — exactly
    the memory-pressure regime where compaction runs. The delete→rename pair
    is not transactional (Delta/Iceberg commits would make it so); crashing
    between the two leaves the complete staged copy intact for manual swap,
    never a half-written table.
    """
    compacted = spark.read.format(fmt).load(path).repartition(target_files)
    overwrite_self_referencing(spark, compacted, path, fmt)


def file_manifest(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    fmt: str = "parquet",
) -> DataFrame:
    """Small-files / layout introspection for a written table: per
    partition-key, the number of physical files and row count, from ONE
    scan using ``input_file_name()`` — the operational report that decides
    when :func:`compact` is worth running (a 100 TB table with thousands
    of KB-sized files per partition wastes its scan parallelism on open
    overhead and defeats footer-stat skipping). Returns
    (*partition_cols, ``n_files``, ``n_rows``)."""
    df = read_table(spark, path, fmt).withColumn("_file", F.input_file_name())
    # input_file_name() is non-deterministic to the analyzer, so it must be
    # projected to a column before it can feed an aggregate.
    return df.groupBy(*partition_cols).agg(
        F.countDistinct("_file").alias("n_files"),
        F.count("*").alias("n_rows"),
    )


def table_versions(spark: SparkSession, root: str) -> list[int]:
    """Committed versions of a versioned table (sorted ascending): the
    ``v=N`` child directories of ``root``. Staging directories are
    invisible by construction (:func:`versioned_write` renames into place
    only after the write completes)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    p = hpath(root)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def versioned_write(
    spark: SparkSession, df: DataFrame, root: str, fmt: str = "parquet"
) -> int:
    """Append a new immutable VERSION of a table — poor-man's snapshot
    isolation + time travel on any Hadoop filesystem, no table-format
    jars (the honest native fallback where Delta/Iceberg are
    unavailable; see README "Table formats").

    Commit protocol: the data is FULLY written to a ``_staging_v{N}``
    sibling, then a single directory rename publishes it as ``v=N`` —
    readers list only committed ``v=`` directories, so a crashed writer
    leaves an invisible staging dir, never a half-readable version. Old
    versions are immutable (writers never touch them), so concurrent
    readers of any pinned version are never disturbed — the two
    properties (atomic publish, immutable history) that make overwrite
    pipelines re-runnable. Concurrent writers: each writer stages under
    its own nonce path and retries the publish with the next number if
    v=N appeared meanwhile (optimistic concurrency, like a table format's
    commit retry). Residual TOCTOU: between the exists-check and the
    rename another writer can still publish the same N — a window real
    table formats close with an atomic metastore/log commit that a bare
    filesystem cannot express; single-writer-per-table (the normal
    scheduler discipline) avoids it entirely. Returns the committed
    version number."""
    import uuid

    hpath = spark._jvm.org.apache.hadoop.fs.Path
    rootp = hpath(root)
    fs = rootp.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(rootp)
    n = (table_versions(spark, root) or [0])[-1] + 1
    # the staging name carries a per-writer nonce, NOT the contended
    # version number: two concurrent writers computing the same n would
    # otherwise share one staging path and overwrite each other's files
    # before the publish race is even reached
    staging = root.rstrip("/") + f"/_staging_{uuid.uuid4().hex}"
    df.write.mode("overwrite").format(fmt).save(staging)
    while True:
        dst = hpath(root.rstrip("/") + f"/v={n}")
        if fs.exists(dst):  # lost the publish race → retry the next number
            n += 1
            continue
        if fs.rename(hpath(staging), dst):
            invalidate_partition_memo()
            return n
        # rename failed with a free destination: a real FS error (perms,
        # staging vanished) — surface it instead of spinning forever
        raise OSError(f"versioned_write: rename {staging} -> v={n} failed")


def versioned_read(
    spark: SparkSession, root: str, version: int | None = None, fmt: str = "parquet"
) -> DataFrame:
    """Read one committed version (``None`` → latest) — time travel. A
    pinned version is stable forever; the latest pointer is just the max
    committed directory, resolved at plan time."""
    versions = table_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {root}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    return spark.read.format(fmt).load(root.rstrip("/") + f"/v={v}")
