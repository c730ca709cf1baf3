"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan out an under-partitioned input before CPU-heavy per-row work.

    Spark sizes scan partitions by input bytes (``maxPartitionBytes``),
    which is right for IO-bound plans but wrong for compute-bound ones: a
    few-MB parquet of short documents arrives as ONE partition, so
    shingling/hashing/scoring runs single-threaded no matter how many cores
    exist (measured: the whole MinHash pipeline on 1 core at local[32]).

    If the DataFrame has fewer partitions than the cluster's default
    parallelism, round-robin repartition up to it — the shuffle moves only
    the small under-partitioned data, and every downstream per-row stage
    uses the full cluster. No-op (and no shuffle) when the input is already
    parallel enough, so it's safe on 100 TB scans where partitioning came
    from the file layout.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) >= target:
        return df
    return df.repartition(target)


#: semanticHash → partition count. The probe below costs a full physical
#: planning pass (~0.15-0.25 s driver time) the FIRST time a plan is
#: converted to an RDD; pipelines that re-build the same subtree every
#: pass (timed builder calls, repeated suite runs over one sf_dir) pay
#: it every call without this memo. Keyed by the ANALYZED
#: plan's semantic hash — same session + same files ⇒ same partitioning.
#: Bounded: evicted wholesale past _NPART_MEMO_MAX (no LRU bookkeeping
#: needed at these sizes).
_NPART_MEMO: dict[int, int] = {}
_NPART_MEMO_MAX = 4096


def invalidate_partition_memo() -> None:
    """Drop every memoized partition count. Called by the sink layer after
    any path write: overwriting a path in-session can change its file
    count, and a stale memo entry would make :func:`ensure_parallelism`
    skip (or spuriously add) a fan-out repartition on the next read of
    that path (r7 ADVICE — perf-only staleness, but cheap to remove:
    writes are rare and the memo rebuilds in one planning pass each)."""
    _NPART_MEMO.clear()


def _num_partitions(df: DataFrame) -> int:
    try:
        key = df.semanticHash()
    except Exception:  # pragma: no cover — exotic plans; fall through
        return df.rdd.getNumPartitions()
    n = _NPART_MEMO.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(_NPART_MEMO) >= _NPART_MEMO_MAX:
            _NPART_MEMO.clear()
        _NPART_MEMO[key] = n
    return n
