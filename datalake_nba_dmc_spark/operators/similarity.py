"""Similarity search over embedding columns (beyond-reference; BASELINE.json
north star: ANN over ``array<float>``).

Two strategies:

- ``brute_force_topk`` — exact cosine top-k. The query vector set is
  broadcast; the corpus side is a single scan + per-row dot products via
  built-in array expressions (``F.zip_with`` + ``F.aggregate`` — JVM-side,
  no Python). Top-k per query via ranking window. At 100 TB this is one
  pass over the corpus: the right baseline and often good enough.
- ``lsh_bucketed_topk`` — approximate: random-hyperplane LSH (sign of
  dot(v, r_i) for L hyperplanes → bucket id), candidates restricted to the
  query's bucket, then exact cosine within buckets. Turns all-pairs into a
  bucket-equi-join; recall tunable by number of hyperplanes / probes.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators.util import ensure_parallelism


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double (JVM codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


#: Hard cap on the bounded-query-set contract shared by the topk APIs whose
#: query side becomes driver-built plan literals / LUTs or an explicit
#: ``F.broadcast`` (brute-force, LSH, multi-probe, ADC). The design premise
#: is "small query set vs huge corpus": at 100k queries × ~1 KB/vector the
#: broadcast is ~100 MB — the sane edge for a single broadcast. Beyond
#: that, the right operator is a corpus-scale join (embedding_near_dups /
#: the LSH near-dup family), and silently attempting a driver-side LUT
#: build or broadcast would OOM the driver instead of failing cleanly.
MAX_QUERY_ROWS = 100_000

#: Integer grid for EXACT refine/re-rank cosine (``round(x·2²⁰)`` per
#: component → exact int64 dots, one fixed double division/sqrt chain).
#: Matches the suite's cross-engine quantization scale, so a refine
#: stage scored on this grid is bit-identical to the exact brute-force
#: baseline's metric — certificates then compare the same
#: representation on both sides (r14 ADVICE). Power of two: the
#: float→double scaling is exact.
REFINE_SCALE = 1 << 20


#: Query frames materialized by :func:`_require_bounded_queries`, so
#: long-running sessions can free the accumulated executor cache blocks
#: via :func:`release_bounded_query_caches` (repeated topk/recall calls
#: would otherwise pin ≤(max_rows+1)-row blocks for the session lifetime).
_BOUNDED_QUERY_CACHES: list[DataFrame] = []


def release_bounded_query_caches() -> int:
    """Unpersist every query-frame cache accumulated by the bounded-query
    guard; returns how many frames were released. Safe to call at any time
    — already-consumed results are unaffected, and a still-referenced
    frame simply recomputes from lineage on next use."""
    n = 0
    while _BOUNDED_QUERY_CACHES:
        _BOUNDED_QUERY_CACHES.pop().unpersist()
        n += 1
    return n


def _require_bounded_queries(
    queries: DataFrame, op: str, max_rows: int | None = None
) -> DataFrame:
    """Enforce the bounded-query-set contract and return the query frame
    MATERIALIZED (``limit(max_rows+1).persist()`` + count) for the caller
    to use in place of the original.

    This makes the guard an EAGER action (one Spark job at call time) — but
    exactly one: the guard's count populates the cache and the real query
    reads the cached blocks, so the queries frame's (possibly expensive)
    upstream lineage is evaluated once, not once for the count and again
    inside the top-k plan. The cache is ≤ max_rows+1 rows by construction
    — bounded executor state, never the corpus side — and is REGISTERED
    for explicit cleanup (:func:`release_bounded_query_caches`), so
    repeated calls in one session don't pin block-manager storage forever.
    ``persist`` (not ``localCheckpoint``) deliberately: lineage is
    retained, so a lost executor recomputes the blocks instead of failing
    the job — checkpointed blocks are unrecoverable on executor loss.
    ``max_rows`` defaults to the module-level ``MAX_QUERY_ROWS`` resolved
    at CALL time, so deployments (and tests) can tune the cap."""
    if max_rows is None:
        max_rows = MAX_QUERY_ROWS
    bounded = queries.limit(max_rows + 1).persist()
    if bounded.count() > max_rows:
        bounded.unpersist()
        raise ValueError(
            f"{op}: query set exceeds the bounded-broadcast contract "
            f"({max_rows:,} rows). The query side of this operator becomes "
            "driver-side literals/broadcast state; for corpus-scale query "
            "sets use a join-based operator (embedding_near_dups or the "
            "LSH near-dup family) instead."
        )
    _BOUNDED_QUERY_CACHES.append(bounded)
    return bounded


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    ``queries`` (small) is broadcast against the corpus — the corpus is
    scanned once, no shuffle until the final per-query top-k window (keyed
    by query_id, tiny cardinality). Ties break on corpus id ascending.
    """
    queries = _require_bounded_queries(queries, "brute_force_topk")
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("q_vec")
    )
    scored = ensure_parallelism(corpus).crossJoin(F.broadcast(q)).select(
        query_id_col,
        F.col(id_col),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rn").alias("rank"))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def hyperplane_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit i = 1 iff dot(vec, plane_i) >= 0.

    Plane coordinate arrays render as ONE parsed SQL literal each (the
    nearest_centroids rule, r16: ``repr`` round-trips every double
    exactly, the D suffix parses straight to DOUBLE) — the old per-
    coordinate ``F.lit`` loop made n_planes×dim driver round-trips per
    bucket expression, which multiplied by SemDeDup's n_split_tables
    dominated that builder's wall clock. Same fold, same doubles."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec_col,
                F.expr(
                    "array("
                    + ",".join(f"{float(p)!r}D" for p in plane)
                    + ")"
                ),
                lambda x, y: (x * y).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(
            F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: compare only within the query's hyperplane bucket.

    The corpus is bucketed once (scan + projection); the join is a plain
    equi-join on ``bucket`` — at scale, the corpus can be written bucketed
    (``bucketBy(bucket)``) so repeated queries shuffle nothing. Recall < 1;
    raise recall with fewer planes (bigger buckets) or multi-probe.

    ``dim`` is a required parameter (the embedding width is pipeline
    metadata the caller always has) — inferring it would cost a driver-side
    ``.first()`` action before the plan even builds.
    """
    queries = _require_bounded_queries(queries, "lsh_bucketed_topk")
    planes = random_hyperplanes(dim, n_planes, seed)
    c = ensure_parallelism(corpus).withColumn(
        "bucket", hyperplane_bucket(F.col(vec_col), planes)
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), on="bucket").select(
        query_id_col,
        F.col(id_col),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rn").alias("rank"))
    )


def ivf_index(
    corpus: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer: KMeans centroids + corpus→centroid assignment.

    Training is the engine's own LAYOUT-INDEPENDENT Lloyd's loop
    (operators/kmeans.deterministic_kmeans — a content-hash-ranked
    bounded sample via TakeOrdered, then driver-side numpy Lloyd with
    farthest-point init and a bit-equal convergence stop): the r10
    partition-perturbation audit caught ``pyspark.ml`` KMeans producing
    different models for the same data under different physical layouts
    (per-partition kmeans|| sampling + partition-order double sums),
    which made IVF assignments a function of file-split sizes.
    Assignment is one Arrow-vectorized numpy argmin scan
    (operators/kmeans.assign_centroids). Returns the assigned
    corpus (extra ``centroid_id`` int column) and the centers (k × dim
    floats — small enough for the driver/broadcast by construction,
    e.g. 65536 × 768 × 8 B = 400 MB worst case; typical k ≪ that).

    ``sample_fraction`` draws by CONTENT hash (``pmod(xxhash64(vec,
    seed), 10⁶) < f·10⁶``), not ``DataFrame.sample`` — per-partition
    Bernoulli sampling would reintroduce the exact layout sensitivity
    the trainer removes.

    At 100 TB the assigned corpus is written partitioned/bucketed by
    ``centroid_id`` so probe queries prune to ~``n_probe/k`` of the data.
    """
    from datalake_nba_dmc_spark.operators.kmeans import deterministic_kmeans

    train = corpus
    if sample_fraction:
        train = corpus.filter(
            F.pmod(F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(1_000_000))
            < int(sample_fraction * 1_000_000)
        )
    # fail fast with a diagnosable message — an index build over nothing
    # means the upstream corpus (or the sample) is broken, and silently
    # returning an empty index would mask that (same policy as
    # pca_project; robustness_audit `empty` finding). r16: the emptiness
    # signal is the trainer's own empty-sample ValueError instead of a
    # dedicated isEmpty() pre-scan — one fewer eager job per index build
    # (deterministic_kmeans's TakeOrdered sample IS the emptiness probe).
    try:
        centers = deterministic_kmeans(
            train, k=n_centroids, vec_col=vec_col, max_iter=max_iter, seed=seed
        )
    except ValueError as e:
        if "empty input" in str(e):
            raise ValueError(
                "ivf_index: empty input (no vectors to fit)"
            ) from e
        raise
    from datalake_nba_dmc_spark.operators.kmeans import assign_centroids

    assigned = assign_centroids(
        ensure_parallelism(corpus), centers, vec_col=vec_col
    )
    return assigned, centers


def nearest_centroids(vec_col: Column, centers: list[list[float]], n_probe: int) -> Column:
    """Ids of the ``n_probe`` nearest centroids (squared-L2) — pure array
    expressions, same inline-loop shape as :func:`hyperplane_bucket`.

    Centroid coordinate arrays render as ONE parsed SQL literal each
    (``repr`` round-trips every double exactly; the D suffix parses it
    straight to DOUBLE) instead of dim-many ``F.lit`` Column objects —
    at k=16/dim=64 the old form made ~1k driver round-trips per plan
    build, the dominant builder cost of the recall certificates
    (r16; values unchanged, same zip_with/aggregate fold)."""
    scored = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.expr("array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double"),
            ).alias("d"),
            F.lit(i).alias("cid"),
        )
        for i, c in enumerate(centers)
    ]
    ordered = F.array_sort(F.array(*scored))  # struct order: (d, cid) asc
    return F.transform(F.slice(ordered, 1, n_probe), lambda s: s["cid"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: exact cosine only against the ``n_probe``
    nearest centroid cells per query (recall↑ with n_probe; n_probe = k
    centroids ⇒ exact). The probe join is an equi-join on ``centroid_id``
    against the (bucketed, at scale) assigned corpus — the cross-join of
    brute force shrinks by ~``n_probe / n_centroids``."""
    queries = _require_bounded_queries(queries, "ivf_topk")
    assigned, centers = ivf_index(corpus, n_centroids, vec_col, seed)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        F.explode(nearest_centroids(F.col(vec_col), centers, n_probe)).alias(
            "centroid_id"
        ),
    )
    scored = assigned.join(F.broadcast(q), on="centroid_id").select(
        query_id_col,
        F.col(id_col),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rn").alias("rank"))
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label centroid of an embedding column, in long format
    ``(label, pos, centroid_v, n)`` with ``pos`` 0-based.

    Shape: ``posexplode`` fans each vector into (label, pos, value) rows —
    dim× row multiplication but perfectly parallel — then ONE hash
    aggregation on (label, pos) with map-side combine. No collect, no
    per-label jobs, no quadratic anything; the output is #labels × dim
    rows. Component sums use the scaled-long exact-sum idiom so the
    centroid is bit-deterministic under any partial-agg order (float
    inputs widen to double exactly; rounding identical doubles is
    engine-independent)."""
    exploded = df.select(label_col, F.posexplode(vec_col).alias("pos", "v"))
    return exploded.groupBy(label_col, "pos").agg(
        (
            (F.sum(F.round(F.col("v").cast("double") * scale).cast("long")) / float(scale))
            / F.count(F.lit(1))
        ).alias("centroid_v"),
        F.count(F.lit(1)).alias("n"),
    )


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate STAR edges via multi-table LSH.

    Pair generation links every bucket member to the bucket's MIN id — the
    same star-edge shape as ``dedup.minhash_lsh_candidates`` — so the work
    is O(rows × tables), never O(bucket²): with 2^n_planes buckets a
    100 TB corpus puts billions of rows in each bucket, and a
    within-bucket self-join explodes quadratically while star edges stay
    one groupBy + one join. Exact cosine then verifies each edge against
    ``threshold``.

    Why MULTIPLE independent plane tables (r5 — found by the dup-injection
    certificate, not by inspection): a star edge survives verification
    only if the member is near the bucket MIN, so with one coarse table a
    true near-dup pair that shares its bucket with a smaller-id dissimilar
    vector is silently missed — both its edges point at the dissimilar min
    and fail the cosine check. MinHash/SimHash banding never had this hole
    because a band match IS a similarity proxy and bands repeat; the
    hyperplane path gets the same guarantee from ``n_tables`` independent
    tables of FINE buckets (``n_planes`` high → near-dups are usually
    alone together, so one of them is the min and the direct edge
    verifies): a pair is missed only if EVERY table buckets it behind a
    dissimilar smaller id — probability decays exponentially in
    ``n_tables``. Standard multi-table LSH (Indyk–Motwani / E2LSH).

    Returned edges are a (deduplicated) subset of the all-pairs result;
    duplicate GROUPS are recovered by ``dedup.connected_components`` /
    ``dedup.dedup_clusters`` over these edges (transitivity — the same
    contract the MinHash candidate path has). ``dim`` is required: the
    embedding width is pipeline metadata, not something to probe with a
    driver-side action.

    The bucketed plan is computed ONCE: buckets for all tables come from
    one projection (posexplode of a table→bucket array), and the
    representative agg carries the min id's vector via ``min_by``, so
    edge verification needs no joins back to the bucketing stage — one
    corpus scan, one (table, bucket) shuffle, one equi-join.
    """
    tables = [
        random_hyperplanes(dim, n_planes, seed + 7919 * t) for t in range(n_tables)
    ]
    buckets = F.array(
        *[hyperplane_bucket(F.col(vec_col), planes) for planes in tables]
    )
    b = (
        ensure_parallelism(df)
        .select(F.col(id_col), F.col(vec_col), buckets.alias("_bs"))
        .select(
            F.col(id_col), F.col(vec_col), F.posexplode("_bs").alias("table", "bucket")
        )
    )
    rep = b.groupBy("table", "bucket").agg(
        F.min(id_col).alias("id_a"), F.min_by(vec_col, F.col(id_col)).alias("v_a")
    )
    return (
        b.join(rep, on=["table", "bucket"])
        .filter(F.col(id_col) > F.col("id_a"))
        .select(
            "id_a",
            F.col(id_col).alias("id_b"),
            cosine(F.col("v_a"), F.col(vec_col)).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .distinct()
    )


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    codes_col: str = "codes",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``code_i = round(x_i / scale)`` — 4× storage/bandwidth cut for
    embedding tables (the standard serving trick; reconstruction error is
    bounded by scale/2 per component, asserted in tests).

    Map-only column expressions, no UDF, no shuffle: at 100 TB of
    embeddings this is a pure projection the scan pipeline absorbs.
    Determinism: float→double promotion is exact and IEEE division/round
    are correctly rounded, so codes are bit-identical across engines
    (both Spark and DuckDB round halves away from zero).
    """
    mx = F.array_max(F.transform(F.col(vec_col), F.abs)).cast("double")
    scale = mx / F.lit(127.0)
    codes = F.when(
        mx == 0, F.transform(F.col(vec_col), lambda x: F.lit(0))
    ).otherwise(
        F.transform(F.col(vec_col), lambda x: F.round(x.cast("double") / scale).cast("int"))
    )
    return df.withColumn(scale_col, scale).withColumn(codes_col, codes)


def embedding_second_moments(
    df: DataFrame, vec_col: str = "embedding", scale: float = 100_000_000.0
) -> DataFrame:
    """Exact upper-triangle second-moment matrix of an embedding column:
    ``s2[i,j] = Σ_rows floor(x_i · x_j · scale)`` as int64 (1-based i ≤ j).

    The input to distributed covariance/PCA. Scale shape: each Arrow batch
    reduces to ONE d×d partial matrix in numpy (chunked so the (rows, d, d)
    product tensor stays ~16 MB), every partition emits at most d(d+1)/2
    rows, and the final groupBy sums integer partials — associative, so
    the result is bit-identical under any partitioning. Per-term floor
    (after exact float32→float64 promotion) makes the sum order-free and
    engine-portable — the DuckDB twin computes the identical integers.
    """

    def part(batches):
        acc = None
        for pdf in batches:
            vals = pdf[vec_col].values
            for s in range(0, len(vals), 512):
                X = np.stack(vals[s : s + 512]).astype(np.float64)
                P = (
                    np.floor(X[:, :, None] * X[:, None, :] * scale)
                    .astype(np.int64)
                    .sum(axis=0)
                )
                acc = P if acc is None else acc + P
        if acc is None:
            return
        iu = np.triu_indices(acc.shape[0])
        yield pd.DataFrame(
            {"i": iu[0] + 1, "j": iu[1] + 1, "s2": acc[iu]}
        )

    return (
        df.select(vec_col)
        .mapInPandas(part, "i int, j int, s2 long")
        .groupBy("i", "j")
        .agg(F.sum("s2").alias("s2"))
    )


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    out_col: str = "pca",
    scale: float = 100_000_000.0,
    whiten: bool = False,
) -> DataFrame:
    """Distributed PCA: project embeddings onto their top-``k`` principal
    components (the standard dimensionality cut ahead of ANN indexing /
    visualization). ``whiten=True`` additionally scales each component by
    1/√eigenvalue so projected coordinates have unit variance — the usual
    normalization before cosine/Euclidean ANN on PCA'd vectors.

    Three phases, all scale-safe:

    1. Exact moments: :func:`embedding_second_moments` + per-dimension
       mean sums — two passes whose shuffled rows number O(d²), never
       O(rows). These are the ONLY driver actions: the row count ``n``
       rides along the mean aggregation as a per-dimension ``count`` and
       the width ``d`` is the number of mean rows, so no separate
       ``.count()`` / ``.first()`` passes are needed.
    2. Driver-side eigendecomposition of the d×d covariance (numpy
       ``eigh`` on a matrix of a few thousand cells — legitimately tiny
       driver work, the same split Spark MLlib uses). Component signs are
       pinned (largest-|w| entry positive) so results don't flip between
       runs.
    3. Broadcast the (d × k) component matrix; projection is one Arrow
       batch matmul per partition — map-only, no shuffle.
    """
    sm = {(r["i"] - 1, r["j"] - 1): r["s2"] for r in embedding_second_moments(df, vec_col, scale).collect()}
    mean_rows = (
        df.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * scale).cast("long")).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    if not mean_rows:
        raise ValueError("pca_project: empty input (no vectors to fit)")
    d = len(mean_rows)
    # n must be identical across dimensions: collect() row order is
    # nondeterministic, and NULL/ragged vectors would give differing
    # per-dimension counts — silently skewing the mean/covariance
    # normalization if we blindly took an arbitrary row's count.
    counts = {r["n"] for r in mean_rows}
    if len(counts) != 1:
        raise ValueError(
            f"pca_project: ragged or NULL vectors (per-dimension counts "
            f"{sorted(counts)}) — clean the embedding column first"
        )
    n = counts.pop()
    m = np.zeros(d)
    for r in mean_rows:
        m[r["i"]] = (r["m"] / scale) / n
    S = np.zeros((d, d))
    for (i, j), s2 in sm.items():
        S[i, j] = S[j, i] = (s2 / scale) / n
    cov = S - np.outer(m, m)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order]  # d × k, descending eigenvalue
    for c in range(k):
        if comps[np.abs(comps[:, c]).argmax(), c] < 0:
            comps[:, c] = -comps[:, c]
    if whiten:
        comps = comps / np.sqrt(np.maximum(w[order], 1e-12))
    bc_m, bc_w = m, comps

    @F.pandas_udf("array<double>")
    def proj(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.values).astype(np.float64) - bc_m
        Y = X @ bc_w
        return pd.Series(list(Y))

    return df.withColumn(out_col, proj(F.col(vec_col)))


def _plane_margin(vec_col: Column, plane: list[float]) -> Column:
    """Signed distance proxy of a vector to one hyperplane — the shared
    :func:`dot` against the plane as a literal array, so the multiprobe
    base bucket's doubles are bit-identical to ``hyperplane_bucket``'s."""
    return dot(
        vec_col,
        F.expr("array(" + ",".join(f"{float(p)!r}D" for p in plane) + ")"),
    )


def multiprobe_buckets(
    vec_col: Column, planes: list[list[float]], n_probes: int
) -> Column:
    """Multi-probe LSH probe sequence (Lv et al., VLDB 2007 — public): the
    base sign-pattern bucket plus the ``n_probes - 1`` single-bit flips of
    the planes the vector is CLOSEST to (smallest |margin|) — exactly the
    neighbor buckets most likely to hold near neighbors that fell on the
    other side of a close hyperplane. Returns an array of ``n_probes``
    distinct bucket ids.

    Pure expressions: margins are the same dots the base bucket needs,
    the flip order comes from one ``array_sort`` over (|margin|, bit)
    structs — no UDF, evaluated only on the (small, broadcast) query side.
    """
    margins = [_plane_margin(vec_col, p) for p in planes]
    base = F.lit(0).cast("long")
    for i, d in enumerate(margins):
        base = base.bitwiseOR(
            F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.abs(d).alias("m"), F.lit(1 << i).cast("long").alias("bit")
                )
                for i, d in enumerate(margins)
            ]
        )
    )
    flips = F.slice(ranked, 1, max(n_probes - 1, 0))
    return F.concat(
        F.array(base), F.transform(flips, lambda s: base.bitwiseXOR(s["bit"]))
    )


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with multi-probe LSH: same one-pass corpus
    bucketing as :func:`lsh_bucketed_topk`, but each query probes its
    ``n_probes`` most promising buckets (base + closest-margin bit flips)
    instead of one — recall rises at a FIXED corpus bucket count, so the
    buckets can stay small (more planes → faster joins) without the
    single-probe recall cliff.

    Scale shape is unchanged: the corpus is bucketed once (map-only
    projection, bucketable at write time); only the broadcast query side
    explodes ×``n_probes``. Probe buckets are distinct by construction
    (single-bit flips of one base), so no candidate dedup is needed —
    each corpus row still joins at most once per query.
    """
    queries = _require_bounded_queries(queries, "lsh_multiprobe_topk")
    planes = random_hyperplanes(dim, n_planes, seed)
    c = ensure_parallelism(corpus).withColumn(
        "bucket", hyperplane_bucket(F.col(vec_col), planes)
    )
    q = (
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("q_vec"),
            multiprobe_buckets(F.col(vec_col), planes, n_probes).alias("_probes"),
        )
        .select(query_id_col, "q_vec", F.explode("_probes").alias("bucket"))
    )
    scored = c.join(F.broadcast(q), on="bucket").select(
        query_id_col,
        F.col(id_col),
        cosine(F.col(vec_col), F.col("q_vec")).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rn").alias("rank"))
    )


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split ``dim`` into ``m`` contiguous
    subvectors and train an independent KMeans codebook of ``k`` codewords
    per subspace (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", 2011). Completes the ANN compression suite next to int8
    scalar quantization (4×) and PCA: PQ stores m·log2(k) bits per vector
    (m=8, k=16 → 4 BYTES for a 64-dim float vector, 64×).

    All m codebooks train from ONE layout-independent sampling job
    (operators/kmeans.deterministic_pq_codebooks — the r10
    partition-perturbation audit caught ``pyspark.ml`` KMeans models
    varying with the physical layout, which made the emitted CODES a
    function of file-split sizes): a single content-hash-ranked sample
    is collected once, sliced per subspace on the driver, and each book
    fits with driver-side numpy Lloyd (faiss's design — m books from one
    sampling job instead of m separate fit job-chains); the full corpus
    is never collected and the returned codebooks are m × k × (dim/m)
    floats, broadcast-sized by construction. At 100 TB train on a sample (``sample_fraction`` —
    standard PQ practice; drawn by CONTENT hash, same layout-free lever
    as ``ivf_index``); encoding still scans everything."""
    from datalake_nba_dmc_spark.operators.kmeans import (
        deterministic_pq_codebooks,
    )

    if dim % m != 0:
        raise ValueError(
            f"dim={dim} not divisible by m={m}: trailing dimensions would be"
            " silently dropped from every codebook"
        )
    if sample_fraction:
        corpus = corpus.filter(
            F.pmod(F.xxhash64(F.col(vec_col), F.lit(seed)), F.lit(1_000_000))
            < int(sample_fraction * 1_000_000)
        )
    if corpus.isEmpty():
        # one guard before the fit — same fail-fast policy as ivf_index
        raise ValueError("pq_train: empty input (no vectors to fit)")
    return deterministic_pq_codebooks(
        corpus, dim=dim, m=m, k=k, vec_col=vec_col, max_iter=max_iter, seed=seed
    )


def _nearest_codeword(sub_col: Column, book: list[list[float]]) -> Column:
    # codeword arrays as single parsed literals (the nearest_centroids
    # rule, r16): m books × k codewords × dim/m coordinates of F.lit
    # Columns otherwise dominate pq_encode's plan-build time
    scored = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    sub_col,
                    F.expr(
                        "array("
                        + ",".join(f"{float(x)!r}D" for x in c)
                        + ")"
                    ),
                    lambda a, b: ((a - b) * (a - b)).cast("double"),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            F.lit(i).alias("cid"),
        )
        for i, c in enumerate(book)
    ]
    return F.array_min(F.array(*scored))["cid"]


def pq_encode(
    df: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the id of the nearest
    codeword (squared L2) — a map-only projection of inline array
    expressions (codebooks are literals in the plan, the same
    broadcast-as-literal shape as ``hyperplane_bucket``). Output:
    (``id_col``, ``codes`` array<int> of length m)."""
    sub = len(books[0][0])
    code_cols = [
        _nearest_codeword(F.slice(F.col(vec_col), j * sub + 1, sub), book)
        for j, book in enumerate(books)
    ]
    return ensure_parallelism(df).select(
        F.col(id_col), F.array(*code_cols).alias("codes")
    )


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a lookup
    table of ||q_sub − codeword||² per (subspace, codeword) is built on
    the driver (m × k doubles per query — tiny, queries are a bounded
    broadcast set by contract, like the IVF centers) and broadcast; each
    corpus row's approximate distance is m table lookups summed via
    ``zip_with`` over its codes — NO float vectors are read at query
    time, which is the point: the 100 TB serving scan touches 4-byte
    codes, not 256-byte embeddings.

    The bounded-query-set contract is ENFORCED, not assumed: the collect
    below is LIMIT-capped, so an oversized query set raises a clear error
    instead of building an unbounded driver-side LUT list (same guard as
    the broadcast topk family, fused into the existing collect — no extra
    driver action)."""
    m, kk = len(books), len(books[0])
    sub = len(books[0][0])
    spark = corpus_codes.sparkSession
    q_rows = queries.select(query_id_col, vec_col).limit(MAX_QUERY_ROWS + 1).collect()
    if len(q_rows) > MAX_QUERY_ROWS:
        raise ValueError(
            f"pq_adc_topk: query set exceeds the bounded-broadcast contract "
            f"({MAX_QUERY_ROWS:,} rows). The per-query ADC LUTs are built "
            "driver-side; for corpus-scale query sets use a join-based "
            "operator (embedding_near_dups or the LSH near-dup family)."
        )
    luts = []
    for row in q_rows:
        q = row[vec_col]
        lut = [
            float(sum((q[j * sub + t] - c[t]) ** 2 for t in range(sub)))
            for j in range(m)
            for c in books[j]
        ]
        luts.append((row[query_id_col], lut))
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    lut_schema = StructType(
        [
            StructField(query_id_col, queries.schema[query_id_col].dataType),
            StructField("lut", ArrayType(DoubleType())),
        ]
    )
    # explicit schema: an empty query set must yield an empty result, not
    # a cannot-infer-schema crash
    lutdf = spark.createDataFrame(luts, lut_schema)
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.col("lut"), (j * kk + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = corpus_codes.crossJoin(F.broadcast(lutdf)).select(
        query_id_col, id_col, dist.alias("adc_dist")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "adc_dist", F.col("rn").alias("rank"))
    )


def pq_adc_rerank_topk(
    corpus_codes: DataFrame,
    corpus_vectors: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ADC search with exact re-ranking — the standard IVFADC refinement
    (Jégou et al. 2011 §V): :func:`pq_adc_topk` shortlists ``shortlist``
    candidates per query from the 4-byte codes (the 100 TB scan still
    never reads a float vector), then ONLY the shortlist — ``shortlist ×
    n_queries`` rows, thousands not billions — joins back to the float
    vectors for exact cosine scoring and the final top-``k`` cut.

    Scale shape: the expensive full-corpus pass is unchanged (codes-only);
    the refinement join is a broadcast of the tiny shortlist against the
    vector table (equi-join on ``id_col``, prunable/bucketable at scale),
    so the exact math touches a vanishing fraction of the corpus. Lifts
    recall@k from PQ-quantization-limited (~0.2-0.5 with coarse m=8/k=16
    codebooks) to near-exact — whatever the true neighbors' ADC rank,
    they only need to land in the shortlist, not the top-k."""
    cand = pq_adc_topk(
        corpus_codes,
        queries,
        books,
        k=shortlist,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("q_vec"))
    exact = (
        corpus_vectors.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(cand), on=id_col)
        .join(F.broadcast(q), on=query_id_col)
        .select(
            query_id_col,
            F.col(id_col),
            cosine(F.col(vec_col), F.col("q_vec")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim", F.col("rn").alias("rank"))
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.95,
    seed: int = 42,
    max_cluster_rows: int = 10_000,
    n_split_tables: int = 3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication" — public): cluster the
    embedding space with KMeans, then WITHIN each cluster drop all but one
    of every group of semantically near-identical items (pairwise cosine
    ≥ ``threshold``). Returns (``id_col``, ``component``, ``centroid_sim``,
    ``keep``): every input row with its duplicate-group id (min member id;
    singletons form their own group), its cosine to the cluster centroid,
    and keep=1 for the member that survives. Following the paper, the
    kept representative is the member with the LOWEST similarity to its
    cluster centroid (keeping "atypical" examples preserves diversity);
    ties break on min id.

    Scale shape — the clustering bounds the quadratic term:

    1. :func:`ivf_index` assigns every vector to a centroid (distributed
       KMeans + one transform scan).
    2. Candidate pairs come from a self-equi-join ON
       ``(centroid_id, split)`` — the blow-up is Σ |sub-cluster|², never
       |corpus|²; ``n_clusters`` is the primary knob (the paper uses
       k ≈ 10⁴-10⁵ at web scale so clusters stay small), and
       ``max_cluster_rows`` is the ENFORCED guardrail: a cluster larger
       than the cap is pre-split on the low ``ceil(log2(size/cap))``
       bits of a secondary hyperplane sign-pattern (a bit-MASK, not a
       mod-fold, so near vectors — which share sign bits with
       probability (1-θ/π) per plane — stay co-bucketed). Splitting can
       miss a cross-sub-bucket edge, so oversized clusters are probed
       with ``n_split_tables`` INDEPENDENT plane sets (Indyk–Motwani,
       same fix as ``embedding_near_dups``): the per-pair miss
       probability decays exponentially in tables while cost grows
       linearly, and only for the oversized clusters (table 0 covers
       everything; extra tables scan only capped-cluster rows).
       Residual pathology: a cluster of EXACTLY identical vectors shares
       every sign bit and cannot be split — but identical content is
       precisely what upstream exact/near dedup removes first, and
       identical vectors are all mutual duplicates anyway (one group,
       found by table 0 at full recall; only the quadratic cost
       remains — bounded by running exact dedup before SemDeDup, the
       pipeline order both papers prescribe).
    3. Duplicate groups are connected components over the ≥ threshold
       edges (operators/dedup.connected_components — checkpointed
       min-label propagation), so transitive chains collapse into ONE
       group instead of pairwise-greedy order-dependent results.
    4. The keep rule is a single ``min_by`` per group over
       (centroid_sim, id) — no per-group sort.
    """
    from datalake_nba_dmc_spark.operators.dedup import connected_components

    assigned, centers = ivf_index(corpus, n_clusters, vec_col, seed)
    centers_df = F.broadcast(
        assigned.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(centers)],
            f"centroid_id int, _center array<double>",
        )
    )
    with_sim = assigned.join(centers_df, on="centroid_id").select(
        "centroid_id",
        F.col(id_col),
        F.col(vec_col),
        cosine(F.col(vec_col).cast("array<double>"), F.col("_center")).alias(
            "centroid_sim"
        ),
    )
    edges = _semantic_edges(
        with_sim,
        dim=len(centers[0]),
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        max_cluster_rows=max_cluster_rows,
        n_split_tables=n_split_tables,
        seed=seed,
    )
    comp = connected_components(edges).select(
        F.col("id").alias(id_col), F.col("comp").alias("component")
    )  # only ids that appear in a duplicate pair
    labeled = (
        with_sim.select(id_col, "centroid_sim")
        .join(comp, on=id_col, how="left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    keepers = labeled.groupBy("component").agg(
        F.min_by(id_col, F.struct("centroid_sim", id_col)).alias("_keep_id")
    )
    return (
        labeled.join(keepers, on="component")
        .select(
            id_col,
            "component",
            "centroid_sim",
            (F.col(id_col) == F.col("_keep_id")).cast("int").alias("keep"),
        )
    )


def _semantic_edges(
    with_sim: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_cluster_rows: int,
    n_split_tables: int,
    seed: int,
) -> DataFrame:
    """SemDeDup's pairwise stage with the enforced hot-cluster cap
    (exposed as its own function so the plan-shape tests can assert on
    the pairwise join BEFORE connected components checkpoints it away).

    Per-cluster sizes are an n_clusters-row agg (broadcast back); rows in
    clusters over ``max_cluster_rows`` get a secondary split key before
    the self-join, so Σ|sub-cluster|² is bounded BY CONSTRUCTION, not by
    a docstring knob. Splits use the low ``ceil(log2(size/cap))`` bits of
    an independent hyperplane sign-pattern per table (bit-mask — near
    vectors share low bits with probability (1-θ/π)^bits); edges can
    repeat across tables, so the big-cluster edge set is distinct-ed
    before the union, while small-cluster edges (unique already) skip
    that shuffle."""
    sizes = with_sim.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("_csize")
    )
    ws = with_sim.join(F.broadcast(sizes), on="centroid_id")
    small = ws.filter(F.col("_csize") <= max_cluster_rows)
    big = ws.filter(F.col("_csize") > max_cluster_rows)

    def pair_edges(keyed: DataFrame, keys: list[str]) -> DataFrame:
        # Per-group numpy Gram matmul via applyInPandas — the paper's own
        # execution shape (SemDeDup computes within-cluster pairwise
        # cosine as a dense matmul). The first cut self-joined the
        # cluster on its key and filtered an interpreted HOF cosine per
        # PAIR: ~80 µs × Σ|cluster|²/2 pairs put a hidden ~12 s (sf0.1)
        # into the edge stage (r10 profiling receipt, PERF.md). Here each cluster
        # enters Python ONCE, normalizes, takes G = Vn·Vnᵀ with BLAS,
        # and emits only the ≥ threshold (id_a < id_b) pairs — the
        # shuffle carries cluster rows, never pair rows, and the cap
        # (max_cluster_rows) bounds the per-group matmul by
        # construction. Zero vectors normalize to cosine 0 with
        # everything, matching the expression path's guard.
        import numpy as np

        def gram_edges(pdf: pd.DataFrame) -> pd.DataFrame:
            # NULL/ragged vectors can't be semantic duplicates of anything
            # — drop them here rather than let np.asarray raise an opaque
            # inhomogeneous-shape error (assign_centroids routes them to
            # a NULL-centroid group, which still reaches this UDF)
            ok = [
                i
                for i, x in enumerate(pdf[vec_col])
                if x is not None and len(x) == dim
            ]
            if len(ok) < len(pdf):
                pdf = pdf.iloc[ok]
            ids = pdf[id_col].to_numpy()
            if len(ids) < 2:
                return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
            v = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
            )
            norms = np.sqrt((v * v).sum(axis=1))
            norms[norms == 0.0] = 1.0  # zero vec -> cosine 0, never passes
            vn = v / norms[:, None]
            g = vn @ vn.T
            ia, ib = np.nonzero(np.triu(g >= threshold, k=1))
            lo = np.minimum(ids[ia], ids[ib])
            hi = np.maximum(ids[ia], ids[ib])
            keep = lo != hi  # duplicated ids are not self-edges
            return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

        return (
            keyed.select(*keys, id_col, vec_col)
            .groupBy(*keys)
            .applyInPandas(gram_edges, schema="id_a long, id_b long")
            # a duplicated id inside one group emits the same edge from
            # each copy-pair; edges are a SET downstream
            .dropDuplicates(["id_a", "id_b"])
        )

    edges = pair_edges(
        small.select("centroid_id", id_col, vec_col), ["centroid_id"]
    )
    # Split-factor ceiling: 16 planes give at most 2^16 sub-buckets per
    # table, so the cap handles clusters up to ~65536 x max_cluster_rows
    # (~650 M rows at the default cap); a cluster hotter than that means
    # n_clusters is badly undersized for the corpus — raise k.
    n_splits = F.greatest(
        F.ceil(F.col("_csize") / float(max_cluster_rows)), F.lit(1)
    ).cast("long")
    # shiftleft() needs a literal bit count, so the power-of-two bucket
    # count is pow(2, ceil(log2(n_splits))) — exact for the <2^40 range
    # any real size/cap ratio occupies
    n_buckets = F.pow(
        F.lit(2.0), F.ceil(F.log2(n_splits.cast("double"))).cast("double")
    ).cast("long")
    big_parts = []
    for t in range(max(n_split_tables, 1)):
        planes = random_hyperplanes(dim, 16, seed + 1000 + t)
        keyed = big.select(
            "centroid_id",
            F.pmod(
                hyperplane_bucket(F.col(vec_col), planes), n_buckets
            ).alias("_split"),
            F.col(id_col),
            F.col(vec_col),
        )
        big_parts.append(pair_edges(keyed, ["centroid_id", "_split"]))
    big_edges = big_parts[0]
    for part in big_parts[1:]:
        big_edges = big_edges.unionByName(part)
    return edges.unionByName(big_edges.distinct())


def _sq8_code_frame(frame: DataFrame, vec_col: str, keep: list) -> DataFrame:
    """Symmetric per-vector int8 code frame — THE quantization contract
    (code_j = round(x_j·127/max|x|), zero vectors → all-zero codes)
    shared by :func:`int8_dot_topk` and :func:`ivf_sq8_topk` and
    replayed verbatim by their DuckDB oracles; ONE definition so the
    cross-engine pin cannot desynchronize between the operators.
    Returns ``keep`` + ``_e`` (exact double promotion), ``_ma`` (the
    per-vector scale), ``_c`` (long codes)."""
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    b = frame.filter(F.col(vec_col).isNotNull()).select(
        *keep, e.alias("_e")
    )
    ma = F.array_max(F.transform(F.col("_e"), lambda x: F.abs(x)))
    # one staged projection for _ma, one for _c (the _ma alias is
    # multiply-referenced and non-cheap, so CollapseProject keeps the
    # stage) — fused from two withColumn Datasets into selects so each
    # index build analyzes two plans, not three (r16 build-cost trim)
    return b.withColumn("_ma", ma).select(
        "*",
        F.when(
            F.col("_ma") == 0.0,
            F.transform(F.col("_e"), lambda x: F.lit(0).cast("long")),
        )
        .otherwise(
            F.transform(
                F.col("_e"),
                lambda x: F.round(x * 127.0 / F.col("_ma")).cast("long"),
            )
        )
        .alias("_c"),
    )


def int8_dot_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_queries: int = 8,
) -> DataFrame:
    """Exact top-k by INT8-quantized dot product — the first similarity
    query whose VALUES carry a full cross-engine oracle (every other
    sim query is rows-only or certificate-checked, because float32
    cosine accumulation order is engine-private). Symmetric per-vector
    int8 quantization (the standard serving trick: code_j =
    round(x_j·127/max|x|), one scale per vector) turns every score
    into an exact int64 dot product of small integers — order-free,
    partitioning-free, bit-identical in DuckDB. The serving score
    multiplies the two scales BACK (the llama.cpp/FAISS SQ8 rule:
    score = dot·ma_q·ma_c/127², here rounded to micro units in ONE
    fixed IEEE expression), so the ranking approximates the RAW float
    dot product — quantization loses rounding, never the metric
    (agreement law pinned in pytest). → (q_id, rank, c_id, dot,
    score_micro): deterministic (score_micro DESC, c_id ASC) top-``k``
    for the ``n_queries`` smallest-id vectors.

    Float determinism: float32 → double promotion is exact; max|x| is
    order-independent; round(x·127/ma) and the left-associated
    score_micro expression are fixed IEEE trees both engines evaluate
    identically (the suite's scaled-long rule; int64 dot < 2^53 casts
    to double exactly). Zero vectors quantize to all-zero codes rather
    than dividing by zero.

    Scale shape: the query side is a bounded broadcast (``n_queries``
    rows — the sim_bruteforce_topk contract: this IS the exact
    baseline; the corpus-scale path is the registered LSH/IVF/PQ
    family). The code frame is read TWICE — one TakeOrdered pass to
    pick the n_queries smallest ids, one candidate-side scan (at 100 TB
    the query set would be a given table, making it one scan) — scores
    are one zip_with+aggregate fold per (query, candidate), and the
    top-k cut is the rank<=k filter that compiles to WindowGroupLimit
    (partial map-side prune before the shuffle)."""
    from pyspark.sql import Window

    if k < 1 or n_queries < 1:
        raise ValueError("k and n_queries must be >= 1")
    codes = _sq8_code_frame(emb, vec_col, [F.col(id_col)]).select(
        id_col, "_c", "_ma"
    )
    q = (
        codes.orderBy(id_col)
        .limit(n_queries)
        .select(
            F.col(id_col).alias("q_id"),
            F.col("_c").alias("_qc"),
            F.col("_ma").alias("_maq"),
        )
    )
    pairs = codes.join(
        F.broadcast(q), on=F.col(id_col) != F.col("q_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qc"), F.col("_c"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = pairs.select(
        "q_id",
        F.col(id_col).alias("c_id"),
        dot.alias("dot"),
        # the descaled serving score, rounded to micro in one fixed
        # left-associated IEEE tree (identical text in the twin)
        F.round(
            dot.cast("double")
            * F.col("_maq")
            * F.col("_ma")
            * F.lit(1000000.0)
            / F.lit(16129.0)
        )
        .cast("long")
        .alias("score_micro"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_micro").desc(), F.col("c_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("rank").cast("long").alias("rank"),
            "c_id",
            "dot",
            "score_micro",
        )
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-SQ8 two-stage serving — the composition VERDICT r13 ask #6
    names: the IVF coarse quantizer bounds the candidate set
    (:func:`ivf_index`, probe the ``n_probe`` nearest cells), the
    probed candidates are scored by the DESCALED int8 dot product (the
    exact SQ8 serving score :func:`int8_dot_topk` proves hash-exact
    cross-engine: score_micro = dot·ma_q·ma_c·10⁶/127², one fixed IEEE
    tree over an exact int64 dot), the best ``shortlist`` per query
    survive, and the shortlist alone is EXACTLY re-ranked by cosine →
    the standard FAISS ``IVFx,SQ8`` + refine pipeline. →
    (``query_id_col``, ``id_col``, cosine_sim, rank), same shape as
    :func:`ivf_topk` so the same recall certificate applies.

    The refine metric is cosine over ``round(x·2²⁰)`` integer vectors
    (:data:`REFINE_SCALE` — exact int64 dots, one double division/sqrt
    chain), NOT raw-double cosine: this is bit-identical to the exact
    brute-force baseline's metric, so the recall certificate compares
    the SAME representation on both sides and near-tie rankings cannot
    flip between the approximate and exact paths (r14 ADVICE). At 2⁻²⁰
    granularity the quantization is far below any real embedding
    noise floor — the serving answer is unchanged.

    Scale shape: the query side is a bounded broadcast (the
    :func:`_require_bounded_queries` contract); the corpus side is ONE
    scan of the probed cells (at 100 TB the assigned+coded corpus is
    written bucketed by centroid_id, so the probe join prunes to
    ~n_probe/k of the data and reads 1-byte-per-dim codes instead of
    4-byte floats — the bandwidth win THE SQ8 stage exists for); both
    rank cuts compile to WindowGroupLimit (partial map-side prune
    before each shuffle). The integer stage-1 score makes the
    shortlist layout/partitioning-free, so the certificate is
    deterministic end to end (KMeans is the engine's layout-independent
    trainer)."""
    if shortlist is None:
        shortlist = 3 * k
    if k < 1 or shortlist < k:
        raise ValueError("ivf_sq8_topk: need k >= 1 and shortlist >= k")
    queries = _require_bounded_queries(queries, "ivf_sq8_topk")
    assigned, centers = ivf_index(corpus, n_centroids, vec_col, seed)

    cand = _sq8_code_frame(assigned, vec_col, ["centroid_id", id_col])
    q = _sq8_code_frame(queries, vec_col, [query_id_col]).select(
        query_id_col,
        F.col("_e").alias("_qe"),
        F.col("_c").alias("_qc"),
        F.col("_ma").alias("_qma"),
        F.explode(
            nearest_centroids(
                F.transform(F.col("_e"), lambda x: x.cast("float")),
                centers,
                n_probe,
            )
        ).alias("centroid_id"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qc"), F.col("_c"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stage1 = cand.join(F.broadcast(q), on="centroid_id").select(
        query_id_col,
        F.col(id_col),
        "_e",
        "_qe",
        F.round(
            dot.cast("double")
            * F.col("_qma")
            * F.col("_ma")
            * F.lit(1000000.0)
            / F.lit(16129.0)
        )
        .cast("long")
        .alias("_sq8_micro"),
    )
    w1 = Window.partitionBy(query_id_col).orderBy(
        F.col("_sq8_micro").desc(), F.col(id_col).asc()
    )
    short = stage1.withColumn("_r1", F.row_number().over(w1)).filter(
        F.col("_r1") <= shortlist
    )
    def _refine_q(col: Column) -> Column:
        return F.transform(
            col, lambda x: F.round(x * REFINE_SCALE).cast("long")
        )

    def _refine_dot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    rq, cq = _refine_q(F.col("_qe")), _refine_q(F.col("_e"))
    rescored = short.select(
        query_id_col,
        F.col(id_col),
        (
            _refine_dot(cq, rq).cast("double")
            / (
                F.sqrt(_refine_dot(cq, cq).cast("double"))
                * F.sqrt(_refine_dot(rq, rq).cast("double"))
            )
        ).alias("cosine_sim"),
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine_sim", "rank")
    )
