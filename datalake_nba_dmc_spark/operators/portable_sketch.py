"""Portable MinHash + SimHash + Count-Min — sketches whose VALUES are a
cross-engine bit-exact contract (the hll_portable treatment applied to
the LSH/SimHash dedup families and to frequency estimation).

The production MinHash path (operators/dedup.minhash_signature) hashes
shingles with ``xxhash64`` — engine-private, so its driver checks are
rows-only plus certificate twins. This module swaps exactly one
ingredient: the shingle hash becomes the dialect-rendered 32-bit integer
mixer over a position-weighted codepoint sum (operators/cdc.
token_hash_sql — plain arithmetic, no engine hash builtin). Everything
downstream is unchanged MinHash algebra: K affine permutations
``(a_i·h + b_i) mod P`` over the shingle hashes, per-document minima —
and min-merge, like HyperBall's max-merge, is associative/commutative/
idempotent, so the signatures are layout-independent BY ALGEBRA and a
DuckDB twin replays every signature value BIT-EXACTLY. Band keys (and
hence LSH candidate pairs) derive from signature slices by the same
shared arithmetic, so the whole LSH pipeline becomes full-value
oracle-able instead of certificate-only.

Like the media twins and cdc, ASCII-only is an EXPLICIT contract filter
(``octet_length = length``) applied on BOTH engines — it is what makes
codepoint arithmetic identical across JVM UTF-16 and DuckDB UTF-8.

Scale shape: identical to the production path — one map-only shingle +
fold projection (the ONE-fold-updating-K-minima shape; K separate
``array_min(transform(...))`` re-evaluated the shingle array K times,
measured 30× at 50 k docs), state K small ints per doc. The suite
registrations (``dedup_minhash_portable``, ``dedup_simhash_portable``)
carry the DuckDB oracles.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators.cdc import _token_hashes_expr, token_hash_sql
from datalake_nba_dmc_spark.operators.dedup import (
    _MERSENNE31,
    normalize_text,
)
from datalake_nba_dmc_spark.operators.hyperball import mixer_sql
from datalake_nba_dmc_spark.operators.util import ensure_parallelism


def permutation_coeffs(
    num_hashes: int, seed: int = 42
) -> list[tuple[int, int]]:
    """The K affine-permutation coefficients, seeded — generated ONCE in
    Python and embedded as literals in BOTH engines' expressions, so the
    twin replays the identical permutations."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


#: 2^31 — the mixer-input modulus shared with operators/cdc.
_M31 = 2_147_483_648


def _shingle_hashes_expr(toks: str, n: int) -> str:
    """Spark-side shingle-hash ARRAY for a token-array column, via the
    TOKEN-SUM DECOMPOSITION (r16): per-token character folds run ONCE
    (``_tsum``: position-weighted sum ``pw`` and plain sum ``ps`` in one
    struct fold; ``_ln``: lengths), then each word-n-gram window's
    joined-string sum is rebuilt by an O(n) integer fold —

        Σ_i [ pw_i + off_i · (ps_i + 32) ],  off_1 = 0,
        off_{i+1} = off_i + len_i + 1        (the ' ' separator)

    — exactly the character fold over the ``concat_ws(' ', ...)``
    shingle string (token chars shift by their offset; each space,
    ascii 32, sits at position off_{i+1}). Value identity with mapping
    :func:`~datalake_nba_dmc_spark.operators.cdc.token_hash_sql` over
    materialized shingle strings is pinned corpus-wide by
    tests/test_staged_oracles.py. Docs with 1..n-1 tokens get their
    single whole-text window (the ``_grams_from_tokens`` fallback);
    windows are a MULTISET (no array_distinct — min-fold consumers are
    idempotent, so multiset minima equal set minima). Why: the old shape
    materialized every shingle STRING (~3× corpus bytes) and re-folded
    every character ~3×n more times inside ``token_hash_sql``'s 8×
    textual self-reference — measured 4.81 → 0.39 s (12×) for the
    sf0.1 signature fold, bit-identical output.

    The caller must stage ``_tsum``/``_ln`` as real columns via
    :func:`_with_token_sums` first (the with_shingles rule). The window
    offsets are ``slice(sequence(1, n), 1, wl)``, never ``sequence(1,
    wl)``: a token-less doc has ``wl = 0``, where ``sequence`` counts
    DOWN to ``[1, 0]`` and the fold indexes an empty array — a crash
    whenever the optimizer evaluates this expression before the
    caller's ``size > 0`` filter (InferFiltersFromGenerate does)."""
    wl = f"CASE WHEN size({toks}) >= {n} THEN {n} ELSE size({toks}) END"
    win_sum = (
        f"aggregate(slice(sequence(1, {n}), 1, {wl}), "
        "named_struct('off', CAST(0 AS BIGINT), 'tot', CAST(0 AS BIGINT)), "
        "(acc, i) -> named_struct("
        "'off', acc.off + element_at(_ln, w + i) + 1, "
        "'tot', acc.tot + element_at(_tsum, w + i).pw "
        "+ acc.off * (element_at(_tsum, w + i).ps + 32))).tot"
    )
    return (
        f"transform(transform(sequence(0, size({toks}) - {wl}), "
        f"w -> ({win_sum}) % {_M31}), h -> "
        + mixer_sql("h", "spark")
        + f" % {_MERSENNE31})"
    )


def _with_token_sums(df: DataFrame, toks: str = "_toks") -> DataFrame:
    """Stage the per-token (pw, ps) struct fold and lengths as real
    columns (one character pass per token; CollapseProject keeps the
    stage because the aliases are non-cheap and multiply referenced)."""
    return df.withColumn(
        "_tsum",
        F.expr(
            f"transform({toks}, t -> aggregate(zip_with(split(t, ''), "
            "sequence(1, char_length(t)), (c, j) -> named_struct("
            "'o', CAST(ascii(c) AS BIGINT), 'j', CAST(j AS BIGINT))), "
            "named_struct('pw', CAST(0 AS BIGINT), 'ps', CAST(0 AS BIGINT)), "
            "(a, v) -> named_struct('pw', a.pw + v.o * v.j, 'ps', a.ps + v.o)))"
        ),
    ).withColumn(
        "_ln", F.expr(f"transform({toks}, t -> CAST(char_length(t) AS BIGINT))")
    )


def _minhash_portable_sig(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(``id_col``, _sig array<long>) — the shared signature frame behind
    :func:`minhash_portable` (exploded rows) and
    :func:`minhash_portable_clusters` (array-sliced banding)."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    base = ensure_parallelism(
        df.filter(
            F.col(text_col).isNotNull()
            & (F.octet_length(text_col) == F.length(text_col))
        )
    ).withColumn("_toks", toks)

    coeffs = permutation_coeffs(num_hashes, seed)
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)
    # r16: shingle hashes via the token-sum decomposition — no shingle
    # strings, one character fold per token (see _shingle_hashes_expr;
    # 12× on the sf0.1 fold, bit-identical, equality pinned corpus-wide
    # in tests/test_staged_oracles.py). Emptiness filters on the TOKEN
    # array (same rows: _sh nonempty iff _toks nonempty, since
    # _grams_from_tokens emits the whole-text window for 1..n-1 tokens).
    # Staged hashes as their own column (with_shingles).
    hashed = _with_token_sums(
        base.filter(F.size("_toks") > 0)
    ).withColumn("_shh", F.expr(_shingle_hashes_expr("_toks", shingle_n)))

    def step(acc, h):
        return F.zip_with(
            acc,
            F.zip_with(
                a_arr,
                b_arr,
                lambda a, b: F.pmod(h * a + b, F.lit(_MERSENNE31)),
            ),
            lambda cur, cand: F.least(cur, cand),
        )

    return hashed.select(
        id_col, F.aggregate("_shh", init, step).alias("_sig")
    )


def minhash_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Portable MinHash signatures: one row per (``id_col``, h_idx,
    sig_value) for every ASCII-contract document with >= ``shingle_n``
    tokens. ``sig_value`` = min over the doc's word shingles of
    ``(a_i · mixer_hash(shingle) + b_i) mod P`` — every value bit-exact
    vs the DuckDB twin, which replays the same Python-free expression
    fold."""
    sig = _minhash_portable_sig(df, text_col, id_col, num_hashes, shingle_n, seed)
    return sig.select(
        id_col, F.posexplode("_sig").alias("h_idx", "sig_value")
    ).select(
        id_col,
        F.col("h_idx").cast("long").alias("h_idx"),
        F.col("sig_value").cast("long").alias("sig_value"),
    )


def simhash_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 32,
) -> DataFrame:
    """Portable SimHash: one row per ASCII-contract non-empty document —
    (``id_col``, ``simhash``), where ``simhash`` is the ``n_bits``-bit
    sign-aggregate of mixer token hashes (every token OCCURRENCE votes
    ±1 per bit; bit j of the signature is 1 iff the per-bit sum is
    ≥ 0, Charikar 2002). With the dialect-rendered mixer as the token
    hash, the whole signature — not a certificate band — replays
    bit-exactly in DuckDB. n_bits ≤ 32 (the mixer emits 32 bits).

    ONE fold updates all ``n_bits`` running sums at once (the
    minhash_signature lesson: per-bit ``transform`` re-scans the token
    array n_bits times). Near-dup use is the production SimHash's
    banded-pigeonhole join, unchanged."""
    if not 1 <= n_bits <= 32:
        raise ValueError("n_bits must be in [1, 32]")
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    staged = (
        ensure_parallelism(
            df.filter(
                F.col(text_col).isNotNull()
                & (F.octet_length(text_col) == F.length(text_col))
            )
        )
        .withColumn("_toks", toks)
        .filter(F.size("_toks") > 0)
        .withColumn(
            # two-level transform (cdc._token_hashes_expr): the char fold
            # stages once per token, the mixer's 8× textual self-reference
            # re-reads a scalar — bit-identical to mapping token_hash_sql
            # (r16; the r15 cdc HOF-CSE lesson applied here)
            "_th",
            F.expr(_token_hashes_expr("_toks")),
        )
    )
    sums = F.expr(
        f"aggregate(_th, array_repeat(CAST(0 AS BIGINT), {n_bits}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {n_bits - 1}), "
        "(a, j) -> a + ((h div CAST(pow(2, j) AS BIGINT)) % 2) * 2 - 1))"
    )
    sig = F.expr(
        f"aggregate(zip_with(_sums, sequence(0, {n_bits - 1}), "
        "(s, j) -> CASE WHEN s >= 0 THEN CAST(pow(2, j) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    return (
        staged.withColumn("_sums", sums)
        .select(id_col, sig.alias("simhash"))
    )


def _cms_col_sql(h: str, a: int, b: int, width: int) -> str:
    """Row hash of the Count-Min sketch: affine permutation of the mixer
    token hash, folded to a column index. Dialect-free (the caller
    renders ``h`` per dialect). The hash is reduced mod P BEFORE the
    multiply — the raw mixer emits up to 2^32-1 and ``a`` runs to ~2^31,
    whose product reaches 2^63 and overflows int64; reduced, the product
    stays under 2^62 (the same reduction minhash_portable applies)."""
    return f"(((({h}) % {_MERSENNE31}) * {a} + {b}) % {_MERSENNE31}) % {width}"


def cms_counters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    depth: int = 4,
    width: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Portable Count-Min sketch (Cormode & Muthukrishnan 2005 — public)
    over token OCCURRENCES: → (row_idx, col_idx, cnt), the full d×w
    counter matrix, every count bit-exact vs the DuckDB twin.

    Counter (i, j) = number of token occurrences with
    ``((a_i·mixer(tok) + b_i) mod P) mod w = j`` — the same seeded
    literal-embedded affine permutations as :func:`minhash_portable`.

    Scale shape: tokens explode once, each occurrence fans out ``depth``
    (row, col) keys, then ONE hash aggregation whose group count is
    capped at d·w REGARDLESS of corpus size or token skew — a hot token
    folds into map-side partial counts like any other (the property that
    makes CMS the frequency sketch for 100 TB streams, vs exact
    per-token counts whose group cardinality is the vocabulary). Shard
    sketches merge by plain addition of counters; estimates are
    ``min_i counter[i][h_i(t)]`` and can only OVERcount (inner-product
    collisions add, never subtract) — the certificate law the suite
    twin pins."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    coeffs = permutation_coeffs(depth, seed)
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    th = token_hash_sql("tok", "spark")
    cols = ", ".join(_cms_col_sql("_h", a, b, width) for a, b in coeffs)
    return (
        ensure_parallelism(
            df.filter(
                F.col(text_col).isNotNull()
                & (F.octet_length(text_col) == F.length(text_col))
            )
        )
        .select(F.explode(toks).alias("tok"))
        # token hash staged as a real column: the array-of-columns
        # expression below references it depth times (with_shingles rule)
        .withColumn("_h", F.expr(th))
        .select(
            F.posexplode(F.expr(f"array({cols})")).alias(
                "row_idx", "col_idx"
            )
        )
        .groupBy(
            F.col("row_idx").cast("long").alias("row_idx"),
            F.col("col_idx").cast("long").alias("col_idx"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    depth: int = 4,
    width: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Top-``k`` tokens by exact count with their Count-Min estimates:
    → (tok, true_cnt, cms_est), order-free output, deterministic
    tiebreak (count DESC, token ASC) on the top-k cut.

    The exact counts exist to CERTIFY the sketch: ``cms_est >= true_cnt``
    for every row by construction (collisions only add), and the suite
    twin replays both sides bit-exactly. At 100 TB the exact-count leg
    is exactly the expensive vocabulary-wide aggregation the sketch
    replaces — it is certificate scaffolding at gate scales, not part
    of the sketch's own cost, which is the fixed d×w counter table
    (broadcast below, never shuffled against the corpus)."""
    coeffs = permutation_coeffs(depth, seed)
    counters = cms_counters(df, text_col, id_col, depth, width, seed)
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    true_topk = (
        ensure_parallelism(
            df.filter(
                F.col(text_col).isNotNull()
                & (F.octet_length(text_col) == F.length(text_col))
            )
        )
        .select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("tok").asc())
        .limit(k)
    )
    th = token_hash_sql("tok", "spark")
    cols = ", ".join(_cms_col_sql("_h", a, b, width) for a, b in coeffs)
    probes = (
        true_topk.withColumn("_h", F.expr(th))
        .select(
            "tok",
            "true_cnt",
            F.posexplode(F.expr(f"array({cols})")).alias(
                "row_idx", "col_idx"
            ),
        )
        .select(
            "tok",
            "true_cnt",
            F.col("row_idx").cast("long").alias("row_idx"),
            F.col("col_idx").cast("long").alias("col_idx"),
        )
    )
    return (
        probes.join(F.broadcast(counters), on=["row_idx", "col_idx"])
        .groupBy("tok", "true_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )


def minhash_portable_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """END-TO-END portable LSH dedup: signatures → bands → bucket star
    edges → connected components → representatives, every stage a
    cross-engine bit-exact contract. → (``id_col``, cluster_id,
    is_representative) for every ASCII-contract tokenized document —
    cluster_id = min doc id of its LSH-connected component, singletons
    their own cluster.

    The production pipeline (operators/dedup.minhash_dedup) can only be
    driver-checked rows-only because xxhash64 is engine-private; with
    the portable signatures the WHOLE near-dup decision — which docs
    cluster together, who survives — replays in DuckDB and is full-value
    oracle-able. That is the point of this variant: the highest-stakes
    pipeline in a curation stack (it deletes data) gets a differential
    oracle end to end.

    Banding contract: band b = signature values [b·K/B, (b+1)·K/B),
    keyed by the exact value tuple rendered ``v0:v1:…`` — no band-key
    hashing, so no false buckets anywhere (at 100 TB you would hash the
    key to keep shuffle rows narrow; the string form keeps the contract
    collision-free and twin-trivial, and candidates here feed CC
    directly rather than a Jaccard verify). The signature frame is
    persisted once (MEMORY_AND_DISK — spills, never OOMs) and read by
    banding, the CC edge build, and the final id roster: the signature
    char-fold is the pipeline's dominant cost and must run once (at
    100 TB: a checkpointed table — the minhash_dedup lesson). The
    persist is DELIBERATELY not unpersisted here (r11 ADVICE): this
    builder returns a lazy frame, so eager cleanup would have to
    materialize-then-release inside the builder, and repeated suite/
    audit invocations intentionally re-hit the cached plan (the PERF.md
    steady-state receipt relies on exactly that plan-cache match);
    storage-level MEMORY_AND_DISK + the executor LRU bound the cost —
    stale entries evict under pressure instead of OOMing. Buckets
    emit star edges
    (min-id → member), never within-bucket pairs — O(rows × B), the
    skew lesson from minhash_lsh_candidates. Components via
    :func:`~datalake_nba_dmc_spark.operators.dedup.connected_components`
    (min-label, diameter ≤ 2 on star-edge graphs;
    connected_components_star is the high-diameter swap-in)."""
    from datalake_nba_dmc_spark.operators.dedup import connected_components

    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands
    sig = _minhash_portable_sig(
        df, text_col, id_col, num_hashes, shingle_n, seed
    ).persist()
    # band keys sliced straight off the signature ARRAY — map-only, no
    # re-aggregation of exploded rows (the first cut grouped 
    # rows x num_hashes back into bands: one whole shuffle for nothing)
    banded = sig.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.concat_ws(
                    ":",
                    F.transform(
                        F.slice("_sig", b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                ),
            )
        ).alias("band_idx", "band_key"),
    )
    buckets = banded.groupBy("band_idx", "band_key").agg(
        F.min(id_col).alias("_rep")
    )
    edges = (
        banded.join(buckets, on=["band_idx", "band_key"])
        .filter(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
        .distinct()
    )
    comps = connected_components(edges)
    ids = sig.select(F.col(id_col)).distinct()
    return (
        ids.join(
            comps.withColumnRenamed("id", id_col), on=id_col, how="left"
        )
        .select(
            id_col,
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_representative", F.col("cluster_id") == F.col(id_col)
        )
    )


def _kmv_kept_hashes(
    df: DataFrame, text_col: str, group_col: str, k: int
):
    """Shared KMV substrate of the theta-vocabulary family
    (:func:`kmv_theta_vocab` / ``_overlap`` / ``_difference`` — one
    definition so the tokenize → ASCII gate → mixer hash → DISTINCT →
    top-k chain can never silently diverge between the estimators):
    returns (distinct_h, kept) where distinct_h is the DISTINCT
    (group, hash mod P) frame and kept its per-group k smallest
    (rank <= k compiles to WindowGroupLimit — partial map-side prune
    before the shuffle)."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    toks = F.filter(
        F.split(normalize_text(text_col), " "), lambda t: t != ""
    )
    th = token_hash_sql("tok", "spark")
    distinct_h = (
        ensure_parallelism(
            df.filter(
                F.col(text_col).isNotNull()
                & (F.octet_length(text_col) == F.length(text_col))
            )
        )
        .select(F.col(group_col), F.explode(toks).alias("tok"))
        .select(
            group_col,
            (F.expr(th) % _MERSENNE31).cast("long").alias("_h"),
        )
        .distinct()
    )
    w = Window.partitionBy(group_col).orderBy("_h")
    kept = distinct_h.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= k
    )
    return distinct_h, kept


def _kmv_thetas(kept: DataFrame, group_col: str, k: int) -> DataFrame:
    """Per-group theta from the kept frame: the k-th smallest hash, or
    P when the group holds its whole set (n_kept < k — the sketch then
    IS the set, the standard KMV small case)."""
    return kept.groupBy(group_col).agg(
        F.when(F.count(F.lit(1)) < k, F.lit(_MERSENNE31))
        .otherwise(F.max("_h"))
        .cast("long")
        .alias("theta")
    )


def kmv_theta_vocab(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 64,
) -> DataFrame:
    """Portable KMV/theta distinct-vocabulary sketch per group (Bar-Yossef
    et al. 2002's k-minimum-values / the theta-sketch family — public):
    keep the ``k`` smallest DISTINCT mixer token hashes per group; the
    k-th smallest is the threshold θ and the distinct-count estimate is
    ``(k−1)·P/θ`` (exact ``n_kept`` when the group holds fewer than k
    distinct hashes — the sketch then IS the set). → one row per group:
    (``group_col``, n_kept, theta, distinct_est_micro, exact_distinct).

    Unlike HLL (registered: hll_portable/hyperball), KMV sketches
    support SET OPERATIONS — see :func:`kmv_theta_vocab_overlap` for the
    intersection/union estimates over the same sketches; that is why a
    curation stack carries both. Distinct-ness is in HASH space (mod P):
    the contract the twin replays exactly; 1/P ≈ 5e-10 collision rate is
    part of the estimator's error budget, not a correctness caveat.

    Integer contract: hashes are the dialect-rendered mixer over
    position-weighted codepoint sums (no engine hash builtin), θ and
    n_kept are exact integers, and the estimate is
    ``floor((k−1)·P·10^6 / θ)`` — int64-safe (k·P·10^6 < 2^58) and
    bit-exact in DuckDB. ASCII contract as in cms_counters.

    Scale shape: explode → DISTINCT (group, h) hash-agg → top-k-per-
    group window whose rank<=k filter compiles to WindowGroupLimit
    (partial group-limit prunes map-side BEFORE the shuffle, the
    text_domain_quota plan shape) → k-row-per-group aggregate. The
    exact_distinct column is certificate scaffolding (it is the
    vocabulary-wide count the sketch replaces at 100 TB — the
    cms_heavy_hitters accounting)."""
    distinct_h, topk = _kmv_kept_hashes(df, text_col, group_col, k)
    exact = distinct_h.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    per_group = topk.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("_h").alias("_maxh"),
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept") * F.lit(1_000_000)
    ).otherwise(
        # pre-multiplied BIGINT literal: (k-1)*P*10^6 as INT literals
        # overflows under ANSI before widening
        F.expr(f"CAST({(k - 1) * _MERSENNE31 * 1_000_000} AS BIGINT) div _maxh")
    )
    return (
        per_group.join(exact, on=group_col)
        .select(
            group_col,
            "n_kept",
            # theta = P when the sketch holds the whole set (every hash
            # "kept" — the standard KMV small case)
            F.when(F.col("n_kept") < k, F.lit(_MERSENNE31))
            .otherwise(F.col("_maxh"))
            .cast("long")
            .alias("theta"),
            est.cast("long").alias("distinct_est_micro"),
            "exact_distinct",
        )
    )


def kmv_theta_vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 64,
) -> DataFrame:
    """Theta-sketch SET OPERATIONS over :func:`kmv_theta_vocab`'s
    sketches: for every UNORDERED pair of groups, estimate the shared
    and combined distinct vocabulary — the curation question ("how much
    of source B's vocabulary is already in A?") that mergeable HLL
    counters cannot answer (HLL unions; it cannot intersect without
    inclusion-exclusion blowup). → one row per pair (source_a <
    source_b): theta_min, n_common (shared kept hashes below θ∩),
    n_union (distinct kept hashes below θ∩), inter_est_micro,
    union_est_micro — every value replayed bit-exactly by the twin.

    Estimator (Dasgupta et al. 2016, theta-sketch framework — public):
    θ∩ = min(θ_a, θ_b); any hash < θ∩ is a uniform sample of the
    combined hash space at rate θ∩/P, so |{kept ∩ both} < θ∩|·P/θ∩
    estimates the intersection and the same scaling of the union-kept
    count estimates the union. Scale shape: the per-group sketches are
    k rows each — the pair join runs over sketch rows, never corpus
    rows (groups² · k is dashboard-sized; the corpus is scanned ONCE:
    thetas derive from the same kept frame instead of a second
    :func:`kmv_theta_vocab` pass, which would tokenize everything
    twice)."""
    _, kept = _kmv_kept_hashes(df, text_col, group_col, k)
    # theta from the kept frame itself (the kmv_theta_vocab rule: the
    # k-th smallest, or P when the group holds its whole set)
    thetas = _kmv_thetas(kept, group_col, k)
    a = kept.select(
        F.col(group_col).alias("source_a"), F.col("_h").alias("_ha")
    ).join(
        thetas.select(
            F.col(group_col).alias("source_a"),
            F.col("theta").alias("_ta"),
        ),
        on="source_a",
    )
    b = kept.select(
        F.col(group_col).alias("source_b"), F.col("_h").alias("_hb")
    ).join(
        thetas.select(
            F.col(group_col).alias("source_b"),
            F.col("theta").alias("_tb"),
        ),
        on="source_b",
    )
    pairs = (
        a.join(b, on=(F.col("_ha") == F.col("_hb")))
        .filter(F.col("source_a") < F.col("source_b"))
        .filter(
            F.col("_ha") < F.least(F.col("_ta"), F.col("_tb"))
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.least(F.col("_ta"), F.col("_tb"))).alias(
                "theta_min"
            ),
        )
    )
    # union side: all kept hashes below theta_min per pair, distinct
    pair_names = (
        thetas.select(F.col(group_col).alias("source_a"), F.col("theta").alias("_ta"))
        .crossJoin(
            thetas.select(
                F.col(group_col).alias("source_b"),
                F.col("theta").alias("_tb"),
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.least("_ta", "_tb").alias("theta_min"),
        )
    )
    union_side = (
        pair_names.join(
            kept.select(
                F.col(group_col).alias("source_a"), F.col("_h")
            ),
            on="source_a",
        )
        .select("source_a", "source_b", "theta_min", "_h")
        .union(
            pair_names.join(
                kept.select(
                    F.col(group_col).alias("source_b"), F.col("_h")
                ),
                on="source_b",
            ).select("source_a", "source_b", "theta_min", "_h")
        )
        .filter(F.col("_h") < F.col("theta_min"))
        .groupBy("source_a", "source_b", "theta_min")
        .agg(F.countDistinct("_h").alias("n_union"))
    )
    out = (
        union_side.join(
            pairs.select("source_a", "source_b", "n_common"),
            on=["source_a", "source_b"],
            how="left",
        )
        .select(
            "source_a",
            "source_b",
            "theta_min",
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            "n_union",
        )
    )
    return out.select(
        "source_a",
        "source_b",
        "theta_min",
        "n_common",
        F.col("n_union").cast("long").alias("n_union"),
        # full-precision micro estimate: n <= 2k, so n*P*10^6 < 2^58
        F.expr(
            f"(n_common * {_MERSENNE31} * 1000000) div greatest(theta_min, 1)"
        ).alias("inter_est_micro"),
        F.expr(
            f"(n_union * {_MERSENNE31} * 1000000) div greatest(theta_min, 1)"
        ).alias("union_est_micro"),
    )


def kmv_theta_vocab_difference(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 64,
) -> DataFrame:
    """Theta-sketch set DIFFERENCE over :func:`kmv_theta_vocab`'s
    sketches — the third theta set operation (Dasgupta et al. 2016),
    completing union/intersection (:func:`kmv_theta_vocab_overlap`):
    for every ORDERED pair of groups (a != b — difference is
    asymmetric), estimate |vocab(a) \\ vocab(b)|, the curation question
    "how many terms does source A add that B lacks?" that decides
    whether ingesting A next to B buys new coverage. → one row per
    ordered pair: (source_a, source_b, theta_min, n_a_only,
    diff_est_micro).

    Estimator: below theta_min = min(theta_a, theta_b), each group's
    kept hashes are a uniform rate-theta_min/P sample of its set, so
    the kept-a hashes NOT in b's sketch count the difference sample —
    only a's side is restricted below theta_min; each candidate is
    probed against b's FULL kept sketch, which is complete below
    theta_b >= theta_min by the KMV invariant (any b-hash < theta_min
    is necessarily kept), so membership there is exact and a
    redundant b-side filter would change nothing. n_a_only *
    P/theta_min estimates the difference. Same one-scan shape as the
    overlap: sketches are k
    rows per group; the pair join and the anti-membership check run
    over sketch rows only (a LEFT anti-style null-check join on the
    hash), never corpus rows."""
    _, kept = _kmv_kept_hashes(df, text_col, group_col, k)
    thetas = _kmv_thetas(kept, group_col, k)
    pair_names = (
        thetas.select(
            F.col(group_col).alias("source_a"), F.col("theta").alias("_ta")
        )
        .crossJoin(
            thetas.select(
                F.col(group_col).alias("source_b"),
                F.col("theta").alias("_tb"),
            )
        )
        .filter(F.col("source_a") != F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.least("_ta", "_tb").alias("theta_min"),
        )
    )
    a_below = pair_names.join(
        kept.select(F.col(group_col).alias("source_a"), "_h"),
        on="source_a",
    ).filter(F.col("_h") < F.col("theta_min"))
    b_kept = kept.select(
        F.col(group_col).alias("_bsrc"), F.col("_h").alias("_hb")
    )
    only = (
        a_below.join(
            b_kept,
            on=[
                a_below["source_b"] == b_kept["_bsrc"],
                a_below["_h"] == b_kept["_hb"],
            ],
            how="left",
        )
        .filter(F.col("_hb").isNull())
        .groupBy("source_a", "source_b", "theta_min")
        .agg(F.count(F.lit(1)).alias("n_a_only"))
    )
    # pairs where EVERY below-theta a-hash is shared (or a has none
    # below theta) must still emit a zero row — left join the pair grid
    out = pair_names.join(
        only, on=["source_a", "source_b", "theta_min"], how="left"
    ).select(
        "source_a",
        "source_b",
        "theta_min",
        F.coalesce("n_a_only", F.lit(0)).cast("long").alias("n_a_only"),
        F.expr(
            f"(coalesce(n_a_only, 0) * {_MERSENNE31} * 1000000)"
            " div greatest(theta_min, 1)"
        ).alias("diff_est_micro"),
    )
    return out


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup-aware train/val/test assignment — the split every
    training pipeline should use instead of a per-document hash: a
    per-doc split leaks whenever two near-duplicates land in different
    splits (the eval set silently contains paraphrases of training
    rows — the contamination mode document-level decontamination
    cannot see, because the leak is WITHIN the corpus). Splitting by
    the LSH CLUSTER id makes leakage impossible BY CONSTRUCTION: every
    member of a near-dup cluster shares its cluster's split.

    → (``id_col``, cluster_id, split_bucket, split) per ASCII-contract
    tokenized document: cluster_id from
    :func:`minhash_portable_clusters` (full-value oracle-able LSH →
    star edges → connected components), split_bucket = the avalanche
    mixer of the cluster id folded to 0..99 (the suite's engine-free
    hash — deterministic, engine-portable, and independent of document
    COUNT so re-crawls keep their split), split = train/val/test by
    the (100−val−test, val, test) percent bands. The percent bands are
    exact only at CLUSTER grain: document-grain proportions
    approximate ``val_pct``/``test_pct`` and can drift materially when
    near-dup cluster sizes are skewed (a giant cluster drags its whole
    mass into one split — that is the no-leakage guarantee doing its
    job, not a bug), plus a negligible 2^32 % 100 band bias.

    Scale shape: everything is the clusters pipeline (one corpus scan,
    banded star edges, component loop) plus one map-side mixer
    projection — the split adds ZERO shuffles. The no-leakage law
    (#distinct (cluster, split) == #distinct cluster) is structural;
    pytest pins it anyway as the certificate."""
    from datalake_nba_dmc_spark.operators.cdc import _M
    from datalake_nba_dmc_spark.operators.hyperball import mixer_sql

    if val_pct < 0 or test_pct < 0 or val_pct + test_pct >= 100:
        raise ValueError("val_pct/test_pct must be >= 0 and sum < 100")
    clusters = minhash_portable_clusters(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    # the mixer's contract is a NON-NEGATIVE input; % follows the
    # dividend's sign on BOTH engines, so a signed-hash id corpus would
    # silently push the arithmetic outside its domain and collapse the
    # val/test bands (negative bucket < train_hi). The add-then-mod
    # form is the dialect-portable pmod.
    bucket = (
        F.expr(mixer_sql(f"(((cluster_id % {_M}) + {_M}) % {_M})", "spark"))
        % 100
    ).cast("int")
    train_hi = 100 - val_pct - test_pct
    return clusters.select(
        id_col,
        "cluster_id",
        bucket.alias("split_bucket"),
        F.when(F.col("split_bucket") < train_hi, F.lit("train"))
        .when(F.col("split_bucket") < train_hi + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def leakage_safe_split_stratified(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """:func:`leakage_safe_split` with STRATIFIED cluster->split
    assignment — closes the documented doc-grain-skew gap (r13 ADVICE /
    the mixer split's docstring): the per-cluster mixer assigns each
    cluster to a split INDEPENDENTLY, so with skewed cluster sizes the
    document-grain proportions drift far from ``val_pct``/``test_pct``
    (a 5%-mass cluster mixed into val doubles val by itself). This
    variant instead lays every cluster on a deterministic pseudo-random
    LINE (ordered by the avalanche mixer of the cluster id, ties by
    id), takes the exact running document mass, and cuts the line into
    the (train, val, test) percent bands by CUMULATIVE mass — a
    boundary-straddling cluster resolves by LARGEST REMAINDER: it goes
    to the side of the boundary holding the strictly larger share of
    its mass (midpoint rule, ``2·cum_before + mass`` vs the doubled
    thresholds — all int64, engine-portable, no division).

    Guarantees:

    - leakage impossible, unchanged: assignment is still CLUSTER-grain
      (every near-dup rides its cluster; the no-leakage law is the same
      structural #distinct (cluster, split) == #distinct cluster);
    - document-grain proportions land within half the LARGEST single
      cluster's mass share of each band boundary — ±1 pt whenever no
      cluster holds more than ~2 % of the corpus, vs the mixer form's
      unbounded binomial drift (fixture law in pytest: a skewed corpus
      where the mixer split misses val by >10 pts lands within ±1 pt
      here);
    - a cluster LARGER than a band can never fit it (that is the
      no-leakage guarantee doing its job, not a bug) — the midpoint
      rule sends it to the band holding most of its mass, and the
      small bands stay near target from the remaining line;
    - determinism: the mixer order is a pure function of cluster ids —
      independent of layout, partitioning, AND of which other
      documents exist only through cluster membership itself (unlike a
      mass-descending order, ties on the ubiquitous mass=1 would
      otherwise make the line id-ordered, biasing early ids into
      train).

    Scale shape: the clusters pipeline + ONE cluster-grain mass
    hash-agg, then the standard two-phase parallel prefix sum over the
    mixer line (1024 order-preserving buckets: a <=1024-row offsets
    scan + per-bucket windows — no corpus-scale single-partition
    window), a 1-row total broadcast, and one equi-join back to the
    doc-grain frame on cluster_id (reusing the agg's key). → (id_col,
    cluster_id, cluster_mass, split)."""
    from pyspark.sql import Window

    from datalake_nba_dmc_spark.operators.cdc import _M
    from datalake_nba_dmc_spark.operators.hyperball import mixer_sql

    if val_pct < 0 or test_pct < 0 or val_pct + test_pct >= 100:
        raise ValueError("val_pct/test_pct must be >= 0 and sum < 100")
    clusters = minhash_portable_clusters(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
    )
    mass = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_mass")
    )
    # the mixer's contract is a NON-NEGATIVE input (the add-then-mod
    # pmod fold, the leakage_safe_split rule); output in [0, 2^32)
    mix = F.expr(
        mixer_sql(f"(((cluster_id % {_M}) + {_M}) % {_M})", "spark")
    )
    # two-phase prefix sum: 2^32 / 2^22 = 1024 order-preserving buckets
    keyed = mass.withColumn("_mix", mix).withColumn(
        "_bkt", F.expr("_mix div 4194304")
    )
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = (
        keyed.groupBy("_bkt")
        .agg(F.sum("cluster_mass").alias("_bt"))
        .withColumn("_off", F.coalesce(F.sum("_bt").over(w_off), F.lit(0)))
        .select("_bkt", "_off")
    )
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("_mix", "cluster_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = keyed.join(F.broadcast(offs), on="_bkt").withColumn(
        "_cum", F.sum("cluster_mass").over(w_in) + F.col("_off")
    )
    total = mass.agg(F.sum("cluster_mass").alias("_n"))
    # midpoint (largest-remainder) rule, doubled to stay integer:
    # m2 = 2*cum_before + mass; band edges at 2*N*pct/100
    m2 = 2 * (F.col("_cum") - F.col("cluster_mass")) + F.col("cluster_mass")
    train_hi = 100 - val_pct - test_pct
    assigned = cum.crossJoin(F.broadcast(total)).select(
        "cluster_id",
        F.col("cluster_mass").cast("long").alias("cluster_mass"),
        F.when(
            100 * m2 < 2 * F.col("_n") * train_hi, F.lit("train")
        )
        .when(
            100 * m2 < 2 * F.col("_n") * (train_hi + val_pct),
            F.lit("val"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return clusters.join(assigned, on="cluster_id").select(
        id_col, "cluster_id", "cluster_mass", "split"
    )
