"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (beyond-reference; BASELINE.json north star).

Scale design (the whole point of these operators is the 100 TB case):

- **Exact**: hash-groupBy on a normalized-text hash — one shuffle keyed by
  a 64-bit hash, near-perfectly balanced.
- **MinHash+LSH**: shingle → K minhashes → B bands; duplicates collide in
  a band bucket. The only shuffle is groupBy/join on (band, signature) —
  never an all-pairs comparison. Candidate pairs are verified with real
  Jaccard, so false positives from banding are filtered.
- **SimHash**: 64-bit sign-hash of token hashes; near-dups differ in few
  bits. Banding the 64 bits into chunks gives the same bucket shape.
- All pair generation emits STAR edges (bucket-min → member), never
  within-bucket self-joins: O(rows × bands) total even on hot buckets,
  with duplicate groups recovered by ``connected_components`` transitivity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators.text import fingerprint, tokens
from datalake_nba_dmc_spark.operators.util import ensure_parallelism

# Large prime < 2^31 for minhash permutations (a*h + b mod P).
_MERSENNE31 = (1 << 31) - 1


def normalize_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text: keep the min-id representative per
    fingerprint group. One hash-aggregate shuffle; survivors join back by id
    (broadcast-able winners list would also work when duplicates are rare).
    """
    fp = fingerprint(text_col)
    winners = (
        df.withColumn("fp", fp)
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(winners, on=id_col, how="left_semi")


def _grams_from_tokens(toks: Column, n: int) -> Column:
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # Token-less docs (NULL or empty/whitespace text) yield NULL grams and
    # thus form NO near-dup candidates: concat_ws silently maps both cases
    # to '', which merged every missing/empty doc into one giant
    # empty-gram bucket and fabricated O(n²) "near-dup" pairs between
    # documents that have no content to compare (robustness_audit `nulls`
    # finding). Identical empty docs are exact duplicates — exact_dedup's
    # fingerprint join owns that case. Short docs (1..n-1 tokens) keep
    # their single whole-text gram.
    short = F.when(
        toks.isNotNull() & (F.size(toks) > 0), F.array(F.concat_ws(" ", toks))
    )
    return F.array_distinct(F.when(k > 0, grams).otherwise(short))


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) of the normalized text.

    NOTE: as a single Column expression the tokenization subtree is
    re-evaluated inside the gram-building lambda (interpreted HOFs have no
    common-subexpression elimination) — fine for tests/small data; hot
    paths must use :func:`with_shingles`, which stages tokens as a real
    column (measured 9× faster at 5k docs)."""
    toks = F.filter(F.split(normalize_text(col), " "), lambda t: t != "")
    return _grams_from_tokens(toks, n)


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "sh"
) -> DataFrame:
    """Staged shingle pipeline: tokens materialize in their own projection so
    the normalize+split+filter work runs ONCE per row. CollapseProject keeps
    the stages separate (a non-cheap alias referenced multiple times is not
    inlined), so the gram lambda only reads a column attribute.

    Inputs are fanned out to full parallelism first: shingling is
    compute-bound, and a small single-file corpus otherwise runs the whole
    downstream pipeline on one core (operators/util.ensure_parallelism)."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    return (
        ensure_parallelism(df)
        .withColumn("_toks", toks)
        .withColumn(out, _grams_from_tokens(F.col("_toks"), n))
        .drop("_toks")
    )


def minhash_signature(shingle_col: Column, num_hashes: int = 32, seed: int = 42) -> Column:
    """K minhash values per row: min over shingles of (a_i * xxhash64(s) + b_i) mod P.

    Deterministic (a_i, b_i) derived from the seed so signatures are stable
    across runs and partitions. Pure array expressions — no UDF.
    """
    import random

    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_hashes)]
    base = F.transform(shingle_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))
    a_arr = F.array(*[F.lit(a) for a, _ in coeffs])
    b_arr = F.array(*[F.lit(b) for _, b in coeffs])
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)

    # ONE fold over the shingle-hash array updating all K running minima at
    # once. K separate array_min(transform(base, ...)) expressions would
    # re-evaluate the shingle+hash array K times per row (Catalyst inlines
    # the shared subexpression) — measured 30× slower at 50k docs.
    def step(acc, h):
        return F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: F.pmod(h * a + b, F.lit(_MERSENNE31))),
            lambda cur, cand: F.least(cur, cand),
        )

    return F.aggregate(base, init, step)


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Candidate near-dup STAR edges via banded MinHash-LSH.

    rows → shingle → K minhashes → B bands of K/B values → explode bands →
    group by (band_idx, band_sig) bucket → link every member to the
    bucket's MIN id. Star edges (bucket-min, member) are O(rows × B) total
    — a naive within-bucket self-join is O(bucket²) and explodes on skewed
    corpora (frequent shingles concentrate minhashes into hot buckets).
    Dedup semantics are preserved through transitivity: connected
    components over star edges equal components over all-pairs edges.
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col("_sh"), num_hashes, seed)
    banded = (
        with_shingles(df.select(id_col, text_col), text_col, shingle_n, out="_sh")
        # token-less docs carry a NULL shingle array (see _grams_from_tokens)
        # and must form NO candidates: a NULL array would flow through to a
        # NULL band_sig, and xxhash64 silently SKIPS NULL arguments, so every
        # content-less doc would collide into one per-band bucket and
        # fabricate O(n²) candidate links between docs with nothing to
        # compare. Drop them before the signature is even computed.
        .filter(F.col("_sh").isNotNull())
        .select(F.col(id_col), sig.alias("sig"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.slice("sig", b * rows_per_band + 1, rows_per_band),
                )
            ).alias("band_idx", "band_sig"),
        )
        .withColumn("band_key", F.xxhash64("band_idx", F.col("band_sig").cast("string")))
        .select(id_col, "band_key")
    )
    # min-id per bucket (map-side combinable), then star edges min→member
    rep = banded.groupBy("band_key").agg(F.min(id_col).alias("id_a"))
    return (
        banded.join(rep, on="band_key")
        .filter(F.col(id_col) > F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle once, persist, band,
    bucket-join, verify candidates with exact Jaccard ≥ ``threshold``.

    The shingle table is the expensive projection and is needed three times
    (signature/banding + both sides of the verification join) — computing it
    once and persisting (MEMORY_AND_DISK, spills instead of OOM) is the
    scale play: at 100 TB this intermediate would be a checkpointed table,
    with banding and verification both reading it.
    """
    sh_df = (
        with_shingles(df.select(id_col, text_col), text_col, shingle_n)
        # NULL shingle arrays (token-less docs) form no candidates and would
        # otherwise collide into one per-band bucket (xxhash64 skips NULL
        # args). Same guard as minhash_lsh_candidates; exact_dedup owns empty docs.
        .filter(F.col("sh").isNotNull())
        .select(id_col, "sh")
    )
    sh_df.persist()
    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col("sh"), num_hashes, seed)
    banded = (
        sh_df.select(F.col(id_col), sig.alias("sig"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.slice("sig", b * rows_per_band + 1, rows_per_band),
                )
            ).alias("band_idx", "band_sig"),
        )
        .withColumn("band_key", F.xxhash64("band_idx", F.col("band_sig").cast("string")))
        .select(id_col, "band_key")
    )
    rep = banded.groupBy("band_key").agg(F.min(id_col).alias("id_a"))
    cand = (
        banded.join(rep, on="band_key")
        .filter(F.col(id_col) > F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
        .distinct()
    )
    verified = (
        cand.join(
            sh_df.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), on="id_a"
        ).join(
            sh_df.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), on="id_b"
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return verified.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (verification step after LSH).

    Joins shingle sets to both pair sides; similarity via
    array_intersect/array_union sizes — built-in, no UDF.
    """
    sh = with_shingles(df.select(id_col, text_col), text_col, shingle_n).select(
        id_col, "sh"
    )
    out = (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), on="id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return out.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0).alias("jaccard"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list → (id, component),
    component = min node id in the component.

    Iterative min-label propagation: every node starts labeled with its own
    id; each round, a node adopts the minimum label among itself and its
    neighbors; converged when a round changes nothing. Each round is one
    shuffle (groupBy node) — O(diameter) rounds, and near-dup graphs built
    from LSH star edges have tiny diameters (the bucket representative
    links members directly), so 2–3 rounds in practice.

    Scale hygiene: ``localCheckpoint`` after every round truncates the plan
    lineage — without it the loop builds an exponentially nested plan that
    strangles the optimizer by ~iteration 10 (classic iterative-Spark trap;
    on a cluster with an HDFS checkpoint dir, ``checkpoint()`` is the
    durable equivalent). Convergence is checked with a cheap count action
    per round.
    """
    both = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    both = both.localCheckpoint(eager=True)
    if both.isEmpty():
        # no edges → no labeled nodes; skip the propagation loop instead
        # of paying its per-round eager-checkpoint jobs for nothing (a
        # CLEAN corpus is exactly the zero-edge case — r10 profiling
        # found the empty loop costing seconds of pure job overhead
        # inside SemDeDup). isEmpty on the materialized checkpoint is
        # one cheap partition probe.
        return both.select(
            F.col("a").alias("id"), F.col("a").alias("comp")
        )
    labels = (
        both.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            both.join(labels, both.a == labels.id)
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("comp").alias("nmin"))
        )
        # LAZY checkpoint + count (r16): the convergence count is the
        # action that materializes the round's checkpoint, so each round
        # runs ONE job instead of an eager-checkpoint job followed by a
        # count job — same lineage truncation, same values, half the
        # per-round job overhead (the loop's cost at small/medium edge
        # counts is job launch, not data)
        new_labels = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("changed"),
            )
        ).localCheckpoint(eager=False)
        n_changed = new_labels.filter(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star phase (edges are canonical (u, v) pairs, u != v):
    every node links its strictly-LARGER neighbors to the minimum of its
    closed neighborhood. agg + join, never collect_list — a hot node's
    neighbor set streams through hash aggregation instead of
    materializing as an array (the skew trap this algorithm exists to
    survive)."""
    both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.min("v").alias("_nmin"))
    mins = mins.select("u", F.least("_nmin", F.col("u")).alias("m"))
    return (
        both.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star phase: orient every edge toward its larger endpoint
    (u = max, v = min), then every node links itself and all its SMALLER
    neighbors to the smallest of them. Same agg + join shape."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    via_neighbors = (
        oriented.join(mins, on="u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    via_self = mins.select("u", F.col("m").alias("v"))
    return (
        via_neighbors.union(via_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond" — public) → (id, component), component = min node id,
    bit-identical output contract to :func:`connected_components`.

    Why a second CC: min-label propagation converges in O(diameter)
    rounds — the right tool for LSH star-edge graphs (diameter 2–3), the
    wrong one for high-diameter graphs (redirect chains, citation paths,
    CDC chunk-adjacency), where diameter ~ n and 20 rounds of
    propagation silently under-merge. Star alternation contracts every
    component onto its minimum in O(log n) rounds REGARDLESS of
    diameter: large-star halves the distance of every far node to the
    component min; small-star flattens local stars. Each phase is one
    hash-agg plus one broadcast-free equi-join over the current edge
    set; no phase ever materializes a neighbor list, so one hot node
    (every near-dup mega-cluster has one) never builds a driver- or
    task-killing array.

    Convergence is checked EXACTLY (set equality via subtract on the
    checkpointed canonical edge sets), not by a change counter on
    labels: at the fixed point the edge set IS the answer — a star
    forest (child, component-min). ``localCheckpoint`` per round
    truncates the iterative lineage exactly like the propagation loop
    above."""
    cur = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if cur.isEmpty():
        return cur.select(F.col("u").alias("id"), F.col("u").alias("comp"))
    converged = False
    for _ in range(max_iter):
        # lazy checkpoint materialized by the fixed-point count — one
        # job per round instead of two (the propagation-CC r16 rule)
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=False)
        # exact fixed-point test: both sides are DISTINCT sets, so equal
        # counts + empty one-sided difference ⇔ set equality
        if nxt.count() == cur.count() and nxt.subtract(cur).isEmpty():
            cur = nxt
            converged = True
            break
        cur = nxt
    if not converged:
        # an exhausted loop is not "slightly stale" here: a non-star
        # edge set would emit MULTIPLE label rows per node. O(log n)
        # convergence means the default 50 rounds covers any n < 2^50 —
        # hitting this is a bug or an absurd max_iter, so fail loudly
        # (the propagation CC above degrades gracefully instead because
        # its per-node labels stay unique at every round)
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # fixed point = star forest oriented (child > root): labels are the
    # edges themselves plus one self-label per root
    roots = cur.select(F.col("v").alias("id")).distinct()
    return (
        cur.select(F.col("u").alias("id"), F.col("v").alias("comp"))
        .union(roots.select("id", F.col("id").alias("comp")))
    )


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document a duplicate-cluster id (min doc id in its
    near-dup component; singletons are their own cluster) and flag the
    representative to keep. ``pairs`` is any verified near-dup edge list
    (MinHash/SimHash/embedding). This is the step that turns pairwise
    similarity into an actual drop-list at 100 TB."""
    comps = connected_components(pairs, "id_a", "id_b")
    return (
        df.join(comps.withColumnRenamed("id", id_col), on=id_col, how="left")
        .withColumn("cluster_id", F.coalesce("comp", F.col(id_col)))
        .withColumn("is_representative", F.col("cluster_id") == F.col(id_col))
        .drop("comp")
    )


def _simhash_from_hashes(hashes: Column, bits: int = 64) -> Column:
    def vote_fn(i: int):
        # closure factory (not a default-arg lambda) — see minhash_signature
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_cols = []
    for i in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_fn(i))
        # two's-complement wrap: 1<<63 doesn't fit a signed int64 literal
        bit_val = (1 << i) - (1 << 64 if i == 63 else 0)
        bit_cols.append(
            F.when(vote > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bit_cols[0]
    for b in bit_cols[1:]:
        out = out.bitwiseOR(b)
    return out


def simhash(col: Column | str, bits: int = 64) -> Column:
    """SimHash: sign-aggregate of per-token 64-bit hashes.

    For each bit position, sum +1/-1 over tokens by whether the token hash
    has that bit set; the fingerprint bit is the sign. Near-identical texts
    → small Hamming distance. Pure aggregate expressions over the token
    array (no UDF). As a single Column expression the token-hash subtree is
    re-evaluated per bit (interpreted HOFs) — hot paths use
    :func:`with_simhash`, which stages it once."""
    toks = F.filter(F.split(normalize_text(col), " "), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_from_hashes(hashes, bits)


def simhash_arrow(bits: int = 64):
    """Vectorized SimHash as an Arrow-batched Pandas UDF over the per-token
    hash array (xxhash64 computed JVM-side — no strings cross the
    boundary). numpy unpacks each row's hashes into a (tokens × bits) sign
    matrix and reduces it in C; the 64 interpreted per-bit vote folds of
    :func:`_simhash_from_hashes` don't codegen and lose by ~10×. Bit-for-bit
    identical output to :func:`simhash` (pinned in test_dedup)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.uint64)
    # Chunked batch reduction: rows are concatenated and reduced with ONE
    # np.add.reduceat per chunk instead of a Python-level loop allocating a
    # (tokens × bits) matrix per row — ~3× faster at 5k docs. Chunking
    # bounds the bit-matrix working set (~chunk·tokens·bits·4 bytes).
    chunk_rows = 512

    @pandas_udf(LongType())
    def sig(hash_arrays: pd.Series) -> pd.Series:
        n = len(hash_arrays)
        out = np.empty(n, dtype=np.uint64)
        zero = np.zeros(1, dtype=np.int64)
        # empty docs are padded with one zero hash: its votes are all -1,
        # so the fingerprint is 0 — identical to the unpadded per-row math.
        # NULL token arrays (NULL text) get the same pad: the reference
        # simhash()'s NULL vote falls through otherwise(0) to fingerprint
        # 0, and the two are pinned bit-identical (robustness_audit
        # `nulls` finding — this was a worker TypeError on None)
        arrs = [
            np.asarray(h, dtype=np.int64) if h is not None and len(h) else zero
            for h in hash_arrays
        ]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
        for s in range(0, n, chunk_rows):
            cl = lens[s : s + chunk_rows]
            flat = np.concatenate(arrs[s : s + chunk_rows]).view(np.uint64)
            ones = np.add.reduceat(
                ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32),
                np.concatenate([zero[:1], np.cumsum(cl[:-1])]),
                axis=0,
            )
            votes = 2 * ones - cl[:, None]
            out[s : s + chunk_rows] = np.bitwise_or.reduce(
                np.where(votes > 0, np.uint64(1) << shifts, np.uint64(0)), axis=1
            )
        return pd.Series(out.view(np.int64))

    return sig


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    out: str = "sh",
    bits: int = 64,
    drop_empty: bool = False,
) -> DataFrame:
    """Staged SimHash: normalize+tokenize+hash runs once per row in its own
    projection; the vote reduction then reads a column attribute instead of
    recomputing the array (same staging rationale as :func:`with_shingles`).
    The vote reduction is the Arrow-vectorized :func:`simhash_arrow`: the
    fingerprint feeds the 16-bit banding fan-out, where interpreted
    higher-order-function expressions get no common-subexpression
    elimination (the vote reduction would re-evaluate per band
    reference), while the Arrow UDF column materializes once.
    :func:`simhash` is the bit-identical expression reference.

    ``drop_empty=True`` removes content-less docs (NULL / empty /
    whitespace-only text) BEFORE the vote reduction: their fingerprint is
    identically 0, so any banded consumer would report every such doc as a
    mutual hamming-0 near-dup — fabricated edges between documents with no
    content to compare (the same class the nulls audit removed from the
    minhash family; this flag aligns the two dedup families' policy).
    Defaults to False so plain fingerprint queries still emit one row per
    input doc."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    staged = ensure_parallelism(df)
    if drop_empty:
        # cheap exact-equivalent predicate on the RAW text (token-less ⟺
        # NULL or whitespace-only, since normalize_text only lowercases
        # and collapses whitespace): filtering on the token array itself
        # would push the interpreted tokenize+hash HOF into the predicate
        # and evaluate it twice per row (measured +36% on the simhash
        # pipeline — interpreted HOFs get no common-subexpression reuse).
        # NOT F.trim: Spark trim strips only 0x20, so a '\t'- or '\n'-only
        # doc would slip through, fingerprint to 0, and re-create exactly
        # the fabricated hamming-0 edge class this flag exists to remove
        # (r7 ADVICE). regexp_replace(\s+, '') matches the tokenizer's own
        # whitespace class, so the predicate is equivalent to size(toks)>0.
        staged = staged.filter(
            F.col(text_col).isNotNull()
            & (F.regexp_replace(F.col(text_col), r"\s+", "") != "")
        )
    staged = staged.withColumn(
        "_tok_hashes", F.transform(toks, lambda t: F.xxhash64(t))
    )
    return staged.withColumn(out, simhash_arrow(bits)(F.col("_tok_hashes"))).drop(
        "_tok_hashes"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup STAR edges by SimHash banding: split the fingerprint into
    ``bits/band_bits`` chunks; pairs within ``max_hamming`` must share at
    least one exact chunk (pigeonhole), so candidates collide in a band
    bucket. Pair generation links members to the bucket's MIN id — the
    same star-edge shape as :func:`minhash_lsh_candidates` — so hot buckets
    cost O(bucket), never O(bucket²) (with 2^band_bits buckets, a large
    corpus makes within-bucket self-joins quadratic). Full Hamming distance
    then verifies each edge; duplicate GROUPS are recovered downstream via
    :func:`connected_components` over these edges (transitivity).

    The signature plan is computed ONCE: fingerprints ride through the
    banding explode and the bucket-representative agg carries the min id's
    fingerprint via ``min_by``, so edge verification needs no join back to
    the (expensive, full-scan) signature stage — one corpus scan, one
    bucket shuffle, one broadcast-or-shuffle equi-join on band_key.

    Content-less docs (NULL/empty/whitespace text) are excluded up front
    (``drop_empty``): they all reduce to fingerprint 0 and — unlike the
    minhash family, which has a content-level Jaccard verify — this
    family's hamming verify would confirm them at distance 0, emitting
    fabricated near-dup edges in the FINAL edge set."""
    sh = with_simhash(
        df.select(id_col, text_col), text_col, "sh", bits, drop_empty=True
    ).select(id_col, "sh")
    return banded_hash_edges(sh, id_col, "sh", bits, band_bits, max_hamming)


def banded_hash_edges(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int = 64,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic banded near-dup STAR edges over ANY ``bits``-wide integer
    fingerprint column (SimHash text fingerprints, perceptual image
    hashes, audio chroma hashes, …): band the fingerprint into
    ``bits/band_bits`` exact chunks (pigeonhole guarantees a shared chunk
    within ``max_hamming``), link members to the bucket-min representative
    (O(bucket) even on hot buckets), verify with full Hamming distance.
    The signature stage is evaluated once — the representative agg carries
    the min id's fingerprint via ``min_by``.

    Rows with a NULL fingerprint are dropped: a NULL sig has no content to
    compare, and xxhash64 SKIPS NULL arguments, so NULL-sig rows would all
    collide into one bucket per band (fabricated edges — same class as the
    minhash NULL-signature guard). The guard is FOLDED INTO the banding
    array (``when(sig IS NOT NULL, bands)`` — posexplode emits no rows for
    a NULL array) instead of a ``.filter()`` node: when the fingerprint
    comes from an Arrow UDF, a FilterExec referencing the UDF output
    splits the plan into TWO ArrowEvalPython evaluations and measured +40%
    on the simhash pipeline at sf0.1 (1.81 → 1.25 s after the fold,
    identical edges)."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    bands_arr = F.when(
        F.col(sig_col).isNotNull(),
        F.array(
            *[
                F.shiftrightunsigned(sig_col, i * band_bits).bitwiseAND(F.lit(mask))
                for i in range(n_bands)
            ]
        ),
    )
    banded = sig.select(
        id_col,
        sig_col,
        F.posexplode(bands_arr).alias("band_idx", "band_val"),
    ).withColumn("band_key", F.xxhash64("band_idx", "band_val")).select(
        id_col, sig_col, "band_key"
    )
    rep = banded.groupBy("band_key").agg(
        F.min(id_col).alias("id_a"), F.min_by(sig_col, F.col(id_col)).alias("_sig_a")
    )
    return (
        banded.join(rep, on="band_key")
        .filter(F.col(id_col) > F.col("id_a"))
        .select(
            "id_a",
            F.col(id_col).alias("id_b"),
            hamming64(F.col("_sig_a"), F.col(sig_col)).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: for each corpus doc, count the distinct
    word ``n``-grams it shares with ANY benchmark doc (train/test overlap
    detection — the standard pre-training hygiene step; only docs with at
    least one hit are returned, ready for an anti-join back onto the
    corpus).

    Scale shape: the benchmark side (eval sets — MMLU-sized, i.e. tiny
    relative to a 100 TB corpus) collapses to its DISTINCT gram set and is
    broadcast, so the corpus side is a single map-side pass: shingle,
    explode, broadcast-hash-join, partial count — no shuffle of corpus
    text at all, and the one reduce shuffle carries only ``(doc_id,
    count)`` pairs. If the benchmark gram set ever outgrew broadcast
    range, drop the ``broadcast`` hint and the same plan runs as a
    shuffled semi-structured join on the gram key.

    Grams are matched on their normalized string form (exact semantics,
    oracle-friendly); at extreme scale join on ``xxhash64(gram)`` instead
    to shrink shuffle/broadcast width (64-bit collisions only ever ADD a
    false hit at ~2^-64 rates).
    """
    c = with_shingles(corpus.select(id_col, text_col), text_col, n).select(
        id_col, F.explode("sh").alias("gram")
    )
    b = (
        with_shingles(benchmark.select(text_col), text_col, n)
        .select(F.explode("sh").alias("gram"))
        .distinct()
    )
    return (
        c.join(F.broadcast(b), on="gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def _bloom_positions(gram: Column, num_bits: int, num_hashes: int) -> Column:
    """The ``num_hashes`` Bloom bit positions of a gram: independent
    seeded ``xxhash64`` draws, folded into [0, num_bits)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(gram, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def contamination_hits_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    id_col: str = "doc_id",
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> DataFrame:
    """Bloom-filter variant of :func:`contamination_hits` — the 100 TB
    broadcast-budget path (r8, pytest-pinned; suite registration follows
    the staged rollout BPE used). The exact path broadcasts the
    benchmark's DISTINCT GRAM SET, which at a 10M-gram eval suite is
    gigabytes of strings; here the benchmark collapses to ONE fixed-size
    Bloom sketch and the corpus stream probes it — pure built-in
    expressions end to end (Spark's internal ``bloom_filter_agg`` is not
    SQL-callable in this build, and needs nothing we can't write
    ourselves): ``num_hashes`` seeded ``xxhash64`` draws per gram mark
    bits in a 32-bit-word-packed array, aggregated with map-side-combined
    ``bit_or`` per word and carried as ONE (word_index → bits) map row
    (sparse — empty words cost nothing); the probe ANDs ``num_hashes``
    map lookups. ~1 MiB per 2^23 bits versus however wide the strings
    are, and the sketch is DETERMINISTIC (bit-OR is commutative), so two
    runs produce identical screens.

    Semantics: NO false negatives — every doc the exact check flags is
    flagged here with ``n_hits_bloom >= n_hits`` (a Bloom filter never
    drops a member); false positives ADD spurious hits at the sized FPR
    (~0.9% at 1M grams / 2^23 bits / 5 hashes), so the output is a
    SUPERSET screen: quarantine-then-recheck (run the exact counter on
    just the flagged docs) is the standard two-stage pipeline shape.
    Returns (id_col, n_hits_bloom).
    """
    bench_bits = (
        with_shingles(benchmark.select(text_col), text_col, n)
        .select(F.explode("sh").alias("_gram"))
        .distinct()
        .select(
            F.explode(_bloom_positions(F.col("_gram"), num_bits, num_hashes)).alias(
                "_pos"
            )
        )
        .select(
            (F.col("_pos") / 32).cast("long").alias("_word"),
            # 32-bit word packing: 2^b is double-exact for b <= 31, and the
            # PySpark shiftleft wrapper only takes a LITERAL shift count
            F.pow(F.lit(2.0), (F.col("_pos") % 32).cast("int"))
            .cast("long")
            .alias("_bit"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_bit").alias("_bits"))
    )
    sketch = bench_bits.agg(
        F.map_from_entries(F.collect_list(F.struct("_word", "_bits"))).alias("_bf")
    )
    # Probe as FLAT per-gram expressions, not transform/forall lambdas:
    # interpreted HOFs run outside whole-stage codegen AND putting their
    # output under a Filter splits the plan (the r7 simhash lesson). The
    # r9 A/B at sf0.1 (certificate query, same session, min-of-3): 11.97 s
    # HOF probe → 1.66 s flat probe. Same hashes, same positions — explode
    # grams once, AND num_hashes codegen'd (xxhash64 → pmod → map-lookup →
    # bit-test) conditions.
    probe = with_shingles(corpus.select(id_col, text_col), text_col, n).select(
        id_col, F.explode("sh").alias("_gram")
    )
    hit = F.lit(True)
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(F.col("_gram"), F.lit(i)), F.lit(num_bits))
        word = F.element_at(F.col("_bf"), (pos / 32).cast("long"))
        bit = F.pow(F.lit(2.0), (pos % 32).cast("int")).cast("long")
        hit = hit & (
            F.coalesce(word, F.lit(0).cast("long")).bitwiseAND(bit) != 0
        )
    return (
        probe.crossJoin(F.broadcast(sketch))  # one-row sketch broadcast
        .filter(hit)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits_bloom"))
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    gram_fanout_cap: int | None = 128,
) -> DataFrame:
    """Ingest-time dedup: keep only the rows of ``batch`` that are neither
    exact nor near (n-gram Jaccard ≥ ``threshold``) duplicates of the
    existing ``corpus``, nor of an earlier (lower-id) row in the batch
    itself — the standard incremental-crawl admission filter. NULL-text
    batch rows are dropped up front (a NULL fingerprint can never match
    the corpus in a join, while SQL ``NOT IN`` semantics would drop it —
    filtering pins both engines to the same answer).

    Asymmetric scale shape: the batch is small relative to a 100 TB
    corpus, so the BATCH side of both checks broadcasts. The exact check
    is a fingerprint anti-join; the near check explodes only gram HASHES
    (64-bit longs), broadcast-joins the batch grams onto the corpus grams
    — one corpus scan, no corpus shuffle — and computes exact Jaccard
    from intersection counts and broadcast shingle sizes. Batch-internal
    duplicates resolve by min-id (same convention as :func:`exact_dedup`).

    ``gram_fanout_cap`` bounds the batch-internal pair blowup: a gram
    shared by k batch docs would otherwise generate O(k²) candidate pairs
    (a hot boilerplate gram inside one crawl dump goes quadratic). The
    cap applies ONLY to candidate GENERATION (the lower-id side of the
    pair join keeps the ``cap`` lowest ids per gram → at most cap·k pairs
    per gram, linear in k); every generated pair is then re-counted
    EXACTLY against both docs' full gram sets, so the Jaccard values —
    and hence the admit/drop decisions — match the uncapped oracle for
    every pair found. The only approximation left is candidate recall: a
    true pair is missed only if EVERY shared gram ranks its lower id
    beyond the cap — at threshold ≥ 0.5 that means half the doc's
    shingles are cap-deep hot grams, i.e. pure boilerplate. ``None``
    disables the cap.
    """
    batch = batch.filter(F.col(text_col).isNotNull())
    corpus = corpus.filter(F.col(text_col).isNotNull())
    fp = fingerprint(text_col)
    b_fp = batch.withColumn("_fp", fp)

    from datalake_nba_dmc_spark.plans.curation import sized_gram_rows

    # ---- ONE corpus pass for BOTH checks (r16; guide §2.3). The exact
    # and near checks used to scan+normalize the corpus separately (one
    # fingerprint pass, one gram pass — regexp normalization twice over
    # 100 TB). Now a single staged projection computes the normalized
    # text once and emits, per corpus row, a tagged probe stream: one
    # (kind=0, fingerprint) row plus one (kind=1, gram-hash) row per
    # shingle. The broadcast build side is the same tagged union of the
    # batch fingerprint set and the batch gram rows, so one broadcast
    # join + one aggregation answers both "which batch fingerprints
    # exist in the corpus" and "which (batch doc, corpus doc) pairs
    # share how many grams". Direction unchanged from the r5 fix: the
    # BATCH side broadcasts, the corpus is scanned once and never
    # shuffled (only matched rows — batch-bounded — reach the shuffle).
    # The near side now probes ALL batch grams (not just post-exact
    # `fresh` ones): a superset, and harmless — near hits for docs the
    # exact check drops are discarded by the later anti-join on `fresh`.
    _nl = F.lit(None).cast("long")
    bfps = (
        b_fp.select("_fp")
        .distinct()
        .select(
            F.lit(0).alias("_kind"),
            F.col("_fp").alias("_key"),
            _nl.alias("_bid"),
            F.lit(None).cast("int").alias("_bsz"),
        )
    )
    bg = sized_gram_rows(batch, text_col, id_col, shingle_n).select(
        F.lit(1).alias("_kind"),
        F.col("gram").alias("_key"),
        F.col(id_col).alias("_bid"),
        F.col("sz").alias("_bsz"),
    )
    build = bfps.unionByName(bg)

    # staged normalized text → tokens → shingles, exactly the
    # with_shingles/sized_gram_rows composition (fingerprint(text) ≡
    # xxhash64(normalized text), so staging `_norm` is bit-identical);
    # gram-less docs (empty/whitespace text) still emit their
    # fingerprint row via the coalesce — the exact check must see them.
    staged = (
        ensure_parallelism(corpus.select(id_col, text_col))
        .withColumn("_norm", normalize_text(text_col))
        .withColumn("_toks", F.filter(F.split(F.col("_norm"), " "), lambda t: t != ""))
        .withColumn("_sh", _grams_from_tokens(F.col("_toks"), shingle_n))
    )
    # the lambda only WRAPS strings into tagged structs — hashing runs
    # post-explode in a codegen'd projection (xxhash64 inside an
    # interpreted HOF lambda measured ~10% slower end-to-end); the kind-0
    # struct carries the normalized text itself, so xxhash64 of it IS the
    # row's fingerprint
    gram_structs = F.transform(
        F.coalesce(F.col("_sh"), F.array().cast("array<string>")),
        lambda g: F.struct(F.lit(1).alias("_kind"), g.alias("_v")),
    )
    probe_structs = F.concat(
        F.array(F.struct(F.lit(0).alias("_kind"), F.col("_norm").alias("_v"))),
        gram_structs,
    )
    probe = staged.select(
        F.col(id_col).alias("_cid"),
        F.coalesce(F.size("_sh"), F.lit(0)).alias("_csz"),
        F.explode(probe_structs).alias("_p"),
    ).select(
        "_cid",
        "_csz",
        F.col("_p._kind").alias("_kind"),
        F.xxhash64(F.col("_p._v")).alias("_key"),
    )

    # Eager materialization of the batch-bounded intermediates (r5): the
    # admission pipeline consumes `hits`/`fresh`/`sets` from multiple
    # downstream branches; left lazy, every branch RE-DERIVES them —
    # re-scanning the corpus each time (measured: 96 FileScan nodes in
    # the final plan, corpus scans ×4-8). All are bounded by the BATCH
    # size, so `localCheckpoint(eager)` pins each to one computation —
    # the corpus is genuinely scanned ONCE total (r16; was once per
    # check). r7 NOTE: fusing barriers and lazily persist()ing `fresh`
    # were both A/B'd and REJECTED with receipts (PERF.md
    # "dedup_incremental barrier study"); `survivors`' checkpoint IS
    # gone (r16) — it now derives from the checkpointed `fresh` + `hits`
    # with a map-side broadcast anti-join, so re-deriving it costs no
    # scan and no shuffle.
    hits = (
        probe.join(F.broadcast(build), on=["_kind", "_key"])
        .groupBy(
            "_kind",
            F.when(F.col("_kind") == 0, F.col("_key")).alias("_hfp"),
            F.when(F.col("_kind") == 1, F.col("_bid")).alias("_bid"),
            F.when(F.col("_kind") == 1, F.col("_cid")).alias("_cid"),
        )
        .agg(
            F.count("*").alias("_n"),
            F.first("_bsz").alias("_bsz"),
            F.first("_csz").alias("_csz"),
        )
        # the Jaccard cut runs INSIDE this job: without it the checkpoint
        # materializes every (batch doc, corpus doc) any-shared-gram pair
        # count — measured ~10% on the whole query — instead of the
        # handful of fp hits + above-threshold near pairs
        .filter(
            (F.col("_kind") == 0)
            | (
                F.col("_n").cast("double")
                / (F.col("_bsz") + F.col("_csz") - F.col("_n"))
                >= threshold
            )
        )
        .localCheckpoint(eager=True)
    )

    # exact: drop batch rows whose fingerprint exists in the corpus, then
    # keep the min-id representative per batch fingerprint — one window
    # (r16; the old min-agg + semi-join back re-scanned the batch and
    # shuffled twice for the same keep-lowest-id-per-group decision).
    # Rows that repeat an id inside one fingerprint group (a re-delivered
    # row, possibly re-cased or re-spaced) tie-break on their remaining
    # column values, so the winner never depends on partition layout;
    # map columns are unorderable and only ever tie.
    hit_fps = hits.filter(F.col("_kind") == 0).select(F.col("_hfp").alias("_fp"))
    tie_break = [c for c, t in batch.dtypes if c != id_col and "map<" not in t]
    w_fp = Window.partitionBy("_fp").orderBy(id_col, *tie_break)
    fresh = (
        b_fp.join(F.broadcast(hit_fps), on="_fp", how="left_anti")
        .withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
        .localCheckpoint(eager=True)
    )

    near_corpus = (
        hits.filter(F.col("_kind") == 1)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    survivors = fresh.join(F.broadcast(near_corpus), on=id_col, how="left_anti")

    # batch-internal near-dups. r16: the checkpointed frame is the
    # COMPACT per-doc (id, gram array, sz) form — the old shape
    # checkpointed the exploded gram rows and then built this same
    # aggregate TWICE downstream (Catalyst has no cross-subtree CSE, so
    # the a-side/b-side recount each re-ran the collect_list agg: 2
    # ObjectHashAggregate pairs in the plan). The exploded gram rows the
    # candidate join needs are now derived FROM the checkpointed arrays
    # (a Generate, no extra shuffle).
    sets = (
        sized_gram_rows(survivors, text_col, id_col, shingle_n)
        .groupBy(id_col)
        .agg(F.collect_list("gram").alias("_gs"), F.first("sz").alias("_sz"))
        .localCheckpoint(eager=True)
    )
    bb = sets.select(id_col, F.col("_sz").alias("sz"), F.explode("_gs").alias("gram"))
    left = bb.select(F.col(id_col).alias("id_a"), F.col("sz").alias("_sa"), "gram")
    if gram_fanout_cap is not None:
        w = Window.partitionBy("gram").orderBy("id_a")
        left = (
            left.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= gram_fanout_cap)
            .drop("_rk")
        )
    cand = (
        left.join(
            F.broadcast(bb.select(F.col(id_col).alias("id_b"), "gram")), on="gram"
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact recount: the capped join above only PROPOSES pairs; the
    # intersection size must come from both docs' FULL gram sets, else a
    # pair whose lower id ranks past the cap on some shared grams gets an
    # undercounted _n and a wrongly-low Jaccard (admitting a true dup the
    # uncapped oracle drops). r7 shape: intersect the checkpointed
    # per-doc gram arrays with array_intersect per candidate pair — two
    # narrow id-equi-joins on the (small) candidate list instead of the
    # old explode-side recount join, whose fan-out shuffled |cand| ×
    # grams-per-doc rows. Arrays are bounded by document length. r16:
    # every frame here is batch-bounded, so the recount joins and the
    # final admission anti-join broadcast explicitly — the old plan's
    # sort-merge anti (2 exchanges + sorts) and shuffled recount joins
    # were pure fixed overhead.
    a_sets = sets.select(
        F.col(id_col).alias("id_a"), F.col("_gs").alias("_ga"), F.col("_sz").alias("_sa")
    )
    b_sets = sets.select(
        F.col(id_col).alias("id_b"), F.col("_gs").alias("_gb"), F.col("_sz").alias("_sb")
    )
    pairs = (
        cand.join(F.broadcast(a_sets), on="id_a")
        .join(F.broadcast(b_sets), on="id_b")
        .withColumn("_n", F.size(F.array_intersect("_ga", "_gb")))
        .filter(
            F.col("_n").cast("double") / (F.col("_sa") + F.col("_sb") - F.col("_n"))
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return survivors.join(F.broadcast(pairs), on=id_col, how="left_anti")


def positional_grams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Token ``n``-grams WITH their start positions: one row per
    (``id_col``, ``pos``, ``gram_h``) where ``pos`` is the 0-based token
    index and ``gram_h`` the 64-bit hash of the gram text (fixed-width
    shuffle rows, the ngram_jaccard discipline). Docs shorter than ``n``
    tokens contribute nothing. Staged token projection per the
    interpreted-HOF rule (see :func:`with_shingles`)."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    staged = ensure_parallelism(df).withColumn("_toks", toks)
    k = F.size("_toks") - (n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        staged.withColumn("_grams", grams)
        .select(id_col, F.posexplode("_grams").alias("pos", "_gram"))
        .select(id_col, "pos", F.xxhash64("_gram").alias("gram_h"))
    )


def repeated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level duplication: maximal token spans covered by
    ``n``-grams that occur at least ``min_count`` times ACROSS THE CORPUS
    (including multiple occurrences inside one document) — the
    repeated-substring family of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" (public), which document-level
    exact/near dedup cannot see. Returns (``id_col``, ``span_start``,
    ``span_end``, ``n_grams``): [start, end) token positions in the
    normalized token stream and how many repeated grams merged into the
    span.

    Scale shape — two bounded shuffles, no UDFs, no all-pairs joins:

    1. Occurrence counting is a COUNT window over ``gram_h`` (one exchange
       of fixed-width (id, pos, hash) rows; no groupBy+join-back, which
       would shuffle the same rows twice).
    2. Span assembly re-shuffles only the SURVIVING repeated-gram
       occurrences by document: a running ``max(pos + n)`` window marks a
       gram as opening a new span iff it starts past everything covered so
       far (classic interval merge, adjacent-or-overlapping coalesce), and
       the running sum of those markers is the span id. The final groupBy
       (id, span id) reuses the window's hash partitioning on ``id_col`` —
       plan shows no third exchange.

    Skew note: at 100 TB, boilerplate grams ("all rights reserved …") make
    hot ``gram_h`` partitions — cap them by pre-filtering grams whose
    per-partition count exceeds the Misra-Gries heavy-hitter list
    (operators/frequent.py) or let AQE split the skewed partitions; the
    tiny test corpus needs neither."""
    from pyspark.sql import Window

    occ = positional_grams(df, text_col, id_col, n)
    cnt_w = Window.partitionBy("gram_h")
    rep = occ.withColumn("_cnt", F.count("*").over(cnt_w)).filter(
        F.col("_cnt") >= min_count
    )
    doc_w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n).over(
        doc_w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = rep.withColumn(
        "_new", (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    )
    spans = flagged.withColumn(
        "_span",
        F.sum("_new").over(doc_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        spans.groupBy(id_col, "_span")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def mask_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
    out: str = "masked_text",
) -> DataFrame:
    """Remove every repeated span (see :func:`repeated_ngram_spans`) from
    each document: tokens whose position falls inside any span are dropped
    and the survivors re-joined with single spaces. Output column ``out``
    is in NORMALIZED form (lowercased, whitespace-collapsed — the token
    stream the spans are defined over, as in Lee et al.'s tokenized
    dedup); ``n_tokens_removed`` counts the dropped tokens.

    The span list joins back per document (collect_list of a per-doc
    handful of (start, end) structs), and the token filter is a pure
    higher-order expression with an index lambda — map-side, no UDF."""
    spans = repeated_ngram_spans(df, text_col, id_col, n, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    base = ensure_parallelism(df).withColumn("_toks", toks)
    joined = base.join(per_doc, on=id_col, how="left").withColumn(
        "_spans", F.coalesce(F.col("_spans"), F.array().cast(
            "array<struct<span_start:bigint,span_end:bigint>>"
        ))
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    kept = F.filter(F.col("_toks"), lambda t, i: ~covered(i.cast("long")))
    return (
        joined.withColumn("_kept", kept)
        # NULL text stays NULL (concat_ws would silently yield "")
        .withColumn(
            out,
            F.when(
                F.col(text_col).isNotNull(), F.concat_ws(" ", F.col("_kept"))
            ),
        )
        .withColumn(
            "n_tokens_removed",
            F.when(
                F.col(text_col).isNotNull(),
                (F.size("_toks") - F.size("_kept")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("_toks", "_kept", "_spans")
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_tokens: int = 3,
    para_sep: str = " ",
) -> DataFrame:
    """Paragraph-level exact dedup with document reconstruction (the CCNet
    stage-1 shape, Wenzek et al. 2020: hash every paragraph corpus-wide,
    drop repeated paragraphs, keep documents stitched back together from
    their surviving paragraphs).

    The synthetic documents table is single-line, so "paragraphs" are
    derived deterministically: consecutive ``para_tokens``-token chunks of
    the whitespace tokenization (the segmentation is a parameter — a real
    corpus would split on blank lines instead; everything downstream is
    segmentation-agnostic).

    Scale design — the corpus text crosses a shuffle exactly ONCE:

    - decisions travel as narrow (id, para_idx, xxhash64) triples; the
      CCNet rule "keep the first occurrence" is ``min(struct(id, idx))``
      per hash — a map-side-combinable agg, so a paragraph repeated in
      30% of the corpus (the skew-audit case) partially aggregates
      per-partition instead of piling one window partition;
    - the per-doc list of surviving paragraph indices (ints) joins back
      to the documents table by id — the only shuffle the text column
      ever rides — and reconstruction filters the in-place paragraph
      array by index membership (pure codegen, no second explode).

    Returns (id_col, clean_text, n_paras, n_kept); documents whose every
    paragraph lost (or with NULL/empty text) come back with
    ``clean_text = ''``.
    """
    toks = F.col("_toks")
    n_par = F.floor((F.size(toks) + F.lit(para_tokens - 1)) / F.lit(para_tokens)).cast(
        "int"
    )
    paras = F.when(
        n_par > 0,
        F.transform(
            F.sequence(F.lit(0), n_par - 1),
            lambda i: F.concat_ws(
                para_sep, F.slice(toks, i * para_tokens + 1, para_tokens)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = (
        ensure_parallelism(df)
        .withColumn("_toks", tokens(F.col(text_col)))
        .withColumn("_paras", paras)
    )
    decisions = base.select(
        F.col(id_col), F.posexplode("_paras").alias("para_idx", "_para")
    ).select(id_col, "para_idx", F.xxhash64("_para").alias("_h"))
    firsts = decisions.groupBy("_h").agg(
        F.min(F.struct(id_col, "para_idx")).alias("_first")
    )
    kept_idx = (
        firsts.select(F.col(f"_first.{id_col}").alias(id_col), F.col("_first.para_idx"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("para_idx")).alias("_keep_idx"))
    )
    keep = F.col("_keep_idx")
    return base.join(kept_idx, on=id_col, how="left").select(
        id_col,
        F.concat_ws(
            para_sep,
            F.filter("_paras", lambda p, i: F.array_contains(keep, i)),
        ).alias("clean_text"),
        F.size("_paras").cast("long").alias("n_paras"),
        F.when(keep.isNull(), F.lit(0))
        .otherwise(F.size(keep))
        .cast("long")
        .alias("n_kept"),
    )


def prefix_filter_ssjoin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.6,
    return_candidates: bool = False,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering
    (AllPairs, Bayardo et al. WWW'07; PPJoin, Xiao et al. WWW'08) —
    guaranteed-complete pairs with ``jaccard >= threshold``, without LSH's
    probabilistic recall AND without the full-gram equi-join's hot-token
    blowup.

    Why this exists next to the plain gram join (``near_dup_pairs_exact``):
    that join keys on EVERY shared gram, so a stop-word shingle shared by
    1% of a 100 TB corpus creates a quadratic candidate bucket. Prefix
    filtering bounds candidates by a theorem instead of a hash: order every
    doc's gram set by ONE corpus-wide total order (ascending frequency —
    rarest first), keep only the first ``p = sz - ceil(t*sz) + 1`` grams as
    the doc's prefix, and join prefixes. Any pair with ``J >= t`` MUST
    share a prefix gram (pigeonhole on the common order), so the join loses
    nothing — while frequent grams sit at the END of the order and almost
    never enter a prefix, inverting the skew instead of salting it.

    Plan shape (all built-in expressions, no UDFs):

    1. gram frequencies: one map-side-combinable agg over exploded 64-bit
       gram hashes;
    2. order join: gram rows pick up their (freq, gram) sort key — narrow
       long pairs only; per-doc sorted gram array rebuilt with ONE
       ``sort_array(collect_list(struct))`` agg;
    3. prefix explode + self-equi-join on gram, with the length filter
       ``t*sz_a <= sz_b <= sz_a/t`` applied inside the join;
    4. verify: candidates re-join the per-doc sorted hash arrays by id and
       pairs pass ``size(array_intersect)/union >= t`` — exact, so the
       output equals the naive all-pairs answer (modulo 64-bit gram-hash
       collisions, ~2^-64).

    Measured crossover (PERF.md r7): on the synthetic corpus — NO hot
    grams, max prefix bucket 10 — the naive full-gram join is ~5× faster
    at sf0.1/t=0.5 (1.31 s vs 6.5 s; 310 k candidates for 256 final
    pairs, the array verify dominates; outputs differentially identical).
    The prefix path's value is its BOUND, not its constant: one stop-word
    shingle shared by 1% of a 100 TB corpus makes the naive join's
    candidate set quadratic in that bucket, while here frequent grams sit
    at the end of the order and never become join keys. Use the naive
    join (``near_dup_pairs_exact``) for clean corpora at toy scale; use
    this when token frequencies are Zipf-hot and the threshold is high.

    Returns distinct (id_a, id_b, jaccard) with id_a < id_b.
    """
    t = float(threshold)
    grams = (
        with_shingles(df.select(id_col, text_col), text_col, shingle_n)
        .filter(F.col("sh").isNotNull())
        .select(
            id_col,
            F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("gram"),
        )
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("_freq"))
    # one total order for the whole corpus: (freq ASC, gram ASC); encoded as
    # a sortable struct so no global rank window (a single-partition
    # bottleneck at scale) is ever needed
    ordered = (
        grams.join(freq, on="gram")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_freq", "gram"))),
                lambda s: s["gram"],
            ).alias("_gs")
        )
        .select(
            id_col,
            "_gs",
            F.size("_gs").alias("sz"),
            (F.size("_gs") - F.ceil(F.size("_gs") * F.lit(t)) + 1)
            .cast("int")
            .alias("_p"),
        )
    )
    prefix = ordered.select(
        id_col, "sz", F.explode(F.slice("_gs", 1, F.col("_p"))).alias("gram")
    )
    cands = (
        prefix.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"), "gram")
        .join(
            prefix.select(
                F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"), "gram"
            ),
            on="gram",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") * F.lit(1.0) >= F.col("sz_a") * F.lit(t))
            & (F.col("sz_a") * F.lit(1.0) >= F.col("sz_b") * F.lit(t))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    if return_candidates:
        # audit/receipt hook (r8 Zipf-hot invariant): the pre-verify
        # candidate set, whose cardinality is the whole point of the
        # prefix filter — compared against the naive gram join's
        # candidate count on hot-token corpora in
        # tools/robustness_audit.py skew
        return cands
    sets = ordered.select(id_col, "_gs", "sz")
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cands.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("_gs").alias("_ga"),
                F.col("sz").alias("sz_a"),
            ),
            on="id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("_gs").alias("_gb"),
                F.col("sz").alias("sz_b"),
            ),
            on="id_b",
        )
        .select(
            "id_a",
            "id_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
    )


def cross_doc_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document exact-substring span detection (the fixed-window
    distributed form of Lee et al. 2022's ExactSubstr dedup, r8 —
    pytest-pinned; driver query dedup_substring_spans, registered r9): find every token
    span that appears VERBATIM in at least ``min_docs`` documents and
    return the per-document spans to cut, with overlapping/adjacent
    windows merged into maximal spans.

    Lee et al. build one giant suffix array — inherently sequential and
    memory-bound. The Spark-shaped equivalent slides a ``window_tokens``
    window over every document (one explode — O(tokens) rows of 64-bit
    window hashes + positions), keeps the window hashes whose DISTINCT
    doc count reaches ``min_docs`` (one map-side-combinable agg; the
    shuffle carries (hash, doc) pairs only), and merges each surviving
    document's hit windows with the classic gaps-and-islands pattern
    (lag + running max over per-doc position order — a per-doc window,
    cheap because hits are sparse). A span shared by k docs costs k
    window rows, never k² pairs. Fixed windows trade Lee et al.'s
    arbitrary-length maximality for one-pass distributability: any shared
    substring of ≥ ``window_tokens`` tokens is found (its windows all
    collide); shorter ones are below the dedup threshold by construction.

    Returns (id_col, span_start, span_end) — token offsets, end
    EXCLUSIVE, maximal merged spans per document.
    """
    toks = tokens(F.lower(F.col(text_col)))
    staged = (
        ensure_parallelism(df.select(id_col, text_col))
        .withColumn("_toks", toks)
        .filter(F.size("_toks") >= window_tokens)
    )
    wins = staged.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - window_tokens),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("_toks", i + 1, window_tokens))),
            )
        ).alias("pos", "whash"),
    )
    shared = (
        wins.groupBy("whash")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("whash")
    )
    hits = wins.join(shared, on="whash", how="left_semi").select(
        id_col, "pos", (F.col("pos") + window_tokens).alias("end")
    )
    # gaps-and-islands: a new island starts where this window begins past
    # the running max end of all previous windows (per doc, position order)
    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_max_end = F.max("end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "_new", F.when(F.col("pos") > F.coalesce(prev_max_end, F.lit(-1)), 1).otherwise(0)
    ).withColumn("_isl", F.sum("_new").over(w_ord))
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .drop("_isl")
        .select(id_col, "span_start", "span_end")
    )


def substring_span_suppress(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """APPLY the ExactSubstr cut list (the step after
    :func:`cross_doc_substring_spans` finds it — Lee et al. 2022 actually
    delete the shared bytes before training): per tokenized document,
    how many tokens the merged cross-doc spans remove and how many
    survive. → (``id_col``, n_tokens, cut_tokens, kept_tokens), one row
    per non-empty tokenized document; ``cut_tokens`` = Σ(span_end −
    span_start) over the document's maximal merged spans (maximal ⇒
    disjoint, so the sum IS the covered-token count — no inclusion-
    exclusion needed), 0 for documents with no shared span.

    This is the curation accounting every suppression run needs before
    committing a cut: corpus-level kept/cut totals are one aggregation
    away, and a doc whose kept_tokens collapses toward 0 is boilerplate
    to DROP outright rather than surgically trim. Scale shape: the span
    finder's own shape (O(tokens) window rows, (hash, doc) shuffle, per-
    doc sparse islands) plus one per-doc sum and one LEFT join of two
    doc-grained frames — nothing new shuffles at corpus grain."""
    spans = cross_doc_substring_spans(
        df, text_col, id_col, window_tokens, min_docs
    )
    cut = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start")).alias("_cut")
    )
    counts = (
        ensure_parallelism(df.select(id_col, text_col))
        .filter(F.col(text_col).isNotNull())
        .select(
            id_col,
            F.size(tokens(F.lower(F.col(text_col)))).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return (
        counts.join(cut, on=id_col, how="left")
        .select(
            id_col,
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("_cut", F.lit(0)).cast("long").alias("cut_tokens"),
            (F.col("n_tokens") - F.coalesce("_cut", F.lit(0)))
            .cast("long")
            .alias("kept_tokens"),
        )
    )
