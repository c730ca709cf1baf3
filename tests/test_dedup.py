"""Unit tests: dedup operators (exact, shingles, MinHash+LSH, Jaccard, SimHash)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_nba_dmc_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signature,
    shingles,
    simhash,
    simhash_near_dups,
)

DOC = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = DOC.replace("lazy", "sleepy")  # one-word change
OTHER = "completely different content about spark distributed query engines here"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, DOC), (2, DOC), (3, NEAR), (4, OTHER)], ["doc_id", "text"]
    )


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(5, "Hello  World"), (2, "hello world"), (9, "other")], ["doc_id", "text"]
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [2, 9]  # normalized dup group keeps min id


def test_shingles_basic_and_short_text(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    out = df.select(shingles("text", 3).alias("sh")).collect()
    assert sorted(out[0]["sh"]) == ["a b c", "b c d"]
    assert out[1]["sh"] == ["a b"]  # fewer tokens than n → whole text


def test_minhash_signature_deterministic_and_sized(spark):
    df = spark.createDataFrame([(DOC,), (DOC,), (OTHER,)], ["text"])
    sigs = df.select(
        minhash_signature(shingles("text"), num_hashes=16).alias("sig")
    ).collect()
    assert len(sigs[0]["sig"]) == 16
    assert sigs[0]["sig"] == sigs[1]["sig"]  # same text → same signature
    assert sigs[0]["sig"] != sigs[2]["sig"]


def test_minhash_dedup_both_paths_agree(docs):
    from datalake_nba_dmc_spark.operators.dedup import minhash_dedup

    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup(docs).collect()}
    assert (1, 2) in pairs


def test_minhash_lsh_finds_dups_not_unrelated(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert all(a < b for a, b in pairs)
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated doc


def test_jaccard_pairs_exact_value(spark, docs):
    pairs = spark.createDataFrame([(1, 2), (1, 4)], ["id_a", "id_b"])
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, pairs).collect()
    }
    assert out[(1, 2)] == pytest.approx(1.0)
    assert out[(1, 4)] == pytest.approx(0.0)


def test_simhash_identical_zero_distance(spark):
    df = spark.createDataFrame([(DOC,), (DOC,), (OTHER,)], ["text"])
    hs = [r["h"] for r in df.select(simhash("text").alias("h")).collect()]
    assert hs[0] == hs[1]
    assert hs[0] != hs[2]


def test_simhash_near_text_small_distance(spark):
    df = spark.createDataFrame([(DOC, NEAR)], ["a", "b"])
    d = df.select(
        hamming64(simhash("a"), simhash("b")).alias("d")
    ).first()["d"]
    assert 0 < d <= 16  # one word changed → few bits flip


def test_hamming64_known_values(spark):
    df = spark.createDataFrame([(0, 7), (-1, 0)], "x long, y long")
    out = [r["d"] for r in df.select(hamming64(F.col("x"), F.col("y")).alias("d")).collect()]
    assert out == [3, 64]


def test_simhash_near_dups_pipeline(docs):
    out = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(docs, max_hamming=16).collect()}
    assert (1, 2) in out
    assert (3, 4) not in out and (1, 4) not in out


def test_simhash_near_dups_star_edges_not_quadratic(spark):
    """Identical docs land in one bucket: star edges emit N-1 edges from the
    bucket min, never the N(N-1)/2 of a within-bucket self-join."""
    df = spark.createDataFrame([(i, DOC) for i in range(1, 9)], ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(df, max_hamming=0).collect()}
    assert out == {(1, i) for i in range(2, 9)}


def test_simhash_star_clusters_match_allpairs(spark, docs):
    """Connected components over star edges equal the duplicate groups an
    all-pairs edge set would produce (transitivity through the bucket min)."""
    from datalake_nba_dmc_spark.operators.dedup import connected_components

    star = simhash_near_dups(docs, max_hamming=16).select("id_a", "id_b")
    comps = {r["id"]: r["comp"] for r in connected_components(star).collect()}
    assert comps[1] == comps[2] == 1  # identical docs: one group, min-id label
    assert 4 not in comps  # OTHER shares no band bucket


def test_simhash_arrow_matches_expression(spark):
    from datalake_nba_dmc_spark.operators.dedup import with_simhash

    # None included: a NULL text must give the reference's fingerprint
    # (0) — the Arrow reducer used to TypeError on it
    texts = [(i, t) for i, t in enumerate([DOC, NEAR, OTHER, "", "one", DOC * 3, None])]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    arrow = {
        r["doc_id"]: r["sh"]
        for r in with_simhash(df).select("doc_id", "sh").collect()
    }
    expr = {
        r["doc_id"]: r["sh"]
        for r in df.select("doc_id", simhash("text").alias("sh")).collect()
    }
    assert arrow == expr


def test_connected_components_chain_and_pair(spark):
    from datalake_nba_dmc_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5), (8, 7)], "id_a long, id_b long"
    )
    comps = {r.id: r.comp for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 7}


def test_connected_components_star_matches_propagation(spark):
    """Star CC is bit-identical to min-label CC on crafted and seeded
    random graphs (the registered-query equivalence law)."""
    import random

    from datalake_nba_dmc_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    crafted = [(1, 2), (2, 3), (3, 4), (6, 5), (8, 7)]
    rng = random.Random(42)
    cases = [crafted]
    for n, m in [(30, 25), (50, 80), (12, 40)]:
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    for pairs in cases:
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        want = sorted(
            (r.id, r.comp) for r in connected_components(edges).collect()
        )
        got = sorted(
            (r.id, r.comp)
            for r in connected_components_star(edges).collect()
        )
        assert got == want and len(got) > 0


def test_connected_components_star_chain_logarithmic(spark):
    """The scale motivation, demonstrated: a 200-link chain converges
    under star alternation within 12 rounds (O(log n)), where 12 rounds
    of min-label propagation provably under-merge (O(diameter))."""
    from pyspark.sql import functions as F

    from datalake_nba_dmc_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    star = connected_components_star(edges, max_iter=12)
    assert star.filter(F.col("comp") != 0).count() == 0
    assert star.count() == n + 1
    prop = connected_components(edges, max_iter=12)
    assert prop.filter(F.col("comp") != 0).count() > 0


def test_connected_components_star_empty_and_self_loops(spark):
    from datalake_nba_dmc_spark.operators.dedup import (
        connected_components_star,
    )

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).collect() == []
    loops = spark.createDataFrame(
        [(3, 3), (4, 4), (1, 2)], "id_a long, id_b long"
    )
    got = sorted(
        (r.id, r.comp) for r in connected_components_star(loops).collect()
    )
    assert got == [(1, 1), (2, 1)]


def test_dedup_clusters_representatives(spark):
    from datalake_nba_dmc_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    out = {r.doc_id: (r.cluster_id, r.is_representative) for r in dedup_clusters(docs, pairs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 4: (1, False),
        3: (3, True), 5: (5, True), 6: (6, True),
    }


def test_contamination_hits(spark):
    from datalake_nba_dmc_spark.operators.dedup import contamination_hits

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # shares 3-grams
            (2, "completely unrelated text with no overlap at all"),
            (3, "quick brown fox leaps"),  # shares exactly one 3-gram
            (4, "short doc"),  # <3 tokens → whole-text gram, no match
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps high")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_hits for r in contamination_hits(corpus, bench).collect()}
    # bench 3-grams: {watch the quick, the quick brown, quick brown fox,
    #                 brown fox jumps, fox jumps high}
    # doc 1 shares: the quick brown, quick brown fox, brown fox jumps → 3
    # doc 3 shares: quick brown fox → 1
    assert got == {1: 3, 3: 1}


def test_contamination_hits_broadcasts_benchmark(spark):
    from datalake_nba_dmc_spark.operators.dedup import contamination_hits

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma epsilon")], "doc_id long, text string"
    )
    plan = contamination_hits(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_admission(spark):
    from datalake_nba_dmc_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "The quick  brown fox jumps over the lazy dog"),  # exact dup (normalized)
            (11, "the quick brown fox jumps over the lazy cat today"),  # near dup of corpus 1
            (12, "completely novel text with no overlap whatsoever at all"),
            (13, "completely novel text with no overlap whatsoever at all friend"),  # near dup of 12
            (14, "unrelated fresh content mentioning nothing previously seen"),
        ],
        "doc_id long, text string",
    )
    got = sorted(r.doc_id for r in incremental_dedup(corpus, batch).collect())
    assert got == [12, 14]


def test_incremental_dedup_repeated_batch_ids_deterministic(spark):
    """Batch rows that repeat an id AND share a fingerprint (a
    re-delivered row, re-cased or re-spaced, with different side
    columns) resolve to ONE winner chosen by column values, not by
    arrival order: two partition layouts, fed the rows in opposite
    orders, return identical output."""
    from datalake_nba_dmc_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "an unrelated corpus document", "c")],
        "doc_id long, text string, source string",
    )
    rows = [
        (7, "hello world again here today", "b"),
        (7, "Hello   World again here today", "c"),
        (7, "hello world AGAIN here today", "a"),
        (8, "some other fresh text entirely new", "x"),
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    outs = []
    try:
        for parts, inparts, order in ((3, 1, rows), (64, 7, rows[::-1])):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            batch = spark.createDataFrame(
                order, "doc_id long, text string, source string"
            ).repartition(inparts)
            outs.append(
                sorted(tuple(r) for r in incremental_dedup(corpus, batch).collect())
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert outs[0] == outs[1]
    # the winner is the smallest (text, source) among the id-7 rows
    assert outs[0] == [
        (7, "Hello   World again here today", "c"),
        (8, "some other fresh text entirely new", "x"),
    ]


def test_incremental_dedup_hot_gram_bounded(spark):
    """A gram shared by 1000 batch docs must not go quadratic (VERDICT r3
    #5): the fanout cap keeps only the earliest ids on the pair join's
    left, so the hot gram yields O(cap·k) pairs — and a genuine near-dup
    of the LOWEST-id hot doc is still caught, because early ids survive
    the cap."""
    from datalake_nba_dmc_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "seed corpus document sharing nothing with the batch")],
        "doc_id long, text string",
    )
    rows = [(100 + i, f"common boiler plate u{i} v{i} w{i} x{i} y{i}") for i in range(1000)]
    rows.append((5000, "common boiler plate u0 v0 w0 x0 z0"))  # near-dup of doc 100
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r.doc_id
        for r in incremental_dedup(corpus, batch, gram_fanout_cap=8).collect()
    )
    assert 5000 not in got  # caught despite the cap (J(100, 5000) = 5/7)
    assert got == [100 + i for i in range(1000)]  # pairwise J = 1/11 → all admitted


def test_incremental_dedup_null_text_dropped(spark):
    """NULL-text batch rows are dropped up front — pins Spark's join-key
    semantics to the oracle's NOT IN semantics (ADVICE r3)."""
    from datalake_nba_dmc_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "some corpus text"), (2, None)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, None), (11, "a brand new document")], "doc_id long, text string"
    )
    got = sorted(r.doc_id for r in incremental_dedup(corpus, batch).collect())
    assert got == [11]


def test_incremental_cap_recounts_pairs_exactly(spark):
    """A capped batch-internal join may only affect candidate RECALL,
    never the Jaccard of a found pair: a near-dup pair whose shared
    boilerplate grams rank its lower id past the cap must still be
    counted against the docs' FULL gram sets (an undercounted
    intersection would wrongly admit the duplicate)."""
    from datalake_nba_dmc_spark.operators.dedup import incremental_dedup

    boiler = "alpha beta gamma delta"  # 2 shingles, shared by everyone
    filler = [
        (i, f"{boiler} u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
        for i in range(20)
    ]
    tail = "same same2 same3 same4 same5 same6 same7 same8"
    dup_pair = [(100, f"{boiler} {tail}"), (101, f"{boiler} {tail}")]
    batch = spark.createDataFrame(filler + dup_pair, ["doc_id", "text"])
    corpus = spark.createDataFrame([], "doc_id long, text string")

    capped = incremental_dedup(
        corpus, batch, threshold=0.75, gram_fanout_cap=2
    )
    uncapped = incremental_dedup(
        corpus, batch, threshold=0.75, gram_fanout_cap=None
    )
    got_capped = sorted(r["doc_id"] for r in capped.collect())
    got_uncapped = sorted(r["doc_id"] for r in uncapped.collect())
    assert got_capped == got_uncapped  # cap must not change decisions here
    assert 100 in got_capped and 101 not in got_capped  # exact dup dropped


def test_repeated_ngram_spans_crafted(spark):
    """Lee-et-al-style repeated-substring spans on crafted repeats: a
    6-token phrase shared by docs 0/1 (at different offsets), with n=3 —
    every one of its four 3-grams repeats, so each doc gets ONE merged
    span exactly covering the phrase; unique text never enters a span;
    a doc shorter than n yields nothing."""
    from datalake_nba_dmc_spark.operators.dedup import repeated_ngram_spans

    phrase = "the quick brown fox jumps high"
    df = spark.createDataFrame(
        [
            (0, f"{phrase} unique tail zero alpha beta"),
            (1, f"leading words here then {phrase}"),
            (2, "completely different text with no overlap at all"),
            (3, "tiny"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_grams"])
        for r in repeated_ngram_spans(df, n=3, min_count=2).collect()
    }
    # doc 0: phrase at tokens [0, 6); doc 1: at [4, 10); 4 grams each
    assert got == {0: (0, 6, 4), 1: (4, 10, 4)}


def test_repeated_ngram_spans_within_doc_and_adjacent_merge(spark):
    """min_count counts occurrences, not documents: a phrase repeated
    twice INSIDE one doc is a repeat; back-to-back repeats merge into one
    contiguous span (adjacent intervals coalesce)."""
    from datalake_nba_dmc_spark.operators.dedup import repeated_ngram_spans

    df = spark.createDataFrame(
        [(0, "spam ham eggs spam ham eggs tail word")],
        ["doc_id", "text"],
    )
    # 3-grams: "spam ham eggs" occurs at pos 0 and 3 -> spans [0,3) U [3,6)
    # merge to [0,6); the bridging grams at pos 1,2 ("ham eggs spam",
    # "eggs spam ham") occur once and are NOT part of the repeat set.
    rows = repeated_ngram_spans(df, n=3, min_count=2).collect()
    assert [(r["span_start"], r["span_end"]) for r in rows] == [(0, 6)]


def test_mask_repeated_spans_strips_only_spans(spark):
    from datalake_nba_dmc_spark.operators.dedup import mask_repeated_spans

    phrase = "one two three four five six"
    df = spark.createDataFrame(
        [
            (0, f"{phrase} keep me please today"),
            (1, f"{phrase} other unique ending words"),
            (2, "untouched document stays whole forever"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["masked_text"], r["n_tokens_removed"])
        for r in mask_repeated_spans(df, n=3, min_count=2).collect()
    }
    assert got[0] == ("keep me please today", 6)
    assert got[1] == ("other unique ending words", 6)
    assert got[2] == ("untouched document stays whole forever", 0)


def test_mask_repeated_spans_null_text_passthrough(spark):
    """NULL text must stay NULL (not become an empty string) and count
    zero removed tokens; NULL rows contribute no grams to the repeat
    statistics."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datalake_nba_dmc_spark.operators.dedup import mask_repeated_spans

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None), (2, "alpha beta gamma delta")],
        schema,
    )
    got = {
        r["doc_id"]: (r["masked_text"], r["n_tokens_removed"])
        for r in mask_repeated_spans(df, n=3, min_count=2).collect()
    }
    assert got[1] == (None, 0)
    assert got[0] == ("", 4) and got[2] == ("", 4)  # fully-duplicated docs


def test_paragraph_dedup_crafted(spark):
    """CCNet paragraph dedup: shared 3-token paragraphs keep only their
    first (doc_id, para_idx) occurrence; documents are reconstructed from
    surviving paragraphs in original order; NULL text → empty clean doc."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datalake_nba_dmc_spark.operators.dedup import paragraph_dedup

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),  # paras: "a b c", "d e f" — both first
            (2, "a b c x y z"),  # "a b c" repeated → keeps only "x y z"
            (3, "d e f"),  # wholly duplicated → clean_text ''
            (4, "p q r s"),  # remainder para "s" (1 token)
            (5, None),
        ],
        schema,
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_paras"], r["n_kept"])
        for r in paragraph_dedup(df, para_tokens=3).collect()
    }
    assert got[1] == ("a b c d e f", 2, 2)
    assert got[2] == ("x y z", 2, 1)
    assert got[3] == ("", 1, 0)
    assert got[4] == ("p q r s", 2, 2)
    assert got[5] == ("", 0, 0)


def test_paragraph_dedup_within_doc_repeat(spark):
    """A paragraph repeated WITHIN one document keeps only its first
    occurrence (min para_idx)."""
    from datalake_nba_dmc_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame([(7, "a b c a b c d e f")], ["doc_id", "text"])
    row = paragraph_dedup(df, para_tokens=3).collect()[0]
    assert (row["clean_text"], row["n_paras"], row["n_kept"]) == ("a b c d e f", 3, 2)


def test_prefix_filter_ssjoin_equals_naive(spark):
    """Prefix filtering must lose NO pair: compare against a brute-force
    all-pairs Jaccard join on a corpus crafted with near-dups, exact dups,
    disjoint docs, short docs, and NULL/empty texts."""
    from itertools import combinations

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from datalake_nba_dmc_spark.operators.dedup import prefix_filter_ssjoin, shingles

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    corpus = [
        (1, DOC),
        (2, DOC),  # exact dup of 1
        (3, NEAR),  # one-token change
        (4, OTHER),
        (5, "the quick brown fox jumps over the lazy dog near the river"),
        (6, "a b"),  # short doc (single whole-text gram)
        (7, "a b"),  # its exact dup
        (8, None),
        (9, ""),
    ]
    df = spark.createDataFrame(corpus, schema)
    for t in (0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_filter_ssjoin(df, threshold=t).collect()
        }
        # brute force on the same shingle definition
        sets = {
            r["doc_id"]: set(r["sh"] or [])
            for r in df.select("doc_id", shingles("text").alias("sh")).collect()
        }
        want = {}
        for a, b in combinations(sorted(sets), 2):
            sa, sb = sets[a], sets[b]
            if sa and sb:
                j = len(sa & sb) / len(sa | sb)
                if j >= t:
                    want[(a, b)] = j
        assert got == want, f"threshold {t}: {got} != {want}"


def test_simhash_near_dups_whitespace_only_docs_emit_no_edges(spark):
    """r7 ADVICE: Spark trim strips only 0x20, so '\\t'- and '\\n'-only docs
    used to slip past drop_empty, fingerprint to 0, and fabricate a
    hamming-0 edge between two documents with no content to compare. The
    regexp-based token-less predicate must exclude every whitespace class."""
    df = spark.createDataFrame(
        [(1, "\t"), (2, "\n"), (3, " \t\n "), (4, DOC), (5, DOC)],
        ["doc_id", "text"],
    )
    out = {(r["id_a"], r["id_b"]) for r in simhash_near_dups(df, max_hamming=0).collect()}
    assert out == {(4, 5)}  # real dups only; no edges among docs 1-3


def test_contamination_hits_bloom_no_false_negatives(spark):
    """Bloom decontamination (r8): every doc the exact gram check flags
    must be flagged by the Bloom screen with at least as many hits (no
    false negatives — the filter never drops a member); the sketch is a
    deterministic bit-OR aggregate, so two runs agree."""
    from datalake_nba_dmc_spark.operators.dedup import (
        contamination_hits,
        contamination_hits_bloom,
    )

    bench = spark.createDataFrame(
        [("what is the capital of france",), ("compute the sum of squares",)],
        ["text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "the capital of france is paris said the model"),
            (2, "sum of squares computations appear in compute the sum of squares"),
            (3, "a completely unrelated document about gardening tools"),
            (4, "another clean doc with its own private vocabulary entirely"),
        ],
        ["doc_id", "text"],
    )
    exact = {r["doc_id"]: r["n_hits"] for r in contamination_hits(corpus, bench).collect()}
    bloom = {
        r["doc_id"]: r["n_hits_bloom"]
        for r in contamination_hits_bloom(corpus, bench).collect()
    }
    assert set(exact) == {1, 2}
    for d, n_exact in exact.items():
        assert bloom.get(d, 0) >= n_exact, d
    # determinism of the screen
    bloom2 = {
        r["doc_id"]: r["n_hits_bloom"]
        for r in contamination_hits_bloom(corpus, bench).collect()
    }
    assert bloom2 == bloom
    # at these sizes the 1%-FPR sketch should not flag the clean docs
    assert 3 not in bloom and 4 not in bloom


def test_cross_doc_substring_spans_finds_and_merges(spark):
    """Cross-doc ExactSubstr spans (r8): shared >= window-length runs are
    found in EVERY carrier doc, overlapping windows merge to one maximal
    span (gaps-and-islands), within-doc-only repeats and short overlaps
    stay below threshold, disjoint shared runs yield separate spans."""
    from datalake_nba_dmc_spark.operators.dedup import cross_doc_substring_spans

    shared = "one two three four five six seven eight nine ten"  # 10 tokens
    other = "alpha beta gamma delta epsilon zeta eta theta"      # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail1 x y z"),
            (2, f"lead2 a b {shared}"),
            (3, f"{other} mid1 mid2 {other}"),   # repeats only WITHIN doc 3
            (4, "totally different words with no overlap at all here"),
            (5, f"pre {other} gap1 gap2 gap3 {shared}"),
            (6, f"{other} solo"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in cross_doc_substring_spans(docs, window_tokens=8).collect()
    }
    by_doc = {}
    for d, a, b in spans:
        by_doc.setdefault(d, []).append((a, b))
    # doc 1: shared occupies tokens 0..10 → ONE merged span
    assert by_doc[1] == [(0, 10)]
    # doc 2: shared at tokens 3..13
    assert by_doc[2] == [(3, 13)]
    # doc 3's within-doc repeat of `other` IS cross-doc shared with 5 and 6
    assert sorted(by_doc[3]) == [(0, 8), (10, 18)]
    # doc 4: clean
    assert 4 not in by_doc
    # doc 5: two DISJOINT shared runs → two spans, not one
    assert sorted(by_doc[5]) == [(1, 9), (12, 22)]
    assert by_doc[6] == [(0, 8)]


def test_containment_pairs_asymmetric(spark):
    """Containment catches a short doc embedded in a long host (Jaccard
    misses it): C(short→host) ~ 1, C(host→short) small; identical docs
    yield both directions at 1.0."""
    short = "alpha beta gamma delta epsilon zeta"
    host = short + " " + " ".join(f"filler{i} pad{i} more{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, short), (2, host), (3, short), (4, "totally unrelated words here")],
        ["doc_id", "text"],
    )
    from datalake_nba_dmc_spark.plans.curation import containment_pairs

    got = {
        (r.id_a, r.id_b): round(r.containment, 6)
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    # 1 and 3 are identical -> both directions at 1.0; each is contained
    # in the host 2; the host is contained in nothing; 4 pairs with none
    assert got[(1, 3)] == 1.0 and got[(3, 1)] == 1.0
    assert got[(1, 2)] == 1.0 and got[(3, 2)] == 1.0
    assert set(got) == {(1, 3), (3, 1), (1, 2), (3, 2)}

    # jaccard at the same threshold structurally misses the embedding
    from datalake_nba_dmc_spark.plans.curation import near_dup_pairs_exact

    jac = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs_exact(docs, threshold=0.8).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_containment_set_semantics_caps_at_one(spark):
    """Broder SET semantics pin (ADVICE r9 follow-up): grams are
    array_distinct'd BEFORE the size capture and explode, so a shingle
    occurring j times in A and k times in B contributes 1 to the
    intersection, not j*k — containment never exceeds 1.0 even for a
    pathologically repetitive host, and a repeated doc is exactly
    containment-1.0 equivalent to its single-copy twin."""
    from pyspark.sql import functions as F

    from datalake_nba_dmc_spark.plans.curation import (
        containment_pairs,
        sized_gram_rows,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(["a b c"] * 50)),  # 150 tokens, 3 distinct 3-grams
            (2, "a b c a b c"),
            (3, "x y z"),
        ],
        ["doc_id", "text"],
    )
    sg = (
        sized_gram_rows(docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.first("sz").alias("sz"),
            F.count_distinct("gram").alias("nd"),
        )
        .collect()
    )
    # one row per DISTINCT gram; sz is the distinct count
    assert all(r.n_rows == r.sz == r.nd for r in sg)
    assert {r.doc_id: r.sz for r in sg} == {1: 3, 2: 3, 3: 1}
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(docs, threshold=0.0).collect()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}
    assert max(got.values()) <= 1.0
