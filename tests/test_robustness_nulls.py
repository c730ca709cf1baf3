"""NULL-input operator semantics — pins the fixes found by
``tools/robustness_audit.py nulls`` (round 6) with fast in-memory cases,
so a regression fails in the suite without needing the full audit sweep.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_tokenless_docs_produce_no_grams(spark):
    """NULL and empty/whitespace texts must yield NULL gram arrays (no
    near-dup candidates) — concat_ws's NULL-array→'' collapse previously
    merged them all into one bucket and fabricated O(n²) pairs. Short
    docs keep their single whole-text gram."""
    from datalake_nba_dmc_spark.operators.dedup import with_shingles

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, " \t\n "), (4, "one two"), (5, "a b c d")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["sh"] for r in with_shingles(df).collect()}
    assert rows[1] is None
    assert rows[2] is None
    assert rows[3] is None
    assert rows[4] == ["one two"]
    assert len(rows[5]) == 2  # 4 tokens, n=3 → two grams


def test_asof_join_ignores_null_timestamps_both_sides(spark):
    """A NULL-ts right row can govern nobody; a NULL-ts left row matches
    nothing. Previously both sorted NULLS FIRST into the partition head
    and the NULL-date right row was carried onto NULL-ts left rows."""
    from datalake_nba_dmc_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, None), (1, 11, "2024-01-02")], ["k", "lid", "lts"]
    ).select("k", "lid", F.col("lts").cast("timestamp").alias("lts"))
    right = spark.createDataFrame(
        [(1, 100, None), (1, 101, "2024-01-01")], ["k", "rid", "rts"]
    ).select("k", "rid", F.col("rts").cast("timestamp").alias("rts"))
    out = {
        r["lid"]: r["asof_rid"]
        for r in asof_join(
            left, right, key="k", left_ts="lts", right_ts="rts", right_cols=["rid"]
        ).collect()
    }
    assert out[10] is None  # NULL-ts left row: no fabricated match
    assert out[11] == 101  # real row matches the real (non-NULL) right row


def test_registrable_domain_null_host_is_null(spark):
    from datalake_nba_dmc_spark.operators.web import registrable_domain

    df = spark.createDataFrame(
        [(1, None), (2, "a.example.com"), (3, "bbc.co.uk")], ["i", "host"]
    )
    rows = {
        r["i"]: r["d"]
        for r in df.select("i", registrable_domain(F.col("host")).alias("d")).collect()
    }
    assert rows[1] is None
    assert rows[2] == "example.com"
    assert rows[3] == "bbc.co.uk"


def test_psi_binned_excludes_null_split_rows(spark):
    """Rows whose split predicate is NULL belong to NEITHER cohort —
    previously they formed bucket rows with NULL-skipped sums."""
    from datalake_nba_dmc_spark.operators.stats import psi_binned

    df = spark.createDataFrame(
        [(10.0, "a"), (10.0, "b"), (10.0, None)], ["v", "grp"]
    )
    out = psi_binned(
        df, split_col=F.col("grp") == "a", value_col="v", lo=0.0, hi=100.0, nbins=2
    ).collect()
    assert len(out) == 1
    assert out[0]["n_a"] == 1 and out[0]["n_b"] == 1  # NULL-grp row excluded


def test_repetition_signals_zero_fill_null_doc(spark):
    from datalake_nba_dmc_spark.operators.text import repetition_signals

    df = spark.createDataFrame([(1, None), (2, "x x")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert rows[1]["n_words"] == 0
    assert rows[1]["n_distinct_words"] == 0
    assert rows[1]["distinct_word_ratio"] == 0.0
    assert rows[2]["n_words"] == 2 and rows[2]["n_distinct_words"] == 1


def test_split_mmss_tolerates_malformed_input(spark):
    """No colon → (value, NULL) instead of an ANSI out-of-bounds error."""
    from datalake_nba_dmc_spark.operators import conform

    df = spark.createDataFrame([(1, "12:34"), (2, "junk"), (3, None)], ["i", "m"])
    mins, secs = conform.split_mmss("m")
    rows = {
        r["i"]: (r["mn"], r["sc"])
        for r in df.select("i", mins.alias("mn"), secs.alias("sc")).collect()
    }
    assert rows[1] == (12, 34)
    assert rows[2] == (None, None)  # 'junk' → cast('junk' as int) is NULL
    assert rows[3] == (None, None)


_CONTENTLESS = [(1, None), (2, ""), (3, " \t "), (4, "alpha beta gamma"),
                (5, "alpha beta gamma")]


def test_minhash_candidates_skip_contentless_docs(spark):
    """ADVICE r6 (medium): NULL shingle arrays previously banded into one
    shared bucket per band (xxhash64 skips NULL args), fabricating
    candidate links between docs with no content — only the downstream
    Jaccard verify hid it from minhash_dedup consumers. The candidate API
    itself must emit nothing for content-less docs."""
    from datalake_nba_dmc_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(_CONTENTLESS, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(df, shingle_n=2).collect()
    }
    assert pairs == {(4, 5)}  # only the real near-dup pair survives


def test_minhash_dedup_arrow_path_tolerates_null_docs(spark):
    """Token-less docs carry NULL grams; the NULL-sh filter must run
    BEFORE the signature stage, so only the real near-dup pair survives."""
    from datalake_nba_dmc_spark.operators.dedup import minhash_dedup

    df = spark.createDataFrame(_CONTENTLESS, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup(df, shingle_n=2, threshold=0.5).collect()
    }
    assert pairs == {(4, 5)}


def test_simhash_near_dups_skip_contentless_docs(spark):
    """ADVICE r6: NULL/empty/whitespace docs all reduce to fingerprint 0
    and hamming-verify at distance 0 — and this family has no content
    verify, so the fabricated edges reached the FINAL edge set. They must
    be excluded before banding (policy now matches the minhash family)."""
    from datalake_nba_dmc_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame(
        _CONTENTLESS + [(6, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    edges = {
        (r["id_a"], r["id_b"]) for r in simhash_near_dups(df).collect()
    }
    assert all(a not in (1, 2, 3) and b not in (1, 2, 3) for a, b in edges)
    assert (4, 5) in edges  # identical real docs still link


def test_banded_hash_edges_drop_null_fingerprints(spark):
    """Generic banding guard: a NULL fingerprint has nothing to compare and
    xxhash64 would collide all NULL-sig rows into one bucket per band."""
    from datalake_nba_dmc_spark.operators.dedup import banded_hash_edges

    sig = spark.createDataFrame(
        [(1, None), (2, None), (3, 7), (4, 7)], ["id", "sh"]
    ).select("id", F.col("sh").cast("long").alias("sh"))
    edges = {
        (r["id_a"], r["id_b"])
        for r in banded_hash_edges(sig, "id", "sh").collect()
    }
    assert edges == {(3, 4)}


def test_url_dedup_null_urls_stay_distinct(spark):
    """ADVICE r6: groupBy treats NULLs as equal, so docs with a missing URL
    collapsed into ONE keeper — each NULL-url row must key uniquely."""
    from datalake_nba_dmc_spark.operators.web import url_exact_dedup

    df = spark.createDataFrame(
        [
            (1, None),
            (2, None),
            (3, "https://a.example.com/x"),
            (4, "https://a.example.com/x/"),
        ],
        ["doc_id", "url"],
    )
    out = url_exact_dedup(df).collect()
    keepers = sorted(r["keeper_id"] for r in out)
    assert keepers == [1, 2, 3]  # 1 and 2 survive separately; 4 deduped into 3
    by_keeper = {r["keeper_id"]: r for r in out}
    assert by_keeper[1]["n_dups"] == 1 and by_keeper[2]["n_dups"] == 1
    assert by_keeper[1]["canonical_url"] == "__nourl__:1"
    assert by_keeper[3]["n_dups"] == 2


def test_audio_headers_payload_only_frame(spark):
    """ADVICE r6: a payload-only input produced a leading-comma schema
    string and crashed mapInPandas schema parsing."""
    from datalake_nba_dmc_spark.operators.multimodal import extract_audio_headers

    df = spark.createDataFrame([(bytearray(b"notawav"),)], ["payload"])
    rows = extract_audio_headers(df).collect()
    assert len(rows) == 1
    assert rows[0]["format"] is None or rows[0]["format"] != "wav"


def test_bounded_query_caches_are_released(spark):
    """ADVICE r6: the bounded-query guard accumulated never-unpersisted
    checkpoint blocks for the session lifetime. The guard now registers a
    persisted (lineage-retaining) frame and exposes explicit cleanup."""
    from datalake_nba_dmc_spark.operators import similarity as S

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame([(0, [1.0, 0.5])], ["query_id", "embedding"])
    S.release_bounded_query_caches()  # start clean
    out = S.brute_force_topk(corpus, queries, k=3)
    assert out.count() == 3
    assert len(S._BOUNDED_QUERY_CACHES) == 1
    assert S.release_bounded_query_caches() == 1
    assert S._BOUNDED_QUERY_CACHES == []
