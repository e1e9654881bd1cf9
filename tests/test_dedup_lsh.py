"""LSH-bucketed embedding near-dup: precision exact, recall vs O(n^2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from thecrowler_spark.operators.dedup import embedding_near_dups, embedding_near_dups_lsh

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_neardup_subset_and_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(F.col("vec_id") < 200)
    emb = emb.withColumn("embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    # the natural fixture is random vectors with no pairs above 0.8 —
    # plant near-duplicates (copy with last coordinate nudged) so the
    # recall assertion is exercised, never vacuous
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.concat(
            F.slice(F.col("embedding"), 1, 63),
            F.array(F.element_at(F.col("embedding"), 64) + F.lit(0.05)),
        ).alias("embedding"),
        "label",
    )
    emb = emb.unionByName(planted)
    exact = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(emb, threshold=0.8).collect()}
    assert len(exact) >= 10, "planted near-dups must make the exact pair set non-empty"
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_lsh(emb, threshold=0.8, bits=6, tables=8).collect()
    }
    # precision is exact: every reported pair passes the true threshold
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.7, f"recall {recall} over {len(exact)} true pairs"


def test_ngram_hot_shingle_cap(spark):
    """The shingle-frequency cap must kill the hot join key without
    losing true near-dups that share any non-boilerplate shingle."""
    import pyspark.sql.functions as F

    from thecrowler_spark.operators.dedup import doc_shingles, ngram_jaccard_pairs

    boiler = "all rights reserved site"  # 4 tokens → hot shingles in EVERY doc
    rows = [(i, f"{boiler} unique doc number {i} content token{i}") for i in range(20)]
    rows += [(100, f"{boiler} the quick brown fox jumps high"),
             (101, f"{boiler} the quick brown fox jumps low")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_freq=5)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in pairs  # true near-dup found via non-hot shingles
    # boilerplate-only overlap must NOT pair everything with everything
    assert all(a in (100,) or a >= 100 or (a, b) == (100, 101) for a, b in pairs) or len(pairs) < 20
    # the hot shingles really are gone from the join input
    sh = doc_shingles(docs)
    hot_df = sh.groupBy("shingle").count().filter(F.col("count") > 5).count()
    assert hot_df > 0  # the fixture does contain hot shingles


def test_embedding_neardup_guard(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.dedup import embedding_near_dups

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="O\\(n\\²\\)|max_rows"):
        embedding_near_dups(emb, max_rows=10)
    # under the cap (or opted out) it runs
    assert embedding_near_dups(emb.limit(5), threshold=0.99).count() >= 0


def test_connected_components_goldens(spark):
    """Min-label components: a 4-chain (diameter > 1 round), a triangle,
    and an isolated pair — component id = min member."""
    from thecrowler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain 10-11-12-13
         (20, 21), (21, 22), (20, 22),   # triangle
         (30, 31)],                      # pair
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20, 22: 20,
                   30: 30, 31: 30}


def test_verify_pairs_jaccard_kills_false_positives(spark):
    """LSH candidates include false positives (a band collision carries
    little Jaccard signal at few hashes per band); verify_pairs_jaccard
    must keep only pairs whose TRUE shingle Jaccard clears the
    threshold, exactly matching ngram_jaccard_pairs on the same docs."""
    from thecrowler_spark.operators.dedup import (
        ngram_jaccard_pairs,
        verify_pairs_jaccard,
    )

    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank under a pale morning sky while birds circle")
    rows = [
        (1, base + " version alpha"),
        (2, base + " version bravo"),             # near-dup of 1
        (3, "a wholly different essay on spark shuffle planning with "
            "unique vocabulary everywhere no overlap at all here"),
        (4, "another unrelated text about cooking pasta with garlic "
            "and olive oil in a heavy iron pan over low heat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # feed EVERY ordered pair as a 'candidate' — simulates worst-case
    # LSH over-generation — verification must recover the true pairs
    cand = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "id_a long, id_b long",
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in verify_pairs_jaccard(docs, cand, threshold=0.5).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got == want
    assert {(a, b) for a, b, _ in got} == {(1, 2)}


def test_verify_pairs_jaccard_drops_zero_overlap_pairs(spark):
    """A candidate pair with no shared shingle is not a near-duplicate
    at any threshold: with threshold 0 only the overlapping pair comes
    back, never a zero-overlap pair at jaccard 0."""
    from thecrowler_spark.operators.dedup import verify_pairs_jaccard

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six"),
            (2, "one two three four seven eight"),
            (3, "nine ten eleven twelve thirteen fourteen"),
        ],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "id_a long, id_b long")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verify_pairs_jaccard(docs, cand, threshold=0.0).collect()
    }
    # docs 1 and 2 share 2 of 6 distinct 3-shingles
    assert got == {(1, 2): round(2 / 6, 6)}


def test_winnow_pairs_planted_shared_run(spark):
    """Winnowing guarantee: two docs sharing a ≥ w+k−1-token run share
    ≥1 fingerprint → the pair is found; unrelated docs are not paired;
    the hot-fingerprint cap kills corpus-wide boilerplate pairs."""
    from thecrowler_spark.operators.dedup import winnow_pairs

    run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens ≥ 6
    rows = [
        (1, "unique opening one " + run + " unique tail one"),
        (2, "different prologue two " + run + " other ending two"),
        (3, "totally unrelated text about pasta and olive oil in pans"),
        (4, "another unrelated essay on shuffle partitions and codegen"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_pairs(docs, k=3, w=4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all({a, b} == {1, 2} for a, b in pairs)

    # boilerplate in EVERY doc + cap → the all-pairs explosion is killed
    boiler = " all rights reserved contact us terms of service apply"
    docs2 = spark.createDataFrame(
        [(i, f"doc number {i} body token{i} filler{i}" + boiler) for i in range(12)],
        "doc_id long, text string",
    )
    capped = winnow_pairs(docs2, k=3, w=4, max_fp_freq=5)
    assert capped.count() == 0  # shared fps were all hot → dropped


def test_winnow_token_cap_property(spark):
    """10⁶-token doc: the cap bounds the materialized arrays and the
    fingerprints equal those of the truncated prefix (no OOM, no drift
    below the cap)."""
    from pyspark.sql import functions as F

    from thecrowler_spark.functions.text import winnow_fingerprints

    big = " ".join(f"w{i % 97}x{i % 89}" for i in range(1_000_000))
    prefix = " ".join(big.split()[:5_000])
    df = spark.createDataFrame([(1, big), (2, prefix)], "id long, t string")
    out = df.select(
        "id",
        F.sort_array(winnow_fingerprints(F.col("t"), k=3, w=4, max_tokens=5_000)).alias("f"),
    ).collect()
    fps = {r["id"]: r["f"] for r in out}
    assert fps[1] == fps[2]          # capped big doc ≡ its 5k-token prefix
    assert 0 < len(fps[1]) <= 5_000


def test_repeated_span_dedup_planted(spark):
    """Exact-substring span dedup: a shared 8-token run planted in two
    docs is removed from BOTH (no canonical copy kept), unique text
    survives untouched, and short docs (< w tokens) pass through."""
    from thecrowler_spark.operators.dedup import repeated_span_dedup, repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"unique one prefix {shared} unique one suffix tail"),
        (2, f"second doc intro {shared} second doc outro words"),
        (3, "completely different text with no repeats at all here"),
        (4, "tiny doc"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repeated_span_dedup(docs, w=8, max_count=1).collect()}

    assert len(out) == 5
    for d in (1, 2):
        for tok in shared.split():
            assert tok not in out[d]["text_clean"].split(), (d, tok)
        assert out[d]["n_removed"] == 8
    assert out[1]["text_clean"] == "unique one prefix unique one suffix tail"
    assert out[2]["text_clean"] == "second doc intro second doc outro words"
    assert out[3]["text_clean"] == rows[2][1] and out[3]["n_removed"] == 0
    assert out[4]["text_clean"] == "tiny doc" and out[4]["n_tokens"] == 2
    assert out[5]["text_clean"] == "" and out[5]["n_tokens"] == 0

    marks = repeated_spans(docs, w=8, max_count=1).collect()
    assert {(r["doc_id"], r["gpos"]) for r in marks} == {(1, 3), (2, 3)}


def test_repeated_span_dedup_overlapping_spans_merge(spark):
    """Overlapping repeated windows union their covered positions: a
    9-token shared run yields two marked 8-gram starts whose covered
    sets merge to exactly 9 removed tokens."""
    from thecrowler_spark.operators.dedup import repeated_span_dedup

    shared = "a1 b2 c3 d4 e5 f6 g7 h8 i9"  # 9 tokens -> grams at offsets 0,1
    docs = spark.createDataFrame(
        [(1, f"x {shared} y"), (2, f"p q {shared} r")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repeated_span_dedup(docs, w=8, max_count=1).collect()}
    assert out[1]["text_clean"] == "x y" and out[1]["n_removed"] == 9
    assert out[2]["text_clean"] == "p q r" and out[2]["n_removed"] == 9


def test_connected_components_star_matches_minlabel(spark):
    """large-star/small-star ≡ min-label propagation on a seeded random
    graph (cross-validation of two independent algorithms)."""
    import random

    from thecrowler_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    minlabel = {(r["id"], r["component"]) for r in connected_components(df).collect()}
    star = {(r["id"], r["component"]) for r in connected_components_star(df).collect()}
    assert star == minlabel


def test_connected_components_star_long_chain(spark):
    """A 200-link chain: min-label needs O(diameter)=200 rounds (its
    default max_iter=25 leaves it UNconverged), large-star/small-star
    collapses it in O(log n) — every node labels to 0."""
    from thecrowler_spark.operators.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    out = connected_components_star(df, max_iter=15).collect()
    assert len(out) == 201
    assert all(r["component"] == 0 for r in out)
