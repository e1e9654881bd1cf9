"""Partitioned cuckoo filter: no false negatives, tiny FPR, exact
dedup identity, and the deletion path a bloom filter cannot provide."""

from __future__ import annotations

from pyspark.sql import functions as F

from thecrowler_spark.operators import cuckoo as CK

N_BUCKETS = 8


def _keys(spark, lo, hi, tag="u"):
    return spark.range(lo, hi).select(
        F.concat(F.lit(f"https://h"), (F.col("id") % 13).cast("string"),
                 F.lit(f".example.com/{tag}"), F.col("id").cast("string")).alias("norm_url")
    )


def test_no_false_negatives_and_low_fpr(spark):
    seen = _keys(spark, 0, 5000)
    ck = CK.build_cuckoo(seen, n_buckets=N_BUCKETS).persist()
    # every inserted key must probe positive
    probed = CK.probe_cuckoo(seen, ck, n_buckets=N_BUCKETS)
    assert probed.filter(~F.col("cuckoo_maybe")).count() == 0
    # disjoint keys: false-positive rate ~2*slots/2^16
    other = _keys(spark, 0, 5000, tag="v")
    fp = CK.probe_cuckoo(other, ck, n_buckets=N_BUCKETS).filter(F.col("cuckoo_maybe")).count()
    assert fp < 50  # 1% ceiling, expected ~0-2


def test_dedup_identity_with_exact_antijoin(spark):
    seen = _keys(spark, 0, 3000)
    cands = _keys(spark, 1500, 4500)
    got = set(
        r.norm_url
        for r in CK.dedup_with_cuckoo(cands, seen, n_buckets=N_BUCKETS).collect()
    )
    want = set(r.norm_url for r in cands.join(seen, "norm_url", "left_anti").collect())
    assert got == want


def test_delete_enables_recrawl(spark):
    seen = _keys(spark, 0, 4000)
    ck = CK.build_cuckoo(seen, n_buckets=N_BUCKETS).persist()
    gone = _keys(spark, 0, 1000)  # re-crawl-eligible slice
    kept = _keys(spark, 1000, 4000)
    ck2 = CK.delete_cuckoo(ck, gone, n_buckets=N_BUCKETS).persist()
    # invariant: every REMAINING key still probes positive (multiset
    # copies make deletion safe for surviving keys)
    assert CK.probe_cuckoo(kept, ck2, n_buckets=N_BUCKETS).filter(
        ~F.col("cuckoo_maybe")
    ).count() == 0
    # deleted keys now probe negative (up to residual fp collisions)
    still = CK.probe_cuckoo(gone, ck2, n_buckets=N_BUCKETS).filter(
        F.col("cuckoo_maybe")
    ).count()
    assert still < 10  # expected ~0
    # the re-crawl path: deleted URLs flow through the dedup again.
    # gone ∩ kept = ∅ and cuckoo positives get the exact join, so every
    # deleted URL must re-emerge as crawlable — the full 1000.
    out = CK.dedup_with_cuckoo(gone, kept, n_buckets=N_BUCKETS, cuckoo=ck2)
    assert out.count() == 1000


def test_bucket_count_mismatch_raises(spark):
    import pytest as _pytest

    seen = _keys(spark, 0, 500)
    ck = CK.build_cuckoo(seen, n_buckets=4)
    with _pytest.raises(Exception, match="n_buckets"):
        CK.probe_cuckoo(seen, ck, n_buckets=N_BUCKETS).filter(
            ~F.col("cuckoo_maybe")
        ).count()


def test_incremental_insert_matches_full_build(spark):
    """Insert-the-delta maintenance: build(first half) + insert(second
    half) must answer exactly like a filter covering everything —
    no false negatives, dedup set identical to the exact anti-join."""
    first = _keys(spark, 0, 2000)
    second = _keys(spark, 2000, 4000)
    both = _keys(spark, 0, 4000)
    ck = CK.build_cuckoo(first, n_buckets=N_BUCKETS)
    ck = CK.insert_cuckoo(ck, second, n_buckets=N_BUCKETS).persist()
    assert CK.probe_cuckoo(both, ck, n_buckets=N_BUCKETS).filter(
        ~F.col("cuckoo_maybe")
    ).count() == 0
    cands = _keys(spark, 3000, 6000)
    got = set(
        r.norm_url
        for r in CK.dedup_with_cuckoo(cands, both, n_buckets=N_BUCKETS, cuckoo=ck).collect()
    )
    want = set(r.norm_url for r in cands.join(both, "norm_url", "left_anti").collect())
    assert got == want
    # insert→delete roundtrip: removing the inserted delta restores the
    # first-half answer set for remaining keys
    ck2 = CK.delete_cuckoo(ck, second, n_buckets=N_BUCKETS)
    assert CK.probe_cuckoo(first, ck2, n_buckets=N_BUCKETS).filter(
        ~F.col("cuckoo_maybe")
    ).count() == 0
    assert CK.probe_cuckoo(second, ck2, n_buckets=N_BUCKETS).filter(
        F.col("cuckoo_maybe")
    ).count() < 10
