"""LakeTable snapshot semantics + engine kill-and-resume parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus
from thecrowler_spark.sources.lake import LakeTable
from tests import oracle as O


def test_lake_snapshots_merge_timetravel(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "tbl"))
    s1 = t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    s2 = t.merge(spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"), ["id"])
    cur = {tuple(r) for r in t.read().collect()}
    assert cur == {(1, "a"), (2, "B"), (3, "c")}
    old = {tuple(r) for r in t.read(s1).collect()}
    assert old == {(1, "a"), (2, "b")}
    s3 = t.append(spark.createDataFrame([(4, "d")], "id long, v string"))
    assert t.snapshots() == [s1, s2, s3]
    dropped = t.expire_snapshots(keep_last=1)
    assert s1 in dropped and t.current_snapshot() == s3
    assert {tuple(r) for r in t.read().collect()} == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_kill_and_resume_matches_uninterrupted(spark, tmp_path):
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=10))
    dfs = corpus_to_spark(spark, corpus)

    # uninterrupted run (depth 4)
    full_cfg = CrawlConfig(max_depth=4, max_rounds=10)
    eng_full = CrawlEngine(spark, dfs["documents"], cfg=full_cfg, work_dir=str(tmp_path / "full"))
    res_full = eng_full.run(dfs["seeds"], run_id="full")
    want_order = sorted(tuple(r) for r in res_full.crawl_order.collect())
    want_seen = {tuple(r) for r in res_full.visited.collect()}

    # "crash" after 2 rounds (max_rounds caps the loop; manifests committed)
    crash_cfg = CrawlConfig(max_depth=4, max_rounds=2)
    eng_crash = CrawlEngine(spark, dfs["documents"], cfg=crash_cfg, work_dir=str(tmp_path / "cr"))
    eng_crash.run(dfs["seeds"], run_id="cr")

    # resume with the full config from the committed state
    eng_resume = CrawlEngine(spark, dfs["documents"], cfg=full_cfg, work_dir=str(tmp_path / "cr"))
    res_resume = eng_resume.run(dfs["seeds"], run_id="cr", resume=True)
    got_order = sorted(tuple(r) for r in res_resume.crawl_order.collect())
    got_seen = {tuple(r) for r in res_resume.visited.collect()}

    assert got_order == want_order
    assert got_seen == want_seen
    for sid, c in res_full.counters.items():
        # links counter counts enqueued-per-level; identical across paths
        assert res_resume.counters[sid] == c, (sid, res_resume.counters[sid], c)


def test_fresh_run_does_not_resume_earlier_rounds(spark, tmp_path):
    """A run that is not resumed starts its run_id over: a later resume
    continues from ITS rounds, not from the deeper rounds an earlier run
    under the same run_id (with other settings) left in the work dir."""
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=10))
    dfs = corpus_to_spark(spark, corpus)
    wd = str(tmp_path / "state")
    full_cfg = CrawlConfig(max_depth=4, max_rounds=10)

    def order(res):
        return sorted(tuple(r) for r in res.crawl_order.collect())

    def run(cfg, resume=False):
        eng = CrawlEngine(spark, dfs["documents"], cfg=cfg, work_dir=wd)
        return eng.run(dfs["seeds"], run_id="reused", resume=resume)

    want = order(CrawlEngine(spark, dfs["documents"], cfg=full_cfg).run(dfs["seeds"]))
    earlier = order(run(CrawlConfig(max_depth=4, max_rounds=4, unwanted_patterns=(r"/p[1-4]$",))))
    assert earlier != want  # non-vacuous: the earlier run's rounds differ
    run(CrawlConfig(max_depth=4, max_rounds=1))
    assert order(run(full_cfg, resume=True)) == want


def test_lake_compact_preserves_data(spark, tmp_path):
    """compact() = rewrite_data_files analog: fewer files, same rows,
    history still time-travelable until expired."""
    import glob

    from pyspark.sql import functions as F

    from thecrowler_spark.sources.lake import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(spark.range(i * 10, (i + 1) * 10).repartition(4))
    before = sorted(r["id"] for r in t.read().collect())
    sid = t.compact(target_files=1)
    files = glob.glob(t._snap_dir(sid) + "/part-*.parquet")
    assert len(files) == 1
    assert sorted(r["id"] for r in t.read().collect()) == before == list(range(40))
    # pre-compaction snapshot still readable (time travel), then expirable
    assert t.read(sid - 1).count() == 40
    dropped = t.expire_snapshots(keep_last=1)
    assert sid not in dropped


def test_merge_scd2_incremental_equals_batch(spark, tmp_path):
    """SCD2: three incremental merges must produce the same history as
    one batch merge; no-op versions collapse; open row closes at the
    next CHANGED version's ts."""
    import datetime as dt

    from thecrowler_spark.sources.lake import LakeTable

    def ver(key, day, state):
        return (key, dt.datetime(2024, 1, 1) + dt.timedelta(days=day), state)

    rows = [
        ver(1, 0, "a"), ver(1, 1, "a"), ver(1, 2, "b"), ver(1, 3, "b"), ver(1, 4, "c"),
        ver(2, 0, "x"), ver(2, 5, "x"), ver(2, 9, "y"),
    ]
    df = spark.createDataFrame(rows, "key long, ts timestamp_ntz, state string")

    def run(splits):
        lake = LakeTable(spark, str(tmp_path / f"scd2_{len(splits)}"))
        for lo, hi in splits:
            lake.merge_scd2(
                df.filter((F.col("ts") >= lo) & (F.col("ts") < hi)),
                ["key"], "ts", ["state"],
            )
        return {
            (r.key, r.state, r.valid_from, r.valid_to)
            for r in lake.read().collect()
        }

    d = dt.datetime
    one = run([(d(2024, 1, 1), d(2024, 2, 1))])
    inc = run([
        (d(2024, 1, 1), d(2024, 1, 3)),   # key1: a,a  key2: x
        (d(2024, 1, 3), d(2024, 1, 5)),   # key1: b,b
        (d(2024, 1, 5), d(2024, 2, 1)),   # key1: c    key2: x(noop), y
    ])
    assert inc == one
    # explicit golden: key 1 -> a[0,2) b[2,4) c[4,open); key 2 -> x[0,9) y[9,open)
    expect = {
        (1, "a", d(2024, 1, 1), d(2024, 1, 3)),
        (1, "b", d(2024, 1, 3), d(2024, 1, 5)),
        (1, "c", d(2024, 1, 5), None),
        (2, "x", d(2024, 1, 1), d(2024, 1, 10)),
        (2, "y", d(2024, 1, 10), None),
    }
    assert one == expect


def test_compact_sorted_prunes_and_preserves(spark, tmp_path):
    """Sort-order rewrite: same rows, files own contiguous key ranges
    (parquet min/max prune point lookups), old snapshot time-travels."""
    import glob

    from pyspark.sql import functions as F

    from thecrowler_spark.sources.lake import LakeTable

    lake = LakeTable(spark, str(tmp_path / "t"))
    df = spark.range(10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"),  # scrambled key
        F.col("id").alias("v"),
    )
    s1 = lake.write(df)
    s2 = lake.compact_sorted(["k"], target_files=4)
    assert s2 != s1
    # data identical
    assert lake.read().orderBy("k", "v").collect() == df.orderBy("k", "v").collect()
    # time travel to the unsorted snapshot still works
    assert lake.read(s1).count() == 10_000
    # each rewritten file owns a contiguous, non-overlapping k-range
    files = sorted(glob.glob(f"{tmp_path}/t/snap-{s2:08d}/part-*.parquet"))
    assert 2 <= len(files) <= 5
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(F.min("k"), F.max("k")).first()
        ranges.append((r[0], r[1]))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping ranges {ranges}"
    # metadata records the sort order
    assert lake.current_meta().get("sorted_by") == ["k"]
