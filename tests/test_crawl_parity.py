"""Crawl-order + URL-seen + counter parity: Spark engine vs Python oracle.

The graded invariants (BASELINE.json north_rule): same seed list +
politeness settings ⇒ identical crawl ordering and final URL-seen set.
"""

from __future__ import annotations

import pytest

from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus
from tests import oracle as O


def _spark_result(spark, corpus, cfg: CrawlConfig, robots=False):
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(
        spark,
        dfs["documents"],
        cfg=cfg,
        robots=dfs["robots_rules"] if robots else None,
    )
    return eng.run(dfs["seeds"])


def _oracle_result(corpus, ocfg: O.OracleConfig):
    return O.crawl_all(
        corpus["documents"], corpus["seeds"], ocfg, robots=corpus["robots_rules"]
    )


def _compare(res, want):
    got_order = sorted(
        (r["source_id"], r["seq"], r["depth"], r["url"])
        for r in res.crawl_order.collect()
    )
    assert got_order == sorted(want.crawl_order)
    got_seen = {(r["source_id"], r["norm_url"]) for r in res.visited.collect()}
    assert got_seen == want.visited
    for sid, oc in want.counters.items():
        gc = res.counters.get(sid)
        assert gc is not None, f"missing counters for source {sid}"
        for k in ("pages", "skipped", "duplicates", "errors", "links"):
            assert gc[k] == oc[k], f"source {sid} counter {k}: spark={gc[k]} oracle={oc[k]}"


PARAMS = [
    dict(max_depth=1, max_links=0),
    dict(max_depth=2, max_links=0),
    dict(max_depth=3, max_links=0),
    dict(max_depth=0, max_links=0),   # unbounded-while-new
    dict(max_depth=3, max_links=7),   # cutoff + truncation
    dict(max_depth=2, max_links=1),
]


@pytest.mark.parametrize("p", PARAMS, ids=[f"d{p['max_depth']}_l{p['max_links']}" for p in PARAMS])
def test_crawl_parity(spark, p):
    corpus = small_corpus(CorpusSpec(n_hosts=3, pages_per_host=12, skew_host_factor=3))
    cfg = CrawlConfig(max_depth=p["max_depth"], max_links=p["max_links"], max_rounds=12)
    ocfg = O.OracleConfig(max_depth=p["max_depth"], max_links=p["max_links"], max_rounds=12)
    _compare(_spark_result(spark, corpus, cfg), _oracle_result(corpus, ocfg))


def test_crawl_parity_robots(spark):
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=10))
    cfg = CrawlConfig(max_depth=2, check_robots=True, max_rounds=8)
    ocfg = O.OracleConfig(max_depth=2, check_robots=True, max_rounds=8)
    _compare(
        _spark_result(spark, corpus, cfg, robots=True), _oracle_result(corpus, ocfg)
    )


def test_crawl_parity_restriction_levels(spark):
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=8))
    for lvl in (0, 1, 2, 3, 4):
        for s in corpus["seeds"]:
            s["restricted"] = lvl
        cfg = CrawlConfig(max_depth=2, max_rounds=6)
        ocfg = O.OracleConfig(max_depth=2, max_rounds=6)
        _compare(_spark_result(spark, corpus, cfg), _oracle_result(corpus, ocfg))


def test_crawl_parity_cuckoo_prefilter(spark):
    """Incrementally-maintained cuckoo URL-seen path must be
    result-identical (build once, insert each round's visited delta)."""
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=12))
    cfg = CrawlConfig(max_depth=3, max_rounds=8, seen_filter="cuckoo")
    ocfg = O.OracleConfig(max_depth=3, max_rounds=8)
    _compare(_spark_result(spark, corpus, cfg), _oracle_result(corpus, ocfg))


def test_unknown_seen_filter_mode_raises(spark):
    """The exact join alone ("") and the cuckoo prefilter are the only
    URL-seen modes; any other name, the removed "bloom" included, is
    refused when the engine is built."""
    dfs = corpus_to_spark(spark, small_corpus(CorpusSpec(n_hosts=1, pages_per_host=2)))
    for mode in ("bloom", "exact"):
        with pytest.raises(ValueError, match="seen_filter"):
            CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(seen_filter=mode))


@pytest.mark.parametrize("seen_filter", ["", "cuckoo"], ids=["exact", "cuckoo"])
@pytest.mark.parametrize("with_work_dir", [True, False], ids=["work_dir", "local"])
def test_cuckoo_release_then_refetch(spark, tmp_path, with_work_dir, seen_filter):
    """End-to-end re-crawl through CrawlEngine (r2 verdict item 10):
    run1 crawls (and, in cuckoo mode, populates the incremental
    filter); run2 chained on run1's seen set fetches NOTHING new (every
    link is seen); after release_seen() on the re-crawl-eligible
    source, run3 fetches that source's URLs again — the
    delete→refetch path. With work_dir set the chained prior state
    must survive the delta-dir checkpoint commits across rounds
    (regression: the work_dir scan used to drop the prior union after
    round 1); without it, the in-memory commits must keep it too."""
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=10))
    dfs = corpus_to_spark(spark, corpus)
    cfg = CrawlConfig(max_depth=2, max_rounds=6, seen_filter=seen_filter)
    work_dir = str(tmp_path / "state") if with_work_dir else None
    eng = CrawlEngine(spark, dfs["documents"], cfg=cfg, work_dir=work_dir)

    res1 = eng.run(dfs["seeds"], run_id="rc1")
    # the filter exists (built and incrementally fed) only in cuckoo mode
    assert (eng._cuckoo is not None) == (seen_filter == "cuckoo")
    pages1 = {
        (r["source_id"], r["url"]) for r in res1.pages.collect() if r["depth"] > 0
    }
    assert pages1, "run1 must fetch beyond the seed pages"
    seen1 = res1.visited.localCheckpoint(eager=True)

    # run2: same sources, chained seen set, SAME long-lived filter —
    # every previously-fetched link is a duplicate now
    res2 = eng.run(dfs["seeds"], run_id="rc2", initial_visited=seen1)
    pages2 = {
        (r["source_id"], r["url"]) for r in res2.pages.collect() if r["depth"] > 0
    }
    assert pages2 == set(), f"chained run refetched: {sorted(pages2)[:5]}"
    # the returned live state still carries the chained prior rows
    assert res2.visited.count() >= seen1.count()

    # release ONE source → only its URLs become fetchable again
    eligible = dfs["seeds"].select("source_id").orderBy("source_id").limit(1)
    sid = eligible.first()["source_id"]
    seen_released = eng.release_seen(seen1, eligible).localCheckpoint(eager=True)
    n_before = seen1.count()
    n_after = seen_released.count()
    assert n_after < n_before  # rows actually left the exact seen set

    res3 = eng.run(dfs["seeds"], run_id="rc3", initial_visited=seen_released)
    pages3 = {
        (r["source_id"], r["url"]) for r in res3.pages.collect() if r["depth"] > 0
    }
    assert pages3, "released source must be fetched again"
    assert {s for s, _ in pages3} == {sid}
    # the refetched set is exactly run1's page set for that source
    assert pages3 == {(s, u) for s, u in pages1 if s == sid}


def test_budget_two_phase_skew(spark):
    """Skewed mega-host budget: the two-phase rank must (a) cap fetches
    per host per round exactly, (b) drain deferred links in seq order
    across rounds, and (c) be result-identical to the degenerate
    single-bucket ranking (salt_buckets=1 ≈ the single-window form)."""
    from pyspark.sql import functions as F

    mega = [f"https://m.example.com/p{i}" for i in range(60)]
    bs = [f"https://b.example.com/p{i}" for i in range(5)]
    seed_url = "https://a.example.com/p0"

    def doc(url, links):
        spans = [("title", f"t {url}", "", 0)] + [
            ("link", f"l{i}", l, i + 1) for i, l in enumerate(links)
        ]
        return (url, spans)

    docs = spark.createDataFrame(
        [doc(seed_url, mega + bs)] + [doc(u, []) for u in mega + bs],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    seeds = spark.createDataFrame(
        [(1, seed_url, 3, "high", "new", False, "2026-01-01 00:00:00")],
        "source_id long, url string, restricted int, priority string, status string,"
        " disabled boolean, created_at string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    budgets = spark.createDataFrame(
        [("m.example.com", 7)], "host string, max_fetches_per_round int"
    )

    def crawl(salt_buckets):
        cfg = CrawlConfig(
            max_depth=4, max_rounds=10, use_host_budget=True, salt_buckets=salt_buckets
        )
        eng = CrawlEngine(spark, docs, cfg=cfg, budgets=budgets)
        res = eng.run(seeds)
        order = sorted(
            (r["source_id"], r["seq"], r["depth"], r["url"])
            for r in res.crawl_order.collect()
        )
        return order, res.counters

    order16, counters16 = crawl(16)
    # per-round cap: exactly 7 mega-host fetches per depth ≥ 1
    by_depth = {}
    for _, _, depth, url in order16:
        if "m.example.com" in url:
            by_depth[depth] = by_depth.get(depth, 0) + 1
    assert by_depth == {1: 7, 2: 7, 3: 7, 4: 7}  # 28 of 60 within 4 rounds
    # unbudgeted host fully fetched in round 1
    assert sum("b.example.com" in u for _, _, d, u in order16 if d == 1) == 5
    # deferred drain in seq order: mega pages appear in link order
    mega_seq = [u for _, _, _, u in sorted(order16) if "m.example.com" in u]
    assert mega_seq == mega[:28]
    # two-phase invariance: single salt bucket (≈ one host-wide window)
    order1, counters1 = crawl(1)
    assert order1 == order16
    assert counters1 == counters16


def test_many_sources_no_plan_blowup(spark):
    """10^4 claimed sources through a full round: counters must stay a
    Spark-side table (r1 embedded one plan-literal map entry per source
    — a driver OOM at fleet scale). Passes iff the crawl completes and
    the counter totals reconcile with the fetched pages."""
    from pyspark.sql import functions as F

    from thecrowler_spark.sources.corpus import big_corpus_df

    n_docs, n_hosts, n_src = 20_000, 50, 10_000
    docs = big_corpus_df(spark, n_docs=n_docs, n_hosts=n_hosts, links_per_page=2)
    skew_cut = int(n_docs * 0.2)
    host = F.when(F.col("id") < skew_cut, F.lit(0)).otherwise(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_hosts - 1)) + 1
    )
    seeds = spark.range(n_src).select(
        (F.col("id") + 1).alias("source_id"),
        F.concat(
            F.lit("https://h"), host.cast("string"), F.lit(".example.com/p"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.lit(2).alias("restricted"),
        F.lit("high").alias("priority"),
        F.lit("new").alias("status"),
        F.lit(False).alias("disabled"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("created_at"),
    )
    eng = CrawlEngine(spark, docs, cfg=CrawlConfig(max_depth=1, max_rounds=2))
    res = eng.run(seeds)
    n_counter_rows = res.counters_df.count()
    assert n_counter_rows == n_src
    tot = res.counters_df.agg(
        F.sum("pages").alias("p"), F.sum("links").alias("l")
    ).first()
    n_pages = res.pages.count()
    assert int(tot["p"]) == n_pages
    assert n_pages >= n_src  # every seed fetched (+ depth-1 fetches)
    assert int(tot["l"]) >= n_src  # 2 links per fetched seed page


def test_counters_collect_cap(spark, monkeypatch):
    """``CrawlResult.counters`` collects at most its cap of sources and
    refuses past it; ``counters_df`` stays readable either way."""
    from thecrowler_spark.operators.frontier import CrawlResult

    res = _spark_result(
        spark, small_corpus(CorpusSpec(n_hosts=2, pages_per_host=6)), CrawlConfig(max_depth=1)
    )
    monkeypatch.setattr(CrawlResult, "COUNTERS_COLLECT_CAP", 2)
    assert sorted(res.counters) == [1, 2]
    monkeypatch.setattr(CrawlResult, "COUNTERS_COLLECT_CAP", 1)
    with pytest.raises(ValueError, match="counters_df"):
        res.counters
    assert res.counters_df.count() == 2


def test_crawl_parity_alternative_links(spark):
    """alternative_links from Sources.config (crawler.go:318-353): appended
    to the initial links when absent, deduped against extracted links,
    crawled in config order — engine vs independent oracle. Sources
    whose config adds nothing (NULL, ``{}``, an empty list, no
    ``crawling_config``) crawl their extracted links alone."""
    import json

    from thecrowler_spark.sources.corpus import page_url

    no_alts = [
        None,
        "{}",
        json.dumps({"crawling_config": {"alternative_links": []}}),
        json.dumps({"other": 1}),
    ]
    corpus = small_corpus(CorpusSpec(n_hosts=2 + len(no_alts), pages_per_host=10))
    for s in corpus["seeds"]:
        h = s["source_id"] - 1
        if h >= 2:
            s["config"] = no_alts[h - 2]
            continue
        s["config"] = json.dumps(
            {
                "crawling_config": {
                    "alternative_links": [
                        page_url(h, 7),          # real page, may also be extracted
                        page_url(h, 9),          # real page
                        page_url(h, 9),          # duplicate within the list → once
                        "https://other0.example.org/alt",  # external → skip rules
                    ]
                }
            }
        )
    cfg = CrawlConfig(max_depth=2, max_rounds=6)
    ocfg = O.OracleConfig(max_depth=2, max_rounds=6)
    _compare(_spark_result(spark, corpus, cfg), _oracle_result(corpus, ocfg))


def test_crawl_parity_seed_links_not_truncated(spark):
    """MaxLinks truncates the links a BFS level discovers, never the
    seed links (crawler.go:412-414, 475-483). Each seed here has more
    links than max_links and its first links are skipped (external, the
    source itself) or duplicates (a page twice, then with a trailing
    slash): truncated seed links would end the crawl on those and count
    fewer links."""
    from thecrowler_spark.sources.corpus import page_url

    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=10))
    docs = {d["doc_id"]: d for d in corpus["documents"]}
    for s in corpus["seeds"]:
        h = s["source_id"] - 1
        first = ["https://other0.example.org/x", s["url"], page_url(h, 3), page_url(h, 3),
                 page_url(h, 3) + "/"]
        doc = docs[s["url"]]
        spans = [{"kind": "link", "text": "", "media_ref": u, "offset": 0} for u in first]
        doc["spans"] = [dict(sp, offset=i) for i, sp in enumerate(spans + doc["spans"])]
        assert len(O.extract_links(doc["spans"])) > len(first)
    cfg = CrawlConfig(max_depth=2, max_links=3, max_rounds=6)
    ocfg = O.OracleConfig(max_depth=2, max_links=3, max_rounds=6)
    _compare(_spark_result(spark, corpus, cfg), _oracle_result(corpus, ocfg))


def test_ordering_shards_same_sets(spark):
    """Mega-source escape hatch (ordering_shards > 1): on a corpus with
    canonical link forms and no skip rules, the fetched page set,
    visited set, and per-source counters must be IDENTICAL to parity
    mode; only intra-source ORDER may differ. seq/fetch_seq stay unique
    per source. (With skips or URL-form variants the contract is
    documented as sets-modulo-representative — exercised above by the
    small_corpus suites in parity mode only.)"""
    import pytest as _pytest
    from pyspark.sql import functions as F

    def doc(url, links):
        spans = [("title", f"t {url}", "", 0)] + [
            ("link", f"l{i}", l, i + 1) for i, l in enumerate(links)
        ]
        return (url, spans)

    host = "https://m.example.com"
    seed_url = f"{host}/seed"
    ps = [f"{host}/p{i}" for i in range(40)]
    docs_rows = [doc(seed_url, ps)]
    for i, p in enumerate(ps):
        # q-links overlap across pages (exercises within-level dedup),
        # 'missing' targets exercise fetch_err — all order-independent
        docs_rows.append(
            doc(p, [f"{host}/q{i}", f"{host}/q{(i + 7) % 40}", f"{host}/missing{i % 5}"])
        )
    docs_rows += [doc(f"{host}/q{i}", []) for i in range(40)]
    docs = spark.createDataFrame(
        docs_rows,
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    seeds = spark.createDataFrame(
        [(1, seed_url, 4, "high", "new", False, "2026-01-01 00:00:00")],
        "source_id long, url string, restricted int, priority string, status string,"
        " disabled boolean, created_at string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))

    def run(shards):
        cfg = CrawlConfig(max_depth=3, max_links=0, max_rounds=8, ordering_shards=shards)
        eng = CrawlEngine(spark, docs, cfg=cfg)
        return eng.run(seeds, run_id=f"shards{shards}")

    parity, sharded = run(1), run(4)

    def page_set(res):
        return {
            (r["source_id"], r["depth"], r["url"]) for r in res.pages.collect()
        }

    assert page_set(sharded) == page_set(parity)
    seen_p = {(r["source_id"], r["norm_url"]) for r in parity.visited.collect()}
    seen_s = {(r["source_id"], r["norm_url"]) for r in sharded.visited.collect()}
    assert seen_s == seen_p
    assert sharded.counters == parity.counters
    # sanity: the corpus really has no skips and does have errors/dups
    c = parity.counters[1]
    assert c["skipped"] == 0 and c["errors"] > 0 and c["duplicates"] > 0
    # fetch_seq unique per source in sharded mode
    dup = (
        sharded.pages.groupBy("source_id", "fetch_seq")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # guard: the cumulative max_links cutoff needs total order
    with _pytest.raises(ValueError):
        CrawlEngine(spark, docs, cfg=CrawlConfig(max_links=5, ordering_shards=2))


def test_ordering_shards_with_budgets_page_set_converges(spark):
    """Contract carve-out (c) tightened: with host budgets on, sharded
    mode may defer DIFFERENT rows each round, but once enough rounds
    run to drain every deferral the fetched page SET (ignoring depth)
    and final counters' pages totals equal parity mode."""
    from pyspark.sql import functions as F

    host = "https://m.example.com"
    seed_url = f"{host}/seed"
    ps = [f"{host}/p{i}" for i in range(30)]

    def doc(url, links):
        spans = [("title", f"t {url}", "", 0)] + [
            ("link", f"l{i}", l, i + 1) for i, l in enumerate(links)
        ]
        return (url, spans)

    docs = spark.createDataFrame(
        [doc(seed_url, ps)] + [doc(p, []) for p in ps],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    seeds = spark.createDataFrame(
        [(1, seed_url, 4, "high", "new", False, "2026-01-01 00:00:00")],
        "source_id long, url string, restricted int, priority string, status string,"
        " disabled boolean, created_at string",
    ).withColumn("created_at", F.col("created_at").cast("timestamp"))
    budgets = spark.createDataFrame(
        [("m.example.com", 7)], "host string, max_fetches_per_round int"
    )

    def run(shards):
        cfg = CrawlConfig(
            max_depth=0, max_rounds=12, use_host_budget=True, ordering_shards=shards
        )
        eng = CrawlEngine(spark, docs, cfg=cfg, budgets=budgets)
        return eng.run(seeds, run_id=f"bshards{shards}")

    parity, sharded = run(1), run(4)
    pages_p = {r["url"] for r in parity.pages.collect()}
    pages_s = {r["url"] for r in sharded.pages.collect()}
    assert pages_s == pages_p and len(pages_p) == 31  # seed + all 30
    assert parity.counters[1]["pages"] == sharded.counters[1]["pages"]


def test_crawl_bfs_duckdb_oracle_generalizes(spark):
    """The depth-unrolled DuckDB oracle must match the engine on a
    BIGGER corpus and a DEEPER crawl than the registered fixture — the
    construction is general, not tuned to one seed."""
    import duckdb

    import __spark_entry__ as E
    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus

    spec = CorpusSpec(seed=7, n_hosts=3, pages_per_host=12)
    corpus = small_corpus(spec)
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(max_depth=3, max_rounds=8))
    got = {
        (r["source_id"], r["seq"], r["depth"], r["url"])
        for r in eng.run(dfs["seeds"]).crawl_order.collect()
    }
    want = set(
        duckdb.connect().execute(E._crawl_bfs_oracle_sql(max_depth=3, spec=spec)).fetchall()
    )
    assert got == want
    assert len(got) > 20  # non-vacuous: a real multi-round crawl


def test_levels_corpus_monotone_breadth(spark):
    """crawl_bfs_levels semantics: over the multi-domain corpus the
    five restriction levels produce strictly nested fetch sets, with
    the SLD/TLD boundaries exactly where isExternalLink
    (crawler.go:2131-2172) puts them. Level 2 vs 3 differ — the case
    the r4 oracle's skip CASE could not see."""
    from thecrowler_spark.sources.corpus import levels_corpus

    corpus = levels_corpus()
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(max_depth=3, max_rounds=8))
    rows = eng.run(dfs["seeds"]).crawl_order.collect()
    by_level: dict[int, set[str]] = {}
    for r in rows:
        by_level.setdefault(r.source_id - 1, set()).add(r.url)

    seed = "https://www.alpha-site.com/p0"
    assert by_level[0] == {seed}  # level 0 never enters the BFS
    # level 1: only the string-prefix chain p0 -> p05 -> p052
    assert by_level[1] == {seed, f"{seed}5", f"{seed}52"}
    # strictly nested breadth
    for a, b in ((0, 1), (1, 2), (2, 3), (3, 4)):
        assert by_level[a] < by_level[b], (a, b)
    # the SLD boundary: level 2 reaches docs.alpha-site.com, never beta/gamma
    assert any("docs.alpha-site.com" in u for u in by_level[2])
    assert not any("beta-site" in u or "gamma-site" in u for u in by_level[2])
    # the TLD boundary: level 3 adds beta (.com) but still not gamma (.org)
    assert any("beta-site.com" in u for u in by_level[3])
    assert not any("gamma-site" in u for u in by_level[3])
    # unrestricted: gamma reached, at depth up to 3
    assert any("gamma-site.org" in u for u in by_level[4])
    assert max(r.depth for r in rows) == 3
