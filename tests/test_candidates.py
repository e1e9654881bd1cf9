"""infoseed candidate canonicalization: URL kernels, dedup + filter
cascade, and the frontier strip_tracking dedup-key flag."""

from __future__ import annotations

from pyspark.sql import functions as F

from thecrowler_spark.functions import urls as U
from thecrowler_spark.operators.candidates import (
    apply_candidate_filters,
    normalize_candidates,
)


def test_strip_tracking_and_canonical_url(spark):
    rows = [
        (1, "https://a.example.com/p?utm_source=x&id=3&utm_medium=y"),
        (2, "HTTPS://B.Example.COM:443/q?z=2&a=1"),   # port drop + key sort
        (3, "http://c.example.com:8080/r#frag"),       # kept port, frag drop
        (4, "http://d.example.com"),                   # empty path → '/'
        (5, "ftp://e.example.com/f"),                  # scheme rejected
        (6, "   "),                                    # empty rejected
        (7, "https://f.example.com/p?fbclid=only"),    # query vanishes
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {
        r["id"]: (r["n"]["url"], r["n"]["host"], r["n"]["ok"])
        for r in df.select("id", U.canonical_candidate_url(F.col("url")).alias("n")).collect()
    }
    assert got[1] == ("https://a.example.com/p?id=3", "a.example.com", True)
    assert got[2] == ("https://b.example.com/q?a=1&z=2", "b.example.com", True)
    assert got[3] == ("http://c.example.com:8080/r", "c.example.com", True)
    assert got[4] == ("http://d.example.com/", "d.example.com", True)
    assert got[5][2] is False and got[6][2] is False
    assert got[7][0] == "https://f.example.com/p"


def test_registrable_domain_and_domain_set(spark):
    rows = [("www.blog.Example.com",), ("example.com",), ("localhost",)]
    df = spark.createDataFrame(rows, "h string")
    got = [r["d"] for r in df.select(U.registrable_domain(F.col("h")).alias("d")).collect()]
    assert got == ["example.com", "example.com", "localhost"]
    m = df.select(U.matches_domain_set(F.col("h"), ("example.com",)).alias("m")).collect()
    assert [r["m"] for r in m] == [True, True, False]


def test_normalize_candidates_dedup_and_reasons(spark):
    rows = [
        (1, "https://a.example.com/p?utm_source=x"),
        (2, "https://a.example.com/p"),            # dup of 1 after strip
        (3, "not a url"),
        (4, "https://b.example.com/q"),
    ]
    df = spark.createDataFrame(rows, "cand_id long, url string")
    out = {r["cand_id"]: r for r in normalize_candidates(df).collect()}
    assert out[1]["reject_reason"] is None
    assert out[1]["url"] == "https://a.example.com/p"
    assert out[2]["reject_reason"] == "duplicate_url"   # first occurrence wins
    assert out[3]["reject_reason"] == "invalid_url"
    assert out[3]["url"] == "not a url"                 # original kept, auditable
    assert out[4]["reject_reason"] is None

    # host dedup ranks only URL-dedup survivors
    out2 = {
        r["cand_id"]: r["reject_reason"]
        for r in normalize_candidates(df, dedup_host=True).collect()
    }
    assert out2[1] is None and out2[4] is None
    assert out2[2] == "duplicate_url"


def test_apply_candidate_filters_cascade(spark):
    rows = [
        (1, "https://a.example.com/1", 0.9),
        (2, "https://a.example.com/2", 0.9),
        (3, "https://a.example.com/3", 0.9),   # over max_per_host=2
        (4, "https://ads.example.org/x", 0.9),  # denied
        (5, "http://b.example.com/1", 0.1),     # under min_score
        (6, "https://c.other.net/1", 0.9),      # not in allowed set
    ]
    df = spark.createDataFrame(rows, "cand_id long, url string, score double")
    out = {
        r["cand_id"]: r["reject_reason"]
        for r in apply_candidate_filters(
            df,
            score_col="score",
            required_schemes=("http", "https"),
            allowed_domains=("example.com", "ads.example.org"),
            denied_domains=("ads.example.org",),
            min_score=0.5,
            max_per_host=2,
        ).collect()
    }
    assert out[1] is None and out[2] is None
    assert out[3] == "max_candidates_per_host"
    assert out[4] == "denied_domain"
    assert out[5] == "minimum_score"
    assert out[6] == "allowed_domain"


def test_filters_global_cap(spark):
    rows = [(i, f"https://h{i % 5}.example.com/p{i}", 1.0) for i in range(20)]
    df = spark.createDataFrame(rows, "cand_id long, url string, score double")
    out = apply_candidate_filters(df, score_col="score", max_candidates=7)
    kept = [r["cand_id"] for r in out.filter(F.col("reject_reason").isNull()).collect()]
    # first 7 in order_col order survive the distributed global cap
    assert sorted(kept) == list(range(7))
    over = out.filter(F.col("reject_reason") == "candidate_limit").count()
    assert over == 13


def test_host_dedup_and_caps_equal_sequential_reference(spark):
    """The host dedup and the per-host / per-domain caps (the salted
    per-key cap) reject exactly what a sequential pass in cand_id order
    rejects, with a hot host that overflows its salt buckets."""
    hosts = [f"h{j}.site{j % 3}.com" for j in range(6)]
    rows = []
    for i in range(400):
        host = hosts[0] if i % 2 == 0 else hosts[1 + i % 5]
        url = "not a url" if i % 37 == 5 else f"https://{host}/p{i % 300}"
        rows.append((i, url))
    df = spark.createDataFrame(rows, "cand_id long, url string")

    def sequential(host_cap, domain_cap, dedup_host):
        seen, first_host, n_host, n_domain, want = set(), set(), {}, {}, {}
        for i, url in rows:
            if url == "not a url":
                want[i] = "invalid_url"
            elif url in seen:
                want[i] = "duplicate_url"
            else:
                seen.add(url)
                host = url.split("/")[2]
                if dedup_host:
                    want[i] = "duplicate_host" if host in first_host else None
                    first_host.add(host)
                    continue
                # reservation semantics: each cap counts the rows the
                # earlier checks kept
                n_host[host] = n_host.get(host, 0) + 1
                domain = host.split(".", 1)[1]
                if n_host[host] > host_cap:
                    want[i] = "max_candidates_per_host"
                    continue
                n_domain[domain] = n_domain.get(domain, 0) + 1
                want[i] = "max_candidates_per_domain" if n_domain[domain] > domain_cap else None
        return want

    got = {
        r["cand_id"]: r["reject_reason"]
        for r in normalize_candidates(df, dedup_host=True).collect()
    }
    assert got == sequential(0, 0, dedup_host=True)
    assert list(got.values()).count(None) == len(hosts)  # one row per host

    normed = normalize_candidates(df)
    capped = apply_candidate_filters(
        normed.filter(F.col("reject_reason").isNull()).drop("reject_reason"),
        max_per_host=7,
        max_per_domain=10,
    )
    got = {r["cand_id"]: r["reject_reason"] for r in capped.collect()}
    got.update(
        (r["cand_id"], r["reject_reason"])
        for r in normed.filter(F.col("reject_reason").isNotNull()).collect()
    )
    want = sequential(7, 10, dedup_host=False)
    assert got == want
    assert {"max_candidates_per_host", "max_candidates_per_domain"} <= set(want.values())


def test_frontier_strip_tracking_collapses_utm_variants(spark):
    """With strip_tracking on, ?utm_source variants of an already-seen
    URL are duplicates (one frontier fetch); off, they refetch."""
    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from thecrowler_spark.sources.corpus import DOCUMENTS_SCHEMA, SEEDS_SCHEMA

    def spans(links):
        out = [("title", "t", "", 0)]
        for i, l in enumerate(links):
            out.append(("link", f"l{i}", l, 1 + i))
        return out

    base = "https://h0.example.com"
    docs = spark.createDataFrame(
        [
            (f"{base}/p0", spans([f"{base}/p1", f"{base}/p1?utm_source=feed",
                                  f"{base}/p1?utm_medium=rss&x=1"])),
            (f"{base}/p1", spans([])),
            (f"{base}/p1?utm_source=feed", spans([])),
            (f"{base}/p1?utm_medium=rss&x=1", spans([])),
        ],
        DOCUMENTS_SCHEMA,
    )
    from datetime import datetime, timezone

    seeds = spark.createDataFrame(
        [(1, "u1", f"{base}/p0", "high", "new", 2, False, 0, "{}",
          datetime(2026, 1, 1, tzinfo=timezone.utc))],
        SEEDS_SCHEMA,
    )
    plain = CrawlEngine(spark, docs, cfg=CrawlConfig(max_depth=1)).run(seeds)
    assert plain.counters[1]["pages"] == 4  # seed + all three variants fetch

    stripped = CrawlEngine(
        spark, docs, cfg=CrawlConfig(max_depth=1, strip_tracking=True)
    ).run(seeds, run_id="run_strip")
    c = stripped.counters[1]
    # /p1 fetches once; the utm_source variant collapses to the same seen
    # key (duplicate); the utm_medium&x=1 variant keeps x=1 → distinct
    assert c["pages"] == 3
    assert c["duplicates"] == 1
    vis = {r["norm_url"] for r in stripped.visited.collect()}
    assert f"{base}/p1?x=1".lower() in vis
    assert not any("utm" in v for v in vis)
