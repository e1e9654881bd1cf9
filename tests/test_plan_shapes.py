"""Machine-checked plan shapes: the scale claims in the operator
docstrings ("broadcast join", "8-byte shuffle key", "no all-pairs")
asserted against the actual physical plans, so a refactor that quietly
degrades a broadcast into a cartesian product fails CI, not the
100 TB run."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")


def test_classifier_broadcasts_weights(spark):
    from thecrowler_spark.operators.classifier import classify_docs

    weights = spark.range(4096).select(
        F.col("id").cast("int").alias("bucket"), F.lit(1).cast("long").alias("weight")
    )
    plan = _plan(classify_docs(_docs(spark), weights))
    assert "CartesianProduct" not in plan
    # the token stream must never shuffle on the token/bucket key: the
    # model side is broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_span_dedup_no_cartesian_and_hash_keys(spark):
    from thecrowler_spark.operators.dedup import repeated_span_dedup

    plan = _plan(repeated_span_dedup(_docs(spark), w=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # gram counting shuffles on the 8-byte xxhash64 key, not the gram text
    assert "hashpartitioning(ghash" in plan


def test_lsh_candidates_no_cartesian(spark):
    from thecrowler_spark.operators.dedup import minhash_lsh_candidates

    plan = _plan(minhash_lsh_candidates(_docs(spark), n_hashes=8, bands=4, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_lines_shuffles_hash_not_strings(spark):
    from thecrowler_spark.operators.dedup import dedup_lines

    plan = _plan(dedup_lines(_docs(spark)))
    assert "hashpartitioning(line_hash" in plan
    assert "CartesianProduct" not in plan


def test_mixture_sample_no_single_source_window(spark):
    """One dominant source must not serialize onto one task: the doc
    stream's running sum partitions on (source, range-bucket), never on
    source alone, and the offsets side comes back as a broadcast."""
    import re

    from thecrowler_spark.operators.sampling import mixture_sample

    docs = _docs(spark).select(
        "doc_id",
        F.when(F.length("text") % 10 < 8, F.lit("web")).otherwise(F.lit("books")).alias("source"),
        (F.length("text") / 4).cast("long").alias("n_tokens"),
    )
    plan = _plan(mixture_sample(docs, {"web": 3, "books": 1}, 10_000))
    assert "CartesianProduct" not in plan
    # a window whose spec starts (source, _ok ...) = the old per-source
    # single-task running sum; the two-phase shape orders the doc window
    # by (source, _rb, _ok ...) instead
    assert not re.search(r"windowspecdefinition\(source#\d+, _ok#", plan)
    assert re.search(r"hashpartitioning\(source#\d+, _rb#", plan)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_two_phase_rank_has_no_global_sort(spark):
    from thecrowler_spark.operators.ranking import ntile_distributed

    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", F.col("c_acctbal").alias("v")
    )
    from thecrowler_spark.operators.ranking import global_row_number

    # phase 1 (materialize=False exposes the lineage): the data takes
    # ONE range exchange with partition-local sorts — no global Sort,
    # no SinglePartition exchange of the row stream
    order = [F.col("v"), F.col("c_custkey")]
    p1 = _plan(global_row_number(cust, order, materialize=False))
    assert "rangepartitioning" in p1
    assert "Sort [v" in p1 and "], true, " not in p1  # no global Sort anywhere
    # full ntile: a regression to the native global window would
    # reintroduce an ntile window function over the row stream
    plan = _plan(ntile_distributed(cust, 4, order_by=order))
    assert "ntile(" not in plan


def test_candidate_caps_two_phase(spark):
    """Per-host/per-domain caps must not serialize a hot host onto one
    task: every window over the candidate stream whose spec starts with
    the bare host/domain key must be preceded by the salted pre-rank
    (hashpartitioning on (key, _salt)), and the final windows only see
    the bounded survivor set — without splitting the row stream."""
    import re

    from thecrowler_spark.operators.candidates import apply_candidate_filters

    cands = spark.range(2000).select(
        F.col("id").alias("cand_id"),
        F.concat(F.lit("https://h"), (F.col("id") % 3).cast("string"),
                 F.lit(".example.com/p"), F.col("id").cast("string")).alias("url"),
    )
    plan = _plan(apply_candidate_filters(cands, max_per_host=5, max_per_domain=9))
    assert "CartesianProduct" not in plan
    # the salted phase-1 exchanges exist for both caps
    assert re.search(r"hashpartitioning\(_host#\d+, _salt#", plan)
    assert re.search(r"hashpartitioning\(domain#\d+, _salt#", plan)
    # both caps are columns of the one row stream: the input is scanned
    # once, and no filter branch is unioned or joined back
    ops = [
        re.sub(r"^[\s+\-:|]*(\*\(\d+\) )?", "", line).split(" ")[0]
        for line in plan.splitlines()
    ]
    assert ops.count("Range") == 1
    assert not [o for o in ops if o.endswith("Join") or o == "Union"]


def test_dsir_broadcasts_weights_and_topk_has_no_global_sort(spark):
    """dsir.importance_scores must join the gram stream to a BROADCAST
    weight table (never shuffle on the gram/bucket key), and
    dsir_select's top-k must be TakeOrdered (per-partition top-k +
    driver merge), not a range-partitioned global sort."""
    from thecrowler_spark.operators.dsir import dsir_select, importance_scores

    docs = _docs(spark)
    weights = spark.range(1024).select(
        F.col("id").cast("int").alias("bucket"), F.lit(1).cast("long").alias("weight")
    )
    plan = _plan(importance_scores(docs, weights))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    sel = dsir_select(
        spark,
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        k=50,
    )
    plan = _plan(sel)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_scraping_rules_zero_shuffle(spark):
    """The compiled scraping-rule engine is one embarrassingly-parallel
    map over pages: no Exchange, no join, no UDF may appear — every
    selector lookup / fallback / marshal is a pure projection."""
    import __spark_entry__ as E
    from thecrowler_spark.operators.scraping import apply_scraping_rules

    pages = E._scrape_pages(spark, SF_DIR)
    plan = _plan(apply_scraping_rules(pages, E.SCRAPE_RULES))
    # the ONLY allowed Exchange is the input-parallelizing round-robin
    # repartition of the single-row-group fixture (r6 `_load` widen,
    # upstream of the rules); the rule engine itself must add no keyed
    # exchange, join, sort, or Python evaluation
    assert plan.count("Exchange") == plan.count("RoundRobinPartitioning")
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    for op in ("Join", "CartesianProduct", "BatchEvalPython",
               "ArrowEvalPython", "Sort"):
        assert op not in plan, op


def test_semdedup_pair_join_is_equi_on_cell(spark):
    """semdedup's pair stage must be a cell-keyed equi-join (hash or
    sort-merge), never an unbounded nested loop; the only nested-loop
    join allowed is the bounded broadcast of the n_cells centroid
    table during assignment."""
    import re

    from thecrowler_spark.operators.similarity import semdedup

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda j: F.pmod(F.xxhash64(F.col("id"), j), 100).cast("double"),
        ).alias("embedding"),
    )
    plan = _plan(semdedup(emb, n_cells=8, eps=0.99))
    assert "CartesianProduct" not in plan
    # the pair stage keys on cell (hash/sort-merge/broadcast-hash all
    # fine — AQE picks); what must NOT happen is a nested loop over
    # the corpus pairs
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[cell#\d+", plan
    )


def test_langid_single_dispatch_no_union(spark):
    """The trigram detector must build its trigram stream with ONE
    script-dispatched explode over the input, never a union of
    per-script filtered legs: the union form references the caller's
    upstream plan once per script plus the winner join-back, which
    re-renders (and with AQE re-executes) deep lineage per leg — the
    observed driver explainString OOM at pipeline stage 6. The profile
    table must come in as a broadcast, and nothing may cartesian."""
    from thecrowler_spark.operators.langid import detect_language

    plan = _plan(detect_language(_docs(spark)))
    assert "Union" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_bigram_lm_broadcasts_vocab_no_cartesian(spark):
    from thecrowler_spark.operators.lm import doc_bigram_scores

    plan = _plan(doc_bigram_scores(_docs(spark), vocab_size=300))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the exploded bigram occurrence stream must meet the vocabulary
    # through a broadcast, never a shuffle on the hot (t1, t2) key
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_url_filter_broadcasts_blocklist_no_url_shuffle(spark):
    """The blocklist must come to the URL stream as a broadcast; the
    URL stream itself must not exchange at all (scoring is pure
    codegen expressions)."""
    from thecrowler_spark.operators.urlfilter import url_quality_filter

    urls = spark.range(1000).select(
        F.col("id"),
        F.concat(
            F.lit("https://h"), (F.col("id") % 50).cast("string"),
            F.lit(".example.com/p/"), F.col("id").cast("string"),
        ).alias("url"),
    )
    blocklist = spark.range(0, 50, 2).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example.com")).alias("host")
    )
    plan = _plan(url_quality_filter(urls, blocklist))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only exchange permitted is the blocklist's BroadcastExchange
    # (+ its tiny distinct): no shuffle exchange of the URL stream
    import re

    assert not re.search(r"Exchange hashpartitioning\([a-z_]*url", plan)


def test_select_representatives_no_window_partial_agg(spark):
    """The per-cluster argmax must be a partial-aggregable max(struct),
    never a row_number window (a hot component would serialize onto
    one task)."""
    from thecrowler_spark.operators.dedup import select_representatives

    comps = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("component")
    )
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 13 % 997).alias("n_chars")
    )
    plan = _plan(select_representatives(comps, docs))
    assert "Window" not in plan
    assert "partial_max" in plan or "HashAggregate" in plan


def test_dust_canon_broadcasts_dim_no_url_shuffle(spark):
    """The DUST valve's seen-key rewrite (dust.canonicalize_with_dim)
    must broadcast the tiny per-host dim — the URL stream itself never
    exchanges for the canon."""
    from thecrowler_spark.operators.dust import canonicalize_with_dim, dust_param_dim, dust_rules

    log = spark.createDataFrame(
        [(f"https://h.example.com/p?page={p}&sid={s}", f"h{p}")
         for p in range(4) for s in range(3)],
        "url string, content_hash string",
    )
    dim = dust_param_dim(dust_rules(log, min_support=2))
    urls = spark.range(2000).select(
        F.concat(F.lit("https://h.example.com/p?page=1&sid="), F.col("id")).alias("url")
    )
    plan = _plan(canonicalize_with_dim(urls, dim, passthrough_unmatched=True))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # no shuffle of the URL stream: the only exchanges are the broadcast
    # and the dim's own tiny aggregation — never a hashpartitioning on
    # the url column
    assert "hashpartitioning(url" not in plan


def test_opic_rounds_are_equijoin_partial_agg_no_window(spark):
    """Each OPIC round must be an edges⋈cash equi-join + a dst-key
    partial agg; N and the virtual pot enter as broadcast 1-row
    aggregates. No window function (a per-node running anything would
    serialize), no cartesian on the node/edge stream (the only
    nested-loop joins are the broadcast 1-row pot/N attachments)."""
    from thecrowler_spark.operators.opic import opic_importance

    edges = spark.range(5000).select(
        (F.col("id") % 500).alias("src"), ((F.col("id") * 7 + 3) % 500).alias("dst")
    )
    # persist_each=False keeps the full round lineage in ONE plan for
    # shape introspection (the r6 default eagerly checkpoints per round,
    # which truncates the plan to an RDD scan before it can be asserted)
    plan = _plan(opic_importance(edges, n_iter=2, persist_each=False))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # hot-page in-degree skew dies map-side: contribution sums are
    # partial-agg'd before the dst-key exchange
    assert "partial_sum" in plan or "partial sum" in plan.lower()
    # the 1-row pot/N legs ride broadcasts, not shuffles
    assert "BroadcastExchange" in plan


def test_opic_seed_claim_bounded_topk_no_cartesian(spark):
    """The job-level OPIC re-seed (crawl_job --opic-from) must stay
    equi-join-shaped end-to-end: no cartesian anywhere (the OPIC
    rounds, the frontier anti-join, and the importance attachment are
    all keyed joins), and the final importance ordering is the bounded
    top-k (TakeOrderedAndProject), never a global Sort of the
    candidate stream."""
    from jobs.crawl_job import opic_seed_claim
    from thecrowler_spark.sources.corpus import big_corpus_df

    docs = big_corpus_df(spark, n_docs=200, n_hosts=8, links_per_page=3)
    pid = F.regexp_extract("doc_id", r"p([0-9]+)$", 1).cast("long")
    prior = (
        docs.select("doc_id", pid.alias("p"))
        .filter(F.col("p") < 20)
        .select(F.col("doc_id").alias("url"))
    )
    plan = _plan(opic_seed_claim(spark, docs, prior, n_seeds=10, n_rounds=2))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # a GLOBAL Sort outside the top-k would mean the whole candidate
    # frontier sorts on one ordering pass; the per-partition sorts of
    # sort-merge joins (global=false) are fine
    import re

    globals_ = re.findall(r"\bSort \[[^\]]*\], true\b", plan)
    assert not globals_, f"unexpected global Sort nodes: {len(globals_)}"


def test_job_seed_leg_is_parallel_filter(spark):
    """crawl_job's seed derivation ("the N lowest page ids") must plan
    as a parallel filter over the dense id space — never a top-k /
    global limit, which funnels every seed row through one partition
    (or the driver) and shows up as a serial phase that caps the
    job-level N->4N scaling pair at large seed counts. The seed set is
    identical either way because big_corpus_df ids are dense 0..n-1."""
    import argparse

    from jobs.crawl_job import build_inputs

    args = argparse.Namespace(
        docs=500, hosts=8, links=3, seeds=50, budget_per_round=100
    )
    docs, seeds, robots, budgets = build_inputs(spark, args)
    plan = _plan(seeds)
    assert "TakeOrderedAndProject" not in plan
    assert "CollectLimit" not in plan
    assert "GlobalLimit" not in plan
    import re

    globals_ = re.findall(r"\bSort \[[^\]]*\], true\b", plan)
    assert not globals_, f"unexpected global Sort nodes: {len(globals_)}"
    # and the set semantics hold: exactly the N lowest dense ids
    got = sorted(r["source_id"] for r in seeds.select("source_id").collect())
    assert got == list(range(50))


def test_feed_items_no_udf_no_cartesian_topk(spark):
    from thecrowler_spark.operators.feeds import parse_feed_items

    feeds = spark.createDataFrame(
        [(0, "https://feeds.example.com/f.xml", "<rss><channel></channel></rss>")],
        "feed_order int, feed_url string, body string",
    )
    plan = _plan(parse_feed_items(feeds, query="x", page_size=10, max_pages=1))
    # extraction is pure JVM column expressions; the global rank is a
    # distributed TakeOrdered into the two-phase row number — no
    # single-task global sort, no Python in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_cdx_parse_no_udf_and_latest_is_partial_agg(spark):
    from thecrowler_spark.operators.cdx import (
        cdx_records, latest_captures, parse_cdx_records, surt_key,
    )

    pages = spark.createDataFrame(
        [(0, "idx", '{"url":"https://example.com/","timestamp":"20260101000000"}')],
        "page_order int, index_name string, body string",
    )
    plan = _plan(parse_cdx_records(pages, page_size=10, max_pages=1))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan

    recs = cdx_records(pages).select(
        surt_key(F.col("url")).alias("surt"), "url", "timestamp", "digest"
    )
    lplan = _plan(latest_captures(recs, key_col="surt"))
    # newest-per-key must be partial→final aggregation (a 10^6-capture
    # urlkey collapses map-side before the ONE key exchange), never a
    # window; struct max compiles to SortAggregate whose sorts are
    # per-partition (global=false) — no range exchange / global sort
    assert "Window" not in lplan
    assert "partial_max" in lplan
    assert "rangepartitioning" not in lplan
    assert "], true, 0" not in lplan  # any Sort present is per-partition only


def test_infoseed_claim_and_merge_shapes(spark):
    from thecrowler_spark.operators.infoseed import (
        claim_information_seeds, merge_claimed_seeds,
    )

    seeds = spark.range(200).select(
        F.col("id").alias("information_seed_id"),
        F.concat(F.lit("seed-"), F.col("id")).alias("information_seed"),
        F.lit("new").alias("status"), F.lit("").alias("priority"),
        F.lit("").alias("engine"), F.lit(False).alias("disabled"),
        F.lit(0).cast("int").alias("attempts"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("created_at"),
        F.lit(None).cast("timestamp").alias("last_processed_at"),
        F.lit(None).cast("timestamp").alias("last_error_at"),
    )
    claimed = claim_information_seeds(seeds, 10, "e", "2026-03-01 00:00:00")
    plan = _plan(claimed)
    # FIFO limit = TakeOrdered, eligibility a pure filter — no window,
    # no global sort exchange
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "rangepartitioning" not in plan
    mplan = _plan(merge_claimed_seeds(seeds, claimed))
    # the big seed table must not shuffle: claimed side broadcasts
    assert "BroadcastHashJoin" in mplan or "BroadcastExchange" in mplan
    assert "CartesianProduct" not in mplan


def test_persist_candidates_shapes(spark):
    from thecrowler_spark.operators.persist import persist_candidates

    sources = spark.range(50).select(
        F.col("id").alias("source_id"),
        F.concat(F.lit("https://s"), F.col("id"), F.lit(".test/")).alias("url"),
        F.lit("n").alias("name"), F.lit("high").alias("priority"),
        F.lit(2).cast("int").alias("restricted"), F.lit(0).cast("int").alias("flags"),
        F.lit("{}").alias("config"), F.lit(False).alias("disabled"),
        F.lit("new").alias("status"),
    )
    cands = spark.range(300).select(
        F.col("id").cast("int").alias("cand_order"),
        F.concat(F.lit("https://s"), F.col("id") % 150, F.lit(".test/")).alias("url"),
        F.lit("t").alias("title"), F.lit("p").alias("provider"),
        F.lit("q").alias("query"), F.lit(1).cast("int").alias("rank"),
        F.lit(0.5).alias("score"), F.lit("r").alias("reason"),
    )
    import re

    out = persist_candidates(sources, cands, seed_id=1)
    for df in (out["audit"], out["links"]):
        plan = _plan(df)
        # url-key equi-joins + partial aggs; the only window allowed is
        # global_row_number's O(#partitions) _pid prefix sum — never one
        # over the candidate stream (url/cand_order keys)
        for spec in re.findall(r"windowspecdefinition\((\w+)#", plan):
            assert spec == "_pid", plan[:2000]
        assert "CartesianProduct" not in plan


def test_metricsderive_dimensionless_lag_not_single_partition(spark):
    """A config declaring a dimensionless metric must NOT change-detect
    through a window partitioned only on (metric_id, scope, dimensions)
    — for a global metric that is one task holding every observation.
    The r6 two-phase path range-sorts into chunks and windows on
    (_pid, ...), so every Window partition is bounded by the range
    split, and the plan carries the range exchange."""
    from thecrowler_spark.operators.metricsderive import derive_observations

    events = spark.range(200).select(
        F.col("id").alias("event_id"),
        F.lit("click").alias("event"),
        F.lit("u1").alias("identity"),
        F.lit("global").alias("scope"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("observed_at"),
        F.lit('{"status":"ok"}').alias("fields"),
    )
    cfg = [{"metric_id": 1, "value_type": "count", "bucket": "1h",
            "selector": {"event": "click"}}]  # no dimensions
    df = derive_observations(events, cfg)
    plan = _plan(df)
    # the two-phase path is active (the range sort itself runs inside
    # the helper's eager localCheckpoint, so the final plan roots at the
    # checkpointed chunks — carrying the chunk id column): every lag
    # window over the observation stream clusters on (_pid, ...), never
    # on the bare (metric_id, scope, dimensions)
    assert "_pid" in plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    row_lag_specs = [s for s in specs if "observed_at" in s]
    assert row_lag_specs, f"no lag windows found in plan:\n{plan[:2000]}"
    assert all("_pid" in s for s in row_lag_specs), row_lag_specs
    # the only _pid-ordered window is the tiny per-chunk carry lookup
    # (one row per (chunk, group)), which never sees the row stream
    # and the result is still the same rows a plain window would give
    rows = df.orderBy("event_id").select("change_type").collect()
    assert rows[0]["change_type"] == "new"
    assert all(r["change_type"] == "unchanged" for r in rows[1:])


def _search_star_tables(spark, tmp_path):
    """A three-page index star as parquet (file scans keep their
    Filter/Project nodes, unlike local relations)."""
    si = spark.createDataFrame(
        [(f"i{k}", f"https://h.example.com/{k}", f"title {k}", "summary") for k in range(3)],
        "index_id string, page_url string, title string, summary string",
    )
    ki = spark.createDataFrame(
        [("i0", "alpha"), ("i1", "beta"), ("i2", "alpha")], "index_id string, keyword string"
    )
    si.write.parquet(str(tmp_path / "search_index"))
    ki.write.parquet(str(tmp_path / "keyword_index"))
    rd = spark.read
    return rd.parquet(str(tmp_path / "search_index")), rd.parquet(str(tmp_path / "keyword_index"))


def _ancestors(lines: list[str], i: int) -> list[str]:
    """The plan-tree lines above node ``lines[i]``, nearest first."""

    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out, c = [], col(lines[i])
    for line in reversed(lines[:i]):
        if col(line) < c:
            out.append(line)
            c = col(line)
    return out


def test_search_pages_is_one_job_no_exchange(spark):
    """Page search over a doc_id-keyed table is scan → filter → top-k:
    no dedup shuffle, with or without an in-query offset."""
    from thecrowler_spark.operators.search import search

    pages = spark.range(50).select(
        F.format_string("d%03d", "id").alias("doc_id"),
        F.format_string("title %d", "id").alias("title"),
        F.lit("summary").alias("summary"),
        F.format_string("body alpha %d", F.col("id") % 7).alias("body_text"),
        F.lit("en").alias("detected_lang"),
    )
    for q in ("alpha", "alpha title&offset:3&limit:5"):
        plan = _plan(search(pages, q))
        assert "Exchange" not in plan, plan
        assert "TakeOrderedAndProject" in plan, plan


def test_search_star_prefilters_keyword_chain(spark, tmp_path):
    """The star reads keyword_index only below a BroadcastExchange,
    through a Filter on keyword; with no bare terms it never reads it."""
    from thecrowler_spark.operators.search import search_entity_star

    si, ki = _search_star_tables(spark, tmp_path)

    def star(q):
        return search_entity_star(
            si.select("index_id", "page_url"), None, si, q,
            entity_cols=("page_url",), link_col="page_url", keyword_index=ki,
        )

    lines = _plan(star("alpha | title:x")).splitlines()
    scans = [i for i, line in enumerate(lines) if "Scan" in line and "keyword#" in line]
    assert scans, "\n".join(lines)
    for i in scans:
        up = _ancestors(lines, i)
        bx = next((k for k, line in enumerate(up) if "BroadcastExchange" in line), None)
        assert bx is not None, "\n".join(lines)
        assert any("Filter" in line and "keyword#" in line for line in up[:bx]), "\n".join(lines)
    assert sorted(r["page_url"] for r in star("alpha | title:x").collect()) == [
        "https://h.example.com/0", "https://h.example.com/2",
    ]
    assert "keyword#" not in _plan(star("title:1"))
    assert [r["page_url"] for r in star("title:1").collect()] == ["https://h.example.com/1"]


def test_crawl_commits_have_no_outer_join(spark):
    """Every round's counters commit, round 0's included, is one union
    aggregate — no full outer join, exactly one exchange — and round 0's
    frontier is one array expression over the seed table: no join in
    the ``r0/frontier`` plan that ran."""
    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus

    plans: dict[int, str] = {}

    class _CounterPlans(CrawlEngine):
        def _ckpt(self, df, run_id, rnd, name):
            if name == "counters":
                plans[rnd] = _plan(df)
            return super()._ckpt(df, run_id, rnd, name)

    dfs = corpus_to_spark(spark, small_corpus(CorpusSpec(n_hosts=2, pages_per_host=8)))
    assert "config" in dfs["seeds"].columns  # the alternative_links path is planned
    eng = _CounterPlans(spark, dfs["documents"], cfg=CrawlConfig(max_depth=2, max_rounds=4))
    eng.run(dfs["seeds"], run_id="shapes")
    assert sorted(plans) == [0, 1, 2]
    for rnd in (0, 1, 2):
        plan = plans[rnd]
        assert "FullOuter" not in plan, plan
        assert plan.count("Exchange") == 1, plan

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    frontier0 = [
        e.physicalPlanDescription()
        for e in (execs.apply(i) for i in range(execs.size()))
        if e.description() == "crawl/shapes/r0/frontier"
    ]
    assert frontier0
    for plan in frontier0:
        assert "Join" not in plan, plan
