#!/usr/bin/env python
"""spark-submit entry point: the crawl scheduler as a shippable job.

Run (the north-rule packaging, BASELINE.json):

    scripts/build_pyfiles.sh          # → dist/thecrowler_spark.zip
    spark-submit --master local[8] \\
        --py-files dist/thecrowler_spark.zip \\
        jobs/crawl_job.py --docs 50000 --hosts 200 --seeds 16 \\
        --max-depth 2 --check-robots --host-budget \\
        --output /tmp/crawl_out --run-id demo

On a real cluster, swap ``--master`` for YARN/K8s and the same zip +
script ship unchanged; every knob that matters at 10^10 scale
(salt buckets, shuffle partitions, budgets) is a CLI flag.

The corpus is hash-defined (``big_corpus_df``) — no driver data, no
external input; the same generator expresses any corpus size, so the
job demonstrates the full operator chain (seed claim → BFS rounds →
robots → politeness budgets → URL-seen dedup → span parse → lineage)
at whatever scale the cluster affords. ``--resume`` restarts from the
latest per-round manifest in ``--output`` (kill-and-resume path,
SURVEY.md §2.9 checkpoint/resume).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="crowler-spark crawl job")
    p.add_argument("--docs", type=int, default=50000, help="corpus size (hash-defined)")
    p.add_argument("--hosts", type=int, default=200)
    p.add_argument("--links", type=int, default=8, help="links per page")
    p.add_argument("--seeds", type=int, default=16, help="number of seed sources")
    p.add_argument("--max-depth", type=int, default=2)
    p.add_argument("--max-rounds", type=int, default=12)
    p.add_argument("--max-links", type=int, default=0)
    p.add_argument("--check-robots", action="store_true")
    p.add_argument("--host-budget", action="store_true")
    p.add_argument("--budget-per-round", type=int, default=5000)
    p.add_argument("--salt-buckets", type=int, default=32)
    p.add_argument("--seen-filter", default="", choices=["", "cuckoo"],
                   help="URL-seen prefilter in front of the exact join: "
                        "'' = exact join only; cuckoo = a partitioned cuckoo "
                        "filter fed each round's visited delta")
    p.add_argument("--ordering-shards", type=int, default=1,
                   help="mega-source escape hatch: >1 shards per-source "
                        "sequencing windows (drops intra-source total order; "
                        "requires --max-links 0)")
    p.add_argument("--trap-cap", type=int, default=0,
                   help="cap each exploding URL template to this many links per "
                        "round (0 = off, reference parity)")
    p.add_argument("--trap-threshold", type=int, default=1000,
                   help="distinct URLs per (host, template) in one round that "
                        "flags a crawl trap")
    p.add_argument("--dust-from", default=None,
                   help="parquet of a prior run's pages/ — mines DUST rules "
                        "(learned content-irrelevant URL params) from its "
                        "fetch log and applies them to this run's URL-seen "
                        "key (fetch url untouched; default off = parity)")
    p.add_argument("--opic-from", default=None,
                   help="prior run's pages parquet: re-seed THIS run from "
                        "OPIC importance over the prior crawl's link graph "
                        "(Abiteboul WWW'03 — claim the frontier pages "
                        "holding the most cash) instead of the static "
                        "lowest-id seed list")
    p.add_argument("--seeds-from-cdx", default=None,
                   help="parquet dir of fetched CDX index pages "
                        "(page_order, index_name, body); seeds become the "
                        "freshest in-corpus captures (SURT-matched) instead "
                        "of the lowest-id list")
    p.add_argument("--opic-rounds", type=int, default=3,
                   help="OPIC rounds over the prior link graph (--opic-from)")
    p.add_argument("--dust-min-support", type=int, default=3,
                   help="duplicate-content witness groups required before a "
                        "(host, param) pair becomes a DUST rule")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--output", required=True, help="output dir (pages/ visited/ lineage/ checkpoints)")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--chain-visited", default=None,
                   help="parquet of a prior run's visited/ — chains the "
                        "long-lived URL-seen set (prior URLs are not "
                        "refetched unless released)")
    p.add_argument("--release-sources", default=None,
                   help="comma-separated source_ids whose URLs are "
                        "re-crawl-eligible: released from the chained seen "
                        "set (and delete_cuckoo'd from an incremental "
                        "filter) before the run")
    p.add_argument("--write-index", action="store_true",
                   help="MERGE the index star (SearchIndex/WebObjects/...) into <output>/index")
    return p.parse_args(argv)


def build_inputs(spark, args):
    from pyspark.sql import functions as F

    from thecrowler_spark.sources.corpus import SEEDS_SCHEMA, big_corpus_df

    docs = big_corpus_df(
        spark, n_docs=args.docs, n_hosts=args.hosts, links_per_page=args.links
    )
    # seeds = the N lowest page ids' URLs (guaranteed in-corpus),
    # deterministic: the numeric page id embedded in the URL. The ids
    # are dense 0..n_docs-1 by construction (big_corpus_df uses
    # spark.range), so "the N lowest" is exactly `pid < N` — a fully
    # parallel filter. An orderBy+limit here would plan a top-k that
    # funnels every seed row through the driver/one partition, a
    # serial phase that caps N->4N job scaling at large seed counts.
    pid = F.regexp_extract("doc_id", r"p([0-9]+)$", 1).cast("long")
    seed_urls = docs.select("doc_id", pid.alias("pid")).filter(
        F.col("pid") < args.seeds
    )
    seeds = seed_urls.select(
        F.col("pid").alias("source_id"),
        F.sha2(F.col("doc_id"), 256).alias("source_uid"),
        F.col("doc_id").alias("url"),
        F.lit("high").alias("priority"),
        F.lit("new").alias("status"),
        F.lit(2).cast("int").alias("restricted"),
        F.lit(False).alias("disabled"),
        F.lit(0).cast("int").alias("flags"),
        F.lit("{}").alias("config"),
        F.current_timestamp().alias("created_at"),
    )
    # pin column types to SEEDS_SCHEMA with casts — never a
    # collect()+createDataFrame round-trip, which would pull the whole
    # seed list through the driver (fine at N=16, fatal at a 10^6-seed
    # fleet claim)
    seeds = seeds.select(*[F.col(f.name).cast(f.dataType) for f in SEEDS_SCHEMA.fields])

    hosts = spark.range(args.hosts).select(
        F.concat(F.lit("h"), F.col("id").cast("string"), F.lit(".example.com")).alias("host")
    )
    robots = hosts.select("host", F.lit("disallow").alias("rule_type"), F.lit("/private").alias("path_prefix"), F.lit(0.0).alias("crawl_delay"))
    budgets = hosts.select("host", F.lit(args.budget_per_round).cast("int").alias("max_fetches_per_round"), F.lit(0.0).alias("interval_seconds"))
    return docs, seeds, robots, budgets


def opic_seed_claim(spark, docs, prior_pages, n_seeds: int, n_rounds: int = 3):
    """Adaptive re-seed (``--opic-from``): the next run's seed claim
    ordered by OPIC importance over the PRIOR crawl's link graph —
    the paper's intended frontier policy ('crawl the page holding the
    most cash next', Abiteboul WWW'03 §3), replacing ``build_inputs``'
    static lowest-id seed list.

    Only prior-CRAWLED pages distribute cash (their out-links are the
    prior run's observed graph; the job's corpus is hash-defined, so
    the link lists are reproducible without storing them — same trick
    as ``--dust-from``).  Candidates are the discovered-but-uncrawled
    frontier (link targets minus crawled pages), so the claim resumes
    the crawl where the most importance accumulated.  Shapes: one
    src-semi-join to bound edges to the observed graph, K OPIC rounds
    (equi-join + dst-key partial agg each), one source-key equi-join
    at the claim gate — every side O(#pages), never O(#URLs²).
    """
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.frontier import claim_sources
    from thecrowler_spark.operators.opic import opic_importance
    from thecrowler_spark.sources.corpus import SEEDS_SCHEMA

    crawled = prior_pages.select(F.col("url").alias("src")).distinct()
    links = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.expr("filter(spans, s -> s.kind = 'link')")).alias("s"),
    ).select("src", F.col("s.media_ref").alias("dst"))
    edges = links.join(crawled, "src", "left_semi")
    imp = opic_importance(edges, n_iter=n_rounds)

    pid = F.regexp_extract("url", r"p([0-9]+)$", 1).cast("long")
    # deterministic FIFO tie-break within equal importance: discovery
    # order = the page id embedded in the URL
    cands = (
        edges.select(F.col("dst").alias("url"))
        .distinct()
        .join(crawled.select(F.col("src").alias("url")), "url", "left_anti")
        .withColumn("_pid", pid)
        .select(
            F.col("_pid").alias("source_id"),
            F.sha2(F.col("url"), 256).alias("source_uid"),
            "url",
            F.lit("high").alias("priority"),
            F.lit("new").alias("status"),
            F.lit(2).cast("int").alias("restricted"),
            F.lit(False).alias("disabled"),
            F.lit(0).cast("int").alias("flags"),
            F.lit("{}").alias("config"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp")
                + F.expr("make_interval(0,0,0,0,0,0, CAST(_pid AS INT))")
            ).alias("created_at"),
        )
    )
    cands = cands.select(*[F.col(f.name).cast(f.dataType) for f in SEEDS_SCHEMA.fields])
    imp_by_sid = imp.select(
        F.regexp_extract("node", r"p([0-9]+)$", 1).cast("long").alias("source_id"),
        "imp_fp",
    )
    return claim_sources(cands, n_seeds, importance=imp_by_sid)


def cdx_seed_claim(spark, docs, cdx_pages, n_seeds: int):
    """Seed from a Common Crawl CDX index dump (``--seeds-from-cdx``):
    fetched index pages (page_order, index_name, body) → capture
    records → locally computed SURT urlkey → newest capture per key →
    200/text-or-blank valve → in-corpus gate (SURT equi-join against
    the corpus URL universe, so www/case/port variants still match) →
    freshest-first claim, replacing ``build_inputs``' static lowest-id
    seed list.

    Shapes: parse is embarrassingly parallel JVM expressions;
    newest-per-key is one partial-agg groupBy; the corpus gate is one
    surt-key equi-join (both sides pruned to two columns); the claim is
    a TakeOrdered top-k bounded by n_seeds — fine for any real seed
    count, and the only ordered step (everything upstream is
    order-free, so the N→4N job scaling profile keeps no serial phase
    proportional to the corpus).
    """
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.cdx import cdx_records, latest_captures, surt_key
    from thecrowler_spark.sources.corpus import SEEDS_SCHEMA

    pages = (
        spark.read.parquet(cdx_pages) if isinstance(cdx_pages, str) else cdx_pages
    )
    recs = cdx_records(pages).where(
        F.col("status").isin("", "200")
        & (F.col("mime").startswith("text/") | (F.col("mime") == ""))
    )
    latest = latest_captures(
        recs.select(
            surt_key(F.col("url")).alias("surt"),
            "url", "timestamp", "digest", "mime", "status",
        ),
        key_col="surt",
    )
    corpus = docs.select(
        F.col("doc_id").alias("corpus_url"), surt_key(F.col("doc_id")).alias("surt")
    )
    cand = latest.join(corpus, "surt", "inner")
    picked = cand.orderBy(F.desc("timestamp"), "surt").limit(n_seeds)

    pid = F.regexp_extract("corpus_url", r"p([0-9]+)$", 1).cast("long")
    seeds = picked.select(
        pid.alias("source_id"),
        F.sha2(F.col("corpus_url"), 256).alias("source_uid"),
        F.col("corpus_url").alias("url"),
        F.lit("high").alias("priority"),
        F.lit("new").alias("status"),
        F.lit(2).cast("int").alias("restricted"),
        F.lit(False).alias("disabled"),
        F.lit(0).cast("int").alias("flags"),
        F.lit("{}").alias("config"),
        F.current_timestamp().alias("created_at"),
    )
    return seeds.select(*[F.col(f.name).cast(f.dataType) for f in SEEDS_SCHEMA.fields])


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("crowler-spark-crawl")
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()  # master comes from spark-submit
    spark.sparkContext.setLogLevel("ERROR")

    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine

    docs, seeds, robots, budgets = build_inputs(spark, args)
    cfg = CrawlConfig(
        max_depth=args.max_depth,
        max_links=args.max_links,
        max_rounds=args.max_rounds,
        check_robots=args.check_robots,
        use_host_budget=args.host_budget,
        salt_buckets=args.salt_buckets,
        seen_filter=args.seen_filter,
        ordering_shards=args.ordering_shards,
        trap_cap=args.trap_cap,
        trap_threshold=args.trap_threshold,
    )
    if args.opic_from:
        prior_pages = spark.read.parquet(args.opic_from)
        seeds = opic_seed_claim(
            spark, docs, prior_pages, args.seeds, n_rounds=args.opic_rounds
        )
    elif args.seeds_from_cdx:
        seeds = cdx_seed_claim(spark, docs, args.seeds_from_cdx, args.seeds)

    dust = None
    if args.dust_from:
        from pyspark.sql import functions as F

        from thecrowler_spark.operators.dust import dust_rules
        from thecrowler_spark.operators.spans import parse_documents

        # prior fetch log = prior pages joined to the corpus content
        # hashes (the job's corpus is hash-defined, so the prior run's
        # page bodies are reproducible without storing them)
        prior = spark.read.parquet(args.dust_from).select("url").distinct()
        log = prior.join(
            parse_documents(docs).select(
                F.col("doc_id").alias("url"),
                "content_hash",
            ),
            "url",
            "inner",
        )
        dust = dust_rules(log, min_support=args.dust_min_support)

    engine = CrawlEngine(
        spark, docs, cfg=cfg, robots=robots, budgets=budgets,
        work_dir=f"{args.output}/state", dust_rules=dust,
    )

    initial_visited = None
    if args.chain_visited:
        initial_visited = spark.read.parquet(args.chain_visited)
        if args.release_sources:
            from pyspark.sql import functions as F

            ids = [int(s) for s in args.release_sources.split(",") if s.strip()]
            eligible = spark.range(1).select(
                F.explode(F.array(*[F.lit(i) for i in ids])).alias("source_id")
            )
            initial_visited = engine.release_seen(initial_visited, eligible)

    t0 = time.time()
    result = engine.run(
        seeds, run_id=args.run_id, resume=args.resume, initial_visited=initial_visited
    )
    pages_n = result.pages.count()
    visited_n = result.visited.count()
    elapsed = time.time() - t0
    for row in result.lineage:
        # per-round observability (north-rule lineage+metrics): one
        # stderr line per BFS round so a scaling run can attribute
        # wall time to rounds without re-reading checkpoints
        print(
            "# round {r}: {f} fetched, {s} skipped, {d} dup, "
            "{e:.1f}s".format(
                r=row.get("round"),
                f=row.get("fetched", 0),
                s=row.get("skipped", 0),
                d=row.get("duplicates", 0),
                e=row.get("elapsed_sec", 0.0),
            ),
            file=sys.stderr,
        )

    index_snaps = None
    if args.write_index:
        from pyspark.sql import functions as F

        from thecrowler_spark.operators.indexer import build_index_tables, write_index_star

        crawled = engine.parsed.join(
            result.pages.select(F.col("url").alias("doc_id"), "source_id").dropDuplicates(
                ["doc_id", "source_id"]
            ),
            "doc_id",
            "inner",
        )
        star = build_index_tables(crawled, source_col="source_id")
        index_snaps = write_index_star(spark, f"{args.output}/index", star)

    result.pages.write.mode("overwrite").parquet(f"{args.output}/pages")
    result.crawl_order.write.mode("overwrite").parquet(f"{args.output}/crawl_order")
    result.visited.write.mode("overwrite").parquet(f"{args.output}/visited")
    # counters stay distributed: written as a table, never collected into
    # the summary (a 10^6-source claim would OOM the driver JSON)
    result.counters_df.write.mode("overwrite").parquet(f"{args.output}/counters")

    summary = {
        "run_id": args.run_id,
        "pages": pages_n,
        "visited_urls": visited_n,
        "sources": result.counters_df.count(),
        "rounds": len(result.lineage),
        "elapsed_sec": round(elapsed, 2),
        "urls_per_sec": round(visited_n / elapsed, 1) if elapsed > 0 else None,
        "output": args.output,
        "index_snapshots": index_snaps,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
