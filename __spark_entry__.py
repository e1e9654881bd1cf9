"""Driver contract: entry / queries / oracle_sql.

Every implemented operator from SURVEY.md §2 (plus the training-data
pipeline ops) gets a ``queries()`` entry; SQL-expressible ones also get
an ``oracle_sql()`` entry the driver runs through DuckDB at sf=0.01.
Crawl-shaped inputs are synthesized deterministically from the driver's
tables inside BOTH the Spark query and the oracle SQL, so results are
comparable bit-for-bit. Column names/aliases match on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thecrowler_spark.functions import fingerprints as FP
from thecrowler_spark.functions import text as TX
from thecrowler_spark.functions import urls as U
from thecrowler_spark.operators import content_type as CT
from thecrowler_spark.operators import dedup as DD
from thecrowler_spark.operators import linkgraph as LG
from thecrowler_spark.operators import multimodal as MM
from thecrowler_spark.operators import search as SE
from thecrowler_spark.operators import similarity as SIM
from thecrowler_spark.operators import terms as TM
from thecrowler_spark.operators import timeseries as TS

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_SW_SQL = ", ".join(f"'{w}'" for w in TX.STOPWORDS_EN)


def _scan_bytes(path: str) -> int:
    import os

    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if not f.startswith(("_", "."))
        )
    try:
        return os.path.getsize(path)
    except OSError:
        return 1 << 62


def _load(
    spark: SparkSession, sf_dir: str, *names: str, widen: tuple[str, ...] = ()
) -> dict[str, DataFrame]:
    """Read + register the driver tables.

    Tables named in ``widen`` are round-robin repartitioned to the
    session default parallelism when the input cannot produce at least
    one scan task per core (guide §2.5 "input skew: one huge
    unsplittable file → repartition immediately after the read"): the
    driver's fixtures are single-file single-row-group parquet, so a
    scan-rooted stage otherwise runs as ONE task regardless of core
    count. The trade is an extra small exchange (and, on the widened
    table, predicate pushdown), so it is opt-in per query: measured, it
    pays only where the per-row compute above the scan is heavy (HOF
    text kernels, regex chains, per-pair vector math) and loses where
    the scan feeds a cheap projection or an immediate partial aggregate.
    The size condition is scale-adaptive, not tuned to local mode: any
    input big enough to produce >= one task per core at the session's
    maxPartitionBytes is left alone, so at production scale the
    repartition never engages.
    """
    out = {}
    n_par = spark.sparkContext.defaultParallelism
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)))
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        df = spark.read.parquet(path)
        if n in widen and _scan_bytes(path) < n_par * max_split:
            df = df.repartition(n_par)
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


# ------------------------------------------------------------------ helpers
# Synthetic URL universe from orders — identical SQL semantics both sides.

_SPARK_URLS = """
SELECT o_orderkey AS id,
       concat('https://H', CAST(o_orderkey % 50 AS STRING), '.Example.com/Path/',
              CAST(o_orderkey AS STRING),
              CASE WHEN o_orderkey % 7 = 0 THEN '/' ELSE '' END,
              CASE WHEN o_orderkey % 13 = 0 THEN '//' ELSE '' END) AS url
FROM orders
"""

_DUCK_URLS = """
SELECT o_orderkey AS id,
       concat('https://H', CAST(o_orderkey % 50 AS VARCHAR), '.Example.com/Path/',
              CAST(o_orderkey AS VARCHAR),
              CASE WHEN o_orderkey % 7 = 0 THEN '/' ELSE '' END,
              CASE WHEN o_orderkey % 13 = 0 THEN '//' ELSE '' END) AS url
FROM orders
"""

# URL universe for the quality filter: planted spam hosts (every 17th
# order lands on a spamN host; even N are on the blocklist) and planted
# spam path words cycling through clean / soft-scored / strict-fragment
# branches. Identical semantics both sides.
_FILTER_URL_PATHS = """
       CASE {k} % 11
         WHEN 0 THEN 'free-download/win-prizes'
         WHEN 1 THEN 'poker/bet-now'
         WHEN 2 THEN 'adult-dating/pills'
         WHEN 3 THEN 'casino-royale/lobby'
         WHEN 4 THEN 'news/tech-article'
         WHEN 5 THEN 'blog/entry'
         WHEN 6 THEN 'free/ebook'
         WHEN 7 THEN 'xxx-gallery'
         ELSE concat('page/', CAST({k} AS {str_t}))
       END
"""

_SPARK_FILTER_URLS = f"""
SELECT o_orderkey AS id,
       concat('https://',
              CASE WHEN o_orderkey % 17 = 0 THEN 'spam' ELSE 'site' END,
              CAST(o_orderkey % 40 AS STRING), '.example.com/',
              {_FILTER_URL_PATHS.format(k="o_orderkey", str_t="STRING")}) AS url
FROM orders
"""

_DUCK_FILTER_URLS = f"""
SELECT o_orderkey AS id,
       concat('https://',
              CASE WHEN o_orderkey % 17 = 0 THEN 'spam' ELSE 'site' END,
              CAST(o_orderkey % 40 AS VARCHAR), '.example.com/',
              {_FILTER_URL_PATHS.format(k="o_orderkey", str_t="VARCHAR")}) AS url
FROM orders
"""

_VALIDITY_CASES = [
    "https://example.com/a",
    "  http://example.com/b  ",
    "HTTP://upper.example.com",
    "ftp://files.example.com/f",
    "ftps://files.example.com/",
    "ws://sock.example.com",
    "example.com/no-scheme",
    "http://",
    "",
    "   ",
    "ht tp://x.example.com",
    "https://ok.example.com/path?q=1",
]


def _values_sql(quote: str = "'") -> str:
    rows = ", ".join(f"({i}, {quote}{c}{quote})" for i, c in enumerate(_VALIDITY_CASES))
    return f"(VALUES {rows}) AS t(id, url)"


# ------------------------------------------------------------------ queries


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3 + URLToHost: both normalizations and host extraction."""
    _load(spark, sf_dir, "orders", widen=("orders",))
    urls = spark.sql(_SPARK_URLS)
    return urls.select(
        "id",
        "url",
        U.normalize_url_seen("url").alias("norm_url"),
        U.normalize_link("url").alias("fetch_url"),
        U.url_to_host("url").alias("host"),
        U.url_hostname("url").alias("hostname"),
    )


def q_url_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: IsValidURL over a fixed case list."""
    df = spark.createDataFrame(list(enumerate(_VALIDITY_CASES)), "id int, url string")
    return df.select("id", "url", U.is_valid_url("url").alias("is_valid"))


def q_url_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: relative-URL resolution."""
    _load(spark, sf_dir, "orders")
    base = spark.sql(_SPARK_URLS).select(
        "id",
        F.col("url").alias("base_url"),
        F.when(F.col("id") % 3 == 0, F.concat(F.lit("/page/"), (F.col("id") % 97).cast("string")))
        .when(F.col("id") % 3 == 1, F.concat(F.lit("https://abs.example.org/x"), (F.col("id") % 11).cast("string")))
        .otherwise(F.lit("relative/not-root"))
        .alias("link"),
    )
    return base.select("id", "base_url", "link", U.combine_urls("base_url", "link").alias("resolved"))


def q_url_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: restriction levels 0-4 over synthesized source/link pairs."""
    _load(spark, sf_dir, "orders")
    df = spark.sql(
        """
        SELECT o_orderkey AS id,
               concat('https://www.site', CAST(o_orderkey % 20 AS STRING), '.example.com/home') AS source_url,
               CASE o_orderkey % 4
                 WHEN 0 THEN concat('https://www.site', CAST(o_orderkey % 20 AS STRING), '.example.com/home/sub')
                 WHEN 1 THEN concat('https://blog.site', CAST(o_orderkey % 20 AS STRING), '.example.com/post')
                 WHEN 2 THEN concat('https://other', CAST(o_orderkey % 5 AS STRING), '.example.org/x')
                 ELSE '/relative/path'
               END AS link_url,
               CAST(o_orderkey % 5 AS INT) AS lvl
        FROM orders
        """
    )
    return df.select(
        "id", "source_url", "link_url", "lvl",
        U.is_external_link("source_url", "link_url", "lvl").alias("is_external"),
    )


def q_frontier_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: eligible-filter → FIFO order → limit claim."""
    _load(spark, sf_dir, "orders")
    seeds = spark.sql(
        """
        SELECT o_orderkey AS source_id,
               concat('https://h', CAST(o_orderkey % 50 AS STRING), '.example.com/p0') AS url,
               CASE WHEN o_orderpriority LIKE '1%' THEN 'high'
                    WHEN o_orderpriority LIKE '2%' THEN 'medium' ELSE 'low' END AS priority,
               CASE o_orderstatus WHEN 'O' THEN 'new' WHEN 'F' THEN 'completed' ELSE 'processing' END AS status,
               o_orderdate AS created_at
        FROM orders
        """
    )
    return (
        seeds.filter(F.col("status").isin("new", "pending", "completed", "error"))
        .filter(F.col("priority").isin("high", "medium"))
        .orderBy("created_at", "source_id")
        .limit(100)
    )


def q_frontier_claim_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 full eligibility: the update_sources interval OR-chain
    (last_ok_update / regular_crawling / error-retry / stale-processing
    re-claim) over synthesized source state; fixed `now` so the claim
    is deterministic. Reference: postgresql-setup.pgsql:2864-2884."""
    from thecrowler_spark.operators.frontier import claim_sources

    _load(spark, sf_dir, "orders")
    seeds = spark.sql(
        """
        SELECT o_orderkey AS source_id,
               concat('https://h', CAST(o_orderkey % 50 AS STRING), '.example.com/p0') AS url,
               CASE CAST(o_orderkey % 6 AS INT)
                 WHEN 0 THEN 'new' WHEN 1 THEN 'pending' WHEN 2 THEN 'completed'
                 WHEN 3 THEN 'error' WHEN 4 THEN 'processing' ELSE NULL END AS status,
               o_orderkey % 37 = 0 AS disabled,
               CASE WHEN o_orderpriority LIKE '1%' THEN 'high'
                    WHEN o_orderpriority LIKE '2%' THEN 'medium' ELSE 'low' END AS priority,
               CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE timestamp'1995-06-01 00:00:00' - make_interval(0, 0, 0, 0, CAST(o_orderkey % 100 AS INT), 0, 0)
               END AS last_updated_at,
               o_orderdate AS created_at
        FROM orders
        """
    )
    claimed = claim_sources(
        seeds,
        100,
        priorities=("high", "medium"),
        now="1995-06-01 00:00:00",
        last_ok_update="12 hours",
        regular_crawling="6 hours",
    )
    return claimed.select("source_id", "status", "priority", "last_updated_at", "created_at")


def q_politeness_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host politeness budget through the engine's operator (SURVEY
    §2.5): 20 hosts, 5 fetches each; the host/URL strings are built for
    the ≤ 100 kept rows only."""
    from thecrowler_spark.operators.politeness import enforce_host_budget

    li = _load(spark, sf_dir, "lineitem")["lineitem"]
    links = li.select((F.col("l_suppkey") % 20).alias("hk"), "l_orderkey", "l_linenumber")
    budgets = spark.range(20).select(
        F.col("id").alias("host"), F.lit(5).alias("max_fetches_per_round")
    )
    kept = enforce_host_budget(
        links, budgets, host_col="hk", order_cols=("l_orderkey", "l_linenumber")
    )
    return kept.selectExpr(
        "concat('h', CAST(hk AS STRING), '.example.com') AS host",
        "concat('https://h', CAST(hk AS STRING), '.example.com/o',"
        " CAST(l_orderkey AS STRING), '/', CAST(l_linenumber AS STRING)) AS url",
        "fetch_rank",
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 longest-prefix robots decision per URL."""
    _load(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH urls AS (
          SELECT o_orderkey AS id,
                 concat('https://h', CAST(o_orderkey % 10 AS STRING), '.example.com') AS host_url,
                 concat('h', CAST(o_orderkey % 10 AS STRING), '.example.com') AS host,
                 CASE o_orderkey % 4
                   WHEN 0 THEN concat('/public/a', CAST(o_orderkey % 7 AS STRING))
                   WHEN 1 THEN concat('/private/s', CAST(o_orderkey % 7 AS STRING))
                   WHEN 2 THEN '/private/s0'
                   ELSE '/' END AS path
          FROM orders
        ),
        rules AS (
          SELECT concat('h', CAST(h AS STRING), '.example.com') AS host, rule_type, path_prefix
          FROM (SELECT explode(sequence(0, 9)) AS h)
          LATERAL VIEW inline(array(
             named_struct('rule_type','disallow','path_prefix','/private'),
             named_struct('rule_type','allow','path_prefix','/private/s0')
          )) t AS rule_type, path_prefix
        ),
        matched AS (
          SELECT u.id, u.host, u.path, r.rule_type, length(r.path_prefix) AS plen,
                 ROW_NUMBER() OVER (PARTITION BY u.id ORDER BY length(r.path_prefix) DESC, r.rule_type ASC) AS rn
          FROM urls u LEFT JOIN rules r
            ON u.host = r.host AND u.path LIKE concat(r.path_prefix, '%')
        )
        SELECT id, host, path,
               COALESCE(rule_type = 'disallow', false) AS blocked
        FROM matched WHERE rn = 1
        """
    )


def q_url_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: candidates ∖ seen (left_anti on the normalized key)."""
    _load(spark, sf_dir, "orders")
    urls = spark.sql(_SPARK_URLS).withColumn("norm_url", U.normalize_url_seen("url"))
    seen = urls.filter(F.col("id") % 3 == 0).select("norm_url").distinct()
    cand = urls.filter(F.col("id") % 2 == 0)
    return cand.join(seen, "norm_url", "left_anti").select("id", "norm_url")


def q_url_seen_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2 via the deletion-capable cuckoo prefilter: candidates ∖
    (seen − re-eligible) — negatives skip the exact join, the deleted
    slice re-emerges crawlable. Result is set-identical to plain SQL
    (the prefilter is never authoritative), so it oracle-checks."""
    from thecrowler_spark.operators import cuckoo as CK

    _load(spark, sf_dir, "orders")
    urls = spark.sql(_SPARK_URLS).withColumn("norm_url", U.normalize_url_seen("url"))
    seen = urls.filter(F.col("id") % 3 == 0).select("norm_url").distinct()
    recrawl = urls.filter((F.col("id") % 3 == 0) & (F.col("id") % 5 == 0)).select(
        "norm_url"
    ).distinct()
    ck = CK.delete_cuckoo(CK.build_cuckoo(seen, n_buckets=16), recrawl, n_buckets=16)
    effective_seen = seen.join(recrawl, "norm_url", "left_anti")
    cand = urls.filter(F.col("id") % 2 == 0)
    return CK.dedup_with_cuckoo(
        cand, effective_seen, n_buckets=16, cuckoo=ck
    ).select("id", "norm_url")


def q_frontier_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-level first-occurrence dedup (sequential visited semantics)."""
    _load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT norm_url, l_orderkey AS kept_order, l_linenumber AS kept_line FROM (
          SELECT lower(concat('https://h', CAST(l_partkey % 100 AS STRING), '.example.com/p',
                 CAST(l_partkey AS STRING))) AS norm_url,
                 l_orderkey, l_linenumber,
                 ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS occ
          FROM lineitem
        ) WHERE occ = 1
        """
    )


#: every docTypeMap extension + two unknowns — the content_type oracle
#: exercises the full 96-entry transcribed map
_DOC_EXTS = sorted(CT.DOC_TYPE_MAP) + ["xyz", "noext"]


def q_content_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: extension-map content typing — media map (11 media types)
    plus the FULL docTypeMap transcription (inferDocumentType,
    web.go:3404-3429 + types.go:324-413) over all 96 extensions."""
    from thecrowler_spark.operators.content_type import infer_doc_type

    part = _load(spark, sf_dir, "part")["part"]
    ext = F.element_at(
        F.array(*[F.lit(e) for e in _DOC_EXTS]),
        (F.col("p_partkey") % len(_DOC_EXTS)).cast("int") + 1,
    )
    refs = part.select(
        F.col("p_partkey").alias("id"),
        F.concat(
            F.lit("https://cdn.example.com/f"), F.col("p_partkey").cast("string"), F.lit("."), ext
        ).alias("media_ref"),
    )
    return refs.select(
        "id",
        "media_ref",
        MM.media_type_expr(F.col("media_ref")).alias("media_type"),
        infer_doc_type(F.col("media_ref")).alias("doc_type"),
    )


#: planted tech signatures for the graded detection query:
#: (modulus, remainder, html snippet) — shared by the Spark page
#: synthesis and the DuckDB oracle so the engines cannot drift
_TECH_PLANTS = [
    (4, 0, ' <script src="/wp-content/themes/a/app.js"></script>'),
    (4, 1, ' <div data-reactroot></div> <script src="https://cdn.shopify.com/s/f.js"></script>'),
    (5, 0, ' <script src="/assets/jquery.min.js"></script>'),
    (6, 0, ' <link href="/css/bootstrap.min.css">'),
    (9, 0, ' <script src="https://www.google-analytics.com/analytics.js"></script>'),
]
#: header-rule key → flat oracle column
_TECH_HEADER_COLS = {
    "server": "h_server",
    "x-powered-by": "h_xpb",
    "content-security-policy": "h_csp",
}


def _tech_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic detection corpus over documents: planted body
    snippets, wp-admin URLs, a 3-way server header rotation, PHP /
    CSP headers and generator metas on doc_id arithmetic."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    i = F.col("doc_id")
    body = F.concat(
        F.substring(F.col("text"), 1, 80),
        *[
            F.when((i % m) == r, F.lit(s)).otherwise(F.lit(""))
            for m, r, s in _TECH_PLANTS
        ],
    )
    url = F.concat(
        F.lit("https://h"), (i % 7).cast("string"), F.lit(".example.com/"),
        F.when(i % 4 == 0, F.lit("wp-admin/p")).otherwise(F.lit("p")),
        i.cast("string"),
    )
    server = (
        F.when(i % 3 == 0, F.lit("nginx/1.24.0"))
        .when(i % 3 == 1, F.lit("Apache/2.4.58 (Unix)"))
        .otherwise(F.lit("cloudflare"))
    )
    headers = F.map_filter(
        F.create_map(
            F.lit("server"), server,
            F.lit("x-powered-by"), F.when(i % 4 == 0, F.lit("PHP/8.2.7")),
            F.lit("content-security-policy"),
            F.when(i % 2 == 0, F.lit("default-src 'self'")),
        ),
        lambda k, v: v.isNotNull(),
    )
    gen = F.when(i % 4 == 0, F.lit("WordPress 6.4.2")).when(
        i % 10 == 7, F.lit("Drupal 10")
    )
    metas = F.when(
        gen.isNotNull(),
        F.array(F.struct(F.lit("generator").alias("name"), gen.alias("content"))),
    ).otherwise(F.array().cast("array<struct<name:string,content:string>>"))
    return docs.select(
        "doc_id", url.alias("url"), body.alias("body"),
        headers.alias("headers"), metas.alias("metas"),
    )


_SEL_ELEM_TYPE = "array<struct<text:string,attrs:map<string,string>>>"


def _tech_pages_selectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_tech_pages + a ``selectors`` column — the DOM extraction as
    data (selector → matched elements with text + attributes), the
    shape detection.go:492-514's ``doc.Find(key).Each`` consumes.
    Plants: a Matomo tracking snippet in <script> text (two scripts on
    doc_id%10==0 — element multiplicity), rotating script src attrs
    (AngularJS / jQuery), and an attribute-exists-but-empty
    ``data-v-app`` div (the '*' pattern form)."""
    i = F.col("doc_id")
    script_text = F.when(
        i % 5 == 0, F.lit('_paq.push(["trackPageView"]);')
    ).otherwise(F.lit('console.log("x");'))
    script_attrs = F.map_filter(
        F.create_map(
            F.lit("src"),
            F.when(i % 3 == 0, F.lit("/js/angular.min.js"))
            .when(i % 3 == 1, F.lit("/js/jquery-3.6.0.min.js")),
        ),
        lambda k, v: v.isNotNull(),
    )
    e1 = F.struct(script_text.alias("text"), script_attrs.alias("attrs"))
    e2 = F.struct(
        F.lit('_paq.push(["enableLinkTracking"]);').alias("text"),
        F.create_map(F.lit("src"), F.lit("/js/matomo.js")).alias("attrs"),
    )
    script_arr = F.when(i % 10 == 0, F.array(e1, e2)).otherwise(F.array(e1))
    app_el = F.struct(
        F.lit("loading").alias("text"),
        F.create_map(F.lit("data-v-app"), F.lit("")).alias("attrs"),
    )
    app_arr = (
        F.when(i % 7 == 0, F.array(app_el))
        .otherwise(F.array().cast(_SEL_ELEM_TYPE))
    )
    return _tech_pages(spark, sf_dir).withColumn(
        "selectors",
        F.create_map(F.lit("script"), script_arr, F.lit("div#app"), app_arr),
    )


def q_detected_tech_selectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Technology detection over selector-bearing pages: the
    CSS-selector signature branch (detection.go:492-514) composed with
    every body/url/header/meta rule of q_detected_tech — element text
    regexes, attribute-value regexes, attribute-exists '*' rules, and
    per-element confidence multiplicity."""
    from thecrowler_spark.operators.detection import (
        DEFAULT_TECH_RULES,
        SELECTOR_TECH_RULES,
        detect_technologies,
        tech_rules_df,
    )

    rules = tech_rules_df(spark, DEFAULT_TECH_RULES + SELECTOR_TECH_RULES)
    return detect_technologies(_tech_pages_selectors(spark, sf_dir), rules)


# --- scraping-rule engine fixtures (scraper/rules.go ApplyRule) ------ #

#: scraping-rule set for the graded queries: exercises rule↔URL
#: matching (CheckURL+IsURL), ordered selector fallback, attribute
#: extraction + its error path, extract_all multiplicity, regex
#: selectors (group-1), value/attribute match filters, a critical
#: abort, and replace/clean/validate post-processing — every branch
#: planted on doc_id arithmetic the DuckDB oracle replays.
SCRAPE_RULES = [
    {
        "rule_name": "product",
        "url_patterns": [r"https?://shop\.example\.com/.*"],
        "elements": [
            {"key": "title", "critical": True, "selectors": [
                {"selector_type": "css", "selector": "h1.title"}]},
            {"key": "price", "selectors": [
                {"selector_type": "css", "selector": "span.price",
                 "extract_type": "attribute", "extract_pattern": "data-price"},
                {"selector_type": "css", "selector": "span.price"}]},
            {"key": "links", "selectors": [
                {"selector_type": "css", "selector": "a.next",
                 "extract_all": True,
                 "extract_type": "attribute", "extract_pattern": "href"}]},
            {"key": "skus", "selectors": [
                {"selector_type": "regex", "selector": "SKU-([0-9]+)",
                 "extract_all": True}]},
        ],
        "post_processing": [
            {"type": "replace",
             "details": {"target": "Item", "replacement": "Prod"}},
            {"type": "clean", "details": {"remove_extra_whitespace": True}},
        ],
    },
    {
        "rule_name": "article",
        "url_patterns": [r"https?://news\.example\.com/.*"],
        "elements": [
            {"key": "headline", "selectors": [
                {"selector_type": "css", "selector": "h1.title",
                 "value_regex": "Item"}]},
            {"key": "currency", "selectors": [
                {"selector_type": "css", "selector": "span.price",
                 "attr_name": "currency", "attr_value": "US.",
                 "extract_type": "attribute", "extract_pattern": "currency"}]},
            {"key": "first_sku", "selectors": [
                {"selector_type": "regex", "selector": "SKU-([0-9]+)"}]},
        ],
        "post_processing": [
            # substring-containment validate (transforms.go:43-62); on
            # failure the chain aborts and the raw marshal is kept.
            {"type": "validate", "details": {"keys": ['"currency":"USD"']}},
            {"type": "replace",
             "details": {"target": "Item", "replacement": "Story"}},
        ],
    },
]

#: rule group for the graded group query: merge-append key collision,
#: a mid-group critical failure stopping later rules while keeping the
#: failing rule's partial map, and group-level post-processing.
SCRAPE_GROUP = {
    "group_name": "catalog",
    "rules": [
        {"rule_name": "base", "url_patterns": ["*"], "elements": [
            {"key": "title", "selectors": [
                {"selector_type": "css", "selector": "h1.title"}]}]},
        {"rule_name": "extras", "url_patterns": ["*"], "elements": [
            {"key": "title", "selectors": [
                {"selector_type": "regex", "selector": "SKU-([0-9]+)",
                 "extract_all": True}]},
            {"key": "link", "critical": True, "selectors": [
                {"selector_type": "css", "selector": "a.next",
                 "extract_type": "attribute", "extract_pattern": "href"}]}]},
        {"rule_name": "after", "url_patterns": ["*"], "elements": [
            {"key": "last", "selectors": [
                {"selector_type": "css", "selector": "span.price"}]}]},
    ],
    "post_processing": [
        {"type": "replace", "details": {"target": "/p/", "replacement": "@"}},
    ],
}


def _scrape_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic scraping corpus over documents: shop/news URL
    split, SKU-bearing bodies, and a selectors map planting a missing
    title (doc_id%11==3), a data-price attribute gap (%4==1), an EUR
    currency (%9==2), a missing href on the first a.next (%13==5) and
    a second a.next element on even ids — all doc_id arithmetic shared
    with the DuckDB oracles."""
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    i = F.col("doc_id")
    url = (
        F.when(i % 3 == 2,
               F.concat(F.lit("https://news.example.com/a/"), i.cast("string")))
        .otherwise(F.concat(F.lit("https://shop.example.com/p/"), i.cast("string")))
    )
    body = F.concat(
        F.lit("ref SKU-"), ((i * 7) % 1000).cast("string"),
        F.when(i % 5 == 0, F.lit(" and SKU-42")).otherwise(F.lit("")),
    )
    title_el = F.struct(
        F.concat(F.lit("Item  "), i.cast("string")).alias("text"),
        F.create_map().cast("map<string,string>").alias("attrs"),
    )
    title_arr = (
        F.when(i % 11 == 3, F.array().cast(_SEL_ELEM_TYPE))
        .otherwise(F.array(title_el))
    )
    price_attrs = F.map_filter(
        F.create_map(
            F.lit("currency"),
            F.when(i % 9 == 2, F.lit("EUR")).otherwise(F.lit("USD")),
            F.lit("data-price"), F.when(i % 4 != 1, i.cast("string")),
        ),
        lambda k, v: v.isNotNull(),
    )
    price_arr = F.array(F.struct(
        F.concat(i.cast("string"), F.lit(" USD")).alias("text"),
        price_attrs.alias("attrs"),
    ))
    next1 = F.struct(
        F.lit("next").alias("text"),
        F.map_filter(
            F.create_map(
                F.lit("href"),
                F.when(i % 13 != 5, F.concat(F.lit("/p/"), (i + 1).cast("string"))),
            ),
            lambda k, v: v.isNotNull(),
        ).alias("attrs"),
    )
    next2 = F.struct(
        F.lit("more").alias("text"),
        F.create_map(
            F.lit("href"), F.concat(F.lit("/p/"), (i + 2).cast("string"))
        ).alias("attrs"),
    )
    next_arr = F.when(i % 2 == 0, F.array(next1, next2)).otherwise(F.array(next1))
    return docs.select(
        "doc_id", url.alias("url"), body.alias("body"),
        F.create_map(
            F.lit("h1.title"), title_arr,
            F.lit("span.price"), price_arr,
            F.lit("a.next"), next_arr,
        ).alias("selectors"),
    )


def q_scraped_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scraping-rule field extraction (ApplyRule, scraper/rules.go:
    51-108 + extractor.go): one row per (page, rule, element, value)
    with ordered-fallback selection, attribute/regex extraction,
    critical-abort statuses and the per-rule error flag."""
    from thecrowler_spark.operators.scraping import apply_scraping_rules

    out = apply_scraping_rules(_scrape_pages(spark, sf_dir), SCRAPE_RULES)
    return out.select(
        "doc_id", "rule_name", "elem_key", "elem_seq", "status", "rule_error",
        F.posexplode_outer("vals").alias("pos", "val"),
    )


def q_scraped_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule marshaled result after post-processing (rules.go:
    104-124 + transforms.go): Go-marshal shaping (sorted keys, scalar/
    array/null), replace + clean text transforms, and the validate
    abort path that keeps the unprocessed marshal."""
    from thecrowler_spark.operators.scraping import apply_scraping_rules

    out = apply_scraping_rules(_scrape_pages(spark, sf_dir), SCRAPE_RULES)
    return out.filter(F.col("elem_seq") == 0).select(
        "doc_id", "rule_name", "scraped_json", "rule_error"
    )


def q_scraped_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ApplyRulesGroup (rules.go:213-274): merge-append collisions,
    stop-at-first-failing-rule with the partial map kept, group
    post-processing skipped on error."""
    from thecrowler_spark.operators.scraping import apply_rules_group

    out = apply_rules_group(_scrape_pages(spark, sf_dir), SCRAPE_GROUP)
    return out.select("doc_id", "group_name", "scraped_json", "group_error")


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """infoseed candidate canonicalization (NormalizeURL +
    NormalizeCandidatesWithRejections + ApplyBuiltInCandidateFilters,
    /root/reference/pkg/infoseed/candidates.go:89-222): tracking params
    stripped + query key-sorted + default ports dropped, URL/host dedup
    with stable rejection reasons, scheme/domain-set filters and
    per-host caps — every drop auditable."""
    from thecrowler_spark.operators.candidates import (
        apply_candidate_filters,
        normalize_candidates,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    i = F.col("doc_id")
    # deterministic messy candidates: tracking params, default ports,
    # mixed-case schemes/hosts, fragments, duplicates, denied hosts,
    # invalid rows
    url = (
        F.when(i % 11 == 0, F.concat(F.lit("HTTPS://Ads.Example.ORG:443/t"), (i % 5).cast("string"), F.lit("?gclid=g"), i.cast("string")))
        .when(i % 7 == 0, F.concat(F.lit("https://h"), (i % 3).cast("string"), F.lit(".example.com:443/p"), (i % 20).cast("string"), F.lit("?utm_source=feed&utm_medium=rss&id="), (i % 4).cast("string")))
        .when(i % 7 == 1, F.concat(F.lit("http://h"), (i % 3).cast("string"), F.lit(".example.com:80/p"), (i % 20).cast("string"), F.lit("#frag"), i.cast("string")))
        .when(i % 7 == 2, F.concat(F.lit("ftp://files.example.com/f"), i.cast("string")))
        .when(i % 7 == 3, F.lit("   "))
        .when(i % 7 == 4, F.concat(F.lit("https://H"), (i % 3).cast("string"), F.lit(".Example.com/p"), (i % 20).cast("string"), F.lit("?z=1&a=2&fbclid=x")))
        .otherwise(F.concat(F.lit("https://h"), (i % 3).cast("string"), F.lit(".example.com/p"), (i % 20).cast("string")))
    )
    cands = docs.select(i.alias("cand_id"), url.alias("url"))
    normed = normalize_candidates(cands, url_col="url", order_col="cand_id")
    filtered = apply_candidate_filters(
        normed.filter(F.col("reject_reason").isNull()).drop("reject_reason"),
        url_col="url",
        order_col="cand_id",
        required_schemes=("http", "https"),
        denied_domains=("ads.example.org",),
        max_per_host=30,
    )
    rejected_early = normed.filter(F.col("reject_reason").isNotNull()).withColumn(
        "domain", F.lit(None).cast("string")
    )
    return filtered.select("cand_id", "url", "host", "domain", "reject_reason").unionByName(
        rejected_early.select("cand_id", "url", "host", "domain", "reject_reason")
    )


def q_detected_tech(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Technology detection (DetectTechnologies,
    /root/reference/pkg/detection/detection.go:57-223): broadcast
    signature rules → body/url/header/meta match legs → per-(page,
    object) confidence accumulation → implied-technology pass →
    confidence curve + threshold + no_ prefix."""
    from thecrowler_spark.operators.detection import detect_technologies, tech_rules_df

    return detect_technologies(_tech_pages(spark, sf_dir), tech_rules_df(spark))


def _url_canonical_oracle_sql(max_per_host: int = 30) -> str:
    """DuckDB mirror of q_url_canonical: same candidate synthesis
    arithmetic, then an independent SQL re-implementation of
    NormalizeURL (scheme/host lowering, default-port + fragment drop,
    tracking-param strip with key-sorted re-encode), URL dedup with
    reasons, and the filter cascade (schemes, denied domains, per-host
    cap) — tracking params come from the same DEFAULT_TRACKING_PARAMS
    tuple."""
    from thecrowler_spark.functions.urls import DEFAULT_TRACKING_PARAMS

    params = ", ".join(f"'{p}'" for p in DEFAULT_TRACKING_PARAMS)
    nlabels = "len(string_split(host, '.'))"
    reg_dom = (
        f"CASE WHEN {nlabels} <= 2 THEN host ELSE "
        f"array_to_string(list_slice(string_split(host, '.'), {nlabels} - 1, {nlabels}), '.') END"
    )
    return f"""
        WITH cands AS (
          SELECT doc_id AS cand_id,
            CASE
              WHEN doc_id % 11 = 0 THEN 'HTTPS://Ads.Example.ORG:443/t' || CAST(doc_id % 5 AS VARCHAR) || '?gclid=g' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 7 = 0 THEN 'https://h' || CAST(doc_id % 3 AS VARCHAR) || '.example.com:443/p' || CAST(doc_id % 20 AS VARCHAR) || '?utm_source=feed&utm_medium=rss&id=' || CAST(doc_id % 4 AS VARCHAR)
              WHEN doc_id % 7 = 1 THEN 'http://h' || CAST(doc_id % 3 AS VARCHAR) || '.example.com:80/p' || CAST(doc_id % 20 AS VARCHAR) || '#frag' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 7 = 2 THEN 'ftp://files.example.com/f' || CAST(doc_id AS VARCHAR)
              WHEN doc_id % 7 = 3 THEN '   '
              WHEN doc_id % 7 = 4 THEN 'https://H' || CAST(doc_id % 3 AS VARCHAR) || '.Example.com/p' || CAST(doc_id % 20 AS VARCHAR) || '?z=1&a=2&fbclid=x'
              ELSE 'https://h' || CAST(doc_id % 3 AS VARCHAR) || '.example.com/p' || CAST(doc_id % 20 AS VARCHAR)
            END AS url
          FROM documents
        ),
        canon AS (
          SELECT cand_id, url,
                 lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                 regexp_extract(trim(url), '^[^/]*://([^/?#]*)', 1) AS hostport,
                 regexp_extract(trim(url), '^[^/]*://[^/?#]*([^?#]*)', 1) AS path0,
                 regexp_extract(trim(url), '\\?([^#]*)', 1) AS query0
          FROM cands
        ),
        canon2 AS (
          SELECT *, lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
                 regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                 CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                 array_to_string(list_sort(list_filter(string_split(query0, '&'),
                   p -> p <> '' AND NOT list_contains([{params}], lower(trim(split_part(p, '=', 1)))))), '&') AS q2
          FROM canon
        ),
        canon3 AS (
          SELECT cand_id, url, host,
                 (trim(url) <> '' AND scheme IN ('http', 'https') AND host <> ''
                  AND NOT regexp_matches(trim(url), '\\s')) AS ok,
                 scheme || '://' ||
                 CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                           OR (scheme = 'https' AND port = '443')
                      THEN host ELSE host || ':' || port END ||
                 path || CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS rebuilt
          FROM canon2
        ),
        normed AS (
          SELECT cand_id, CASE WHEN ok THEN rebuilt ELSE url END AS url, host, ok
          FROM canon3
        ),
        d AS (
          SELECT cand_id, url, host,
                 CASE WHEN NOT ok THEN 'invalid_url'
                      WHEN row_number() OVER (PARTITION BY url ORDER BY cand_id) > 1
                      THEN 'duplicate_url' END AS reason
          FROM normed
        ),
        f AS (
          SELECT cand_id, url, host,
                 lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                 {reg_dom} AS domain
          FROM d WHERE reason IS NULL
        ),
        f2 AS (
          SELECT *, CASE WHEN scheme = '' OR host = '' THEN 'invalid_url'
                         WHEN scheme NOT IN ('http', 'https') THEN 'required_scheme'
                         WHEN host = 'ads.example.org' OR ends_with(host, '.ads.example.org')
                              OR domain = 'ads.example.org' OR ends_with(domain, '.ads.example.org')
                         THEN 'denied_domain' END AS r1
          FROM f
        ),
        f3 AS (
          SELECT *, CASE WHEN r1 IS NULL THEN
                   row_number() OVER (PARTITION BY CASE WHEN r1 IS NULL THEN host END
                                      ORDER BY cand_id) END AS hrn
          FROM f2
        )
        SELECT cand_id, url, host, domain,
               COALESCE(r1, CASE WHEN hrn > {max_per_host}
                                 THEN 'max_candidates_per_host' END) AS reject_reason
        FROM f3
        UNION ALL
        SELECT cand_id, url, host, CAST(NULL AS VARCHAR), reason
        FROM d WHERE reason IS NOT NULL
    """


#: selector-fixture attribute name → elems-CTE column (the oracle's
#: flattened rendering of the selectors map)
_SEL_ATTR_COLS = {"src": "a_src", "data-v-app": "a_datav"}

_SEL_ELEMS_CTE = """
          SELECT doc_id AS id, 'script' AS sel,
                 CASE WHEN doc_id % 5 = 0 THEN '_paq.push(["trackPageView"]);'
                      ELSE 'console.log("x");' END AS etext,
                 CASE WHEN doc_id % 3 = 0 THEN '/js/angular.min.js'
                      WHEN doc_id % 3 = 1 THEN '/js/jquery-3.6.0.min.js' END AS a_src,
                 CAST(NULL AS VARCHAR) AS a_datav
          FROM documents
          UNION ALL
          SELECT doc_id, 'script', '_paq.push(["enableLinkTracking"]);',
                 '/js/matomo.js', NULL
          FROM documents WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id, 'div#app', 'loading', NULL, '' FROM documents
          WHERE doc_id % 7 = 0
"""


#: shared CTE for the scraping oracles: page split + the x = sku
#: arithmetic every plant derives from
_SCRAPE_BASE = """
        base AS (
          SELECT doc_id AS i, (doc_id * 7) % 1000 AS x FROM documents
        ),
        shop AS (SELECT * FROM base WHERE i % 3 <> 2),
        news AS (SELECT * FROM base WHERE i % 3 = 2)
"""


def _scraped_fields_oracle_sql() -> str:
    """DuckDB replay of q_scraped_fields: one UNION ALL leg per
    (rule, element, value position), CASE arithmetic mirroring the
    fixture plants (title gap %11==3 -> critical abort, data-price gap
    %4==1 -> text fallback, href gap %13==5 -> selector error -> null,
    second link on even ids, SKU-42 on %5==0, EUR %9==2 -> attr-filter
    miss + validate failure)."""
    return f"""
        WITH {_SCRAPE_BASE}
        SELECT i AS doc_id, 'product' AS rule_name, 'title' AS elem_key,
               0 AS elem_seq,
               CASE WHEN i % 11 = 3 THEN 'failed_critical' ELSE 'ok' END AS status,
               (i % 11 = 3) AS rule_error,
               CASE WHEN i % 11 = 3 THEN NULL ELSE 0 END AS pos,
               CASE WHEN i % 11 = 3 THEN NULL ELSE 'Item  ' || i END AS val
        FROM shop
        UNION ALL
        SELECT i, 'product', 'price', 1,
               CASE WHEN i % 11 = 3 THEN 'skipped' ELSE 'ok' END,
               (i % 11 = 3),
               CASE WHEN i % 11 = 3 THEN NULL ELSE 0 END,
               CASE WHEN i % 11 = 3 THEN NULL
                    WHEN i % 4 <> 1 THEN CAST(i AS VARCHAR)
                    ELSE i || ' USD' END
        FROM shop
        UNION ALL
        SELECT i, 'product', 'links', 2,
               CASE WHEN i % 11 = 3 THEN 'skipped' ELSE 'ok' END,
               (i % 11 = 3),
               CASE WHEN i % 11 = 3 OR i % 13 = 5 THEN NULL ELSE 0 END,
               CASE WHEN i % 11 = 3 OR i % 13 = 5 THEN NULL
                    ELSE '/p/' || (i + 1) END
        FROM shop
        UNION ALL
        SELECT i, 'product', 'links', 2, 'ok', FALSE, 1, '/p/' || (i + 2)
        FROM shop WHERE i % 11 <> 3 AND i % 13 <> 5 AND i % 2 = 0
        UNION ALL
        SELECT i, 'product', 'skus', 3,
               CASE WHEN i % 11 = 3 THEN 'skipped' ELSE 'ok' END,
               (i % 11 = 3),
               CASE WHEN i % 11 = 3 THEN NULL ELSE 0 END,
               CASE WHEN i % 11 = 3 THEN NULL ELSE CAST(x AS VARCHAR) END
        FROM shop
        UNION ALL
        SELECT i, 'product', 'skus', 3, 'ok', FALSE, 1, '42'
        FROM shop WHERE i % 11 <> 3 AND i % 5 = 0
        UNION ALL
        SELECT i, 'article', 'headline', 0, 'ok', (i % 9 = 2),
               CASE WHEN i % 11 = 3 THEN NULL ELSE 0 END,
               CASE WHEN i % 11 = 3 THEN NULL ELSE 'Item  ' || i END
        FROM news
        UNION ALL
        SELECT i, 'article', 'currency', 1, 'ok', (i % 9 = 2),
               CASE WHEN i % 9 = 2 THEN NULL ELSE 0 END,
               CASE WHEN i % 9 = 2 THEN NULL ELSE 'USD' END
        FROM news
        UNION ALL
        SELECT i, 'article', 'first_sku', 2, 'ok', (i % 9 = 2), 0,
               CAST(x AS VARCHAR)
        FROM news
    """


def _scraped_json_oracle_sql() -> str:
    """DuckDB replay of q_scraped_json: the Go-marshal text (sorted
    keys, compact) built by CASE concatenation, post-processing applied
    textually exactly as the engine does — Prod/whitespace-collapse for
    product (skipped on the %11==3 critical abort, which marshals
    '{{}}'), Story-replace for article gated on the substring
    validate."""
    return f"""
        WITH {_SCRAPE_BASE}
        SELECT i AS doc_id, 'product' AS rule_name,
               CASE WHEN i % 11 = 3 THEN '{{}}' ELSE
                 '{{"links":' ||
                 CASE WHEN i % 13 = 5 THEN 'null'
                      WHEN i % 2 = 0 THEN '["/p/' || (i+1) || '","/p/' || (i+2) || '"]'
                      ELSE '"/p/' || (i+1) || '"' END ||
                 ',"price":"' ||
                 CASE WHEN i % 4 <> 1 THEN CAST(i AS VARCHAR) ELSE i || ' USD' END ||
                 '","skus":' ||
                 CASE WHEN i % 5 = 0 THEN '["' || x || '","42"]' ELSE '"' || x || '"' END ||
                 ',"title":"Prod ' || i || '"}}'
               END AS scraped_json,
               (i % 11 = 3) AS rule_error
        FROM shop
        UNION ALL
        SELECT i, 'article',
               '{{"currency":' ||
               CASE WHEN i % 9 = 2 THEN 'null' ELSE '"USD"' END ||
               ',"first_sku":"' || x || '","headline":' ||
               CASE WHEN i % 11 = 3 THEN 'null'
                    WHEN i % 9 = 2 THEN '"Item  ' || i || '"'
                    ELSE '"Story  ' || i || '"' END || '}}',
               (i % 9 = 2)
        FROM news
    """


def _scraped_group_oracle_sql() -> str:
    """DuckDB replay of q_scraped_group: merge-append title collision
    ([base, extras] with base 'null' on %11==3), the %13==5 critical
    failure in 'extras' stopping 'after' while keeping extras' partial
    title, and the '/p/'->'@' group replace skipped on error."""
    return f"""
        WITH {_SCRAPE_BASE}
        SELECT i AS doc_id, 'catalog' AS group_name,
               CASE WHEN i % 13 = 5 THEN
                 '{{"title":[' ||
                 CASE WHEN i % 11 = 3 THEN 'null' ELSE '"Item  ' || i || '"' END ||
                 ',' ||
                 CASE WHEN i % 5 = 0 THEN '["' || x || '","42"]' ELSE '"' || x || '"' END ||
                 ']}}'
               ELSE
                 '{{"last":"' || i || ' USD","link":"@' || (i+1) || '","title":[' ||
                 CASE WHEN i % 11 = 3 THEN 'null' ELSE '"Item  ' || i || '"' END ||
                 ',' ||
                 CASE WHEN i % 5 = 0 THEN '["' || x || '","42"]' ELSE '"' || x || '"' END ||
                 ']}}'
               END AS scraped_json,
               (i % 13 = 5) AS group_error
        FROM base
    """


def _detected_tech_oracle_sql(selectors: bool = False) -> str:
    """DuckDB mirror of q_detected_tech (and, with ``selectors``, of
    q_detected_tech_selectors), generated from the SAME rule lists +
    _TECH_PLANTS data (one UNION ALL leg per rule; agg / implied /
    confidence CASE mirror detection.py; selector legs run one row per
    matched ELEMENT so confidence multiplicity is preserved)."""
    from thecrowler_spark.operators.detection import (
        DEFAULT_TECH_RULES,
        SELECTOR_TECH_RULES,
    )

    rules = DEFAULT_TECH_RULES + (SELECTOR_TECH_RULES if selectors else [])
    body_sql = " || ".join(
        ["substr(text, 1, 80)"]
        + [
            f"CASE WHEN doc_id % {m} = {r} THEN '{s}' ELSE '' END"
            for m, r, s in _TECH_PLANTS
        ]
    )
    legs = []
    for rr in rules:
        obj, kind, key, pat, conf = (
            rr["object_name"], rr["kind"], rr["key"], rr["pattern"], rr["confidence"],
        )
        head = f"SELECT id, '{obj}' AS object_name, '{kind}' AS kind"
        if kind == "body":
            legs.append(
                f"{head}, '{pat}' AS pat, {conf} AS conf FROM pages "
                f"WHERE regexp_matches(body, '{pat}')"
            )
        elif kind == "url":
            legs.append(
                f"{head}, '{pat}' AS pat, {conf} AS conf FROM pages "
                f"WHERE regexp_matches(url, '{pat}')"
            )
        elif kind == "header":
            col = _TECH_HEADER_COLS[key]
            legs.append(
                f"{head}, '{pat}' AS pat, {conf} AS conf FROM pages "
                f"WHERE {col} IS NOT NULL AND regexp_matches(lower({col}), '{pat}')"
            )
        elif kind == "header_absent":
            col = _TECH_HEADER_COLS[key]
            legs.append(
                f"{head}, '{key}' AS pat, -{conf} AS conf FROM pages "
                f"WHERE {col} IS NULL"
            )
        elif kind == "meta":
            legs.append(
                f"{head}, '{pat}' AS pat, {conf} AS conf FROM pages "
                f"WHERE meta_gen IS NOT NULL AND regexp_matches(lower(meta_gen), '{pat}')"
            )
        elif kind in ("selector_text", "selector_attr"):
            # selector events carry kind 'body' — detection type 'html',
            # exactly detectTechBySignatureValueHelper's constant
            head = f"SELECT id, '{obj}' AS object_name, 'body' AS kind"
            sel = key.strip().lower()
            if kind == "selector_text":
                cond = ("TRUE" if pat == "*"
                        else f"regexp_matches(etext, '{pat}')")
            else:
                acol = _SEL_ATTR_COLS[rr["attribute"].strip().lower()]
                exists = f"{acol} IS NOT NULL"
                cond = (exists if pat == "*"
                        else f"{exists} AND regexp_matches({acol}, '{pat}')")
            legs.append(
                f"{head}, '{pat}' AS pat, {conf} AS conf FROM elems "
                f"WHERE sel = '{sel}' AND {cond}"
            )
    events = "\n          UNION ALL\n          ".join(legs)
    # dedup edges across rules with the same object_name
    edge_rows = list(dict.fromkeys(
        (rr["object_name"], imp)
        for rr in rules
        for imp in rr.get("implies", ())
    ))
    edges = ", ".join(f"('{a}', '{b}')" for a, b in edge_rows)
    elems_cte = f"elems AS ({_SEL_ELEMS_CTE}        )," if selectors else ""
    return f"""
        WITH {elems_cte}
        pages AS (
          SELECT doc_id AS id,
                 'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/' ||
                 CASE WHEN doc_id % 4 = 0 THEN 'wp-admin/p' ELSE 'p' END ||
                 CAST(doc_id AS VARCHAR) AS url,
                 lower(trim({body_sql})) AS body,
                 CASE WHEN doc_id % 3 = 0 THEN 'nginx/1.24.0'
                      WHEN doc_id % 3 = 1 THEN 'Apache/2.4.58 (Unix)'
                      ELSE 'cloudflare' END AS h_server,
                 CASE WHEN doc_id % 4 = 0 THEN 'PHP/8.2.7' END AS h_xpb,
                 CASE WHEN doc_id % 2 = 0 THEN 'default-src ''self''' END AS h_csp,
                 CASE WHEN doc_id % 4 = 0 THEN 'WordPress 6.4.2'
                      WHEN doc_id % 10 = 7 THEN 'Drupal 10' END AS meta_gen
          FROM documents
        ),
        events AS (
          {events}
        ),
        agg AS (
          SELECT id, object_name, sum(conf) AS x,
                 array_to_string(list_sort(list_distinct(list(pat))), '|') AS matched_patterns,
                 max(CASE WHEN kind = 'header' THEN 1 ELSE 0 END) AS f_header,
                 max(CASE WHEN kind = 'url' THEN 1 ELSE 0 END) AS f_url,
                 max(CASE WHEN kind = 'meta' THEN 1 ELSE 0 END) AS f_meta,
                 max(CASE WHEN kind = 'body' THEN 1 ELSE 0 END) AS f_body
          FROM events GROUP BY id, object_name
        ),
        det AS (
          SELECT id, object_name, x,
                 concat_ws(',',
                   CASE WHEN f_header = 1 THEN 'http_header' END,
                   CASE WHEN f_url = 1 THEN 'url' END,
                   CASE WHEN f_meta = 1 THEN 'meta_tags' END,
                   CASE WHEN f_body = 1 THEN 'html' END) AS entity_type,
                 matched_patterns
          FROM agg
        ),
        edges(object_name, implied) AS (VALUES {edges}),
        imp AS (
          SELECT d.id, e.implied, d.x, d.object_name AS implier,
                 row_number() OVER (PARTITION BY d.id, e.implied
                                    ORDER BY d.x DESC, d.object_name ASC) AS rn
          FROM det d JOIN edges e USING (object_name)
          WHERE NOT EXISTS (SELECT 1 FROM det o
                            WHERE o.id = d.id AND o.object_name = e.implied)
        ),
        fullt AS (
          SELECT id, object_name, x, entity_type, matched_patterns FROM det
          UNION ALL
          SELECT id, implied, x, 'implied', 'implied by ' || implier
          FROM imp WHERE rn = 1
        ),
        conft AS (
          SELECT *, CASE WHEN x < 0 THEN 100.0 - least(100.0, -x)
                         WHEN x < 1.0 THEN (x / 1.0) * 10
                         WHEN x < 5.0 THEN 10.0 + ((x - 1.0) / 4.0) * 30
                         WHEN x < 10.0 THEN 40.0 + ((x - 5.0) / 5.0) * 60
                         ELSE least(100.0, 40.0 + ((x - 10.0) / 5.0) * 60) END AS c
          FROM fullt
        )
        SELECT id AS doc_id,
               CASE WHEN x < 0 THEN 'no_' || object_name ELSE object_name END AS entity_name,
               entity_type, round(c, 6) AS confidence, matched_patterns
        FROM conft WHERE c > 10
    """


def q_content_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 regex-rule content-type detection + P11 HTML sniffing."""
    from thecrowler_spark.operators.content_type import detect_content_type, sniff_html

    _load(spark, sf_dir, "part")
    samples = spark.sql(
        """
        SELECT p_partkey AS id,
               CASE p_partkey % 9
                 WHEN 0 THEN concat('  <!DOCTYPE html><html><body>', p_name, '</body></html>')
                 WHEN 1 THEN concat('<?xml version="1.0"?><root>', p_name, '</root>')
                 WHEN 2 THEN concat('{"name": "', p_name, '"}')
                 WHEN 3 THEN concat('@import "x.css"; .cls { color: red }')
                 WHEN 4 THEN ''
                 WHEN 5 THEN ''
                 WHEN 6 THEN concat('plain text about ', p_name)
                 WHEN 7 THEN concat('<svg width="10"><title>', p_name, '</title></svg>')
                 ELSE concat('function f() { return "', p_name, '"; }')
               END AS body,
               CASE p_partkey % 9
                 WHEN 4 THEN concat('https://cdn.example.com/d', CAST(p_partkey AS STRING), '.pdf?v=1')
                 WHEN 5 THEN ''
                 WHEN 6 THEN concat('https://cdn.example.com/d', CAST(p_partkey AS STRING), '.bin')
                 ELSE concat('https://www.example.com/page', CAST(p_partkey AS STRING))
               END AS url
        FROM part
        """
    )
    return samples.select(
        "id",
        detect_content_type("body", "url").alias("content_type"),
        sniff_html("body").alias("is_html"),
    )


def q_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: global keyword dictionary with counts, top 100."""
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    kw = docs.select(F.explode(TX.keywords_array(F.lower(F.col("text")))).alias("keyword"))
    return (
        kw.groupBy("keyword")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("keyword"))
        .limit(100)
    )


def q_keyword_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-(doc, keyword) occurrence counts (subset of docs)."""
    docs = _load(spark, sf_dir, "documents")["documents"].filter(F.col("doc_id") % 50 == 0)
    kw = docs.select("doc_id", F.explode(TX.keywords_array(F.lower(F.col("text")))).alias("keyword"))
    return kw.groupBy("doc_id", "keyword").agg(F.count("*").alias("occurrences"))


def q_crawl_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: status-counter aggregation shape over the events table.

    ``total_value`` sums on scaled integers (fixed-point, like
    operators/timeseries.bucket_aggregates) — float accumulation order
    differs between Spark partitions and the oracle, integer sums don't.
    """
    _load(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT user_id % 100 AS run_id,
               count(*) AS total_events,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS total_clicks,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS total_errors,
               round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS total_value
        FROM events GROUP BY user_id % 100
        """
    )


def q_timeseries_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: tumbling buckets with exact percentiles + first/last edges."""
    ev = _load(spark, sf_dir, "events")["events"]
    return TS.bucket_aggregates(ev, bucket="1 hour", decimal_scale=2)


def q_search_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: SearchIndex-star-shaped left joins + DISTINCT + filter."""
    _load(spark, sf_dir, "orders", "customer", "nation")
    return spark.sql(
        """
        SELECT DISTINCT o.o_orderkey AS orderkey, c.c_name AS cust_name, n.n_name AS nation_name
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 100000
        """
    )


def q_robots_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 §2.2.3 wildcard matching through robots_verdict:
    ``*`` mid-pattern, trailing ``$`` anchors, and longest-PATTERN
    precedence across mixed literal/wildcard rules (a wildcard
    '/docs/*.html$' allow overriding a shorter '/docs/' disallow; a
    '/*.pdf$' disallow beating the same '/docs/' by one octet)."""
    from thecrowler_spark.operators.robots import robots_verdict

    _load(spark, sf_dir, "orders")
    urls = spark.sql(
        """
        SELECT o_orderkey AS id,
               concat('h', CAST(o_orderkey % 10 AS STRING), '.example.com') AS host,
               CASE o_orderkey % 6
                 WHEN 0 THEN concat('/docs/file', CAST(o_orderkey % 5 AS STRING), '.pdf')
                 WHEN 1 THEN concat('/docs/file', CAST(o_orderkey % 5 AS STRING), '.html')
                 WHEN 2 THEN '/private/x/tmp'
                 WHEN 3 THEN '/private/x/keep'
                 WHEN 4 THEN '/public/a'
                 ELSE '/' END AS path
        FROM orders
        """
    ).withColumn(
        "url_link", F.concat(F.lit("https://"), F.col("host"), F.col("path"))
    )
    rules = spark.sql(
        """
        SELECT concat('h', CAST(h AS STRING), '.example.com') AS host, rule_type, path_prefix
        FROM (SELECT explode(sequence(0, 9)) AS h)
        LATERAL VIEW inline(array(
           named_struct('rule_type','disallow','path_prefix','/docs/'),
           named_struct('rule_type','disallow','path_prefix','/*.pdf$'),
           named_struct('rule_type','allow','path_prefix','/docs/*.html$'),
           named_struct('rule_type','disallow','path_prefix','/private/*/tmp'),
           named_struct('rule_type','allow','path_prefix','/private/x/keep')
        )) t AS rule_type, path_prefix
        """
    )
    return robots_verdict(urls, rules).select("id", "host", "path", "robots_allowed")


def q_search_dorking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dorking query language compiled to a Catalyst predicate —
    exercises the '=' field separator, a quoted phrase, a field probe,
    and the in-query '&limit' control modifier (tokenizer.go:82-86,
    329-330, 561-574)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    pages = docs.select(
        F.col("doc_id"),
        F.lit("").alias("title"),
        F.lit("").alias("summary"),
        F.col("text").alias("body_text"),
        F.col("lang").alias("detected_lang"),
    )
    hits = SE.search(pages, 'content=data & "spark" | lang:en window&limit:120', limit=10)
    return hits.select("doc_id", "detected_lang")


def q_search_webobjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity search template (sqlWebObjectsBody,
    sql_templates.go:85-113): WebObjects ⋈ bridge ⋈ SearchIndex with
    keyword + source chains, non-empty-link guard, DISTINCT projection.
    'f' is a bare term, so it ORs into the keyword-equality group."""
    from thecrowler_spark.operators.search import search_entity_star

    _load(spark, sf_dir, "orders", "customer")
    si = spark.sql(
        """
        SELECT sha2(CAST(o_orderkey AS STRING), 256) AS index_id,
               o_orderpriority AS title,
               concat('order status ', lower(o_orderstatus)) AS summary
        FROM orders WHERE o_orderkey < 5000
        """
    )
    wo = spark.sql(
        """
        SELECT DISTINCT sha2(o_orderpriority, 256) AS object_hash,
               concat('https://cdn.example.com/obj/', substring(sha2(o_orderpriority, 256), 1, 8)) AS object_link
        FROM orders WHERE o_orderkey < 5000
        """
    )
    woi = spark.sql(
        """
        SELECT sha2(CAST(o_orderkey AS STRING), 256) AS index_id,
               sha2(o_orderpriority, 256) AS object_hash
        FROM orders WHERE o_orderkey < 5000
        """
    )
    ssi = spark.sql(
        "SELECT o_custkey AS source_id, sha2(CAST(o_orderkey AS STRING), 256) AS index_id"
        " FROM orders WHERE o_orderkey < 5000"
    )
    srcs = spark.sql(
        "SELECT c_custkey AS source_id, concat('uid-', CAST(c_custkey AS STRING)) AS source_uid FROM customer"
    )
    ki = spark.sql(
        "SELECT sha2(CAST(o_orderkey AS STRING), 256) AS index_id, lower(o_orderstatus) AS keyword"
        " FROM orders WHERE o_orderkey < 5000"
    )
    return search_entity_star(
        wo,
        woi,
        si,
        "title:urgent | f",
        entity_cols=("object_hash", "object_link"),
        link_col="object_link",
        keyword_index=ki,
        source_search_index=ssi,
        sources=srcs,
    )


def q_search_screenshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screenshots search template (sqlScreenshotBody,
    sql_templates.go:58-84): the entity carries index_id directly (no
    bridge); bare term 'thumbnail' only matches via the keyword-equality
    group, proving the appended keyword group is live."""
    from thecrowler_spark.operators.search import search_entity_star

    _load(spark, sf_dir, "part", "supplier")
    si = spark.sql(
        """
        SELECT sha2(CAST(p_partkey AS STRING), 256) AS index_id,
               p_name AS title, concat('brand ', lower(p_brand)) AS summary
        FROM part
        """
    )
    shots = spark.sql(
        """
        SELECT sha2(CAST(p_partkey AS STRING), 256) AS index_id,
               concat('https://shots.example.com/', substring(sha2(CAST(p_partkey AS STRING), 256), 1, 8), '.png') AS screenshot_link,
               CASE WHEN p_partkey % 3 = 0 THEN 'thumbnail' ELSE 'full_page' END AS type,
               CAST(p_partkey % 1920 AS INT) AS width,
               CAST(p_partkey % 1080 AS INT) AS height
        FROM part
        """
    )
    ki = shots.select("index_id", F.col("type").alias("keyword"))
    ssi = spark.sql(
        "SELECT CAST(p_partkey % 500 AS BIGINT) AS source_id,"
        " sha2(CAST(p_partkey AS STRING), 256) AS index_id FROM part"
    )
    srcs = spark.sql(
        "SELECT s_suppkey AS source_id, concat('uid-', CAST(s_suppkey AS STRING)) AS source_uid FROM supplier"
    )
    return search_entity_star(
        shots,
        None,
        si,
        "title:steel | thumbnail",
        entity_cols=("screenshot_link", "type", "width", "height"),
        link_col="screenshot_link",
        keyword_index=ki,
        source_search_index=ssi,
        sources=srcs,
    )


def _netinfo_star(spark: SparkSession, sf_dir: str, id_name: str):
    """Shared synthesis for the NetInfo / HTTPInfo search stars
    (sqlNetInfoBody / sqlHTTPInfoBody, sql_templates.go:247-287): the
    entity carries (id, created_at, last_updated_at, details) and
    reaches SearchIndex through a dedicated bridge; keyword + source
    chains are LEFT joins; there is NO page-link guard."""
    _load(spark, sf_dir, "events", "customer")
    ent = spark.sql(
        f"""
        SELECT sha2(CAST(event_id AS STRING), 256) AS {id_name},
               ts AS created_at, ts AS last_updated_at, props AS details
        FROM events WHERE event_id < 4000
        """
    )
    bridge = spark.sql(
        f"""
        SELECT sha2(CAST(event_id AS STRING), 256) AS {id_name},
               sha2(concat('idx', CAST(event_id AS STRING)), 256) AS index_id
        FROM events WHERE event_id < 4000
        """
    )
    si = spark.sql(
        """
        SELECT sha2(concat('idx', CAST(event_id AS STRING)), 256) AS index_id,
               event_type AS title,
               concat('user ', CAST(user_id AS STRING)) AS summary
        FROM events WHERE event_id < 4000
        """
    )
    ki = spark.sql(
        "SELECT sha2(concat('idx', CAST(event_id AS STRING)), 256) AS index_id,"
        " event_type AS keyword FROM events WHERE event_id < 4000"
    )
    ssi = spark.sql(
        "SELECT CAST(user_id % 300 AS BIGINT) AS source_id,"
        " sha2(concat('idx', CAST(event_id AS STRING)), 256) AS index_id"
        " FROM events WHERE event_id < 4000"
    )
    srcs = spark.sql(
        "SELECT c_custkey AS source_id,"
        " concat('uid-', CAST(c_custkey AS STRING)) AS source_uid FROM customer"
    )
    return ent, bridge, si, ki, ssi, srcs


def q_search_netinfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetInfo search template (sqlNetInfoBody, sql_templates.go:247-266):
    NetInfo ⋈ NetInfoIndex ⋈ SearchIndex, LEFT keyword + source chains,
    no link guard; 'error' is a bare term so it ORs into the
    keyword-equality group."""
    from thecrowler_spark.operators.search import search_entity_star

    ni, nii, si, ki, ssi, srcs = _netinfo_star(spark, sf_dir, "netinfo_id")
    return search_entity_star(
        ni,
        nii,
        si,
        "title:click | error",
        entity_cols=("created_at", "last_updated_at", "details"),
        link_col=None,
        keyword_index=ki,
        source_search_index=ssi,
        sources=srcs,
    )


def q_search_httpinfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTPInfo search template (sqlHTTPInfoBody, sql_templates.go:268-287):
    same star through HTTPInfoIndex; the '=' field separator form
    (tokenizer.go:82-86) and a different term set than the NetInfo run."""
    from thecrowler_spark.operators.search import search_entity_star

    hi, hii, si, ki, ssi, srcs = _netinfo_star(spark, sf_dir, "httpinfo_id")
    return search_entity_star(
        hi,
        hii,
        si,
        "title=view | purchase",
        entity_cols=("created_at", "last_updated_at", "details"),
        link_col=None,
        keyword_index=ki,
        source_search_index=ssi,
        sources=srcs,
    )


def q_correlation_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: UNION-distinct of probes joined back to a dimension."""
    _load(spark, sf_dir, "events", "customer")
    return spark.sql(
        """
        WITH probes AS (
          SELECT user_id FROM events WHERE event_type = 'purchase'
          UNION
          SELECT user_id FROM events WHERE event_type = 'click' AND value > 90
        )
        SELECT c.c_custkey AS custkey, c.c_name AS cust_name
        FROM probes p JOIN customer c ON c.c_custkey = p.user_id
        """
    )


def q_correlated_sites(spark: SparkSession, sf_dir: str) -> DataFrame:
    """find_correlated_sources_by_domain + sqlCorrelatedSitesBody
    (pgsql:2907-2947 + sql_templates.go:203-242): detail-blob domain
    probes UNION-distinct → Sources join → whois/ssl report."""
    from thecrowler_spark.operators.netinfo import (
        correlated_sites_report,
        correlated_sources_by_domain,
    )

    _load(spark, sf_dir, "orders", "customer")
    ssi = spark.sql(
        "SELECT o_custkey AS source_id, sha2(CAST(o_orderkey AS STRING), 256) AS index_id"
        " FROM orders WHERE o_orderkey < 3000"
    )
    srcs = spark.sql(
        """
        SELECT c_custkey AS source_id, concat('uid-', CAST(c_custkey AS STRING)) AS source_uid,
               concat('https://h', CAST(c_custkey % 50 AS STRING), '.example.com') AS url
        FROM customer
        """
    )
    ni = spark.sql(
        """
        SELECT sha2(concat('ni', CAST(o_orderkey AS STRING)), 256) AS netinfo_id,
               concat('{"whois":{"registrant":"org-', CAST(o_orderkey % 40 AS STRING),
                      '","domain":"h', CAST(o_orderkey % 25 AS STRING), '.example.com"}}') AS details
        FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 2 = 0
        """
    )
    nii = spark.sql(
        "SELECT sha2(concat('ni', CAST(o_orderkey AS STRING)), 256) AS netinfo_id,"
        " sha2(CAST(o_orderkey AS STRING), 256) AS index_id"
        " FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 2 = 0"
    )
    hi = spark.sql(
        """
        SELECT sha2(concat('hi', CAST(o_orderkey AS STRING)), 256) AS httpinfo_id,
               concat('{"ssl_info":{"issuer":"ca-', CAST(o_orderkey % 10 AS STRING),
                      '","cn":"h', CAST(o_orderkey % 25 AS STRING), '.example.com"}}') AS details
        FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 3 = 0
        """
    )
    hii = spark.sql(
        "SELECT sha2(concat('hi', CAST(o_orderkey AS STRING)), 256) AS httpinfo_id,"
        " sha2(CAST(o_orderkey AS STRING), 256) AS index_id"
        " FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 3 = 0"
    )
    partners = correlated_sources_by_domain(
        "h7.example.com", ssi, srcs,
        netinfo=ni, netinfo_index=nii, httpinfo=hi, httpinfo_index=hii,
    )
    return correlated_sites_report(
        partners, ssi, netinfo=ni, netinfo_index=nii, httpinfo=hi, httpinfo_index=hii
    )


def q_attr_selfjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: ObjectAttributes-style self equi-join on a value key."""
    _load(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT a.p_brand AS brand, count(*) AS correlated_pairs
        FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        GROUP BY a.p_brand
        """
    )


def q_upsert_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: keep-old-if-blank MERGE semantics (COALESCE(NULLIF(TRIM(new),''),old))."""
    _load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey AS id,
               COALESCE(NULLIF(TRIM(CASE WHEN o_orderkey % 3 = 0 THEN '  ' ELSE upper(o_orderpriority) END), ''),
                        o_orderpriority) AS merged_value
        FROM orders
        """
    )


def q_webobjects_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: content-hash dedup groups (sha256)."""
    _load(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT sha2(o_orderpriority, 256) AS object_hash,
               count(*) AS n_objects, min(o_orderkey) AS keep_id
        FROM orders GROUP BY sha2(o_orderpriority, 256)
        """
    )


def q_events_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O5: recency ordering + limit/offset."""
    _load(spark, sf_dir, "events")
    return spark.sql(
        "SELECT event_id, event_type, ts FROM events ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 5"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-prefix fingerprint."""
    _load(spark, sf_dir, "documents")
    docs = spark.table("documents")
    key = F.md5(F.substring(TX.normalize_text("text"), 1, 40))
    return (
        docs.withColumn("content_key", key)
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (candidate-join, bounded subset)."""
    docs = (
        _load(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") < 200)
        .filter(F.size(TX.tokens(F.col("text"))) >= 3)
    )
    return DD.ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id", k=3, threshold=0.2)


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (md5 permutations — portable)."""
    docs = (
        _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
        .filter(F.col("doc_id") < 100)
        .filter(F.size(TX.tokens(F.col("text"))) >= 3)
    )
    return DD.minhash_signatures(docs, text_col="text", id_col="doc_id", n_hashes=8, k=3)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH banding candidates."""
    docs = (
        _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
        .filter(F.col("doc_id") < 300)
        .filter(F.size(TX.tokens(F.col("text"))) >= 3)
    )
    return DD.minhash_lsh_candidates(docs, text_col="text", id_col="doc_id", n_hashes=8, bands=4, k=3)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups (JVM bit votes + 16-bit-chunk blocking)."""
    docs = _load(spark, sf_dir, "documents")["documents"].filter(F.col("doc_id") < 300)
    return DD.simhash_near_dups(docs, text_col="text", id_col="doc_id", max_hamming=10)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup canonical groups: connected components over the
    MinHash-LSH candidate pairs (min-label propagation; component id =
    kept canonical doc id)."""
    docs = (
        _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
        .filter(F.col("doc_id") < 300)
        .filter(F.size(TX.tokens(F.col("text"))) >= 3)
    )
    pairs = DD.minhash_lsh_candidates(docs, text_col="text", id_col="doc_id", n_hashes=8, bands=4, k=3)
    return DD.connected_components(pairs)


def q_dedup_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup keep-policy: per duplicate cluster (the same
    MinHash-LSH components as dedup_components), keep the
    HIGHEST-QUALITY member — quality = n_chars, ties to lowest id —
    the RefinedWeb/FineWeb "keep the best copy" rule rather than
    min-id.  One doc-key equi-join + one component-key groupBy with an
    argmax encoded as max(struct(quality, -id)): partial-agg friendly,
    no window, no sort."""
    docs = (
        _load(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") < 300)
        .filter(F.size(TX.tokens(F.col("text"))) >= 3)
    )
    pairs = DD.minhash_lsh_candidates(docs, text_col="text", id_col="doc_id", n_hashes=8, bands=4, k=3)
    comps = DD.connected_components(pairs)
    return DD.select_representatives(comps, docs, quality_col="n_chars", id_col="doc_id")


def q_url_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level corpus filtering (RefinedWeb §G.1 / UT1 blocklist
    shape): broadcast hostname blocklist + JVM weighted word score +
    strict substring fragments over a deterministic synthetic URL
    universe with planted spam hosts and spam path words.  The
    blocklist join is broadcast; scoring is split/transform/aggregate
    — zero Python, zero shuffle of the URL stream."""
    from thecrowler_spark.operators import urlfilter as UF

    _load(spark, sf_dir, "orders")
    df = spark.sql(_SPARK_FILTER_URLS)
    blocklist = spark.range(0, 40, 2).select(
        F.concat(F.lit("spam"), F.col("id").cast("string"), F.lit(".example.com")).alias("host")
    )
    out = UF.url_quality_filter(df, blocklist)
    return out.select(
        "id",
        "url",
        "host",
        "blocked_domain",
        F.round("word_score", 2).alias("word_score"),
        "frag_hit",
        "kept",
    )


def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier inference: a synthetic
    exported model (deterministic sparse integer weights over 4096
    md5-hash buckets) scores every document via broadcast join +
    per-doc margin sum — the model-based filtering stage of a
    pretraining pipeline, zero Python in the hot path."""
    from thecrowler_spark.operators import classifier as CL

    docs = _load(spark, sf_dir, "documents")["documents"]
    weights = (
        spark.range(4096)
        .filter((F.col("id") % 3) != 0)
        .select(
            F.col("id").cast("int").alias("bucket"),
            ((F.col("id") * 37) % 21 - 10).cast("long").alias("weight"),
        )
    )
    return CL.classify_docs(docs.select("doc_id", "text"), weights, n_buckets=4096)


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor-text corpus (retrieval-training supervision):
    synthetic inbound links from orders, two-phase aggregation —
    (dst, anchor) partial-agg count collapses occurrence volume before
    the bounded per-target top-k window."""
    from thecrowler_spark.operators.linkgraph import anchor_texts

    _load(spark, sf_dir, "orders")
    links = spark.sql(
        """
        SELECT concat('https://h', CAST(o_orderkey % 97 AS STRING), '.example.com/') AS dst,
               concat('click ', CAST(o_orderkey % 13 AS STRING),
                      CASE WHEN o_orderkey % 3 = 0 THEN ' now' ELSE '' END) AS anchor
        FROM orders
        """
    )
    out = anchor_texts(links, k=5)
    # rank-ordered top anchors serialized to one string column: the
    # driver's value hash has a proven contract for scalars, not arrays
    return out.select(
        "dst", "n_links", "n_unique_anchors",
        F.array_join("top_anchors", " | ").alias("top_anchors"),
    )


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation rollup (RefinedWeb-style domain triage): doc
    count, total tokens, summed classifier margin, per-token mean
    margin (integer DIV), and keep-share — the aggregation that feeds
    mixture weights and domain allow/deny decisions. Composes the
    hashed-classifier inference with the source dimension; one
    broadcast join + two shuffles (per-doc margin agg, per-source
    rollup), all integer-exact."""
    from thecrowler_spark.operators import classifier as CL

    docs = _load(spark, sf_dir, "documents")["documents"]
    weights = (
        spark.range(4096)
        .filter((F.col("id") % 3) != 0)
        .select(
            F.col("id").cast("int").alias("bucket"),
            ((F.col("id") * 37) % 21 - 10).cast("long").alias("weight"),
        )
    )
    scored = CL.classify_docs(docs.select("doc_id", "text"), weights, n_buckets=4096)
    return (
        docs.select("doc_id", "source")
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("margin").cast("long").alias("sum_margin"),
            F.sum(F.when(F.col("label") == "keep", 1).otherwise(0))
            .cast("long")
            .alias("n_keep"),
        )
        .withColumn(
            "margin_per_1k_tokens",
            F.expr("(sum_margin * 1000) div greatest(total_tokens, 1)").cast("long"),
        )
    )


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same canonical groups as dedup_components, computed by the
    alternating large-star/small-star algorithm (Kiveris et al. 2014,
    O(log n) rounds — the 10^10-edge web-graph path where min-label's
    O(diameter) rounds die on long chains). Cross-validated on the
    identical recursive-CTE oracle."""
    docs = (
        _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
        .filter(F.col("doc_id") < 300)
        .filter(F.size(TX.tokens(F.col("text"))) >= 3)
    )
    pairs = DD.minhash_lsh_candidates(docs, text_col="text", id_col="doc_id", n_hashes=8, bands=4, k=3)
    return DD.connected_components_star(pairs)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    The natural fixture has no pairs above 0.8 at sf0.01/sf0.1 (random
    vectors), which would make the check vacuous — so we plant 8
    deterministic near-duplicates: vec_id<8 copied to vec_id+1000 with
    the LAST coordinate nudged by +0.05 (cosine ≈ 0.99x, far from both
    the 0.8 threshold and 1.0, so no FP boundary risk). The oracle
    mirrors the same construction."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    emb = emb.withColumn("embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    base = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.concat(
            F.slice(F.col("embedding"), 1, 63),
            F.array(F.element_at(F.col("embedding"), 64) + F.lit(0.05)),
        ).alias("embedding"),
    )
    return DD.embedding_near_dups(base.unionByName(planted), threshold=0.8)


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (exact ANN baseline)."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    emb = emb.withColumn("embedding", F.transform(F.col("embedding"), lambda x: x.cast("double")))
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return SIM.cosine_topk(corpus, queries, k=5)


def _quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized embedding vectors (floor(x*1000), carried as
    double): every dot product / squared norm is an exact integer, so
    LSH sign bits, IVF cell argmaxes and cosine rankings are
    bit-reproducible across engines — the trick (r2 verdict item 8)
    that makes the approximate-ANN paths oracle-checkable instead of
    rows-only. floor (not round) because the engines' rounding tie
    rules differ (HALF_UP vs HALF_EVEN)."""
    emb = _load(spark, sf_dir, "embeddings", widen=("embeddings",))["embeddings"]
    iv = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000).cast("double")
    )
    return emb.select("vec_id", iv.alias("embedding"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path): md5-derived ±1 hyperplanes over
    integer-quantized vectors — exact cross-engine parity (the DuckDB
    oracle rebuilds the identical hyperplane grid and signatures).
    Recall invariants for the production xxhash64 grid stay in pytest."""
    emb = _quantized_embeddings(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return SIM.lsh_bucketed_ann(
        corpus, queries, dim=64, k=5, bits=4, tables=4, pm1=SIM.md5_pm1
    )


def _md5_init_key(c):
    """md5-derived IVF init sampling key (oracle mirror:
    ('0x' || substr(md5(id), 1, 8))::BIGINT)."""
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (inverted-file cells + n_probe), oracle-exact variant:
    iters=0 keeps the deterministic md5-sampled init centroids (no
    Lloyd means, whose cross-engine FP accumulation would diverge) and
    quantized vectors make assignment + re-rank exact. Full-probe ==
    exact and Lloyd-recall invariants remain in
    tests/test_similarity_ivf.py."""
    emb = _quantized_embeddings(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries_df = emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return SIM.ivf_ann(
        corpus, queries_df, n_cells=16, n_probe=4, k=5, iters=0,
        init_key=_md5_init_key,
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023) over
    quantized embeddings + planted near-twins (vec_id%10==0 gets a
    +10000-id copy with one component perturbed): cluster into 16
    md5-init cells, keep the lowest-centroid-cosine member of every
    eps>=0.95 neighbourhood, drop the rest."""
    emb = _quantized_embeddings(spark, sf_dir)
    v = F.col("embedding")
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(F.array(F.element_at(v, 1) + 1), F.slice(v, 2, 63)).alias("embedding"),
    )
    return SIM.semdedup(
        emb.unionByName(twins), n_cells=16, eps=0.95, iters=0,
        init_key=_md5_init_key,
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash split + stratified sample flag over documents
    (training-pipeline staple: membership is a pure function of doc_id,
    stable under reruns/cluster size/dataset growth)."""
    from thecrowler_spark.operators.sampling import assign_split, sample_flag

    docs = _load(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        "lang",
        assign_split(F.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}).alias("split"),
        sample_flag(F.col("doc_id"), 0.1).alias("in_10pct_sample"),
    )


def q_dataset_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents → fixed-token-budget packs (hash-
    bucketed streams, running-sum binning — no global window)."""
    from thecrowler_spark.operators.sampling import pack_documents

    docs = _load(spark, sf_dir, "documents")["documents"]
    sized = docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))
    return pack_documents(sized, budget=256, buckets=8).select(
        "doc_id", "n_tokens", "bucket", "pack_id"
    )


def q_pack_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved text+media sequence packing (the multimodal-
    pretraining batch-prep step): per-document cost = text tokens +
    n_images × 64 (a fixed vision-encoder patch budget per image,
    cf. operators/multimodal.py), packed into fixed-cost bins by the
    same hash-bucketed running-sum operator as text-only packing.
    Media counts are synthesized deterministically (doc_id % 4) since
    the fixture corpus carries no media column — the cost model and
    packing shape are the operator under test."""
    from thecrowler_spark.operators.sampling import pack_documents

    docs = _load(spark, sf_dir, "documents")["documents"]
    sized = docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_text_tokens"),
        (F.col("doc_id") % 4).cast("int").alias("n_images"),
    ).withColumn(
        "n_tokens",
        (F.col("n_text_tokens") + F.col("n_images") * 64).cast("int"),
    )
    return pack_documents(sized, budget=512, buckets=8).select(
        "doc_id", "n_text_tokens", "n_images", "n_tokens", "bucket", "pack_id"
    )


def _nonlatin_injected(docs: DataFrame) -> DataFrame:
    """Graded langid corpus: docs with doc_id % 4 == 1 (25%) replaced by
    deterministic non-Latin slices cycling over NONLATIN_SAMPLES (and
    the lang label set to the sample's language) — the script-aware
    detector is graded over a corpus where ≥20% of docs are non-Latin.
    Mirrored in SQL by :func:`_nonlatin_inject_sql` from the same dict.
    """
    from thecrowler_spark.sources.corpus import NONLATIN_SAMPLES

    langs = list(NONLATIN_SAMPLES)
    texts = [NONLATIN_SAMPLES[k] for k in langs]
    idx = (F.floor(F.col("doc_id") / 4) % len(langs)).cast("int") + 1
    is_nl = F.col("doc_id") % 4 == 1
    return docs.withColumn(
        "text",
        F.when(is_nl, F.element_at(F.array(*[F.lit(s) for s in texts]), idx)).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "lang",
        F.when(is_nl, F.element_at(F.array(*[F.lit(k) for k in langs]), idx)).otherwise(
            F.col("lang")
        ),
    )


def _nonlatin_inject_sql() -> str:
    """DuckDB mirror of :func:`_nonlatin_injected` (same dict, same
    doc_id arithmetic) as a CTE body over ``documents``."""
    from thecrowler_spark.sources.corpus import NONLATIN_SAMPLES

    langs = list(NONLATIN_SAMPLES)
    t_arr = ", ".join(f"'{NONLATIN_SAMPLES[k]}'" for k in langs)
    l_arr = ", ".join(f"'{k}'" for k in langs)
    idx = f"CAST((doc_id // 4) % {len(langs)} AS INT) + 1"
    return f"""
          SELECT * REPLACE (
            CASE WHEN doc_id % 4 = 1 THEN ([{t_arr}])[{idx}] ELSE text END AS text,
            CASE WHEN doc_id % 4 = 1 THEN ([{l_arr}])[{idx}] ELSE lang END AS lang
          ) FROM documents
    """


def _langid_injected(docs: DataFrame) -> DataFrame:
    """Graded langid corpus, round 5: the non-Latin injection of
    :func:`_nonlatin_injected` (doc_id % 4 == 1) PLUS short Latin
    samples at doc_id % 4 == 3 cycling over trigram.LATIN_SAMPLES
    (labels set) — the trigram detector is graded over a corpus where
    25% of docs are non-Latin and 25% are short, close-pair Latin
    (es/pt/ca, cs/sk/sl/hr, id/ms …) that the 5-marker argmax
    demonstrably misclassifies; doc_id % 8 == 2 adds short close-pair
    CYRILLIC samples (ru/uk/bg/sr/mk, trigram.CYRILLIC_SAMPLES) the
    4-language marker argmax gets wrong; doc_id % 8 == 6 adds short
    Arabic-script (ar/fa/ur) and Devanagari (hi/mr/ne) samples the
    script-only dispatch can only answer 'ar'/'hi' for. Mirrored in
    SQL by :func:`_langid_inject_sql` from the same dicts."""
    from thecrowler_spark.functions.trigram import (
        ARABIC_SAMPLES,
        CYRILLIC_SAMPLES,
        DEVANAGARI_SAMPLES,
        LATIN_SAMPLES,
    )

    base = _nonlatin_injected(docs)
    for samples, is_hit in (
        (LATIN_SAMPLES, F.col("doc_id") % 4 == 3),
        (CYRILLIC_SAMPLES, F.col("doc_id") % 8 == 2),
        ({**ARABIC_SAMPLES, **DEVANAGARI_SAMPLES}, F.col("doc_id") % 8 == 6),
    ):
        langs = list(samples)
        texts = [samples[k] for k in langs]
        idx = (F.floor(F.col("doc_id") / 4) % len(langs)).cast("int") + 1
        base = base.withColumn(
            "text",
            F.when(
                is_hit, F.element_at(F.array(*[F.lit(s) for s in texts]), idx)
            ).otherwise(F.col("text")),
        ).withColumn(
            "lang",
            F.when(
                is_hit, F.element_at(F.array(*[F.lit(k) for k in langs]), idx)
            ).otherwise(F.col("lang")),
        )
    return base


def _langid_inject_sql() -> str:
    """DuckDB mirror of :func:`_langid_injected` (same dicts, same
    doc_id arithmetic) as a CTE body over ``documents``."""
    from thecrowler_spark.functions.trigram import (
        ARABIC_SAMPLES,
        CYRILLIC_SAMPLES,
        DEVANAGARI_SAMPLES,
        LATIN_SAMPLES,
    )

    inner = f"({_nonlatin_inject_sql()})"
    for samples, cond in (
        (LATIN_SAMPLES, "doc_id % 4 = 3"),
        (CYRILLIC_SAMPLES, "doc_id % 8 = 2"),
        ({**ARABIC_SAMPLES, **DEVANAGARI_SAMPLES}, "doc_id % 8 = 6"),
    ):
        langs = list(samples)
        t_arr = ", ".join("'" + samples[k].replace("'", "''") + "'" for k in langs)
        l_arr = ", ".join(f"'{k}'" for k in langs)
        idx = f"CAST((doc_id // 4) % {len(langs)} AS INT) + 1"
        inner = f"""(
          SELECT * REPLACE (
            CASE WHEN {cond} THEN ([{t_arr}])[{idx}] ELSE text END AS text,
            CASE WHEN {cond} THEN ([{l_arr}])[{idx}] ELSE lang END AS lang
          ) FROM {inner}
        )"""
    return f"SELECT * FROM {inner}"


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-then-language ID, trigram quality path (r4 VERDICT item
    3): codepoint-range script pre-classifier, then — within the Latin
    AND Cyrillic scripts — trigram-profile scoring against a broadcast
    (trigram, lang, weight, priority) table derived from authored seed
    corpora (whatlanggo shape, web.go:3370-3401); single-language
    scripts resolve as before, and the Cyrillic marker argmax survives
    only as the no-profile-hit fallback. Graded over a corpus where
    25% of docs are non-Latin, 25% are short close-pair Latin samples
    and 12.5% are short close-pair Cyrillic samples (ru/uk/bg/sr/mk)
    the 4-language marker argmax demonstrably gets wrong."""
    from thecrowler_spark.operators.langid import detect_language

    docs = _langid_injected(_load(spark, sf_dir, "documents")["documents"])
    return detect_language(docs).select("doc_id", "lang_pred")


def q_text_langmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convertLangStrToLangCode parity: the full 60-entry ISO-639 map
    (types.go:416-479), trim+lower, missing key → '' (Go zero value)."""
    _load(spark, sf_dir, "orders")
    keys = _iso_keys()
    ids = spark.sql("SELECT o_orderkey AS id FROM orders WHERE o_orderkey < 3000")
    raw = F.element_at(
        F.array(*[F.lit(k) for k in keys]), (F.col("id") % len(keys)).cast("int") + 1
    )
    lang3 = (
        F.when(F.col("id") % 3 == 0, F.upper(raw))
        .when(F.col("id") % 3 == 1, F.concat(F.lit(" "), raw, F.lit("  ")))
        .otherwise(raw)
    )
    return ids.select(
        "id", lang3.alias("lang3"), TX.iso_lang_code(lang3).alias("lang_code")
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/alpha/stopword-ratio blend."""
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


def q_text_tokens_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword counting (letter/digit/punct runs)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", TX.token_count_bpe(F.col("text")).alias("n_bpe_tokens"))


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", TX.token_count(F.col("text")).alias("n_tokens"))


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (md5 of normalized text)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", TX.fingerprint_md5(F.col("text")).alias("fingerprint"))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's fingerprint factory family over documents
    (pkg/fingerprints factory.go:54-83): md5 class (JA3/JA3S/HASSH/
    HASSHServer), sha256 class (SHA256/CustomTLS), and the TLSH
    byte-histogram variant (tlsh.go:36-52).

    The TLSH columns expose the 512-hex-char histogram (the
    fingerprint's entire information content) plus sha256 over that
    hex string: DuckDB's sha256 is VARCHAR-only, so the raw-count-byte
    digest of tlsh_hex itself is verified against hashlib in
    tests/test_fingerprints.py instead. All pure Column expressions.
    """
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    out = docs.select(
        "doc_id",
        FP.md5_hex(F.col("text")).alias("fp_md5"),
        FP.sha256_hex(F.col("text")).alias("fp_sha256"),
        FP.tlsh_histogram_hex(F.col("text")).alias("tlsh_histogram"),
    )
    return out.withColumn(
        "histogram_digest", F.sha2(F.col("tlsh_histogram").cast("binary"), 256)
    )


def q_jarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARM fuzzy TLS-handshake hash (jarm.go:33-108) over
    deterministic synthetic handshake-details rows.

    Raw synthesis (mirrored in the oracle) exercises every code path:
    md5-derived cipher picks hit the found / not-found (count=70) /
    empty branches, version digits hit the 'abcdef' letters and the
    out-of-range '0', and every 50th doc gets the canonical all-empty
    raw that short-circuits to 62 zeros. The hash itself is the pure
    Column pipeline of functions.fingerprints.jarm_hash.
    """
    docs = _load(spark, sf_dir, "documents")["documents"]

    def handshake(k: int):
        m = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"#jarm{k}")))
        idx = F.conv(F.substring(m, 1, 4), 16, 10).cast("int") % 80
        ciphers = F.array(*[F.lit(x) for x in FP.JARM_CIPHERS])
        cipher = (
            F.when(idx % 13 == 0, F.lit(""))
            .when(idx < len(FP.JARM_CIPHERS), F.element_at(ciphers, idx + 1))
            .otherwise(F.lit("beef"))
        )
        d = F.conv(F.substring(m, 5, 2), 16, 10).cast("int") % 10
        ver = F.when(idx % 11 == 0, F.lit("")).otherwise(
            F.substring(F.lit("0123456789"), d + 1, 1)
        )
        alpn = F.concat(F.lit("a"), F.substring(m, 7, 2))
        ext = F.concat(F.lit("e"), F.substring(m, 9, 2))
        return F.concat_ws("|", cipher, ver, alpn, ext)

    raw = F.when(
        F.col("doc_id") % 50 == 0, F.lit(FP.JARM_EMPTY_RAW)
    ).otherwise(F.concat_ws(",", *[handshake(k) for k in range(1, 11)]))
    return docs.select(
        "doc_id", raw.alias("jarm_raw")
    ).withColumn("jarm", FP.jarm_hash(F.col("jarm_raw")))


def _jarm_oracle_sql() -> str:
    """DuckDB mirror of q_jarm, generated from the SAME constants
    (fingerprints.JARM_CIPHERS / JARM_EMPTY_RAW) as the Spark path so
    the engines cannot drift: identical raw synthesis (md5-derived
    cipher/version picks), then jarm.go's cipherBytes / versionByte /
    sha256[:32] chain in SQL lambdas."""
    ciphers = "[" + ", ".join(f"'{c}'" for c in FP.JARM_CIPHERS) + "]"
    n = len(FP.JARM_CIPHERS)

    def hs(k: int) -> str:
        m = f"md5(doc_id::VARCHAR || '#jarm{k}')"
        idx = f"(('0x' || substr({m}, 1, 4))::INT % 80)"
        d = f"(('0x' || substr({m}, 5, 2))::INT % 10)"
        cipher = (
            f"CASE WHEN {idx} % 13 = 0 THEN '' "
            f"WHEN {idx} < {n} THEN {ciphers}[{idx} + 1] "
            f"ELSE 'beef' END"
        )
        ver = (
            f"CASE WHEN {idx} % 11 = 0 THEN '' "
            f"ELSE substr('0123456789', {d} + 1, 1) END"
        )
        return (
            f"({cipher} || '|' || {ver} || '|a' || substr({m}, 7, 2)"
            f" || '|e' || substr({m}, 9, 2))"
        )

    raw_expr = " || ',' || ".join(hs(k) for k in range(1, 11))
    comp = "string_split(h, '|')"
    cb = (
        f"CASE WHEN coalesce({comp}[1], '') = '' THEN '00' "
        f"ELSE printf('%02x', CASE WHEN list_position({ciphers}, {comp}[1]) = 0 "
        f"THEN {n + 1} ELSE list_position({ciphers}, {comp}[1]) END) END"
    )
    vb = (
        f"CASE WHEN coalesce({comp}[2], '') = '' THEN '0' "
        f"WHEN ascii(right({comp}[2], 1)) - 48 BETWEEN 0 AND 5 "
        f"THEN substr('abcdef', ascii(right({comp}[2], 1)) - 48 + 1, 1) "
        f"ELSE '0' END"
    )
    return f"""
        WITH raws AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 50 = 0 THEN '{FP.JARM_EMPTY_RAW}'
                      ELSE {raw_expr} END AS raw
          FROM documents
        ),
        fz AS (
          SELECT doc_id, raw,
                 array_to_string(list_transform(string_split(raw, ','),
                                                h -> {cb} || {vb}), '') AS fuzzy,
                 array_to_string(list_transform(string_split(raw, ','),
                                                h -> coalesce({comp}[3], '') || coalesce({comp}[4], '')),
                                 '') AS alpns
          FROM raws
        )
        SELECT doc_id, raw AS jarm_raw,
               CASE WHEN raw = '{FP.JARM_EMPTY_RAW}' THEN repeat('0', 62)
                    ELSE fuzzy || substr(sha256(alpns), 1, 32) END AS jarm
        FROM fz
    """


def q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing with the
    integer-exact unigram-LM familiarity proxy (operators/lm.py):
    top-500 vocab by (count desc, token) — small enough that the sf0.01
    corpus has real out-of-vocabulary occurrences scoring 0 — then
    occurrence-weighted integer mean score per doc, then the two-phase
    distributed ntile (no single-task global window). Oracle mirrors
    the whole chain: row_number vocab cutoff, DIV scores, native
    ntile over the same total order."""
    from thecrowler_spark.operators import lm as LM

    docs = _load(spark, sf_dir, "documents")["documents"]
    return LM.quality_buckets(docs, k=3, vocab_size=500)


def q_lm_buckets_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality bucketing (operators/lm.quality_buckets_bigram):
    doc score = occurrence-weighted integer mean of the CONDITIONAL
    bigram frequency (cnt(t1,t2) * 1e6) DIV cnt(t1) over the top-300
    bigram vocabulary — one Markov step closer to CCNet's KenLM than
    the unigram proxy (word ORDER now matters). Oracle mirrors the
    pair extraction (DuckDB list comprehension ≡ Spark zip_with of the
    token array with its own tail), the head-count join, the
    row_number vocab cutoff, and the ntile total order."""
    from thecrowler_spark.operators import lm as LM

    docs = _load(spark, sf_dir, "documents")["documents"]
    return LM.quality_buckets_bigram(docs, k=3, vocab_size=300)


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset-mixture sampling (sampling.mixture_sample):
    three md5-derived synthetic sources with 70/25/5 integer weights
    share a 30k-token budget; each source contributes docs in md5 order
    until its integer budget is crossed. The budget forces real
    exclusions at sf0.01. Oracle mirrors the source synthesis, the
    integer budget split, and the per-source take-while window."""
    from thecrowler_spark.operators.sampling import mixture_sample

    docs = _load(spark, sf_dir, "documents")["documents"]
    src_bucket = (
        F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#src"))), 1, 2), 16, 10)
        .cast("int") % 10
    )
    source = (
        F.when(src_bucket < 7, F.lit("web"))
        .when(src_bucket < 9, F.lit("books"))
        .otherwise(F.lit("code"))
    )
    sized = docs.select(
        "doc_id", source.alias("source"), TX.token_count(F.col("text")).alias("n_tokens")
    )
    return mixture_sample(
        sized, weights={"web": 70, "books": 25, "code": 5}, budget_tokens=30_000
    )


def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-100 bigram occurrence counts (pretraining
    corpus statistics / boilerplate discovery at phrase granularity —
    the n-gram sibling of keyword_topk). Every occurrence counts
    (dedup happens in the dedup_* family, not here); docs under 2
    tokens contribute nothing. Plan: explode → partial-agg count →
    TakeOrderedAndProject (top-k never global-sorts)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    toks = TX.tokens(F.col("text"))
    bi = docs.filter(F.size(toks) >= 2).select(
        F.explode(TX.ngrams(F.col("text"), 2)).alias("bigram")
    )
    return (
        bi.groupBy("bigram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("bigram"))
        .limit(100)
    )


def q_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, SIGMOD'03): window-min sampling of
    k-gram hashes — any shared ≥(w+k−1)-token run between documents
    shares a fingerprint. Local sampling (position-aware), vs MinHash's
    global sampling — the near-dup detector for partial overlap."""
    docs = _load(spark, sf_dir, "documents")["documents"].filter(F.col("doc_id") % 3 == 0)
    return docs.select(
        "doc_id",
        F.explode(TX.winnow_fingerprints(F.col("text"), k=3, w=4)).alias("fingerprint"),
    )


#: the planted shared run for q_winnow_pairs (12 tokens ≥ w+k−1 = 6,
#: so every planted pair MUST share ≥1 winnow fingerprint)
_WINNOW_PLANT = (
    " the shared slogan run about distributed crawling systems appears"
    " verbatim here today"
)


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow partial-overlap pairs: shared-fingerprint equi-join over
    the MOSS fingerprints — the position-aware near-dup detector
    (quoted passages / boilerplate blocks) completing the winnow
    family. Docs with doc_id % 12 < 2 get a planted 12-token shared
    run so the pair set is non-vacuous."""
    docs = _load(spark, sf_dir, "documents")["documents"].filter(F.col("doc_id") % 3 == 0)
    docs = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 12 < 2, F.concat(F.col("text"), F.lit(_WINNOW_PLANT))
        ).otherwise(F.col("text")),
    )
    return DD.winnow_pairs(docs, k=3, w=4)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (2-gram totals/distinct/top) as
    exact integers."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return TM.repetition_profile(docs, n=2)


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style accept/reject verdict (integer cross-multiplied
    thresholds — exact)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return TM.quality_filter_verdict(docs)


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per doc by (tf DESC, df ASC, term ASC) —
    the TF-IDF ordering over exact integers."""
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    return TM.tfidf_top_terms(docs, k=3)


#: PII-laden synthetic text from orders — same construction both sides.
_SPARK_PII = """
SELECT o_orderkey AS id,
       concat('Order ', CAST(o_orderkey AS STRING), ': contact user',
              CAST(o_orderkey % 97 AS STRING), '@example.com',
              CASE WHEN o_orderkey % 3 = 0
                   THEN concat(' or backup-', CAST(o_orderkey AS STRING), '@mail.example.org;')
                   ELSE ';' END,
              ' node 10.', CAST(o_orderkey % 256 AS STRING), '.0.',
              CAST(o_orderkey % 100 AS STRING),
              CASE WHEN o_orderkey % 4 = 0
                   THEN concat(' dialed +1 (555) 01', CAST(o_orderkey % 10 AS STRING),
                               '-', CAST(o_orderkey % 9000 + 1000 AS STRING))
                   ELSE ' dialed none' END,
              ' at noon.') AS txt
FROM orders WHERE o_orderkey < 6000
"""

_DUCK_PII = """
SELECT o_orderkey AS id,
       concat('Order ', CAST(o_orderkey AS VARCHAR), ': contact user',
              CAST(o_orderkey % 97 AS VARCHAR), '@example.com',
              CASE WHEN o_orderkey % 3 = 0
                   THEN concat(' or backup-', CAST(o_orderkey AS VARCHAR), '@mail.example.org;')
                   ELSE ';' END,
              ' node 10.', CAST(o_orderkey % 256 AS VARCHAR), '.0.',
              CAST(o_orderkey % 100 AS VARCHAR),
              CASE WHEN o_orderkey % 4 = 0
                   THEN concat(' dialed +1 (555) 01', CAST(o_orderkey % 10 AS VARCHAR),
                               '-', CAST(o_orderkey % 9000 + 1000 AS VARCHAR))
                   ELSE ' dialed none' END,
              ' at noon.') AS txt
FROM orders WHERE o_orderkey < 6000
"""


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: email/IPv4/phone → typed placeholders + per-class
    counts, on deterministic synthetic text."""
    _load(spark, sf_dir, "orders")
    base = spark.sql(_SPARK_PII)
    counts = TX.pii_counts(F.col("txt"))
    return base.select(
        "id",
        TX.redact_pii(F.col("txt")).alias("redacted"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )


def _pii_oracle_sql() -> str:
    """Oracle generated from the SAME PII_PATTERNS tuple the Spark
    expression uses — engines cannot drift."""
    counts = []
    cur = "txt"
    for name, pat, repl in TX.PII_PATTERNS:
        counts.append(f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS INT) AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    return f"""
        WITH base AS ({_DUCK_PII})
        SELECT id, {cur} AS redacted, {', '.join(counts)} FROM base
    """


#: the event types present in the generator (TESTDATA.md events table)
_EVENT_TYPES = ("click", "view", "purchase", "error", "signup")


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide reshaping): one row per day, one count column
    per event type. Spark .pivot with an explicit value list (no extra
    distinct-scan job); the oracle is the equivalent conditional
    aggregation — the form PIVOT desugars to."""
    events = _load(spark, sf_dir, "events")["events"]
    return (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in _EVENT_TYPES],
        )
    )


def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile ranking: customers bucketed into spend quartiles over
    exact integer cents (deterministic total order via custkey
    tie-break).

    Scale path (r2 verdict item 9): ``ntile_distributed`` — range-
    partitioned sort + per-partition row_number + partition-offset
    prefix sums (operators/ranking.py), bit-identical to the native
    global window without its single-task sort. The oracle keeps
    DuckDB's native ntile."""
    from thecrowler_spark.operators.ranking import ntile_distributed

    t = _load(spark, sf_dir, "orders", "customer")
    spend = (
        t["orders"]
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_cents"))
    )
    return ntile_distributed(
        spend,
        4,
        [F.desc("spend_cents"), F.asc("o_custkey")],
        out_col="quartile",
    ).select(F.col("o_custkey").alias("custkey"), "spend_cents", "quartile")


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-path extraction over the real events.props column
    (get_json_object → typed int), aggregated per event type: JSON
    parsing stays JVM-side, no UDF."""
    events = _load(spark, sf_dir, "events")["events"]
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("k_null"),
        )
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals (hypertable-rollup analog): ROLLUP over
    (event_type, day) with grouping_id disambiguating subtotal rows;
    value sums kept in exact integer cents."""
    events = _load(spark, sf_dir, "events")["events"]
    return (
        events.withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_value_cents"),
            F.grouping_id().alias("gid"),
        )
        .select("event_type", "day", "n_events", "total_value_cents", "gid")
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation → customer → orders star: revenue per region in
    exact integer cents (broadcast-joined dimension chain)."""
    t = _load(spark, sf_dir, "region", "nation", "customer", "orders")
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("revenue_cents"),
        )
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a >30-min silence starts a new session
    (lag + cumulative flag, the classic batch twin of streaming session
    windows). Per-user windows — partitions bounded by one user's
    events; session stats are exact integers/timestamps."""
    from pyspark.sql import Window

    events = _load(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ -> LTZ -> long: UTC session tz makes this the naive epoch,
    # matching DuckDB's floor(epoch(ts)) exactly
    tse = F.col("ts").cast("timestamp_ltz").cast("long")
    gap = tse - F.lag(tse).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = events.withColumn(
        "session_no",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.max(tse) - F.min(tse)).alias("duration_s"),
        )
        .select(
            "user_id",
            F.col("session_no").cast("int").alias("session_no"),
            "n_events",
            "session_start",
            "session_end",
            "duration_s",
        )
    )


#: versioned source-attribute updates: ~20 versions per key, state
#: changing every second version (so half the merges are no-ops)
_SPARK_SCD2 = """
SELECT o_orderkey % 300 AS key,
       CAST(o_orderkey DIV 300 AS INT) AS v,
       CAST(timestamp'2024-01-01 00:00:00'
            + make_interval(0, 0, 0, CAST(o_orderkey DIV 300 AS INT), 0, 0, 0)
            AS TIMESTAMP_NTZ) AS ts,
       concat('state', CAST(((o_orderkey DIV 300) DIV 2) % 5 AS STRING)) AS state
FROM orders WHERE o_orderkey < 6000
"""

_DUCK_SCD2 = """
SELECT o_orderkey % 300 AS key,
       CAST(o_orderkey // 300 AS INT) AS v,
       TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey // 300) * INTERVAL 1 DAY AS ts,
       concat('state', CAST(((o_orderkey // 300) // 2) % 5 AS VARCHAR)) AS state
FROM orders WHERE o_orderkey < 6000
"""


def q_sources_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history merge on LakeTable, applied in three INCREMENTAL
    batches — must equal the one-shot window derivation the oracle
    computes (the lakehouse-history extension of the reference's
    SCD1 Sources upsert)."""
    import tempfile

    from thecrowler_spark.sources.lake import LakeTable

    _load(spark, sf_dir, "orders")
    versions = spark.sql(_SPARK_SCD2)
    lake = LakeTable(spark, tempfile.mkdtemp(prefix="scd2_"))
    for lo, hi in ((0, 7), (7, 14), (14, 10**9)):
        batch = versions.filter((F.col("v") >= lo) & (F.col("v") < hi)).drop("v")
        lake.merge_scd2(batch, ["key"], "ts", ["state"])
    return lake.read().select("key", "state", "valid_from", "valid_to")


#: hourly attribute versions keyed 0..49 (overlapping the events
#: user_id % 50 domain) — the as-of/interval-join dimension side
_SPARK_ASOF_V = """
SELECT o_orderkey % 50 AS key,
       CAST(timestamp'2024-01-01 00:00:00'
            + make_interval(0, 0, 0, 0, CAST(o_orderkey DIV 50 AS INT), 0, 0)
            AS TIMESTAMP_NTZ) AS ts,
       concat('state', CAST(((o_orderkey DIV 50) DIV 2) % 5 AS STRING)) AS state
FROM orders WHERE o_orderkey < 6000
"""

_DUCK_ASOF_V = """
SELECT o_orderkey % 50 AS key,
       TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey // 50) * INTERVAL 1 HOUR AS ts,
       concat('state', CAST(((o_orderkey // 50) // 2) % 5 AS VARCHAR)) AS state
FROM orders WHERE o_orderkey < 6000
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event picks up the latest dimension version
    at-or-before its timestamp. Spark side = union-merge window (no
    native ASOF); oracle = DuckDB's native ASOF LEFT JOIN — two
    different algorithms, identical rows."""
    from thecrowler_spark.operators import temporal as TP

    t = _load(spark, sf_dir, "events", "orders")
    versions = spark.sql(_SPARK_ASOF_V)
    probe = t["events"].select(
        (F.col("user_id") % 50).alias("key"), "event_id", F.col("ts")
    )
    out = TP.asof_join(probe, versions, ["key"], "ts", ["state"])
    return out.select("key", "event_id", "ts", "state")


def q_events_asof_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mega-key-safe as-of join (window partitions on (key, day-bucket)
    with per-bucket carry-in). Shares events_asof's oracle — DuckDB's
    native ASOF JOIN — so THREE independent algorithms cross-validate:
    union-merge window, bucketed carry-in merge, and DuckDB's range
    lookup."""
    from thecrowler_spark.operators import temporal as TP

    t = _load(spark, sf_dir, "events", "orders")
    versions = spark.sql(_SPARK_ASOF_V)
    probe = t["events"].select(
        (F.col("user_id") % 50).alias("key"), "event_id", F.col("ts")
    )
    out = TP.asof_join_bucketed(probe, versions, ["key"], "ts", ["state"], bucket="1 day")
    return out.select("key", "event_id", "ts", "state")


def q_scd2_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: count events inside each SCD2 validity
    interval — key equality + ts ∈ [valid_from, valid_to)."""
    import tempfile

    from thecrowler_spark.operators import temporal as TP
    from thecrowler_spark.sources.lake import LakeTable

    t = _load(spark, sf_dir, "events", "orders")
    versions = spark.sql(_SPARK_ASOF_V)
    lake = LakeTable(spark, tempfile.mkdtemp(prefix="scd2ij_"))
    lake.merge_scd2(versions, ["key"], "ts", ["state"])
    hist = lake.read()
    probe = t["events"].select((F.col("user_id") % 50).alias("key"), "ts")
    joined = TP.interval_join(probe, hist, ["key"], ts_col="ts")
    return joined.groupBy("key", "state", "valid_from").agg(
        F.count("*").alias("n_events")
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus accounting: doc counts + exact integer token
    and char totals (the 'what is in my training set' report). One
    groupBy with map-side partial aggregation — at 100 TB this is a
    single shuffle of ~n_languages rows per map task."""
    from thecrowler_spark.operators.langid import detect_language

    docs = _langid_injected(_load(spark, sf_dir, "documents")["documents"])
    return (
        detect_language(docs)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count(F.col("text"))).alias("total_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(F.when(F.col("lang_pred") == F.col("lang"), 1).otherwise(0)).alias(
                "langid_agree"
            ),
        )
    )


#: synthetic link graph over documents: 3 out-edges per doc via affine
#: maps mod N — identical SQL text on both engines (N computed in-plan).
_EDGES_SQL = """
SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst FROM documents CROSS JOIN nn
UNION ALL
SELECT doc_id AS src, (doc_id * 13 + 5) % nn.n AS dst FROM documents CROSS JOIN nn
UNION ALL
SELECT doc_id AS src, (doc_id * 31 + 11) % nn.n AS dst FROM documents CROSS JOIN nn
"""

_EDGES_WITH = f"WITH nn AS (SELECT count(*) AS n FROM documents), e AS ({_EDGES_SQL})"


def _spark_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _load(spark, sf_dir, "documents")
    return spark.sql(f"{_EDGES_WITH} SELECT src, dst FROM e")


def q_linkgraph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph in/out degrees (crawl-prioritization / spam signal)."""
    return LG.degree_stats(_spark_edges(spark, sf_dir))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank power iteration (5 rounds) in exact int64 fixed point —
    bit-identical across engines, so an ITERATIVE graph algorithm gets
    a full DuckDB oracle (unrolled per-iteration CTEs)."""
    return LG.pagerank_fixedpoint(_spark_edges(spark, sf_dir), n_iter=5)


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (3 rounds) in exact int64 fixed point —
    like pagerank, the integer normalization makes the ITERATIVE
    algorithm bit-identical across engines (unrolled-CTE oracle)."""
    return LG.hits_fixedpoint(_spark_edges(spark, sf_dir), n_iter=3)


def _opic_spark_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synthetic edges minus src%10==7 out-edges (danglers)."""
    return _spark_edges(spark, sf_dir).filter(F.expr("src % 10 <> 7"))


def q_opic_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPIC online page importance (Abiteboul WWW'03) — the adaptive
    frontier-priority signal: cash distributes along out-links each
    round, flooring remainders + dangling-node cash recycle through a
    virtual node, importance = history + cash. Exact int64 fixed point,
    so the ITERATIVE algorithm carries a full unrolled-CTE DuckDB
    oracle (5 rounds) like pagerank/hits; the edge set drops src%10==7
    out-edges so the dangling/virtual-pot path is graded too."""
    from thecrowler_spark.operators.opic import opic_importance

    return opic_importance(_opic_spark_edges(spark, sf_dir), n_iter=5)


def q_frontier_claim_opic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + OPIC valve: the frontier claim ordered by OPIC importance
    (highest cash+history first, FIFO within ties) instead of the
    reference's static-priority FIFO — the OPIC paper's intended use
    ('crawl the page holding the most cash next'). One source-key
    equi-join of the claim gate to the importance table; default-off
    valve (claim_sources(importance=None) keeps update_sources
    parity, pgsql:2887)."""
    from thecrowler_spark.operators.frontier import claim_sources
    from thecrowler_spark.operators.opic import opic_importance

    _load(spark, sf_dir, "documents")
    seeds = spark.sql(
        """
        SELECT doc_id AS source_id,
               concat('https://d', CAST(doc_id AS STRING), '.example.com/') AS url,
               'high' AS priority, 'new' AS status, false AS disabled,
               timestamp'2024-01-01 00:00:00'
                 + make_interval(0, 0, 0, 0, 0, 0, CAST(doc_id AS INT)) AS created_at
        FROM documents
        """
    )
    imp = opic_importance(_opic_spark_edges(spark, sf_dir), n_iter=2).select(
        F.col("node").alias("source_id"), "imp_fp"
    )
    return claim_sources(seeds, 100, importance=imp)


def _hits_oracle_sql(n_iter: int = 3, scale: int = 1_000_000) -> str:
    """Unrolled HITS iterations mirroring hits_fixedpoint exactly
    (integer DIV normalization; '//' ≡ Spark DIV on non-negatives)."""
    norm = f"s // (CASE WHEN t // {scale} < 1 THEN 1 ELSE t // {scale} END)"
    body = f"""
        {_EDGES_WITH},
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        h0 AS (SELECT node, CAST({scale} AS BIGINT) AS h FROM nodes)"""
    for k in range(1, n_iter + 1):
        body += f""",
        ar{k} AS (SELECT e.dst AS node, sum(p.h) AS s FROM e JOIN h{k - 1} p ON e.src = p.node GROUP BY e.dst),
        af{k} AS (SELECT n.node, COALESCE(ar{k}.s, 0) AS s FROM nodes n LEFT JOIN ar{k} ON n.node = ar{k}.node),
        at{k} AS (SELECT sum(s) AS t FROM af{k}),
        a{k} AS (SELECT node, {norm} AS a FROM af{k} CROSS JOIN at{k}),
        hr{k} AS (SELECT e.src AS node, sum(q.a) AS s FROM e JOIN a{k} q ON e.dst = q.node GROUP BY e.src),
        hf{k} AS (SELECT n.node, COALESCE(hr{k}.s, 0) AS s FROM nodes n LEFT JOIN hr{k} ON n.node = hr{k}.node),
        ht{k} AS (SELECT sum(s) AS t FROM hf{k}),
        h{k} AS (SELECT node, {norm} AS h FROM hf{k} CROSS JOIN ht{k})"""
    return body + f"""
        SELECT h{n_iter}.node, CAST(h{n_iter}.h AS BIGINT) AS hub_fp,
               CAST(a{n_iter}.a AS BIGINT) AS auth_fp
        FROM h{n_iter} JOIN a{n_iter} ON h{n_iter}.node = a{n_iter}.node
    """


def _pagerank_oracle_sql(n_iter: int = 5, scale: int = 1_000_000_000, damping: int = 85) -> str:
    """Unrolled power iteration mirroring pagerank_fixedpoint exactly."""
    body = f"""
        {_EDGES_WITH},
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nx AS (SELECT count(*) AS n FROM nodes),
        outd AS (SELECT src AS node, count(*) AS od FROM e GROUP BY src),
        it0 AS (SELECT node, {scale} // nx.n AS r FROM nodes CROSS JOIN nx)"""
    prev = "it0"
    for k in range(1, n_iter + 1):
        body += f""",
        c{k} AS (
          SELECT e.dst AS node, sum((p.r * {damping}) // (100 * outd.od)) AS c
          FROM e JOIN {prev} p ON e.src = p.node JOIN outd ON e.src = outd.node
          GROUP BY e.dst
        ),
        it{k} AS (
          SELECT nodes.node,
                 ({scale}::BIGINT * {100 - damping}) // (100 * nx.n) + coalesce(c{k}.c, 0) AS r
          FROM nodes CROSS JOIN nx LEFT JOIN c{k} ON nodes.node = c{k}.node
        )"""
        prev = f"it{k}"
    body += f"""
        SELECT node, CAST(r AS BIGINT) AS rank_fp FROM {prev}"""
    return body


#: the OPIC link graph: the shared synthetic edges minus every edge
#: whose src ends in 7 — those nodes become DANGLING (no out-links),
#: grading the virtual-node leak path, not just the happy equi-join.
_OPIC_EDGES_WITH = f"""WITH nn AS (SELECT count(*) AS n FROM documents),
        e0 AS ({_EDGES_SQL}),
        e AS (SELECT src, dst FROM e0 WHERE src % 10 <> 7)"""


def _opic_cte_body(n_iter: int, scale: int = 1_000_000_000) -> str:
    """Unrolled synchronous-OPIC rounds mirroring
    thecrowler_spark.operators.opic.opic_importance exactly: per-edge
    cash DIV outdeg, flooring remainders + dangling cash leak to the
    virtual pot, pot redistributes pot DIV N per node next round
    ('//' and '%' ≡ Spark DIV/% on the non-negative values here).
    Ends with it{n_iter} holding (node, cash, hist)."""
    body = f"""
        {_OPIC_EDGES_WITH},
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nx AS (SELECT count(*) AS n FROM nodes),
        outd AS (SELECT src AS node, count(*) AS od FROM e GROUP BY src),
        it0 AS (SELECT node, CAST({scale} // nx.n AS BIGINT) AS cash,
                       CAST(0 AS BIGINT) AS hist
                FROM nodes CROSS JOIN nx),
        v0 AS (SELECT CAST(0 AS BIGINT) AS v)"""
    for k in range(1, n_iter + 1):
        p = k - 1
        body += f""",
        c{k} AS (
          SELECT e.dst AS node, CAST(sum(p.cash // outd.od) AS BIGINT) AS c
          FROM e JOIN it{p} p ON e.src = p.node JOIN outd ON e.src = outd.node
          GROUP BY e.dst
        ),
        lk{k} AS (
          SELECT CAST(coalesce(sum(CASE WHEN outd.od IS NULL THEN p.cash
                                        ELSE p.cash % outd.od END), 0) AS BIGINT) AS leak
          FROM it{p} p LEFT JOIN outd ON p.node = outd.node
        ),
        vs{k} AS (SELECT v // nx.n AS share, v % nx.n AS vrem
                  FROM v{p} CROSS JOIN nx),
        it{k} AS (
          SELECT n.node,
                 CAST(coalesce(c{k}.c, 0) + vs{k}.share AS BIGINT) AS cash,
                 CAST(p.hist + p.cash AS BIGINT) AS hist
          FROM nodes n JOIN it{p} p ON n.node = p.node
          LEFT JOIN c{k} ON n.node = c{k}.node
          CROSS JOIN vs{k}
        ),
        v{k} AS (SELECT CAST(lk{k}.leak + vs{k}.vrem AS BIGINT) AS v
                 FROM lk{k} CROSS JOIN vs{k})"""
    return body


def _opic_oracle_sql(n_iter: int = 5) -> str:
    return (
        _opic_cte_body(n_iter)
        + f"""
        SELECT node, cash AS cash_fp, hist AS hist_fp,
               CAST(cash + hist AS BIGINT) AS imp_fp
        FROM it{n_iter}"""
    )


#: multi-line documents with corpus-wide boilerplate lines — same
#: construction both sides (cookie banner in every doc, copyright
#: footer shared by 1/7th, share-bar by 1/3rd, body + tail unique).
_SPARK_MULTILINE = """
SELECT doc_id,
       concat('cookie notice accept all', chr(10),
              substr(text, 1, 60), chr(10),
              'copyright footer ', CAST(doc_id % 7 AS STRING), chr(10),
              CASE WHEN doc_id % 3 = 0 THEN concat('share this page', chr(10)) ELSE '' END,
              'doc tail ', CAST(doc_id AS STRING)) AS text
FROM documents
"""

_DUCK_MULTILINE = """
SELECT doc_id,
       concat('cookie notice accept all', chr(10),
              substr(text, 1, 60), chr(10),
              'copyright footer ', CAST(doc_id % 7 AS VARCHAR), chr(10),
              CASE WHEN doc_id % 3 = 0 THEN concat('share this page', chr(10)) ELSE '' END,
              'doc tail ', CAST(doc_id AS VARCHAR)) AS text
FROM documents
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing ≥3 distinct
    3-gram shingles with the benchmark slice (doc_id % 20 == 0)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return DD.contamination_flags(train, bench, k=3, min_shared=3)


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style duplicated-line removal: corpus-wide line counts →
    drop boilerplate lines (count > 4) → reassemble docs in order."""
    _load(spark, sf_dir, "documents")
    synth = spark.sql(_SPARK_MULTILINE)
    return DD.dedup_lines(synth, max_count=4)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span dedup (Lee et al. 2021, token-windowed):
    corpus-repeated 8-gram windows removed from every document and the
    text reassembled — the span-level sibling of dedup_lines (strips
    duplicated mid-line runs: licence boilerplate, quoted replies,
    templated sentences). Gram counting keys on xxhash64 internally
    (8-byte shuffle keys); the oracle groups by the gram string —
    identical modulo hash collisions, the dedup_lines precedent."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return DD.repeated_span_dedup(docs.select("doc_id", "text"), w=8, max_count=1)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media plumbing: payload synth + mapInPandas decode stub."""
    _load(spark, sf_dir, "part")
    refs = spark.sql(
        """
        SELECT concat('https://cdn.example.com/m', CAST(p_partkey AS STRING), '.',
                      element_at(array('png','jpg','mp3','mp4','pdf'), CAST(p_partkey % 5 AS INT) + 1)) AS media_ref
        FROM part WHERE p_partkey < 500
        """
    )
    decoded = MM.decode_media(MM.attach_payloads(refs))
    return decoded.select("media_ref", "media_type", "n_bytes", "payload_sha256")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing (mapInPandas stub): deterministic resized-hash."""
    _load(spark, sf_dir, "part")
    refs = spark.sql(
        """
        SELECT concat('https://cdn.example.com/m', CAST(p_partkey AS STRING), '.',
                      element_at(array('png','jpg','mp4'), CAST(p_partkey % 3 AS INT) + 1)) AS media_ref
        FROM part WHERE p_partkey < 300
        """
    )
    return MM.resize_media(MM.attach_payloads(refs)).select(
        "media_ref", "media_type", "target_w", "target_h", "resized_sha256", "n_bytes"
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out (video refs only)."""
    _load(spark, sf_dir, "part")
    refs = spark.sql(
        """
        SELECT concat('https://cdn.example.com/m', CAST(p_partkey AS STRING), '.',
                      element_at(array('png','mp4','webm'), CAST(p_partkey % 3 AS INT) + 1)) AS media_ref
        FROM part WHERE p_partkey < 300
        """
    )
    return MM.sample_frames(MM.attach_payloads(refs))


def _mm_ext_array_sql() -> str:
    """Variant → extension array literal shared by the Spark SQL and
    the DuckDB oracle (generated from REAL_VARIANTS)."""
    exts = ", ".join(f"'{fmt}'" for fmt, _ in MM.REAL_VARIANTS)
    return f"[{exts}]"


def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (r4 VERDICT item 5): deterministic
    PPM/BMP/PNG/WAV fixtures (functions/codecs.py encoders) attached as
    binary columns, decoded by the separate numpy parsers inside Arrow
    mapInPandas — real dimensions / sample rates and sha256 of the
    DECODED pixels / samples. PNG is a genuinely compressed format
    (stdlib-zlib DEFLATE + all five scanline filters, cycling per row).
    The oracle's expected values are computed from the raw pattern,
    never by round-tripping the decoder, so a parsing bug (padding, row
    order, endianness, defiltering) fails the hash."""
    _load(spark, sf_dir, "part")
    n = len(MM.REAL_VARIANTS)
    refs = spark.sql(
        f"""
        SELECT concat('https://cdn.example.com/r', CAST(p_partkey AS STRING), '.',
                      element_at(array{tuple(fmt for fmt, _ in MM.REAL_VARIANTS)},
                                 CAST(p_partkey % {n} AS INT) + 1)) AS media_ref,
               CAST(p_partkey % {n} AS INT) AS variant
        FROM part WHERE p_partkey < 300
        """
    )
    return MM.decode_media(MM.attach_real_payloads(refs), real_decode=True)


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL nearest-neighbor resize of decoded PPM/BMP/PNG fixtures to
    16x12, hashing the resized RGB bytes."""
    _load(spark, sf_dir, "part")
    n_img = MM.N_IMG_VARIANTS
    img_exts = [fmt for fmt, _ in MM.REAL_VARIANTS[:n_img]]
    refs = spark.sql(
        f"""
        SELECT concat('https://cdn.example.com/r', CAST(p_partkey AS STRING), '.',
                      element_at(array{tuple(img_exts)}, CAST(p_partkey % {n_img} AS INT) + 1)) AS media_ref,
               CAST(p_partkey % {n_img} AS INT) AS variant
        FROM part WHERE p_partkey < 300
        """
    )
    return MM.resize_media_real(MM.attach_real_payloads(refs))


def q_multimodal_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling over multi-image P6 streams (Netpbm allows
    concatenated images — the uncompressed video stand-in): one row per
    decoded frame with its own pixel hash and dimensions."""
    _load(spark, sf_dir, "part")
    n = len(MM.FRAME_VARIANTS)
    refs = spark.sql(
        f"""
        SELECT concat('https://cdn.example.com/v', CAST(p_partkey AS STRING), '.ppm') AS media_ref,
               CAST(p_partkey % {n} AS INT) AS variant
        FROM part WHERE p_partkey < 100
        """
    )
    return MM.sample_frames_real(MM.attach_frame_payloads(refs))


def _mm_decode_real_oracle_sql() -> str:
    """Expected per-variant decode results computed from the raw pixel
    / sample PATTERNS (codecs.pixel_pattern / sample_pattern) — NOT by
    running the decoder — embedded as VALUES."""
    import hashlib

    from thecrowler_spark.functions import codecs as C

    rows = []
    for v, (fmt, params) in enumerate(MM.REAL_VARIANTS):
        nb = len(MM.variant_payload(v))
        if fmt != "wav":
            w, h = params
            sha = hashlib.sha256(C.pixel_pattern(w, h, v).tobytes()).hexdigest()
            # media type from the SAME map the engine's media_type_expr
            # compiles, so the oracle cannot drift from the CASE chain
            rows.append(f"({v}, '{MM.EXT_TYPE_MAP[fmt]}', {nb}, {w}, {h}, 3,"
                        f" NULL, NULL, '{sha}')")
        else:
            ns, rate = params
            sha = hashlib.sha256(C.sample_pattern(ns, v).tobytes()).hexdigest()
            rows.append(f"({v}, 'audio/wav', {nb}, NULL, NULL, 1, {rate}, {ns}, '{sha}')")
    n = len(MM.REAL_VARIANTS)
    return f"""
        WITH exp(variant, media_type, n_bytes, width, height, channels,
                 sample_rate, n_samples, content_sha256) AS (VALUES {', '.join(rows)}),
        refs AS (
          SELECT concat('https://cdn.example.com/r', CAST(p_partkey AS VARCHAR), '.',
                        ({_mm_ext_array_sql()})[CAST(p_partkey % {n} AS INT) + 1]) AS media_ref,
                 CAST(p_partkey % {n} AS INT) AS variant
          FROM part WHERE p_partkey < 300
        )
        SELECT media_ref, media_type, CAST(n_bytes AS BIGINT) AS n_bytes,
               CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               CAST(channels AS INT) AS channels, CAST(sample_rate AS INT) AS sample_rate,
               CAST(n_samples AS BIGINT) AS n_samples, content_sha256
        FROM refs JOIN exp USING (variant)
    """


def _mm_resize_real_oracle_sql(tw: int = 16, th: int = 12) -> str:
    """Expected resize hashes from resize_nearest applied to the raw
    pattern (the decode leg stays independent; resize math itself is
    golden-tested in tests/test_codecs.py)."""
    import hashlib

    from thecrowler_spark.functions import codecs as C

    n_img = MM.N_IMG_VARIANTS
    rows = []
    for v, (fmt, (w, h)) in enumerate(MM.REAL_VARIANTS[:n_img]):
        out = C.resize_nearest(C.pixel_pattern(w, h, v), tw, th)
        sha = hashlib.sha256(out.tobytes()).hexdigest()
        rows.append(f"({v}, '{MM.EXT_TYPE_MAP[fmt]}', {w}, {h}, '{sha}')")
    exts = ", ".join(f"'{fmt}'" for fmt, _ in MM.REAL_VARIANTS[:n_img])
    return f"""
        WITH exp(variant, media_type, width, height, resized_sha256) AS
          (VALUES {', '.join(rows)}),
        refs AS (
          SELECT concat('https://cdn.example.com/r', CAST(p_partkey AS VARCHAR), '.',
                        ([{exts}])[CAST(p_partkey % {n_img} AS INT) + 1]) AS media_ref,
                 CAST(p_partkey % {n_img} AS INT) AS variant
          FROM part WHERE p_partkey < 300
        )
        SELECT media_ref, media_type, CAST(width AS INT) AS width,
               CAST(height AS INT) AS height, CAST({tw} AS INT) AS target_w,
               CAST({th} AS INT) AS target_h, resized_sha256
        FROM refs JOIN exp USING (variant)
    """


def _mm_frames_real_oracle_sql(every_ms: int = 1000) -> str:
    import hashlib

    from thecrowler_spark.functions import codecs as C

    rows = []
    for v, (w, h, n_frames) in enumerate(MM.FRAME_VARIANTS):
        for i in range(n_frames):
            sha = hashlib.sha256(C.pixel_pattern(w, h, 100 + v + i).tobytes()).hexdigest()
            rows.append(f"({v}, {i}, {i * every_ms}, {w}, {h}, '{sha}')")
    n = len(MM.FRAME_VARIANTS)
    return f"""
        WITH exp(variant, frame_idx, frame_ts_ms, width, height, frame_sha256) AS
          (VALUES {', '.join(rows)}),
        refs AS (
          SELECT concat('https://cdn.example.com/v', CAST(p_partkey AS VARCHAR), '.ppm') AS media_ref,
                 CAST(p_partkey % {n} AS INT) AS variant
          FROM part WHERE p_partkey < 100
        )
        SELECT media_ref, CAST(frame_idx AS INT) AS frame_idx,
               CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms,
               CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               frame_sha256
        FROM refs JOIN exp USING (variant)
    """


def _media_neardup_refs_spark_sql() -> str:
    """Spark-side ref builder for the perceptual near-dup fixtures:
    (grp, variant) from p_partkey, container extension per variant."""
    g, nv = MM.N_NEARDUP_GROUPS, len(MM.NEARDUP_VARIANTS)
    exts = tuple(MM.neardup_ext(v) for v in range(nv))
    return f"""
        SELECT concat('https://img.example.com/g', CAST(p_partkey % {g} AS STRING),
                      'v', CAST((p_partkey DIV {g}) % {nv} AS STRING),
                      '_', CAST(p_partkey AS STRING), '.',
                      element_at(array{exts}, CAST((p_partkey DIV {g}) % {nv} AS INT) + 1)) AS media_ref,
               CAST(p_partkey % {g} AS INT) AS grp,
               CAST((p_partkey DIV {g}) % {nv} AS INT) AS variant
        FROM part WHERE p_partkey < 360
    """


def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels: the same image
    content encoded as PPM / BMP / PNG (plus spot- and cell-perturbed
    retouches) must hash to within a small Hamming radius, different
    images ~32 bits apart. The Spark side decodes genuine container
    bytes (functions/codecs decoders) inside Arrow mapInPandas; the
    oracle's expected hashes are computed from the raw pixel pattern,
    never through the container decoders, so a decode bug fails the
    gate. Content-addressable key for image dedup at corpus scale
    (reference stores typed binary WebObjects keyed by content hash:
    /root/reference/pkg/crawler/crawler.go:1504-1543)."""
    _load(spark, sf_dir, "part")
    refs = spark.sql(_media_neardup_refs_spark_sql())
    return MM.media_phash(MM.attach_neardup_payloads(refs))


def q_media_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup image pairs by aHash Hamming ≤ 3, blocked on 16-bit
    hash chunks (pigeonhole-exact recall at radius 3 — same shape as
    text SimHash blocking, never all-pairs). The DuckDB oracle is the
    INDEPENDENT brute-force O(n²) join over pattern-derived hashes, so
    it checks both the hash values and the banded join's recall."""
    _load(spark, sf_dir, "part")
    refs = spark.sql(_media_neardup_refs_spark_sql())
    sig = MM.media_phash(MM.attach_neardup_payloads(refs))
    pairs = MM.media_near_dups(sig)
    return pairs.select("ref_a", "ref_b", F.col("hamming").cast("int").alias("hamming"))


def _media_phash_exp_values() -> str:
    """(grp, variant, phash) VALUES from the raw perturbed pattern —
    codecs.ahash64 over neardup_image, which never touches the
    container encode/decode path the engine exercises."""
    from thecrowler_spark.functions import codecs as C

    rows = []
    for gi in range(MM.N_NEARDUP_GROUPS):
        for v in range(len(MM.NEARDUP_VARIANTS)):
            ph = C.ahash64(MM.neardup_image(gi, v))
            rows.append(f"({gi}, {v}, CAST({ph} AS BIGINT))")
    return ", ".join(rows)


def _media_neardup_refs_duck_sql() -> str:
    g, nv = MM.N_NEARDUP_GROUPS, len(MM.NEARDUP_VARIANTS)
    exts = "[" + ", ".join(f"'{MM.neardup_ext(v)}'" for v in range(nv)) + "]"
    return f"""
          SELECT concat('https://img.example.com/g', CAST(p_partkey % {g} AS VARCHAR),
                        'v', CAST((p_partkey // {g}) % {nv} AS VARCHAR),
                        '_', CAST(p_partkey AS VARCHAR), '.',
                        ({exts})[CAST((p_partkey // {g}) % {nv} AS INT) + 1]) AS media_ref,
                 CAST(p_partkey % {g} AS INT) AS grp,
                 CAST((p_partkey // {g}) % {nv} AS INT) AS variant
          FROM part WHERE p_partkey < 360
    """


def _media_phash_oracle_sql() -> str:
    nv = len(MM.NEARDUP_VARIANTS)
    exts = "[" + ", ".join(f"'{MM.neardup_ext(v)}'" for v in range(nv)) + "]"
    # media type from the SAME map the engine's media_type_expr compiles
    type_case = " ".join(
        f"WHEN '{e}' THEN '{MM.EXT_TYPE_MAP[e]}'" for e in ("ppm", "bmp", "png")
    )
    return f"""
        WITH exp(grp, variant, phash) AS (VALUES {_media_phash_exp_values()}),
        refs AS ({_media_neardup_refs_duck_sql()})
        SELECT media_ref,
               CASE ({exts})[variant + 1] {type_case} END AS media_type,
               phash
        FROM refs JOIN exp USING (grp, variant)
    """


def _media_neardup_oracle_sql(max_hamming: int = MM.MEDIA_HAMMING) -> str:
    return f"""
        WITH exp(grp, variant, phash) AS (VALUES {_media_phash_exp_values()}),
        refs AS ({_media_neardup_refs_duck_sql()}),
        sigs AS (SELECT media_ref, phash FROM refs JOIN exp USING (grp, variant))
        SELECT a.media_ref AS ref_a, b.media_ref AS ref_b,
               CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        FROM sigs a JOIN sigs b ON a.media_ref < b.media_ref
        WHERE bit_count(xor(a.phash, b.phash)) <= {max_hamming}
    """


def q_attr_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ObjectAttributes EAV extraction: JSON-path + normalizers + value_hash
    (crawler.go:1065-1202, postgresql-setup.pgsql:553-601)."""
    from thecrowler_spark.operators.attributes import AttributeSpec, extract_attributes

    _load(spark, sf_dir, "orders")
    objs = spark.sql(
        """
        SELECT o_orderkey AS object_id,
               concat('{"product": {"price": " ', CAST(o_orderkey % 997 AS STRING),
                      ' ", "name": "Item ', upper(o_orderpriority), '"}}') AS details
        FROM orders
        """
    )
    specs = [
        AttributeSpec("price", "$.product.price", ("trim",)),
        AttributeSpec("name", "$.product.name", ("trim", "lowercase", "collapse_spaces")),
    ]
    return extract_attributes(objs, specs)


def q_attr_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 proper: entity correlation via value_hash self-join, aggregated
    to per-hash pair counts (bounded subset)."""
    from thecrowler_spark.operators.attributes import (
        AttributeSpec,
        correlate_by_value,
        extract_attributes,
    )

    _load(spark, sf_dir, "orders")
    objs = spark.sql(
        """
        SELECT o_orderkey AS object_id,
               concat('{"seg": "', CAST(o_orderkey % 40 AS STRING), '"}') AS details
        FROM orders WHERE o_orderkey < 2000
        """
    )
    attrs = extract_attributes(objs, [AttributeSpec("seg", "$.seg", ("trim",))])
    return correlate_by_value(attrs).groupBy("value_hash").agg(
        F.count("*").alias("n_pairs"), F.min("object_a").alias("min_object")
    )


def q_url_fuzzing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawling-rule URL fuzzing (FuzzURL, fuzzing_rules.go:28-108)."""
    from thecrowler_spark.operators.fuzzing import RULES_SCHEMA, fuzz_urls

    _load(spark, sf_dir, "orders")
    urls = spark.sql(
        """
        SELECT concat('https://h', CAST(o_orderkey % 10 AS STRING), '.example.com/v1/items',
                      CASE WHEN o_orderkey % 2 = 0
                           THEN concat('?id=', CAST(o_orderkey AS STRING), '&page=1') ELSE '' END) AS url
        FROM orders WHERE o_orderkey < 4000
        """
    )
    rules = spark.createDataFrame(
        [("r_query", "query", "id", ["0", "9999"]), ("r_path", "path", "/v1", ["/v2", "/admin"])],
        RULES_SCHEMA,
    )
    return fuzz_urls(urls, rules)


def q_normalizers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalizer registry (attribute_indexing.go:74-107): collapse_spaces,
    remove_punctuation, normalize_email, unix_to_datetime over one column."""
    from thecrowler_spark.functions import normalizers as N

    _load(spark, sf_dir, "orders")
    vals = spark.sql(
        """
        SELECT o_orderkey AS id,
               CASE o_orderkey % 4
                 WHEN 0 THEN concat('  ', o_orderpriority, ',  x!  ')
                 WHEN 1 THEN concat(CAST(1500000000 + o_orderkey AS STRING))
                 WHEN 2 THEN concat(CAST((1600000000 + o_orderkey) AS STRING), '123')
                 ELSE concat(' User', CAST(o_orderkey AS STRING), '@Example.COM ')
               END AS v
        FROM orders
        """
    )
    return vals.select(
        "id",
        "v",
        N.collapse_spaces("v").alias("collapsed"),
        N.remove_punctuation("v").alias("no_punct"),
        N.normalize_email("v").alias("email_norm"),
        N.unix_to_datetime("v").alias("dt_norm"),
    )


def q_search_fts_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FTS analog of search_pages (postgresql-setup.pgsql:2953-2971):
    term-frequency rank over tokenized body, top 50."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    toks = TX.tokens(F.lower(F.col("text")))
    terms = ["data", "model", "training"]
    score = None
    for t in terms:
        s = F.size(F.filter(toks, lambda x: x == F.lit(t)))
        score = s if score is None else score + s
    return (
        docs.select("doc_id", score.alias("rank_score"))
        .filter(F.col("rank_score") > 0)
        .orderBy(F.desc("rank_score"), F.asc("doc_id"))
        .limit(50)
    )


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result snippet extraction: a ±40-char context window
    around the FIRST occurrence of the query term, for matching docs —
    the SERP-preview feature over the search star. Pure substring
    arithmetic (position + substr), identical in DuckDB."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    term = "table"
    pos = F.instr(F.lower(F.col("text")), term)  # 1-based, 0 = no match
    start = F.greatest(pos - 40, F.lit(1))
    snippet = F.substring(F.col("text"), start, F.lit(40 + len(term) + 40))
    return (
        docs.filter(pos > 0)
        .select("doc_id", pos.alias("match_pos"), snippet.alias("snippet"))
    )


def q_email_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email WebCrawlQueue (email.go:156-223): policy-approved mailbox
    links union the link-discovered frontier, tagged by discovered_via,
    FIFO-claimed together."""
    _load(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        WITH crawl AS (
          SELECT concat('https://h', CAST(o_orderkey % 30 AS STRING), '.example.com/p',
                        CAST(o_orderkey AS STRING)) AS url,
                 'link' AS discovered_via, o_orderkey AS arrival
          FROM orders WHERE o_orderkey % 5 = 0
        ),
        mail AS (
          SELECT concat('https://mail', CAST(c_custkey % 10 AS STRING), '.example.org/m',
                        CAST(c_custkey AS STRING)) AS url,
                 'email' AS discovered_via, c_custkey AS arrival
          FROM customer WHERE c_custkey % 7 = 0
        )
        SELECT url, discovered_via, arrival
        FROM (SELECT * FROM crawl UNION ALL SELECT * FROM mail)
        ORDER BY arrival, discovered_via, url
        LIMIT 200
        """
    )


def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt → rule rows (RFC 9309 groups). The synthesized input
    follows a fixed template, so the oracle CONSTRUCTS the expected rule
    rows directly (a golden in SQL form); the parser's group-selection
    semantics have their own goldens in tests/test_robots_parse.py."""
    from thecrowler_spark.operators.robots import parse_robots_txt

    _load(spark, sf_dir, "nation")
    docs = spark.sql(
        """
        SELECT concat('h', CAST(n_nationkey AS STRING), '.example.com') AS host,
               concat('User-agent: *\nDisallow: /private', CAST(n_nationkey % 3 AS STRING),
                      '\nAllow: /private', CAST(n_nationkey % 3 AS STRING), '/ok',
                      '\nCrawl-delay: ', CAST(n_nationkey % 5 + 1 AS STRING)) AS robots_txt
        FROM nation
        """
    )
    return parse_robots_txt(docs)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine sanity: TPC-H Q1-shaped aggregation.

    All money/quantity sums are fixed-point (scaled-integer) so the
    result is independent of partition accumulation order — same
    construction on the oracle side.
    """
    _load(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sum_qty,
               round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sum_base_price,
               round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS sum_disc_price,
               CAST((sum(CAST(round(l_quantity * 100) AS BIGINT)) * 20000 + count(*)) DIV (count(*) * 2) AS DOUBLE) / 1000000.0 AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event counts (same transform runs on readStream; batch
    here — streaming equivalence is tested in
    tests/test_operators.py::test_streaming_equals_batch)."""
    from thecrowler_spark.streaming.events import windowed_event_counts

    ev = _load(spark, sf_dir, "events")["events"]
    return windowed_event_counts(ev)


#: Synthetic fetch-snapshot history from orders: 400 sources, per-source
#: observation spacing 1-5 h (source%5) and content period 1-7 obs
#: (source%7), sources ===3 (mod 50) retain a single snapshot (the
#: n_pairs=0 explore branch). Identical SQL semantics both sides.
_SPARK_SNAPSHOTS = """
SELECT concat('src-', CAST(o_orderkey % 400 AS STRING)) AS source_id,
       timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0,
           (o_orderkey DIV 400) * 3600 * (1 + (o_orderkey % 400) % 5)) AS ts,
       concat('h', CAST(((o_orderkey DIV 400) DIV (1 + (o_orderkey % 400) % 7)) % 1000
                        AS STRING)) AS content_hash
FROM orders
WHERE (o_orderkey % 400) % 50 <> 3 OR o_orderkey < 400
"""

_DUCK_SNAPSHOTS = """
SELECT concat('src-', CAST(o_orderkey % 400 AS VARCHAR)) AS source_id,
       TIMESTAMP '2024-01-01 00:00:00'
           + (o_orderkey // 400) * 3600 * (1 + (o_orderkey % 400) % 5)
             * INTERVAL 1 SECOND AS ts,
       concat('h', CAST(((o_orderkey // 400) // (1 + (o_orderkey % 400) % 7)) % 1000
                        AS VARCHAR)) AS content_hash
FROM orders
WHERE (o_orderkey % 400) % 50 <> 3 OR o_orderkey < 400
"""


def q_revisit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive re-crawl schedule (Cho & Garcia-Molina change-rate
    estimation) over the synthetic fetch-snapshot history — the
    adaptive extension of update_sources' fixed regular_crawling
    interval (pgsql:2826-2898). Integer micro-rate + DIV arithmetic
    after one shared-libm ln (the DSIR determinism rule)."""
    from thecrowler_spark.operators.revisit import revisit_schedule

    _load(spark, sf_dir, "orders")
    snaps = spark.sql(_SPARK_SNAPSHOTS)
    return revisit_schedule(snaps, min_interval_s=900, max_interval_s=604800)


def _revisit_schedule_oracle_sql() -> str:
    return f"""
    WITH snap AS ({_DUCK_SNAPSHOTS}),
    lagd AS (
      SELECT source_id,
             epoch_us(ts) // 1000000 AS tse,
             content_hash,
             lag(content_hash) OVER (
               PARTITION BY source_id ORDER BY ts, content_hash) AS prev
      FROM snap
    ),
    agg AS (
      SELECT source_id,
             count(*) AS n_obs,
             sum(CASE WHEN prev IS NOT NULL AND prev <> content_hash
                      THEN 1 ELSE 0 END) AS n_changes,
             min(tse) AS first_s,
             max(tse) AS last_s
      FROM lagd GROUP BY source_id
    ),
    est AS (
      SELECT source_id, n_obs, n_changes, last_s,
             CASE WHEN n_obs > 1
                  THEN (last_s - first_s) // (n_obs - 1) END AS avg_interval_s,
             CASE WHEN n_obs > 1 THEN CAST(floor(
                    -ln(CAST(2 * (n_obs - 1 - n_changes) + 1 AS DOUBLE)
                        / CAST(2 * (n_obs - 1) + 1 AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT)
                  ELSE 0 END AS rate_micro
      FROM agg
    ),
    sched AS (
      SELECT *,
             CASE WHEN n_obs <= 1 THEN 900
                  WHEN rate_micro <= 0 THEN 604800
                  ELSE least(greatest((avg_interval_s * 1000000) // rate_micro,
                                      900), 604800)
             END AS next_interval_s
      FROM est
    )
    SELECT source_id,
           CAST(n_obs AS BIGINT) AS n_obs,
           CAST(n_changes AS BIGINT) AS n_changes,
           CAST(avg_interval_s AS BIGINT) AS avg_interval_s,
           rate_micro,
           CAST(next_interval_s AS BIGINT) AS next_interval_s,
           CAST(last_s + next_interval_s AS BIGINT) AS next_crawl_epoch_s
    FROM sched
    """


#: Trap-universe URLs: a calendar trap (one template, ~n/4 distinct
#: URLs), a session-id trap (hex token in the query), and two benign
#: families (a static page repeated, a 7-post blog per host).
_SPARK_TRAP_URLS = """
SELECT o_orderkey AS id,
 CASE
  WHEN o_orderkey % 4 = 0 THEN concat('https://cal.example.com/cal/2024/',
       CAST(o_orderkey % 12 + 1 AS STRING), '/', CAST(o_orderkey % 28 + 1 AS STRING),
       '?sid=', CAST(o_orderkey AS STRING))
  WHEN o_orderkey % 4 = 1 THEN concat('https://shop.example.com/item/',
       CAST(o_orderkey AS STRING), '?session=', md5(CAST(o_orderkey AS STRING)))
  WHEN o_orderkey % 4 = 2 THEN concat('https://h', CAST(o_orderkey % 40 AS STRING),
       '.example.com/about')
  ELSE concat('https://h', CAST(o_orderkey % 40 AS STRING),
       '.example.com/blog/post-', CAST(o_orderkey % 7 AS STRING))
 END AS url
FROM orders
"""

_DUCK_TRAP_URLS = """
SELECT o_orderkey AS id,
 CASE
  WHEN o_orderkey % 4 = 0 THEN concat('https://cal.example.com/cal/2024/',
       CAST(o_orderkey % 12 + 1 AS VARCHAR), '/', CAST(o_orderkey % 28 + 1 AS VARCHAR),
       '?sid=', CAST(o_orderkey AS VARCHAR))
  WHEN o_orderkey % 4 = 1 THEN concat('https://shop.example.com/item/',
       CAST(o_orderkey AS VARCHAR), '?session=', md5(CAST(o_orderkey AS VARCHAR)))
  WHEN o_orderkey % 4 = 2 THEN concat('https://h', CAST(o_orderkey % 40 AS VARCHAR),
       '.example.com/about')
  ELSE concat('https://h', CAST(o_orderkey % 40 AS VARCHAR),
       '.example.com/blog/post-', CAST(o_orderkey % 7 AS VARCHAR))
 END AS url
FROM orders
"""

#: DuckDB twin of operators.traps.url_template (regexes applied with
#: the 'g' flag; sorted query keys via list_sort/list_transform).
_DUCK_TEMPLATE = """
concat(
  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)),
  regexp_replace(regexp_replace(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
      '[0-9a-fA-F]{8,}', '{x}', 'g'), '[0-9]+', '{n}', 'g'),
  CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = '' THEN ''
       ELSE concat('?', array_to_string(list_sort(list_transform(
            string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
            x -> string_split(x, '=')[1])), ','))
  END)
"""


def q_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap detection: URL-template explosion stats over the
    planted trap universe (calendar + session-id traps vs benign
    static/blog families). One (host, template) groupBy with
    count-distinct on the 8-byte URL hash."""
    from thecrowler_spark.operators.traps import detect_traps

    _load(spark, sf_dir, "orders", widen=("orders",))
    urls = spark.sql(_SPARK_TRAP_URLS)
    return detect_traps(urls, min_urls=50)


def _trap_detection_oracle_sql() -> str:
    return f"""
    WITH u AS ({_DUCK_TRAP_URLS}),
    t AS (
      SELECT lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
             {_DUCK_TEMPLATE} AS template,
             url
      FROM u
    )
    SELECT host, template,
           count(DISTINCT url) AS n_urls,
           count(DISTINCT url) >= 50 AS is_trap
    FROM t GROUP BY host, template
    """


def q_trap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap flagged trap templates to 16 URLs each (deterministic
    (url, id) order) while benign templates pass through — the
    two-phase skew-safe rank must equal the oracle's single window."""
    from thecrowler_spark.operators.traps import detect_traps, filter_trap_urls

    _load(spark, sf_dir, "orders", widen=("orders",))
    urls = spark.sql(_SPARK_TRAP_URLS)
    traps = detect_traps(urls, min_urls=50)
    return filter_trap_urls(
        urls, traps, cap_per_template=16, order_cols=("url", "id")
    ).select("id", "url")


def _trap_filter_oracle_sql() -> str:
    return f"""
    WITH u AS ({_DUCK_TRAP_URLS}),
    t AS (
      SELECT id, url, {_DUCK_TEMPLATE} AS template FROM u
    ),
    stats AS (
      SELECT template, count(DISTINCT url) >= 50 AS is_trap
      FROM t GROUP BY template
    ),
    ranked AS (
      SELECT t.id, t.url, s.is_trap,
             row_number() OVER (PARTITION BY t.template
                                ORDER BY t.url, t.id) AS rn
      FROM t JOIN stats s USING (template)
    )
    SELECT id, url FROM ranked WHERE NOT is_trap OR rn <= 16
    """


#: DUST universe: a fetched-page log where ?sid= never changes content
#: (learnable rule), ?ref= does (no duplicate-content witnesses), and
#: ?v= changes content under an identical witness base (contradiction).
_SPARK_DUST_PAGES = """
SELECT o_orderkey AS id,
 CASE WHEN o_orderkey % 5 = 0 THEN
   concat('https://d', CAST(o_orderkey % 20 AS STRING), '.example.com/page/',
          CAST(o_orderkey % 50 AS STRING), '?v=', CAST((o_orderkey DIV 100) % 2 AS STRING))
 ELSE
   concat('https://d', CAST(o_orderkey % 20 AS STRING), '.example.com/page/',
          CAST(o_orderkey % 50 AS STRING), '?ref=', CAST(o_orderkey % 3 AS STRING),
          '&sid=', CAST(o_orderkey AS STRING))
 END AS url,
 CASE WHEN o_orderkey % 5 = 0 THEN
   md5(concat('p', CAST(o_orderkey % 20 AS STRING), '/',
              CAST(o_orderkey % 50 AS STRING), 'v', CAST((o_orderkey DIV 100) % 2 AS STRING)))
 ELSE
   md5(concat('p', CAST(o_orderkey % 20 AS STRING), '/',
              CAST(o_orderkey % 50 AS STRING), 'r', CAST(o_orderkey % 3 AS STRING)))
 END AS content_hash
FROM orders
"""

_DUCK_DUST_PAGES = """
SELECT o_orderkey AS id,
 CASE WHEN o_orderkey % 5 = 0 THEN
   concat('https://d', CAST(o_orderkey % 20 AS VARCHAR), '.example.com/page/',
          CAST(o_orderkey % 50 AS VARCHAR), '?v=', CAST((o_orderkey // 100) % 2 AS VARCHAR))
 ELSE
   concat('https://d', CAST(o_orderkey % 20 AS VARCHAR), '.example.com/page/',
          CAST(o_orderkey % 50 AS VARCHAR), '?ref=', CAST(o_orderkey % 3 AS VARCHAR),
          '&sid=', CAST(o_orderkey AS VARCHAR))
 END AS url,
 CASE WHEN o_orderkey % 5 = 0 THEN
   md5(concat('p', CAST(o_orderkey % 20 AS VARCHAR), '/',
              CAST(o_orderkey % 50 AS VARCHAR), 'v', CAST((o_orderkey // 100) % 2 AS VARCHAR)))
 ELSE
   md5(concat('p', CAST(o_orderkey % 20 AS VARCHAR), '/',
              CAST(o_orderkey % 50 AS VARCHAR), 'r', CAST(o_orderkey % 3 AS VARCHAR)))
 END AS content_hash
FROM orders
"""


def q_dust_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUST rule mining (Bar-Yossef et al., WWW'07): learn
    content-irrelevant URL params from the fetched-page log — the
    learned generalization of infoseed's hard-coded tracking-param
    strip list. Two grouped aggregations, no window/UDF/collect."""
    from thecrowler_spark.operators.dust import dust_rules

    _load(spark, sf_dir, "orders", widen=("orders",))
    pages = spark.sql(_SPARK_DUST_PAGES)
    return dust_rules(pages, min_support=3)


def _dust_rules_oracle_sql() -> str:
    return f"""
    WITH u AS ({_DUCK_DUST_PAGES}),
    parsed AS (
      SELECT url, content_hash,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host,
        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path,
        list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                    x -> x <> '') AS params
      FROM u
    ),
    expl AS (
      SELECT url, content_hash, host, path, params, unnest(params) AS kv FROM parsed
    ),
    based AS (
      SELECT url, content_hash, host,
        string_split(kv, '=')[1] AS param,
        concat(host, path, '?',
               array_to_string(list_sort(list_filter(params, x -> x <> kv)),
                               '&')) AS base
      FROM expl
    ),
    w AS (
      SELECT host, param, base,
             count(DISTINCT url) AS nu,
             count(DISTINCT content_hash) AS nh
      FROM based GROUP BY host, param, base
    ),
    agg AS (
      SELECT host, param,
        CAST(sum(CASE WHEN nu >= 2 AND nh = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS support,
        CAST(sum(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS contradictions
      FROM w GROUP BY host, param
    )
    SELECT host, param, support, contradictions,
           (support >= 3 AND contradictions = 0) AS is_rule
    FROM agg
    """


def q_crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl on the synthetic closed-world corpus — the
    engine's core query, now with a FULL DuckDB oracle
    (:func:`_crawl_bfs_oracle_sql`): depth-unrolled CTEs recompute the
    whole BFS (link extraction + validity, relative-URL resolution,
    external/same-source skips, per-level first-occurrence dup marking,
    visited anti-join, skipped-link resurrection, dense fetch_seq) from
    the RAW authored hrefs embedded as VALUES. Ordering/seen-set parity
    vs the transcribed Go oracle is additionally in
    tests/test_crawl_parity.py."""
    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus

    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=8))
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(max_depth=2, max_rounds=6))
    return eng.run(dfs["seeds"]).crawl_order


def q_crawl_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BFS graded across ALL FIVE restriction levels (r4
    VERDICT item 4): the hand-authored multi-domain levels corpus
    (2 SLDs × 2 TLDs) crawled at max_depth=3 by five seeds sharing one
    start URL with ``restricted`` 0..4 — level 0 never enters the loop,
    1 follows only the URL-prefix chain, 2 stays on the SLD, 3 on the
    TLD (the oracle branch levels 2/3 used to lump together), 4 roams.
    Oracle: the same depth-unrolled CTE replay over the authored hrefs,
    now with the explicit TLD arm in the skip CASE."""
    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from thecrowler_spark.sources.corpus import corpus_to_spark, levels_corpus

    dfs = corpus_to_spark(spark, levels_corpus())
    eng = CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(max_depth=3, max_rounds=8))
    return eng.run(dfs["seeds"]).crawl_order


def q_crawl_bfs_dust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BFS with the DUST valve ON (operators/dust.py): rules
    mined from the closed-world fetch log (every alias variant is a real
    doc) collapse learned content-irrelevant params — ``sid`` on
    d0.example.com — in the URL-SEEN key, while the contradiction host
    (d1, sid selects items) and the below-support param (ref, one
    witness group) stay byte-identical. Oracle: the same depth-unrolled
    CTE replay, now with the MINING (two grouped aggs over the embedded
    (url, body) log) and the per-host canon (drop learned params, sorted
    survivors, '?' dropped when none survive, unmatched hosts pass
    through) recomputed in SQL at every seen-key site."""
    from pyspark.sql import functions as F

    from thecrowler_spark.operators.dust import dust_rules
    from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
    from thecrowler_spark.operators.spans import parse_documents
    from thecrowler_spark.sources.corpus import corpus_to_spark, dust_corpus

    dfs = corpus_to_spark(spark, dust_corpus())
    log = parse_documents(dfs["documents"]).select(
        F.col("doc_id").alias("url"), "content_hash"
    )
    rules = dust_rules(log, min_support=2)
    eng = CrawlEngine(
        spark, dfs["documents"], cfg=CrawlConfig(max_depth=2, max_rounds=6),
        dust_rules=rules,
    )
    return eng.run(dfs["seeds"]).crawl_order


def _crawl_bfs_oracle_sql(max_depth: int = 2, spec=None, corpus=None,
                          dust_min_support: int | None = None) -> str:
    """DuckDB oracle for q_crawl_bfs: the PageRank/HITS unrolled-CTE
    technique applied to the BFS itself.

    The corpus is deterministic (seed-pinned small_corpus), so only the
    RAW inputs are embedded as VALUES — every doc_id and every authored
    (doc_id, pos, href) link span plus the seed rows. ALL crawl logic is
    recomputed in SQL, mirroring CrawlEngine round-for-round:

    - link extraction: trim → rtrim('/') → validity (scheme prefix,
      not bare '://', no whitespace) — spans.extracted_links
    - per-round: re-sequence, combine_urls (root-relative resolution),
      normalize_url_seen (lower+rtrim), skip flags (empty / external at
      the restriction level / same-as-source), visited probe,
      first-occurrence window (row_number over the FULL group, masked
      for skips — frontier.py:863-866 semantics), case-sensitive fetch
      join, dense fetch_seq from pages-so-far, skipped-link
      resurrection onto the next attempted row when it fetches OK,
      next-frontier ordering (attach, res, pos).
    """
    from thecrowler_spark.sources.corpus import CorpusSpec, small_corpus

    corpus = corpus or small_corpus(spec or CorpusSpec(n_hosts=2, pages_per_host=8))
    doc_vals = ", ".join(f"('{d['doc_id']}')" for d in corpus["documents"])
    link_rows = []
    for d in corpus["documents"]:
        pos = 0
        for s in d["spans"]:
            if s["kind"] == "link":
                link_rows.append(f"('{d['doc_id']}', {pos}, '{s['media_ref']}')")
                pos += 1
    link_vals = ", ".join(link_rows)
    seed_vals = ", ".join(
        f"({s['source_id']}::BIGINT, '{s['url']}', {s['restricted']})" for s in corpus["seeds"]
    )

    host_re = r"^(?:[^/]*://)?(?:[^/@]*@)?([^/:?#]*)"
    scheme_re = r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/]*)"

    # ---- DUST valve mode (q_crawl_bfs_dust): mine the per-host rule
    # dim in SQL from the embedded (url, body) log, then rewrite every
    # seen-key site with the learned canon (dust.py semantics: drop
    # learned params, sorted survivors, '?' dropped when none survive,
    # unmatched/unparseable hosts byte-identical).
    dhost_re = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    dprefix_re = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)"
    dpath_re = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)"

    def _lhost(c: str) -> str:
        return f"lower(regexp_extract({c}, '{dhost_re}', 1))"

    if dust_min_support is None:
        mining_ctes = ""

        def seen_norm(c: str) -> str:
            return f"lower(rtrim(trim({c}), '/'))"

        def dd_join(c: str) -> str:
            return ""
    else:
        import re as _re

        def _body_token(spans) -> str:
            # body_text mirror (spans.py:66-71): text+link span texts
            # joined, ws-collapsed — distinctness ≡ sha2(body) classes
            vis = [s["text"] for s in spans if s["kind"] in ("text", "link")]
            return _re.sub(r"\s+", " ", " ".join(vis)).strip()

        log_vals = ", ".join(
            f"('{d['doc_id']}', '{_body_token(d['spans'])}')"
            for d in corpus["documents"]
        )
        mining_ctes = f"""
        dustlog(url, body) AS (VALUES {log_vals}),
        dparsed AS (
          SELECT url, body, {_lhost('url')} AS host,
                 regexp_extract(url, '{dpath_re}', 1) AS path,
                 list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                             x -> x <> '') AS params
          FROM dustlog
        ),
        dexpl AS (SELECT url, body, host, path, params, unnest(params) AS kv FROM dparsed),
        dbased AS (
          SELECT url, body, host, string_split(kv, '=')[1] AS param,
                 concat(host, path, '?',
                        array_to_string(list_sort(list_filter(params, x -> x <> kv)), '&')) AS base
          FROM dexpl
        ),
        dw AS (
          SELECT host, param, base, count(DISTINCT url) AS nu, count(DISTINCT body) AS nh
          FROM dbased GROUP BY host, param, base
        ),
        dagg AS (
          SELECT host, param,
                 sum(CASE WHEN nu >= 2 AND nh = 1 THEN 1 ELSE 0 END) AS support,
                 sum(CASE WHEN nh > 1 THEN 1 ELSE 0 END) AS contradictions
          FROM dw GROUP BY host, param
        ),
        dustdim AS (
          SELECT host AS dhost, list(param) AS drops FROM dagg
          WHERE support >= {int(dust_min_support)} AND contradictions = 0
          GROUP BY host
        ),"""

        def seen_norm(c: str) -> str:
            params = (f"list_filter(string_split(regexp_extract({c}, '\\?([^#]*)', 1), '&'),"
                      f" x -> x <> '')")
            kept = (f"list_sort(list_filter({params},"
                    f" kv -> NOT list_contains(dd.drops, string_split(kv, '=')[1])))")
            prefix = (f"(regexp_extract({c}, '{dprefix_re}', 1)"
                      f" || regexp_extract({c}, '{dpath_re}', 1))")
            canon = (f"CASE WHEN dd.dhost IS NULL OR {_lhost(c)} = '' THEN {c}"
                     f" WHEN len({kept}) > 0"
                     f" THEN {prefix} || '?' || array_to_string({kept}, '&')"
                     f" ELSE {prefix} END")
            return f"lower(rtrim(trim({canon}), '/'))"

        def dd_join(c: str) -> str:
            return f" LEFT JOIN dustdim dd ON dd.dhost = {_lhost(c)}"

    def sld(col: str) -> str:
        # substring_index(host, '.', -2) with whole-host fallback
        h = f"regexp_extract(trim({col}), '{host_re}', 1)"
        return f"coalesce(nullif(regexp_extract({h}, '([^.]+[.][^.]+)$', 1), ''), {h})"

    def tld(col: str) -> str:
        # substring_index(host, '.', -1): last label, whole host when
        # dotless — getDomainParts level 3 (crawler.go:2175-2187)
        h = f"regexp_extract(trim({col}), '{host_re}', 1)"
        return f"regexp_extract({h}, '([^.]*)$', 1)"

    body = f"""
        WITH docs(doc_id) AS (VALUES {doc_vals}),
        rawlinks(doc_id, rawpos, href) AS (VALUES {link_vals}),
        seeds(source_id, source_url, restricted) AS (VALUES {seed_vals}),{mining_ctes}
        dl0 AS (SELECT doc_id, rawpos, rtrim(trim(href), '/') AS lnk FROM rawlinks),
        dlinks AS (
          SELECT doc_id,
                 row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1 AS pos,
                 lnk AS href
          FROM (
            SELECT *, CASE WHEN contains(lnk, '://') THEN lnk
                           ELSE 'http://' || lnk END AS ws
            FROM dl0
          )
          WHERE lnk <> '' AND NOT regexp_matches(lnk, '[ \\t\\n\\r]')
            AND (starts_with(ws, 'http://') OR starts_with(ws, 'https://')
                 OR starts_with(ws, 'ftp://') OR starts_with(ws, 'ftps://'))
            AND NOT ends_with(ws, '://')
        ),
        seedfetch AS (
          SELECT s.source_id, s.source_url, s.restricted
          FROM seeds s JOIN docs d ON s.source_url = d.doc_id
        ),
        pages0 AS (
          SELECT source_id, 0 AS depth, 0::BIGINT AS fetch_seq, source_url AS url
          FROM seedfetch
        ),
        vis0 AS (
          SELECT source_id, {seen_norm('source_url')} AS norm_url
          FROM seedfetch{dd_join('source_url')}
        ),
        frontier0 AS (
          SELECT f.source_id, f.source_url, f.restricted,
                 d.pos::BIGINT AS seq, d.href AS link
          FROM seedfetch f JOIN dlinks d ON f.source_url = d.doc_id
          WHERE f.restricted <> 0
        )"""

    for k in range(1, max_depth + 1):
        p = k - 1
        body += f""",
        lvl{k} AS (
          SELECT source_id, source_url, restricted,
                 row_number() OVER (PARTITION BY source_id ORDER BY seq, link) - 1 AS seq,
                 link
          FROM frontier{p}
        ),
        lv{k} AS (
          SELECT *,
                 CASE WHEN starts_with(link, '/')
                      THEN regexp_extract(trim(source_url), '{scheme_re}', 1) || link
                      ELSE link END AS url_link
          FROM lvl{k}
        ),
        lw{k} AS (
          SELECT lv{k}.*, {seen_norm('url_link')} AS norm_url,
                 (trim(url_link) = ''
                  OR (restricted <> 4
                      AND CASE WHEN starts_with(trim(url_link), '/') THEN FALSE
                               WHEN restricted = 0 THEN trim(source_url) <> trim(url_link)
                               WHEN restricted = 1 THEN NOT starts_with(trim(url_link), trim(source_url))
                               WHEN restricted = 3 THEN {tld('source_url')} <> {tld('url_link')}
                               ELSE {sld('source_url')} <> {sld('url_link')} END)
                  OR url_link = source_url) AS is_skip
          FROM lv{k}{dd_join('url_link')}
        ),
        cat{k} AS (
          SELECT l.*,
                 CASE WHEN l.is_skip THEN 'skip'
                      WHEN (v.norm_url IS NOT NULL)
                           OR (CASE WHEN NOT l.is_skip THEN
                                 row_number() OVER (PARTITION BY l.source_id, l.norm_url ORDER BY l.seq)
                               END) > 1 THEN 'dup'
                      WHEN d.doc_id IS NOT NULL THEN 'ok'
                      ELSE 'err' END AS category
          FROM lw{k} l
          LEFT JOIN vis{p} v ON l.source_id = v.source_id AND l.norm_url = v.norm_url
          LEFT JOIN docs d ON l.url_link = d.doc_id
        ),
        pb{k} AS (SELECT source_id, count(*) AS pages_before FROM pages{p} GROUP BY source_id),
        fet{k} AS (
          SELECT c.source_id, {k} AS depth,
                 pb.pages_before + row_number() OVER (PARTITION BY c.source_id ORDER BY c.seq) - 1 AS fetch_seq,
                 c.url_link AS url
          FROM cat{k} c JOIN pb{k} pb USING (source_id)
          WHERE c.category = 'ok'
        ),
        pages{k} AS (SELECT * FROM pages{p} UNION ALL SELECT * FROM fet{k}),
        vis{k} AS (
          SELECT source_id, norm_url FROM vis{p}
          UNION
          SELECT DISTINCT source_id, norm_url FROM cat{k} WHERE category IN ('ok', 'err')
        ),
        nxa{k} AS (
          SELECT *, min(CASE WHEN category IN ('ok', 'err') THEN seq END)
                      OVER (PARTITION BY source_id ORDER BY seq
                            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_attempt
          FROM cat{k}
        ),
        ext{k} AS (
          SELECT n.source_id, n.source_url, n.restricted,
                 n.seq AS attach, 0 AS res, d.pos, d.href AS link
          FROM nxa{k} n JOIN dlinks d ON n.url_link = d.doc_id
          WHERE n.category = 'ok'
        ),
        resk{k} AS (
          SELECT s.source_id, s.source_url, s.restricted,
                 s.next_attempt AS attach, 1 AS res, s.seq AS pos, s.link
          FROM nxa{k} s
          WHERE s.category = 'skip' AND s.next_attempt IS NOT NULL
            AND EXISTS (SELECT 1 FROM nxa{k} o WHERE o.source_id = s.source_id
                        AND o.seq = s.next_attempt AND o.category = 'ok')
        ),
        frontier{k} AS (
          SELECT source_id, source_url, restricted,
                 row_number() OVER (PARTITION BY source_id ORDER BY attach, res, pos) - 1 AS seq,
                 link
          FROM (SELECT * FROM ext{k} UNION ALL SELECT * FROM resk{k})
        )"""

    body += f"""
        SELECT source_id, fetch_seq AS seq, CAST(depth AS INT) AS depth, url
        FROM pages{max_depth}
    """
    return body


def _crawl_bfs_levels_oracle_sql() -> str:
    from thecrowler_spark.sources.corpus import levels_corpus

    return _crawl_bfs_oracle_sql(max_depth=3, corpus=levels_corpus())


def _crawl_bfs_dust_oracle_sql() -> str:
    from thecrowler_spark.sources.corpus import dust_corpus

    return _crawl_bfs_oracle_sql(max_depth=2, corpus=dust_corpus(), dust_min_support=2)


# ------------------------------------------- incremental pipeline (2 batches)
#
# Cross-batch curation state graded at the driver (r4 verdict item 9):
# the SHIPPABLE job (jobs/pipeline_job.py, --state mode) runs twice over
# two deterministic batches of the documents table; the oracle replays
# the whole two-batch semantics in one DuckDB statement — prior-hash
# exact drops, within-batch LSH→Jaccard-verified→CC fuzzy dedup,
# sig-equality cross-batch fuzzy drops, CUMULATIVE boilerplate line
# counts (a footer 3× per batch trips the >4 threshold only in batch 2),
# and the Gopher quality gate. Plants make every cross-batch branch
# fire: +10000 ids are exact replicas of batch-1 texts
# (exact_dup_prior), +20000 ids append ' *' — the '*' survives
# normalize_text's punctuation class so the content hash differs, but
# tokenization drops it so the shingle set and therefore the FULL
# minhash signature are unchanged (fuzzy_dup_prior).

_PIPE_FOOTER = "join our weekly newsletter for updates"


def q_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental pipeline run: final per-doc outcome
    (kept + token count after line-dedup, or the audited drop reason)
    across both batches, with LakeTable state carrying seen hashes,
    signature keys, and cumulative line counts between them."""
    import os
    import shutil
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from jobs.pipeline_job import parse_args, run_pipeline

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 300)
    )
    footer = F.lit("\n" + _PIPE_FOOTER)

    def with_footer(df, ids):
        return df.withColumn(
            "text",
            F.when(F.col("doc_id").isin(ids), F.concat(F.col("text"), footer))
            .otherwise(F.col("text")),
        )

    b1 = with_footer(docs.filter(F.col("doc_id") < 150), [0, 1, 2])
    replicas_exact = docs.filter(F.col("doc_id").isin([3, 4])).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    replicas_fuzzy = docs.filter(F.col("doc_id").isin([5, 6])).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" *")).alias("text"),
    )
    b2 = (
        with_footer(docs.filter(F.col("doc_id") >= 150), [150, 151, 152])
        .unionByName(replicas_exact)
        .unionByName(replicas_fuzzy)
    )

    root = tempfile.mkdtemp(prefix="pipe_incr_")
    parts = []
    try:
        for batch_no, batch in ((1, b1), (2, b2)):
            out = f"{root}/out{batch_no}"
            args = parse_args(
                ["--input", "(docs_df)", "--output", out,
                 "--state", f"{root}/state", "--buckets", "8", "--budget", "512"]
            )
            run_pipeline(spark, args, docs_df=batch)
            b = F.lit(batch_no).cast("int")
            kept = spark.read.parquet(f"{out}/documents").select(
                b.alias("batch"),
                "doc_id",
                F.lit("kept").alias("reason"),
                F.col("n_tokens").cast("int").alias("n_tokens"),
            )
            dropped = spark.read.parquet(f"{out}/dropped").select(
                b.alias("batch"),
                "doc_id",
                "reason",
                F.lit(-1).cast("int").alias("n_tokens"),
            )
            # pull to the driver NOW (bounded: ≤ 154 rows/batch) so the
            # tmp parquet + lake state can be deleted before returning
            parts.extend(kept.unionByName(dropped).collect())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        parts, "batch int, doc_id bigint, reason string, n_tokens int"
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): fit hashed
    uni+bigram log-ratio weights on a target slice (doc_id % 10 == 0)
    vs the raw pool, score the pool with integer fixed-point weights,
    keep the top 100. The fit collect is bounded by n_buckets (1024);
    scoring joins a broadcast weight table — the gram stream never
    shuffles on the gram key."""
    from thecrowler_spark.operators.dsir import dsir_select

    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"].select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 10 == 0)
    raw = docs.filter(F.col("doc_id") % 10 != 0)
    return dsir_select(spark, target, raw, k=100, n_buckets=1024)


_DSIR_ORACLE = """
        WITH toks AS MATERIALIZED (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS l
          FROM documents
        ),
        b AS MATERIALIZED (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8))::BIGINT % 1024 AS INT) AS bucket
          FROM (
            SELECT doc_id,
                   unnest(l || CASE WHEN len(l) >= 2
                        THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
                        ELSE CAST([] AS VARCHAR[]) END) AS gram
            FROM toks
          )
        ),
        t AS MATERIALIZED (SELECT bucket, count(*) AS cnt FROM b WHERE doc_id % 10 = 0 GROUP BY 1),
        r AS MATERIALIZED (SELECT bucket, count(*) AS cnt FROM b WHERE doc_id % 10 <> 0 GROUP BY 1),
        tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM t),
        rt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM r),
        w AS MATERIALIZED (
          SELECT bucket,
                 CAST(floor(1e6 * (ln((coalesce(t.cnt, 0) + 1) * 1.0 / (tt.total + 1024))
                                 - ln((coalesce(r.cnt, 0) + 1) * 1.0 / (rt.total + 1024))) + 0.5)
                      AS BIGINT) AS weight
          FROM t FULL OUTER JOIN r USING (bucket), tt, rt
        ),
        sc AS (
          SELECT b.doc_id, count(*) AS n_grams, sum(w.weight) AS score
          FROM b JOIN w USING (bucket)
          WHERE b.doc_id % 10 <> 0
          GROUP BY 1
        ),
        fullsc AS (
          SELECT d.doc_id,
                 CAST(coalesce(sc.n_grams, 0) AS INT) AS n_grams,
                 CAST(coalesce(sc.score, 0) AS BIGINT) AS score
          FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
          LEFT JOIN sc USING (doc_id)
        )
        SELECT doc_id, n_grams, score, CAST(rank AS INT) AS rank FROM (
          SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
          FROM fullsc WHERE n_grams > 0
        ) WHERE rank <= 100
"""


_PIPE_CANON = """trim(regexp_replace(lower(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
                          '[.,?!:;''"(){}<>\\-]', ' ', 'g')), '\\s+', ' ', 'g'))"""

_PIPE_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _pipe_batch_ctes(p: str, prior: "dict | None") -> str:
    """CTE chain replaying one run_pipeline batch over ``{p}in``:
    [prior-hash drop] → exact dedup → LSH candidates → exact-Jaccard
    verify (≥ 0.5) → recursive min-label components → fuzzy drop →
    [prior-sig drop] → line dedup (cumulative counts) → quality gate.
    ``prior`` names the previous batch's state CTEs (hashes/sigs/lines)
    — exactly what the job's LakeTable snapshots carry."""
    mh_cols = ",\n                     ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(8)
    )
    band_rows = "\n              UNION ALL ".join(
        f"SELECT id, {b} AS band_idx, md5(mh{2 * b} || '|' || mh{2 * b + 1}) AS band_key FROM {p}sig"
        for b in range(4)
    )
    sig_key = " || '|' || ".join(f"mh{i}" for i in range(8))
    if prior:
        prior_exact = f"""
            {p}pd AS MATERIALIZED (SELECT doc_id FROM {p}c
                      WHERE ctext IN (SELECT ctext FROM {prior["hashes"]})),
            {p}a AS MATERIALIZED (SELECT * FROM {p}c
                     WHERE doc_id NOT IN (SELECT doc_id FROM {p}pd)),"""
        prior_fuzzy = f"""
            {p}fpd AS MATERIALIZED (SELECT doc_id FROM {p}skey
                       WHERE sig_key IN (SELECT sig_key FROM {prior["sigs"]})),
            {p}fz AS MATERIALIZED (SELECT * FROM {p}fz0
                      WHERE doc_id NOT IN (SELECT doc_id FROM {p}fpd)),"""
        line_prior_join = f"LEFT JOIN {prior['lines']} pl USING (line)"
        line_cnt = "c.cnt + coalesce(pl.cnt, 0)"
    else:
        prior_exact = f"""
            {p}a AS MATERIALIZED (SELECT * FROM {p}c),"""
        prior_fuzzy = f"""
            {p}fz AS MATERIALIZED (SELECT * FROM {p}fz0),"""
        line_prior_join = ""
        line_cnt = "c.cnt"
    keep_cond = ("n_tokens >= 20 AND n_tokens <= 100000 AND n_ngrams > 0 "
                 "AND 100 * n_distinct >= 30 * n_ngrams "
                 "AND 100 * top_count <= 20 * n_ngrams")
    return f"""
            {p}c AS MATERIALIZED (SELECT doc_id, text, {_PIPE_CANON} AS ctext FROM {p}in),
            {prior_exact}
            {p}keep AS MATERIALIZED (SELECT ctext, min(doc_id) AS keep_id FROM {p}a GROUP BY 1),
            {p}ex AS MATERIALIZED (SELECT a.doc_id, a.text, a.ctext
                      FROM {p}a a JOIN {p}keep k ON a.doc_id = k.keep_id),
            {p}exd AS MATERIALIZED (SELECT doc_id FROM {p}a
                       WHERE doc_id NOT IN (SELECT keep_id FROM {p}keep)),
            {p}sh AS MATERIALIZED (
              SELECT doc_id AS id, unnest(list_distinct(
                       list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle
              FROM (SELECT doc_id, {_PIPE_TOKS} AS l FROM {p}ex)
              WHERE len(l) >= 3
            ),
            {p}sig AS MATERIALIZED (
              SELECT id, {mh_cols}
              FROM {p}sh GROUP BY id
            ),
            {p}band AS MATERIALIZED (
              {band_rows}
            ),
            {p}cand AS MATERIALIZED (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM {p}band a JOIN {p}band b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
            ),
            {p}sz AS MATERIALIZED (SELECT id, count(*) AS n FROM {p}sh GROUP BY id),
            {p}shr AS MATERIALIZED (
              SELECT q.id_a, q.id_b, count(*) AS s
              FROM {p}cand q
              JOIN {p}sh a ON a.id = q.id_a
              JOIN {p}sh b ON b.id = q.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2
            ),
            {p}ver AS MATERIALIZED (
              SELECT r.id_a, r.id_b
              FROM {p}shr r
              JOIN {p}sz sa ON sa.id = r.id_a
              JOIN {p}sz sb ON sb.id = r.id_b
              WHERE round(r.s * 1.0 / (sa.n + sb.n - r.s), 6) >= 0.5
            ),
            {p}edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM {p}ver
                         UNION SELECT id_b, id_a FROM {p}ver),
            {p}nodes AS MATERIALIZED (SELECT DISTINCT u AS id FROM {p}edges),
            {p}walk(id, comp) AS (
              SELECT id, id AS comp FROM {p}nodes
              UNION
              SELECT e.u, w.comp FROM {p}walk w JOIN {p}edges e ON e.v = w.id
            ),
            {p}comp AS MATERIALIZED (SELECT id, min(comp) AS comp FROM {p}walk GROUP BY id),
            {p}fzd AS MATERIALIZED (SELECT id AS doc_id FROM {p}comp WHERE id <> comp),
            {p}fz0 AS MATERIALIZED (SELECT * FROM {p}ex
                       WHERE doc_id NOT IN (SELECT doc_id FROM {p}fzd)),
            {p}skey AS MATERIALIZED (
              SELECT id AS doc_id, md5({sig_key}) AS sig_key
              FROM {p}sig WHERE id IN (SELECT doc_id FROM {p}fz0)
            ),
            {prior_fuzzy}
            {p}le AS MATERIALIZED (
              SELECT doc_id, s.pos AS pos, s.line AS line FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ls) + 1),
                              i -> struct_pack(pos := i, line := trim(ls[i])))) AS s
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {p}fz)
              ) WHERE s.line <> ''
            ),
            {p}lc AS MATERIALIZED (SELECT line, count(*) AS cnt FROM {p}le GROUP BY 1),
            {p}lk AS MATERIALIZED (
              SELECT e.doc_id, e.pos, e.line
              FROM {p}le e JOIN {p}lc c USING (line) {line_prior_join}
              WHERE {line_cnt} <= 4
            ),
            {p}reb AS MATERIALIZED (
              SELECT doc_id,
                     array_to_string(list_transform(
                         list_sort(list(struct_pack(pos := pos, line := line))),
                         s -> s.line), chr(10)) AS rtext
              FROM {p}lk GROUP BY doc_id
            ),
            {p}ld AS MATERIALIZED (SELECT f.doc_id, coalesce(r.rtext, '') AS rtext
                      FROM {p}fz f LEFT JOIN {p}reb r USING (doc_id)),
            {p}abd AS MATERIALIZED (SELECT doc_id FROM {p}ld WHERE rtext = ''),
            {p}cl AS MATERIALIZED (SELECT doc_id, rtext AS text FROM {p}ld WHERE rtext <> ''),
            {p}qg AS MATERIALIZED (
              SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1]))
                          WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                          ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM (SELECT doc_id, {_PIPE_TOKS} AS toks FROM {p}cl)
            ),
            {p}qs AS MATERIALIZED (
              SELECT doc_id, n_tokens,
                     CAST(len(grams) AS INT) AS n_ngrams,
                     CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
                     CAST(CASE WHEN len(grams) > 0
                          THEN list_max(list_transform(list_distinct(grams),
                                                       d -> len(list_filter(grams, x -> x = d))))
                          ELSE 0 END AS INT) AS top_count
              FROM {p}qg
            ),
            {p}qk AS MATERIALIZED (SELECT doc_id, n_tokens FROM {p}qs WHERE {keep_cond}),
            {p}qd AS MATERIALIZED (SELECT doc_id FROM {p}qs WHERE NOT ({keep_cond}))"""


def _pipeline_incremental_oracle_sql() -> str:
    """Replay of q_pipeline_incremental's two-batch job run: batch-1
    chain feeds its exact-survivor canonicals, post-fuzzy signature
    keys, and line counts into batch 2 — the SQL twin of the job's
    LakeTable snapshots."""
    footer_lit = _PIPE_FOOTER
    return f"""
        WITH RECURSIVE
            base AS MATERIALIZED (SELECT doc_id, text FROM documents WHERE doc_id < 300),
            b1in AS MATERIALIZED (
              SELECT doc_id,
                     CASE WHEN doc_id IN (0, 1, 2)
                          THEN text || chr(10) || '{footer_lit}' ELSE text END AS text
              FROM base WHERE doc_id < 150
            ),
            b2in AS MATERIALIZED (
              SELECT doc_id,
                     CASE WHEN doc_id IN (150, 151, 152)
                          THEN text || chr(10) || '{footer_lit}' ELSE text END AS text
              FROM base WHERE doc_id >= 150
              UNION ALL SELECT doc_id + 10000, text FROM base WHERE doc_id IN (3, 4)
              UNION ALL SELECT doc_id + 20000, text || ' *' FROM base WHERE doc_id IN (5, 6)
            ),
            {_pipe_batch_ctes("b1", None)},
            {_pipe_batch_ctes("b2", {"hashes": "b1ex", "sigs": "b1skey", "lines": "b1lc"})}
        SELECT CAST(1 AS INT) AS batch, doc_id, 'kept' AS reason, n_tokens FROM b1qk
        UNION ALL SELECT 1, doc_id, 'exact_dup', -1 FROM b1exd
        UNION ALL SELECT 1, doc_id, 'fuzzy_dup', -1 FROM b1fzd
        UNION ALL SELECT 1, doc_id, 'all_boilerplate', -1 FROM b1abd
        UNION ALL SELECT 1, doc_id, 'quality', -1 FROM b1qd
        UNION ALL SELECT 2, doc_id, 'kept', n_tokens FROM b2qk
        UNION ALL SELECT 2, doc_id, 'exact_dup_prior', -1 FROM b2pd
        UNION ALL SELECT 2, doc_id, 'exact_dup', -1 FROM b2exd
        UNION ALL SELECT 2, doc_id, 'fuzzy_dup', -1 FROM b2fzd
        UNION ALL SELECT 2, doc_id, 'fuzzy_dup_prior', -1 FROM b2fpd
        UNION ALL SELECT 2, doc_id, 'all_boilerplate', -1 FROM b2abd
        UNION ALL SELECT 2, doc_id, 'quality', -1 FROM b2qd
    """


# --------------------------------------------------------- RSS/Atom feeds

def _feed_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RSS/Atom corpus over documents: doc_id%5 picks the
    feed kind (0/1 rss, 2 atom, 3 blank, 4 malformed); item fields are
    md5(doc_id,pos) tokens plus arithmetic rotations so the oracle can
    recompute every expected value from the raw table without parsing
    XML. Exercises: root-relative + absolute + guid-fallback links, the
    rel="alternate" Atom link pick, description→content snippet
    fallback, RFC1123Z / RFC3339-offset / unparseable pubDate layouts,
    published→updated fallback, element categories vs term+label
    attribute categories, author+dc:creator vs name/email blocks."""
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    i = F.col("doc_id")
    s = i.cast("string")
    m = i % 5
    dd = F.lpad((1 + i % 25).cast("string"), 2, "0")
    feed_url = F.concat(F.lit("https://feeds.example.com/f"), s, F.lit("/feed.xml"))

    def tok(p: int) -> Column:
        return F.substring(
            F.md5(F.concat(F.lit("fd-"), s, F.lit(f"-{p}"))), 1, 8
        )

    def rss_item(p: int) -> Column:
        link = {
            0: F.concat(F.lit("<link>/a/"), s, F.lit("/x</link>")),
            1: F.lit(""),  # absent → guid fallback
            2: F.concat(F.lit("<link>https://x.example.com/"), s, F.lit("/c</link>")),
        }[p]
        guid = (
            F.concat(F.lit("<guid>https://g.example.com/"), s, F.lit("</guid>"))
            if p == 1
            else F.concat(F.lit("<guid>rss-"), s, F.lit(f"-{p}</guid>"))
        )
        desc = (
            F.lit("")  # absent → content fallback
            if p == 1
            else F.concat(F.lit("<description>Desc "), tok(p), F.lit("</description>"))
        )
        pub = {
            0: F.concat(F.lit("<pubDate>Tue, "), dd, F.lit(" Jan 2024 06:07:08 +0000</pubDate>")),
            1: F.concat(F.lit("<pubDate>not a date "), tok(p), F.lit("</pubDate>")),
            2: F.concat(F.lit("<pubDate>2024-03-"), dd, F.lit("T05:00:00+02:00</pubDate>")),
        }[p]
        return F.concat(
            F.lit("<item><title>Title "), tok(p), F.lit("</title>"),
            link, guid, desc,
            F.lit("<content:encoded>Body "), tok(p), F.lit("</content:encoded>"),
            pub,
            F.lit("<category>cat"), (i % 7).cast("string"), F.lit("</category>"),
            F.lit("<author>author"), (i % 5).cast("string"), F.lit("@example.com</author>"),
            F.lit("<dc:creator>Writer "), (i % 5).cast("string"), F.lit("</dc:creator>"),
            F.lit("</item>"),
        )

    def atom_entry(p: int) -> Column:
        link = (
            F.concat(
                F.lit('<link rel="self" href="https://feeds.example.com/f'), s,
                F.lit('/self"/><link rel="alternate" href="/e/'), s, F.lit('"/>'),
            )
            if p == 0
            else F.concat(F.lit('<link href="https://x.example.com/'), s, F.lit('/e1"/>'))
        )
        summary = (
            F.concat(F.lit("<summary>Sum "), tok(p), F.lit("</summary>"))
            if p == 0
            else F.lit("")  # absent → content fallback
        )
        published = (
            F.concat(F.lit("<published>2024-02-"), dd, F.lit("T01:02:03Z</published>"))
            if p == 0
            else F.lit("")  # absent → updated fallback
        )
        return F.concat(
            F.lit("<entry><title>Title "), tok(p), F.lit("</title>"),
            link, summary,
            F.lit("<content>Body "), tok(p), F.lit("</content>"),
            published,
            F.lit("<updated>2024-02-"), dd, F.lit("T04:05:06Z</updated>"),
            F.lit("<id>tag:example.com,2024:"), s, F.lit(f":{p}</id>"),
            F.lit('<category term="at'), (i % 3).cast("string"),
            F.lit('" label="Label '), (i % 3).cast("string"), F.lit('"/>'),
            F.lit("<author><name>Name "), (i % 4).cast("string"),
            F.lit("</name><email>a"), (i % 4).cast("string"),
            F.lit("@example.com</email></author>"),
            F.lit("</entry>"),
        )

    rss_body = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel><title>F'), s,
        F.lit("</title>"), rss_item(0), rss_item(1), rss_item(2),
        F.lit("</channel></rss>"),
    )
    atom_body = F.concat(
        F.lit('<?xml version="1.0"?><feed xmlns="http://www.w3.org/2005/Atom"><title>F'),
        s, F.lit("</title>"), atom_entry(0), atom_entry(1), F.lit("</feed>"),
    )
    body = (
        F.when(m == 3, F.lit(""))
        .when(m == 4, F.lit("<html><body>not a feed</body></html>"))
        .when(m == 2, atom_body)
        .otherwise(rss_body)
    )
    return docs.select(
        i.alias("feed_order"), feed_url.alias("feed_url"), body.alias("body")
    )


def q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed-item discovery (rss_feed.go Search/parseFeedResults
    set-at-a-time): empty query matches every field group; extraction +
    link normalization + timestamp normalization + global feed-order
    rank, trimmed to the page_size×max_pages budget (50×2)."""
    from thecrowler_spark.operators.feeds import parse_feed_items

    return parse_feed_items(
        _feed_fixture(spark, sf_dir), query="", page_size=50, max_pages=2
    )


def q_feed_items_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-item discovery with a live query ('cat3'): the
    matchedFeedFields whole-substring path selects only the RSS feeds
    whose rotated <category> is cat3 (categories group alone matches)."""
    from thecrowler_spark.operators.feeds import parse_feed_items

    return parse_feed_items(
        _feed_fixture(spark, sf_dir), query="cat3", page_size=50, max_pages=2
    )


def _feed_items_oracle_sql(query_cat: str | None = None, limit: int = 100) -> str:
    """DuckDB replay of q_feed_items from the raw documents table: the
    fixture's field arithmetic is recomputed directly (no XML round
    trip), then ranked by (feed position, item position) and trimmed —
    the same contract the Spark side must recover by actually parsing
    the authored XML."""
    tok = "substr(md5('fd-' || i || '-' || p), 1, 8)"
    if query_cat is None:
        matched = "'title,link,content,categories,authors'"
        cat_filter = ""
        atom_cond = "TRUE"
    else:
        matched = "'categories'"
        cat_filter = f" AND i % 7 = {int(query_cat.removeprefix('cat'))}"
        atom_cond = "FALSE"  # atom term+label 'atN Label N' never matches catN
    return f"""
        WITH f AS (
          SELECT doc_id AS i, doc_id % 5 AS m,
                 lpad(CAST(1 + doc_id % 25 AS VARCHAR), 2, '0') AS dd,
                 'https://feeds.example.com/f' || doc_id || '/feed.xml' AS feed_url
          FROM documents
        ),
        items AS (
          SELECT i, p, feed_url,
                 'Title ' || {tok} AS title,
                 CASE p WHEN 0 THEN 'https://feeds.example.com/a/' || i || '/x'
                        WHEN 1 THEN 'https://g.example.com/' || i
                        ELSE 'https://x.example.com/' || i || '/c' END AS url,
                 CASE p WHEN 1 THEN 'Body ' || {tok}
                        ELSE 'Desc ' || {tok} END AS snippet,
                 CASE p WHEN 1 THEN 'https://g.example.com/' || i
                        ELSE 'rss-' || i || '-' || p END AS item_id,
                 CASE p WHEN 0 THEN '2024-01-' || dd || 'T06:07:08Z'
                        WHEN 1 THEN 'not a date ' || {tok}
                        ELSE '2024-03-' || dd || 'T03:00:00Z' END AS published_timestamp
          FROM f, (VALUES (0), (1), (2)) pp(p)
          WHERE m IN (0, 1){cat_filter}
          UNION ALL
          SELECT i, p, feed_url,
                 'Title ' || {tok} AS title,
                 CASE p WHEN 0 THEN 'https://feeds.example.com/e/' || i
                        ELSE 'https://x.example.com/' || i || '/e1' END AS url,
                 CASE p WHEN 0 THEN 'Sum ' || {tok}
                        ELSE 'Body ' || {tok} END AS snippet,
                 'tag:example.com,2024:' || i || ':' || p AS item_id,
                 CASE p WHEN 0 THEN '2024-02-' || dd || 'T01:02:03Z'
                        ELSE '2024-02-' || dd || 'T04:05:06Z' END AS published_timestamp
          FROM f, (VALUES (0), (1)) pp(p)
          WHERE m = 2 AND {atom_cond}
        ),
        ranked AS (
          SELECT feed_url,
                 CAST(ROW_NUMBER() OVER (ORDER BY i, p) AS INT) AS rank,
                 url, title, snippet, item_id, published_timestamp
          FROM items
        )
        SELECT feed_url, rank, CAST(1.0 AS DOUBLE) / rank AS score, url, title,
               snippet, item_id, published_timestamp, {matched} AS matched_fields
        FROM ranked WHERE rank <= {limit}
    """


# ------------------------------------------------------ infoseed claim gate

def q_infoseed_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InformationSeed scan+claim (information_seed_claims.go:89-260):
    lifecycle eligibility (new/pending, stale-processing re-claim,
    error retry backoff, NULL-timestamp immediate eligibility), trimmed
    priority restriction, FIFO limit, and the UPDATE leg (processing /
    engine / last_processed_at / attempts+1) applied to the claimed
    rows — the infoseed sibling of frontier_claim."""
    from thecrowler_spark.operators.infoseed import claim_information_seeds

    _load(spark, sf_dir, "orders")
    seeds = spark.sql(
        """
        SELECT o_orderkey AS information_seed_id,
               concat('seed query ', CAST(o_orderkey AS STRING)) AS information_seed,
               CASE CAST(o_orderkey % 5 AS INT)
                 WHEN 0 THEN 'new' WHEN 1 THEN ' Pending ' WHEN 2 THEN 'processing'
                 WHEN 3 THEN 'error' ELSE 'completed' END AS status,
               CASE WHEN o_orderpriority LIKE '1%' THEN 'high' ELSE 'low' END AS priority,
               '' AS engine,
               o_orderkey % 13 = 0 AS disabled,
               CAST(o_orderkey % 4 AS INT) AS attempts,
               o_orderdate AS created_at,
               CASE WHEN o_orderkey % 2 = 0 THEN NULL
                    ELSE timestamp'1995-06-01 00:00:00'
                         - make_interval(0, 0, 0, 0, 0, CAST(o_orderkey % 90 AS INT), 0)
               END AS last_processed_at,
               CASE WHEN o_orderkey % 3 = 0 THEN NULL
                    ELSE timestamp'1995-06-01 00:00:00'
                         - make_interval(0, 0, 0, 0, 0, CAST(o_orderkey % 120 AS INT), 0)
               END AS last_error_at
        FROM orders
        """
    )
    claimed = claim_information_seeds(
        seeds, 200, "engine-a", "1995-06-01 00:00:00", priority=" high ",
        processing_timeout="1 hour", retry_after="45 minutes",
    )
    return claimed.select(
        "information_seed_id", "information_seed", "status", "priority",
        "engine", "attempts", "created_at", "last_processed_at",
    )


def _infoseed_claim_oracle_sql() -> str:
    return """
        WITH seeds AS (
          SELECT o_orderkey AS id,
                 'seed query ' || o_orderkey AS information_seed,
                 CASE CAST(o_orderkey % 5 AS INT)
                   WHEN 0 THEN 'new' WHEN 1 THEN ' Pending ' WHEN 2 THEN 'processing'
                   WHEN 3 THEN 'error' ELSE 'completed' END AS status,
                 CASE WHEN o_orderpriority LIKE '1%' THEN 'high' ELSE 'low' END AS priority,
                 o_orderkey % 13 = 0 AS disabled,
                 CAST(o_orderkey % 4 AS INT) AS attempts,
                 o_orderdate AS created_at,
                 CASE WHEN o_orderkey % 2 = 0 THEN NULL
                      ELSE TIMESTAMP '1995-06-01 00:00:00' - to_minutes(o_orderkey % 90)
                 END AS lpa,
                 CASE WHEN o_orderkey % 3 = 0 THEN NULL
                      ELSE TIMESTAMP '1995-06-01 00:00:00' - to_minutes(o_orderkey % 120)
                 END AS lea
          FROM orders
        )
        SELECT id AS information_seed_id, information_seed,
               'processing' AS status, priority, 'engine-a' AS engine,
               CAST(attempts + 1 AS INT) AS attempts, created_at,
               TIMESTAMP '1995-06-01 00:00:00' AS last_processed_at
        FROM seeds
        WHERE NOT disabled AND priority = 'high'
          AND (lower(trim(status)) IN ('new', 'pending')
               OR (lower(trim(status)) = 'processing' AND (lpa IS NULL OR
                   lpa < TIMESTAMP '1995-06-01 00:00:00' - to_minutes(60)))
               OR (lower(trim(status)) = 'error' AND (lea IS NULL OR
                   lea < TIMESTAMP '1995-06-01 00:00:00' - to_minutes(45))))
        ORDER BY created_at, id LIMIT 200
    """


# ----------------------------------------------- metric observation derive

_METRICS_CFG = [
    {"metric_id": 1, "value_type": "count", "bucket": "1h",
     "selector": {"event": "click", "provider": "prov1"},
     "dimensions": [{"key": "host", "field": "host"}]},
    {"metric_id": 2, "value_type": "integer", "bucket": "1d",
     "selector": {"field": "stats.count", "where": {"status": "ok"}}},
    {"metric_id": 3, "value_type": "string", "bucket": "none",
     "selector": {"event": "error", "value": "provider"},
     "dimensions": [{"key": "kind", "value": "err"}]},
    {"metric_id": 4, "value_type": "decimal", "bucket": "5m",
     "selector": {"field": "score", "where": {"provider": "prov2"}}},
]


def q_metric_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-driven time-series observation derivation
    (emitInformationSeedMetricTx): selector matching over JSON event
    fields (event + where-path + lifecycle keys), count/integer/
    string/decimal value typing, bucket bounds (1h/1d/5m/none),
    length-framed value hashes, NUL-framed dedupe keys, dimension
    JSON, and lag-window change detection with numeric deltas."""
    from thecrowler_spark.operators.metricsderive import derive_observations

    _load(spark, sf_dir, "events", widen=("events",))
    ev = spark.sql(
        """
        SELECT event_id, event_type AS event,
               concat('u', CAST(user_id AS STRING)) AS identity,
               concat('seed=', CAST(user_id % 20 AS STRING)) AS scope,
               ts AS observed_at,
               concat('{"provider":"prov', CAST(event_id % 4 AS STRING),
                      '","status":"',
                      CASE CAST(event_id % 3 AS INT)
                        WHEN 0 THEN 'ok' WHEN 1 THEN ' Warn ' ELSE 'fail' END,
                      '","stats":{"count":"', CAST(event_id % 50 AS STRING),
                      '"},"host":"h', CAST(user_id % 10 AS STRING),
                      '","score":"', CAST(event_id % 7 AS STRING), '.5"}')
                 AS fields
        FROM events
        """
    )
    return derive_observations(ev, _METRICS_CFG)


def _metric_observations_oracle_sql() -> str:
    framed = ("sha256('5:value|' || length(vt) || ':' || vt || '|' "
              "|| length('present:' || rep) || ':present:' || rep || '|')")
    return f"""
        WITH ev AS (
          SELECT event_id, event_type AS event,
                 'u' || user_id AS identity,
                 'seed=' || (user_id % 20) AS scope,
                 ts AS observed_at,
                 'prov' || (event_id % 4) AS provider,
                 CASE CAST(event_id % 3 AS INT)
                   WHEN 0 THEN 'ok' WHEN 1 THEN ' Warn ' ELSE 'fail' END AS status,
                 CAST(event_id % 50 AS VARCHAR) AS cnt,
                 'h' || (user_id % 10) AS host,
                 (event_id % 7) || '.5' AS score
          FROM events
        ),
        obs AS (
          SELECT 1 AS metric_id, event_id, identity, scope, observed_at,
                 date_trunc('hour', observed_at) AS bucket_start,
                 date_trunc('hour', observed_at) + INTERVAL 1 HOUR AS bucket_end,
                 'count' AS vt, CAST(1 AS BIGINT) AS value_int,
                 CAST(NULL AS DOUBLE) AS value_num,
                 CAST(NULL AS VARCHAR) AS value_text,
                 '1' AS rep, '{{"host":"' || host || '"}}' AS dims,
                 CAST(NULL AS DOUBLE) AS numval
          FROM ev WHERE event = 'click' AND provider = 'prov1'
          UNION ALL
          SELECT 2, event_id, identity, scope, observed_at,
                 date_trunc('day', observed_at),
                 date_trunc('day', observed_at) + INTERVAL 1 DAY,
                 'integer', CAST(cnt AS BIGINT), NULL, NULL,
                 CAST(CAST(cnt AS BIGINT) AS VARCHAR), '{{}}', NULL
          FROM ev WHERE lower(trim(status)) = 'ok'
          UNION ALL
          SELECT 3, event_id, identity, scope, observed_at,
                 observed_at, observed_at,
                 'string', NULL, NULL, provider, provider,
                 '{{"kind":"err"}}', NULL
          FROM ev WHERE event = 'error'
          UNION ALL
          SELECT 4, event_id, identity, scope, observed_at,
                 TIMESTAMP '1970-01-01 00:00:00'
                   + ((CAST(floor(epoch(observed_at)) AS BIGINT) // 300) * 300)
                     * INTERVAL 1 SECOND,
                 TIMESTAMP '1970-01-01 00:00:00'
                   + ((CAST(floor(epoch(observed_at)) AS BIGINT) // 300) * 300)
                     * INTERVAL 1 SECOND + INTERVAL 5 MINUTE,
                 'decimal', NULL, CAST(score AS DOUBLE), NULL, score, '{{}}',
                 CAST(score AS DOUBLE)
          FROM ev WHERE provider = 'prov2'
        ),
        hashed AS (
          SELECT *, {framed} AS value_hash FROM obs
        ),
        chg AS (
          SELECT *,
                 lag(value_hash) OVER w AS prev_value_hash,
                 lag(numval) OVER w AS prev_num
          FROM hashed
          WINDOW w AS (PARTITION BY metric_id, scope, dims
                       ORDER BY observed_at, event_id)
        )
        SELECT CAST(metric_id AS INT) AS metric_id, event_id, identity, scope,
               observed_at, bucket_start, bucket_end, vt AS value_type,
               value_int, value_num, value_text, value_hash,
               dims AS dimensions,
               sha256('information-seed' || chr(0) || metric_id || chr(0)
                      || identity || chr(0) || value_hash || chr(0) || dims)
                 AS dedupe_key,
               prev_value_hash,
               CASE WHEN prev_value_hash IS NULL THEN 'new'
                    WHEN prev_value_hash <> value_hash THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               CASE WHEN prev_num IS NOT NULL AND numval IS NOT NULL
                    THEN numval - prev_num END AS change_delta_numeric,
               prev_value_hash IS NULL OR prev_value_hash <> value_hash
                 AS is_changed
        FROM chg
    """


# ------------------------------------------------ search JSON adapters

def _adapter_pages(spark: SparkSession, sf_dir: str, provider: str) -> DataFrame:
    """Deterministic provider-response corpus over documents. generic:
    doc_id%6 picks the payload shape (0/1 results objects with scores,
    2 organic_results mixed string/object/number/no-url items, 3 array
    root of URL strings, 4 blank, 5 malformed). brave: web.results
    entries with a rank-consuming blank-url entry on %7, 4 blank,
    5 malformed non-array results."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    i = F.col("doc_id")
    s = i.cast("string")
    k = i % 6

    def tok(p: int) -> Column:
        return F.substring(
            F.md5(F.concat(F.lit("sa-"), s, F.lit(f"-{p}"))), 1, 8
        )

    if provider == "generic":
        def obj(p: int) -> Column:
            return F.concat(
                F.lit('{"url":"https://g'), (i % 9).cast("string"),
                F.lit(".example/p"), s, F.lit(f"/{p}"),
                F.lit('","title":"T '), tok(p),
                F.lit('","snippet":"S '), tok(p),
                F.lit('","score":'), ((i % 8).cast("double") / 4).cast("string"),
                F.lit("}"),
            )

        results = F.concat(
            F.lit('{"results":['), obj(0), F.lit(","), obj(1), F.lit(","),
            obj(2), F.lit('],"total":3}'),
        )
        organic = F.concat(
            F.lit('{"organic_results":["https://gs.example/'), s,
            F.lit('",{"link":"https://gl.example/'), s,
            F.lit('","summary":"S '), tok(1),
            F.lit('"},7,{"name":"x"}]}'),
        )
        arr_root = F.concat(
            F.lit('["https://ga.example/'), s, F.lit('/a","https://ga.example/'),
            s, F.lit('/b"]'),
        )
        body = (
            F.when(k == 4, F.lit(""))
            .when(k == 5, F.lit("not json {"))
            .when(k == 2, organic)
            .when(k == 3, arr_root)
            .otherwise(results)
        )
    else:
        def entry(p: int) -> Column:
            return F.concat(
                F.lit('{"title":"T '), tok(p),
                F.lit('","url":"https://b'), (i % 9).cast("string"),
                F.lit(".example/p"), s, F.lit(f"/{p}"),
                F.lit('","description":"D '), tok(p), F.lit('"}'),
            )

        blank_entry = F.lit('{"title":"x","url":""},')
        ok_body = F.concat(
            F.lit('{"web":{"total":2,"results":['),
            F.when(i % 7 == 0, blank_entry).otherwise(F.lit("")),
            entry(0), F.lit(","), entry(1), F.lit("]}}"),
        )
        body = (
            F.when(k == 4, F.lit(""))
            .when(k == 5, F.lit('{"web":{"results":{"bad":1}}}'))
            .otherwise(ok_body)
        )
    return docs.select(i.cast("int").alias("page_order"), body.alias("body"))


def q_search_adapter_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic JSON provider adapter (parseResults/findResultItems/
    resultFromValue): key-chain item discovery, string/object/skip item
    shapes, rank consumption by skipped items, score passthrough,
    budget trim without re-rank."""
    from thecrowler_spark.operators.search_adapters import parse_search_results

    return parse_search_results(
        _adapter_pages(spark, sf_dir, "generic"), provider="generic",
        page_size=50, max_pages=2,
    )


def q_search_adapter_brave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brave adapter (parseBraveResults): required web.results section
    (malformed pages audited out), description→snippet, reciprocal
    rank, blank-url entries consuming ranks."""
    from thecrowler_spark.operators.search_adapters import parse_search_results

    return parse_search_results(
        _adapter_pages(spark, sf_dir, "brave_search"), provider="brave_search",
        page_size=50, max_pages=2,
    )


def _adapter_oracle_sql(provider: str, limit: int = 100) -> str:
    tok = "substr(md5('sa-' || i || '-' || p), 1, 8)"
    if provider == "generic":
        items = f"""
          SELECT i, p, CAST(p + 1 AS INT) AS rank,
                 'https://g' || (i % 9) || '.example/p' || i || '/' || p AS url,
                 'T ' || {tok} AS title, 'S ' || {tok} AS snippet,
                 CAST(i % 8 AS DOUBLE) / 4 AS score
          FROM pages, (VALUES (0), (1), (2)) pp(p) WHERE k IN (0, 1)
          UNION ALL
          SELECT i, 0, 1, 'https://gs.example/' || i, '', '', CAST(0 AS DOUBLE)
          FROM pages WHERE k = 2
          UNION ALL
          SELECT i, 1, 2, 'https://gl.example/' || i, '',
                 'S ' || {tok.replace("' || p", "' || 1")}, CAST(0 AS DOUBLE)
          FROM pages, (VALUES (1)) pp(p) WHERE k = 2
          UNION ALL
          SELECT i, p, CAST(p + 1 AS INT),
                 'https://ga.example/' || i || CASE p WHEN 0 THEN '/a' ELSE '/b' END,
                 '', '', CAST(0 AS DOUBLE)
          FROM pages, (VALUES (0), (1)) pp(p) WHERE k = 3"""
    else:
        items = f"""
          SELECT i, p + CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END AS p,
                 CAST(p + 1 + CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END AS INT) AS rank,
                 'https://b' || (i % 9) || '.example/p' || i || '/' || p AS url,
                 'T ' || {tok} AS title, 'D ' || {tok} AS snippet,
                 CAST(1.0 AS DOUBLE)
                   / (p + 1 + CASE WHEN i % 7 = 0 THEN 1 ELSE 0 END) AS score
          FROM pages, (VALUES (0), (1)) pp(p) WHERE k IN (0, 1, 2, 3)"""
    return f"""
        WITH pages AS (
          SELECT doc_id AS i, doc_id % 6 AS k FROM documents
        ),
        items AS ({items}),
        trimmed AS (
          SELECT * FROM items ORDER BY i, p LIMIT {limit}
        )
        SELECT CAST(i AS INT) AS page_order, rank, score, url, title, snippet
        FROM trimmed
    """


# ------------------------------------------------- candidate persist policy

def _persist_fixture(spark: SparkSession, sf_dir: str):
    """Sources (orderkey<300) + a 600-candidate discovery batch:
    existing hits, brand-new URLs, %450 duplicate collisions (the
    sequential loop's insert-race branch), %7 query-encoded URLs
    (NormalizeSourceURL decode), %5 meaningful config overrides."""
    _load(spark, sf_dir, "orders", widen=("orders",))
    sources = spark.sql(
        """
        SELECT o_orderkey + 1000 AS source_id,
               concat('https://src', CAST(o_orderkey AS STRING), '.example.test/') AS url,
               concat('name', CAST(o_orderkey AS STRING)) AS name,
               'high' AS priority, CAST(2 AS INT) AS restricted,
               CAST(0 AS INT) AS flags,
               CASE WHEN o_orderkey % 4 = 0 THEN '{"version":"old"}' ELSE '{}' END AS config,
               false AS disabled, 'completed' AS status
        FROM orders WHERE o_orderkey < 300
        """
    )
    cands = spark.sql(
        """
        SELECT CAST(o_orderkey AS INT) AS cand_order,
               concat('https://src', CAST(o_orderkey % 450 AS STRING), '.example.test/',
                      CASE WHEN o_orderkey % 7 = 0 THEN '?q=%2Fa%3Ab' ELSE '' END) AS url,
               concat('title', CAST(o_orderkey AS STRING)) AS title,
               concat('prov', CAST(o_orderkey % 3 AS STRING)) AS provider,
               'seed query' AS query,
               CAST(o_orderkey % 10 AS INT) AS rank,
               CAST(o_orderkey % 10 AS DOUBLE) / 4 AS score,
               'discovered' AS reason,
               CASE WHEN o_orderkey % 5 = 0
                    THEN concat('{"v":"', CAST(o_orderkey AS STRING), '"}') END
                 AS config_override
        FROM orders WHERE o_orderkey < 600
        """
    )
    return sources, cands


def _persist_out(spark: SparkSession, sf_dir: str):
    from thecrowler_spark.operators.persist import persist_candidates

    sources, cands = _persist_fixture(spark, sf_dir)
    return persist_candidates(sources, cands, seed_id=1)


def q_persist_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate→Source persistence policy (runner.go persistCandidates
    + UpsertSourceWithPolicy): per-candidate audit of
    created / linked / linked_config_updated actions, deterministic
    max-id+rank id assignment, duplicate-URL race branch."""
    return _persist_out(spark, sf_dir)["audit"]


def q_persist_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The discovery-metadata link upsert
    (LinkSourceToInformationSeedWithDiscoveryMetadata): one idempotent
    row per (source, seed), last linking candidate's non-null fields
    win (the ON CONFLICT COALESCE in all three DBMS arms)."""
    return _persist_out(spark, sf_dir)["links"]


_PERSIST_CTES = """
        src AS (
          SELECT o_orderkey + 1000 AS source_id,
                 'https://src' || o_orderkey || '.example.test/' AS url
          FROM orders WHERE o_orderkey < 300
        ),
        cand AS (
          SELECT CAST(o_orderkey AS INT) AS cand_order,
                 'https://src' || (o_orderkey % 450) || '.example.test/' ||
                   CASE WHEN o_orderkey % 7 = 0 THEN '?q=/a:b' ELSE '' END AS url,
                 'prov' || (o_orderkey % 3) AS provider,
                 'seed query' AS query,
                 CAST(o_orderkey % 10 AS INT) AS rank,
                 CAST(o_orderkey % 10 AS DOUBLE) / 4 AS score,
                 'discovered' AS reason,
                 CASE WHEN o_orderkey % 5 = 0
                      THEN '{"v":"' || o_orderkey || '"}' ELSE '{}' END AS config
          FROM orders WHERE o_orderkey < 600
        ),
        firsts AS (SELECT url, min(cand_order) AS first_order FROM cand GROUP BY url),
        j AS (
          SELECT c.*, f.first_order, s.source_id AS ex_id
          FROM cand c JOIN firsts f USING (url) LEFT JOIN src s USING (url)
        ),
        newurls AS (
          SELECT url,
                 (SELECT max(source_id) FROM src)
                   + ROW_NUMBER() OVER (ORDER BY first_order) AS new_id
          FROM (SELECT DISTINCT url, first_order FROM j WHERE ex_id IS NULL)
        ),
        audit AS (
          SELECT j.cand_order, j.url, COALESCE(j.ex_id, n.new_id) AS source_id,
                 CASE WHEN j.ex_id IS NULL AND j.cand_order = j.first_order
                        THEN 'created'
                      WHEN trim(j.config) NOT IN ('', 'null', '{}')
                        THEN 'linked_config_updated'
                      ELSE 'linked' END AS action,
                 j.provider, j.query, j.rank, j.score, j.reason
          FROM j LEFT JOIN newurls n USING (url)
        )"""


def _persist_candidates_oracle_sql() -> str:
    return f"WITH {_PERSIST_CTES} SELECT cand_order, url, source_id, action FROM audit"


def _persist_links_oracle_sql() -> str:
    return f"""
        WITH {_PERSIST_CTES}
        SELECT source_id, CAST(1 AS INT) AS information_seed_id,
               provider AS discovery_provider, query AS discovery_query,
               rank AS discovery_rank, score AS candidate_score,
               reason AS candidate_reason
        FROM (SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source_id ORDER BY cand_order DESC) AS rn
              FROM audit)
        WHERE rn = 1
    """


# -------------------------------------------------------- Common Crawl CDX

def _cdx_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDX index-page corpus over documents: doc_id%8
    picks the body form (0-3 ndjson, 4-5 json array, 6 blank,
    7 malformed truncated line); each well-formed page carries 3
    capture records whose fields are md5 tokens + arithmetic rotations
    so the oracle recomputes every expected value from the raw table
    without parsing JSON. URL noise (www./case/default-port variants on
    independent residues) makes distinct raw URLs SURT-collapse."""
    docs = _load(spark, sf_dir, "documents", widen=("documents",))["documents"]
    i = F.col("doc_id")
    s = i.cast("string")
    k = i % 8
    dd = F.lpad((1 + i % 28).cast("string"), 2, "0")

    def rec(p: int) -> Column:
        url = F.concat(
            F.when(i % 2 == 0, F.lit("https://WWW.")).otherwise(F.lit("https://")),
            F.lit("h"), (i % 9).cast("string"), F.lit(".Example.com"),
            F.when(i % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"), (i % 50).cast("string"), F.lit(f"/{p}?b=2&a=1"),
        )
        if p == 1:
            url = F.when(i % 3 == 0, F.lit("")).otherwise(url)
        ts = F.concat(F.lit("202605"), dd, F.lit(f"0{p}0203"))
        if p == 2:
            ts = F.when(i % 5 == 0, F.lit("")).otherwise(ts)
        return F.concat(
            F.lit('{"urlkey":"com,example,h'), (i % 9).cast("string"),
            F.lit(")/p/"), (i % 50).cast("string"), F.lit(f"/{p}"),
            F.lit('","url":"'), url,
            F.lit('","mime":"'),
            F.lit("application/pdf") if p == 2 else F.lit("text/html"),
            F.lit('","status":"'),
            (F.when(i % 4 == 0, F.lit("404")).otherwise(F.lit("200"))
             if p == 0 else F.lit("200")),
            F.lit('","digest":"'),
            F.substring(F.md5(F.concat(F.lit("cdx-"), s, F.lit(f"-{p}"))), 1, 12),
            F.lit('","timestamp":"'), ts,
            F.lit('","filename":"crawl-data/seg-'), (i % 7).cast("string"),
            F.lit('.warc.gz"}'),
        )

    ndjson = F.concat_ws("\n", rec(0), rec(1), rec(2))
    json_arr = F.concat(F.lit("["), F.concat_ws(",", rec(0), rec(1), rec(2)), F.lit("]"))
    body = (
        F.when(k == 6, F.lit(""))
        .when(k == 7, F.concat(rec(0), F.lit('\n{"url":"https://x.example.com/bad","status":')))
        .when(k.isin(4, 5), json_arr)
        .otherwise(ndjson)
    )
    index_name = F.concat(F.lit("cc-idx-"), (i % 5).cast("string"))
    return docs.select(
        i.cast("int").alias("page_order"), index_name.alias("index_name"),
        body.alias("body"),
    )


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl CDX provider set-at-a-time (common_crawl_index.go
    Search/parseCommonCrawlIndexResults): ndjson + json-array parsing,
    blank-url skip, capture-title fallback, global (page, line) rank,
    reciprocal score, boundedOptions trim (30×2)."""
    from thecrowler_spark.operators.cdx import parse_cdx_records

    return parse_cdx_records(_cdx_pages(spark, sf_dir), page_size=30, max_pages=2)


def q_cdx_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDX frontier-seed scale path: untrimmed records → locally
    computed SURT urlkey (www/case/default-port variants collapse) →
    newest capture per key via one partial-agg max(struct) groupBy."""
    from thecrowler_spark.operators.cdx import cdx_records, latest_captures, surt_key

    recs = cdx_records(_cdx_pages(spark, sf_dir)).select(
        surt_key(F.col("url")).alias("surt"),
        "url", "timestamp", "digest", "mime", "status",
    )
    return latest_captures(recs, key_col="surt")


def _cdx_items_cte() -> str:
    """Shared DuckDB replay of _cdx_pages' kept records (well-formed
    pages only, blank-url rows dropped), one row per (i, p)."""
    dg = "substr(md5('cdx-' || i || '-' || p), 1, 12)"
    return f"""
        pages AS (
          SELECT doc_id AS i, doc_id % 8 AS k,
                 lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS dd
          FROM documents
        ),
        items AS (
          SELECT i, p, 'cc-idx-' || (i % 5) AS index_name,
                 (CASE WHEN i % 2 = 0 THEN 'https://WWW.' ELSE 'https://' END)
                   || 'h' || (i % 9) || '.Example.com'
                   || (CASE WHEN i % 4 = 0 THEN ':443' ELSE '' END)
                   || '/p/' || (i % 50) || '/' || p || '?b=2&a=1' AS url,
                 CASE WHEN p = 2 AND i % 5 = 0 THEN ''
                      ELSE '202605' || dd || '0' || p || '0203' END AS ts,
                 CASE WHEN p = 2 THEN 'application/pdf' ELSE 'text/html' END AS mime,
                 CASE WHEN p = 0 AND i % 4 = 0 THEN '404' ELSE '200' END AS status,
                 {dg} AS digest,
                 'com,example,h' || (i % 9) || ')/p/' || (i % 50) || '/' || p AS urlkey,
                 'crawl-data/seg-' || (i % 7) || '.warc.gz' AS filename,
                 'com,example,h' || (i % 9) || ')/p/' || (i % 50) || '/' || p
                   || '?a=1&b=2' AS surt
          FROM pages, (VALUES (0), (1), (2)) pp(p)
          WHERE k < 6 AND NOT (p = 1 AND i % 3 = 0)
        )"""


def _cdx_index_oracle_sql(limit: int = 60) -> str:
    return f"""
        WITH {_cdx_items_cte()},
        ranked AS (
          SELECT index_name,
                 CAST(ROW_NUMBER() OVER (ORDER BY i, p) AS INT) AS rank,
                 url,
                 CASE WHEN ts = '' THEN 'Common Crawl capture'
                      ELSE 'Common Crawl capture ' || ts END AS title,
                 digest, ts AS timestamp, mime, status, urlkey, filename
          FROM items
        )
        SELECT index_name, rank, CAST(1.0 AS DOUBLE) / rank AS score, url,
               title, digest, timestamp, mime, status, urlkey, filename
        FROM ranked WHERE rank <= {limit}
    """


def _cdx_latest_oracle_sql() -> str:
    return f"""
        WITH {_cdx_items_cte()}
        SELECT surt, url, ts AS timestamp, digest, mime, status
        FROM (
          SELECT surt, url, ts, digest, mime, status,
                 ROW_NUMBER() OVER (
                   PARTITION BY surt
                   ORDER BY ts DESC, digest DESC, url DESC, mime DESC, status DESC
                 ) AS rn
          FROM items
        ) WHERE rn = 1
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order IS the grading order: the driver grades the first
    50 entries only, so the window is curated per round (r2 verdict
    item 2). Policy: (a) never-driver-graded queries first, (b) queries
    whose implementation or oracle changed this round, (c) queries with
    the OLDEST last driver green, deferring multi-green stalwarts when
    the registry (118) exceeds two windows. Goal: every oracled query's
    last driver-green row is as recent as 50-slot rotation allows
    (r5 window: 33 never-graded + 10 changed-path r4 re-proves + the 3
    r2-last queries + 4 r3-last (robots_wildcard..search_netinfo); every query OUTSIDE the window was
    driver-green in r3 or later, and all 130 stay green in
    scripts/oracle_gate.py full-registry runs regardless of the driver
    window)."""
    return {
        # --- r5 window: new this round, never driver-graded ----------
        "feed_items": q_feed_items,
        "feed_items_query": q_feed_items_query,
        "cdx_index": q_cdx_index,
        "cdx_latest": q_cdx_latest,
        "infoseed_claim": q_infoseed_claim,
        "persist_candidates": q_persist_candidates,
        "persist_links": q_persist_links,
        "search_adapter_generic": q_search_adapter_generic,
        "search_adapter_brave": q_search_adapter_brave,
        "metric_observations": q_metric_observations,
        "media_phash": q_media_phash,
        "media_neardup": q_media_neardup,
        "opic_importance": q_opic_importance,
        "frontier_claim_opic": q_frontier_claim_opic,
        "revisit_schedule": q_revisit_schedule,
        "trap_detection": q_trap_detection,
        "trap_filter": q_trap_filter,
        "dust_rules": q_dust_rules,
        "dedup_representative": q_dedup_representative,
        "url_quality_filter": q_url_quality_filter,
        "lm_buckets_bigram": q_lm_buckets_bigram,
        "scraped_fields": q_scraped_fields,
        "scraped_json": q_scraped_json,
        "scraped_group": q_scraped_group,
        "semantic_dedup": q_semantic_dedup,
        "dsir_select": q_dsir_select,
        "detected_tech_selectors": q_detected_tech_selectors,
        "crawl_bfs_levels": q_crawl_bfs_levels,
        "crawl_bfs_dust": q_crawl_bfs_dust,
        "pipeline_incremental": q_pipeline_incremental,
        "multimodal_decode_real": q_multimodal_decode_real,
        "multimodal_resize_real": q_multimodal_resize_real,
        "multimodal_frames_real": q_multimodal_frames_real,
        # --- changed paths this round: re-prove (trigram langid family;
        # crawl_bfs oracle TLD branch; two-phase mixture/candidate caps;
        # detection rules schema + selector legs; real-codec multimodal) --
        "text_langid": q_text_langid,
        "text_langmap": q_text_langmap,
        "corpus_stats": q_corpus_stats,
        "crawl_bfs": q_crawl_bfs,
        "mixture_sample": q_mixture_sample,
        "url_canonical": q_url_canonical,
        "detected_tech": q_detected_tech,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        # --- last driver green was r2 — OLDEST first per rule (c) ----
        "url_combine": q_url_combine,
        "events_recent": q_events_recent,
        "webobjects_dedup": q_webobjects_dedup,
        # --- last driver green was r3 — rotate in -------------------
        "robots_wildcard": q_robots_wildcard,
        "dedup_lines": q_dedup_lines,
        "events_asof_bucketed": q_events_asof_bucketed,
        "search_netinfo": q_search_netinfo,
        "search_httpinfo": q_search_httpinfo,
        "ann_ivf": q_ann_ivf,
        "dataset_split": q_dataset_split,
        "dataset_pack": q_dataset_pack,
        "pack_interleaved": q_pack_interleaved,
        # ---------------- slot 51+: outside the 50-slot driver window.
        # text_ngrams .. search_snippets slid past the boundary when the
        # feed_items/cdx/infoseed_claim head entries took slots per rule
        # (a); all were driver-green in r3 and stay green in the full
        # gate.
        "text_ngrams": q_text_ngrams,
        "text_repetition": q_text_repetition,
        "text_quality_filter": q_text_quality_filter,
        "text_tfidf": q_text_tfidf,
        "text_pii_redact": q_text_pii_redact,
        "search_snippets": q_search_snippets,
        # robots_parse / text_quality / text_tokens / text_tokens_bpe
        # slipped past the boundary when the OPIC pair and then the
        # media_phash/media_neardup pair took the head per rule (a);
        # all stay green in the full-registry oracle-gate runs.
        "robots_parse": q_robots_parse,
        "text_quality": q_text_quality,
        "text_tokens": q_text_tokens,
        "text_tokens_bpe": q_text_tokens_bpe,
        # email_frontier / pricing_summary (r3 multi-greens),
        # streaming_window_counts, search_fts_rank, url_fuzzing,
        # normalizers and text_fingerprint slipped out when the
        # never-graded head slots grew (revisit_schedule,
        # trap_detection, trap_filter, dust_rules,
        # dedup_representative, url_quality_filter, lm_buckets_bigram
        # per rule (a)).
        "text_fingerprint": q_text_fingerprint,
        "url_fuzzing": q_url_fuzzing,
        "normalizers": q_normalizers,
        "search_fts_rank": q_search_fts_rank,
        "email_frontier": q_email_frontier,
        "pricing_summary": q_pricing_summary,
        "streaming_window_counts": q_streaming_window_counts,
        # First the r3-green rotate-ins that did not fit (111 queries
        # / 50 slots), then the r3 multi-green stalwarts (>=2 greens;
        # decontaminate displaced by dsir_select); all remain covered
        # by scripts/oracle_gate.py full-registry runs ----------------
        "url_seen_cuckoo": q_url_seen_cuckoo,
        "frontier_claim_intervals": q_frontier_claim_intervals,
        "search_webobjects": q_search_webobjects,
        "search_screenshots": q_search_screenshots,
        "decontaminate": q_decontaminate,
        "embedding_neardup": q_embedding_neardup,
        "frontier_dedup_first": q_frontier_dedup_first,
        "politeness_budget": q_politeness_budget,
        "robots_filter": q_robots_filter,
        "attr_correlation": q_attr_correlation,
        "attr_index": q_attr_index,
        "correlated_sites": q_correlated_sites,
        # ---------------- r4-window greens (graded last round) -------
        "winnow_pairs": q_winnow_pairs,
        "fingerprints": q_fingerprints,
        "jarm": q_jarm,
        "lm_buckets": q_lm_buckets,
        "dedup_spans": q_dedup_spans,
        "dedup_components_star": q_dedup_components_star,
        "text_classifier": q_text_classifier,
        "source_quality": q_source_quality,
        "anchor_texts": q_anchor_texts,
        "text_winnow": q_text_winnow,
        "hits": q_hits,
        "sources_scd2": q_sources_scd2,
        "events_asof": q_events_asof,
        "scd2_interval_join": q_scd2_interval_join,
        "events_sessionize": q_events_sessionize,
        "events_props": q_events_props,
        "events_pivot": q_events_pivot,
        "events_rollup": q_events_rollup,
        "regional_revenue": q_regional_revenue,
        "linkgraph_degrees": q_linkgraph_degrees,
        "pagerank": q_pagerank,
        "dedup_components": q_dedup_components,
        "ann_cosine_topk": q_ann_cosine_topk,
        "url_normalize": q_url_normalize,
        "url_validity": q_url_validity,
        "url_external": q_url_external,
        "frontier_claim": q_frontier_claim,
        "url_seen_antijoin": q_url_seen_antijoin,
        "content_type": q_content_type,
        "content_sniff": q_content_sniff,
        "keyword_topk": q_keyword_topk,
        "keyword_per_doc": q_keyword_per_doc,
        "timeseries_buckets": q_timeseries_buckets,
        "search_star": q_search_star,
        "search_dorking": q_search_dorking,
        "correlation_union": q_correlation_union,
        "attr_selfjoin": q_attr_selfjoin,
        "upsert_coalesce": q_upsert_coalesce,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_sig": q_dedup_minhash_sig,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        # r1/r2/r3 triple- and double-greens deferred for the r2-last
        # trio rotated into the head (rule c); green in the full gate.
        "customer_quartiles": q_customer_quartiles,
        "crawl_counters": q_crawl_counters,
        "ann_lsh": q_ann_lsh,
    }


# --------------------------------------------------------------- oracle SQL

_KW_TOKENS = (
    "unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
    f"x -> x <> '' AND length(x) >= 3 AND length(x) <= 45 AND x NOT IN ({_SW_SQL})))"
)

_MARKER = (
    "len(list_filter(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), "
    "x -> x IN ({m})))"
)


_ANN_E_CTE = """
        e AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * 1000) AS BIGINT)) AS v
          FROM embeddings
        ),
        norms AS (
          SELECT vec_id, sum(x * x) AS n2
          FROM (SELECT vec_id, unnest(v) AS x FROM e) GROUP BY vec_id
        )"""


def _ann_lsh_oracle_sql(bits: int = 4, tables: int = 4, dim: int = 64, k: int = 5) -> str:
    """DuckDB mirror of lsh_bucketed_ann over quantized vectors: the
    identical md5 ±1 hyperplane grid (see similarity.md5_pm1), integer
    sign bits, DISTINCT bucket-join candidates, exact cosine re-rank
    with the same dot/(sqrt·sqrt) operation shape."""
    return f"""
        WITH {_ANN_E_CTE},
        h AS (
          SELECT t.t, j.j, d.d,
                 (('0x' || substr(md5(concat(t.t, '_', j.j, '_', d.d)), 1, 8))::BIGINT % 2) * 2 - 1 AS hv
          FROM (SELECT unnest(range({tables})) AS t) t,
               (SELECT unnest(range({bits})) AS j) j,
               (SELECT unnest(range({dim})) AS d) d
        ),
        dots AS (
          SELECT e.vec_id, h.t, h.j, sum(e.v[CAST(h.d AS INT) + 1] * h.hv) AS dotj
          FROM e CROSS JOIN h
          GROUP BY 1, 2, 3
        ),
        sig AS (
          SELECT vec_id, t,
                 CAST(sum(CASE WHEN dotj >= 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS INT) AS bucket
          FROM dots GROUP BY 1, 2
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
          FROM sig c JOIN sig q ON c.t = q.t AND c.bucket = q.bucket
          WHERE c.vec_id >= 5 AND q.vec_id < 5
        ),
        scored AS (
          SELECT cand.query_id, cand.corpus_id,
                 round(list_dot_product(ec.v, eq.v) / (sqrt(nc.n2) * sqrt(nq.n2)), 6) AS cosine
          FROM cand
          JOIN e ec ON ec.vec_id = cand.corpus_id
          JOIN e eq ON eq.vec_id = cand.query_id
          JOIN norms nc ON nc.vec_id = cand.corpus_id
          JOIN norms nq ON nq.vec_id = cand.query_id
        )
        SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _ann_ivf_oracle_sql(n_cells: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """DuckDB mirror of ivf_ann(iters=0): md5-sampled init centroids,
    exact integer cosine cell assignment (argmax, tie → lower cell),
    n_probe query cells, DISTINCT candidates, exact re-rank."""
    return f"""
        WITH {_ANN_E_CTE},
        init AS (
          SELECT (row_number() OVER (ORDER BY s.k, s.vec_id) - 1) AS cell,
                 s.v AS centroid, s.vec_id AS cvid
          FROM (
            SELECT vec_id, v,
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS k
            FROM e WHERE vec_id >= 5
            ORDER BY k, vec_id LIMIT {n_cells}
          ) s
        ),
        cnorm AS (
          SELECT cell, sum(x * x) AS n2
          FROM (SELECT cell, unnest(centroid) AS x FROM init) GROUP BY cell
        ),
        sims AS (
          SELECT e.vec_id, i.cell,
                 list_dot_product(e.v, i.centroid) / (sqrt(nv.n2) * sqrt(cn.n2)) AS sim
          FROM e
          JOIN norms nv ON nv.vec_id = e.vec_id
          CROSS JOIN init i
          JOIN cnorm cn ON cn.cell = i.cell
        ),
        cass AS (
          SELECT vec_id AS corpus_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS pr
            FROM sims WHERE vec_id >= 5
          ) WHERE pr = 1
        ),
        qass AS (
          SELECT vec_id AS query_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS pr
            FROM sims WHERE vec_id < 5
          ) WHERE pr <= {n_probe}
        ),
        cand AS (
          SELECT DISTINCT q.query_id, c.corpus_id
          FROM qass q JOIN cass c ON q.cell = c.cell
        ),
        scored AS (
          SELECT cand.query_id, cand.corpus_id,
                 round(list_dot_product(ec.v, eq.v) / (sqrt(nc.n2) * sqrt(nq.n2)), 6) AS cosine
          FROM cand
          JOIN e ec ON ec.vec_id = cand.corpus_id
          JOIN e eq ON eq.vec_id = cand.query_id
          JOIN norms nc ON nc.vec_id = cand.corpus_id
          JOIN norms nq ON nq.vec_id = cand.query_id
        )
        SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _semantic_dedup_oracle_sql(n_cells: int = 16, eps: float = 0.95) -> str:
    """DuckDB replay of q_semantic_dedup: twin synthesis + md5-init
    cells + argmax assignment + the non-greedy higher-priority drop
    join, all from the same arithmetic."""
    return f"""
        WITH e0 AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(floor(x * 1000) AS BIGINT)) AS v
          FROM embeddings
        ),
        e AS (
          SELECT vec_id, v FROM e0
          UNION ALL
          SELECT vec_id + 10000, [v[1] + 1] || v[2:64] FROM e0
          WHERE vec_id % 10 = 0
        ),
        norms AS (
          SELECT vec_id, sum(x * x) AS n2
          FROM (SELECT vec_id, unnest(v) AS x FROM e) GROUP BY vec_id
        ),
        init AS (
          SELECT (row_number() OVER (ORDER BY s.k, s.vec_id) - 1) AS cell,
                 s.v AS centroid
          FROM (
            SELECT vec_id, v,
                   ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS k
            FROM e ORDER BY k, vec_id LIMIT {n_cells}
          ) s
        ),
        cnorm AS (
          SELECT cell, sum(x * x) AS n2
          FROM (SELECT cell, unnest(centroid) AS x FROM init) GROUP BY cell
        ),
        sims AS (
          SELECT e.vec_id, i.cell,
                 list_dot_product(e.v, i.centroid) / (sqrt(nv.n2) * sqrt(cn.n2)) AS sim
          FROM e
          JOIN norms nv ON nv.vec_id = e.vec_id
          CROSS JOIN init i
          JOIN cnorm cn ON cn.cell = i.cell
        ),
        cass AS (
          SELECT vec_id, cell, round(sim, 6) AS cos_centroid FROM (
            SELECT vec_id, cell, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS pr
            FROM sims
          ) WHERE pr = 1
        ),
        dropped AS (
          SELECT DISTINCT a.vec_id
          FROM cass a
          JOIN cass b ON a.cell = b.cell
           AND (b.cos_centroid < a.cos_centroid
                OR (b.cos_centroid = a.cos_centroid AND b.vec_id < a.vec_id))
          JOIN e ea ON ea.vec_id = a.vec_id
          JOIN e eb ON eb.vec_id = b.vec_id
          JOIN norms na ON na.vec_id = a.vec_id
          JOIN norms nb ON nb.vec_id = b.vec_id
          WHERE round(list_dot_product(ea.v, eb.v) / (sqrt(na.n2) * sqrt(nb.n2)), 6) >= {eps}
        )
        SELECT c.vec_id, c.cell, c.cos_centroid,
               (d.vec_id IS NOT NULL) AS dropped
        FROM cass c LEFT JOIN dropped d ON d.vec_id = c.vec_id
    """


def _netinfo_oracle_sql(where: str) -> str:
    """DuckDB mirror of the NetInfo/HTTPInfo search star (one body, two
    compiled predicates — matching `_netinfo_star` + `search_entity_star`
    with link_col=None)."""
    return f"""
        WITH ent AS (
          SELECT sha256(CAST(event_id AS VARCHAR)) AS ent_id,
                 ts AS created_at, ts AS last_updated_at, props AS details
          FROM events WHERE event_id < 4000
        ),
        bridge AS (
          SELECT sha256(CAST(event_id AS VARCHAR)) AS ent_id,
                 sha256(concat('idx', CAST(event_id AS VARCHAR))) AS index_id
          FROM events WHERE event_id < 4000
        ),
        si AS (
          SELECT sha256(concat('idx', CAST(event_id AS VARCHAR))) AS index_id,
                 event_type AS title,
                 concat('user ', CAST(user_id AS VARCHAR)) AS summary
          FROM events WHERE event_id < 4000
        ),
        ki AS (
          SELECT sha256(concat('idx', CAST(event_id AS VARCHAR))) AS index_id,
                 event_type AS keyword
          FROM events WHERE event_id < 4000
        ),
        ssi AS (
          SELECT CAST(user_id % 300 AS BIGINT) AS source_id,
                 sha256(concat('idx', CAST(event_id AS VARCHAR))) AS index_id
          FROM events WHERE event_id < 4000
        ),
        srcs AS (
          SELECT c_custkey AS source_id,
                 concat('uid-', CAST(c_custkey AS VARCHAR)) AS source_uid
          FROM customer
        )
        SELECT DISTINCT coalesce(s.source_uid, '') AS source_uid,
                        e.created_at, e.last_updated_at, e.details
        FROM ent e
        JOIN bridge b ON e.ent_id = b.ent_id
        JOIN si ON b.index_id = si.index_id
        LEFT JOIN ki ON si.index_id = ki.index_id
        LEFT JOIN ssi ON si.index_id = ssi.index_id
        LEFT JOIN srcs s ON ssi.source_id = s.source_id
        WHERE {where}
    """


def _content_type_oracle_sql() -> str:
    """DuckDB mirror of content_type.infer_doc_type + multimodal's media
    map — both CASE chains generated from the same Python dicts, so the
    96-entry docTypeMap transcription can't drift between engines."""
    arr = ", ".join(f"'{e}'" for e in _DOC_EXTS)
    media_case = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in MM.EXT_TYPE_MAP.items())
    doc_case = " ".join(f"WHEN '{k}' THEN '{v.lower()}'" for k, v in CT.DOC_TYPE_MAP.items())
    return f"""
        WITH refs AS (
          SELECT p_partkey AS id,
                 concat('https://cdn.example.com/f', CAST(p_partkey AS VARCHAR), '.',
                        ([{arr}])[CAST(p_partkey % {len(_DOC_EXTS)} AS INT) + 1]) AS media_ref
          FROM part
        ),
        e AS (
          SELECT id, media_ref,
                 lower(regexp_extract(media_ref, '\\.([a-z0-9]+)$', 1)) AS ext
          FROM refs
        )
        SELECT id, media_ref,
               CASE ext {media_case} ELSE 'application/octet-stream' END AS media_type,
               CASE ext {doc_case} ELSE 'UNKNOWN' END AS doc_type
        FROM e
    """


def _content_sniff_oracle_sql() -> str:
    """DuckDB mirror of content_type.detect_content_type: the CASE chain
    is generated from DETECTION_RULES (all 35 transcribed YAML rules) —
    same first-match-wins order in both engines."""
    whens = []
    for tag, content_pats, url_pats in CT.DETECTION_RULES:
        conds = [f"(b <> '' AND regexp_matches(b, '{p.replace(chr(39), chr(39) * 2)}'))" for p in content_pats]
        conds += [f"(u <> '' AND regexp_matches(u, '{p.replace(chr(39), chr(39) * 2)}'))" for p in url_pats]
        whens.append(f"WHEN {' OR '.join(conds)} THEN '{tag}'")
    rules_case = (
        "CASE WHEN b = '' AND u = '' THEN 'text/empty' "
        + " ".join(whens)
        + " ELSE 'unknown' END"
    )
    return f"""
        WITH samples AS (
          SELECT p_partkey AS id,
                 CASE p_partkey % 9
                   WHEN 0 THEN concat('  <!DOCTYPE html><html><body>', p_name, '</body></html>')
                   WHEN 1 THEN concat('<?xml version="1.0"?><root>', p_name, '</root>')
                   WHEN 2 THEN concat('{{"name": "', p_name, '"}}')
                   WHEN 3 THEN concat('@import "x.css"; .cls {{ color: red }}')
                   WHEN 4 THEN ''
                   WHEN 5 THEN ''
                   WHEN 6 THEN concat('plain text about ', p_name)
                   WHEN 7 THEN concat('<svg width="10"><title>', p_name, '</title></svg>')
                   ELSE concat('function f() {{ return "', p_name, '"; }}')
                 END AS body,
                 CASE p_partkey % 9
                   WHEN 4 THEN concat('https://cdn.example.com/d', CAST(p_partkey AS VARCHAR), '.pdf?v=1')
                   WHEN 5 THEN ''
                   WHEN 6 THEN concat('https://cdn.example.com/d', CAST(p_partkey AS VARCHAR), '.bin')
                   ELSE concat('https://www.example.com/page', CAST(p_partkey AS VARCHAR))
                 END AS url
          FROM part
        ),
        t AS (SELECT id, body, trim(body) AS b, trim(url) AS u FROM samples)
        SELECT id,
               {rules_case} AS content_type,
               (starts_with(lower(regexp_replace(substr(body, 1, 512), '^[\\x00\\t\\n\\r ]+', '')), '<!doctype html')
                OR contains(lower(substr(body, 1, 512)), '<html') OR contains(lower(substr(body, 1, 512)), '<head')
                OR contains(lower(substr(body, 1, 512)), '<body') OR contains(lower(substr(body, 1, 512)), '<meta charset')) AS is_html
        FROM t
    """


def _argmax_case(prefix: str, langs: list[str], fallback_sql: str) -> str:
    """First-match CASE chain ≡ argmax with declaration-order tie-break
    (entry i fires iff its count > 0 and ≥ every LATER count — exactly
    array_max over (hits, prio) structs)."""
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"{prefix}{lang} > 0"] + [f"{prefix}{lang} >= {prefix}{o}" for o in langs[i + 1:]]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"CASE {' '.join(whens)} ELSE {fallback_sql} END"


def _langid_hits_and_case() -> tuple[str, str]:
    """(count/hit column SQL, dispatch CASE SQL) generated ONCE from
    SCRIPT_CLASSES + SCRIPT_LANG + LANG_MARKERS + CYRILLIC_MARKERS —
    shared by every oracle that mirrors text.detect_lang_expr so the
    engines cannot drift. Mirrors the script-then-language shape:
    dominant script by codepoint counts, then the in-script argmax."""
    cols = []
    for name, cls in TX.SCRIPT_CLASSES:
        cols.append(f"length(regexp_replace(text, '[^{cls}]', '', 'g')) AS c_{name}")
    langs = list(TX.LANG_MARKERS)
    for lang in langs:
        cols.append(
            _MARKER.format(m=", ".join(f"'{w}'" for w in TX.LANG_MARKERS[lang])) + f" AS h_{lang}"
        )
    clangs = list(TX.CYRILLIC_MARKERS)
    for lang in clangs:
        m = ", ".join(f"'{w}'" for w in TX.CYRILLIC_MARKERS[lang])
        cols.append(
            f"len(list_filter(list_filter(string_split_regex(lower(text), "
            f"'[^{TX.CYR_TOKEN_CLASS}]+'), x -> x <> ''), x -> x IN ({m}))) AS ch_{lang}"
        )
    hits = ",\n                     ".join(cols)

    latin_case = _argmax_case("h_", langs, "'unknown'")
    branch = _script_branches(latin_case)
    whens = [f"WHEN {cond} THEN {branch[s]}" for s, cond in _script_conds()]
    return hits, f"CASE {' '.join(whens)} ELSE {latin_case} END"


def _script_conds() -> "list[tuple[str, str]]":
    """[(script, condition SQL)] in dominance order — the argmax over
    codepoint counts with declaration-order tie-break, generated from
    text.SCRIPT_DOMINANCE (shared by the marker and trigram oracles so
    the script phase cannot drift between them)."""
    dom = list(TX.SCRIPT_DOMINANCE)
    cexpr = {s: ("(c_han + c_kana)" if s == "cjk" else f"c_{s}") for s in dom}
    out = []
    for i, s in enumerate(dom):
        conds = [f"{cexpr[s]} > 0"] + [f"{cexpr[s]} >= {cexpr[o]}" for o in dom[i + 1:]]
        out.append((s, " AND ".join(conds)))
    return out


def _script_branches(latin_sql: str) -> "dict[str, str]":
    """script → language-resolution SQL; the Latin branch is the
    caller's choice (marker argmax or trigram COALESCE)."""
    cyr_case = _argmax_case("ch_", list(TX.CYRILLIC_MARKERS), "'ru'")
    return {
        "latin": latin_sql,
        "cjk": "CASE WHEN c_kana > 0 THEN 'ja' ELSE 'zh' END",
        "cyrillic": cyr_case,
        **{s: f"'{code}'" for s, code in TX.SCRIPT_LANG.items()},
    }


def _trigram_pred_ctes() -> str:
    """CTE chain computing the TRIGRAM per-doc prediction over a CTE
    named ``inj`` (doc_id, lang, text, …) — mirrors
    operators.langid.detect_language and is generated from the SAME
    profile rows the engine broadcasts (functions/trigram.py). Emits
    CTEs ending in ``pred`` (doc_id, lang, text, lang_pred)."""
    from thecrowler_spark.functions import trigram as TRI

    hits, _ = _langid_hits_and_case()
    script_case = (
        "CASE "
        + " ".join(f"WHEN {cond} THEN '{s}'" for s, cond in _script_conds())
        + " ELSE 'latin' END"
    )
    from thecrowler_spark.operators.langid import TRI_SCRIPTS

    branch = _script_branches("COALESCE(b.tri_pred, 'unknown')")
    # the quality path scores trigram profiles for every TRI_SCRIPTS
    # branch; the script-level answer (Cyrillic marker argmax, 'ar',
    # 'hi') remains only as the no-hit fallback (langid.py)
    for s in TRI_SCRIPTS:
        if s != "latin":
            branch[s] = f"COALESCE(b.tri_pred, {branch[s]})"
    final = (
        "CASE "
        + " ".join(
            f"WHEN scr.script = '{s}' THEN {sql}"
            for s, sql in branch.items()
            if s != "latin"
        )
        + f" ELSE {branch['latin']} END"
    )
    nrm_legs = "\n          UNION ALL\n".join(
        f"          SELECT doc_id, {TRI.normalize_sql('text', s)} AS s\n"
        f"          FROM scr WHERE script = '{s}'"
        for s in TRI_SCRIPTS
    )
    prof_values = ",\n          ".join(
        TRI.profile_values_sql(s) for s in TRI_SCRIPTS
    )
    return f"""
        h AS (SELECT *, {hits} FROM inj),
        scr AS (SELECT *, {script_case} AS script FROM h),
        nrm AS (
{nrm_legs}
        ),
        tidx AS (
          SELECT doc_id, s,
                 unnest(generate_series(1, greatest(length(s) - 2, 1))) AS i
          FROM nrm
        ),
        tris AS (
          SELECT doc_id, substring(s, CAST(i AS INT), 3) AS tri FROM tidx
          WHERE length(s) >= 3
        ),
        prof(tri, plang, w, prio) AS (VALUES {prof_values}),
        tsc AS (
          SELECT t.doc_id, p.plang, p.prio, sum(p.w) AS score
          FROM tris t JOIN prof p USING (tri) GROUP BY ALL
        ),
        tbest AS (
          SELECT doc_id, first(plang ORDER BY score DESC, prio DESC) AS tri_pred
          FROM tsc GROUP BY doc_id
        ),
        pred AS (
          SELECT scr.doc_id, scr.lang, scr.text, {final} AS lang_pred
          FROM scr LEFT JOIN tbest b USING (doc_id)
        )"""


def _corpus_stats_oracle_sql() -> str:
    """Per-language accounting mirror — trigram langid CTEs generated
    from the same profile table as the Spark broadcast."""
    sw_filter = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    )
    return f"""
        WITH inj AS ({_langid_inject_sql()}),
        {_trigram_pred_ctes()}
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len({sw_filter})) AS BIGINT) AS total_tokens,
               CAST(sum(length(text)) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS langid_agree
        FROM pred GROUP BY lang
    """


def _langid_oracle_sql() -> str:
    """DuckDB mirror of operators.langid.detect_language: script CASE
    from the same SCRIPT_* dicts, Latin branch scored against the same
    (trigram, lang, weight, prio) rows the engine broadcasts."""
    return f"""
        WITH inj AS ({_langid_inject_sql()}),
        {_trigram_pred_ctes()}
        SELECT doc_id, lang_pred FROM pred
    """


def _iso_keys() -> list[str]:
    return sorted(TX.ISO_639_MAP) + ["xx_nope"]


def _langmap_oracle_sql() -> str:
    """DuckDB mirror of text.iso_lang_code over the same synthesized
    3-letter-code column (mixed case/padding exercises trim+lower)."""
    keys = _iso_keys()
    arr = ", ".join(f"'{k}'" for k in keys)
    case = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in TX.ISO_639_MAP.items())
    return f"""
        WITH ids AS (SELECT o_orderkey AS id FROM orders WHERE o_orderkey < 3000),
        raw AS (
          SELECT id, ([{arr}])[CAST(id % {len(keys)} AS INT) + 1] AS r FROM ids
        ),
        c AS (
          SELECT id,
                 CASE WHEN id % 3 = 0 THEN upper(r)
                      WHEN id % 3 = 1 THEN concat(' ', r, '  ')
                      ELSE r END AS lang3
          FROM raw
        )
        SELECT id, lang3,
               CASE lower(trim(lang3)) {case} ELSE '' END AS lang_code
        FROM c
    """


def _simhash_oracle_sql(max_id: int = 300, max_hamming: int = 10) -> str:
    """DuckDB mirror of operators/dedup.simhash_chunks + simhash_near_dups:
    same md5-derived 64-bit token hash, same ±1 bit votes, same 16-bit
    chunk blocking — generated from one loop so the 64 vote expressions
    can't drift between engines."""
    votes = ",\n                 ".join(
        f"sum(CASE WHEN (({'lo' if b < 32 else 'hi'} >> {b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    chunks = ", ".join(
        "("
        + " + ".join(f"(CASE WHEN v{16 * c + j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
        + f")::BIGINT AS chunk{c}"
        for c in range(4)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id AS id,
                 unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
          FROM documents WHERE doc_id < {max_id}
        ),
        h AS (
          SELECT id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
                     ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
          FROM toks
        ),
        votes AS (SELECT id, {votes} FROM h GROUP BY id),
        chunked AS (SELECT id, {chunks} FROM votes),
        sig0 AS (
          SELECT id, chunk0, chunk1, chunk2, chunk3,
                 chunk0 + (chunk1 << 16) + (chunk2 << 32) + ((chunk3 & 32767) << 48)
                 + (CASE WHEN chunk3 >= 32768 THEN (-9223372036854775807 - 1) ELSE 0 END) AS simhash
          FROM chunked
        ),
        sig AS (
          SELECT d.doc_id AS id,
                 coalesce(s.simhash, 0) AS simhash,
                 coalesce(s.chunk0, 0) AS chunk0, coalesce(s.chunk1, 0) AS chunk1,
                 coalesce(s.chunk2, 0) AS chunk2, coalesce(s.chunk3, 0) AS chunk3
          FROM (SELECT doc_id FROM documents WHERE doc_id < {max_id}) d
          LEFT JOIN sig0 s ON s.id = d.doc_id
        ),
        unp AS (
          SELECT id, simhash, 0 AS chunk_idx, chunk0 AS chunk FROM sig
          UNION ALL SELECT id, simhash, 1, chunk1 FROM sig
          UNION ALL SELECT id, simhash, 2, chunk2 FROM sig
          UNION ALL SELECT id, simhash, 3, chunk3 FROM sig
        ),
        pairs AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
          FROM unp a JOIN unp b
            ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.id < b.id
        )
        SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming
        FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


def oracle_sql() -> dict[str, str]:
    sw_filter = (
        "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
    )
    out = {
        "feed_items": _feed_items_oracle_sql(),
        "feed_items_query": _feed_items_oracle_sql("cat3"),
        "cdx_index": _cdx_index_oracle_sql(),
        "cdx_latest": _cdx_latest_oracle_sql(),
        "infoseed_claim": _infoseed_claim_oracle_sql(),
        "persist_candidates": _persist_candidates_oracle_sql(),
        "persist_links": _persist_links_oracle_sql(),
        "search_adapter_generic": _adapter_oracle_sql("generic"),
        "search_adapter_brave": _adapter_oracle_sql("brave_search"),
        "metric_observations": _metric_observations_oracle_sql(),
        "url_normalize": f"""
            WITH urls AS ({_DUCK_URLS})
            SELECT id, url,
                   lower(regexp_replace(trim(url), '/+$', '')) AS norm_url,
                   regexp_replace(trim(url), '/+$', '') AS fetch_url,
                   split_part(split_part(trim(url), '://', 2), '/', 1) AS host,
                   split_part(split_part(split_part(trim(url), '://', 2), '/', 1), ':', 1) AS hostname
            FROM urls
        """,
        "url_validity": f"""
            SELECT id, url,
                   CASE WHEN trim(url) = '' THEN false
                        WHEN regexp_matches(trim(url), '\\s') THEN false
                        WHEN position('://' IN trim(url)) > 0 THEN
                             (starts_with(trim(url), 'http://') OR starts_with(trim(url), 'https://')
                              OR starts_with(trim(url), 'ftp://') OR starts_with(trim(url), 'ftps://'))
                             AND NOT ends_with(trim(url), '://')
                        ELSE true
                   END AS is_valid
            FROM {_values_sql()}
        """,
        "url_combine": f"""
            WITH urls AS ({_DUCK_URLS}),
            pairs AS (
              SELECT id, url AS base_url,
                     CASE WHEN id % 3 = 0 THEN concat('/page/', CAST(id % 97 AS VARCHAR))
                          WHEN id % 3 = 1 THEN concat('https://abs.example.org/x', CAST(id % 11 AS VARCHAR))
                          ELSE 'relative/not-root' END AS link
              FROM urls)
            SELECT id, base_url, link,
                   CASE WHEN starts_with(link, '/')
                        THEN concat(regexp_extract(trim(base_url), '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/]*)', 1), link)
                        ELSE link END AS resolved
            FROM pairs
        """,
        "url_external": """
            WITH pairs AS (
              SELECT o_orderkey AS id,
                     concat('https://www.site', CAST(o_orderkey % 20 AS VARCHAR), '.example.com/home') AS source_url,
                     CASE o_orderkey % 4
                       WHEN 0 THEN concat('https://www.site', CAST(o_orderkey % 20 AS VARCHAR), '.example.com/home/sub')
                       WHEN 1 THEN concat('https://blog.site', CAST(o_orderkey % 20 AS VARCHAR), '.example.com/post')
                       WHEN 2 THEN concat('https://other', CAST(o_orderkey % 5 AS VARCHAR), '.example.org/x')
                       ELSE '/relative/path'
                     END AS link_url,
                     CAST(o_orderkey % 5 AS INT) AS lvl
              FROM orders
            ),
            hosts AS (
              SELECT *,
                 regexp_extract(source_url, '^(?:[^/]*://)?(?:[^/@]*@)?([^/:?#]*)', 1) AS shost,
                 regexp_extract(link_url,  '^(?:[^/]*://)?(?:[^/@]*@)?([^/:?#]*)', 1) AS lhost
              FROM pairs
            )
            SELECT id, source_url, link_url, lvl,
                   CASE WHEN lvl = 4 THEN false
                        WHEN starts_with(trim(link_url), '/') THEN false
                        WHEN lvl = 0 THEN trim(source_url) <> trim(link_url)
                        WHEN lvl = 1 THEN NOT starts_with(trim(link_url), trim(source_url))
                        WHEN lvl = 2 THEN coalesce(nullif(regexp_extract(shost, '([^.]+\\.[^.]+)$', 1), ''), shost)
                                       <> coalesce(nullif(regexp_extract(lhost, '([^.]+\\.[^.]+)$', 1), ''), lhost)
                        ELSE coalesce(nullif(regexp_extract(shost, '([^.]+)$', 1), ''), shost)
                          <> coalesce(nullif(regexp_extract(lhost, '([^.]+)$', 1), ''), lhost)
                   END AS is_external
            FROM hosts
        """,
        "frontier_claim": """
            SELECT * FROM (
              SELECT o_orderkey AS source_id,
                     concat('https://h', CAST(o_orderkey % 50 AS VARCHAR), '.example.com/p0') AS url,
                     CASE WHEN o_orderpriority LIKE '1%' THEN 'high'
                          WHEN o_orderpriority LIKE '2%' THEN 'medium' ELSE 'low' END AS priority,
                     CASE o_orderstatus WHEN 'O' THEN 'new' WHEN 'F' THEN 'completed' ELSE 'processing' END AS status,
                     o_orderdate AS created_at
              FROM orders)
            WHERE status IN ('new','pending','completed','error') AND priority IN ('high','medium')
            ORDER BY created_at, source_id LIMIT 100
        """,
        # cutoffs = parse_interval_seconds_py('12 hours'/'6 hours'/'15 minutes'/'1 day')
        # = 43199 / 21599 / 899 / 86399 (incl. the clamp's -1s quirk);
        # tests/test_intervals.py pins these values.
        "frontier_claim_intervals": """
            WITH seeds AS (
              SELECT o_orderkey AS source_id,
                     CASE CAST(o_orderkey % 6 AS INT)
                       WHEN 0 THEN 'new' WHEN 1 THEN 'pending' WHEN 2 THEN 'completed'
                       WHEN 3 THEN 'error' WHEN 4 THEN 'processing' ELSE NULL END AS status,
                     o_orderkey % 37 = 0 AS disabled,
                     CASE WHEN o_orderpriority LIKE '1%' THEN 'high'
                          WHEN o_orderpriority LIKE '2%' THEN 'medium' ELSE 'low' END AS priority,
                     CASE WHEN o_orderkey % 11 = 0 THEN NULL
                          ELSE TIMESTAMP '1995-06-01 00:00:00' - (o_orderkey % 100) * INTERVAL '1 hour'
                     END AS last_updated_at,
                     o_orderdate AS created_at
              FROM orders
            )
            SELECT source_id, status, priority, last_updated_at, created_at
            FROM seeds
            WHERE NOT disabled
              AND lower(trim(priority)) IN ('high', 'medium')
              AND (
                   status IS NULL
                OR lower(trim(status)) IN ('pending', 'new')
                OR (lower(trim(status)) = 'error'
                    AND last_updated_at < TIMESTAMP '1995-06-01 00:00:00' - INTERVAL 899 SECOND)
                OR (lower(trim(status)) = 'processing'
                    AND last_updated_at < TIMESTAMP '1995-06-01 00:00:00' - INTERVAL 86399 SECOND)
                OR last_updated_at IS NULL
                OR last_updated_at < TIMESTAMP '1995-06-01 00:00:00' - INTERVAL 43199 SECOND
                OR (lower(trim(status)) = 'completed'
                    AND last_updated_at < TIMESTAMP '1995-06-01 00:00:00' - INTERVAL 21599 SECOND)
              )
            ORDER BY created_at, source_id LIMIT 100
        """,
        "politeness_budget": """
            SELECT host, url, fetch_rank FROM (
              SELECT concat('h', CAST(l_suppkey % 20 AS VARCHAR), '.example.com') AS host,
                     concat('https://h', CAST(l_suppkey % 20 AS VARCHAR), '.example.com/o',
                            CAST(l_orderkey AS VARCHAR), '/', CAST(l_linenumber AS VARCHAR)) AS url,
                     ROW_NUMBER() OVER (PARTITION BY l_suppkey % 20 ORDER BY l_orderkey, l_linenumber) AS fetch_rank
              FROM lineitem
            ) WHERE fetch_rank <= 5
        """,
        "robots_filter": """
            WITH urls AS (
              SELECT o_orderkey AS id,
                     concat('h', CAST(o_orderkey % 10 AS VARCHAR), '.example.com') AS host,
                     CASE o_orderkey % 4
                       WHEN 0 THEN concat('/public/a', CAST(o_orderkey % 7 AS VARCHAR))
                       WHEN 1 THEN concat('/private/s', CAST(o_orderkey % 7 AS VARCHAR))
                       WHEN 2 THEN '/private/s0'
                       ELSE '/' END AS path
              FROM orders
            ),
            rules AS (
              SELECT concat('h', CAST(h AS VARCHAR), '.example.com') AS host, r.rule_type, r.path_prefix
              FROM generate_series(0, 9) AS g(h),
                   (VALUES ('disallow','/private'), ('allow','/private/s0')) AS r(rule_type, path_prefix)
            ),
            matched AS (
              SELECT u.id, u.host, u.path, r.rule_type,
                     ROW_NUMBER() OVER (PARTITION BY u.id ORDER BY length(r.path_prefix) DESC, r.rule_type ASC) AS rn
              FROM urls u LEFT JOIN rules r
                ON u.host = r.host AND starts_with(u.path, r.path_prefix)
            )
            SELECT id, host, path, COALESCE(rule_type = 'disallow', false) AS blocked
            FROM matched WHERE rn = 1
        """,
        "robots_wildcard": """
            WITH urls AS (
              SELECT o_orderkey AS id,
                     concat('h', CAST(o_orderkey % 10 AS VARCHAR), '.example.com') AS host,
                     CASE o_orderkey % 6
                       WHEN 0 THEN concat('/docs/file', CAST(o_orderkey % 5 AS VARCHAR), '.pdf')
                       WHEN 1 THEN concat('/docs/file', CAST(o_orderkey % 5 AS VARCHAR), '.html')
                       WHEN 2 THEN '/private/x/tmp'
                       WHEN 3 THEN '/private/x/keep'
                       WHEN 4 THEN '/public/a'
                       ELSE '/' END AS path
              FROM orders
            ),
            rules AS (
              SELECT concat('h', CAST(h AS VARCHAR), '.example.com') AS host, r.rule_type, r.path_prefix
              FROM generate_series(0, 9) AS g(h),
                   (VALUES ('disallow','/docs/'), ('disallow','/*.pdf$'),
                           ('allow','/docs/*.html$'), ('disallow','/private/*/tmp'),
                           ('allow','/private/x/keep')) AS r(rule_type, path_prefix)
            ),
            rx AS (
              SELECT host, rule_type, path_prefix,
                     (path_prefix LIKE '%*%' OR path_prefix LIKE '%$') AS has_wild,
                     concat('^',
                       replace(
                         regexp_replace(
                           CASE WHEN path_prefix LIKE '%$'
                                THEN substr(path_prefix, 1, length(path_prefix) - 1)
                                ELSE path_prefix END,
                           '([.^$+?(){}\\[\\]|\\\\])', '\\\\\\1', 'g'),
                         '*', '.*'),
                       CASE WHEN path_prefix LIKE '%$' THEN '$' ELSE '' END) AS rxp
              FROM rules
            ),
            matched AS (
              SELECT u.id, u.host, u.path, r.rule_type,
                     ROW_NUMBER() OVER (PARTITION BY u.id
                                        ORDER BY length(r.path_prefix) DESC, r.rule_type ASC) AS rn
              FROM urls u LEFT JOIN rx r
                ON u.host = r.host
               AND (CASE WHEN r.has_wild THEN regexp_matches(u.path, r.rxp)
                         ELSE starts_with(u.path, r.path_prefix) END)
            )
            SELECT id, host, path,
                   NOT COALESCE(rule_type = 'disallow', false) AS robots_allowed
            FROM matched WHERE rn = 1
        """,
        "url_seen_antijoin": f"""
            WITH urls AS ({_DUCK_URLS}),
            n AS (SELECT id, lower(regexp_replace(trim(url), '/+$', '')) AS norm_url FROM urls),
            seen AS (SELECT DISTINCT norm_url FROM n WHERE id % 3 = 0)
            SELECT id, norm_url FROM n
            WHERE id % 2 = 0 AND norm_url NOT IN (SELECT norm_url FROM seen)
        """,
        "url_seen_cuckoo": f"""
            WITH urls AS ({_DUCK_URLS}),
            n AS (SELECT id, lower(regexp_replace(trim(url), '/+$', '')) AS norm_url FROM urls),
            seen AS (SELECT DISTINCT norm_url FROM n WHERE id % 3 = 0),
            recrawl AS (SELECT DISTINCT norm_url FROM n WHERE id % 3 = 0 AND id % 5 = 0),
            eff AS (SELECT norm_url FROM seen WHERE norm_url NOT IN (SELECT norm_url FROM recrawl))
            SELECT id, norm_url FROM n
            WHERE id % 2 = 0 AND norm_url NOT IN (SELECT norm_url FROM eff)
        """,
        "frontier_dedup_first": """
            SELECT norm_url, l_orderkey AS kept_order, l_linenumber AS kept_line FROM (
              SELECT lower(concat('https://h', CAST(l_partkey % 100 AS VARCHAR), '.example.com/p',
                     CAST(l_partkey AS VARCHAR))) AS norm_url,
                     l_orderkey, l_linenumber,
                     ROW_NUMBER() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS occ
              FROM lineitem
            ) WHERE occ = 1
        """,
        "content_type": _content_type_oracle_sql(),
        "content_sniff": _content_sniff_oracle_sql(),
        "keyword_topk": f"""
            SELECT keyword, count(*) AS occurrences FROM (
              SELECT {_KW_TOKENS} AS keyword FROM documents
            ) GROUP BY keyword ORDER BY occurrences DESC, keyword ASC LIMIT 100
        """,
        "keyword_per_doc": f"""
            SELECT doc_id, keyword, count(*) AS occurrences FROM (
              SELECT doc_id, {_KW_TOKENS} AS keyword FROM documents WHERE doc_id % 50 = 0
            ) GROUP BY doc_id, keyword
        """,
        "crawl_counters": """
            SELECT user_id % 100 AS run_id,
                   count(*) AS total_events,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS total_clicks,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS total_errors,
                   round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS total_value
            FROM events GROUP BY user_id % 100
        """,
        "timeseries_buckets": """
            WITH ranked AS (
              SELECT event_type AS metric, date_trunc('hour', ts) AS bucket_start, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts) ORDER BY ts, event_id) AS rn_a,
                     ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts) ORDER BY ts DESC, event_id DESC) AS rn_d,
                     CASE WHEN value <> lag(value) OVER (PARTITION BY event_type, date_trunc('hour', ts) ORDER BY ts, event_id)
                          THEN 1 ELSE 0 END AS changed
              FROM events
            )
            SELECT metric, bucket_start,
                   count(*) AS value_count,
                   round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS value_sum,
                   round(min(value), 4) AS value_min,
                   round(max(value), 4) AS value_max,
                   CAST((sum(CAST(round(value * 100) AS BIGINT)) * 200 + count(*)) // (count(*) * 2) AS DOUBLE) / 10000.0 AS value_avg,
                   round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p50,
                   round(CAST(quantile_cont(value, 0.75) AS DOUBLE), 4) AS p75,
                   round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p90,
                   round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 4) AS p95,
                   round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99,
                   round(max(CASE WHEN rn_a = 1 THEN value END), 4) AS first_value,
                   round(max(CASE WHEN rn_d = 1 THEN value END), 4) AS last_value,
                   count(DISTINCT value) AS distinct_values,
                   CAST(sum(changed) AS BIGINT) AS change_count
            FROM ranked GROUP BY metric, bucket_start
        """,
        "search_star": """
            SELECT DISTINCT o.o_orderkey AS orderkey, c.c_name AS cust_name, n.n_name AS nation_name
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 100000
        """,
        "search_dorking": """
            SELECT doc_id, lang AS detected_lang FROM documents
            WHERE (lower(text) LIKE '%data%' AND lower(text) LIKE '%spark%')
               OR (lower(lang) LIKE '%en%' AND lower(text) LIKE '%window%')
            ORDER BY doc_id DESC LIMIT 120
        """,
        "search_webobjects": """
            WITH si AS (
              SELECT sha256(CAST(o_orderkey AS VARCHAR)) AS index_id,
                     o_orderpriority AS title,
                     concat('order status ', lower(o_orderstatus)) AS summary
              FROM orders WHERE o_orderkey < 5000
            ),
            wo AS (
              SELECT DISTINCT sha256(o_orderpriority) AS object_hash,
                     concat('https://cdn.example.com/obj/', substr(sha256(o_orderpriority), 1, 8)) AS object_link
              FROM orders WHERE o_orderkey < 5000
            ),
            woi AS (
              SELECT sha256(CAST(o_orderkey AS VARCHAR)) AS index_id,
                     sha256(o_orderpriority) AS object_hash
              FROM orders WHERE o_orderkey < 5000
            ),
            ssi AS (
              SELECT o_custkey AS source_id, sha256(CAST(o_orderkey AS VARCHAR)) AS index_id
              FROM orders WHERE o_orderkey < 5000
            ),
            srcs AS (
              SELECT c_custkey AS source_id, concat('uid-', CAST(c_custkey AS VARCHAR)) AS source_uid
              FROM customer
            ),
            ki AS (
              SELECT sha256(CAST(o_orderkey AS VARCHAR)) AS index_id, lower(o_orderstatus) AS keyword
              FROM orders WHERE o_orderkey < 5000
            )
            SELECT DISTINCT coalesce(s.source_uid, '') AS source_uid,
                            wo.object_hash, wo.object_link
            FROM wo
            JOIN woi ON wo.object_hash = woi.object_hash
            JOIN si ON woi.index_id = si.index_id
            LEFT JOIN ki ON si.index_id = ki.index_id
            LEFT JOIN ssi ON si.index_id = ssi.index_id
            LEFT JOIN srcs s ON ssi.source_id = s.source_id
            WHERE wo.object_link IS NOT NULL AND wo.object_link <> ''
              AND (lower(si.title) LIKE '%urgent%'
                   OR (lower(si.title) LIKE '%f%' OR lower(si.summary) LIKE '%f%')
                   OR ki.keyword = 'f')
        """,
        "search_screenshots": """
            WITH si AS (
              SELECT sha256(CAST(p_partkey AS VARCHAR)) AS index_id,
                     p_name AS title, concat('brand ', lower(p_brand)) AS summary
              FROM part
            ),
            shots AS (
              SELECT sha256(CAST(p_partkey AS VARCHAR)) AS index_id,
                     concat('https://shots.example.com/', substr(sha256(CAST(p_partkey AS VARCHAR)), 1, 8), '.png') AS screenshot_link,
                     CASE WHEN p_partkey % 3 = 0 THEN 'thumbnail' ELSE 'full_page' END AS type,
                     CAST(p_partkey % 1920 AS INT) AS width,
                     CAST(p_partkey % 1080 AS INT) AS height
              FROM part
            ),
            ki AS (SELECT index_id, type AS keyword FROM shots),
            ssi AS (
              SELECT CAST(p_partkey % 500 AS BIGINT) AS source_id,
                     sha256(CAST(p_partkey AS VARCHAR)) AS index_id
              FROM part
            ),
            srcs AS (
              SELECT s_suppkey AS source_id, concat('uid-', CAST(s_suppkey AS VARCHAR)) AS source_uid
              FROM supplier
            )
            SELECT DISTINCT coalesce(s.source_uid, '') AS source_uid,
                            sh.screenshot_link, sh.type, sh.width, sh.height
            FROM shots sh
            JOIN si ON sh.index_id = si.index_id
            LEFT JOIN ki ON si.index_id = ki.index_id
            LEFT JOIN ssi ON si.index_id = ssi.index_id
            LEFT JOIN srcs s ON ssi.source_id = s.source_id
            WHERE sh.screenshot_link IS NOT NULL AND sh.screenshot_link <> ''
              AND (lower(si.title) LIKE '%steel%'
                   OR (lower(si.title) LIKE '%thumbnail%' OR lower(si.summary) LIKE '%thumbnail%')
                   OR ki.keyword = 'thumbnail')
        """,
        "search_netinfo": _netinfo_oracle_sql(
            "(lower(si.title) LIKE '%click%'"
            " OR (lower(si.title) LIKE '%error%' OR lower(si.summary) LIKE '%error%')"
            " OR ki.keyword = 'error')"
        ),
        "search_httpinfo": _netinfo_oracle_sql(
            "(lower(si.title) LIKE '%view%'"
            " OR (lower(si.title) LIKE '%purchase%' OR lower(si.summary) LIKE '%purchase%')"
            " OR ki.keyword = 'purchase')"
        ),
        "correlation_union": """
            WITH probes AS (
              SELECT user_id FROM events WHERE event_type = 'purchase'
              UNION
              SELECT user_id FROM events WHERE event_type = 'click' AND value > 90
            )
            SELECT c.c_custkey AS custkey, c.c_name AS cust_name
            FROM probes p JOIN customer c ON c.c_custkey = p.user_id
        """,
        "correlated_sites": """
            WITH ssi AS (
              SELECT o_custkey AS source_id, sha256(CAST(o_orderkey AS VARCHAR)) AS index_id
              FROM orders WHERE o_orderkey < 3000
            ),
            srcs AS (
              SELECT c_custkey AS source_id, concat('uid-', CAST(c_custkey AS VARCHAR)) AS source_uid,
                     concat('https://h', CAST(c_custkey % 50 AS VARCHAR), '.example.com') AS url
              FROM customer
            ),
            ni AS (
              SELECT sha256(concat('ni', CAST(o_orderkey AS VARCHAR))) AS netinfo_id,
                     concat('{"whois":{"registrant":"org-', CAST(o_orderkey % 40 AS VARCHAR),
                            '","domain":"h', CAST(o_orderkey % 25 AS VARCHAR), '.example.com"}}') AS details
              FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 2 = 0
            ),
            nii AS (
              SELECT sha256(concat('ni', CAST(o_orderkey AS VARCHAR))) AS netinfo_id,
                     sha256(CAST(o_orderkey AS VARCHAR)) AS index_id
              FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 2 = 0
            ),
            hi AS (
              SELECT sha256(concat('hi', CAST(o_orderkey AS VARCHAR))) AS httpinfo_id,
                     concat('{"ssl_info":{"issuer":"ca-', CAST(o_orderkey % 10 AS VARCHAR),
                            '","cn":"h', CAST(o_orderkey % 25 AS VARCHAR), '.example.com"}}') AS details
              FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 3 = 0
            ),
            hii AS (
              SELECT sha256(concat('hi', CAST(o_orderkey AS VARCHAR))) AS httpinfo_id,
                     sha256(CAST(o_orderkey AS VARCHAR)) AS index_id
              FROM orders WHERE o_orderkey < 3000 AND o_orderkey % 3 = 0
            ),
            p_ni AS (
              SELECT DISTINCT ssi.source_id FROM ni
              JOIN nii ON ni.netinfo_id = nii.netinfo_id
              JOIN ssi ON nii.index_id = ssi.index_id
              WHERE ni.details LIKE '%h7.example.com%'
            ),
            p_hi AS (
              SELECT DISTINCT ssi.source_id FROM hi
              JOIN hii ON hi.httpinfo_id = hii.httpinfo_id
              JOIN ssi ON hii.index_id = ssi.index_id
              WHERE hi.details LIKE '%h7.example.com%'
            ),
            partners AS (
              SELECT DISTINCT s.source_id, coalesce(s.source_uid, '') AS source_uid, s.url
              FROM srcs s JOIN (SELECT source_id FROM p_ni UNION SELECT source_id FROM p_hi) aps
                ON s.source_id = aps.source_id
            )
            SELECT DISTINCT p.source_id, p.source_uid, p.url,
                   json_extract_string(ni.details, '$.whois.registrant') AS whois_registrant,
                   json_extract_string(hi.details, '$.ssl_info.issuer') AS ssl_issuer
            FROM partners p
            JOIN ssi ON p.source_id = ssi.source_id
            LEFT JOIN nii ON ssi.index_id = nii.index_id
            LEFT JOIN ni ON nii.netinfo_id = ni.netinfo_id
            LEFT JOIN hii ON ssi.index_id = hii.index_id
            LEFT JOIN hi ON hii.httpinfo_id = hi.httpinfo_id
            WHERE json_extract_string(ni.details, '$.whois.registrant') IS NOT NULL
               OR json_extract_string(hi.details, '$.ssl_info.issuer') IS NOT NULL
        """,
        "attr_selfjoin": """
            SELECT a.p_brand AS brand, count(*) AS correlated_pairs
            FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
            GROUP BY a.p_brand
        """,
        "upsert_coalesce": """
            SELECT o_orderkey AS id,
                   COALESCE(NULLIF(TRIM(CASE WHEN o_orderkey % 3 = 0 THEN '  ' ELSE upper(o_orderpriority) END), ''),
                            o_orderpriority) AS merged_value
            FROM orders
        """,
        "webobjects_dedup": """
            SELECT sha256(o_orderpriority) AS object_hash,
                   count(*) AS n_objects, min(o_orderkey) AS keep_id
            FROM orders GROUP BY sha256(o_orderpriority)
        """,
        "events_recent": """
            SELECT event_id, event_type, ts FROM events ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET 5
        """,
        "dedup_exact": """
            SELECT md5(substring(
                     trim(regexp_replace(lower(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
                          '[.,?!:;''"(){}<>\\-]', ' ', 'g')), '\\s+', ' ', 'g')), 1, 40)) AS content_key,
                   min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
              SELECT id, unnest(list_distinct(
                       list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle
              FROM (SELECT doc_id AS id, {sw_filter} AS l FROM documents WHERE doc_id < 200)
              WHERE len(l) >= 3
            ),
            sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
            shared AS (
              SELECT a.id AS id_a, b.id AS id_b, count(*) AS s
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id_a, id_b, round(s * 1.0 / (sa.n + sb.n - s), 6) AS jaccard
            FROM shared JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
            WHERE s * 1.0 / (sa.n + sb.n - s) >= 0.2
        """,
        "dedup_minhash_sig": f"""
            WITH sh AS (
              SELECT id, unnest(list_distinct(
                       list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle
              FROM (SELECT doc_id AS id, {sw_filter} AS l FROM documents WHERE doc_id < 100)
              WHERE len(l) >= 3
            )
            SELECT id,
                   min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
                   min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
                   min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
                   min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
            FROM sh GROUP BY id
        """,
        "dedup_minhash_lsh": f"""
            WITH sh AS (
              SELECT id, unnest(list_distinct(
                       list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle
              FROM (SELECT doc_id AS id, {sw_filter} AS l FROM documents WHERE doc_id < 300)
              WHERE len(l) >= 3
            ),
            sig AS (
              SELECT id,
                     min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
                     min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
                     min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
                     min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
              FROM sh GROUP BY id
            ),
            banded AS (
              SELECT id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS band_key FROM sig
              UNION ALL SELECT id, 1, md5(mh2 || '|' || mh3) FROM sig
              UNION ALL SELECT id, 2, md5(mh4 || '|' || mh5) FROM sig
              UNION ALL SELECT id, 3, md5(mh6 || '|' || mh7) FROM sig
            )
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b
              ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
        """,
        # components via recursive min-label closure over the SAME LSH
        # candidate pairs as dedup_minhash_lsh (md5 permutations portable)
        "dedup_components": f"""
            WITH RECURSIVE sh AS (
              SELECT id, unnest(list_distinct(
                       list_transform(generate_series(1, len(l) - 2),
                                      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS shingle
              FROM (SELECT doc_id AS id, {sw_filter} AS l FROM documents WHERE doc_id < 300)
              WHERE len(l) >= 3
            ),
            sig AS (
              SELECT id,
                     min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
                     min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
                     min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
                     min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
              FROM sh GROUP BY id
            ),
            banded AS (
              SELECT id, 0 AS band_idx, md5(mh0 || '|' || mh1) AS band_key FROM sig
              UNION ALL SELECT id, 1, md5(mh2 || '|' || mh3) FROM sig
              UNION ALL SELECT id, 2, md5(mh4 || '|' || mh5) FROM sig
              UNION ALL SELECT id, 3, md5(mh6 || '|' || mh7) FROM sig
            ),
            pairs AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM banded a JOIN banded b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs
            ),
            nodes AS (SELECT DISTINCT u AS id FROM edges),
            walk(id, comp) AS (
              SELECT id, id AS comp FROM nodes
              UNION
              SELECT e.u, w.comp FROM walk w JOIN edges e ON e.v = w.id
            )
            SELECT id, min(comp) AS component FROM walk GROUP BY id
        """,
        "embedding_neardup": """
            WITH base AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 300
            ),
            planted AS (
              SELECT vec_id + 1000 AS id, v[1:63] || [v[64] + 0.05] AS v FROM (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 8
              )
            ),
            e AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM e a JOIN e b ON a.id < b.id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.8
        """,
        "ann_cosine_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
            c AS (SELECT vec_id AS corpus_id, v AS cv FROM e WHERE vec_id >= 5),
            scored AS (
              SELECT q.query_id, c.corpus_id,
                     round(list_cosine_similarity(c.cv, q.qv), 6) AS cosine
              FROM c CROSS JOIN q
            )
            SELECT query_id, corpus_id, cosine,
                   CAST(rank AS INT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_lsh": _ann_lsh_oracle_sql(),
        "ann_ivf": _ann_ivf_oracle_sql(),
        "dataset_split": """
            WITH b AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#42')), 1, 8))::BIGINT % 1000000 AS bucket
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE WHEN bucket < 900000 THEN 'train'
                        WHEN bucket < 950000 THEN 'val'
                        ELSE 'test' END AS split,
                   bucket < 100000 AS in_10pct_sample
            FROM b
        """,
        "dataset_pack": f"""
            WITH sized AS (
              SELECT doc_id, CAST(len({sw_filter}) AS INT) AS n_tokens FROM documents
            ),
            keyed AS (
              SELECT doc_id, n_tokens,
                     (('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#42')), 1, 8))::BIGINT % 1000000) % 8 AS bucket,
                     md5(concat(CAST(doc_id AS VARCHAR), '@42')) AS ok
              FROM sized
            ),
            cum AS (
              SELECT doc_id, n_tokens, bucket,
                     sum(n_tokens) OVER (PARTITION BY bucket ORDER BY ok, doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
              FROM keyed
            )
            SELECT doc_id, n_tokens, bucket,
                   concat(CAST(bucket AS VARCHAR), '_',
                          CAST(CAST(floor((c - n_tokens) / 256.0) AS BIGINT) AS VARCHAR)) AS pack_id
            FROM cum
        """,
        "pack_interleaved": f"""
            WITH sized AS (
              SELECT doc_id,
                     CAST(len({sw_filter}) AS INT) AS n_text_tokens,
                     CAST(doc_id % 4 AS INT) AS n_images,
                     CAST(len({sw_filter}) + (doc_id % 4) * 64 AS INT) AS n_tokens
              FROM documents
            ),
            keyed AS (
              SELECT doc_id, n_text_tokens, n_images, n_tokens,
                     (('0x' || substr(md5(concat(CAST(doc_id AS VARCHAR), '#42')), 1, 8))::BIGINT % 1000000) % 8 AS bucket,
                     md5(concat(CAST(doc_id AS VARCHAR), '@42')) AS ok
              FROM sized
            ),
            cum AS (
              SELECT doc_id, n_text_tokens, n_images, n_tokens, bucket,
                     sum(n_tokens) OVER (PARTITION BY bucket ORDER BY ok, doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
              FROM keyed
            )
            SELECT doc_id, n_text_tokens, n_images, n_tokens, bucket,
                   concat(CAST(bucket AS VARCHAR), '_',
                          CAST(CAST(floor((c - n_tokens) / 512.0) AS BIGINT) AS VARCHAR)) AS pack_id
            FROM cum
        """,
        "text_ngrams": f"""
            WITH toks AS (SELECT {sw_filter} AS l FROM documents),
            bi AS (
              SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                                           i -> l[i] || ' ' || l[i+1])) AS bigram
              FROM toks WHERE len(l) >= 2
            )
            SELECT bigram, count(*) AS occurrences
            FROM bi GROUP BY bigram
            ORDER BY occurrences DESC, bigram ASC LIMIT 100
        """,
        "text_winnow": f"""
            WITH toks AS (
              SELECT doc_id, {sw_filter} AS l FROM documents WHERE doc_id % 3 = 0
            ),
            g AS (
              SELECT doc_id, len(l) AS n,
                     list_transform(generate_series(1, len(l) - 2),
                                    i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 8))::BIGINT) AS grams
              FROM toks
            ),
            wins AS (
              SELECT doc_id,
                     CASE WHEN n < 3 THEN CAST([] AS BIGINT[])
                          WHEN len(grams) < 4 THEN [list_min(grams)]
                          ELSE list_distinct(list_transform(generate_series(1, len(grams) - 3),
                                                            j -> list_min(grams[j:j+3])))
                     END AS fps
              FROM g
            )
            SELECT doc_id, unnest(fps) AS fingerprint FROM wins
        """,
        "winnow_pairs": f"""
            WITH inj AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 12 < 2 THEN text || '{_WINNOW_PLANT}'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 3 = 0
            ),
            toks AS (SELECT doc_id, {sw_filter} AS l FROM inj),
            g AS (
              SELECT doc_id, len(l) AS n,
                     list_transform(generate_series(1, len(l) - 2),
                                    i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1, 8))::BIGINT) AS grams
              FROM toks
            ),
            wins AS (
              SELECT doc_id,
                     CASE WHEN n < 3 THEN CAST([] AS BIGINT[])
                          WHEN len(grams) < 4 THEN [list_min(grams)]
                          ELSE list_distinct(list_transform(generate_series(1, len(grams) - 3),
                                                            j -> list_min(grams[j:j+3])))
                     END AS fps
              FROM g
            ),
            fp AS (SELECT DISTINCT doc_id, unnest(fps) AS f FROM wins)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
            FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "text_langid": _langid_oracle_sql(),
        "text_langmap": _langmap_oracle_sql(),
        "text_quality": f"""
            WITH s AS (
              SELECT doc_id,
                     CAST(length(text) AS DOUBLE) AS n_chars,
                     CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE) AS n_alpha,
                     CAST(len({sw_filter}) AS DOUBLE) AS n_tok,
                     CAST(len(list_filter({sw_filter}, x -> x IN ({_SW_SQL}))) AS DOUBLE) AS n_sw
              FROM documents
            )
            SELECT doc_id,
                   round((least(n_chars / 500.0, 1.0)
                          + CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END
                          + least(CASE WHEN n_tok > 0 THEN n_sw / n_tok ELSE 0.0 END * 4.0, 1.0)) / 3.0, 6) AS quality
            FROM s
        """,
        "text_repetition": f"""
            WITH t AS (
              SELECT doc_id, {sw_filter} AS toks FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1]))
                          WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                          ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM t
            )
            SELECT doc_id,
                   CAST(len(grams) AS INT) AS n_ngrams,
                   CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
                   CAST(CASE WHEN len(grams) > 0
                        THEN list_max(list_transform(list_distinct(grams),
                                                     d -> len(list_filter(grams, x -> x = d))))
                        ELSE 0 END AS INT) AS top_count
            FROM g
        """,
        "text_quality_filter": f"""
            WITH t AS (
              SELECT doc_id, {sw_filter} AS toks FROM documents
            ), g AS (
              SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(range(1, len(toks)), i -> concat(toks[i], ' ', toks[i+1]))
                          WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                          ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM t
            ), s AS (
              SELECT doc_id, n_tokens,
                     CAST(len(grams) AS INT) AS n_ngrams,
                     CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
                     CAST(CASE WHEN len(grams) > 0
                          THEN list_max(list_transform(list_distinct(grams),
                                                       d -> len(list_filter(grams, x -> x = d))))
                          ELSE 0 END AS INT) AS top_count
              FROM g
            )
            SELECT doc_id, n_tokens, n_ngrams, n_distinct, top_count,
                   (n_tokens >= 20 AND n_tokens <= 100000 AND n_ngrams > 0
                    AND 100 * n_distinct >= 30 * n_ngrams
                    AND 100 * top_count <= 20 * n_ngrams) AS keep
            FROM s
        """,
        "text_tfidf": f"""
            WITH kw AS (
              SELECT doc_id,
                     unnest(list_filter({sw_filter},
                            x -> len(x) >= 3 AND len(x) <= 45 AND x NOT IN ({_SW_SQL}))) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf FROM kw GROUP BY doc_id, term
            ), dft AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), r AS (
              SELECT tf.doc_id, tf.term, tf.tf, dft.df,
                     CAST(row_number() OVER (PARTITION BY tf.doc_id
                          ORDER BY tf.tf DESC, dft.df ASC, tf.term ASC) AS INT) AS rank
              FROM tf JOIN dft USING (term)
            )
            SELECT doc_id, term, tf, df, rank FROM r WHERE rank <= 3
        """,
        "text_pii_redact": _pii_oracle_sql(),
        "corpus_stats": _corpus_stats_oracle_sql(),
        "sources_scd2": f"""
            WITH versions AS ({_DUCK_SCD2}),
            chg AS (
              SELECT key, ts, state FROM (
                SELECT key, ts, state,
                       lag(state) OVER (PARTITION BY key ORDER BY ts) AS prev
                FROM versions
              ) WHERE prev IS NULL OR prev <> state
            )
            SELECT key, state, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY key ORDER BY ts) AS valid_to
            FROM chg
        """,
        "events_asof": f"""
            WITH v AS ({_DUCK_ASOF_V}),
            p AS (SELECT user_id % 50 AS key, event_id, ts FROM events)
            SELECT p.key, p.event_id, p.ts, v.state
            FROM p ASOF LEFT JOIN v ON p.key = v.key AND p.ts >= v.ts
        """,
        "hits": _hits_oracle_sql(),
        "events_asof_bucketed": f"""
            WITH v AS ({_DUCK_ASOF_V}),
            p AS (SELECT user_id % 50 AS key, event_id, ts FROM events)
            SELECT p.key, p.event_id, p.ts, v.state
            FROM p ASOF LEFT JOIN v ON p.key = v.key AND p.ts >= v.ts
        """,
        "scd2_interval_join": f"""
            WITH versions AS ({_DUCK_ASOF_V}),
            chg AS (
              SELECT key, ts, state FROM (
                SELECT key, ts, state,
                       lag(state) OVER (PARTITION BY key ORDER BY ts) AS prev
                FROM versions
              ) WHERE prev IS NULL OR prev <> state
            ),
            h AS (
              SELECT key, state, ts AS valid_from,
                     lead(ts) OVER (PARTITION BY key ORDER BY ts) AS valid_to
              FROM chg
            ),
            p AS (SELECT user_id % 50 AS key, ts FROM events)
            SELECT h.key, h.state, h.valid_from, count(*) AS n_events
            FROM p JOIN h ON p.key = h.key AND p.ts >= h.valid_from
                          AND (h.valid_to IS NULL OR p.ts < h.valid_to)
            GROUP BY h.key, h.state, h.valid_from
        """,
        "events_sessionize": """
            WITH e AS (
              SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS tse
              FROM events
            ), g AS (
              SELECT *, CASE WHEN lag(tse) OVER w IS NULL OR tse - lag(tse) OVER w > 1800
                             THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
              FROM g
            )
            SELECT user_id, CAST(session_no AS INT) AS session_no, count(*) AS n_events,
                   min(ts) AS session_start, max(ts) AS session_end,
                   CAST(max(tse) - min(tse) AS BIGINT) AS duration_s
            FROM s GROUP BY user_id, session_no
        """,
        "events_props": """
            WITH e AS (
              SELECT event_type, CAST(json_extract(props, '$.k') AS INT) AS k FROM events
            )
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(k) AS BIGINT) AS k_sum,
                   min(k) AS k_min, max(k) AS k_max,
                   CAST(count(CASE WHEN k IS NULL THEN 1 END) AS BIGINT) AS k_null
            FROM e GROUP BY event_type
        """,
        "events_pivot": f"""
            SELECT CAST(ts AS DATE) AS day,
                   {', '.join(f"count(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in _EVENT_TYPES)}
            FROM events GROUP BY CAST(ts AS DATE)
        """,
        "customer_quartiles": """
            WITH spend AS (
              SELECT o_custkey AS custkey,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
              FROM orders GROUP BY o_custkey
            )
            SELECT custkey, spend_cents,
                   CAST(ntile(4) OVER (ORDER BY spend_cents DESC, custkey ASC) AS INT) AS quartile
            FROM spend
        """,
        "events_rollup": """
            SELECT event_type, CAST(ts AS DATE) AS day,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents,
                   CAST(GROUPING(event_type, CAST(ts AS DATE)) AS BIGINT) AS gid
            FROM events
            GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
        """,
        "regional_revenue": """
            SELECT r_name, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "linkgraph_degrees": f"""
            {_EDGES_WITH},
            outd AS (SELECT src AS node, count(*) AS od FROM e GROUP BY src),
            ind AS (SELECT dst AS node, count(*) AS id_ FROM e GROUP BY dst)
            SELECT coalesce(outd.node, ind.node) AS node,
                   CAST(coalesce(od, 0) AS BIGINT) AS out_degree,
                   CAST(coalesce(id_, 0) AS BIGINT) AS in_degree
            FROM outd FULL JOIN ind ON outd.node = ind.node
        """,
        "pagerank": _pagerank_oracle_sql(n_iter=5),
        "opic_importance": _opic_oracle_sql(n_iter=5),
        "frontier_claim_opic": _opic_cte_body(2) + """,
            impt AS (SELECT node AS source_id, cash + hist AS imp FROM it2),
            seeds AS (
              SELECT doc_id AS source_id,
                     concat('https://d', CAST(doc_id AS VARCHAR), '.example.com/') AS url,
                     'high' AS priority, 'new' AS status, false AS disabled,
                     TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL '1 second' AS created_at
              FROM documents)
            SELECT s.source_id, s.url, s.priority, s.status, s.disabled, s.created_at
            FROM seeds s LEFT JOIN impt i ON s.source_id = i.source_id
            ORDER BY coalesce(i.imp, 0) DESC, s.created_at, s.source_id
            LIMIT 100
        """,
        "text_tokens_bpe": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS INT) AS n_bpe_tokens
            FROM documents
        """,
        "text_tokens": f"""
            SELECT doc_id, CAST(len({sw_filter}) AS INT) AS n_tokens FROM documents
        """,
        "text_fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(regexp_replace(regexp_replace(text, '<[^>]*>', ' ', 'g'),
                        '[.,?!:;''"(){}<>\\-]', ' ', 'g')), '\\s+', ' ', 'g'))) AS fingerprint
            FROM documents
        """,
        "multimodal_decode": """
            WITH refs AS (
              SELECT concat('https://cdn.example.com/m', CAST(p_partkey AS VARCHAR), '.',
                            (['png','jpg','mp3','mp4','pdf'])[CAST(p_partkey % 5 AS INT) + 1]) AS media_ref
              FROM part WHERE p_partkey < 500
            ),
            payload AS (
              SELECT media_ref,
                     repeat(media_ref, (ascii(substring(md5(media_ref), 1, 1)) % 8) + 1) AS p
              FROM refs
            )
            SELECT media_ref,
                   CASE lower(regexp_extract(media_ref, '\\.([a-z0-9]+)$', 1))
                     WHEN 'png' THEN 'image/png' WHEN 'jpg' THEN 'image/jpeg'
                     WHEN 'mp3' THEN 'audio/mpeg' WHEN 'mp4' THEN 'video/mp4'
                     WHEN 'pdf' THEN 'application/pdf'
                     ELSE 'application/octet-stream' END AS media_type,
                   CAST(length(p) AS BIGINT) AS n_bytes,
                   sha256(p) AS payload_sha256
            FROM payload
        """,
        "attr_index": """
            WITH objs AS (
              SELECT o_orderkey AS object_id,
                     concat('{"product": {"price": " ', CAST(o_orderkey % 997 AS VARCHAR),
                            ' ", "name": "Item ', upper(o_orderpriority), '"}}') AS details
              FROM orders
            ),
            eav AS (
              SELECT 'web_object' AS object_type, object_id, 'price' AS attribute_key,
                     json_extract_string(details, '$.product.price') AS attribute_value,
                     trim(json_extract_string(details, '$.product.price')) AS normalized_value
              FROM objs
              UNION ALL
              SELECT 'web_object', object_id, 'name',
                     json_extract_string(details, '$.product.name'),
                     regexp_replace(trim(lower(trim(json_extract_string(details, '$.product.name')))),
                                    '\\s+', ' ', 'g')
              FROM objs
            )
            SELECT object_type, object_id, attribute_key, attribute_value, normalized_value,
                   sha256(normalized_value) AS value_hash
            FROM eav WHERE attribute_value IS NOT NULL
        """,
        "attr_correlation": """
            WITH groups AS (
              SELECT trim(CAST(o_orderkey % 40 AS VARCHAR)) AS seg,
                     count(*) AS n, min(o_orderkey) AS min_object
              FROM orders WHERE o_orderkey < 2000
              GROUP BY 1
            )
            SELECT sha256(seg) AS value_hash,
                   CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs,
                   min_object AS min_object
            FROM groups WHERE n >= 2
        """,
        "url_fuzzing": """
            WITH urls AS (
              SELECT concat('https://h', CAST(o_orderkey % 10 AS VARCHAR), '.example.com/v1/items',
                            CASE WHEN o_orderkey % 2 = 0
                                 THEN concat('?id=', CAST(o_orderkey AS VARCHAR), '&page=1') ELSE '' END) AS url
              FROM orders WHERE o_orderkey < 4000
            ),
            rules AS (
              SELECT rule_name, param_name, selector, unnest(vals) AS fuzz_value
              FROM (VALUES ('r_query', 'query', 'id', ['0', '9999']),
                           ('r_path', 'path', '/v1', ['/v2', '/admin'])) AS r(rule_name, param_name, selector, vals)
            ),
            joined AS (
              SELECT u.url, r.rule_name, r.selector, r.fuzz_value, r.param_name,
                     position('?' IN u.url) AS qpos,
                     strpos(u.url, r.selector) AS spos
              FROM urls u CROSS JOIN rules r
            )
            SELECT url, rule_name, fuzz_value,
                   CASE WHEN param_name = 'query' AND qpos > 0 THEN
                          concat(substr(url, 1, qpos),
                                 CASE WHEN regexp_matches(substr(url, qpos + 1), concat('(^|&)', selector, '=[^&]*'))
                                      THEN regexp_replace(substr(url, qpos + 1), concat('(^|&)', selector, '=[^&]*'),
                                                          concat('\\1', selector, '=', fuzz_value))
                                      ELSE concat(substr(url, qpos + 1), '&', selector, '=', fuzz_value) END)
                        WHEN param_name = 'path' AND spos > 0 THEN
                          concat(substr(url, 1, spos - 1), fuzz_value, substr(url, spos + length(selector)))
                   END AS fuzzed_url
            FROM joined
            WHERE (param_name = 'query' AND qpos > 0) OR (param_name = 'path' AND spos > 0)
        """,
        "normalizers": """
            WITH vals AS (
              SELECT o_orderkey AS id,
                     CASE o_orderkey % 4
                       WHEN 0 THEN concat('  ', o_orderpriority, ',  x!  ')
                       WHEN 1 THEN concat(CAST(1500000000 + o_orderkey AS VARCHAR))
                       WHEN 2 THEN concat(CAST((1600000000 + o_orderkey) AS VARCHAR), '123')
                       ELSE concat(' User', CAST(o_orderkey AS VARCHAR), '@Example.COM ')
                     END AS v
              FROM orders
            )
            SELECT id, v,
                   regexp_replace(trim(v), '\\s+', ' ', 'g') AS collapsed,
                   regexp_replace(v, '[^\\p{L}\\p{N}\\s]', '', 'g') AS no_punct,
                   lower(trim(v)) AS email_norm,
                   CASE WHEN regexp_matches(trim(v), '^-?[0-9]+$') THEN
                          strftime(epoch_ms(CASE WHEN CAST(trim(v) AS BIGINT) > 9999999999
                                                 THEN CAST(trim(v) AS BIGINT) // 1000
                                                 ELSE CAST(trim(v) AS BIGINT) END * 1000),
                                   '%Y-%m-%dT%H:%M:%SZ')
                        ELSE trim(v) END AS dt_norm
            FROM vals
        """,
        "search_snippets": """
            SELECT doc_id,
                   CAST(position('table' IN lower(text)) AS INT) AS match_pos,
                   substr(text, greatest(position('table' IN lower(text)) - 40, 1),
                          40 + 5 + 40) AS snippet
            FROM documents
            WHERE position('table' IN lower(text)) > 0
        """,
        "search_fts_rank": f"""
            WITH scored AS (
              SELECT doc_id,
                     len(list_filter({sw_filter}, x -> x = 'data'))
                   + len(list_filter({sw_filter}, x -> x = 'model'))
                   + len(list_filter({sw_filter}, x -> x = 'training')) AS rank_score
              FROM documents
            )
            SELECT doc_id, CAST(rank_score AS INT) AS rank_score
            FROM scored WHERE rank_score > 0
            ORDER BY rank_score DESC, doc_id ASC LIMIT 50
        """,
        "email_frontier": """
            WITH crawl AS (
              SELECT concat('https://h', CAST(o_orderkey % 30 AS VARCHAR), '.example.com/p',
                            CAST(o_orderkey AS VARCHAR)) AS url,
                     'link' AS discovered_via, o_orderkey AS arrival
              FROM orders WHERE o_orderkey % 5 = 0
            ),
            mail AS (
              SELECT concat('https://mail', CAST(c_custkey % 10 AS VARCHAR), '.example.org/m',
                            CAST(c_custkey AS VARCHAR)) AS url,
                     'email' AS discovered_via, c_custkey AS arrival
              FROM customer WHERE c_custkey % 7 = 0
            )
            SELECT url, discovered_via, arrival
            FROM (SELECT * FROM crawl UNION ALL SELECT * FROM mail)
            ORDER BY arrival, discovered_via, url
            LIMIT 200
        """,
        "multimodal_resize": """
            WITH refs AS (
              SELECT concat('https://cdn.example.com/m', CAST(p_partkey AS VARCHAR), '.',
                            (['png','jpg','mp4'])[CAST(p_partkey % 3 AS INT) + 1]) AS media_ref
              FROM part WHERE p_partkey < 300
            ),
            payload AS (
              SELECT media_ref,
                     repeat(media_ref, (ascii(substring(md5(media_ref), 1, 1)) % 8) + 1) AS p
              FROM refs
            )
            SELECT media_ref,
                   CASE lower(regexp_extract(media_ref, '\\.([a-z0-9]+)$', 1))
                     WHEN 'png' THEN 'image/png' WHEN 'jpg' THEN 'image/jpeg'
                     WHEN 'mp4' THEN 'video/mp4'
                     ELSE 'application/octet-stream' END AS media_type,
                   CAST(224 AS INT) AS target_w, CAST(224 AS INT) AS target_h,
                   sha256(p || ':224x224') AS resized_sha256,
                   CAST(length(p) AS BIGINT) AS n_bytes
            FROM payload
        """,
        "multimodal_frames": """
            WITH refs AS (
              SELECT concat('https://cdn.example.com/m', CAST(p_partkey AS VARCHAR), '.',
                            (['png','mp4','webm'])[CAST(p_partkey % 3 AS INT) + 1]) AS media_ref
              FROM part WHERE p_partkey < 300
            ),
            payload AS (
              SELECT media_ref,
                     CASE lower(regexp_extract(media_ref, '\\.([a-z0-9]+)$', 1))
                       WHEN 'mp4' THEN 'video/mp4' WHEN 'webm' THEN 'video/webm' ELSE 'other' END AS mt,
                     repeat(media_ref, (ascii(substring(md5(media_ref), 1, 1)) % 8) + 1) AS p
              FROM refs
            ),
            vids AS (
              SELECT media_ref, p, least((length(p) % 8) + 1, 8) AS n
              FROM payload WHERE mt LIKE 'video/%'
            )
            , frames AS (
              SELECT media_ref, p, unnest(generate_series(0, n - 1)) AS i FROM vids
            )
            SELECT media_ref,
                   CAST(i AS INT) AS frame_idx,
                   CAST(i * 1000 AS BIGINT) AS frame_ts_ms,
                   sha256(p || ':f' || CAST(i AS VARCHAR)) AS frame_sha256
            FROM frames
        """,
        "multimodal_decode_real": _mm_decode_real_oracle_sql(),
        "multimodal_resize_real": _mm_resize_real_oracle_sql(),
        "media_phash": _media_phash_oracle_sql(),
        "media_neardup": _media_neardup_oracle_sql(),
        "multimodal_frames_real": _mm_frames_real_oracle_sql(),
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sum_qty,
                   round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS sum_base_price,
                   round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS sum_disc_price,
                   CAST((sum(CAST(round(l_quantity * 100) AS BIGINT)) * 20000 + count(*)) // (count(*) * 2) AS DOUBLE) / 1000000.0 AS avg_qty,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "streaming_window_counts": """
            SELECT event_type, date_trunc('hour', ts) AS window_start,
                   count(*) AS n_events,
                   round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 4) AS value_sum
            FROM events GROUP BY event_type, date_trunc('hour', ts)
        """,
        "dedup_simhash": _simhash_oracle_sql(max_id=300, max_hamming=10),
        "decontaminate": f"""
            WITH t AS (
              SELECT doc_id, {sw_filter} AS toks FROM documents
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 3
                          THEN list_transform(range(1, len(toks) - 1),
                               i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))
                          WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                          ELSE CAST([] AS VARCHAR[]) END AS grams
              FROM t
            ),
            tr AS (SELECT doc_id, unnest(list_distinct(grams)) AS shingle FROM g WHERE doc_id % 20 <> 0),
            bm AS (SELECT DISTINCT unnest(list_distinct(grams)) AS shingle FROM g WHERE doc_id % 20 = 0)
            SELECT tr.doc_id, CAST(count(*) AS INT) AS n_shared
            FROM tr JOIN bm USING (shingle)
            GROUP BY tr.doc_id
            HAVING count(*) >= 3
        """,
        "dedup_lines": f"""
            WITH input AS ({_DUCK_MULTILINE}),
            l0 AS (
              SELECT doc_id, string_split(text, chr(10)) AS ls FROM input
            ),
            e0 AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(ls) + 1),
                            i -> struct_pack(pos := i, line := trim(ls[i])))) AS s
              FROM l0
            ),
            e AS (
              SELECT doc_id, s.pos AS pos, s.line AS line FROM e0 WHERE s.line <> ''
            ),
            c AS (SELECT line, count(*) AS cnt FROM e GROUP BY line),
            k AS (SELECT e.doc_id, e.pos, e.line FROM e JOIN c USING (line) WHERE c.cnt <= 4),
            r AS (
              SELECT doc_id,
                     array_to_string(list_transform(
                         list_sort(list(struct_pack(pos := pos, line := line))),
                         s -> s.line), chr(10)) AS text_dedup,
                     count(*) AS n_kept
              FROM k GROUP BY doc_id
            ),
            t AS (SELECT doc_id, count(*) AS n_lines FROM e GROUP BY doc_id)
            SELECT i.doc_id,
                   coalesce(r.text_dedup, '') AS text_dedup,
                   CAST(coalesce(t.n_lines, 0) AS INT) AS n_lines,
                   CAST(coalesce(r.n_kept, 0) AS INT) AS n_kept
            FROM input i LEFT JOIN t USING (doc_id) LEFT JOIN r USING (doc_id)
        """,
        "dedup_spans": """
            WITH tk AS (
              SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
              FROM documents
            ),
            ge AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) - 8 + 2),
                            i -> struct_pack(gpos := i - 1,
                                             gram := array_to_string(toks[i:i+7], ' ')))) AS s
              FROM tk WHERE len(toks) >= 8
            ),
            g AS (SELECT doc_id, s.gpos AS gpos, s.gram AS gram FROM ge),
            c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
            m AS (SELECT g.doc_id, g.gpos FROM g JOIN c USING (gram)),
            cov AS (SELECT DISTINCT doc_id, p
                    FROM (SELECT doc_id, unnest(range(gpos, gpos + 8)) AS p FROM m)),
            te AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(toks) + 1),
                            i -> struct_pack(pos := i - 1, tok := toks[i]))) AS s
              FROM tk
            ),
            t2 AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM te),
            k AS (
              SELECT t2.doc_id, t2.pos, t2.tok
              FROM t2 LEFT JOIN cov ON t2.doc_id = cov.doc_id AND t2.pos = cov.p
              WHERE cov.p IS NULL
            ),
            r AS (
              SELECT doc_id,
                     array_to_string(list_transform(
                         list_sort(list(struct_pack(pos := pos, tok := tok))),
                         s -> s.tok), ' ') AS text_clean,
                     count(*) AS n_kept
              FROM k GROUP BY doc_id
            ),
            t AS (SELECT doc_id, len(toks) AS n_tokens FROM tk)
            SELECT d.doc_id,
                   coalesce(r.text_clean, '') AS text_clean,
                   CAST(t.n_tokens AS INT) AS n_tokens,
                   CAST(t.n_tokens - coalesce(r.n_kept, 0) AS INT) AS n_removed
            FROM documents d JOIN t USING (doc_id) LEFT JOIN r USING (doc_id)
        """,
        "text_classifier": """
            WITH w AS (
              SELECT CAST(b AS INT) AS bucket,
                     CAST((b * 37) % 21 - 10 AS BIGINT) AS weight
              FROM range(0, 4096) t(b) WHERE b % 3 <> 0
            ),
            tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> x <> '')) AS token
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                     CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 4096 AS INT) AS bucket
              FROM tok
            ),
            s AS (
              SELECT f.doc_id, count(*) AS n_tokens,
                     sum(coalesce(w.weight, 0)) AS margin
              FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id
            ),
            m AS (
              SELECT d.doc_id,
                     CAST(coalesce(s.n_tokens, 0) AS INT) AS n_tokens,
                     CAST(coalesce(s.margin, 0) AS BIGINT) AS margin,
                     CAST(CASE WHEN coalesce(s.n_tokens, 0) > 0
                               THEN s.margin // s.n_tokens ELSE 0 END AS BIGINT) AS mean_margin
              FROM documents d LEFT JOIN s USING (doc_id)
            )
            SELECT doc_id, n_tokens, margin, mean_margin,
                   CASE WHEN mean_margin >= 0 THEN 'keep' ELSE 'toss' END AS label
            FROM m
        """,
        "source_quality": """
            WITH w AS (
              SELECT CAST(b AS INT) AS bucket,
                     CAST((b * 37) % 21 - 10 AS BIGINT) AS weight
              FROM range(0, 4096) t(b) WHERE b % 3 <> 0
            ),
            tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> x <> '')) AS token
              FROM documents
            ),
            f AS (
              SELECT doc_id,
                     CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 4096 AS INT) AS bucket
              FROM tok
            ),
            s AS (
              SELECT f.doc_id, count(*) AS n_tokens,
                     sum(coalesce(w.weight, 0)) AS margin
              FROM f LEFT JOIN w USING (bucket) GROUP BY f.doc_id
            ),
            m AS (
              SELECT d.doc_id, d.source,
                     CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                     CAST(coalesce(s.margin, 0) AS BIGINT) AS margin,
                     CASE WHEN coalesce(s.n_tokens, 0) > 0
                          THEN s.margin // s.n_tokens ELSE 0 END AS mean_margin
              FROM documents d LEFT JOIN s USING (doc_id)
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(margin) AS BIGINT) AS sum_margin,
                   CAST(sum(CASE WHEN mean_margin >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                   CAST((sum(margin) * 1000) // greatest(sum(n_tokens), 1) AS BIGINT) AS margin_per_1k_tokens
            FROM m GROUP BY source
        """,
        "anchor_texts": """
            WITH l AS (
              SELECT concat('https://h', CAST(o_orderkey % 97 AS VARCHAR), '.example.com/') AS dst,
                     concat('click ', CAST(o_orderkey % 13 AS VARCHAR),
                            CASE WHEN o_orderkey % 3 = 0 THEN ' now' ELSE '' END) AS anchor
              FROM orders
            ),
            c AS (SELECT dst, anchor, count(*) AS n FROM l GROUP BY dst, anchor),
            r AS (
              SELECT dst, anchor, n,
                     row_number() OVER (PARTITION BY dst ORDER BY n DESC, anchor) AS rk
              FROM c
            ),
            t AS (
              SELECT dst,
                     list_transform(list_sort(list(struct_pack(rk := rk, a := anchor))),
                                    s -> s.a) AS top_anchors
              FROM r WHERE rk <= 5 GROUP BY dst
            ),
            s AS (
              SELECT dst, CAST(sum(n) AS BIGINT) AS n_links,
                     CAST(count(*) AS BIGINT) AS n_unique_anchors
              FROM c GROUP BY dst
            )
            SELECT s.dst, s.n_links, s.n_unique_anchors,
                   array_to_string(t.top_anchors, ' | ') AS top_anchors
            FROM s JOIN t USING (dst)
        """,
        "robots_parse": """
            SELECT concat('h', CAST(n_nationkey AS VARCHAR), '.example.com') AS host,
                   r.rule_type,
                   CASE r.rule_type
                     WHEN 'disallow' THEN concat('/private', CAST(n_nationkey % 3 AS VARCHAR))
                     WHEN 'allow' THEN concat('/private', CAST(n_nationkey % 3 AS VARCHAR), '/ok')
                     ELSE '' END AS path_prefix,
                   CASE r.rule_type WHEN 'crawl_delay'
                        THEN CAST(n_nationkey % 5 + 1 AS DOUBLE) ELSE 0.0 END AS crawl_delay
            FROM nation, (VALUES ('disallow'), ('allow'), ('crawl_delay')) AS r(rule_type)
        """,
        "crawl_bfs": _crawl_bfs_oracle_sql(),
        "crawl_bfs_levels": _crawl_bfs_levels_oracle_sql(),
        "crawl_bfs_dust": _crawl_bfs_dust_oracle_sql(),
        "revisit_schedule": _revisit_schedule_oracle_sql(),
        "trap_detection": _trap_detection_oracle_sql(),
        "trap_filter": _trap_filter_oracle_sql(),
        "dust_rules": _dust_rules_oracle_sql(),
        "pipeline_incremental": _pipeline_incremental_oracle_sql(),
        "scraped_fields": _scraped_fields_oracle_sql(),
        "scraped_json": _scraped_json_oracle_sql(),
        "scraped_group": _scraped_group_oracle_sql(),
        "semantic_dedup": _semantic_dedup_oracle_sql(),
        "detected_tech": _detected_tech_oracle_sql(),
        "detected_tech_selectors": _detected_tech_oracle_sql(selectors=True),
        "dsir_select": _DSIR_ORACLE,
        "url_canonical": _url_canonical_oracle_sql(),
        "fingerprints": """
            WITH p AS (
              SELECT doc_id, text,
                     regexp_extract_all(upper(hex(encode(text))), '..') AS pairs
              FROM documents
            ),
            cnt AS (
              SELECT doc_id, text,
                     list_transform(range(0, 256),
                                    i -> len(list_filter(pairs, x -> x = printf('%02X', i)))) AS cs
              FROM p
            ),
            body AS (
              SELECT doc_id, text,
                     array_to_string(list_transform(cs, n -> printf('%02x', n % 256)), '') AS hist
              FROM cnt
            )
            SELECT doc_id,
                   md5(text) AS fp_md5,
                   sha256(text) AS fp_sha256,
                   hist AS tlsh_histogram,
                   sha256(hist) AS histogram_digest
            FROM body
        """,
        "jarm": _jarm_oracle_sql(),
        "lm_buckets": f"""
            WITH occ AS (
              SELECT doc_id, unnest({sw_filter.replace("text", "text")}) AS token
              FROM documents
            ),
            counts AS (SELECT token, count(*)::BIGINT AS cnt FROM occ GROUP BY token),
            total AS (SELECT sum(cnt)::BIGINT AS t FROM counts),
            vocab AS (
              SELECT token, ((cnt * 1000000) // (SELECT t FROM total))::BIGINT AS score
              FROM (SELECT token, cnt,
                           row_number() OVER (ORDER BY cnt DESC, token) AS rn
                    FROM counts)
              WHERE rn <= 500
            ),
            per_doc AS (
              SELECT o.doc_id, count(*)::BIGINT AS n_tokens,
                     (sum(coalesce(v.score, 0))::BIGINT // count(*))::BIGINT AS lm_score
              FROM occ o LEFT JOIN vocab v USING (token)
              GROUP BY o.doc_id
            ),
            alldocs AS (
              SELECT d.doc_id,
                     coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
                     coalesce(p.lm_score, 0)::BIGINT AS lm_score
              FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ),
            tiled AS (
              SELECT doc_id, n_tokens, lm_score,
                     ntile(3) OVER (ORDER BY lm_score DESC, doc_id)::INT AS bucket
              FROM alldocs
            )
            SELECT doc_id, n_tokens, lm_score, bucket,
                   CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                               ELSE 'tail' END AS bucket_label
            FROM tiled
        """,
        "lm_buckets_bigram": f"""
            WITH toks AS (
              SELECT doc_id, {sw_filter} AS t FROM documents
            ),
            occ AS (
              SELECT doc_id,
                     unnest([{{'t1': t[i], 't2': t[i+1]}}
                             for i in generate_series(1, len(t) - 1)],
                            recursive := true)
              FROM toks
            ),
            counts2 AS (
              SELECT t1, t2, count(*)::BIGINT AS cnt2 FROM occ GROUP BY t1, t2
            ),
            counts1 AS (
              SELECT t1, sum(cnt2)::BIGINT AS cnt1 FROM counts2 GROUP BY t1
            ),
            vocab AS (
              SELECT t1, t2, ((cnt2 * 1000000) // cnt1)::BIGINT AS score
              FROM (SELECT c2.t1, c2.t2, c2.cnt2, c1.cnt1,
                           row_number() OVER (ORDER BY c2.cnt2 DESC, c2.t1, c2.t2) AS rn
                    FROM counts2 c2 JOIN counts1 c1 USING (t1))
              WHERE rn <= 300
            ),
            per_doc AS (
              SELECT o.doc_id, count(*)::BIGINT AS n_bigrams,
                     (sum(coalesce(v.score, 0))::BIGINT // count(*))::BIGINT AS lm2_score
              FROM occ o LEFT JOIN vocab v USING (t1, t2)
              GROUP BY o.doc_id
            ),
            alldocs AS (
              SELECT d.doc_id,
                     coalesce(p.n_bigrams, 0)::BIGINT AS n_bigrams,
                     coalesce(p.lm2_score, 0)::BIGINT AS lm2_score
              FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ),
            tiled AS (
              SELECT doc_id, n_bigrams, lm2_score,
                     ntile(3) OVER (ORDER BY lm2_score DESC, doc_id)::INT AS bucket
              FROM alldocs
            )
            SELECT doc_id, n_bigrams, lm2_score, bucket,
                   CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                               ELSE 'tail' END AS bucket_label
            FROM tiled
        """,
        "mixture_sample": f"""
            WITH sized AS (
              SELECT doc_id,
                     CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || '#src'), 1, 2))::INT % 10 < 7 THEN 'web'
                          WHEN ('0x' || substr(md5(doc_id::VARCHAR || '#src'), 1, 2))::INT % 10 < 9 THEN 'books'
                          ELSE 'code' END AS source,
                     len({sw_filter})::INT AS n_tokens
              FROM documents
            ),
            budgeted AS (
              SELECT *,
                     (30000::BIGINT * (CASE source WHEN 'web' THEN 70
                                                   WHEN 'books' THEN 25
                                                   ELSE 5 END)::BIGINT // 100)::BIGINT AS source_budget,
                     md5(doc_id::VARCHAR || '@mix42') AS _ok
              FROM sized
            ),
            cum AS (
              SELECT doc_id, source, n_tokens, source_budget,
                     (sum(n_tokens) OVER (PARTITION BY source ORDER BY _ok, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_tokens)::BIGINT AS cum_before
              FROM budgeted
            )
            SELECT doc_id, source, n_tokens, source_budget, cum_before,
                   cum_before < source_budget AS included
            FROM cum
        """,
    }
    # same ground truth, different distributed algorithm on the Spark
    # side (alternating large-star/small-star vs min-label propagation)
    out["dedup_components_star"] = out["dedup_components"]

    # keep-policy over the SAME components: extend the min-label
    # closure with a quality argmax (n_chars DESC, doc_id ASC) per
    # component — SQL window vs the Spark side's max(struct) partial agg
    _comp_tail = "SELECT id, min(comp) AS component FROM walk GROUP BY id"
    assert _comp_tail in out["dedup_components"]
    out["dedup_representative"] = out["dedup_components"].replace(
        _comp_tail,
        f""", comp AS ({_comp_tail}),
            ranked AS (
              SELECT c.component, d.doc_id,
                     CAST(d.n_chars AS BIGINT) AS q,
                     count(*) OVER (PARTITION BY c.component) AS n_members,
                     row_number() OVER (PARTITION BY c.component
                                        ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
              FROM comp c JOIN documents d ON d.doc_id = c.id
            )
            SELECT component, doc_id AS kept_id, n_members, q AS kept_quality
            FROM ranked WHERE rn = 1""",
    )

    # URL quality filter: oracle generated from the SAME weight map /
    # fragment tuple / blocklist spec as the engine (urlfilter.py)
    from thecrowler_spark.operators import urlfilter as _UF

    _uf_case = " ".join(
        f"WHEN '{w}' THEN {wt}" for w, wt in _UF.URL_WORD_WEIGHTS.items()
    )
    _uf_frags = " OR ".join(
        f"contains(lower(url), '{frag}')" for frag in _UF.URL_BLOCK_FRAGMENTS
    )
    _uf_blocklist = ", ".join(f"'spam{n}.example.com'" for n in range(0, 40, 2))
    out["url_quality_filter"] = f"""
        WITH urls AS ({_DUCK_FILTER_URLS}),
        scored AS (
          SELECT id, url,
                 regexp_extract(url, '^(?:[^/]*://)?(?:[^/@]*@)?([^/:?#]*)', 1) AS host,
                 round(CAST(coalesce(list_sum(list_transform(
                     list_filter(regexp_split_to_array(lower(url), '[^a-z0-9]+'),
                                 w -> w <> ''),
                     w -> CASE w {_uf_case} ELSE 0.0 END)), 0.0) AS DOUBLE), 2)
                   AS word_score,
                 ({_uf_frags}) AS frag_hit
          FROM urls
        )
        SELECT id, url, host,
               host IN ({_uf_blocklist}) AS blocked_domain,
               word_score, frag_hit,
               (NOT host IN ({_uf_blocklist})) AND (NOT frag_hit)
                 AND word_score < {_UF.DEFAULT_THRESHOLD} AS kept
        FROM scored
    """
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: training-data curation pass over sf0.001 documents —
    quality + language + fingerprint + exact-dup marking in one plan."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    enriched = docs.select(
        "doc_id",
        TX.detect_lang_expr(F.col("text")).alias("lang_pred"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.fingerprint_md5(F.col("text")).alias("fingerprint"),
    )
    dups = enriched.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes")
    )
    return (
        enriched.join(dups, "fingerprint")
        .withColumn("is_canonical", F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang_pred", "quality", "n_tokens", "fingerprint", "is_canonical")
    )
