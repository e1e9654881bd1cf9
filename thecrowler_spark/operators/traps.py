"""Crawl-trap detection: URL-template explosion.

The reference's only defenses against infinite URL spaces (calendar
pages, session-id links, faceted search) are the blunt per-source
guards ``MaxDepth`` and ``MaxLinks``
(/root/reference/pkg/crawler/crawler.go — the P9 guards this repo
mirrors in :mod:`.frontier`): they bound damage but spend the whole
budget inside the trap first. At 10^10-URL scale the standard
refinement is structural: generalize each URL to a *template* (digit
runs, hex ids, and query values collapsed to placeholders), count
distinct URLs per (host, template), and flag templates whose URL count
explodes — a calendar trap is one template with 10^6 URLs, a real
article archive is 10^6 templates with one URL each.

Everything is JVM Column expressions (regexp over the URL stream, one
(host, template) groupBy with partial aggregation — count-distinct on
the 8-byte ``xxhash64(url)`` key, never the string); the per-template
cap is :func:`.politeness.enforce_host_budget` keyed by template, so it
runs the repo's one skew-safe per-key cap (:func:`.politeness.cap_flags`)
and a 10^8-URL trap template never serializes onto one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["url_template", "detect_traps", "filter_trap_urls"]

#: ≥8 consecutive hex chars = an opaque id (session tokens, content
#: hashes, uuid fragments); applied before the digit rule so pure-digit
#: runs of 8+ read as {x} consistently in both engines.
_HEX_RUN = "[0-9a-fA-F]{8,}"
_DIGIT_RUN = "[0-9]+"


def url_template(url: Column) -> Column:
    """Generalize a URL to its structural template.

    ``scheme://host/path?query`` becomes ``host`` + path with hex runs
    → ``{x}`` and digit runs → ``{n}``, plus the *sorted query keys*
    (values dropped — a trap varies values, not keys). Pure Column
    expressions; the DuckDB twin in the registry oracle applies the
    same regexes with the 'g' flag.
    """
    host = F.lower(F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))
    path = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    canon_path = F.regexp_replace(
        F.regexp_replace(path, _HEX_RUN, "{x}"), _DIGIT_RUN, "{n}"
    )
    keys = F.array_join(
        F.array_sort(
            F.transform(F.split(query, "&"), lambda kv: F.substring_index(kv, "=", 1))
        ),
        ",",
    )
    return F.concat(
        host,
        canon_path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), keys)),
    )


def detect_traps(
    urls: DataFrame,
    url_col: str = "url",
    min_urls: int = 1000,
) -> DataFrame:
    """Per (host, template) stats with the trap flag.

    Returns (host, template, n_urls, is_trap) — ``n_urls`` is the
    DISTINCT URL count (counted on the 8-byte hash of the URL, so the
    shuffle carries longs, not URL strings) and ``is_trap`` marks
    templates at or above ``min_urls``. One shuffle, partial-agg
    friendly; feed the flagged rows to :func:`filter_trap_urls`.
    """
    if min_urls <= 0:
        raise ValueError("min_urls must be positive")
    host = F.lower(
        F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    )
    return (
        urls.select(
            host.alias("host"),
            url_template(F.col(url_col)).alias("template"),
            F.xxhash64(F.col(url_col)).alias("_uh"),
        )
        .groupBy("host", "template")
        .agg(F.countDistinct("_uh").alias("n_urls"))
        .withColumn("is_trap", F.col("n_urls") >= F.lit(int(min_urls)))
    )


def filter_trap_urls(
    urls: DataFrame,
    traps: DataFrame,
    cap_per_template: int = 64,
    url_col: str = "url",
    order_cols: tuple[str, ...] | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Cap each flagged trap template to ``cap_per_template`` URLs.

    ``traps`` is :func:`detect_traps` output (only ``is_trap`` rows are
    used — a tiny, broadcastable dimension by construction: there are
    few templates with very many URLs). Untrapped templates pass
    through uncapped, outside every template-wide window. The keep-set
    is deterministic (ordered by ``order_cols``, default the URL itself)
    and the rank is :func:`.politeness.cap_flags` within the template:
    a salted pre-rank, then a final rank over the ≤ cap × salt_buckets
    survivors — a 10^8-URL trap never lands on one task.
    """
    from .politeness import enforce_host_budget

    order = tuple(order_cols) if order_cols else (url_col,)
    tagged = urls.withColumn("_template", url_template(F.col(url_col)))
    budgets = (
        traps.filter(F.col("is_trap"))
        .select(F.col("template").alias("host"))
        .withColumn("max_fetches_per_round", F.lit(int(cap_per_template)))
    )
    return enforce_host_budget(
        tagged,
        budgets,
        host_col="_template",
        order_cols=order,
        salt_buckets=salt_buckets,
    ).drop("_template", "fetch_rank")
