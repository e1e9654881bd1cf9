"""The crawl core: URL frontier + fetch scheduler, DataFrame-native.

Re-expresses the reference's per-source BFS worker loop
(/root/reference/pkg/crawler/crawler.go:407-499 level loop,
:2190-2289 worker, :2295-2368 skip rules) as *set-at-a-time* DataFrame
rounds:

- one **round** = one BFS depth level for EVERY active source at once;
- within a source, the reference's sequential (workers=1) semantics are
  reproduced exactly with window functions over the link sequence
  (cumulative-success cutoff for max_links, first-occurrence dedup,
  skipped-link resurrection);
- across sources/hosts the computation is embarrassingly parallel —
  that is where the 1000-executor scale lives. Frontier rows are
  repartitioned on a salted host key so one mega-host cannot pin a
  single reducer (SURVEY.md §4 "Skew handling").

Known scale limit (deliberate) + escape hatch: the per-SOURCE
sequencing windows (``Window.partitionBy("source_id")``) are the price
of reproducing the reference's workers=1 per-source total order — they
parallelize across sources but serialize within one, so a single source
whose one level emits ~10^8+ links pins one task for that window.
Host-budget ranking is already two-phase (salt-parallel). For
deployments with mega-sources that do not need intra-source ordering
parity, set ``CrawlConfig.ordering_shards > 1``: every sequencing
window then partitions on (source_id, xxhash64(link) % shards) — same
page/visited sets and counters, shard-local instead of total
intra-source order (see the config field docstring for the exact
contract; requires max_links == 0).

Fetching over the closed-world corpus is an equi-join
``frontier.link == documents.doc_id`` (SURVEY.md S3: no live HTTP in
scope — the synthetic corpus IS the web).

State (visited / frontier / pages / lineage) is checkpointed to
parquet snapshot directories every round via :class:`..sources.lake.LakeTable`
— the local stand-in for Iceberg MERGE/snapshots; a run is resumable
from the last committed round (reference analog: the Sources status
machine + processing-timeout re-claims, postgresql-setup.pgsql:272-307,2881-2884).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..session import job_description
from . import spans as SP

# Row categories (one per reference worker outcome)
CAT_SKIP = "skip"          # skip rules → TotalSkipped++, resurrectable
CAT_DUP = "dup"            # visited / earlier-in-level → TotalDuplicates++
CAT_KNOWN = "known"        # PreventDuplicateURLs global hit → silent continue
CAT_FETCH_OK = "fetch_ok"  # processJob success → TotalPages++
CAT_FETCH_ERR = "fetch_err"  # fetch error → TotalErrors++ (still marks visited)
CAT_DEFERRED = "deferred"  # politeness budget exceeded → re-queued next round


@dataclass
class CrawlConfig:
    """Run parameters (reference: Crawler config, pkg/config/types.go).

    ``max_depth=0`` means unbounded-while-new (checkMaxDepth,
    crawler.go:784-789 + dynamic extension :496-498). ``max_links=0``
    means no cap. ``check_robots``/``host_budget`` default OFF — that is
    reference-parity mode (robots is declared but never enforced there,
    pkg/config/types.go:111); ON is north-rule mode.
    """

    max_depth: int = 2
    max_links: int = 0
    prevent_duplicate_urls: bool = False
    check_robots: bool = False
    use_host_budget: bool = False
    unwanted_patterns: tuple[str, ...] = ()
    user_url_patterns: tuple[str, ...] = ()
    max_rounds: int = 50  # safety net for max_depth=0
    salt_buckets: int = 16
    #: URL-seen prefilter mode: "" = the exact join alone; "cuckoo"
    #: puts a partial-key cuckoo filter in front of it, maintained
    #: INCREMENTALLY — built once, then each round inserts only the
    #: visited DELTA (O(delta) maintenance, the 10^10-seen-URLs path).
    #: The filter is never authoritative: positives always get the
    #: exact join, so the final seen-set is identical in both modes
    #: (tested).
    seen_filter: str = ""
    #: mega-source escape hatch. 1 (default) = exact reference ordering
    #: parity: per-source sequencing windows serialize each source onto
    #: one task (parallel across sources). >1 = drop intra-source TOTAL
    #: order: sequencing windows partition on (source_id,
    #: xxhash64(link) % ordering_shards) so a single source whose level
    #: emits 10^8+ links spreads over ``ordering_shards`` tasks. On a
    #: corpus with canonical link forms and no skip rules the fetched
    #: page SET, visited set, and counters are unchanged (tested).
    #: Exact divergence carve-outs vs parity mode: (a) which URL-form
    #: representative of a norm-url duplicate group is fetched; (b)
    #: skip-resurrection becomes shard-local — a skipped link re-attaches
    #: to the next attempted row IN ITS SHARD, and is dropped if none
    #: follows there (parity mode would attach it across the source);
    #: (c) with use_host_budget, WHICH rows defer each round follows the
    #: shard-interleaved seq order, so pages can shift rounds and rows
    #: still deferred when max_depth/max_rounds exhausts differ.
    #: ``seq``/``fetch_seq`` stay unique per source but are
    #: shard-interleaved, not dense. Requires max_links == 0 (the
    #: cumulative cutoff is inherently a total-order construct).
    ordering_shards: int = 1
    #: strip tracking query params (fbclid/gclid/utm_* — infoseed's
    #: default set, candidates.go:264-297) from the URL-SEEN DEDUP KEY,
    #: so ?utm_source variants collapse to one frontier entry instead of
    #: inflating the seen-set with boilerplate variants at crawl scale.
    #: The FETCH url is untouched (reference parity: the crawler fetches
    #: the authored link; only infoseed canonicalizes).
    strip_tracking: bool = False
    #: crawl-trap valve (operators/traps.py): when trap_cap > 0, each
    #: round's DISCOVERED frontier is template-generalized and any
    #: (host, template) whose round distinct-URL count reaches
    #: trap_threshold is capped to trap_cap links (deterministic
    #: (link, source_id) order, two-phase skew-safe rank). Default off
    #: = exact reference parity (the reference has only the blunt
    #: MaxDepth/MaxLinks guards). Capped rows are dropped, not counted
    #: as skipped (they were never attempted) — the structural
    #: alternative to burning the whole budget inside a calendar trap.
    trap_cap: int = 0
    trap_threshold: int = 1000


#: per-source counter fields (TotalPages/Links/Skipped/Duplicates/Errors
#: of the reference's Status struct, pkg/crawler/types.go:55-84)
COUNTER_FIELDS = ("pages", "links", "skipped", "duplicates", "errors")
#: the counters a round's own rows decide, and the category each counts
_STAT_CATEGORIES = (
    ("pages", CAT_FETCH_OK),
    ("skipped", CAT_SKIP),
    ("duplicates", CAT_DUP),
    ("errors", CAT_FETCH_ERR),
)
#: parquet codec of the per-round state commits: zstd, Iceberg's default
#: data-file codec, about a third smaller than snappy on crawl state
STATE_CODEC = "zstd"
#: columns of a frontier (and deferred) row
FRONTIER_COLS = ("source_id", "source_url", "restricted", "priority", "seq", "link", "page_url")


def _observed(df: DataFrame, *metrics) -> tuple[DataFrame, Observation]:
    """``df`` with ``metrics`` observed at its root: the action that
    materializes it collects them, with no Spark job of its own. Keep
    the observation at the root of what is materialized — observed under
    a join, the metrics row fails to convert back to Python."""
    obs = Observation()
    return df.observe(obs, *metrics), obs


def _obs_int(obs: Observation) -> dict[str, int]:
    return {k: int(v or 0) for k, v in obs.get.items()}


def _seen_key() -> F.Column:
    """``_skey`` = ``source_id\x00norm_url``: the per-source seen key
    the cuckoo filter hashes."""
    return F.concat_ws(
        "\x00", F.col("source_id").cast("string"), F.col("norm_url")
    ).alias("_skey")


@dataclass
class CrawlResult:
    pages: DataFrame
    crawl_order: DataFrame
    visited: DataFrame
    #: per-source counters as a small DataFrame
    #: (source_id, pages, links, skipped, duplicates, errors) — counters
    #: never live on the driver during the crawl; at 10^6 claimed
    #: sources this stays a distributed table
    counters_df: DataFrame
    lineage: list[dict[str, Any]] = field(default_factory=list)

    #: collect guard for the :attr:`counters` convenience property — a
    #: 10^6-source claim must read :attr:`counters_df` distributed
    COUNTERS_COLLECT_CAP = 100_000

    @property
    def counters(self) -> dict[int, dict[str, int]]:
        """Counters as a dict — ONE collect, reporting/test convenience
        only; fleet-scale consumers read :attr:`counters_df`. Refuses
        to materialize more than :data:`COUNTERS_COLLECT_CAP` sources
        (use ``counters_df`` or :meth:`counters_sample`)."""
        n = self.counters_df.limit(self.COUNTERS_COLLECT_CAP + 1).count()
        if n > self.COUNTERS_COLLECT_CAP:
            raise ValueError(
                f"counters would collect > {self.COUNTERS_COLLECT_CAP} "
                "sources to the driver; read counters_df (distributed) or "
                "counters_sample(n)"
            )
        return {
            r["source_id"]: {k: int(r[k]) for k in COUNTER_FIELDS}
            for r in self.counters_df.collect()
        }

    def counters_sample(self, n: int = 1000) -> dict[int, dict[str, int]]:
        """First ``n`` sources by id — bounded driver materialization."""
        return {
            r["source_id"]: {k: int(r[k]) for k in COUNTER_FIELDS}
            for r in self.counters_df.orderBy("source_id").limit(n).collect()
        }


def claim_sources(
    seeds: DataFrame,
    limit: int,
    priorities: tuple[str, ...] = (),
    engine_id: int | None = None,
    n_engines: int = 1,
    now: str | None = None,
    last_ok_update: str | None = None,
    regular_crawling: str | None = None,
    last_error: str = "15 minutes",
    processing_timeout: str = "1 day",
    schedule: DataFrame | None = None,
    importance: DataFrame | None = None,
) -> DataFrame:
    """Frontier scan+claim (S1): eligible → FIFO → limit.

    Reference: ``update_sources`` /root/reference/pkg/database/
    postgresql-setup.pgsql:2826-2898. With ``now`` given (ISO timestamp
    string), the full eligibility OR-chain of the proc
    (pgsql:2864-2884) is mirrored:

    - ``last_ok_update`` set → any source whose ``last_updated_at`` is
      NULL or older than ``now - last_ok_update`` (status-independent);
    - ``regular_crawling`` set → ``completed`` sources older than the
      interval (periodic re-crawl);
    - ``error`` sources retry after ``last_error`` (proc default 15 min);
    - ``new`` / ``pending`` / NULL status always eligible;
    - **stale-claim recovery**: ``processing`` sources whose claim is
      older than ``processing_timeout`` (proc default 1 day) are
      re-claimed — a crashed engine's sources are never stranded (the
      reference's actual resume path, SURVEY §2.9).

    Interval strings go through the engine's single interval grammar
    (:func:`..functions.intervals.parse_interval_seconds_py`, scalar —
    the cutoffs become plan literals, no per-row parsing). With
    ``now=None`` the r1 status-only gate is kept (callers that manage
    eligibility themselves).

    ``schedule`` (optional, requires ``now``): a per-source adaptive
    re-crawl schedule — (source_id, next_crawl_epoch_s) rows from
    :func:`..operators.revisit.revisit_schedule`. ``completed`` sources
    with a schedule row become eligible when ``now`` reaches their
    adaptive ``next_crawl_epoch_s`` instead of (in addition to) the
    fixed ``regular_crawling`` interval — churny sources come back
    sooner, static sources later. One source-key equi-join; both sides
    are O(#sources), never O(#URLs).

    ``importance`` (optional): per-source adaptive priority —
    (source_id, imp_fp) rows, e.g. OPIC importance over the link graph
    of past crawls (:func:`..operators.opic.opic_importance`, Abiteboul
    WWW'03).  When given, eligible sources are claimed highest
    importance first, FIFO within ties; sources without a row rank as
    0.  This is the adaptive upgrade of the proc's static priority
    string — the OPIC paper's intended use (crawl the page holding the
    most cash next).  One source-key equi-join, both sides O(#sources),
    never O(#URLs).  Default ``None`` = reference-parity FIFO.

    ``FOR UPDATE SKIP LOCKED`` (many engines claiming from one table
    without collisions) becomes deterministic ownership: engine ``e`` of
    ``n_engines`` only sees sources with
    ``pmod(xxhash64(source_uid), n_engines) = e`` — disjoint claims with
    no coordination, stable across retries/resumes (the distributed
    rendering of the reference's ``engine`` column claim,
    pgsql:2888-2895). The proc's UPDATE leg is :func:`mark_processing`.
    """
    if schedule is not None and now is None:
        raise ValueError("schedule requires now (the adaptive gate compares epochs)")
    df = seeds.filter(~F.col("disabled"))
    if priorities:
        df = df.filter(
            F.lower(F.trim(F.col("priority"))).isin(*[p.strip().lower() for p in priorities])
        )
    if now is None:
        df = df.filter(F.col("status").isin("new", "pending", "completed", "error"))
    else:
        from ..functions.intervals import parse_interval_seconds_py

        now_ts = F.lit(now).cast("timestamp")
        # Sources.last_updated_at is nullable in the proc; a seeds table
        # without the column behaves as all-NULL (never-updated sources)
        lu = (
            F.col("last_updated_at")
            if "last_updated_at" in seeds.columns
            else F.lit(None).cast("timestamp")
        )
        st = F.lower(F.trim(F.col("status")))

        def cutoff(interval_str: str):
            return now_ts - F.expr(
                f"INTERVAL {parse_interval_seconds_py(interval_str)} SECOND"
            )

        elig = (
            (st == "pending")
            | (st == "new")
            | F.col("status").isNull()
            | ((st == "error") & (lu < cutoff(last_error or "15 minutes")))
            | ((st == "processing") & (lu < cutoff(processing_timeout or "1 day")))
        )
        if last_ok_update:
            elig = elig | lu.isNull() | (lu < cutoff(last_ok_update))
        if regular_crawling:
            elig = elig | ((st == "completed") & (lu < cutoff(regular_crawling)))
        if schedule is not None:
            from datetime import datetime, timezone

            now_epoch = int(
                datetime.fromisoformat(now).replace(tzinfo=timezone.utc).timestamp()
            )
            sch = schedule.select(
                F.col("source_id").alias("_sched_sid"),
                F.col("next_crawl_epoch_s").alias("_sched_due_s"),
            )
            df = df.join(sch, df["source_id"] == F.col("_sched_sid"), "left").drop(
                "_sched_sid"
            )
            elig = elig | (
                (st == "completed") & (F.col("_sched_due_s") <= F.lit(now_epoch))
            )
        df = df.filter(elig)
        if schedule is not None:
            df = df.drop("_sched_due_s")
    if engine_id is not None and n_engines > 1:
        df = df.filter(F.pmod(F.xxhash64(F.col("source_uid")), F.lit(n_engines)) == engine_id)
    if importance is not None:
        imp = importance.select(
            F.col("source_id").alias("_imp_sid"), F.col("imp_fp").alias("_imp")
        )
        df = (
            df.join(imp, df["source_id"] == F.col("_imp_sid"), "left")
            .drop("_imp_sid")
            .withColumn("_imp", F.coalesce(F.col("_imp"), F.lit(0)))
        )
        return (
            df.orderBy(F.desc("_imp"), "created_at", "source_id")
            .limit(limit)
            .drop("_imp")
        )
    return df.orderBy("created_at", "source_id").limit(limit)


def mark_processing(
    seeds: DataFrame,
    claimed: DataFrame,
    engine_id: str = "engine-0",
    now: str | None = None,
) -> DataFrame:
    """The proc's UPDATE leg (pgsql:2893-2897): claimed sources →
    ``status='processing'``, ``engine=engine_id``; ``last_updated_at``
    bumps to ``now`` (the Sources update trigger's effect). Broadcast
    join — ``claimed`` is at most ``limit`` rows.
    """
    c = F.broadcast(
        claimed.select(F.col("source_id").alias("_cid")).withColumn("_claimed", F.lit(True))
    )
    out = seeds.join(c, seeds["source_id"] == F.col("_cid"), "left")
    hit = F.coalesce(F.col("_claimed"), F.lit(False))
    now_ts = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    prev_engine = F.col("engine") if "engine" in seeds.columns else F.lit(None).cast("string")
    prev_lu = (
        F.col("last_updated_at")
        if "last_updated_at" in seeds.columns
        else F.lit(None).cast("timestamp")
    )
    return (
        out.withColumn("status", F.when(hit, F.lit("processing")).otherwise(F.col("status")))
        .withColumn("engine", F.when(hit, F.lit(engine_id)).otherwise(prev_engine))
        .withColumn("last_updated_at", F.when(hit, now_ts).otherwise(prev_lu))
        .drop("_cid", "_claimed")
    )


def _skip_flags(df: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Skip predicate per skipURLWithExternalApproval crawler.go:2295-2368.

    Order of checks preserved: empty → external(restricted) → unwanted
    regex → same-as-source → user patterns (negative-match or no-match).
    """
    url = F.col("url_link")
    empty = F.trim(url) == ""
    external = (F.col("restricted") != 4) & U.is_external_link(
        F.col("source_url"), url, F.col("restricted")
    )
    unwanted = F.lit(False)
    for pat in cfg.unwanted_patterns:
        unwanted = unwanted | url.rlike(pat)
    same = url == F.col("source_url")
    skip = empty | external | unwanted | same
    if cfg.user_url_patterns:
        neg = [p[1:] for p in cfg.user_url_patterns if p.startswith("!")]
        pos = [p for p in cfg.user_url_patterns if not p.startswith("!")]
        neg_hit = F.lit(False)
        for p in neg:
            neg_hit = neg_hit | url.rlike(p)
        any_hit = neg_hit
        for p in pos:
            any_hit = any_hit | url.rlike(p)
        skip = skip | neg_hit | ~any_hit
    return df.withColumn("is_skip", skip)


def _robots_block(level: DataFrame, robots: DataFrame | None) -> DataFrame:
    """RFC 9309 longest-prefix-match robots filter (north-rule mode).

    The reference only *declares* robots (pkg/config/types.go:111, never
    read) — this is our enforcement semantics: per (host, path) pick the
    longest matching prefix rule; tie → allow; no rule → allow.

    Delegates to :func:`..operators.robots.robots_verdict` (the single
    implementation of the rule-aggregation + ``array_max`` longest-
    prefix-wins reduction: rules aggregate to ONE array per host (tiny),
    broadcast equi-join on host, vectorized array reduction — zero
    windows, zero extra shuffles) and flips the sign:
    ``robots_blocked = NOT robots_allowed``.
    """
    if robots is None:
        return level.withColumn("robots_blocked", F.lit(False))
    from .robots import robots_verdict

    lv = level.withColumn("_host", U.url_hostname("url_link"))
    return (
        robots_verdict(lv, robots, url_col="url_link", host_col="_host")
        .withColumn("robots_blocked", ~F.col("robots_allowed"))
        .drop("_host", "robots_allowed")
    )


class CrawlEngine:
    """Drives BFS rounds for a batch of claimed sources.

    Every round's fetch is an equi-join against a persisted slim
    projection of ``documents`` (doc_id, extracted links, title); the
    full :func:`..operators.spans.parse_documents` parse is
    :attr:`parsed`, built only when read.
    """

    def __init__(
        self,
        spark: SparkSession,
        documents: DataFrame,
        cfg: CrawlConfig | None = None,
        robots: DataFrame | None = None,
        budgets: DataFrame | None = None,
        work_dir: str | None = None,
        dust_rules: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        if self.cfg.ordering_shards > 1 and self.cfg.max_links > 0:
            raise ValueError(
                "ordering_shards > 1 drops intra-source total order, which "
                "the max_links cumulative cutoff requires; use max_links=0 "
                "or ordering_shards=1"
            )
        self.robots = robots if (robots is not None and self.cfg.check_robots) else None
        self.budgets = budgets if (budgets is not None and self.cfg.use_host_budget) else None
        self.work_dir = work_dir
        if self.cfg.seen_filter not in ("", "cuckoo"):
            raise ValueError(f"unknown seen_filter mode: {self.cfg.seen_filter!r}")
        self._cuckoo: DataFrame | None = None  # incremental blobs (cuckoo mode)
        #: seen state of the current run: its committed visited deltas
        #: and the chained prior-run set (``run(initial_visited=...)``)
        self._run_seen: DataFrame | None = None
        self._prior_seen: DataFrame | None = None
        #: DUST valve (operators/dust.py): mined (host, param) rules —
        #: e.g. from a prior run's fetch log via dust_rules() — applied
        #: to the URL-SEEN DEDUP KEY only (fetch url untouched), the
        #: learned generalization of cfg.strip_tracking's static list.
        #: Off (None) = exact reference parity. The dim is a tiny
        #: per-host table, broadcast at every seen-key site; unmatched
        #: hosts pass through byte-identical.
        self._dust_dim: DataFrame | None = None
        if dust_rules is not None:
            from .dust import dust_param_dim

            self._dust_dim = dust_param_dim(dust_rules).persist()
        self._documents = documents
        self._parsed: DataFrame | None = None
        # slim fetch-join projection built DIRECTLY from the raw corpus:
        # the crawl loop needs only (doc_id, links, title), all cheap
        # span projections. Deriving this from .parsed would chain
        # the caches — materializing the fetch side would force the full
        # parse of the ENTIRE corpus (trigram langid + keyword sort +
        # sha256 per doc) before the first fetch, an O(corpus) round-0
        # phase the frontier never uses; at 10^10 URLs the corpus side
        # must stay a lazy scan that the fetch equi-join prunes.
        self.fetch_side = documents.select(
            F.col("doc_id"),
            SP.extracted_links(F.col("spans")).alias("links"),
            SP.title(F.col("spans")).alias("title"),
        ).persist()

    @property
    def parsed(self) -> DataFrame:
        """Full parse (langid, keywords, content_hash, …) for index-star
        consumers only, built and persisted on first access: persist()
        plans the whole parse at once, so a crawl that never reads it
        (the common case) must not build it."""
        if self._parsed is None:
            self._parsed = SP.parse_documents(self._documents).persist()
        return self._parsed

    def _phase(self, run_id: str, rnd: int, phase: str):
        """Name the Spark jobs of one engine phase
        ``crawl/<run_id>/r<k>/<phase>`` (see :func:`job_description`)."""
        return job_description(self.spark, f"crawl/{run_id}/r{rnd}/{phase}")

    def _seen_norm(self, c) -> F.Column:
        """URL-seen dedup key: NormalizeURL (lower + rtrim-slash), with
        the tracking params stripped first when cfg.strip_tracking —
        the infoseed canonicalization applied to the SEEN KEY only."""
        if self.cfg.strip_tracking:
            return U.normalize_url_seen(U.strip_tracking_params(F.col(c) if isinstance(c, str) else c))
        return U.normalize_url_seen(c)

    def _with_seen_norm(self, df: DataFrame, src_col: str, out_col: str = "norm_url") -> DataFrame:
        """Attach the seen key as a column. With the DUST valve on, the
        learned per-host param drop rewrites ``src_col`` first (broadcast
        dim join — the URL stream never shuffles); :meth:`_seen_norm`
        then applies the static canonicalization on top."""
        if self._dust_dim is None:
            return df.withColumn(out_col, self._seen_norm(src_col))
        from .dust import canonicalize_with_dim

        df = canonicalize_with_dim(
            df, self._dust_dim, url_col=src_col, out_col="_dust_u",
            passthrough_unmatched=True,
        )
        return df.withColumn(out_col, self._seen_norm("_dust_u")).drop("_dust_u")

    # ------------------------------------------------ ordering shards

    def _seq_parts(self, link_col: str = "link") -> list:
        """Partition keys for per-source sequencing windows: just
        source_id in parity mode; (source_id, link-hash shard) when
        ``ordering_shards > 1`` (mega-source escape hatch)."""
        if self.cfg.ordering_shards > 1:
            return [
                F.col("source_id"),
                F.pmod(F.xxhash64(F.col(link_col)), F.lit(self.cfg.ordering_shards)),
            ]
        return [F.col("source_id")]

    def _seq_expr(self, rn: F.Column, link_col: str = "link") -> F.Column:
        """Shard-interleaved sequence number: unique per source in both
        modes; dense 0..n-1 only in parity mode."""
        s = self.cfg.ordering_shards
        if s > 1:
            return (rn - 1) * s + F.pmod(F.xxhash64(F.col(link_col)), F.lit(s))
        return rn - 1

    # ---------------------------------------------------------- rounds

    def run(
        self,
        seeds: DataFrame,
        run_id: str = "run0",
        resume: bool = False,
        initial_visited: DataFrame | None = None,
    ) -> CrawlResult:
        """``initial_visited`` chains a long-lived URL-seen set across
        runs (periodic re-crawl, SURVEY §2.9): URLs in it are NOT
        refetched when rediscovered as links, unless first released via
        :meth:`release_seen`. Only this run's NEW keys are committed to
        this run's checkpoints and inserted into the incremental cuckoo
        filter — cross-run storage belongs to the prior run's
        checkpoints (pass ``initial_visited`` again when resuming a
        chained run)."""
        cfg = self.cfg
        spark = self.spark
        lineage: list[dict[str, Any]] = []

        src = seeds.select(
            "source_id",
            F.col("url").alias("source_url"),
            "restricted",
            "priority",
        ).persist()

        self._prior_seen = (
            initial_visited.select("source_id", "norm_url")
            if initial_visited is not None
            else None
        )
        self._run_seen = None

        if resume:
            state = self._load_latest(run_id)
            if state is not None:
                # the run's checkpoints hold only ITS deltas — the caller
                # re-supplies the chained prior state on resume
                self._run_seen = state["visited"]
                return self._run_rounds(
                    run_id,
                    state["pages"],
                    self._commit_visited(run_id, state["current_depth"]),
                    state["frontier"],
                    state["counters"],
                    state["current_depth"],
                    state["lineage"],
                    deferred=state["deferred"],
                )

        # ---- depth 0: CrawlInitialURL (web.go:912-993) ----
        t0 = time.time()
        seed_fetch = src.join(
            self.fetch_side.withColumnRenamed("doc_id", "_doc"),
            src["source_url"] == F.col("_doc"),
            "left",
        )
        # every depth-0 table is a projection of the fetched seeds and
        # their links: materialize each once instead of re-planning them
        # under every commit
        with self._phase(run_id, 0, "seed"):
            seed_ok = seed_fetch.filter(F.col("_doc").isNotNull()).localCheckpoint(eager=True)
        # initial links keep page_url = source URL (web.go:949-951)
        frontier = (
            seed_ok.select(
                "source_id",
                "source_url",
                "restricted",
                "priority",
                F.posexplode_outer("links").alias("seq", "link"),
            )
            .filter(F.col("link").isNotNull())
            .withColumn("page_url", F.col("source_url"))
        )
        # alternative_links from Sources.config JSON appended to the
        # initial links if not already present — exact string match,
        # config order, AFTER the extracted links (crawler.go:318-353;
        # array_distinct keeps first occurrence like the growing
        # initialLinks check). All Spark-side: from_json + anti-join.
        if "config" in seeds.columns:
            alt_arr = F.from_json(
                F.col("config"),
                "struct<crawling_config:struct<alternative_links:array<string>>>",
            )["crawling_config"]["alternative_links"]
            alt = (
                seed_ok.join(
                    seeds.select("source_id", F.array_distinct(alt_arr).alias("_alts")),
                    "source_id",
                )
                .select(
                    "source_id",
                    "source_url",
                    "restricted",
                    "priority",
                    F.posexplode("_alts").alias("_apos", "link"),
                )
                .withColumn("page_url", F.col("source_url"))
                .join(frontier.select("source_id", "link"), ["source_id", "link"], "left_anti")
            )
            base_counts = frontier.groupBy("source_id").agg(F.count("*").alias("_n"))
            alt = (
                alt.join(base_counts, "source_id", "left")
                .withColumn("seq", F.coalesce(F.col("_n"), F.lit(0)).cast("int") + F.col("_apos"))
                .drop("_n", "_apos")
            )
            frontier = frontier.unionByName(alt.select(*frontier.columns))
        with self._phase(run_id, 0, "seed_links"):
            frontier = frontier.localCheckpoint(eager=True)
        # TotalLinks stores the initial count BEFORE the restricted gate
        # (crawler.go:412), so aggregate first …
        initial_links = frontier.groupBy("source_id").agg(F.count("*").alias("links"))
        # … then: restricted==0 sources never enter the BFS loop (crawler.go:414)
        frontier = self._trap_valve(frontier.filter(F.col("restricted") != 0))

        pages = seed_ok.select(
            "source_id",
            F.lit(0).alias("depth"),
            F.lit(0).cast("long").alias("fetch_seq"),
            F.col("source_url").alias("url"),
        )
        seed_vis = self._with_seen_norm(seed_ok, "source_url").select(
            "source_id", "norm_url"
        )
        if self._prior_seen is not None:
            # this run's depth-0 DELTA: seed keys not already seen
            visited = seed_vis.join(self._prior_seen, ["source_id", "norm_url"], "left_anti")
        else:
            visited = seed_vis
        # counters live as a small DataFrame for the whole crawl — never
        # as a driver dict (a 10^5-10^6-source claim embedded in plan
        # literals or collect()ed per round is a driver OOM; SURVEY §4)
        pages0 = pages.groupBy("source_id").agg(F.count("*").alias("pages"))
        counters = (
            src.select("source_id")
            .join(pages0, "source_id", "left")
            .join(initial_links, "source_id", "left")
            .select(
                "source_id",
                F.coalesce("pages", F.lit(0)).cast("long").alias("pages"),
                F.coalesce("links", F.lit(0)).cast("long").alias("links"),
                F.lit(0).cast("long").alias("skipped"),
                F.lit(0).cast("long").alias("duplicates"),
                F.lit(0).cast("long").alias("errors"),
            )
        )

        # depth-0 state is the base delta of the append-only page/visited logs
        pages = self._ckpt_delta(None, pages, run_id, 0, "pages")
        visited = self._commit_visited(run_id, 0, visited)
        # the round's driver-side numbers are observed on its commits
        frontier, frontier_obs = _observed(frontier, F.count(F.lit(1)).alias("rows"))
        frontier = self._ckpt(frontier, run_id, 0, "frontier")
        counters, counters_obs = _observed(counters, F.sum("pages").alias("pages"))
        counters = self._ckpt(counters, run_id, 0, "counters")
        lineage.append(
            {
                "run_id": run_id,
                "round": 0,
                "frontier_in": 0,
                "fetched": _obs_int(counters_obs)["pages"],
                "elapsed_sec": time.time() - t0,
            }
        )
        self._write_manifest(run_id, 0, 0)
        return self._run_rounds(
            run_id, pages, visited, frontier, counters, 0, lineage,
            n_frontier=_obs_int(frontier_obs)["rows"],
        )

    def release_seen(self, visited: DataFrame, eligible: DataFrame) -> DataFrame:
        """Re-crawl eligibility: drop interval-eligible sources' URLs
        from the long-lived seen state so the next :meth:`run` (with the
        returned frame as ``initial_visited``) fetches them again.

        Two coupled O(released-delta) effects — never an O(seen) rebuild:

        - the exact visited table loses those sources' rows (anti-join —
          this is what governs result correctness);
        - in ``seen_filter="cuckoo"`` mode the incremental filter
          DELETES those keys (:func:`..operators.cuckoo.delete_cuckoo`
          — the deletion a bloom filter cannot do without rescanning
          all 10^10 surviving keys).

        ``eligible`` is any frame with a ``source_id`` column — e.g. the
        output of :func:`claim_sources` with ``regular_crawling`` set.
        """
        el = F.broadcast(eligible.select("source_id").dropDuplicates())
        if self._cuckoo is not None:
            from .cuckoo import delete_cuckoo

            released_keys = visited.join(el, "source_id").select(_seen_key())
            new_ck = delete_cuckoo(
                self._cuckoo, released_keys, key_col="_skey",
                n_buckets=self.cfg.salt_buckets,
            ).persist()
            new_ck.count()  # materialize before releasing the old blobs
            old = self._cuckoo
            self._cuckoo = new_ck
            old.unpersist()
        return visited.join(el, "source_id", "left_anti")

    def _commit_visited(
        self, run_id: str, rnd: int, delta: DataFrame | None = None
    ) -> DataFrame:
        """Commit round ``rnd``'s visited ``delta`` and return the live
        seen set: this run's committed deltas ∪ the chained prior-run
        set (which its own run's checkpoints store — never re-committed
        here). The delta also enters the cuckoo filter when one exists:
        a filter reused across runs must hold every key the exact set
        holds, or a later link back to it would probe "definitely
        unseen" and skip the exact check. ``delta=None`` commits
        nothing (a resumed run's deltas are already committed)."""
        if delta is not None:
            if self._cuckoo is not None:
                # incremental maintenance: insert only the delta
                # (O(delta)); checkpoint the small blob table so the
                # plan never chains across rounds
                from .cuckoo import insert_cuckoo

                self._cuckoo = self._ckpt(
                    insert_cuckoo(
                        self._cuckoo, delta.select(_seen_key()), key_col="_skey",
                        n_buckets=self.cfg.salt_buckets,
                    ),
                    run_id, rnd, "cuckoo",
                )
            self._run_seen = self._ckpt_delta(self._run_seen, delta, run_id, rnd, "visited")
        if self._prior_seen is None:
            return self._run_seen
        return self._run_seen.unionByName(self._prior_seen)

    def _run_rounds(
        self,
        run_id: str,
        pages: DataFrame,
        visited: DataFrame,
        frontier: DataFrame,
        counters: DataFrame,
        start_depth: int,
        lineage: list[dict[str, Any]],
        deferred: DataFrame | None = None,
        n_frontier: int | None = None,
    ) -> CrawlResult:
        cfg = self.cfg
        max_depth = 1 if cfg.max_depth == 0 else cfg.max_depth
        current_depth = start_depth
        if cfg.max_depth == 0:
            max_depth = current_depth + 1

        # a resumed run counts its committed frontier and deferred rows
        # once; from then on every round observes them on its own commits
        if n_frontier is None:
            n_frontier = frontier.count()
        n_deferred = deferred.count() if deferred is not None else 0

        while current_depth < max_depth and current_depth < cfg.max_rounds:
            n_in = n_frontier + n_deferred
            if n_in == 0:
                break
            t0 = time.time()
            depth = current_depth + 1

            level = frontier.withColumn("_pri", F.lit(1))
            if deferred is not None and n_deferred > 0:
                # deferred links go first in the next round (north mode)
                level = deferred.select(frontier.columns).withColumn(
                    "_pri", F.lit(0)
                ).unionByName(level)
            w_seq = Window.partitionBy(*self._seq_parts()).orderBy("_pri", "seq", "link")
            level = level.withColumn(
                "seq", self._seq_expr(F.row_number().over(w_seq))
            ).drop("_pri")

            # explicit skew-kill: spread one host's links over salt buckets
            level = level.repartition(
                F.col("source_id"),
                U.salted_host_key(U.url_hostname("link"), F.col("link"), cfg.salt_buckets),
            )

            rt, tot = self._process_level(level, visited, pages, run_id, depth, counters)
            category = F.col("category")

            # effects → next-round state, every one a filter or projection
            # of the round table. Pages/visited are APPEND-ONLY: each round
            # commits only its DELTA (the Iceberg-append analog) and the
            # live state is a union-scan over committed deltas — per-round
            # write cost stays O(delta), not O(total-so-far), which is the
            # difference between a crawl that holds at 10^10 URLs and one
            # whose checkpoint I/O grows quadratically with crawl length.
            # Attempted rows are unseen and first in their (source_id,
            # norm_url) group (that is what made them fetch_ok/fetch_err
            # rather than dup), so their projection IS the visited delta.
            visited_delta = rt.filter(category.isin(CAT_FETCH_OK, CAT_FETCH_ERR)).select(
                "source_id", "norm_url"
            )
            new_pages = rt.filter(category == CAT_FETCH_OK).select(
                "source_id",
                F.lit(depth).alias("depth"),
                "fetch_seq",
                F.col("url_link").alias("url"),
            )
            pages = self._ckpt_delta(pages, new_pages, run_id, depth, "pages")
            visited = self._commit_visited(run_id, depth, visited_delta)

            stats = rt.groupBy("source_id").agg(
                *[
                    F.sum((category == c).cast("long")).alias(k)
                    for k, c in _STAT_CATEGORIES
                ]
            )
            new_links = self._next_links(rt, counters, stats)
            frontier, frontier_obs = _observed(
                self._trap_valve(new_links), F.count(F.lit(1)).alias("rows")
            )
            frontier = self._ckpt(frontier, run_id, depth, "frontier")
            n_frontier = _obs_int(frontier_obs)["rows"]
            if self.budgets is not None:
                # deferred rows are next-round input state — commit them
                # like the frontier so kill-and-resume replays them too
                deferred = self._ckpt(
                    rt.filter(category == CAT_DEFERRED).select(*FRONTIER_COLS),
                    run_id, depth, "deferred",
                )
            n_deferred = tot["deferred"]

            # per-source links: the committed frontier, counted before
            # the trap valve (capped links were still discovered)
            links = (new_links if cfg.trap_cap else frontier).groupBy("source_id").agg(
                F.count("*").cast("long").alias("links")
            )
            # merge the round's per-source stats into the running
            # counters — a full outer join + coalesce sums, all Spark-side
            merged = (
                counters.alias("c")
                .join(stats.join(links, "source_id", "full").alias("s"), "source_id", "full")
                .select(
                    "source_id",
                    *[
                        (
                            F.coalesce(F.col(f"c.{k}"), F.lit(0))
                            + F.coalesce(F.col(f"s.{k}"), F.lit(0))
                        ).alias(k)
                        for k in COUNTER_FIELDS
                    ],
                )
            )
            counters = self._ckpt(merged, run_id, depth, "counters")

            lineage.append(
                {
                    "run_id": run_id,
                    "round": depth,
                    "frontier_in": n_in,
                    "fetched": tot["pages"],
                    "skipped": tot["skipped"],
                    "duplicates": tot["duplicates"],
                    "errors": tot["errors"],
                    "elapsed_sec": time.time() - t0,
                    # per-partition metrics over the round table's own
                    # layout (the processed level's final partitioning,
                    # after the level's join/window shuffles, not the
                    # salted repartition itself): skew_ratio 1.0 = even;
                    # >> 1 = end-of-round imbalance worth investigating
                    "partitions": tot["partitions"],
                    "max_partition_rows": tot["max_partition_rows"],
                    "skew_ratio": round(
                        tot["max_partition_rows"] * tot["partitions"] / tot["rows"], 3
                    )
                    if tot["rows"]
                    else 1.0,
                }
            )

            self._write_manifest(run_id, depth, depth)
            current_depth += 1
            if cfg.max_depth == 0:
                max_depth = current_depth + 1  # crawler.go:496-498

        crawl_order = pages.select(
            "source_id", F.col("fetch_seq").alias("seq"), "depth", "url"
        )

        if self.work_dir:
            self._write_lineage(lineage, run_id)
        return CrawlResult(pages, crawl_order, visited, counters, lineage)

    # ------------------------------------------------------ level logic

    def _trap_valve(self, frontier: DataFrame) -> DataFrame:
        """CrawlConfig.trap_cap: cap exploding URL templates in a round's
        frontier (off by default — reference parity). Applied to the
        seed-extracted frontier and to every round's discovered links."""
        if not self.cfg.trap_cap:
            return frontier
        from .traps import detect_traps, filter_trap_urls

        tstats = detect_traps(
            frontier.select(F.col("link").alias("url")),
            min_urls=self.cfg.trap_threshold,
        )
        return filter_trap_urls(
            frontier,
            tstats,
            cap_per_template=self.cfg.trap_cap,
            url_col="link",
            order_cols=("link", "source_id"),
            salt_buckets=self.cfg.salt_buckets,
        )

    def _process_level(
        self,
        level: DataFrame,
        visited: DataFrame,
        pages: DataFrame,
        run_id: str,
        depth: int,
        counters: DataFrame,
    ) -> tuple[DataFrame, dict[str, int]]:
        """One BFS level for all sources — the worker loop, set-at-a-time.

        Classifies every row of the level once, into the checkpointed
        **round table**: one row per processed link with its
        ``category``, ``fetch_seq`` (fetch_ok rows), ``_doc_links``
        (fetch_ok rows), and ``_next_attempt``/``_next_ok`` (the seq and
        outcome of the next attempted row, for skipped-link
        resurrection). Every state delta of the round is a filter or
        projection of it. Returns the table and the round's totals,
        observed while the table is materialized: rows per category
        (``pages`` = fetch_ok), ``rows``, and the table's non-empty
        ``partitions`` and ``max_partition_rows``.

        ``counters`` is the running per-source counter table (small:
        one row per claimed source); it is broadcast-joined wherever the
        reference's worker reads its own Status struct — never collected
        to the driver, never embedded in plan literals.
        """
        cfg = self.cfg

        # resolve relative links (crawler.go:2210-2212) + seen-key
        lv = self._with_seen_norm(
            level.withColumn("url_link", U.combine_urls("source_url", "link")), "url_link"
        )
        lv = _skip_flags(lv, cfg)
        lv = _robots_block(lv, self.robots)
        lv = lv.withColumn("is_skip", F.col("is_skip") | F.col("robots_blocked"))

        # visited-set probe: equi anti-join semantics via left join marker.
        # With the cuckoo prefilter on, filter-negative rows skip the
        # exact join (definitely unseen); positives still get the exact
        # check, so the final seen-set is identical in both modes. The
        # filter is built once, then fed each committed visited delta
        # (_commit_visited) — at 10^10 seen URLs an O(delta) insert
        # instead of an O(seen) rebuild per round.
        if cfg.seen_filter:
            from .cuckoo import build_cuckoo, probe_cuckoo

            vis_keyed = visited.select(_seen_key())
            if self._cuckoo is None:
                self._cuckoo = build_cuckoo(
                    vis_keyed, key_col="_skey", n_buckets=cfg.salt_buckets
                ).persist()
            probed = probe_cuckoo(
                lv.select("*", _seen_key()),
                self._cuckoo,
                key_col="_skey",
                n_buckets=cfg.salt_buckets,
            )
            neg = probed.filter(~F.col("cuckoo_maybe")).withColumn("_seen", F.lit(False))
            pos = (
                probed.filter(F.col("cuckoo_maybe"))
                .join(
                    vis_keyed.withColumn("_vseen", F.lit(True)),
                    ["_skey"],
                    "left",
                )
                .withColumn("_seen", F.coalesce(F.col("_vseen"), F.lit(False)))
                .drop("_vseen")
            )
            lv = neg.unionByName(pos).drop("cuckoo_maybe", "_skey")
        else:
            lv = lv.join(
                visited.withColumn("_seen", F.lit(True)),
                ["source_id", "norm_url"],
                "left",
            ).withColumn("_seen", F.coalesce(F.col("_seen"), F.lit(False)))

        # first-occurrence-within-level among non-skipped (sequential visited updates)
        w_norm = Window.partitionBy("source_id", "norm_url").orderBy("seq")
        occ = F.when(~F.col("is_skip"), F.row_number().over(w_norm)).otherwise(F.lit(None))
        lv = lv.withColumn("_occ", occ)
        is_dup = (~F.col("is_skip")) & (F.col("_seen") | (F.col("_occ") > 1))

        # global-known probe (PreventDuplicateURLs, queries.go:74-88)
        if cfg.prevent_duplicate_urls:
            known = self._with_seen_norm(pages, "url").select(
                "norm_url"
            ).distinct().withColumn("_known", F.lit(True))
            lv = lv.join(known, ["norm_url"], "left").withColumn(
                "_known", F.coalesce(F.col("_known"), F.lit(False))
            )
        else:
            lv = lv.withColumn("_known", F.lit(False))

        # fetch = equi-join against the corpus (case-sensitive doc_id)
        fs = self.fetch_side.select(
            F.col("doc_id").alias("_doc"), F.col("links").alias("_doc_links")
        )
        lv = lv.join(fs, lv["url_link"] == fs["_doc"], "left")

        cat = (
            F.when(F.col("is_skip"), F.lit(CAT_SKIP))
            .when(is_dup, F.lit(CAT_DUP))
            .when(F.col("_known"), F.lit(CAT_KNOWN))
            .when(F.col("_doc").isNotNull(), F.lit(CAT_FETCH_OK))
            .otherwise(F.lit(CAT_FETCH_ERR))
        )
        lv = lv.withColumn("category", cat)

        # politeness budget (north-rule mode): cap successful fetches per
        # host per round; excess re-queued next round, ordered first.
        # Two-phase skew-safe rank (the operators/politeness.py contract)
        # as columns of the one stream: _r1 ranks budget-capped fetch_ok
        # rows within (host, salt) — parallel across salt buckets; a
        # local rank > B implies global rank > B, so those rows defer
        # without entering a whole-host window. _r2 ranks only the ≤ B×S
        # survivors per host; every other row stays in its salt bucket.
        # Identical outcome to a single host-wide rank, but a mega-host
        # with 10^9 pending URLs never pins one task.
        if self.budgets is not None:
            lv = lv.withColumn("_bhost", U.url_hostname("url_link"))
            lv = lv.join(
                F.broadcast(self.budgets.select(F.col("host").alias("_bhost"), "max_fetches_per_round")),
                ["_bhost"],
                "left",
            )
            budget = F.col("max_fetches_per_round")
            lv = lv.withColumn(
                "_capped", (F.col("category") == CAT_FETCH_OK) & budget.isNotNull()
            ).withColumn(
                "_salt", F.pmod(F.xxhash64(F.col("source_id"), F.col("seq")), F.lit(cfg.salt_buckets))
            )
            order = [F.col("priority"), F.col("source_id"), F.col("seq")]
            w1 = Window.partitionBy("_bhost", "_salt", "_capped").orderBy(*order)
            lv = lv.withColumn("_r1", F.row_number().over(w1))
            surv = F.col("_capped") & (F.col("_r1") <= budget)
            w2 = Window.partitionBy(
                "_bhost", F.when(surv, F.lit(-1)).otherwise(F.col("_salt"))
            ).orderBy(*order)
            lv = lv.withColumn("_r2", F.row_number().over(w2))
            over = F.col("_capped") & ((F.col("_r1") > budget) | (F.col("_r2") > budget))
            lv = lv.withColumn(
                "category", F.when(over, F.lit(CAT_DEFERRED)).otherwise(F.col("category"))
            ).drop("max_fetches_per_round", "_bhost", "_capped", "_salt", "_r1", "_r2")

        # the worker's TotalPages-so-far comes from the counters table via
        # a broadcast join (NOT a per-source plan literal, which explodes
        # the plan at a 10^5+-source claim)
        lv = lv.join(
            F.broadcast(counters.select("source_id", F.col("pages").alias("_pages_before"))),
            "source_id",
            "left",
        ).withColumn("_pages_before", F.coalesce(F.col("_pages_before"), F.lit(0)))
        # the round's per-source windows all share one partitioning and
        # order, so they run as one sort
        ok = F.col("category") == CAT_FETCH_OK
        n_ok = F.sum(ok.cast("int"))
        w_seq = Window.partitionBy(*self._seq_parts()).orderBy("seq")
        if cfg.max_links > 0:
            # max_links cutoff: worker stops once TotalPages reaches the
            # cap (crawler.go:2203-2206) — guard precedes every job
            cum_ok = F.coalesce(
                n_ok.over(w_seq.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
            )
            lv = (
                lv.withColumn("_processed", F.col("_pages_before") + cum_ok < F.lit(cfg.max_links))
                .filter(F.col("_processed"))
                .drop("_processed")
            )

        # fetch_seq = pages_so_far*S + shard-interleaved index: dense and
        # equal to the reference's TotalPages order when S == 1 (parity);
        # sparse but still unique per source across rounds when S > 1
        # (round r+1 starts at (pages_before + n_fetched)·S, above every
        # round-r value (pages_before·S + fidx), fidx < n_fetched·S).
        fidx = self._seq_expr(
            n_ok.over(w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        )
        # each skipped row attaches to the NEXT attempted row, and only
        # when that fetch succeeds (web.go:1864: pageCache.Links +=
        # skippedURLs on success; cleared on error)
        attempt = F.when(
            F.col("category").isin(CAT_FETCH_OK, CAT_FETCH_ERR),
            F.struct(F.col("seq").alias("seq"), ok.alias("ok")),
        )
        nxt = F.min(attempt).over(w_seq.rowsBetween(1, Window.unboundedFollowing))
        rt = lv.withColumn("_next", nxt).select(
            *FRONTIER_COLS,
            "url_link",
            "norm_url",
            "category",
            F.when(ok, F.col("_pages_before") * F.lit(cfg.ordering_shards) + fidx).alias(
                "fetch_seq"
            ),
            F.when(ok, F.col("_doc_links")).alias("_doc_links"),
            F.col("_next.seq").alias("_next_attempt"),
            F.col("_next.ok").alias("_next_ok"),
            # partition id (high bits) + record number within it: the
            # table's own layout, for the lineage row's skew metrics
            F.monotonically_increasing_id().alias("_mid"),
        )
        rec = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
        rt, obs = _observed(
            rt,
            F.count(F.lit(1)).alias("rows"),
            *[
                F.sum((F.col("category") == c).cast("long")).alias(k)
                for k, c in (*_STAT_CATEGORIES, ("deferred", CAT_DEFERRED))
            ],
            F.sum((rec == 0).cast("long")).alias("partitions"),
            F.max(rec + 1).alias("max_partition_rows"),
        )
        with self._phase(run_id, depth, "classify"):
            rt = rt.localCheckpoint(eager=True)
        return rt, _obs_int(obs)

    def _next_links(self, rt: DataFrame, counters: DataFrame, stats: DataFrame) -> DataFrame:
        """The round's discovered links in next-frontier order: each
        fetched page's extracted links, with the skipped links that
        resurrect onto it, numbered per source; MaxLinks-truncated."""
        cfg = self.cfg
        extracted = rt.filter(F.col("category") == CAT_FETCH_OK).select(
            "source_id",
            "source_url",
            "restricted",
            "priority",
            F.col("seq").alias("_attach"),
            F.lit(0).alias("_res"),
            F.posexplode_outer("_doc_links").alias("_pos", "link"),
            F.col("url_link").alias("page_url"),
        ).filter(F.col("link").isNotNull())
        resurrected = rt.filter((F.col("category") == CAT_SKIP) & F.col("_next_ok")).select(
            "source_id",
            "source_url",
            "restricted",
            "priority",
            F.col("_next_attempt").alias("_attach"),
            F.lit(1).alias("_res"),
            F.col("seq").alias("_pos"),
            F.col("link"),
            F.col("page_url"),
        )

        new_links = extracted.unionByName(resurrected)
        w_order = Window.partitionBy(*self._seq_parts()).orderBy("_attach", "_res", "_pos")
        new_links = new_links.withColumn("seq", self._seq_expr(F.row_number().over(w_order)))

        # MaxLinks prefix truncation AFTER the level (crawler.go:475-483):
        # keep first (max_links - TotalPages_after) per source —
        # TotalPages_after = running counter + this round's fetches, a
        # broadcast join of two small per-source tables.
        if cfg.max_links > 0:
            pages_after = (
                counters.select("source_id", F.col("pages").alias("_pb"))
                .join(stats.select("source_id", F.col("pages").alias("_ps")), "source_id", "full")
                .select(
                    "source_id",
                    (F.coalesce("_pb", F.lit(0)) + F.coalesce("_ps", F.lit(0))).alias(
                        "_pages_after"
                    ),
                )
            )
            new_links = new_links.join(F.broadcast(pages_after), "source_id", "left")
            budget_col = F.lit(cfg.max_links) - F.coalesce(F.col("_pages_after"), F.lit(0))
            new_links = new_links.filter(
                F.col("seq") < F.greatest(budget_col, F.lit(0))
            ).drop("_pages_after")
        return new_links.select(*FRONTIER_COLS)

    # ------------------------------------------------------- checkpoint

    def _ckpt(self, df: DataFrame, run_id: str, rnd: int, name: str) -> DataFrame:
        """Snapshot state to parquet (cuts lineage; the resume point).

        Production: Iceberg MERGE + snapshot id per round; locally a
        parquet dir per (run, round, table) with identical semantics.
        """
        with self._phase(run_id, rnd, name):
            if not self.work_dir:
                return df.localCheckpoint(eager=True)
            path = f"{self.work_dir}/{run_id}/r{rnd:04d}/{name}"
            df.write.mode("overwrite").option("compression", STATE_CODEC).parquet(path)
            # the schema is known: reading back runs no inference job
            return self.spark.read.schema(df.schema).parquet(path)

    def _delta_dirs(self, run_id: str, up_to_round: int, name: str) -> list[str]:
        import glob
        import os

        dirs = []
        for d in sorted(glob.glob(f"{self.work_dir}/{run_id}/r*/{name}_delta")):
            # the round is the delta dir's PARENT component ("r0007") —
            # matching anywhere in the path would mis-read a work_dir or
            # run_id segment that happens to look like /r<digits>/
            rdir = os.path.basename(os.path.dirname(d))
            if not (rdir.startswith("r") and rdir[1:].isdigit()):
                continue
            if int(rdir[1:]) <= up_to_round and os.path.exists(f"{d}/_SUCCESS"):
                dirs.append(d)
        return dirs

    def _ckpt_delta(
        self, cur_state: DataFrame | None, delta: DataFrame, run_id: str, rnd: int, name: str
    ) -> DataFrame:
        """Append-only state commit: write ONLY this round's delta
        (Iceberg-append analog); the live state becomes a union-scan
        over all committed deltas ≤ rnd — one scan node, lineage cut,
        per-round write cost O(delta) instead of O(total state).
        ``cur_state`` is None for the run's first delta.
        """
        with self._phase(run_id, rnd, name):
            if not self.work_dir:
                state = delta if cur_state is None else cur_state.unionByName(delta)
                return state.localCheckpoint(eager=True)
            path = f"{self.work_dir}/{run_id}/r{rnd:04d}/{name}_delta"
            delta.write.mode("overwrite").option("compression", STATE_CODEC).parquet(path)
            return self.spark.read.schema(delta.schema).parquet(
                *self._delta_dirs(run_id, rnd, name)
            )

    def _write_manifest(self, run_id: str, rnd: int, depth: int) -> None:
        """Per-round commit record — the resume point (reference analog:
        the Sources status machine + processing-timeout re-claims,
        postgresql-setup.pgsql:2881-2884). Counters live in the round's
        ``counters`` parquet, not in the manifest — the manifest stays
        O(1) regardless of claim size."""
        if not self.work_dir:
            return
        import builtins
        import os

        path = f"{self.work_dir}/{run_id}/r{rnd:04d}/manifest.json"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with builtins.open(tmp, "w") as f:
            json.dump({"round": rnd, "depth": depth}, f)
        os.replace(tmp, path)

    def _load_latest(self, run_id: str) -> dict[str, Any] | None:
        """Load the newest committed round's state (kill-and-resume)."""
        if not self.work_dir:
            return None
        import glob
        import os

        def _rounds(dirs: list[str]) -> set[int]:
            return {int(os.path.basename(os.path.dirname(d))[1:]) for d in dirs}

        manifests = sorted(glob.glob(f"{self.work_dir}/{run_id}/r*/manifest.json"))
        for m in reversed(manifests):
            rdir = os.path.dirname(m)
            with open(m) as f:
                meta = json.load(f)
            rnd = meta["round"]
            # pages/visited are append-only delta logs: the state at this
            # round is the union of every committed delta ≤ round — and it
            # must be CONTIGUOUS (one delta per round 0..rnd); a missing
            # intermediate delta means this manifest's state is silently
            # incomplete, so fall back to an older manifest instead
            expected = set(range(rnd + 1))
            pages_dirs = self._delta_dirs(run_id, rnd, "pages")
            visited_dirs = self._delta_dirs(run_id, rnd, "visited")
            if not (_rounds(pages_dirs) >= expected and _rounds(visited_dirs) >= expected):
                continue
            if not os.path.exists(f"{rdir}/frontier/_SUCCESS") or not os.path.exists(
                f"{rdir}/counters/_SUCCESS"
            ):
                continue
            deferred = None
            if os.path.exists(f"{rdir}/deferred/_SUCCESS"):
                deferred = self.spark.read.parquet(f"{rdir}/deferred")
            return {
                "pages": self.spark.read.parquet(*pages_dirs),
                "visited": self.spark.read.parquet(*visited_dirs),
                "frontier": self.spark.read.parquet(f"{rdir}/frontier"),
                "counters": self.spark.read.parquet(f"{rdir}/counters"),
                "deferred": deferred,
                "current_depth": meta["depth"],
                "lineage": [{"run_id": run_id, "round": rnd, "resumed": True}],
            }
        return None

    def _write_lineage(self, lineage: list[dict[str, Any]], run_id: str) -> None:
        path = f"{self.work_dir}/{run_id}/lineage.json"
        import builtins

        with builtins.open(path, "w") as f:
            json.dump(lineage, f, indent=1)
