"""The four workloads. Each one makes its inputs from the seed
(:meth:`setup`), computes the expected output once per seed outside the
timed region (:meth:`expected`), runs timed operations (:meth:`op`), and
in the traced run measures its layers by direct calls (:meth:`probe`).

An operation is one crawl job, one pipeline job or one query. ``op``
returns ``(wall_s, items, error)``: ``items`` is the workload's unit of
work done by the operation and ``error`` is ``None`` when its output
passed the check.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import time

from pyspark.sql import functions as F

import check
import gen

#: crawl corpus: thousands of seeds, one host with MEGA_FRAC of all pages
CRAWL = gen.CrawlSpec(n_docs=5000, n_hosts=50, n_seeds=300)
CRAWL_DEPTH = 2
#: depth of the timed re-crawl, and of the prior crawl whose seen set it
#: chains
RECRAWL_DEPTH = 1
PRIOR_DEPTH = 3
CURATE = gen.CurateSpec(n_orig=4000)
#: the searched corpus (its seeds are unused)
SEARCH = gen.CrawlSpec(n_docs=4000, n_hosts=40, n_seeds=1)
N_QUERIES = 400


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _sorted_rows(df, cols: list[str]) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*cols).collect())


class Workload:
    name = ""
    #: what ``items`` counts, for the trace file
    item = ""
    #: the measured operation is the session's first, with no warm-up
    cold = False

    def __init__(self, spark, work: str, cache_dir: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.cache_dir = cache_dir
        self.seed = seed
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.ops_dir = os.path.join(work, "ops")

    def cache_path(self, kind: str) -> str:
        """Per (workload, seed, input sizes) file in the cache directory."""
        digest = hashlib.md5(repr(self.spec_key()).encode()).hexdigest()[:12]
        return os.path.join(self.cache_dir, f"{self.name}-s{self.seed}-{digest}-{kind}.json")

    def _cache(self, compute):
        """``compute()`` once per (workload, seed, input sizes), kept as
        JSON in the cache directory."""
        path = self.cache_path("expected")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def spec_key(self):
        raise NotImplementedError

    def setup(self) -> dict[str, float]:
        """Make and persist the inputs; returns set-up phase times."""
        raise NotImplementedError

    def program_setup(self) -> dict[str, float]:
        """Set-up work done by the program itself (after the inputs)."""
        return {}

    def expected(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> tuple[float, float, str | None]:
        raise NotImplementedError

    def warmup(self) -> None:
        _, _, err = self.op(-1)
        if err:
            raise RuntimeError(f"warm-up output check failed: {err}")

    def probe(self) -> dict[str, float]:
        return {}


# ------------------------------------------------------------------ crawl


class CrawlFresh(Workload):
    name = "crawl_fresh"
    item = "new seen-set URLs committed"
    #: a crawl is a batch job (jobs/crawl_job.py) that pays JVM warm-up
    #: and code generation on every launch
    cold = True
    seen_filter = ""
    run_id = "fresh"
    depth = CRAWL_DEPTH

    def spec_key(self):
        return (CRAWL, CRAWL_DEPTH)

    def setup(self):
        t0 = time.perf_counter()
        _rm(self.inputs)
        os.makedirs(self.inputs)
        self.corpus = gen.crawl_corpus(self.seed, CRAWL)
        self.paths = gen.write_crawl_inputs(self.corpus, self.inputs)
        rd = self.spark.read.parquet
        self.docs = rd(self.paths["documents"])
        self.robots = rd(self.paths["robots"])
        self.budgets = rd(self.paths["budgets"])
        return {"inputs.gen_s": time.perf_counter() - t0}

    def _engine(self, wd: str, seen_filter: str, depth: int):
        from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine

        cfg = CrawlConfig(
            max_depth=depth, check_robots=True, use_host_budget=True, seen_filter=seen_filter
        )
        return CrawlEngine(
            self.spark, self.docs, cfg, robots=self.robots, budgets=self.budgets, work_dir=wd
        )

    def _claim(self):
        from thecrowler_spark.operators.frontier import claim_sources

        seeds = self.spark.read.parquet(self.paths["seeds"])
        return claim_sources(seeds, CRAWL.n_seeds)

    def expected(self):
        from tests import oracle

        def compute():
            c = self.corpus
            r = oracle.crawl_all(
                c["documents"], c["seeds"],
                oracle.OracleConfig(max_depth=CRAWL_DEPTH, check_robots=True),
                robots=c["robots"],
            )
            return {
                "order": sorted(r.crawl_order),
                "visited": sorted(r.visited),
                "counters": {str(k): v for k, v in r.counters.items()},
            }

        self.want = _as_tuples(self._cache(compute))

    def _crawl(self, out: str, seen_filter: str, depth: int) -> tuple[float, object, str]:
        """One crawl job: claim, rounds, results written to ``out``."""
        _rm(out)
        wd = os.path.join(out, "state")
        sp = self.tracer.span
        t0 = time.perf_counter()
        with sp("frontier.claim"):
            claimed = self._claim().localCheckpoint(eager=True)
        with sp("frontier.run"):
            eng = self._engine(wd, seen_filter, depth)
            initial = self._initial(eng, claimed)
            res = eng.run(claimed, run_id=self.run_id, initial_visited=initial)
        with sp("output.write"):
            res.crawl_order.write.parquet(os.path.join(out, "order"))
            res.visited.write.parquet(os.path.join(out, "visited"))
            res.counters_df.write.parquet(os.path.join(out, "counters"))
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        return wall, res, wd

    def _initial(self, eng, claimed):
        return None

    def _observed(self, out: str) -> dict:
        rd = self.spark.read.parquet
        counters = {
            str(r["source_id"]): {k: int(r[k]) for k in ("pages", "links", "skipped", "duplicates", "errors")}
            for r in rd(os.path.join(out, "counters")).collect()
        }
        return {
            "order": _sorted_rows(rd(os.path.join(out, "order")), ["source_id", "seq", "depth", "url"]),
            "visited": _sorted_rows(rd(os.path.join(out, "visited")), ["source_id", "norm_url"]),
            "counters": counters,
        }

    def _check(self, observed: dict) -> str | None:
        return check.crawl(self.want, observed)

    def op(self, i):
        out = os.path.join(self.ops_dir, f"op{i}")
        wall, res, wd = self._crawl(out, self.seen_filter, self.depth)
        self.last = {"out": out, "state": wd, "lineage": res.lineage, "wall": wall}
        new_urls = self.spark.read.parquet(
            *glob.glob(f"{wd}/{self.run_id}/r*/visited_delta")
        ).count()
        rounds = [r for r in res.lineage if r["round"] > 0]
        self.last["new_urls"] = new_urls
        self.last["links"] = sum(r["fetched"] + r["duplicates"] + r["skipped"] + r["errors"] for r in rounds)
        err = self._check(self._observed(out))
        if self.previous_out and self.previous_out != out:
            _rm(self.previous_out)
        self.previous_out = out
        return wall, float(self._items()), err

    previous_out = None

    def _items(self) -> float:
        return self.last["new_urls"]

    # ------------------------------------------------------------ layers

    def probe(self):
        """Layer metrics of the last (traced) operation."""
        from thecrowler_spark.functions import urls as U
        from thecrowler_spark.operators.cuckoo import build_cuckoo, insert_cuckoo, probe_cuckoo
        from thecrowler_spark.operators.frontier import CrawlConfig
        from thecrowler_spark.operators.robots import robots_verdict

        lin = self.last["lineage"]
        rounds = [r for r in lin if r["round"] > 0]
        links = self.last["links"]
        fetched = sum(r["fetched"] for r in rounds)
        m = {f"frontier.r{r['round']}_s": r["elapsed_sec"] for r in lin}
        m.update({
            "frontier.links": links,
            "frontier.fetched": fetched,
            "frontier.duplicates": sum(r["duplicates"] for r in rounds),
            "frontier.skipped": sum(r["skipped"] for r in rounds),
            "frontier.errors": sum(r["errors"] for r in rounds),
            "frontier.fetch_yield": fetched / links if links else 0.0,
            "frontier.skew_ratio": max((r["skew_ratio"] for r in rounds), default=1.0),
            "urls_per_s": self.last["new_urls"] / self.last["wall"],
            "links_per_s": links / self.last["wall"],
        })
        rd = self.spark.read.parquet
        sp = self.tracer.span
        state = f"{self.last['state']}/{self.run_id}"

        # URL and robots kernels on the run's level-1 links, noop sink
        level1 = rd(f"{state}/r0000/frontier").withColumn(
            "url_link", U.combine_urls("source_url", "link")
        )
        with sp("urls.normalize"):
            level1.select(U.normalize_url_seen("url_link")).write.format("noop").mode("overwrite").save()
        with sp("robots.verdict"):
            robots_verdict(
                level1.withColumn("_host", U.url_hostname("url_link")), self.robots,
                url_col="url_link", host_col="_host",
            ).write.format("noop").mode("overwrite").save()

        # URL-seen filter on the run's final seen state, probed with the
        # links of the last round
        skey = F.concat_ws("\x00", F.col("source_id").cast("string"), F.col("norm_url"))
        seen = rd(os.path.join(self.last["out"], "visited")).select(skey.alias("_skey"))
        last = max(r["round"] for r in rounds) - 1 if rounds else 0
        cand = (
            rd(f"{state}/r{last:04d}/frontier")
            .withColumn("norm_url", U.normalize_url_seen(U.combine_urls("source_url", "link")))
            .select(skey.alias("_skey"))
        )
        nb = CrawlConfig().salt_buckets
        with sp("seen.build"):
            ck = build_cuckoo(seen, key_col="_skey", n_buckets=nb).localCheckpoint(eager=True)
        with sp("seen.probe"):
            probed = probe_cuckoo(cand, ck, key_col="_skey", n_buckets=nb).localCheckpoint(eager=True)
        with sp("seen.insert"):
            insert_cuckoo(ck, cand, key_col="_skey", n_buckets=nb).write.format("noop").mode("overwrite").save()
        with sp("seen.exact_join"):
            probed.filter("cuckoo_maybe").join(
                seen.withColumn("_v", F.lit(True)), "_skey", "left"
            ).write.format("noop").mode("overwrite").save()
        n = probed.count()
        m["seen.maybe_frac"] = probed.filter("cuckoo_maybe").count() / n if n else 0.0
        # rows handed to the filter's pandas UDFs: build, probe, insert
        m["seen.udf_rows"] = seen.count() + 2 * n
        for name in ("urls.normalize", "robots.verdict", "seen.build", "seen.probe",
                     "seen.insert", "seen.exact_join"):
            m[name + "_s"] = self.tracer.seconds(name)
        self.spark.catalog.clearCache()
        return m


class RecrawlChained(CrawlFresh):
    name = "recrawl_chained"
    item = "links classified"
    seen_filter = "cuckoo"
    run_id = "recrawl"
    depth = RECRAWL_DEPTH

    def spec_key(self):
        return (CRAWL, RECRAWL_DEPTH, PRIOR_DEPTH, "recrawl")

    def setup(self):
        """The crawl inputs plus the seen set a deeper prior crawl of the
        same sources left: the oracle's visited set at ``PRIOR_DEPTH``."""
        from tests import oracle

        t = super().setup()
        t0 = time.perf_counter()
        c = self.corpus
        r = oracle.crawl_all(
            c["documents"], c["seeds"],
            oracle.OracleConfig(max_depth=PRIOR_DEPTH, check_robots=True),
            robots=c["robots"],
        )
        self.prior = r.visited
        self.prior_path = os.path.join(self.inputs, "prior_visited.parquet")
        gen.write_visited(sorted(self.prior), self.prior_path)
        t["inputs.gen_s"] += time.perf_counter() - t0
        return t

    def _claim(self):
        from thecrowler_spark.operators.frontier import claim_sources

        seeds = self.spark.read.parquet(self.paths["seeds_recrawl"])
        return claim_sources(
            seeds, CRAWL.n_seeds, now=gen.RECRAWL_NOW, regular_crawling=gen.RECRAWL_INTERVAL
        )

    def _initial(self, eng, claimed):
        released = self.spark.read.parquet(self.paths["released"]).join(claimed, "source_id", "left_semi")
        return eng.release_seen(self.spark.read.parquet(self.prior_path), released)

    def expected(self):
        """The same claim with the exact seen join only (no filter)."""
        def compute():
            out = os.path.join(self.ops_dir, "expected")
            self._crawl(out, "", self.depth)
            observed = self._observed(out)
            _rm(out)
            return observed

        self.want = _as_tuples(self._cache(compute))
        self.released = set(self.corpus["released"])

    def _check(self, observed):
        return check.recrawl(self.want, observed, self.prior, self.released)

    def _items(self):
        return self.last["links"]


def _as_tuples(v: dict) -> dict:
    return {
        "order": [tuple(r) for r in v["order"]],
        "visited": [tuple(r) for r in v["visited"]],
        "counters": v["counters"],
    }


# ----------------------------------------------------------------- curate


class CurateDocs(Workload):
    name = "curate_docs"
    item = "input documents"

    def spec_key(self):
        return CURATE

    def setup(self):
        t0 = time.perf_counter()
        _rm(self.inputs)
        os.makedirs(self.inputs)
        rows, self.want = gen.curate_corpus(self.seed, CURATE)
        self.path = os.path.join(self.inputs, "docs.parquet")
        gen.write_curate_inputs(rows, self.path)
        return {"inputs.gen_s": time.perf_counter() - t0}

    def expected(self):
        pass  # the generator returns the planted stage counts

    def op(self, i):
        from jobs.pipeline_job import parse_args, run_pipeline

        out = os.path.join(self.ops_dir, f"op{i}")
        _rm(out)
        t0 = time.perf_counter()
        with self.tracer.span("pipeline.run"):
            manifest = run_pipeline(self.spark, parse_args(["--input", self.path, "--output", out]))
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        self.last = {"manifest": manifest, "wall": wall}
        err = check.curate(self.want, {"input_rows": manifest["input_rows"], **manifest["stages"]})
        _rm(out)
        return wall, float(manifest["input_rows"]), err

    def probe(self):
        from thecrowler_spark.operators import dedup as DD

        man = self.last["manifest"]
        secs, st = man["stage_secs"], man["stages"]
        m = {
            "pipeline.exact_dedup_s": secs["exact_dedup"],
            "pipeline.fuzzy_dedup_s": secs["fuzzy_dedup"],
            "pipeline.line_dedup_s": secs["line_dedup"],
            "pipeline.quality_s": secs["quality"],
            "pipeline.pack_s": secs["packed"],
            "pipeline.write_s": sum(v for k, v in secs.items() if k.startswith("write_")),
            "pipeline.exact_dups": man["input_rows"] - st["exact_dedup"],
            "pipeline.fuzzy_dups": st["exact_dedup"] - st["fuzzy_dedup"],
            "docs_per_s": man["input_rows"] / self.last["wall"],
        }
        docs = self.spark.read.parquet(self.path)
        with self.tracer.span("dedup.lsh"):
            cands = DD.minhash_lsh_candidates(
                docs, text_col="text", id_col="doc_id", n_hashes=8, bands=4, k=3
            ).localCheckpoint(eager=True)
        with self.tracer.span("dedup.verify"):
            pairs = DD.verify_pairs_jaccard(
                docs, cands, text_col="text", id_col="doc_id", k=3, threshold=0.5
            ).count()
        n = cands.count()
        m.update({
            "dedup.lsh_candidates": n,
            "dedup.verified_pairs": pairs,
            "dedup.verify_yield": pairs / n if n else 0.0,
            "dedup.lsh_s": self.tracer.seconds("dedup.lsh"),
            "dedup.verify_s": self.tracer.seconds("dedup.verify"),
        })
        self.spark.catalog.clearCache()
        return m


# ----------------------------------------------------------------- search


class SearchServe(Workload):
    """Closed loop of one client over a seeded query mix."""

    name = "search_serve"
    item = "queries answered"

    def spec_key(self):
        return (SEARCH, N_QUERIES)

    def setup(self):
        t0 = time.perf_counter()
        _rm(self.inputs)
        os.makedirs(self.inputs)
        self.corpus = gen.crawl_corpus(self.seed, SEARCH)
        self.paths = gen.write_crawl_inputs(self.corpus, self.inputs)
        rng = random.Random(self.seed * 31 + 7)
        phrases = []
        for d in rng.sample(self.corpus["documents"][: SEARCH.n_docs], 60):
            words = next(s["text"] for s in d["spans"] if s["kind"] == "text").split()
            j = rng.randrange(len(words) - 1)
            phrases.append(f"{words[j]} {words[j + 1]}")
        self.queries = gen.search_queries(self.seed, N_QUERIES, phrases)
        return {"inputs.gen_s": time.perf_counter() - t0}

    def program_setup(self):
        """Parsed pages and the index star the queries read."""
        from thecrowler_spark.operators.indexer import build_index_tables, write_index_star
        from thecrowler_spark.operators.spans import parse_documents
        from thecrowler_spark.sources.lake import LakeTable

        sp = self.tracer.span
        docs = self.spark.read.parquet(self.paths["documents"])
        pages_path = os.path.join(self.inputs, "pages")
        lake = os.path.join(self.inputs, "star")
        t = {}
        t0 = time.perf_counter()
        with sp("index.parse"):
            parsed = parse_documents(docs).persist()
            parsed.select("doc_id", "title", "summary", "body_text", "detected_lang").write.parquet(pages_path)
        t["index.parse_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with sp("index.build"):
            # the star search reads these two of the star's tables
            tables = {
                k: v.persist() for k, v in build_index_tables(parsed).items()
                if k in ("search_index", "keyword_index")
            }
            for v in tables.values():
                v.count()
        t["index.build_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with sp("index.write"):
            write_index_star(self.spark, lake, tables)
        t["index.write_s"] = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        rd = self.spark.read
        self.pages = rd.parquet(pages_path)
        self.si = LakeTable(self.spark, f"{lake}/search_index").read()
        self.ki = LakeTable(self.spark, f"{lake}/keyword_index").read()
        return t

    def expected(self):
        from tests import oracle

        self.table = [
            {
                "doc_id": d["doc_id"],
                "title": oracle.o_title(d["spans"]).lower(),
                "summary": oracle.o_summary(d["spans"]).lower(),
                "content": oracle.o_body_text(d["spans"]).lower(),
                "keywords": set(oracle.o_keywords(d["spans"], set())),
            }
            for d in self.corpus["documents"]
        ]
        self.results: list[tuple[int, list]] = []

    def _want(self, q: gen.Query) -> list[str]:
        fields = ("title", "summary") if q.star else ("title", "summary", "content")
        bares = {t.lower() for g in q.groups for f, t, _ in g if f is None}

        def hit(row, f, t):
            t = t.lower()
            return t in row[f] if f else any(t in row[x] for x in fields)

        ids = [
            r["doc_id"] for r in self.table
            if any(all(hit(r, f, t) for f, t, _ in g) for g in q.groups)
            or (q.star and r["keywords"] & bares)
        ]
        if q.star:
            return sorted(ids)
        ids.sort(reverse=True)
        return ids[q.offset:q.offset + q.limit]

    def query(self, q: gen.Query) -> list[str]:
        from thecrowler_spark.operators import search as SE

        if q.star:
            df = SE.search_entity_star(
                self.si.select("index_id", "page_url"), None, self.si, q.text,
                entity_cols=("page_url",), link_col="page_url", keyword_index=self.ki,
            )
            return [r[0] for r in df.collect()]
        return [r["doc_id"] for r in SE.search(self.pages, q.text).select("doc_id").collect()]

    def op(self, i):
        q = self.queries[i % len(self.queries)]
        t0 = time.perf_counter()
        with self.tracer.span("search.query"):
            got = self.query(q)
        wall = time.perf_counter() - t0
        self.results.append((i, got))
        return wall, 1.0, None

    def check_all(self) -> list[str]:
        """Checks every answered query; returns one error per failure."""
        errs = []
        for i, got in self.results:
            q = self.queries[i % len(self.queries)]
            err = check.search(self._want(q), got, ordered=not q.star)
            if err:
                errs.append(f"query {q.text!r}: {err}")
        self.results = []
        return errs

    def warmup(self):
        for i in range(8):
            self.op(i)
        errs = self.check_all()
        if errs:
            raise RuntimeError(f"warm-up output check failed: {errs[0]}")

    def probe(self):
        from thecrowler_spark.operators import search as SE

        t = []
        for q in self.queries[:50]:
            t0 = time.perf_counter()
            SE.compile_search(q.text)
            t.append(time.perf_counter() - t0)
        t.sort()
        return {"search.compile_ms": 1000.0 * t[len(t) // 2]}


WORKLOADS = {w.name: w for w in (CrawlFresh, RecrawlChained, CurateDocs, SearchServe)}
