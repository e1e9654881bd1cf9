"""The crawl round table's contracts: what each round commits, what the
lineage rows report, and how the engine labels its Spark jobs."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from thecrowler_spark.operators.frontier import CrawlConfig, CrawlEngine
from thecrowler_spark.sources.corpus import CorpusSpec, corpus_to_spark, small_corpus
from tests import oracle as O

MODES = ["", "bloom", "cuckoo"]


def _round_deltas(spark, work_dir: str, run_id: str, name: str) -> dict[int, list[tuple]]:
    """Committed ``<name>_delta`` rows of every round, by round."""
    out = {}
    for d in sorted(glob.glob(f"{work_dir}/{run_id}/r*/{name}_delta")):
        rnd = int(os.path.basename(os.path.dirname(d))[1:])
        out[rnd] = [tuple(r) for r in spark.read.parquet(d).collect()]
    return out


def _assert_attempted_unseen(spark, work_dir, run_id, prior: set) -> int:
    """Each round's visited delta (the projection of its attempted rows)
    is unique per (source_id, norm_url) and disjoint from the live seen
    set of that round: the chained prior set plus every earlier delta.
    Returns how many keys the rounds after depth 0 committed."""
    seen = set(prior)
    deltas = _round_deltas(spark, work_dir, run_id, "visited")
    assert sorted(deltas) == list(range(len(deltas))), sorted(deltas)
    n_new = 0
    for rnd, rows in sorted(deltas.items()):
        keys = [(sid, url) for sid, url in rows]
        assert len(keys) == len(set(keys)), f"round {rnd}: repeated attempted key"
        again = set(keys) & seen
        assert not again, f"round {rnd}: attempted already-seen keys {sorted(again)[:3]}"
        seen |= set(keys)
        if rnd > 0:
            n_new += len(keys)
    return n_new


@pytest.mark.parametrize("mode", MODES, ids=[m or "exact" for m in MODES])
def test_attempted_rows_unique_and_unseen(spark, tmp_path, mode):
    """The invariant that lets a round commit its attempted rows as the
    visited delta with no dedup and no anti-join against the seen set,
    in every seen-filter mode: a run chained on a prior seen set (the
    oracle's depth-1 visited set with one source released for
    re-crawl), killed after one round and resumed by a new engine."""
    corpus = small_corpus(CorpusSpec(n_hosts=3, pages_per_host=12, skew_host_factor=3))
    dfs = corpus_to_spark(spark, corpus)
    released = min(s["source_id"] for s in corpus["seeds"])
    seen = O.crawl_all(
        corpus["documents"], corpus["seeds"], O.OracleConfig(max_depth=1),
        robots=corpus["robots_rules"],
    ).visited
    prior_keys = {k for k in seen if k[0] != released}
    prior = spark.createDataFrame(
        sorted(prior_keys), dfs["seeds"].select("source_id").schema.add("norm_url", "string")
    )
    wd = str(tmp_path / "state")

    def run(max_rounds, resume=False):
        cfg = CrawlConfig(max_depth=3, max_rounds=max_rounds, seen_filter=mode)
        eng = CrawlEngine(spark, dfs["documents"], cfg=cfg, work_dir=wd)
        return eng.run(dfs["seeds"], run_id="chained", resume=resume, initial_visited=prior)

    run(1)
    out = run(8, resume=True)
    assert _assert_attempted_unseen(spark, wd, "chained", prior_keys) > 0
    # non-vacuous: the rounds did meet prior-seen links
    assert sum(c["duplicates"] for c in out.counters.values()) > 0


class _RoundCounters(CrawlEngine):
    """Records the totals of the counters table each round commits."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.round_totals: dict[int, dict[str, int]] = {}

    def _ckpt(self, df, run_id, rnd, name):
        out = super()._ckpt(df, run_id, rnd, name)
        if name == "counters":
            row = out.agg(*[F.sum(k).alias(k) for k in ("pages", "skipped", "duplicates", "errors")]).first()
            self.round_totals[rnd] = {k: int(row[k] or 0) for k in row.asDict()}
        return out


@pytest.mark.parametrize("with_work_dir", [False, True], ids=["local", "work_dir"])
def test_lineage_rows_equal_counter_changes(spark, tmp_path, with_work_dir):
    """Each lineage round reports what that round added to the per-source
    counters — fetched = pages, skipped, duplicates, errors — and its
    skew figures describe a non-empty round table. A host budget that
    binds puts deferred rows in the rounds, which no counter counts."""
    corpus = small_corpus(CorpusSpec(n_hosts=3, pages_per_host=12, skew_host_factor=3))
    dfs = corpus_to_spark(spark, corpus)
    budgets = spark.createDataFrame([("h0.example.com", 2)], "host string, max_fetches_per_round int")
    eng = _RoundCounters(
        spark, dfs["documents"],
        cfg=CrawlConfig(max_depth=3, max_rounds=8, use_host_budget=True),
        budgets=budgets,
        work_dir=str(tmp_path / "state") if with_work_dir else None,
    )
    res = eng.run(dfs["seeds"], run_id="lin")
    lin = {r["round"]: r for r in res.lineage}
    tot = eng.round_totals
    assert sorted(lin) == sorted(tot) and len(lin) == 4
    assert lin[0]["fetched"] == tot[0]["pages"]
    for rnd in range(1, 4):
        change = {k: tot[rnd][k] - tot[rnd - 1][k] for k in tot[rnd]}
        got = {
            "pages": lin[rnd]["fetched"],
            "skipped": lin[rnd]["skipped"],
            "duplicates": lin[rnd]["duplicates"],
            "errors": lin[rnd]["errors"],
        }
        assert got == change, (rnd, got, change)
        assert lin[rnd]["partitions"] >= 1 and lin[rnd]["max_partition_rows"] >= 1
        assert lin[rnd]["skew_ratio"] >= 1.0
    # non-vacuous: every counter moved, and the budget bound in rounds
    # that went on to fetch more of the host
    last = tot[3]
    assert all(last[k] > tot[0][k] for k in last), last
    h0 = [r["depth"] for r in res.pages.collect() if "h0.example.com" in r["url"] and r["depth"] > 0]
    per_depth = {d: h0.count(d) for d in set(h0)}
    assert max(per_depth.values()) == 2 and len(per_depth) > 1, per_depth


def test_engine_names_its_phases_in_job_descriptions(spark):
    """Every Spark job of a crawl carries ``crawl/<run_id>/r<k>/<phase>``
    as its description; the caller's description comes back afterwards
    and the caller's job group is left on every job."""
    corpus = small_corpus(CorpusSpec(n_hosts=2, pages_per_host=8))
    dfs = corpus_to_spark(spark, corpus)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty(30_000)
        js = jsc.statusStore().jobsList(None)
        return [js.apply(i) for i in range(js.size())]

    before = max((j.jobId() for j in jobs()), default=-1)
    eng = CrawlEngine(spark, dfs["documents"], cfg=CrawlConfig(max_depth=2, max_rounds=4))
    sc.setJobGroup("caller-group", "caller")
    sc.setLocalProperty("spark.job.description", "caller-desc")
    try:
        eng.run(dfs["seeds"], run_id="named")
        assert sc.getLocalProperty("spark.job.description") == "caller-desc"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.jobGroup.id", None)
    new = [j for j in jobs() if j.jobId() > before]
    descs = {j.description().get() for j in new if j.description().isDefined()}
    for rnd, phase in [(0, "pages"), (0, "frontier"), (0, "counters"), (1, "classify"),
                       (1, "pages"), (1, "visited"), (1, "frontier"), (2, "counters")]:
        assert f"crawl/named/r{rnd}/{phase}" in descs, (rnd, phase, sorted(descs))
    assert {j.jobGroup().get() for j in new} == {"caller-group"}


def test_parsed_is_built_on_first_read(spark):
    """The full parse is planned only when a caller reads it (a crawl
    never does), then kept for every later read."""
    corpus = small_corpus(CorpusSpec(n_hosts=1, pages_per_host=4))
    dfs = corpus_to_spark(spark, corpus)
    eng = CrawlEngine(spark, dfs["documents"])
    assert eng._parsed is None
    parsed = eng.parsed
    assert parsed is eng.parsed
    assert {"doc_id", "title", "keywords", "content_hash"} <= set(parsed.columns)
    assert parsed.count() == len(corpus["documents"])
