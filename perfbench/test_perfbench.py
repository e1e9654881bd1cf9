"""Self-tests of the benchmark; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from tests import oracle  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = gen.CrawlSpec(n_docs=300, n_hosts=6, n_seeds=20)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    b = _benchmark()
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    for name in list(e2e) + list(layers) + [w["name"] for w in b["workloads"]]:
        assert NAME.fullmatch(name), name


def test_benchmark_workloads_exist():
    from workloads import WORKLOADS

    for w in _benchmark()["workloads"]:
        assert w["name"] in WORKLOADS


def _digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_crawl_inputs_are_byte_identical_per_seed(tmp_path):
    dirs = []
    for i, seed in enumerate((5, 5, 6)):
        d = tmp_path / str(i)
        d.mkdir()
        gen.write_crawl_inputs(gen.crawl_corpus(seed, SMALL), str(d))
        dirs.append(_digests(str(d)))
    assert dirs[0] == dirs[1]
    assert dirs[0]["documents.parquet"] != dirs[2]["documents.parquet"]
    assert dirs[0]["released.parquet"] != dirs[2]["released.parquet"]


def test_curate_inputs_and_queries_are_identical_per_seed(tmp_path):
    spec = gen.CurateSpec(n_orig=200)
    paths = []
    for i, seed in enumerate((5, 5, 6)):
        rows, expected = gen.curate_corpus(seed, spec)
        p = tmp_path / f"{i}.parquet"
        gen.write_curate_inputs(rows, str(p))
        paths.append((p.read_bytes(), expected))
    assert paths[0] == paths[1]
    assert paths[0][0] != paths[2][0]
    q = [gen.search_queries(s, 30, ["baba keke"]) for s in (5, 5, 6)]
    assert q[0] == q[1] != q[2]


def test_mega_host_holds_its_share():
    docs = gen.crawl_corpus(1, SMALL)["documents"][: SMALL.n_docs]
    mega = sum(d["doc_id"].startswith("https://h0.example.com/") for d in docs)
    assert mega == int(SMALL.n_docs * gen.MEGA_FRAC)


def _crawl_result() -> dict:
    c = gen.crawl_corpus(3, SMALL)
    r = oracle.crawl_all(
        c["documents"], c["seeds"], oracle.OracleConfig(max_depth=2, check_robots=True),
        robots=c["robots"],
    )
    return {
        "order": sorted(r.crawl_order),
        "visited": sorted(r.visited),
        "counters": {str(k): v for k, v in r.counters.items()},
    }


def test_crawl_check_fails_on_corrupted_output():
    want = _crawl_result()
    assert check.crawl(want, want) is None
    order = list(want["order"])
    sid, seq, depth, url = order[-1]
    order[-1] = (sid, seq, depth, url + "x")
    assert check.crawl(want, dict(want, order=order))
    assert check.crawl(want, dict(want, visited=want["visited"][1:]))
    counters = json.loads(json.dumps(want["counters"]))
    counters[next(iter(counters))]["duplicates"] += 1
    assert check.crawl(want, dict(want, counters=counters))


def test_recrawl_check_fails_on_refetched_prior_url():
    want = _crawl_result()
    sid, _, depth, url = next(r for r in want["order"] if r[2] > 0)
    prior = {(sid, oracle.normalize_url_seen(url))}
    assert check.recrawl(want, want, prior, released={sid}) is None
    assert "refetched" in check.recrawl(want, want, prior, released=set())


def test_curate_check_fails_on_wrong_stage_count():
    _, expected = gen.curate_corpus(2, gen.CurateSpec(n_orig=200))
    stages = dict(expected)
    assert check.curate(expected, stages) is None
    stages["fuzzy_dedup"] += 1
    assert check.curate(expected, stages)


def test_search_check_fails_on_wrong_ids():
    want = ["c", "b", "a"]
    assert check.search(want, list(want), ordered=True) is None
    assert check.search(want, ["a", "b", "c"], ordered=True)
    assert check.search(want, ["a", "b", "c"], ordered=False) is None
    assert check.search(want, want[:2], ordered=False)


def test_tail_needs_ten_samples_beyond_it():
    assert run.tail([1.0, 2.0, 3.0]) == (3.0, "max")
    walls = [float(i) for i in range(1, 41)]
    value, name = run.tail(walls)
    assert sum(w > value for w in walls) == 10 and name == "p75.0"
