"""Seeded input generator for the benchmark.

Everything the program under test receives is made here from the
workload seed alone, with ``random.Random(seed)`` and no other source of
randomness, and written with pyarrow so that the same seed gives
byte-identical parquet files.

Three input families:

- :func:`crawl_inputs` — the ``documents(doc_id, spans)`` corpus of the
  crawl engine, its ``seeds``, ``robots`` and ``budgets`` tables. One
  mega-host holds ``MEGA_FRAC`` of all pages.
- :func:`curate_inputs` — the pipeline's ``(doc_id, text)`` with planted
  exact duplicates, near duplicates, low-quality and boilerplate-only
  documents, plus the stage counts that structure implies.
- :func:`search_queries` — the seeded dorking query mix, each query as a
  structured spec the checker evaluates independently of the program.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

#: share of all pages that live on host 0
MEGA_FRAC = 0.2

_SYL = ["ba", "ke", "lo", "mi", "nu", "ra", "si", "to", "ve", "zo", "da", "fi", "gu", "pe"]
#: fixed vocabulary shared by every seed (the seed picks from it)
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL][:2400]
FOOTER = "all rights reserved example corp contact terms of service"

SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T))])
SEEDS_SCHEMA = pa.schema(
    [
        ("source_id", pa.int64()),
        ("source_uid", pa.string()),
        ("url", pa.string()),
        ("priority", pa.string()),
        ("status", pa.string()),
        ("restricted", pa.int32()),
        ("disabled", pa.bool_()),
        ("flags", pa.int32()),
        ("config", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
        ("last_updated_at", pa.timestamp("us", tz="UTC")),
    ]
)
ROBOTS_SCHEMA = pa.schema(
    [("host", pa.string()), ("rule_type", pa.string()), ("path_prefix", pa.string()),
     ("crawl_delay", pa.float64())]
)
BUDGETS_SCHEMA = pa.schema(
    [("host", pa.string()), ("max_fetches_per_round", pa.int32()), ("interval_seconds", pa.float64())]
)
VISITED_SCHEMA = pa.schema([("source_id", pa.int64()), ("norm_url", pa.string())])
TEXT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

#: wall-clock instant the re-crawl claim runs at; every seed's last
#: update is older than this by more than the re-crawl interval
RECRAWL_NOW = "2026-03-01 00:00:00"
RECRAWL_INTERVAL = "7 days"


def _write(rows: list[dict], schema: pa.Schema, path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path, compression="snappy")


def _host(h: int) -> str:
    return f"h{h}.example.com"


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


# ------------------------------------------------------------------ crawl


@dataclass(frozen=True)
class CrawlSpec:
    n_docs: int
    n_hosts: int
    n_seeds: int
    #: share of sources whose seen state the re-crawl releases
    release_frac: float = 0.1


def crawl_corpus(seed: int, spec: CrawlSpec) -> dict:
    """The crawl inputs as plain Python rows (the oracle reads these)."""
    rng = random.Random(seed)
    n_mega = int(spec.n_docs * MEGA_FRAC)
    host_of = [0] * n_mega + [1 + rng.randrange(spec.n_hosts - 1) for _ in range(spec.n_docs - n_mega)]
    rng.shuffle(host_of)
    pages_by_host: dict[int, list[int]] = {}
    for i, h in enumerate(host_of):
        pages_by_host.setdefault(h, []).append(i)
    hosts = sorted(pages_by_host)

    def url(i: int) -> str:
        return f"https://{_host(host_of[i])}/p{i}"

    docs = []
    for i in range(spec.n_docs):
        h = host_of[i]
        own = pages_by_host[h]
        spans: list[dict] = []

        def add(kind: str, text: str = "", ref: str = "") -> None:
            spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)})

        add("title", f"{_words(rng, 2, 4)} p{i}")
        if rng.random() < 0.5:
            add("meta", "description " + _words(rng, 5, 10))
        if rng.random() < 0.3:
            add("meta", "keywords " + _words(rng, 3, 5))
        for li in range(rng.randint(3, 7)):
            if li < 3:
                add("text", _words(rng, 6, 14))
            r = rng.random()
            if r < 0.04:
                href = rng.choice(["", "   ", "http://", "ht tp://broken.example.com/x"])
            elif r < 0.09:
                href = f"https://ext{rng.randrange(8)}.example.org/x{rng.randrange(50)}"
            elif r < 0.16:
                href = f"/private/s{rng.randrange(3)}"
            elif r < 0.21:
                href = f"https://{_host(h)}/P{rng.choice(own)}"  # dead: doc_id is case-sensitive
            elif r < 0.41:
                href = url(rng.randrange(spec.n_docs))  # cross-host, page-weighted: skewed to host 0
            else:
                t = rng.choice(own)
                rr = rng.random()
                href = f"/p{t}" if rr < 0.35 else url(t) + "/" if rr < 0.5 else url(t)
            add("link", f"link {li}", href)
        docs.append({"doc_id": url(i), "spans": spans})
    for h in hosts:
        for s in range(3):
            docs.append(
                {
                    "doc_id": f"https://{_host(h)}/private/s{s}",
                    "spans": [{"kind": "title", "text": f"private {s}", "media_ref": "", "offset": 0}],
                }
            )

    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    seeds = []
    for sid, i in enumerate(rng.sample(range(spec.n_docs), spec.n_seeds), start=1):
        seeds.append(
            {
                "source_id": sid,
                "source_uid": f"uid-{sid}",
                "url": url(i),
                "priority": rng.choice(["high", "medium", "low"]),
                "status": "new",
                "restricted": rng.choices([2, 4, 1], weights=[85, 10, 5])[0],
                "disabled": False,
                "flags": 0,
                "config": "{}",
                "created_at": base + timedelta(seconds=sid),
                "last_updated_at": None,
            }
        )
    robots = []
    for h in hosts:
        robots.append({"host": _host(h), "rule_type": "disallow", "path_prefix": "/private", "crawl_delay": None})
        robots.append({"host": _host(h), "rule_type": "allow", "path_prefix": "/private/s0", "crawl_delay": None})
    # the host budget is on, but no host can fetch this many pages in a
    # round, so it never defers a fetch and the oracle stays exact
    budgets = [
        {"host": _host(h), "max_fetches_per_round": spec.n_docs + 1, "interval_seconds": 1.0}
        for h in hosts
    ]
    released = sorted(rng.sample([s["source_id"] for s in seeds], int(spec.n_seeds * spec.release_frac)))
    return {"documents": docs, "seeds": seeds, "robots": robots, "budgets": budgets, "released": released}


def recrawl_seeds(seeds: list[dict]) -> list[dict]:
    """The seeds table after a completed crawl: every source is due for
    its periodic re-crawl at :data:`RECRAWL_NOW`."""
    done = datetime(2026, 2, 1, tzinfo=timezone.utc)
    return [dict(s, status="completed", last_updated_at=done) for s in seeds]


def write_crawl_inputs(corpus: dict, out_dir: str) -> dict[str, str]:
    paths = {name: f"{out_dir}/{name}.parquet" for name in
             ("documents", "seeds", "seeds_recrawl", "robots", "budgets", "released")}
    _write(corpus["documents"], DOCS_SCHEMA, paths["documents"])
    _write(corpus["seeds"], SEEDS_SCHEMA, paths["seeds"])
    _write(recrawl_seeds(corpus["seeds"]), SEEDS_SCHEMA, paths["seeds_recrawl"])
    _write(corpus["robots"], ROBOTS_SCHEMA, paths["robots"])
    _write(corpus["budgets"], BUDGETS_SCHEMA, paths["budgets"])
    _write([{"source_id": s} for s in corpus["released"]], pa.schema([("source_id", pa.int64())]),
           paths["released"])
    return paths


def write_visited(rows: list[tuple[int, str]], path: str) -> None:
    """A seen set, ``(source_id, norm_url)`` rows."""
    _write([{"source_id": s, "norm_url": u} for s, u in rows], VISITED_SCHEMA, path)


# ---------------------------------------------------------------- curate


@dataclass(frozen=True)
class CurateSpec:
    n_orig: int
    exact_frac: float = 0.05
    near_frac: float = 0.05
    spam_frac: float = 0.02
    short_frac: float = 0.02
    n_boiler: int = 5


_TOK = re.compile(r"[^a-z0-9]+")


def _band_keys(text: str, n_hashes: int = 8, bands: int = 4, k: int = 3) -> set[tuple[int, str]]:
    """The pipeline's MinHash-LSH band keys, recomputed in plain Python:
    k-token shingles of ``[a-z0-9]+`` runs of the lowercased text,
    ``mh_i = min md5("i:" + shingle)``, band key = md5 of its
    ``|``-joined minhashes. Two docs are LSH candidates iff they share
    a (band, key)."""
    toks = [t for t in _TOK.split(text.lower()) if t]
    sh = {" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)} if len(toks) >= k else {" ".join(toks)}
    mh = [min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh) for i in range(n_hashes)]
    r = n_hashes // bands
    return {(b, hashlib.md5("|".join(mh[b * r:(b + 1) * r]).encode()).hexdigest()) for b in range(bands)}


def curate_corpus(seed: int, spec: CurateSpec) -> tuple[list[dict], dict[str, int]]:
    """Pipeline input rows and the stage counts their structure implies.

    - originals: 4 lines of 12-24 random words + a footer line every
      document shares (the line-dedup stage strips it);
    - exact duplicates: verbatim copies of distinct originals;
    - near duplicates: one extra word on a copy of another original —
      kept only if the LSH replica above makes it a candidate of its
      original, else the copy differs from it by a punctuation mark
      only (same token stream, Jaccard 1);
    - spam: a 3-word cycle (fails the 2-gram repetition screen);
    - short: 8-12 words + footer (fails the 20-token minimum once the
      footer is stripped);
    - boilerplate-only: the footer alone (all copies of one text: exact
      dedup keeps one, line dedup empties it).
    """
    rng = random.Random(seed)
    origs = []
    seen = set()
    while len(origs) < spec.n_orig:
        t = "\n".join(_words(rng, 12, 24) for _ in range(4))
        if t not in seen:
            seen.add(t)
            origs.append(t + "\n" + FOOTER)
    n_exact = int(spec.n_orig * spec.exact_frac)
    n_near = int(spec.n_orig * spec.near_frac)
    picks = rng.sample(range(spec.n_orig), n_exact + n_near)
    texts = list(origs)
    texts += [origs[i] for i in picks[:n_exact]]
    for i in picks[n_exact:]:
        body, _, foot = origs[i].rpartition("\n")
        near = f"{body} {rng.choice(VOCAB)}\n{foot}"
        if not (_band_keys(near) & _band_keys(origs[i])):
            first, _, rest = origs[i].partition(" ")
            near = f"{first} / {rest}"
        texts.append(near)
    pairs = set()
    n_spam = int(spec.n_orig * spec.spam_frac)
    while len(pairs) < n_spam:
        pairs.add(tuple(rng.sample(VOCAB, 3)))
    texts += [" ".join(list(p) * 10) for p in sorted(pairs)]
    n_short = int(spec.n_orig * spec.short_frac)
    texts += [_words(rng, 8, 12) + "\n" + FOOTER for _ in range(n_short)]
    texts += [FOOTER] * spec.n_boiler
    ids = rng.sample(range(10 * len(texts)), len(texts))
    rows = sorted(({"doc_id": i, "text": t} for i, t in zip(ids, texts)), key=lambda r: r["doc_id"])
    n = len(rows)
    exact = n - n_exact - (spec.n_boiler - 1)
    fuzzy = exact - n_near
    line = fuzzy - 1
    quality = line - n_spam - n_short
    expected = {
        "input_rows": n,
        "exact_dedup": exact,
        "fuzzy_dedup": fuzzy,
        "line_dedup": line,
        "quality": quality,
        "packed": quality,
    }
    return rows, expected


def write_curate_inputs(rows: list[dict], path: str) -> None:
    _write(rows, TEXT_SCHEMA, path)


# ---------------------------------------------------------------- search


@dataclass(frozen=True)
class Query:
    """One dorking query. ``groups`` is an OR of AND-groups of terms;
    each term is ``(field or None, text, quoted)``. ``star`` selects the
    index-star search instead of the parsed-pages search."""

    text: str
    groups: tuple[tuple[tuple[str | None, str, bool], ...], ...]
    limit: int
    offset: int
    star: bool


_FIELDS = ("title", "summary", "content")


#: query kinds in the order every query stream cycles through them
_KINDS = ("bare", "field", "phrase", "or", "page")
#: every STAR_EVERY-th query goes to the index star
STAR_EVERY = 8


def search_queries(seed: int, n: int, phrases: list[str]) -> list[Query]:
    """``n`` queries whose terms are drawn from the seed. Kinds and the
    star/pages split follow the query's position, so every stretch of the
    stream has the same mix whatever the seed. ``phrases`` are word
    pairs that occur in the searched pages, so quoted phrases have hits."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for i in range(n):
        star = i % STAR_EVERY == STAR_EVERY - 1
        # the star search ignores &limit/&offset, so it never gets "page"
        kind = _KINDS[(i // STAR_EVERY) % (len(_KINDS) - 1)] if star else _KINDS[i % len(_KINDS)]
        fields = ("title", "summary") if star else _FIELDS
        limit, offset = 10, 0

        def term(quoted_ok: bool = True) -> tuple[str | None, str, bool]:
            if quoted_ok and rng.random() < 0.3:
                return None, rng.choice(phrases), True
            return None, rng.choice(VOCAB), False

        if kind == "bare":
            groups = ((term(False),),)
        elif kind == "field":
            groups = (((rng.choice(fields), rng.choice(VOCAB), False),),)
        elif kind == "phrase":
            groups = (((None, rng.choice(phrases), True),),)
        elif kind == "or":
            groups = tuple(tuple(term() for _ in range(rng.randint(1, 2))) for _ in range(rng.randint(2, 3)))
        else:
            groups = ((term(False), term(False)),)
            limit, offset = rng.choice((5, 20, 50)), rng.choice((0, 3, 10))
        rendered = [
            [f"{f}:{t}" if f else (f'"{t}"' if q else t) for f, t, q in g] for g in groups
        ]
        if kind == "page":
            # control modifiers ride at the end of a token, one per token
            sep = rng.choice((":", "="))
            toks = rendered[0]
            toks[-1] += f"&limit{sep}{limit}"
            if offset:
                toks[0] += f"&offset{sep}{offset}"
        text = " | ".join(" ".join(toks) for toks in rendered)
        out.append(Query(text, groups, limit, offset, star))
    return out
