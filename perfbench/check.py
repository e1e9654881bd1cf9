"""Output checks. Each compares plain Python data collected from one
run's outputs with an expected result computed once per seed outside the
timed region; each returns ``None`` when the output is right and a short
description of the first difference otherwise."""

from __future__ import annotations

from tests.oracle import normalize_url_seen


def _first_diff(name: str, expected, observed) -> str | None:
    if expected == observed:
        return None
    if isinstance(expected, dict) and isinstance(observed, dict):
        for k in sorted(set(expected) | set(observed), key=repr):
            if expected.get(k) != observed.get(k):
                return f"{name}[{k!r}]: expected {expected.get(k)!r}, got {observed.get(k)!r}"
    if isinstance(expected, (list, set)) and isinstance(observed, (list, set)):
        e, o = set(map(tuple, expected)), set(map(tuple, observed))
        missing, extra = sorted(e - o)[:3], sorted(o - e)[:3]
        if missing or extra:
            return f"{name}: {len(e - o)} missing {missing}, {len(o - e)} unexpected {extra}"
        return f"{name}: same rows in another order"
    return f"{name}: expected {expected!r}, got {observed!r}"


def crawl(expected: dict, observed: dict) -> str | None:
    """Crawl order ``(source_id, seq, depth, url)``, visited
    ``(source_id, norm_url)`` and per-source counters must be equal."""
    for key in ("order", "visited", "counters"):
        diff = _first_diff(key, expected[key], observed[key])
        if diff:
            return diff
    return None


def recrawl(expected: dict, observed: dict, prior: set, released: set) -> str | None:
    """As :func:`crawl`, and no page below depth 0 may be a URL the prior
    seen set holds for a source that was not released."""
    diff = crawl(expected, observed)
    if diff:
        return diff
    for sid, _seq, depth, url in observed["order"]:
        if depth > 0 and sid not in released and (sid, normalize_url_seen(url)) in prior:
            return f"unreleased prior URL refetched: source {sid} {url}"
    return None


def curate(expected: dict, stages: dict) -> str | None:
    """The pipeline's stage counts must match the planted structure."""
    return _first_diff("stages", expected, {k: stages.get(k) for k in expected})


def search(expected: list, observed: list, ordered: bool) -> str | None:
    """Result ids of one query; the star search returns a set."""
    if not ordered:
        expected, observed = sorted(expected), sorted(observed)
    if expected == observed:
        return None
    return f"expected {len(expected)} ids {expected[:3]}..., got {len(observed)} {observed[:3]}..."
