"""Search exactness: the SQL-string predicate against a plain-Python LIKE
model on adversarial terms, the doc_id-keyed invariant that lets page
search skip DISTINCT, and the range check on in-query &limit/&offset."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from thecrowler_spark.operators.search import (
    DEFAULT_FIELDS,
    compile_search,
    parse_query,
    search,
    search_entity_star,
)

#: (doc_id, title, summary, body_text, details)
ROWS = [
    ("d01", "It's here", "", "nothing", "{}"),
    ("d02", "path", "a\\b", "", "{}"),
    ("d03", "", "100% sure", "", "{}"),
    ("d04", "", "", "1000 tokens", "{}"),
    ("d05", "x_y var", "", "", "{}"),
    ("d06", "xzy", "", "", "{}"),
    ("d07", "", "back`tick", "", "{}"),
    ("d08", "ÜNÏCÖDÉ title", "", "", "{}"),
    ("d09", "", "", 'they say "hi" loudly', "{}"),
    ("d10", "", "", "", json.dumps({"a": {"b'c": "It's VAL"}})),
    ("d11", "plain", "plain", "plain", json.dumps({"a": {"b": "val"}})),
]
SCHEMA = "doc_id string, title string, summary string, body_text string, details string"


def _like(value: str, pattern: str) -> bool:
    """Spark's LIKE with the default escape '\\': '_' is one character,
    '%' any run, '\\' escapes only '_', '%' or itself."""
    out, chars = [], iter(pattern)
    for c in chars:
        if c == "\\":
            n = next(chars, None)
            if n is None or n not in "_%\\":
                raise ValueError(f"invalid escape in {pattern!r}")
            out.append(re.escape(n))
        elif c == "_":
            out.append(".")
        elif c == "%":
            out.append(".*")
        else:
            out.append(re.escape(c))
    return re.fullmatch("".join(out), value, re.DOTALL) is not None


def _json_get(details: str, path: list[str]) -> str | None:
    v = json.loads(details)
    for k in path:
        if not isinstance(v, dict) or k not in v:
            return None
        v = v[k]
    return v if isinstance(v, str) else json.dumps(v)


def _model(rows, cols, dnf) -> set[str]:
    """Ids whose row satisfies ``dnf``: an OR of AND-groups of
    (fields or ('@', path), LIKE pattern) terms over lowercased values."""

    def term(row, fields, pattern):
        if fields[0] == "@":
            v = _json_get(row["details"], fields[1])
            return v is not None and _like(v.lower(), pattern)
        return any(_like(row[f].lower(), pattern) for f in fields)

    recs = [dict(zip(cols, r)) for r in rows]
    return {r["doc_id"] for r in recs if any(all(term(r, f, p) for f, p in g) for g in dnf)}


D = DEFAULT_FIELDS
#: query → the OR of AND-groups it means, written out by hand
CASES = [
    ("it's", [[(D, "%it's%")]]),
    ("a\\b", [[(D, "%a\\b%")]]),  # '\b' is no LIKE escape: an error
    ("a\\\\b", [[(D, "%a\\\\b%")]]),  # an escaped backslash matches one
    ("100%", [[(D, "%100%%")]]),
    ("x_y", [[(D, "%x_y%")]]),
    ("back`tick", [[(D, "%back`tick%")]]),
    ("Ünïcödé", [[(D, "%ünïcödé%")]]),
    ('"say \\"hi\\""', [[(D, '%say "hi"%')]]),
    ("@a.b'c:it's", [[(("@", ["a", "b'c"]), "%it's%")]]),
    ("title:it's | summary:100% x_y", [[(("title",), "%it's%")], [(("summary",), "%100%%"), (D, "%x_y%")]]),
]


def _outcome(f):
    try:
        return f()
    except ValueError:
        return "error"
    except Exception as e:  # Spark rejects the pattern while planning
        assert "ESC_IN_THE_MIDDLE" in str(e), e
        return "error"


@pytest.mark.parametrize("query,dnf", CASES, ids=[q for q, _ in CASES])
def test_compiled_predicate_matches_python_like(spark, query, dnf):
    pages = spark.createDataFrame(ROWS, SCHEMA)
    cols = pages.columns
    want = _outcome(lambda: _model(ROWS, cols, dnf))
    got = _outcome(lambda: {r["doc_id"] for r in search(pages, query, limit=100).collect()})
    assert got == want


def test_star_quotes_field_names_and_literals(spark):
    """si_fields with a backtick in the name, literals with quotes and
    backslashes: the star's one SQL WHERE gives the model's ids."""
    rows = [(f"i{k}", f"https://h.example.com/{k}", t, s) for k, (t, s) in enumerate(
        [("It's", ""), ("", "x_y"), ("xzy", ""), ("", "a\\b"), ("none", "none")]
    )]
    si = spark.createDataFrame(rows, "index_id string, page_url string, `ti``tle` string, summary string")
    fields = ("ti`tle", "summary")
    for query, dnf in [
        ("it's | x_y", [[(fields, "%it's%")], [(fields, "%x_y%")]]),
        ("a\\\\b", [[(fields, "%a\\\\b%")]]),
    ]:
        df = search_entity_star(
            si.select("index_id", "page_url"), None, si, query,
            entity_cols=("page_url",), link_col="page_url", si_fields=fields,
        )
        got = {r["page_url"] for r in df.collect()}
        want = {r[1] for r in rows if any(
            all(any(_like(v.lower(), p) for v in r[2:]) for _, p in g) for g in dnf)}
        assert got == want, query


SPAN = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
WORDS = ("alpha", "beta", "gamma", "delta", "spark", "crawl")


def _corpus(spark, n: int = 40):
    rows = []
    for k in range(n):
        words = [WORDS[(k * j + j) % len(WORDS)] for j in range(1, 6)]
        rows.append((
            f"https://h{k % 4}.example.com/p{k:02d}",
            [("title", f"Page {k} {words[0]}", "", 0), ("text", " ".join(words), "", 1)],
        ))
    return spark.createDataFrame(rows, f"doc_id string, spans {SPAN}")


def test_keyed_pages_make_distinct_redundant(spark):
    """parse_documents is 1:1, so a doc_id-keyed corpus gives a doc_id-
    keyed page table and a search_index keyed by index_id; on it, page
    search without DISTINCT equals the dropDuplicates reference."""
    from thecrowler_spark.operators.indexer import build_index_tables
    from thecrowler_spark.operators.spans import parse_documents

    docs = _corpus(spark)
    pages = parse_documents(docs).cache()
    n = docs.count()
    assert docs.select("doc_id").distinct().count() == n
    assert pages.count() == n
    assert pages.select("doc_id").distinct().count() == n
    si = build_index_tables(pages)["search_index"]
    assert si.count() == si.select("index_id").distinct().count() == n

    for q, limit, offset in [
        ("alpha", 10, 0), ("spark crawl", 10, 0), ("beta | title:page&limit:7", 7, 0),
        ("gamma&offset:3", 10, 3), ("delta&limit:4 &offset:2", 4, 2),
    ]:
        ref = (
            pages.filter(compile_search(q)).dropDuplicates(["doc_id"])
            .orderBy(F.desc("doc_id")).offset(offset).limit(limit)
        )
        got = [r["doc_id"] for r in search(pages, q).collect()]
        assert got == [r["doc_id"] for r in ref.collect()], q
        assert got, q
    pages.unpersist()


@pytest.mark.parametrize(
    "query,name",
    [("t&limit:-1", "limit"), ("t&offset:-2", "offset"),
     ("t&limit:99999999999", "limit"), ("t&offset=2147483648", "offset")],
)
def test_out_of_range_modifier_is_rejected(spark, query, name):
    """Rejected while parsing, before Spark plans a LIMIT/OFFSET it
    cannot take."""
    with pytest.raises(ValueError, match=f"&{name}"):
        parse_query(query, limit=10)
    with pytest.raises(ValueError, match=f"&{name}"):
        search(spark.createDataFrame(ROWS, SCHEMA), query)


def test_modifier_range_bounds_accepted():
    assert parse_query("t&limit:2147483647 &offset:0", limit=10)[1:] == (2147483647, 0)
    assert parse_query("t&limit:0", limit=10)[1] == 0
