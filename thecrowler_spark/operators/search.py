"""Search: the reference's "dorking" query language compiled to SQL predicates.

Reference pipeline (/root/reference/pkg/search/search.go:39-110,
tokenizer.go:55-130,490-510): tokenize (quoted phrases, ``\\`` escape,
``field:term`` OR ``field=term`` — ``:``/``=`` end a specifier only
when it passes ``isValidSpecifier`` (tokenizer.go:82-86,199-207),
``|`` = OR, ``&`` = AND, bare juxtaposition = AND) → per-token
``&limit:N``/``&limit=N``/``&offset`` control-modifier extraction
(tokenizer.go:329-330,561-574) → compile each term to a
case-insensitive ``LIKE %term%`` over the default fields → prepend the
star join (/root/reference/pkg/search/sql_templates.go:5-56).

Here: the same token grammar compiled to one SQL predicate string,
parsed on the JVM side in one call — the filter then pushes into the
scan for free.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: searchable fields → column names (SearchIndex star analog)
DEFAULT_FIELDS = ("title", "summary", "body_text")
#: reference specifiers (isValidSpecifier, tokenizer.go:199-207) mapped
#: to our page-schema columns, plus documented extensions (body/url/lang)
FIELD_ALIASES = {
    "title": "title",
    "summary": "summary",
    "content": "body_text",
    "file_type": "file_type",
    "body": "body_text",  # extension
    "url": "doc_id",  # extension
    "lang": "detected_lang",  # extension
}

#: the reference's full valid-specifier set (tokenizer.go:199-207);
#: 'details'/'&details' compile to the JSON details probe, 'limit' /
#: 'offset' are control words handled by extract_control_modifier
VALID_SPECIFIERS = frozenset(
    ("title", "summary", "content", "details", "&details", "offset", "&offset",
     "limit", "&limit", "file_type")
) | frozenset(FIELD_ALIASES)

#: '&' is an operator only when doubled or space-surrounded
#: (tokenizer.go:96-118); otherwise it stays inside the token — URL
#: query strings ("?a=1&b=2") and attached control modifiers
#: ("term&limit:10") survive as one token.
_TOKEN_RE = re.compile(
    r"""
    \s*(
        "(?:[^"\\]|\\.)*"            # quoted phrase
      | \|                           # OR operator
      | &&                           # doubled AND operator
      | &(?=\s|$)                    # standalone space-delimited AND
      | (?:[^\s|&]|&(?!&)(?!\s))+    # bare term (may embed ':'/'='/&modifier)
    )
    """,
    re.VERBOSE,
)


def is_valid_specifier(spec: str) -> bool:
    """``isValidSpecifier`` tokenizer.go:199-207: ``@``-prefixed JSON
    paths plus the fixed word list; anything else keeps its ':'/'='
    literal (so ``foo:bar`` is a substring term, not a field probe)."""
    return spec.startswith("@") or spec.lower() in VALID_SPECIFIERS


def extract_control_modifier(value: str, name: str, current: int | None):
    """``extractControlModifier`` tokenizer.go:561-574, transcribed:
    find ``&name:`` or ``&name=``; the REMAINDER of the token is the
    integer value (so modifiers sit at a token's end); parse failure
    leaves the token intact."""
    for sep in (":", "="):
        marker = f"&{name}{sep}"
        idx = value.find(marker)
        if idx >= 0:
            mod = value[idx + len(marker):]
            try:
                current = int(mod)
                value = value[:idx]
            except ValueError:
                pass
            break
    return value, current


#: largest LIMIT/OFFSET Spark accepts (a 32-bit int)
_MAX_INT = 2**31 - 1


def tokenize(query: str) -> list[str]:
    """Token stream per tokenizer.go:55-130 (quotes + escapes kept)."""
    return [m.group(1) for m in _TOKEN_RE.finditer(query)]


def parse_query(query: str, limit: int | None = None, offset: int = 0):
    """Tokenize + per-token control-modifier extraction
    (tokenizer.go:329-330: limit first, then offset, on every token).
    Returns (tokens, limit, offset); tokens emptied by extraction drop.
    Note: '&' is both the AND operator (whitespace-separated) and the
    modifier marker (inside a token) — the tokenizer already split
    standalone '&', so only embedded '&limit'/' &offset' reach here.
    A limit or offset outside [0, 2^31 - 1] (Spark's LIMIT/OFFSET range)
    raises ValueError naming the modifier."""
    out: list[str] = []
    for t in tokenize(query):
        if t not in ("|", "&") and '"' not in t:
            t, limit = extract_control_modifier(t, "limit", limit)
            t, offset = extract_control_modifier(t, "offset", offset)
        if t:
            out.append(t)
    for name, v in (("limit", limit), ("offset", offset)):
        if v is not None and not 0 <= v <= _MAX_INT:
            raise ValueError(f"&{name} must be in [0, {_MAX_INT}], got {v}")
    return out, limit, offset


#: column holding the semi-structured details JSON probed by @path terms
#: (reference: WebObjects.details JSONB, tokenizer.go:343-360 compiles
#: ``@a.b.c:v`` to a ``details->'a'->'b'->>'c' LIKE`` accessor chain)
JSON_DETAILS_COL = "details"


_SEP_RE = re.compile(r"^([^:=]*)([:=])(.*)$", re.DOTALL)

#: the star's keyword-hit flag column (TRUE where a bare term equals a
#: keyword of the row's index_id, NULL otherwise)
_KW_HIT = "_kw_hit"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: ``\\`` doubled first, then
    ``'`` escaped, so the parser hands back exactly ``s``."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_col(name: str) -> str:
    """``name`` as a backtick-quoted column reference (a backtick in the
    name is doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _unquote(term: str) -> str:
    """A quoted phrase's text (``\\"`` and ``\\\\`` unescaped); other
    terms as they are."""
    if term.startswith('"') and term.endswith('"') and len(term) >= 2:
        return term[1:-1].replace('\\"', '"').replace("\\\\", "\\")
    return term


def _term_sql(term: str, default_fields: tuple[str, ...]) -> str:
    field = None
    json_path = None
    details_probe = False
    if '"' not in term:
        m = _SEP_RE.match(term)
        if m and m.group(3) and is_valid_specifier(m.group(1)):
            spec, rest = m.group(1), m.group(3)
            low = spec.lower()
            if spec.startswith("@"):
                json_path, term = "$." + spec[1:], rest
            elif low in ("details", "&details"):
                details_probe, term = True, rest
            elif low in FIELD_ALIASES:
                field, term = FIELD_ALIASES[low], rest
            # bare 'limit:'/'offset:' specifiers fall through as literal
            # terms (the &-marked forms are the control-modifier path)
    term = _unquote(term)
    # LIKE's escape character stays the default backslash, as with Column.like
    like = "LIKE " + _sql_str(f"%{term.lower()}%")
    if json_path:
        return f"lower(get_json_object({_sql_col(JSON_DETAILS_COL)}, {_sql_str(json_path)})) {like}"
    if details_probe:
        # 'details:v' probes the whole semi-structured blob as text
        # (WebObjects.details::text LIKE, sql_templates.go)
        return f"lower(CAST({_sql_col(JSON_DETAILS_COL)} AS STRING)) {like}"
    fields = (field,) if field else default_fields
    if not fields:
        return "false"
    return "(" + " OR ".join(f"lower({_sql_col(f)}) {like}" for f in fields) + ")"


def _predicate_sql(tokens: list[str], default_fields: tuple[str, ...] = DEFAULT_FIELDS) -> str:
    """The token stream as one SQL boolean expression: an OR of
    AND-groups. The JVM parses it in one call, instead of one py4j round
    trip per Column node."""
    or_groups: list[list[str]] = [[]]
    for t in tokens:
        if t == "|":
            or_groups.append([])
        elif t not in ("&", "&&"):
            or_groups[-1].append(t)
    ors = [
        "(" + " AND ".join(_term_sql(term, default_fields) for term in group) + ")"
        for group in or_groups
        if group
    ]
    return " OR ".join(ors) or "false"


def compile_search(query: str) -> Column:
    """Compile a dorking query to one Column predicate.

    Grammar: OR ('|') binds looser than AND ('&'/'&&' or juxtaposition)
    — i.e. ``a b | c`` = (a AND b) OR c. Control modifiers are stripped
    (use :func:`search` or :func:`parse_query` to consume them).
    """
    tokens, _, _ = parse_query(query)
    return F.expr(_predicate_sql(tokens))


def search(pages: DataFrame, query: str, limit: int = 10, offset: int = 0) -> DataFrame:
    """Recency order + limit/offset, per the reference templates
    (sql_templates.go:6,49; search.go:112-130 defaults — reference
    default limit is 10). In-query ``&limit``/``&offset`` control
    modifiers override the arguments (tokenizer.go:329-330).

    Precondition: ``pages`` holds one row per ``doc_id`` — the
    SearchIndex analog (``ON CONFLICT(page_url)``), as
    ``spans.parse_documents`` yields from a ``doc_id``-keyed corpus. No
    join fans rows out here, so the templates' DISTINCT has nothing to
    remove and is not applied: the plan is scan → filter →
    TakeOrderedAndProject, one job and no shuffle. Dedup an unkeyed
    input before calling."""
    tokens, limit, offset = parse_query(query, limit, offset)
    out = pages.filter(_predicate_sql(tokens)).orderBy(F.desc("doc_id"))
    if offset:
        out = out.offset(offset)
    return out.limit(limit)


def bare_terms(tokens: list[str]) -> list[str]:
    """Terms that hit the DEFAULT fields (no valid specifier) — these
    also join the appended keyword-equality group
    (buildCombinedQuery keyword group, tokenizer.go:520-531)."""
    out = []
    for t in tokens:
        if t in ("|", "&", "&&"):
            continue
        m = _SEP_RE.match(t)
        if m and m.group(3) and is_valid_specifier(m.group(1)):
            continue
        out.append(_unquote(t).lower())
    return out


def search_entity_star(
    entity: DataFrame,
    bridge: DataFrame | None,
    search_index: DataFrame,
    query: str,
    entity_cols: tuple[str, ...],
    link_col: str | None,
    keyword_index: DataFrame | None = None,
    source_search_index: DataFrame | None = None,
    sources: DataFrame | None = None,
    si_fields: tuple[str, ...] = ("title", "summary"),
) -> DataFrame:
    """Per-entity search template family (sql_templates.go:58-287:
    Screenshots / WebObjects / ScrapedData / NetInfo / HTTPInfo bodies).

    Shape, faithful to every template: entity JOIN bridge JOIN
    SearchIndex, LEFT JOIN the keyword chain, LEFT JOIN the source
    chain; WHERE = non-empty ``link_col`` guard AND (the compiled
    dorking predicate over the SearchIndex text fields OR exact keyword
    equality for the query's bare terms — buildCombinedQuery's appended
    keyword group); DISTINCT projection with ``COALESCE(source_uid,
    '')``. ``link_col=None`` drops the guard — the NetInfo / HTTPInfo
    bodies (sql_templates.go:247-287) project no page link and filter
    on the compiled predicate alone.

    Plan shape: every join is an equi-join (bridge/index_id/keyword/
    source_id); sources is a broadcast dimension; DISTINCT is one
    shuffle on the (small) projection. The keyword chain is pre-filtered
    to the query's bare terms and broadcast as an ``index_id`` flag; a
    query with no bare terms does not read ``keyword_index`` at all. The
    WHERE clause is one SQL expression string.
    """
    tokens, _, _ = parse_query(query)
    cond = _predicate_sql(tokens, si_fields)

    if bridge is not None:
        ent_keys = [c for c in bridge.columns if c in entity.columns]
        df = entity.join(bridge, ent_keys)
    else:
        # Screenshots-shaped entities carry index_id directly
        # (sqlScreenshotBody: `s.index_id = si.index_id`, no bridge table)
        df = entity
    df = df.join(search_index.selectExpr("index_id", *map(_sql_col, si_fields)), "index_id")

    bares = bare_terms(tokens) if keyword_index is not None else []
    if bares:
        # keyword equality only ever matches a bare term, so only those
        # keyword rows can set the flag; duplicate hits per index_id fan
        # rows out, which the DISTINCT projection absorbs
        hits = keyword_index.filter(
            f"keyword IN ({', '.join(map(_sql_str, bares))})"
        ).selectExpr("index_id", f"true AS {_KW_HIT}")
        df = df.join(F.broadcast(hits), "index_id", "left")
        cond = f"({cond}) OR {_KW_HIT}"

    proj: list[str] = []
    if source_search_index is not None and sources is not None:
        df = df.join(source_search_index.select("index_id", "source_id"), "index_id", "left")
        df = df.join(
            F.broadcast(sources.select("source_id", "source_uid")), "source_id", "left"
        )
        proj.append("coalesce(source_uid, '') AS source_uid")
    proj.extend(_sql_col(c) for c in entity_cols)

    if link_col is not None:
        link = _sql_col(link_col)
        cond = f"{link} IS NOT NULL AND {link} != '' AND ({cond})"
    return df.filter(cond).selectExpr(*proj).distinct()
