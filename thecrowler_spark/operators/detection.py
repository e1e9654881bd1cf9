"""Technology detection: broadcast signature rules over pages.

Re-expresses ``DetectTechnologies``
(/root/reference/pkg/detection/detection.go:57-223) Spark-first: the
rule table is tiny and broadcast; each signature kind becomes one
vectorized match leg (regexp over body/url/header/meta columns); match
events union and aggregate per (page, object) with map-side partial
aggregation; implied technologies are one broadcast self-join pass;
the confidence curve (detection.go:414-432) is a pure Column CASE.

Semantics transcribed (file:line):

- keyword/body signatures over the lowercased+trimmed response body
  (``detectTechnologiesByKeyword`` + ``detectTechBySignatureValue``,
  detection.go:476-540). ``key='*'`` is the whole-body form;
  CSS-selector keys (the ``doc.Find(key).Each`` branch,
  detection.go:492-514) are supported when pages carry a
  ``selectors map<selector, array<struct<text, attrs>>>`` column — the
  DOM extraction as data, one array entry per matched element (the
  browser/DOM parse itself stays out of scope, like screenshots).
- URL micro-signatures (``detectTechByURL``, detection.go:869-883) —
  regex over the RAW url (the reference does not lowercase it).
- HTTP header signatures (``detectTechByTagHelper``,
  detection.go:624-657): regex over the lowercased header value;
  the ``"!*"`` negative form SUBTRACTS confidence and sets no type.
  Simplification (documented divergence): the reference checks
  ``!strings.Contains(tag, Key)`` against whichever header tag is
  being iterated (reachable mainly via its Host-Header catch-all);
  here the negative rule fires when the header named ``key`` is
  ABSENT from the page — the evident intent per the reference's own
  comment ("check if the Signature Key is not present in the header").
- meta-tag signatures (``detectTechByMetaTags``, detection.go:659-686):
  name equality (case-insensitive, trimmed) + regex over the
  lowercased content; every matching meta occurrence adds confidence.
- confidence accumulation: SUM over match events; matched patterns
  dedup (``updateDetectedTech``, detection.go:540-558). The reference
  accumulates ``entityType`` in Go-map iteration order (and its
  ``updateDetectedType`` even fires after UNMATCHED signatures when
  earlier confidence exists) — both nondeterministic by Go map-order;
  here the type string is the kinds that actually matched, joined in
  the reference's fixed processing order
  (http_header, url, meta_tags, html).
- implied technologies (``processImpliedTechnologies``,
  detection.go:396-412): ONE pass over the detected set (the reference
  iterates the map while inserting, so implied-of-implied visibility
  is Go-map-order nondeterminism — we pin the deterministic single
  pass); an implied tech inherits the implier's RAW accumulated
  confidence (the transform runs after), type 'implied', pattern
  'implied by <tech>'. Multiple impliers: the reference keeps the
  map-iteration winner; we pin (max confidence, then min name).
- confidence curve + thresholds (``calculateConfidence``,
  detection.go:414-432; defaults Noise=1 Maybe=5 Detected=10,
  ruleset/rulesengine.go:48-50); entities with transformed confidence
  <= 10 are dropped, negative-evidence entities get the ``no_`` prefix
  (detection.go:198-221).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Default signature rules (compact Wappalyzer-style public signature
#: set). kind ∈ body|url|header|header_absent|meta. The DuckDB oracle
#: is generated from this SAME list (engines cannot drift).
DEFAULT_TECH_RULES: list[dict] = [
    {"object_name": "WordPress", "kind": "body", "key": "*",
     "pattern": "wp-content", "confidence": 6.0, "implies": ["PHP", "MySQL"]},
    {"object_name": "WordPress", "kind": "url", "key": "*",
     "pattern": "/wp-", "confidence": 5.0, "implies": ["PHP", "MySQL"]},
    {"object_name": "WordPress", "kind": "meta", "key": "generator",
     "pattern": "wordpress", "confidence": 8.0, "implies": ["PHP", "MySQL"]},
    {"object_name": "Drupal", "kind": "meta", "key": "generator",
     "pattern": "drupal", "confidence": 9.0, "implies": ["PHP"]},
    {"object_name": "PHP", "kind": "header", "key": "x-powered-by",
     "pattern": "php", "confidence": 10.0, "implies": []},
    {"object_name": "Nginx", "kind": "header", "key": "server",
     "pattern": "nginx", "confidence": 10.0, "implies": []},
    {"object_name": "Apache", "kind": "header", "key": "server",
     "pattern": "apache", "confidence": 10.0, "implies": []},
    {"object_name": "Cloudflare", "kind": "header", "key": "server",
     "pattern": "cloudflare", "confidence": 9.0, "implies": []},
    {"object_name": "jQuery", "kind": "body", "key": "*",
     "pattern": "jquery[.-]", "confidence": 6.0, "implies": ["JavaScript"]},
    {"object_name": "React", "kind": "body", "key": "*",
     "pattern": "data-reactroot", "confidence": 8.0, "implies": ["JavaScript"]},
    {"object_name": "Bootstrap", "kind": "body", "key": "*",
     "pattern": "bootstrap[.]min[.](css|js)", "confidence": 5.0, "implies": []},
    {"object_name": "Shopify", "kind": "body", "key": "*",
     "pattern": "cdn[.]shopify[.]com", "confidence": 9.0, "implies": ["Liquid"]},
    {"object_name": "GoogleAnalytics", "kind": "body", "key": "*",
     "pattern": "google-analytics[.]com", "confidence": 5.0,
     "implies": ["JavaScript"]},
    {"object_name": "CSP", "kind": "header_absent",
     "key": "content-security-policy", "pattern": "!*", "confidence": 20.0,
     "implies": []},
]

#: CSS-selector signature rules (``detectTechBySignature``'s Key != '*'
#: branch, detection.go:492-514): ``key`` is the selector (the engine
#: lower+trims it exactly as the reference does), ``selector_text``
#: regexes the matched element's text (``signature.Text``),
#: ``selector_attr`` regexes the named attribute's value when the
#: attribute EXISTS (``signature.Attribute`` + ``signature.Signature``;
#: an existing-but-empty attribute still satisfies existence, as
#: goquery's ``Attr`` does). Pattern '*' is the reference's
#: unconditional-match form. Every matched ELEMENT fires once (the
#: ``doc.Find(key).Each`` loop), so confidence accumulates with element
#: multiplicity while matched patterns dedup. Detection type is 'html',
#: same as whole-body signatures.
SELECTOR_TECH_RULES: list[dict] = [
    {"object_name": "Matomo", "kind": "selector_text", "key": "script",
     "attribute": "", "pattern": "_paq[.]push", "confidence": 6.0,
     "implies": ["JavaScript"]},
    {"object_name": "AngularJS", "kind": "selector_attr", "key": "script",
     "attribute": "src", "pattern": "angular[.]min[.]js", "confidence": 7.0,
     "implies": ["JavaScript"]},
    # mixed-case + padded selector and attribute: exercises the
    # reference's ToLower(TrimSpace(...)) on both (detection.go:497,503)
    {"object_name": "Vue", "kind": "selector_attr", "key": " DIV#APP ",
     "attribute": " DATA-V-APP ", "pattern": "*", "confidence": 8.0,
     "implies": ["JavaScript"]},
]

#: fixed kind → entityType token (DetectTechnologies' processing order:
#: headers, url, meta, body — detection.go:90-140)
KIND_TYPE = [("header", "http_header"), ("url", "url"),
             ("meta", "meta_tags"), ("body", "html")]

#: calculateConfidence threshold defaults (ruleset/rulesengine.go:48-50)
NOISE, MAYBE, DETECTED = 1.0, 5.0, 10.0


def confidence_expr(
    x: Column, noise: float = NOISE, maybe: float = MAYBE, detected: float = DETECTED
) -> Column:
    """``calculateConfidence`` (detection.go:414-432) as a Column CASE —
    the same textual arithmetic the DuckDB oracle runs, so both engines
    produce bit-identical doubles."""
    return (
        F.when(x < 0, F.lit(100.0) - F.least(F.lit(100.0), -x))
        .when(x < noise, (x / F.lit(noise)) * 10)
        .when(x < maybe, F.lit(10.0) + ((x - F.lit(noise)) / F.lit(maybe - noise)) * 30)
        .when(x < detected, F.lit(40.0) + ((x - F.lit(maybe)) / F.lit(detected - maybe)) * 60)
        .otherwise(
            F.least(
                F.lit(100.0),
                F.lit(40.0) + ((x - F.lit(detected)) / F.lit(detected - maybe)) * 60,
            )
        )
    )


def tech_rules_df(spark: SparkSession, rules: list[dict] | None = None) -> DataFrame:
    """Rules as a (broadcastable) DataFrame; a None confidence stays
    NULL (:func:`detect_technologies` then skips the rule)."""
    rules = rules if rules is not None else DEFAULT_TECH_RULES
    return spark.createDataFrame(
        [
            (r["object_name"], r["kind"], r["key"], r.get("attribute", ""),
             r["pattern"], None if r["confidence"] is None else float(r["confidence"]),
             list(r.get("implies", ())))
            for r in rules
        ],
        "object_name string, kind string, key string, attribute string, "
        "pattern string, confidence double, implies array<string>",
    )


def detect_technologies(
    pages: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
    noise: float = NOISE,
    maybe: float = MAYBE,
    detected: float = DETECTED,
) -> DataFrame:
    """Pages → (page, entity_name, entity_type, confidence,
    matched_patterns) detected-technology rows.

    ``pages`` columns: ``id_col``, ``url``, ``body``,
    ``headers map<string,string>`` (lowercase keys),
    ``metas array<struct<name:string,content:string>>``.

    Scale shape (r6): the rules table is a CONFIG — collected once at
    plan build (the content_type 35-rule-chain pattern: tiny, bounded,
    model-as-data like DSIR's B-row fit) and compiled into ONE
    projection over pages that emits an array of match-event structs
    with LITERAL regex patterns. The previous form joined the pages
    scan against a broadcast rule slice per kind (5 scans of ``pages``
    unioned) and evaluated ``regexp_like`` with a per-row-varying
    pattern COLUMN — a non-foldable regex recompiles per row, so the
    body leg alone paid pages × body-rules Pattern.compile calls
    (measured: ``detected_tech`` 6.5 s → 1.0 s, ``_selectors``
    8.6 s → 1.3 s warm at sf0.1; identical event multiset, oracle
    hash-identical at sf0.01). One shuffle on (page, object) for the
    event aggregation; the implied pass joins the detected table
    against a broadcast implies edge list. No windows over page-sized
    groups, no Python in the hot path.
    """
    pid = F.col(id_col)
    has_selectors = "selectors" in pages.columns
    base = pages.select(
        pid.alias("_pid"), "url",
        F.lower(F.trim(F.col("body"))).alias("_body"),
        "headers", "metas",
        *(["selectors"] if has_selectors else []),
    )

    # config collect: the rule table is a bounded ruleset, not data
    rule_rows = [r.asDict() for r in rules.collect()]

    _EV = "array<struct<object_name:string,_kind:string,_pat:string,_conf:double>>"

    def ev_struct(name: str, kind: str, pat: str, conf: float) -> F.Column:
        return F.struct(
            F.lit(name).alias("object_name"),
            F.lit(kind).alias("_kind"),
            F.lit(pat).alias("_pat"),
            F.lit(conf).alias("_conf"),
        )

    def cond_leg(cond, name, kind, pat, conf):
        # one-event leg: null/false condition contributes no events
        return F.coalesce(
            F.when(cond, F.array(ev_struct(name, kind, pat, conf))),
            F.array().cast(_EV),
        )

    legs: list[F.Column] = []
    for r in rule_rows:
        name, kind, key, pat, conf = (
            r["object_name"], r["kind"], r["key"], r["pattern"], r["confidence"]
        )
        if conf is None:
            # a NULL confidence contributes nothing: no event, so no
            # confidence, pattern or entity type from this rule
            continue
        conf = float(conf)
        if kind == "body":
            legs.append(cond_leg(
                F.regexp_like(F.col("_body"), F.lit(pat)), name, "body", pat, conf))
        elif kind == "url":
            legs.append(cond_leg(
                F.regexp_like(F.col("url"), F.lit(pat)), name, "url", pat, conf))
        elif kind == "header":
            hv = F.lower(F.element_at(F.col("headers"), F.lit(key)))
            legs.append(cond_leg(
                hv.isNotNull() & F.regexp_like(hv, F.lit(pat)),
                name, "header", pat, conf))
        elif kind == "header_absent":
            # negative detection: header ABSENT → minus confidence,
            # pattern label = the header key, NO type contribution
            # (detection.go:640-645)
            legs.append(cond_leg(
                F.element_at(F.col("headers"), F.lit(key)).isNull(),
                name, "header_absent", key, -conf))
        elif kind == "meta":
            # one event PER matching meta occurrence (confidence
            # accumulates with occurrence multiplicity, patterns dedup)
            # .strip(" ") == SQL trim (spaces only), matching the old
            # SQL-side lower(trim(key)) fold exactly
            key_folded = key.strip(" ").lower()
            matched = F.filter(
                F.col("metas"),
                lambda m: (F.lower(m["name"]) == F.lit(key_folded))
                & F.regexp_like(F.lower(m["content"]), F.lit(pat)),
            )
            legs.append(F.coalesce(
                F.transform(matched, lambda m: ev_struct(name, "meta", pat, conf)),
                F.array().cast(_EV),
            ))
        elif kind in ("selector_text", "selector_attr") and has_selectors:
            # CSS-selector signatures (detection.go:492-514): pages
            # carry the DOM extraction as ``selectors map<selector,
            # array<struct<text, attrs map>>>`` — one array entry per
            # element doc.Find(key) returns. Each matched ELEMENT is
            # one event (the .Each loop); pattern '*' is the
            # unconditional-match form; type contribution is 'html',
            # identical to whole-body signatures.
            els = F.element_at(F.col("selectors"), F.lit(key.strip(" ").lower()))
            if kind == "selector_text":
                pred = (lambda el: F.lit(True)) if pat == "*" else (
                    lambda el: F.regexp_like(el["text"], F.lit(pat)))
            else:
                attr_key = (r.get("attribute") or "").strip(" ").lower()
                if pat == "*":
                    pred = lambda el: F.element_at(el["attrs"], F.lit(attr_key)).isNotNull()
                else:
                    pred = lambda el: (
                        F.element_at(el["attrs"], F.lit(attr_key)).isNotNull()
                        & F.regexp_like(
                            F.element_at(el["attrs"], F.lit(attr_key)), F.lit(pat))
                    )
            legs.append(F.coalesce(
                F.transform(F.filter(els, pred),
                            lambda el: ev_struct(name, "body", pat, conf)),
                F.array().cast(_EV),
            ))

    all_events = F.concat(*legs) if legs else F.array().cast(_EV)
    events = base.select(
        "_pid", F.explode(all_events).alias("_e")
    ).select("_pid", "_e.object_name", "_e._kind", "_e._pat", "_e._conf")

    flags = [
        F.max(F.when(F.col("_kind") == k, 1).otherwise(0)).alias(f"_f_{k}")
        for k, _ in KIND_TYPE
    ]
    agg = events.groupBy("_pid", "object_name").agg(
        F.sum("_conf").alias("x"),
        F.concat_ws("|", F.array_sort(F.collect_set("_pat"))).alias("matched_patterns"),
        *flags,
    )
    etype = F.concat_ws(
        ",", *[F.when(F.col(f"_f_{k}") == 1, F.lit(t)) for k, t in KIND_TYPE]
    )
    detected_tbl = agg.select("_pid", "object_name", "x", etype.alias("entity_type"), "matched_patterns")

    # implied pass: detected × implies edges, anti-join already-detected,
    # deterministic winner (max x, then min implier name)
    edges = rules.select("object_name", F.explode("implies").alias("_implied")).distinct()
    cand = (
        detected_tbl.join(F.broadcast(edges), "object_name")
        .join(
            detected_tbl.select(F.col("_pid"), F.col("object_name").alias("_implied")),
            ["_pid", "_implied"],
            "left_anti",
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_pid", "_implied").orderBy(
                    F.col("x").desc(), F.col("object_name").asc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "_pid",
            F.col("_implied").alias("object_name"),
            "x",
            F.lit("implied").alias("entity_type"),
            F.concat(F.lit("implied by "), F.col("object_name")).alias("matched_patterns"),
        )
    )
    full = detected_tbl.unionByName(cand)
    c = confidence_expr(F.col("x"), noise, maybe, detected)
    # Go drops c <= 10 BEFORE storing (detection.go:203-205); round only
    # for the output column so the cut point is the raw double
    return (
        full.withColumn("_c", c)
        .filter(F.col("_c") > 10)
        .withColumn("confidence", F.round(F.col("_c"), 6))
        .select(
            F.col("_pid").alias(id_col),
            F.when(F.col("x") < 0, F.concat(F.lit("no_"), F.col("object_name")))
            .otherwise(F.col("object_name"))
            .alias("entity_name"),
            "entity_type",
            "confidence",
            "matched_patterns",
        )
    )
