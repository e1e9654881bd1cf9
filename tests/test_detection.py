"""Technology detection: goldens transcribed from the reference's
detection_test.go plus end-to-end planted-page assertions."""

from __future__ import annotations

from pyspark.sql import functions as F

from thecrowler_spark.operators.detection import (
    confidence_expr,
    detect_technologies,
    tech_rules_df,
)


def test_calculate_confidence_golden(spark):
    """TestCalculateConfidence (detection_test.go:148-160): x=0.5 with
    thresholds (0.1, 0.3, 0.7) → 70; plus the branch boundaries."""
    rows = [(0.5,), (-20.0,), (0.05,), (0.2,), (0.7,), (100.0,)]
    df = spark.createDataFrame(rows, "x double")
    got = {
        r["x"]: r["c"]
        for r in df.select(
            "x", confidence_expr(F.col("x"), 0.1, 0.3, 0.7).alias("c")
        ).collect()
    }
    assert got[0.5] == 70.0                       # the Go test's golden
    assert got[-20.0] == 80.0                     # absence confidence
    assert got[0.05] == (0.05 / 0.1) * 10         # [0, noise)
    assert abs(got[0.2] - (10 + ((0.2 - 0.1) / 0.2) * 30)) < 1e-9
    assert got[0.7] == 40.0                       # x == detected → branch floor
    assert got[100.0] == 100.0                    # capped at 100


def test_implied_technologies_golden(spark):
    """TestProcessImpliedTechnologies (detection_test.go:96-146): tech2
    implies tech3 → tech3 added as 'implied' with tech2's confidence;
    tech1→tech2 adds nothing (tech2 already detected); single pass only
    (tech3's own implies do not fire)."""
    pages = spark.createDataFrame(
        [(1, "https://x.example.com/a", "alpha tech1sig beta tech2sig", {}, [])],
        "doc_id long, url string, body string, headers map<string,string>, "
        "metas array<struct<name:string,content:string>>",
    )
    rules = tech_rules_df(
        spark,
        [
            {"object_name": "tech1", "kind": "body", "key": "*",
             "pattern": "tech1sig", "confidence": 8.0, "implies": ["tech2"]},
            {"object_name": "tech2", "kind": "body", "key": "*",
             "pattern": "tech2sig", "confidence": 6.0, "implies": ["tech3"]},
            {"object_name": "tech3", "kind": "body", "key": "*",
             "pattern": "never-matches-xyzzy", "confidence": 6.0,
             "implies": ["tech2"]},
        ],
    )
    got = {
        r["entity_name"]: (r["entity_type"], r["confidence"], r["matched_patterns"])
        for r in detect_technologies(pages, rules).collect()
    }
    assert set(got) == {"tech1", "tech2", "tech3"}
    assert got["tech3"][0] == "implied"
    assert got["tech3"][2] == "implied by tech2"
    # implied inherits the implier's RAW x (6.0) then the curve maps it:
    # 40 + ((6-5)/5)*60 — same value tech2 itself gets
    assert got["tech3"][1] == got["tech2"][1]
    assert got["tech1"][0] == "html" and got["tech2"][0] == "html"


def test_detect_technologies_end_to_end(spark):
    """Planted page: every rule kind fires (body, url, header, meta,
    negative header absence) and accumulation/type strings behave."""
    pages = spark.createDataFrame(
        [
            (
                1,
                "https://blog.example.com/wp-admin/p1",
                'Hello <script src="/wp-content/a.js"></script> '
                '<script src="/js/jquery.min.js"></script>',
                {"server": "nginx/1.24.0", "x-powered-by": "PHP/8.2.7"},
                [("generator", "WordPress 6.4.2")],
            ),
            (
                2,
                "https://shop.example.com/p2",
                '<script src="https://cdn.shopify.com/s/x.js"></script>',
                {"server": "cloudflare",
                 "content-security-policy": "default-src 'self'"},
                [],
            ),
        ],
        "doc_id long, url string, body string, headers map<string,string>, "
        "metas array<struct<name:string,content:string>>",
    )
    out = detect_technologies(pages, tech_rules_df(spark))
    got = {
        (r["doc_id"], r["entity_name"]): r
        for r in out.collect()
    }
    # page 1: WordPress via body+url+meta → x=19 → capped 100; kinds in
    # fixed processing order
    wp = got[(1, "WordPress")]
    assert wp["confidence"] == 100.0
    assert wp["entity_type"] == "url,meta_tags,html"
    assert wp["matched_patterns"] == "/wp-|wordpress|wp-content"
    # PHP detected directly (header) — NOT implied
    assert got[(1, "PHP")]["entity_type"] == "http_header"
    # MySQL only implied; inherits WordPress's raw x=19 → 100
    assert got[(1, "MySQL")]["entity_type"] == "implied"
    assert got[(1, "MySQL")]["confidence"] == 100.0
    assert got[(1, "MySQL")]["matched_patterns"] == "implied by WordPress"
    # page 1 lacks CSP → negative detection, empty type, no_ prefix
    assert got[(1, "no_CSP")]["confidence"] == 80.0
    assert got[(1, "no_CSP")]["entity_type"] == ""
    # page 2 HAS CSP → no no_CSP row
    assert (2, "no_CSP") not in got
    assert (2, "Shopify") in got and (2, "Cloudflare") in got
    assert got[(2, "Liquid")]["entity_type"] == "implied"
    # jQuery (x=6) implies JavaScript on page 1
    assert got[(1, "JavaScript")]["matched_patterns"] == "implied by jQuery"


def test_selector_signatures_planted(spark):
    """CSS-selector branch (detection.go:492-514): rule key and
    attribute are ToLower(TrimSpace(...))'d; each matched ELEMENT fires
    once (doc.Find(...).Each) so two matching <script> tags double the
    confidence while the pattern dedups; pattern '*' on an
    attribute-exists rule fires even for an empty attribute value
    (goquery Attr existence); selector matches type as 'html'."""
    elem = "array<struct<text:string,attrs:map<string,string>>>"
    pages = spark.createDataFrame(
        [
            # page 1: two Matomo scripts (multiplicity), one angular src
            (1, "https://a.example.com/", "plain body", {}, [],
             {"script": [
                 ('_paq.push(["trackPageView"]);', {"src": "/js/angular.min.js"}),
                 ('_paq.push(["enableLinkTracking"]);', {}),
             ],
              "div#app": []}),
            # page 2: empty data-v-app attr → '*' rule still fires
            (2, "https://b.example.com/", "plain body", {}, [],
             {"script": [("console.log(1);", {})],
              "div#app": [("loading", {"data-v-app": ""})]}),
            # page 3: nothing matches
            (3, "https://c.example.com/", "plain body", {}, [],
             {"script": [("console.log(1);", {})], "div#app": []}),
        ],
        "doc_id long, url string, body string, headers map<string,string>, "
        f"metas array<struct<name:string,content:string>>, selectors map<string,{elem}>",
    )
    rules = tech_rules_df(
        spark,
        [
            {"object_name": "Matomo", "kind": "selector_text", "key": " SCRIPT ",
             "attribute": "", "pattern": "_paq[.]push", "confidence": 6.0},
            {"object_name": "AngularJS", "kind": "selector_attr", "key": "script",
             "attribute": " SRC ", "pattern": "angular[.]min[.]js",
             "confidence": 7.0},
            {"object_name": "Vue", "kind": "selector_attr", "key": "div#app",
             "attribute": "data-v-app", "pattern": "*", "confidence": 8.0},
        ],
    )
    got = {
        (r.doc_id, r.entity_name): r
        for r in detect_technologies(pages, rules).collect()
    }
    # page 1 Matomo: 6+6=12 → curve 40+(12-10)/5*60 = 64; pattern deduped
    m = got[(1, "Matomo")]
    assert m.confidence == 64.0
    assert m.matched_patterns == "_paq[.]push"
    assert m.entity_type == "html"
    # page 1 AngularJS: 7 → 40+(7-5)/5*60 = 64
    assert got[(1, "AngularJS")].confidence == 64.0
    # page 2 Vue: empty attr value still exists → 8 → 76; pattern '*'
    v = got[(2, "Vue")]
    assert v.confidence == 76.0 and v.matched_patterns == "*"
    assert not any(d == 3 for d, _ in got)


def test_null_rule_confidence_contributes_nothing(spark):
    """A rule row whose confidence is NULL compiles (no TypeError at plan
    build) and adds nothing to its technology's confidence sum: a
    technology matched only by NULL-confidence rules, positive or
    header-absent, is not detected, and one with a weighted rule too
    keeps exactly that rule's confidence."""
    pages = spark.createDataFrame(
        [(1, "https://a.example.com/", "alpha beta gamma", {}, [])],
        "doc_id long, url string, body string, headers map<string,string>, "
        "metas array<struct<name:string,content:string>>",
    )
    rules = tech_rules_df(
        spark,
        [
            {"object_name": "A", "kind": "body", "key": "*", "pattern": "alpha",
             "confidence": 8.0},
            {"object_name": "A", "kind": "body", "key": "*", "pattern": "beta",
             "confidence": None},
            {"object_name": "B", "kind": "body", "key": "*", "pattern": "gamma",
             "confidence": None},
            {"object_name": "C", "kind": "header_absent", "key": "x-frame-options",
             "pattern": "!*", "confidence": None},
        ],
    )
    got = {
        r.entity_name: (r.confidence, r.matched_patterns)
        for r in detect_technologies(pages, rules).collect()
    }
    # A: x = 8 → 40 + (8-5)/5*60 = 76; B and C have no confidence at all
    assert got == {"A": (76.0, "alpha")}
