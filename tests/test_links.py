"""Link extraction + resolution (operators/links.py) against the sequential
oracle's regex and resolver (tests/oracle.py), plus the plan shape that
keeps the parent-URL parse per page."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests import oracle
from warcit_spark.operators.links import anchor_text_agg, hrefs_expr, resolve_hrefs

_SPACE = [c for c in map(chr, range(0x3001)) if c.isspace()]
_pad = st.text(alphabet=st.sampled_from(_SPACE), max_size=3)
_seg = st.text(alphabet="abxyz019-_.", min_size=1, max_size=5)
_rel = st.lists(_seg, max_size=3).map("/".join)
_host = st.sampled_from(["a.test", "B.test", "c.test:8080"])
_core = st.one_of(
    st.builds("{}://{}/{}".format, st.sampled_from(["http", "https"]), _host, _rel),
    _rel.map("/{}".format),                                    # root-relative
    _rel,                                                      # dir-relative
    st.sampled_from(["../up.html", "?q=1", "./x", "HTTP://a.test/"]),
    st.sampled_from(["mailto:x@a.test", "javascript:void(0)", "data:,x"]),
    _seg.map("#{}".format),
    st.just(""),
)
_href = st.builds("{}{}{}".format, _pad, _core, _pad)
_parent = st.builds(
    "http://{}{}".format, _host, st.one_of(st.just(""), _rel.map("/{}".format))
)
_anchor = st.builds(
    '<a {}href="{}">t</a>'.format, st.sampled_from(["", 'class="c" ']), _href
)
_page = st.tuples(_parent, st.lists(_anchor, max_size=8).map(" ".join))


@settings(max_examples=15, deadline=None)
@given(st.lists(_page, min_size=1, max_size=40))
def test_resolve_hrefs_matches_oracle(spark, pages):
    """The bag of (page, link) pairs the engine extracts and resolves
    equals the oracle's regex + resolve_link over the same HTML — hrefs
    padded with any whitespace str.strip() removes, pathless parents,
    other schemes, fragments and empty hrefs included."""
    df = spark.createDataFrame(
        [(u, html.encode()) for u, html in pages], "url string, html binary"
    )
    links = resolve_hrefs(
        df.select("url", hrefs_expr(F.col("html")).alias("_hrefs")), carry=()
    )
    got = Counter((r.url, r.link) for r in links.collect())
    want = Counter(
        (u, link)
        for u, html in pages
        for h in oracle.HREF_RE.findall(html)
        if (link := oracle.resolve_link(u, h)) is not None
    )
    assert got == want


def _parent_parse_below_generate(df):
    # the plan prints top-down: text after "Generate" is below it
    plan = df._jdf.queryExecution().executedPlan().toString()
    parses = [m.start() for m in re.finditer(r"\.evaluate\(url#", plan)]
    return bool(parses) and min(parses) > plan.index("Generate")


def test_parent_parse_runs_once_per_page(spark):
    """The parent URL's try_parse_url calls sit in the projection BELOW
    the explode's Generate (once per page), not above it (once per link)."""
    df = spark.createDataFrame(
        [("http://a.test/d/p", b'<a href="x">t</a>')], "url string, html binary"
    )
    hrefs = df.select("url", hrefs_expr(F.col("html")).alias("_hrefs"))
    assert _parent_parse_below_generate(resolve_hrefs(hrefs, carry=()))
    assert _parent_parse_below_generate(anchor_text_agg(df))
