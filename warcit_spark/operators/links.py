"""Link extraction + resolution (SURVEY.md §2.5 D4 — new-engine operator).

The reference never extracts links (its inputs are enumerated files); the
frontier engine discovers URLs from fetched HTML.  One extractor and one
resolver, both pure JVM expressions:

- :func:`hrefs_expr` — ``regexp_extract_all`` of :data:`HREF_PATTERN` over
  the decoded body (whole-stage codegen, zero Python); the crawl round
  fuses it into its fetch projection.
- :func:`resolve_hrefs` — explode + resolve against the parent URL, whose
  scheme/authority/directory are parsed once per page before the explode.
  :func:`anchor_text_agg` resolves its anchors through the same two steps.

Resolution mirrors the sequential oracle's ``resolve_link``
(tests/oracle.py): the href is stripped of the whitespace Python's
``str.strip()`` strips; absolute http(s), root-relative and
directory-relative hrefs resolve; other schemes (mailto:, javascript:,
data:), intra-page fragments and empty hrefs resolve to NULL and are
filtered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HREF_PATTERN = r'<a\s[^>]*href="([^"]*)"'

# every character Python's str.isspace() accepts (the highest is U+3000):
# F.trim strips only U+0020, but HREF_PATTERN's [^"]* also captures tabs,
# newlines and Unicode spaces around the href
_PY_WHITESPACE = "".join(c for c in map(chr, range(0x3001)) if c.isspace())


def hrefs_expr(html_col: Column) -> Column:
    """array<string> of raw (unresolved) hrefs in one JVM expression —
    exposed so a caller can fuse extraction into a wider projection (the
    crawl round computes digest + hrefs in ONE pass over the fetch join
    and caches the ~1 KiB href array instead of the 8 KiB body; see
    plans/crawl.py)."""
    return F.regexp_extract_all(
        F.decode(html_col, "UTF-8"), F.lit(HREF_PATTERN), 1
    )


def _parent_parts(url: Column) -> list[Column]:
    """``_base`` (scheme://authority) and ``_dir`` (path up to its last
    '/') of a parent URL.  Select them in a projection of their own BEFORE
    the explode: Spark evaluates the other expressions of a select that
    also explodes above its Generate, i.e. per link, re-parsing the same
    parent ~links-per-page times (three try_parse_url calls each — at CC
    weight ~75 redundant URI parses per page; guide §1.2 per-task work)."""
    path = F.try_parse_url(url, F.lit("PATH"))
    return [
        F.concat(
            F.try_parse_url(url, F.lit("PROTOCOL")),
            F.lit("://"),
            F.try_parse_url(url, F.lit("AUTHORITY")),
        ).alias("_base"),
        F.regexp_replace(
            F.when(path != "", path).otherwise(F.lit("/")), "[^/]*$", ""
        ).alias("_dir"),
    ]


def _resolve(href: Column, base: Column, parent_dir: Column) -> Column:
    """Resolve an href against its parent's ``_base``/``_dir``; NULL for
    non-crawlable hrefs."""
    h = F.btrim(href, F.lit(_PY_WHITESPACE))
    return (
        F.when(h.rlike("^https?://"), h)
        .when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), F.lit(None))  # other schemes
        .when((h == "") | h.startswith("#"), F.lit(None))
        .when(h.startswith("/"), F.concat(base, h))
        .otherwise(F.concat(base, parent_dir, h))
    )


def resolve_hrefs(
    pages: DataFrame,
    hrefs_col: str = "_hrefs",
    url_col: str = "url",
    carry: tuple[str, ...] = ("priority",),
) -> DataFrame:
    """(url, *carry, link) from a PRE-computed ``array<string>`` hrefs
    column (see :func:`hrefs_expr`) — explode + resolve, pure JVM."""
    exploded = pages.select(
        F.col(url_col).alias("url"),
        *[F.col(c) for c in carry],
        *_parent_parts(F.col(url_col)),
        F.col(hrefs_col).alias("_hrefs"),
    ).select(
        "url", *carry, "_base", "_dir", F.explode("_hrefs").alias("_href")
    )
    link = _resolve(F.col("_href"), F.col("_base"), F.col("_dir"))
    return exploded.select(
        "url", *carry, link.alias("link")
    ).where(F.col("link").isNotNull())


# ------------------------------------------------------------- anchor text
# anchor pattern: href + the a-element's DIRECT text ('[^<]*</a>' demands
# text-only content, so anchors wrapping nested markup are not matched;
# directly-empty anchors DO match and count as textless inlinks)
ANCHOR_PATTERN = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'


def anchor_text_agg(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Aggregate anchor text per TARGET url — the WAT-style inlink
    feature search and LLM pipelines mine (anchor text describes the
    page better than the page does; cf. Common Crawl WAT consumers and
    anchor-augmented pretraining sets).

    Per target: total inlink anchors, distinct non-empty anchor texts,
    and the modal anchor (most frequent; ties broken lexicographically —
    deterministic under any partitioning).

    Scale shape: extraction is TWO ``regexp_extract_all`` over the SAME
    pattern (groups 1/2 — indexes align by construction) fused in one
    row-local projection with the per-page parent parse, ``arrays_zip`` +
    one explode; resolution and canonicalization are the frontier's own
    exprs (links stay joinable against the URL-seen set); then a
    (target, text) groupBy feeding a target groupBy — both map-side
    combined, no window over the full explode.  Anchor dedup-per-page is
    NOT applied (repeat anchors are signal), matching WAT semantics.
    """
    from warcit_spark.functions.urls import canonicalize_url_expr

    html_txt = F.decode(F.col(html_col), "UTF-8")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html_txt, F.lit(ANCHOR_PATTERN), 1).alias("href"),
        F.regexp_extract_all(html_txt, F.lit(ANCHOR_PATTERN), 2).alias("text"),
    )
    exploded = pages.select(
        *_parent_parts(F.col(url_col)), pairs.alias("_pairs")
    ).select("_base", "_dir", F.explode("_pairs").alias("_p"))
    target = canonicalize_url_expr(
        _resolve(F.col("_p")["href"], F.col("_base"), F.col("_dir"))
    )
    anchor = F.trim(F.regexp_replace(F.col("_p")["text"], r"\s+", " "))
    per_text = (
        exploded.select(target.alias("target_url"), anchor.alias("anchor"))
        .where(F.col("target_url").isNotNull())
        .groupBy("target_url", "anchor")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nonempty = F.col("anchor") != ""
    return per_text.groupBy("target_url").agg(
        F.sum("_c").alias("n_anchors"),
        F.count(F.when(nonempty, 1)).alias("n_unique_texts"),
        # modal non-empty anchor: max count, ties -> lexicographic min
        F.min_by(
            F.when(nonempty, F.col("anchor")),
            F.when(nonempty, F.struct((-F.col("_c")).alias("nc"), "anchor")),
        ).alias("top_anchor"),
    )
