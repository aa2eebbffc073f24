"""Outlink extraction: html → resolved absolute URLs (the crawl loop's
discovery step).

The focused-crawl surface scores and schedules a frontier
(`operators/graph.py pagerank_micro`, `operators/crawl.py
crawl_schedule`) — this module produces that frontier: pull every
``<a href>`` out of a page's html, resolve it against the page URL,
and normalize. `graph.derive_link_graph`'s docstring names "the
extracted href edges" as the production input; this is the extractor.

Everything is JVM-side (`regexp_extract_all` + CASE resolution +
`functions/urls.py` normalization) — no Python touches the html on
this path (the north rule's no-per-row-Python posture; the Arrow UDF
in `cdc/extract.py` exists for the TEXT extraction, which genuinely
needs stateful regex passes — link pulling doesn't).

Resolution rules (deliberately small and total):
- absolute http(s) hrefs pass through;
- other schemes (mailto:, javascript:, ftp:, tel:) drop;
- protocol-relative ``//host/p`` takes the page scheme;
- root-relative ``/p`` takes the page scheme://host;
- fragment-only / empty hrefs drop;
- anything else is directory-relative: scheme://host + page-dir +
  href. Dot-segment folding (``..``) is out of scope — crawlers
  normalize server-side anyway, and keeping the rule regex-total keeps
  the operator fully DuckDB-oracle-able.

Scale shape (100 TB): pure projection + one explode — the links of a
page are produced in the map task that read it, zero shuffles until
the caller aggregates; `distinct` inside is per-(page, link) and
optional. Row amplification is the true outlink count.

Reference parity: csv-cruncher has no html surface; new-engine crawl
discovery for the webtext payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import _bare_host, url_host

# group 1 = the href value; [^"'>] keeps the match inside the tag even
# on unbalanced quotes. (?i) and the class syntax mean the same thing
# to Java regex and RE2, so the DuckDB oracle can reuse the pattern.
HREF_PATTERN = "(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"'>]*)[\"']"
# group 1 = href, group 2 = the anchor's inner text (up to the first
# nested tag — [^<]* keeps the match flat and regex-total)
ANCHOR_PATTERN = (
    "(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"'>]*)[\"'][^>]*>([^<]*)</a>"
)


def _page_parts(url_col: str):
    """(scheme, host, page_dir) columns of the page url."""
    scheme = F.lower(F.try_parse_url(F.col(url_col), F.lit("PROTOCOL")))
    host = url_host(F.col(url_col))
    # PATH is '' (not NULL) for a bare https://host — both mean root
    raw_path = F.try_parse_url(F.col(url_col), F.lit("PATH"))
    path = F.when(
        raw_path.isNull() | (raw_path == ""), F.lit("/")
    ).otherwise(raw_path)
    # page directory: path up to and including the last slash
    return scheme, host, F.regexp_replace(path, "[^/]*$", "")


def _resolve(h, scheme, host, page_dir):
    """Resolve one href column against the page parts (module rules)."""
    return (
        F.when(h.isNull() | (h == "") | h.startswith("#"), F.lit(None))
        .when(h.rlike("(?i)^https?://"), h)
        .when(h.rlike("(?i)^[a-z][a-z0-9+.-]*:"), F.lit(None))  # other schemes
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(scheme, F.lit("://"), host, h))
        .otherwise(F.concat(scheme, F.lit("://"), host, page_dir, h))
    )


def extract_outlinks(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    keep_fragments: bool = False,
    distinct: bool = True,
) -> DataFrame:
    """(url, outlink) pairs: every resolvable ``<a href>`` in
    ``html_col``, resolved against ``url_col`` per the module rules.

    ``html_col`` may be string or binary (cast via UTF-8 decode).
    NULL html or NULL url yields no links. Fragments are stripped
    unless ``keep_fragments``; ``distinct`` dedupes per (url, outlink)
    — the edge-list contract `graph.pagerank_micro(edges=...)` expects.
    """
    html = F.col(html_col)
    if dict(df.dtypes).get(html_col) == "binary":
        html = F.decode(html, "UTF-8")
    hrefs = F.regexp_extract_all(html, F.lit(HREF_PATTERN), F.lit(1))

    scheme, host, page_dir = _page_parts(url_col)
    resolved = _resolve(F.col("__href"), scheme, host, page_dir)
    if not keep_fragments:
        resolved = F.regexp_replace(resolved, "#.*$", "")
    out = (
        df.select(F.col(url_col).alias("url"), F.explode(hrefs).alias("__href"))
        .withColumn("outlink", resolved)
        .filter(F.col("outlink").isNotNull())
        .select("url", "outlink")
    )
    return out.distinct() if distinct else out


def extract_anchor_texts(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(url, outlink, anchor) triples: every resolvable ``<a href>``
    paired with its flat inner text (up to the first nested tag),
    whitespace-trimmed. Same resolution + fragment-strip rules as
    :func:`extract_outlinks`; duplicates are KEPT (each anchor
    occurrence is one vote for :func:`anchor_text_profile`)."""
    html = F.col(html_col)
    if dict(df.dtypes).get(html_col) == "binary":
        html = F.decode(html, "UTF-8")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(1)).alias("h"),
        F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(2)).alias("t"),
    )
    scheme, host, page_dir = _page_parts(url_col)
    resolved = F.regexp_replace(
        _resolve(F.col("__p.h"), scheme, host, page_dir), "#.*$", ""
    )
    return (
        df.select(F.col(url_col).alias("url"), F.explode(pairs).alias("__p"))
        .select(
            "url",
            resolved.alias("outlink"),
            F.trim(F.col("__p.t")).alias("anchor"),
        )
        .filter(F.col("outlink").isNotNull())
    )


def anchor_text_profile(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Per-target anchor-text profile: for every outlink of the corpus,
    how often it is referenced and what the web calls it — the classic
    anchor-text relevance/quality signal (Brin & Page §2.2: anchors
    describe the TARGET better than the target describes itself).

    Returns (outlink, n_refs, n_anchor_texts, top_anchor, top_anchor_n):
    total anchor occurrences, distinct non-empty anchor spellings, the
    most frequent spelling (ties → lexicographically smallest — exact,
    via max-count-then-min-anchor, never a nondeterministic max_by),
    and its count. Empty anchors (image links) count toward nothing.

    Plan shape: the anchor triples partial-aggregate to
    (outlink, anchor, cnt) — the only frame that shuffles; winner
    selection is one more partial agg + an equi-join back on
    (outlink, cnt), both map-combinable, no windows over the skewed
    popular-target key.
    """
    a = extract_anchor_texts(pages, url_col, html_col).filter(
        F.col("anchor") != ""
    )
    g = a.groupBy("outlink", "anchor").agg(F.count(F.lit(1)).alias("cnt"))
    s = g.groupBy("outlink").agg(
        F.sum("cnt").alias("n_refs"),
        F.count(F.lit(1)).alias("n_anchor_texts"),
        F.max("cnt").alias("top_anchor_n"),
    )
    # renamed projection sidesteps the g-derived self-join ambiguity
    winners = s.select(
        F.col("outlink").alias("__o"), F.col("top_anchor_n").alias("__n")
    )
    top = (
        g.join(
            winners,
            (F.col("outlink") == F.col("__o")) & (F.col("cnt") == F.col("__n")),
        )
        .select("outlink", "anchor")
        .groupBy("outlink")
        .agg(F.min("anchor").alias("top_anchor"))
    )
    return s.join(top, "outlink").select(
        "outlink", "n_refs", "n_anchor_texts", "top_anchor", "top_anchor_n"
    )


def discovered_frontier(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Frontier discovery: outlinks of the corpus that the corpus does
    not already contain, counted per target host — the feed the crawl
    scheduler (`crawl.crawl_schedule`) dispatches next.

    One anti-join on the url key (both sides narrow: (outlink) vs
    (url)), one partial-combined count by host. Returns
    (host, n_new_urls) with n_new_urls = DISTINCT undiscovered URLs
    under that host.
    """
    links = extract_outlinks(pages, url_col, html_col)
    known = pages.select(F.col(url_col).alias("outlink")).distinct()
    new = links.select("outlink").distinct().join(known, "outlink", "left_anti")
    return (
        new.withColumn("host", _bare_host(F.col("outlink")))
        .groupBy("host")
        .agg(F.count("*").alias("n_new_urls"))
    )


def contract_host_graph(
    edges: DataFrame,
    src_col: str = "url",
    dst_col: str = "outlink",
    include_self: bool = False,
) -> DataFrame:
    """Contract a url-level edge list to the HOST-level link graph:
    (src_host, dst_host, n_links, n_src_pages, n_dst_urls).

    At web scale the url graph (10^10 nodes) is too large for most
    whole-graph analytics, but crawl scheduling, mirror detection, and
    spam-neighbourhood scoring all operate on the HOST graph (~10^7
    nodes) — this is the standard contraction (the "host graph" of
    Broder et al., "Graph structure in the web"). Weights carry what the
    url level knew: ``n_links`` distinct url→url edges between the host
    pair, ``n_src_pages`` / ``n_dst_urls`` the distinct endpoints behind
    them (a 10,000-link pair from ONE page is navigation boilerplate; a
    10,000-link pair from 10,000 pages is an organic relationship).

    ``include_self=False`` (default) drops intra-host edges — they
    dominate raw counts (site navigation) and carry no scheduling
    signal. Rows whose url fails host extraction are dropped (counted
    nowhere; upstream `extract_outlinks` only emits resolvable urls).

    Plan: host derivation is a projection, ONE ``try_parse_url`` per
    endpoint (`functions.urls._bare_host`). Keep it at one: Catalyst
    pushes the host predicates below `extract_outlinks`' distinct and
    inlines the whole href-resolution CASE into every host reference,
    so a host rule of several parses grows the generated Filter past
    the JVM's 64 KB method limit and the stage runs interpreted.
    ONE shuffle on (src_host, dst_host) with partial aggregation map-side.
    The distinct-counts expand per-group state, not extra exchanges.
    Composes with `extract_outlinks` output, `MaintainedLinkGraph`
    state, or any (src url, dst url) frame.
    """
    g = edges.select(
        _bare_host(F.col(src_col)).alias("src_host"),
        _bare_host(F.col(dst_col)).alias("dst_host"),
        F.col(src_col).alias("__s"),
        F.col(dst_col).alias("__d"),
    ).where(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
    if not include_self:
        g = g.where(F.col("src_host") != F.col("dst_host"))
    return g.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("__s").alias("n_src_pages"),
        F.countDistinct("__d").alias("n_dst_urls"),
    )
