"""Outlink extraction (operators/links.py): every resolution rule of
the module contract, binary-html decoding, NULL survival, the
distinct/per-edge contract, frontier discovery's anti-join, and the
all-JVM plan (no Python eval in the hot path). Cross-engine
bit-exactness is the `page_outlinks` / `crawl_discovered_frontier`
oracle entries (tests/test_oracle_parity.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_cruncher_spark.operators.links import (  # noqa: E402
    discovered_frontier,
    extract_outlinks,
)


def _page(spark, url, html):
    return spark.createDataFrame([(url, html)], "url STRING, html STRING")


def _links(spark, url, html, **kw):
    return sorted(
        r["outlink"]
        for r in extract_outlinks(_page(spark, url, html), **kw).collect()
    )


PAGE = "https://www.Example.com/a/b/page.html"


def test_absolute_href_passes_through(spark):
    assert _links(spark, PAGE, '<a href="https://other.org/x">l</a>') == [
        "https://other.org/x"
    ]


def test_other_schemes_drop(spark):
    html = (
        '<a href="mailto:x@y.z">m</a><a href="javascript:void(0)">j</a>'
        '<a href="ftp://h/f">f</a><a href="tel:+123">t</a>'
    )
    assert _links(spark, PAGE, html) == []


def test_protocol_relative_takes_page_scheme(spark):
    assert _links(spark, PAGE, '<a href="//cdn.net/l.js">c</a>') == [
        "https://cdn.net/l.js"
    ]
    assert _links(spark, "http://h.com/p", '<a href="//cdn.net/l.js">c</a>') == [
        "http://cdn.net/l.js"
    ]


def test_root_relative_takes_scheme_and_host(spark):
    # url_host lowercases the host; the page path is irrelevant
    assert _links(spark, PAGE, '<a href="/idx/2.html">r</a>') == [
        "https://www.example.com/idx/2.html"
    ]


def test_directory_relative_takes_page_dir(spark):
    assert _links(spark, PAGE, '<a href="sub/c.html">s</a>') == [
        "https://www.example.com/a/b/sub/c.html"
    ]
    # a page at the host root resolves against '/'
    assert _links(spark, "https://h.com", '<a href="c.html">s</a>') == [
        "https://h.com/c.html"
    ]


def test_fragment_only_and_empty_drop(spark):
    assert _links(spark, PAGE, '<a href="#top">f</a><a href="">e</a>') == []


def test_fragment_stripped_unless_kept(spark):
    html = '<a href="https://o.org/z#sec">z</a>'
    assert _links(spark, PAGE, html) == ["https://o.org/z"]
    assert _links(spark, PAGE, html, keep_fragments=True) == [
        "https://o.org/z#sec"
    ]


def test_attribute_order_quoting_and_case(spark):
    html = (
        "<A CLASS='x' HREF='https://o.org/1'>u</A>"
        '<a rel="nofollow" href = "https://o.org/2">v</a>'
    )
    assert _links(spark, PAGE, html) == ["https://o.org/1", "https://o.org/2"]


def test_binary_html_is_decoded(spark):
    df = spark.createDataFrame(
        [(PAGE, b'<a href="https://o.org/b">b</a>')], "url STRING, html BINARY"
    )
    assert [r["outlink"] for r in extract_outlinks(df).collect()] == [
        "https://o.org/b"
    ]


def test_null_html_and_null_url_yield_no_rows(spark):
    df = spark.createDataFrame(
        [(PAGE, None), (None, '<a href="https://o.org/x">x</a>')],
        "url STRING, html STRING",
    )
    # NULL html explodes to nothing; NULL url can't resolve — its
    # absolute links still pass (resolution never consults the page)
    out = extract_outlinks(df).collect()
    assert [r["outlink"] for r in out] == ["https://o.org/x"]


def test_distinct_contract(spark):
    html = '<a href="https://o.org/d">1</a><a href="https://o.org/d">2</a>'
    assert _links(spark, PAGE, html) == ["https://o.org/d"]
    assert _links(spark, PAGE, html, distinct=False) == [
        "https://o.org/d",
        "https://o.org/d",
    ]


def test_discovered_frontier_anti_joins_known_urls(spark):
    rows = [
        # p1 links to p2 (known), itself (known), and two new urls
        (
            "https://a.com/p1",
            '<a href="/p2">k</a><a href="https://a.com/p1">s</a>'
            '<a href="https://new.net/x">n</a><a href="https://new.net/y">n</a>',
        ),
        # p2 re-links one of p1's new urls (distinct across pages) + one more host
        (
            "https://a.com/p2",
            '<a href="https://new.net/x">n</a><a href="https://b.org/z">n</a>',
        ),
    ]
    df = spark.createDataFrame(rows, "url STRING, html STRING")
    got = {r["host"]: r["n_new_urls"] for r in discovered_frontier(df).collect()}
    assert got == {"new.net": 2, "b.org": 1}


def test_plan_is_python_free(spark):
    df = _page(spark, PAGE, '<a href="x.html">x</a>')
    plan = extract_outlinks(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contract_host_graph_weights_and_self_edges(spark):
    from csv_cruncher_spark.operators.links import contract_host_graph

    edges = spark.createDataFrame(
        [
            # a.com -> b.com: 3 links from 2 pages onto 2 urls
            ("https://a.com/p1", "https://b.com/x"),
            ("https://a.com/p1", "https://b.com/y"),
            ("https://a.com/p2", "https://b.com/x"),
            # intra-host navigation, dropped by default
            ("https://a.com/p1", "https://a.com/p2"),
            # port-variant of the same host merges (the host is port-free)
            ("https://a.com:443/p3", "https://b.com/x"),
        ],
        ["url", "outlink"],
    )
    got = {
        (r.src_host, r.dst_host): (r.n_links, r.n_src_pages, r.n_dst_urls)
        for r in contract_host_graph(edges).collect()
    }
    # 4 edges from 3 distinct source urls (p1 twice, p2, the :443 p3)
    # onto 2 distinct targets
    assert got == {("a.com", "b.com"): (4, 3, 2)}
    with_self = {
        (r.src_host, r.dst_host): r.n_links
        for r in contract_host_graph(edges, include_self=True).collect()
    }
    assert with_self[("a.com", "a.com")] == 1


def test_contract_host_graph_single_shuffle_plan(spark):
    from csv_cruncher_spark.operators.links import contract_host_graph

    edges = spark.createDataFrame(
        [("https://a.com/p", "https://b.com/x")], ["url", "outlink"]
    )
    plan = (
        contract_host_graph(edges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


# hostile spellings for the port-free host rule: ports (default, swapped
# default, out of range, empty, non-numeric), userinfo, IPv6 literals,
# case, trailing dots, relative / scheme-relative hrefs, non-http schemes
HOSTILE_URLS = [
    "http://Example.COM/a",
    "https://example.com:443/a",
    "http://h:443/x",
    "http://h:80/",
    "https://h:8443/p?q=1",
    "http://h:0/",
    "http://h:99999/",
    "http://h:123456789012345/",
    "http://h:/x",
    "http://h:abc/",
    "http://user:pw@Host.com:8080/x",
    "https://user@host.com/",
    "http://u:p@h:80/",
    "http://[::1]/",
    "http://[::1]:8080/x",
    "https://[2001:DB8::1]:443/",
    "http://[2001:db8::1]/",
    "HTTP://WWW.EXAMPLE.COM./",
    "https://Example.com.:8080/",
    "//host.com/p",
    "//host.com:81/p",
    "/root/rel",
    "dir/page.html",
    "?q=1",
    "#frag",
    "mailto:a@b.com",
    "javascript:void(0)",
    "ftp://Files.Example.org:21/x",
    "http://a.b.c:8080?x",
    "http://exa mple.com/",
    "",
    None,
]


def test_bare_host_equals_port_stripped_url_host(spark):
    """`functions.urls._bare_host` (one ``try_parse_url``) is the same
    port-free lowercase host the link/urlfilter operators used to derive
    as ``regexp_replace(url_host(c), ':[0-9]+$', '')`` (three parses, a
    regex and a CASE) — on every hostile spelling above."""
    from pyspark.sql import functions as F

    from csv_cruncher_spark.functions.urls import _bare_host, url_host

    df = spark.createDataFrame([(u,) for u in HOSTILE_URLS], "u STRING")
    rows = df.select(
        "u",
        _bare_host(F.col("u")).alias("new"),
        F.regexp_replace(url_host(F.col("u")), ":[0-9]+$", "").alias("old"),
    ).collect()
    assert len(rows) == len(HOSTILE_URLS)
    assert [(r.u, r.new) for r in rows] == [(r.u, r.old) for r in rows]
    got = {r.u: r.new for r in rows}
    assert got["http://h:443/x"] == "h"
    assert got["http://user:pw@Host.com:8080/x"] == "host.com"
    assert got["http://[::1]:8080/x"] == "[::1]"
    assert got["HTTP://WWW.EXAMPLE.COM./"] == "www.example.com."
    assert got["mailto:a@b.com"] is None and got[""] is None


def test_host_graph_entries_compile_without_codegen_fallback(spark):
    """The host-graph entries stay inside whole-stage codegen: with
    ``spark.sql.codegen.fallback=false`` a generated method over the
    JVM's 64 KB limit raises instead of silently running interpreted
    (a host rule of several ``try_parse_url`` calls, inlined with the
    href-resolution CASE into a pushed-down Filter, does exceed it).
    The setting is restored for the rest of the session."""
    import __spark_entry__ as entries

    sf_dir = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.001")
    key = "spark.sql.codegen.fallback"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        for name in ("host_link_graph", "host_crawl_rank"):
            assert entries.queries()[name](spark, sf_dir).collect(), name
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
