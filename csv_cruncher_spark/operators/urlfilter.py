"""Domain-blocklist URL filtering (UT1 / safe-crawl style).

Production crawl pipelines screen every candidate URL against a
blocklist of domains where a match on ANY registrable suffix blocks the
whole subtree: blocking ``example.com`` must block
``ads.tracker.example.com``. The naive formulation — a LIKE / regex
per blocklist row — is a nested-loop over corpus × blocklist and dies
at web scale. Two Spark-first shapes here, picked by blocklist size:

- **literal path** (blocklist is a Python sequence — config-file scale,
  ≤ ~10k entries): the list becomes ONE literal array and the match is
  ``exists(suffixes, s -> array_contains(lit, s))`` — a pure
  projection, ZERO shuffles, zero joins; every row is screened in the
  map task that read it.
- **join path** (blocklist is a DataFrame — UT1 scale, millions of
  entries): explode each host into its label-boundary suffix set
  (bounded by the label count, ~4-6 per host) on a NARROW (row-id,
  suffix) projection, broadcast equi-join against the blocklist to get
  the hit row-id set, then one join back on the uniform synthetic
  row-id key. The payload crosses one skew-free exchange; the
  blocklist (even UT1's ~4M entries is tens of MB) broadcasts; the
  per-row work is O(labels), never O(blocklist).

Cross-engine exactness: suffix-set membership on label boundaries is
equivalent to ``host = d OR host LIKE '%.' || d``, which is how the
DuckDB oracle states it — two spellings of the same predicate, so the
entry is fully oracled with no quantization.

Reference parity: csv-cruncher has no URL surface; this is new-engine
crawl-side admission control for the webtext payload, the sibling of
`operators/bloom.py` (seen-before) and `operators/dedup.py
admission_screen` (near-dup).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import _bare_host

# above this, a literal-array scan per row beats no one — callers with
# big lists should pass a DataFrame (join path)
LITERAL_BLOCKLIST_LIMIT = 10_000


def host_suffixes(host: str | Column) -> Column:
    """Array of label-boundary suffixes of a host, longest first:
    ``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
    com]. Pure JVM expression (split + transform + slice); NULL host →
    NULL array."""
    c = F.col(host) if isinstance(host, str) else host
    parts = F.split(c, "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )


def blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked_domains: Sequence[str] | DataFrame,
    keep: str = "allowed",
) -> DataFrame:
    """Screen rows whose ``url_col`` host falls under any blocked domain.

    A host is blocked when it equals a blocklist entry or ends with
    ``"." + entry`` (label-boundary suffix match — ``notexample.com``
    is NOT blocked by ``example.com``). ``blocked_domains`` is a small
    Python sequence (literal zero-shuffle path, capped at
    LITERAL_BLOCKLIST_LIMIT) or a 1-column DataFrame named ``domain``
    (broadcast-join path for UT1-scale lists).

    keep='allowed' returns surviving rows, keep='blocked' the
    screened-out rows, keep='flag' all rows plus a boolean ``blocked``
    column. Rows whose URL has no parseable host are never blocked
    (they carry no domain to match) — the conservative posture for a
    filter that feeds deletion.
    """
    if keep not in ("allowed", "blocked", "flag"):
        raise ValueError(f"keep must be allowed|blocked|flag, got {keep!r}")
    # port-free host: a blocklist names domains, not ports
    host = _bare_host(F.col(url_col))
    sfx = host_suffixes(host)

    if not isinstance(blocked_domains, DataFrame):
        domains = sorted({d.lower() for d in blocked_domains})
        if len(domains) > LITERAL_BLOCKLIST_LIMIT:
            raise ValueError(
                f"literal blocklist of {len(domains)} entries exceeds "
                f"{LITERAL_BLOCKLIST_LIMIT}; pass a DataFrame for the "
                f"broadcast-join path"
            )
        lit_block = F.array(*[F.lit(d) for d in domains])
        blocked = F.when(host.isNull(), F.lit(False)).otherwise(
            F.exists(sfx, lambda s: F.array_contains(lit_block, s))
        )
        flagged = df.withColumn("blocked", blocked)
    else:
        block = blocked_domains.select(
            F.lower(F.col("domain")).alias("domain")
        ).distinct()
        rid = F.monotonically_increasing_id()
        with_rid = df.withColumn("__rid", rid)
        # narrow (rid, suffix) projection only — payload stays behind
        hit_ids = (
            with_rid.select("__rid", F.explode(sfx).alias("domain"))
            .join(F.broadcast(block), "domain")
            .select("__rid")
            .distinct()
            .withColumn("blocked", F.lit(True))
        )
        flagged = (
            with_rid.join(hit_ids, "__rid", "left")
            .withColumn("blocked", F.coalesce("blocked", F.lit(False)))
            .drop("__rid")
        )

    if keep == "flag":
        return flagged
    if keep == "blocked":
        return flagged.filter(F.col("blocked")).drop("blocked")
    return flagged.filter(~F.col("blocked")).drop("blocked")


# a profile-derived strip set is (host x session-param) sized — small;
# callers with genuinely huge strip frames take the join path
LITERAL_STRIP_LIMIT = 100_000


def _url_parts(c: Column) -> tuple[Column, Column, Column]:
    # prefix (scheme://host/path), raw query (between '?' and '#'),
    # fragment including '#'. Pure JVM regex; NULL url -> NULL parts.
    # The query pattern is ANCHORED so the '?' must precede any '#' —
    # an unanchored \? would match a '?' INSIDE the fragment
    # ('https://h/p#f?a=1' has no query) and duplicate fragment bytes
    # into the rewritten query (hypothesis-caught).
    prefix = F.regexp_extract(c, r"^([^?#]*)", 1)
    query = F.regexp_extract(c, r"^[^#?]*\?([^#]*)", 1)
    frag = F.regexp_extract(c, r"(#.*)$", 1)
    return prefix, query, frag


def _reassemble(prefix: Column, new_query: Column, frag: Column) -> Column:
    return F.concat(
        prefix,
        F.when(new_query == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), new_query)
        ),
        frag,
    )


def strip_params(
    df: DataFrame,
    host_col: str,
    url_col: str,
    strip: dict | DataFrame,
    out_col: str = "canonical_url",
) -> DataFrame:
    """Rewrite each URL with the host's flagged query parameters removed
    — the ACTION half of URL canonicalization (`url_param_profile` is
    the evidence half: it finds the session-id / cache-buster / click-id
    parameters; this strips them, collapsing a trap's URL space back
    onto its real content before CDC keying).

    ``strip`` maps hosts to the parameter names to drop:

    - **dict** ``{host: [param, ...]}`` (the profile-derived case —
      (host × session-param) rows, small): becomes ONE map literal and
      the rewrite is a pure projection — ZERO shuffles, every row
      rewritten in the map task that read it. Capped at
      LITERAL_STRIP_LIMIT total (host, param) pairs.
    - **DataFrame** with columns ``(host, param)`` (a corpus-mined
      frame too big to collect): the distinct narrow (host, url) frame
      posexplodes its query pairs, anti-joins the BROADCAST strip frame
      on (host, param-name), reassembles kept pairs in original order,
      and the payload joins back ONCE on the near-unique (host, url)
      key — the only payload exchange, skew-free by construction.

    Semantics (identical on both paths): the query is the text between
    '?' and '#'; pairs split on '&'; a pair's name is the text before
    the first '='; kept pairs preserve their original order and exact
    bytes (no URL-decoding opinions); stripping every pair drops the
    '?' entirely; the fragment survives untouched; empty pairs ('a=1&&
    b=2') are dropped on rewrite — the one normalization this operator
    does own, since '&&' carries no parameter. NULL urls stay NULL; a
    host absent from ``strip`` (or a NULL host) keeps every parameter
    (only the empty-pair normalization applies) — the conservative
    posture for a rewrite that feeds CDC keying.
    """
    pair_name = lambda p: F.regexp_extract(p, "^([^=]*)", 1)  # noqa: E731

    if not isinstance(strip, DataFrame):
        total = sum(len(v) for v in strip.values())
        if total > LITERAL_STRIP_LIMIT:
            raise ValueError(
                f"literal strip set of {total} (host, param) pairs exceeds "
                f"{LITERAL_STRIP_LIMIT}; pass a DataFrame for the join path"
            )
        entries: list[Column] = []
        for h, params in sorted(strip.items()):
            entries.append(F.lit(h))
            entries.append(F.array(*[F.lit(p) for p in sorted(set(params))]))
        strip_map = (
            F.create_map(*entries) if entries
            else F.lit(None).cast("map<string,array<string>>")
        )
        drop = F.coalesce(
            F.element_at(strip_map, F.col(host_col)),
            F.array().cast("array<string>"),
        )
        prefix, query, frag = _url_parts(F.col(url_col))
        kept = F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~F.array_contains(drop, pair_name(p)),
        )
        return df.withColumn(
            out_col, _reassemble(prefix, F.array_join(kept, "&"), frag)
        )

    strip_df = strip.select(
        F.col("host").alias("__shost"), F.col("param").alias("__sparam")
    ).distinct()
    keys = df.select(
        F.col(host_col).alias("__khost"), F.col(url_col).alias("__kurl")
    ).distinct()
    prefix, query, frag = _url_parts(F.col("__kurl"))
    pairs = keys.select(
        "__khost",
        "__kurl",
        F.posexplode_outer(
            F.filter(F.split(query, "&"), lambda p: p != "")
        ).alias("__pos", "__pair"),
    )
    kept = (
        pairs.filter(F.col("__pair").isNotNull())
        .join(
            F.broadcast(strip_df),
            (F.col("__khost") == F.col("__shost"))
            & (pair_name(F.col("__pair")) == F.col("__sparam")),
            "left_anti",
        )
        .groupBy("__khost", "__kurl")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__pair"))
                    ),
                    lambda s: s["__pair"],
                ),
                "&",
            ).alias("__newq")
        )
    )
    kept = kept.select(
        F.col("__khost").alias("__ghost"),
        F.col("__kurl").alias("__gurl"),
        "__newq",
    )
    canon = keys.join(
        kept,
        F.col("__khost").eqNullSafe(F.col("__ghost"))
        & F.col("__kurl").eqNullSafe(F.col("__gurl")),
        "left",
    ).select(
        "__khost",
        "__kurl",
        _reassemble(prefix, F.coalesce("__newq", F.lit("")), frag).alias(
            out_col
        ),
    )
    return df.join(
        canon,
        (df[host_col].eqNullSafe(canon["__khost"]))
        & (df[url_col].eqNullSafe(canon["__kurl"])),
        "left",
    ).drop("__khost", "__kurl")


def canonicalize_by_profile(
    df: DataFrame,
    host_col: str,
    url_col: str,
    min_occurrences: int = 5,
    session_threshold_micro: int = 900_000,
    out_col: str = "canonical_url",
    max_strip_rows: int = LITERAL_STRIP_LIMIT,
) -> DataFrame:
    """One-call URL canonicalization: mine the (host, param) profile
    over ``df`` itself (:func:`url_param_profile`), collect the
    session-like rows (bounded — raises past ``max_strip_rows`` rather
    than silently truncating the strip set), and rewrite every URL with
    the zero-shuffle literal path of :func:`strip_params`. The profile
    aggregation is the only exchange in the whole call, and it carries
    (host, url-string, param) — never payloads.

    Driver entry ``canonicalized_trap_urls`` oracles the composition
    end-to-end: a drift in the profile thresholds, the flag rule, or
    the rewrite bytes all flip the hash.
    """
    flagged = (
        url_param_profile(
            df,
            host_col,
            url_col,
            min_occurrences=min_occurrences,
            session_threshold_micro=session_threshold_micro,
        )
        .filter(F.col("is_session_like"))
        .select("host", "param")
    )
    rows = flagged.limit(max_strip_rows + 1).collect()
    if len(rows) > max_strip_rows:
        raise ValueError(
            f"profile flagged more than {max_strip_rows} (host, param) "
            f"pairs; raise max_strip_rows or use strip_params' join path"
        )
    by_host: dict[str, list[str]] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r["param"])
    return strip_params(df, host_col, url_col, by_host, out_col=out_col)


def url_param_profile(
    df: DataFrame,
    host_col: str,
    url_col: str,
    min_occurrences: int = 5,
    session_threshold_micro: int = 900_000,
) -> DataFrame:
    """Per-(host, query-parameter) profile — the evidence layer for URL
    canonicalization: a parameter whose value is distinct on (almost)
    every occurrence is a session id / cache buster / click id, and
    stripping it collapses a trap's URL space back onto its real
    content (the actionable follow-up to `mirrors.crawler_trap_report`,
    which flags the host but not the mechanism).

    For every (host, parameter name) pair:

      host, param
      n_occurrences         times the parameter appears across the
                            host's URLs (an URL repeating ?a=1&a=2
                            counts twice — each occurrence is evidence)
      n_distinct_values     distinct values observed
      n_urls                distinct URLs carrying the parameter
      distinct_ratio_micro  floor(1e6 * n_distinct_values /
                            n_occurrences) — 1e6 means never-repeating
      is_session_like       n_occurrences >= min_occurrences AND
                            distinct_ratio_micro >= threshold (default
                            0.9: near-unique values on enough evidence)

    Parsing is pure JVM regex on the URL string (query = text between
    '?' and '#', pairs split on '&', name = text before the first '=',
    value = the rest) — byte-identical re-expressible in the oracle, no
    URL-decoding opinions. A pair with no '=' profiles as (name, '').

    Scale: the explode is bounded by the per-URL parameter count; the
    exchange key is (host, param) — the count-distincts expand to
    two-level map-combined aggregations, so even a platform host with
    10^8 URLs never concentrates raw rows in one task. Only (host,
    url-string, param) ride the shuffle — never page payloads.
    """
    if min_occurrences < 1:
        raise ValueError(
            f"min_occurrences must be >= 1, got {min_occurrences}"
        )
    # anchored: the '?' must precede any '#' (same contract as
    # strip_params' _url_parts — a '?' inside the fragment is not a query)
    query = F.regexp_extract(F.col(url_col), r"^[^#?]*\?([^#]*)", 1)
    pairs = F.filter(F.split(query, "&"), lambda p: p != "")
    kv = df.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("__url"),
        F.explode(pairs).alias("__pair"),
    ).select(
        "host",
        "__url",
        F.regexp_extract("__pair", r"^([^=]*)", 1).alias("param"),
        F.regexp_extract("__pair", r"^[^=]*=?(.*)$", 1).alias("__value"),
    )
    agg = kv.groupBy("host", "param").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("__value").alias("n_distinct_values"),
        F.countDistinct("__url").alias("n_urls"),
    )
    return agg.select(
        "host",
        "param",
        "n_occurrences",
        "n_distinct_values",
        "n_urls",
        F.floor(
            F.col("n_distinct_values") * F.lit(1_000_000)
            / F.col("n_occurrences")
        )
        .cast("bigint")
        .alias("distinct_ratio_micro"),
    ).withColumn(
        "is_session_like",
        (F.col("n_occurrences") >= F.lit(min_occurrences))
        & (F.col("distinct_ratio_micro") >= F.lit(session_threshold_micro)),
    )
