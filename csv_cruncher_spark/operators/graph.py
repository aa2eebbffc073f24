"""Link-graph analytics for crawl-frontier prioritization.

A CDC web-ingest pipeline (the north rule's Common-Crawl replay) wants
to decide WHICH urls to re-crawl / re-ingest first; the standard signal
is link-graph centrality (PageRank) over the host/page graph. This
module gives that as a fixed-iteration, integer-exact PageRank whose
every step is an equi-join + partial aggregate — no cartesian shapes,
no driver-side graph, no floats.

Cross-engine exactness (the repo's oracle discipline): ranks live in
micro units (1.0 == 1_000_000) as int64; per-edge contributions use
integer division (``rank div out_degree``), the damping step is
``base + (damping_pct * sum) div 100``; int64 sums are associative and
order-independent, so the same unrolled iterations replay bit-for-bit
in DuckDB. Quantization error vs real-valued PageRank is < out_degree
micro per node per iteration — irrelevant for ranking, priceless for
verification.

Scale notes (100 TB / 10^10 nodes):
- the edge list is built once and reused across iterations; each
  iteration is two shuffles (edges-by-src join, contribs-by-dst agg) —
  the canonical Pregel-as-DataFrame shape. At cluster scale, bucket
  BOTH edges (by src) and ranks (by node) on the same key count to
  make the join exchange-free; the agg shuffle is O(nodes), not
  O(edges), because contributions partial-aggregate map-side.
- :func:`pagerank_weighted` holds its loop-invariant frames as lazy
  local checkpoints, so each iteration re-plans a few KB of plan, not
  the caller's upstream (about 2 MB of html-extraction plan behind the
  host graph); the price is that losing an executor fails the job
  instead of recomputing. ``pagerank_micro``, ``hits_micro`` and
  ``bfs_depth`` still persist their frames (``_pin``; release with
  :func:`release`).
- int64 headroom: total rank mass is N * 10^6 micro ≈ 10^16 at N=10^10;
  a universal hub absorbing all of it stays < 2^63 through the
  ``damping_pct *`` step (8.5e17).
- iteration count is fixed (power iteration converges geometrically at
  rate ~damping); for frontier ORDERING 5-10 iterations suffice
  (Boldi et al., "PageRank: Functional Dependencies").

The deterministic pseudo-link generator exists because the test tables
(TESTDATA.md) carry no anchor/link column: links are derived from the
md5 of the source id and slot, the same portable
hex-prefix-as-integer trick ``minhash_md5_signatures`` pins cross-engine
(operators/dedup.py:291). On real crawl data, replace
:func:`derive_link_graph` with the extracted href edges; the PageRank
kernel is source-agnostic.

Reference parity note: the reference engine (csv-cruncher) has no graph
operators at all — this is part of the beyond-reference training-data /
crawl-ops layer, like the dedup and corpus stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _pin


def derive_link_graph(
    docs: DataFrame, id_col: str = "doc_id", out_degree: int = 3
) -> DataFrame:
    """Deterministic pseudo link graph over a contiguous id space:
    node ``src`` gets ``out_degree`` out-links, slot ``j`` pointing at
    ``hex48(md5(src || ':lnk:' || j)) mod N``. Self-loops are allowed
    (they occur with probability 1/N and PageRank is well-defined with
    them), which keeps the generator a pure per-row projection.

    Returns (src, dst) int64. The only non-projection cost is one
    ``count()`` for N (a 1-value driver aggregate).
    """
    n = docs.count()
    slots = F.explode(
        F.array(*[F.lit(j) for j in range(out_degree)])
    ).alias("slot")
    with_slots = docs.select(F.col(id_col).cast("long").alias("src")).select(
        "src", slots
    )
    # conv(hex, 16, 10): 12 hex chars = 48 bits, exact in int64; verified
    # equal to DuckDB's ('0x' || hex)::BIGINT on the same md5 text.
    dst = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("src"), F.lit("lnk"), F.col("slot"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n),
    )
    return with_slots.select("src", dst.alias("dst"))


def pagerank_micro(
    docs: DataFrame,
    id_col: str = "doc_id",
    out_degree: int = 3,
    iterations: int = 3,
    damping_pct: int = 85,
    edges: DataFrame | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration integer-micro PageRank. Every node starts at
    1_000_000 micro; one iteration is::

        rank'(v) = (100 - damping_pct) * 10_000
                 + (damping_pct * SUM_{u->v} (rank(u) div out_degree)) div 100

    computed entirely in int64 (order-independent, bit-reproducible).
    Nodes with no in-links keep the teleport base — the LEFT join +
    coalesce(0) below, which the oracle mirrors.

    ``edges`` defaults to :func:`derive_link_graph`; pass the real href
    edge list in production (every src must have exactly ``out_degree``
    out-edges for the div to be the true out-degree split — for variable
    degree, pre-join a per-src degree column and divide by it instead;
    the fixed-degree form keeps the synthetic oracle exact).

    ``seeds`` (a one-column frame of node ids) switches to PERSONALIZED
    PageRank — the focused-crawl scorer: teleport mass lands only on
    seed nodes (base for seeds, 0 elsewhere) and initial rank is 10^6 on
    seeds, 0 elsewhere, so the stationary mass concentrates in the seed
    set's link neighbourhood (Haveliwala, "Topic-Sensitive PageRank").
    The seed membership joins once up front (broadcast when small —
    Spark decides) and rides the node list as an int flag; the
    per-iteration plan is unchanged.

    Plan shape per iteration: edges ⋈ ranks on src (equi-join; broadcast
    nothing — both sides are big at scale), partial-agg SUM by dst,
    LEFT equi-join back to the node list. The edge frame is persisted
    once and reused across iterations; intermediate rank lineage stays
    short (``iterations`` is small and fixed).
    """
    nodes = docs.select(F.col(id_col).cast("long").alias("node"))
    e = edges if edges is not None else derive_link_graph(docs, id_col, out_degree)
    base = (100 - damping_pct) * 10_000
    if seeds is not None:
        seed_col = seeds.columns[0]
        flags = seeds.select(
            F.col(seed_col).cast("long").alias("node"),
            F.lit(1).alias("__seed"),
        ).distinct()
        nodes = nodes.join(flags, "node", "left").select(
            "node", F.coalesce("__seed", F.lit(0)).alias("__seed")
        )
        base_expr = F.when(F.col("n.__seed") == 1, F.lit(base)).otherwise(F.lit(0))
        init = F.when(F.col("__seed") == 1, F.lit(1_000_000)).otherwise(F.lit(0))
    else:
        base_expr = F.lit(base)
        init = F.lit(1_000_000)
    ranks = nodes.select("node", init.cast("long").alias("rank_micro"))
    for _ in range(iterations):
        # explicit aliases: after the first iteration the rank frame's
        # lineage contains `nodes`, so unqualified columns would be
        # ambiguous in the left join below
        contribs = (
            e.alias("e")
            .join(ranks.alias("r"), F.col("e.src") == F.col("r.node"))
            .select(
                F.col("e.dst").alias("dst"),
                F.expr(f"r.rank_micro div {out_degree}").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.alias("n")
            .join(contribs.alias("c"), F.col("n.node") == F.col("c.dst"), "left")
            .select(
                F.col("n.node").alias("node"),
                (
                    base_expr
                    + F.expr(f"({damping_pct} * coalesce(c.s, 0L)) div 100")
                )
                .cast("long")
                .alias("rank_micro"),
            )
        )
    # the seed flag (when present) lives on `nodes` only — the rank
    # frame stays narrow (node, rank_micro) at every step
    return _pin(e, ranks.select("node", "rank_micro"))


def hits_micro(
    docs: DataFrame,
    id_col: str = "doc_id",
    out_degree: int = 3,
    iterations: int = 2,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration integer-micro HITS (Kleinberg 1999) — the two
    crawl signals PageRank conflates, separated: AUTHORITIES are pages
    worth ingesting (pointed at by good hubs), HUBS are pages worth
    re-crawling for their outlinks (pointing at good authorities). A
    focused crawler schedules hub urls to harvest the frontier and
    authority urls to feed the corpus.

    One iteration::

        a_raw(v) = SUM_{u->v} h(u);   a(v) = a_raw(v) div scale_a
        h_raw(u) = SUM_{u->v} a(v);   h(u) = h_raw(u) div scale_h

    where ``scale = greatest(1, (max_raw + 999_999) div 1_000_000)`` —
    the max-normalization HITS needs to converge, done as a
    DIVIDE-by-ceil-scaled-max rather than multiply-then-divide so a
    node with 10^9 in-links cannot overflow int64 (a_raw ≤
    in_degree·10^6 ≤ 10^15 and nothing ever multiplies it up; after
    normalization every score is back in [0, 10^6]). All arithmetic is
    int64 and order-independent, so the DuckDB oracle unrolls the same
    iterations bit-for-bit (the ``pagerank_micro`` discipline).

    Plan per iteration: two equi-join + partial-agg passes (edges⋈h by
    src, edges⋈a by dst) plus two 1-row MAX aggregates attached via
    crossJoin(broadcast) — the bounded scalar-attach shape the plan
    sweep whitelists. Scores stay on narrow (node, value) frames; the
    edge list is persisted once (release with :func:`release`).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    nodes = docs.select(F.col(id_col).cast("long").alias("node"))
    e = edges if edges is not None else derive_link_graph(docs, id_col, out_degree)
    h = nodes.select("node", F.lit(1_000_000).cast("long").alias("v"))
    a = None
    pins = [e]
    for _ in range(iterations):
        a, p1 = _half_step(nodes, e, h, src_side="src")
        h, p2 = _half_step(nodes, e, a, src_side="dst")
        pins += [p1, p2]
    out = (
        h.select(F.col("node"), F.col("v").alias("hub_micro"))
        .join(
            a.select(F.col("node").alias("anode"), F.col("v").alias("auth_micro")),
            F.col("node") == F.col("anode"),
        )
        .select("node", "hub_micro", "auth_micro")
    )
    for p in pins:
        out = _pin(p, out)
    return out


def bfs_depth(
    docs: DataFrame,
    id_col: str = "doc_id",
    out_degree: int = 3,
    max_rounds: int = 3,
    edges: DataFrame | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Frontier BFS from a seed set: the hop distance every depth-limited
    crawler budgets by (``max_depth`` in Heritrix/Nutch terms). PageRank
    says WHICH pages matter and HITS separates hub from authority, but a
    crawl schedule also needs HOW FAR a page sits from the seeds —
    depth-capped crawling is the standard trap containment (infinite
    calendars and session-id mazes live at high depth).

    Returns (node, depth) for EVERY node: depth 0 on seeds, k for nodes
    first reached in round k ≤ ``max_rounds``, NULL beyond the horizon
    (unreached-within-budget — the honest answer, not a sentinel).

    Algorithm is the textbook frontier BFS, not fixed-point relaxation:
    round k joins ONLY the round-(k-1) frontier against the edge list,
    so per-round cost is O(edges out of the frontier), not O(E) — the
    scalable shape when the reachable set is a small slice of a 10^10
    node graph. Each round is one equi-join (edges ⋈ frontier on src),
    one DISTINCT partial-agg, one LEFT ANTI equi-join against the
    reached set; no windows, no cartesian shapes; every arithmetic value
    is an exact integer, so a DuckDB oracle unrolls the same rounds
    bit-for-bit (the ``pagerank_micro`` discipline). New frontiers are
    persisted (each feeds both the reached-union and the next round);
    ``max_rounds`` is small and fixed, keeping lineage short.

    ``seeds`` is a one-column frame of node ids (required — a crawl
    without seeds has no depth). ``edges`` defaults to
    :func:`derive_link_graph`, same contract as :func:`pagerank_micro`.
    """
    if seeds is None:
        raise ValueError("bfs_depth requires a seed frame")
    if max_rounds < 0:
        raise ValueError("max_rounds must be >= 0")
    nodes = docs.select(F.col(id_col).cast("long").alias("node"))
    e = edges if edges is not None else derive_link_graph(docs, id_col, out_degree)
    seed_col = seeds.columns[0]
    reached = (
        seeds.select(F.col(seed_col).cast("long").alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("depth"))
    )
    frontier = reached.select("node")
    pins = [e]
    for k in range(1, max_rounds + 1):
        candidates = (
            e.alias("e")
            .join(frontier.alias("f"), F.col("e.src") == F.col("f.node"))
            .select(F.col("e.dst").alias("node"))
            .distinct()
        )
        new = candidates.join(reached.select("node"), "node", "left_anti").select(
            "node", F.lit(k).alias("depth")
        )
        pins.append(new)
        reached = reached.union(new)
        frontier = new.select("node")
    out = (
        nodes.alias("n")
        .join(reached.alias("r"), F.col("n.node") == F.col("r.node"), "left")
        .select(F.col("n.node").alias("node"), F.col("r.depth").alias("depth"))
    )
    for p in pins:
        out = _pin(p, out)
    return out


def _half_step(
    nodes: DataFrame, e: DataFrame, scores: DataFrame, src_side: str
) -> tuple[DataFrame, DataFrame]:
    """One HITS half-step: propagate ``scores`` across the edges from
    ``src_side`` to the other endpoint, then ceil-scaled-max normalize
    back into [0, 10^6]. Returns (narrow (node, v) frame, the persisted
    pre-normalization frame — it feeds both the MAX branch and the
    normalization branch, so without the persist each half-step would
    recompute its whole upstream lineage twice, doubling per step)."""
    dst_side = "dst" if src_side == "src" else "src"
    raw = (
        e.alias("e")
        .join(scores.alias("s"), F.col(f"e.{src_side}") == F.col("s.node"))
        .select(F.col(f"e.{dst_side}").alias("t"), F.col("s.v").alias("c"))
        .groupBy("t")
        .agg(F.sum("c").alias("s"))
    )
    full = (
        nodes.alias("n")
        .join(raw, F.col("n.node") == F.col("t"), "left")
        .select(F.col("n.node").alias("node"), F.coalesce("s", F.lit(0)).alias("raw"))
    )
    mx = full.agg(F.max("raw").alias("m"))
    norm = full.crossJoin(F.broadcast(mx)).select(
        "node",
        F.expr("raw div greatest(1L, (m + 999999) div 1000000)")
        .cast("long")
        .alias("v"),
    )
    return norm, full


def pagerank_weighted(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    iterations: int = 3,
    damping_pct: int = 85,
    nodes: DataFrame | None = None,
) -> DataFrame:
    """Weighted, variable-degree PageRank over an ARBITRARY-keyed edge
    list — the production kernel for real link graphs, where
    :func:`pagerank_micro`'s fixed-out-degree contract only fits the
    synthetic test harness. Node keys can be any joinable type (host
    strings, urls, int ids); nothing is cast.

    One iteration::

        out(u)   = SUM_{u->*} w               (precomputed once)
        rank'(v) = (100 - damping_pct) * 10_000
                 + (damping_pct * SUM_{u->v} (rank(u) * w(u,v)) div out(u)) div 100

    all int64 (order-independent, bit-reproducible — a DuckDB oracle
    unrolls the same iterations). ``weight_col=None`` treats every edge
    as weight 1 (plain variable-degree PageRank). Parallel edges are
    legal (their weights add through the same arithmetic).

    int64 headroom: per-edge ``rank(u) * w`` must stay under 2^63 —
    rank is bounded by total mass (n_nodes * 10^6), so the contract is
    ``n_nodes * 10^6 * max_weight < 9.2e18`` (10^10 nodes with
    unweighted edges: 10^16, fine; weighted graphs at that node count
    need weights ≤ ~900 — pre-bucket heavier weights or run the host
    graph, whose node count is 10^3 smaller). Dangling nodes (no
    out-edges) keep the teleport base and their mass is NOT
    redistributed — same bounded-loss contract as ``pagerank_micro``.

    ``nodes`` defaults to the distinct union of both edge endpoints;
    pass the full node frame to also rank isolated nodes.

    Plan per iteration: ONE equi-join (edges+degree ⋈ ranks on src) +
    partial-agg SUM by dst + LEFT join back to nodes — identical shape
    to ``pagerank_micro``; the degree join happens ONCE up front.

    Loop-invariant state is plan-truncated, not cached: the edge
    projection, the weighted edge frame and the node set are each held
    as a lazy ``localCheckpoint(eager=False)`` (the
    ``dedup.connected_components`` idiom). The caller's upstream
    (extraction, contraction, ...) then runs once, and every
    iteration's analysis, optimisation and AQE re-planning walks a
    plan of a few KB instead of the whole extraction plan. Nothing is
    pinned on the result; the checkpoint blocks are freed when the
    returned frame is garbage-collected. Trade-off: local checkpoint
    blocks live only in executor storage, so losing an executor that
    holds one fails the job instead of recomputing the lost partition
    (the same trade ``connected_components`` makes; the three frames
    are narrow, O(edges) longs plus keys).
    """
    # `e` feeds the degree, the weighted edges AND the derived node set;
    # ew and nodes join back EVERY iteration. Checkpointing all three
    # runs the caller's upstream once and cuts it out of every later
    # plan (see the docstring).
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        (F.col(weight_col) if weight_col else F.lit(1)).cast("long").alias("w"),
    ).localCheckpoint(eager=False)
    if nodes is None:
        # node set from the UNFILTERED edges: a node whose edges all
        # carry weight <= 0 is still a node (it just moves no mass)
        nodes = e.select(F.col("src").alias("node")).union(
            e.select(F.col("dst").alias("node"))
        ).distinct()
    else:
        nodes = nodes.select(F.col(nodes.columns[0]).alias("node"))
    nodes = nodes.localCheckpoint(eager=False)
    # non-positive / NULL weights carry no mass and would poison out_w
    # (an all-zero src divides by zero: NULL ranks in Spark, an error in
    # a SQL oracle) — drop them up front, one projection-level filter
    e = e.where(F.col("w") > 0)
    deg = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = e.join(deg, "src").localCheckpoint(eager=False)  # (src, dst, w, out_w)
    base = (100 - damping_pct) * 10_000
    ranks = nodes.select("node", F.lit(1_000_000).cast("long").alias("rank_micro"))
    for _ in range(iterations):
        contribs = (
            ew.alias("e")
            .join(ranks.alias("r"), F.col("e.src") == F.col("r.node"))
            .select(
                F.col("e.dst").alias("dst"),
                F.expr("(r.rank_micro * e.w) div e.out_w").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.alias("n")
            .join(contribs.alias("c"), F.col("n.node") == F.col("c.dst"), "left")
            .select(
                F.col("n.node").alias("node"),
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(c.s, 0L)) div 100")
                )
                .cast("long")
                .alias("rank_micro"),
            )
        )
    return ranks.select("node", "rank_micro")
