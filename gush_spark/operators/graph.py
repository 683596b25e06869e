"""Navigation-graph analytics — session co-visit transition edges and
fixed-point PageRank over them: the link-structure view of the event
stream (which nodes do journeys flow through, and which carry
authority), sitting next to path mining (paths.py asks "which exact
journeys"; the graph asks "which nodes matter once journeys are folded
into edges").

Reference analog: gush has no graph operator — this follows the driver
brief's web-scale training-pipeline mandate (domain reputation /
crawl-frontier prioritization both want a host-authority score; the
co-visit graph here is the same machinery over whatever node column
the caller supplies).

Determinism/exactness (the repo's integer-fixed-point discipline, same
as pq.py / lm.py / trending.py):
- edges derive from the SAME µs-precision lag-gap sessionization as
  paths.session_paths — one user-keyed sort powers the session flag
  and the successor lookup;
- PageRank runs entirely in scaled BIGINT: ranks start at SCALE
  (mass = N·SCALE), per-edge contributions are
  ``(rank·weight) DIV out_weight``, the damping split is
  ``base + (dp·x) DIV 100`` — every operand non-negative, so Spark's
  truncating DIV and DuckDB's ``//`` agree bit-for-bit and every sum
  is order-free. No float appears anywhere, so the oracle (unrolled
  per-iteration CTEs) is hash-exact, and results are independent of
  partitioning;
- dangling mass (nodes with no out-edges) redistributes uniformly:
  ``dangling DIV N`` added to every node's inflow before damping —
  the standard teleport completion, kept integer.

Scale shape:
- the edge build is ONE user-keyed exchange (lag + lead over the same
  window) then a (src, dst)-keyed count — map-side combinable;
- each PageRank iteration is one equi-join (ranks ⋈ edges on src) and
  one groupBy(dst) — the join key never changes, so a real cluster
  co-partitions ranks and edges once (bucketed by node) and every
  iteration reuses the layout; the per-iteration dangling mass is a
  SCALAR (one tiny agg), the only driver-side value, mirroring
  min_label_components' ``changed`` counter;
- iteration frames are persisted and the loop unpersists the previous
  round, so lineage stays one-iteration deep (the
  min_label_components checkpoint discipline is unnecessary at 3-5
  fixed iterations, but the persist keeps each iteration's plan
  constant-size).

Overflow budget: rank ≤ N·SCALE; rank·weight must stay under 2^63 —
with SCALE=10^9 that allows N·max_edge_weight < 9.2·10^9, far above
any per-session co-visit graph; callers with heavier graphs pass a
smaller ``scale``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000  # fixed-point rank scale (1.0 == SCALE)
PR_DAMPING_PCT = 85  # damping factor in percent (0.85)


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    node_col: str = "event_type",
    id_col: str = "event_id",
    *,
    gap_s: int = 1800,
    drop_self_loops: bool = False,
) -> DataFrame:
    """Weighted directed co-visit edges ``(src, dst, weight)``: one edge
    per consecutive event pair within a session (µs-precision
    ``gap_s`` sessionization, (ts, id) total step order — the
    paths.session_paths convention), weight = number of observed
    transitions. ONE user-keyed exchange powers the session flag and
    the successor; the count is map-side combinable."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev_ts = F.lag(ts_col).over(w)
    new_sess = (
        prev_ts.isNull()
        | (
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(prev_ts.cast("timestamp"))
            )
            > F.lit(int(gap_s) * 1_000_000).cast("long")
        )
    ).cast("long")
    sessioned = events.select(
        user_col,
        ts_col,
        id_col,
        F.col(node_col).alias("_node"),
        F.sum(new_sess)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_sess"),
    )
    w2 = Window.partitionBy(user_col, "_sess").orderBy(ts_col, id_col)
    paired = sessioned.select(
        F.col("_node").alias("src"),
        F.lead("_node").over(w2).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    if drop_self_loops:
        paired = paired.filter(F.col("src") != F.col("dst"))
    return paired.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("weight")
    )


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping_pct: int = PR_DAMPING_PCT,
    scale: int = PR_SCALE,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Fixed-point integer PageRank over a weighted directed edge list
    ``(src, dst, weight)``; returns ``(node, rank)`` for every node
    that appears as a source or destination, rank in units of
    ``1/scale`` (1.0 == ``scale``; total mass ≈ N·scale).

    Per iteration (all BIGINT, every operand non-negative so truncating
    division is floor division in both engines):

        contrib(v)   = Σ over in-edges (rank(src)·weight) DIV out_w(src)
        dangling     = Σ rank over nodes with no out-edge   [scalar]
        rank'(v)     = ((100-dp)·scale) DIV 100
                       + (dp·(contrib(v) + dangling DIV N)) DIV 100

    ``iters`` is a small fixed count (power iteration converges
    geometrically at rate ``dp``; 3-5 iterations rank-order a co-visit
    graph) — fixed so the DuckDB oracle can unroll the loop as chained
    CTEs and match hash-exact.

    ``seeds`` (a 1-column ``node`` DataFrame) switches the teleport to
    TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): the
    ``base`` term and the initial rank go ONLY to seed nodes (trusted
    hubs), so trust flows outward along edges and a region reachable
    only from untrusted nodes converges to rank 0 — the web-spam /
    domain-trust propagation that feeds a reputation gate
    (operators/domains.py). Dangling mass still redistributes
    uniformly (the plain-PageRank completion; a seeds-only
    redistribution would merely rescale trust, not reorder it)."""
    edges = edges.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    )
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # edges ⋈ out-weight once, before the loop — every iteration reuses
    # this frame (on a cluster: bucketed by src, layout reused per iter)
    edges_w = edges.join(out_w, on="src").persist()
    nodes = nodes.persist()
    # the dangling NODE SET is loop-invariant: in the graph but never a
    # source. Derive it once from the persisted frames — the per-iter
    # left_anti against an unpersisted out_w would re-run the whole
    # upstream edge derivation (e.g. the sessionized transition build)
    # every iteration
    dangling_nodes = nodes.join(
        edges_w.select("src").distinct(),
        nodes["node"] == F.col("src"),
        "left_anti",
    ).persist()
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))
    base = ((100 - damping_pct) * scale) // 100

    if seeds is None:
        is_seed = F.lit(True)
        seeded = nodes
    else:
        # trusted-seed indicator rides the node table (one tiny join,
        # before the loop); seeds outside the graph's node set are
        # ignored by construction
        seeded = nodes.join(
            seeds.select(F.col("node"), F.lit(True).alias("_seed")).distinct(),
            on="node",
            how="left",
        ).select("node", F.coalesce("_seed", F.lit(False)).alias("_seed"))
        seeded = seeded.persist()
        is_seed = F.col("_seed")
    base_col = F.when(is_seed, F.lit(base)).otherwise(F.lit(0)).cast("long")

    ranks = seeded.select(
        "node",
        F.when(is_seed, F.lit(scale)).otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    prev = None
    for _ in range(iters):
        # dangling mass: the one scalar per iteration (driver-side, like
        # min_label_components' changed counter) — integer sum, so the
        # collected value is deterministic
        dangling = (
            ranks.join(dangling_nodes, on="node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("d"))
            .collect()[0]["d"]
        )
        share = int(dangling) // n_nodes
        contrib = (
            ranks.join(edges_w, ranks["node"] == edges_w["src"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank * weight DIV out_w").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_contrib"))
        )
        new_ranks = (
            seeded.join(contrib, on="node", how="left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(
                        f"{damping_pct} * (coalesce(_contrib, 0L) + {share}L) "
                        "DIV 100"
                    )
                ).alias("rank"),
            )
            .persist()
        )
        new_ranks.count()  # materialize before dropping the parent
        if prev is not None:
            prev.unpersist()
        prev, ranks = new_ranks, new_ranks
    result = ranks.select("node", F.col("rank").cast("long").alias("rank"))
    return result


def hits(
    edges: DataFrame,
    *,
    iters: int = 3,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg, JACM 1999) over a weighted
    directed edge list ``(src, dst, weight)``; returns
    ``(node, hub, auth)`` for every node appearing as a source or
    destination, both scores in units of ``1/scale`` with the
    per-half-step max pinned at exactly ``scale``.

    The mutual-reinforcement complement of :func:`pagerank`: PageRank
    scores where random journeys concentrate; HITS separates *hubs*
    (pages whose out-links select good content — navigation/index
    pages) from *authorities* (pages good hubs point at — the content
    itself). On a crawl frontier the hub score ranks seed/index pages
    to refetch for discovery while the authority score feeds the same
    reputation gate PageRank does.

    Integer discipline (same contract as :func:`pagerank`, so the
    DuckDB oracle is hash-exact):

        auth_raw(v) = Σ over in-edges  hub(u)·weight(u,v)
        auth(v)     = auth_raw(v) DIV ceil(max(auth_raw) / scale)
        hub_raw(u)  = Σ over out-edges auth(v)·weight(u,v)
        hub(u)      = hub_raw(u) DIV ceil(max(hub_raw) / scale)

    Max-normalization replaces the textbook L2 norm — a square root
    has no exact integer form, and any monotone normalization
    preserves HITS' ranking fixed point; the max is the one scalar per
    half-step (driver-side, like pagerank's dangling mass). Dividing
    by ``ceil(max/scale)`` rather than multiplying by ``scale`` keeps
    every product inside the ``score·weight`` budget (the naive
    ``raw·scale DIV max`` squares the scale and overflows); the
    normalized max lands in ``(scale/2, scale]`` each half-step, so
    scores neither blow up nor collapse. Every operand is non-negative
    BIGINT, so Spark's truncating DIV and DuckDB's ``//`` agree
    bit-for-bit and all sums are order-free.

    Scale shape: each half-step is one equi-join (scores ⋈ edges, key
    src or dst) + one map-side-combinable agg; the edge frame is
    persisted once and both half-steps reuse it (on a cluster: bucket
    by src, the dst-keyed agg is the one exchange per half-step). The
    raw sums are persisted and materialized by the max-collect itself
    (one action per half-step), the normalizing division stays a lazy
    projection over that persisted frame, and nodes that received no
    mass are left absent mid-loop — a zero score contributes zero to
    the next half-step's sum and cannot move the max, so the zero-fill
    join happens exactly once, on the final output.
    Overflow budget: score ≤ scale, so a raw sum ≤ scale·Σweights —
    with scale=10^9 that allows ~9.2·10^9 total edge weight; heavier
    graphs pass a smaller ``scale``.
    """
    edges = edges.select(
        "src", "dst", F.col("weight").cast("long").alias("weight")
    ).persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    if nodes.count() == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("auth"),
        )

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # one scalar — and one action — per half-step (like pagerank's
        # dangling mass): persist the raw sums, let the max-collect
        # materialize them, and keep the division a lazy projection so
        # the expensive join+agg never re-runs. max >= scale whenever
        # any edge exists because hubs start at scale, so denom >= 1
        # and the normalized max sits in (scale/2, scale]. Rows absent
        # from raw (no mass received) are implicitly zero — they cannot
        # move the max and contribute nothing downstream.
        raw = raw.persist()
        mx = raw.agg(F.coalesce(F.max(col), F.lit(0)).alias("m")).collect()[
            0
        ]["m"]
        if mx <= 0:
            return raw.select("node", F.lit(0).cast("long").alias(col)), raw
        denom = (int(mx) + scale - 1) // scale
        return (
            raw.select(
                "node", F.expr(f"{col} DIV {max(denom, 1)}L").alias(col)
            ),
            raw,
        )

    hubs = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auths = nodes.select("node", F.lit(scale).cast("long").alias("auth"))
    prev_h = prev_a = None
    for _ in range(iters):
        auth_raw = (
            hubs.join(edges, hubs["node"] == edges["src"])
            .select(F.col("dst").alias("node"), F.expr("hub * weight").alias("_r"))
            .groupBy("node")
            .agg(F.sum("_r").cast("long").alias("auth"))
        )
        auths, a_pin = _normalize(auth_raw, "auth")
        if prev_a is not None:
            prev_a.unpersist()
        prev_a = a_pin
        hub_raw = (
            auths.join(edges, auths["node"] == edges["dst"])
            .select(F.col("src").alias("node"), F.expr("auth * weight").alias("_r"))
            .groupBy("node")
            .agg(F.sum("_r").cast("long").alias("hub"))
        )
        hubs, h_pin = _normalize(hub_raw, "hub")
        if prev_h is not None:
            prev_h.unpersist()
        prev_h = h_pin
    # the one zero-fill: every node in the graph gets a row, nodes that
    # never received hub/auth mass at 0 (matching the oracle's LEFT JOIN)
    return (
        nodes.join(hubs, on="node", how="left")
        .join(auths, on="node", how="left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 4,
) -> DataFrame:
    """Minimum hop distance from a seed set over a directed edge list
    ``(src, dst, weight)`` — the crawl-frontier-depth view of the
    co-visit graph: how many observed journey steps separate a page
    from the trusted hubs (the TrustRank seed set; see
    :func:`pagerank`)? Returns ``(node, hops)`` for every node REACHED
    within ``max_hops`` (unreached nodes are absent — at a 10^12-page
    frontier the reached set is the deliverable, not a row per node).

    Classic frontier BFS as iterated equi-joins (Pregel's shape without
    the framework):

    - ``visited`` starts as seeds ∩ graph nodes at hop 0 (seeds outside
      the edge set are ignored by construction, matching pagerank's
      node universe);
    - each round: frontier ⋈ edges on ``node = src`` → distinct dst,
      minus already-visited (left-anti) → next frontier at hop h;
    - early-exit on an empty frontier (one driver-side scalar per
      round, the same discipline as pagerank's dangling mass — and the
      count doubles as the materialization barrier for the persist).

    Determinism: hop levels are set-valued (first-reached level IS the
    min distance; no ordering enters), so the result is independent of
    partitioning and matches a DuckDB recursive-CTE oracle
    (``walk(node, hops)`` with UNION dedup, ``min(hops)`` per node)
    hash-exact. All hop values BIGINT.

    Scale shape: each round is one equi-join keyed on the SAME column
    (src) — a cluster co-partitions edges once and every round reuses
    the layout; the anti-join is keyed on node. Frontier and visited
    frames carry (node, hops) only — no payload columns ride the
    iteration. Lineage stays one-round deep via persist/unpersist;
    ``max_hops`` is a small fixed bound (crawl depth budgets are single
    digits), which is also what lets the oracle bound its recursion.
    """
    edges = edges.select("src", "dst")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    visited = (
        seeds.select("node")
        .distinct()
        .join(nodes, on="node")
        .select("node", F.lit(0).cast("long").alias("hops"))
        .persist()
    )
    frontier = visited
    prev_visited = prev_frontier = None
    for h in range(1, max_hops + 1):
        if frontier.count() == 0:
            break
        # persist the frontier: the union materialization below fills its
        # cache, so the next round's early-exit count and edge join read
        # it instead of re-running this round's join+distinct+anti-join
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, on="node", how="left_anti")
            .select("node", F.lit(h).cast("long").alias("hops"))
            .persist()
        )
        new_visited = visited.unionByName(nxt).persist()
        new_visited.count()  # materialize before dropping the parents
        if prev_visited is not None:
            prev_visited.unpersist()
        if prev_frontier is not None:
            prev_frontier.unpersist()
        prev_visited, prev_frontier = visited, frontier
        visited, frontier = new_visited, nxt
    return visited.select("node", "hops")


def triangle_counts(
    edges: DataFrame,
    *,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Per-node triangle participation over an UNDIRECTED simple graph
    given as canonical edges ``(id_a, id_b)`` with ``id_a < id_b``
    (the covisit_components convention): returns
    ``(node, degree, triangles, clustering_x1e9)`` where
    ``clustering_x1e9 = (2·T·scale) DIV (deg·(deg−1))`` — the local
    clustering coefficient in the repo's fixed-point BIGINT discipline
    (0 when degree < 2), so the DuckDB oracle is hash-exact.

    Triangles measure browse-cluster DENSITY where components
    (min_label_components) measure mere connectivity: a star of
    weakly-related pages and a tight clique are both one component,
    but only the clique closes wedges. High-clustering regions of the
    co-visit graph are coherent site sections / topic hubs — the
    navigational analog of SemDeDup's semantic cells.

    Enumeration is the textbook ordered triple join, each triangle
    counted exactly once as ``a < b < c``:

        wedges (a,b,c):  e1(a,b) ⋈ e2(b,c)  on  e1.id_b = e2.id_a
        triangles:       wedge ⋈ e3(a,c)    on  (a, c) — closing edge

    then each triangle credits all three corners (explode + count).

    Scale shape: two equi-joins + one agg, node ids only on the wire
    (no payload). The wedge join keys on the shared middle vertex —
    the canonical ``a < b`` orientation bounds each vertex's wedge
    fan-out by its FORWARD degree, the standard skew cut; production
    graphs order by (degree, id) instead of raw id for the sharpest
    bound, which reorders labels but not counts — counts are
    orientation-invariant, and the oracle pins the id ordering used
    here. The closing-edge join is a two-column equi-join (hash, never
    nested-loop; pinned by the plan audit).
    """
    e = edges.select("id_a", "id_b").distinct()
    deg = (
        e.select(F.col("id_a").alias("node"))
        .unionByName(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e2 = e.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    e3 = e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tris = wedges.join(e3, on=["a", "c"])
    per_node = (
        tris.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )
    return deg.join(per_node, on="node", how="left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            F.expr(
                f"2 * coalesce(triangles, 0L) * {scale}L "
                "DIV (degree * (degree - 1))"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("clustering_x1e9"),
    )


def reciprocity(
    edges: DataFrame,
    *,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Per-node navigation symmetry over a directed edge list
    ``(src, dst, ...)``: returns
    ``(node, out_deg, in_deg, mutual, reciprocity_x1e9)`` where
    degrees count DISTINCT neighbors (self-loops dropped), ``mutual``
    counts out-neighbors that also link back, and
    ``reciprocity_x1e9 = mutual·scale DIV out_deg`` (0 when out_deg is
    0) — fixed-point BIGINT per the repo's integer discipline, so a
    DuckDB oracle is hash-exact.

    High reciprocity marks genuine back-and-forth browsing (content
    hubs, paginated series); near-zero reciprocity on high out-degree
    marks funnel/redirect pages — a crawler-trap and
    boilerplate-navigation signal complementing triangles (density)
    and HITS (role separation).

    Scale shape: one distinct pass, one self-equi-join on the reversed
    (src, dst) pair (hash join, two-column key), three
    map-side-combinable degree aggs — node ids only on the wire."""
    d = edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    outs = d.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    ins = d.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    rev = d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mut = (
        d.join(rev, on=["src", "dst"], how="left_semi")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("mutual"))
    )
    uni = (
        d.select(F.col("src").alias("node"))
        .unionByName(d.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        uni.join(outs, on="node", how="left")
        .join(ins, on="node", how="left")
        .join(mut, on="node", how="left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("mutual", F.lit(0)).cast("long").alias("mutual"),
            F.when(
                F.coalesce("out_deg", F.lit(0)) > 0,
                F.expr(f"coalesce(mutual, 0L) * {scale}L DIV out_deg"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("reciprocity_x1e9"),
        )
    )


def hits_oracle_sql(
    edges_cte: str,
    *,
    iters: int = 3,
    scale: int = PR_SCALE,
) -> str:
    """DuckDB CTE stack replicating :func:`hits` bit-for-bit over an
    ``edges(src, dst, weight)`` relation named by ``edges_cte`` —
    iterations unrolled, the per-half-step max a whole-relation window
    ``max() OVER ()`` (NOT a scalar subquery: DuckDB inlines CTEs, so
    each extra reference to the previous level re-expands its whole
    chain and three references per level compound exponentially across
    unrolled iterations — one window reference keeps the plan linear
    in ``iters``), all arithmetic non-negative BIGINT. Final relation:
    ``_hits_h{iters}`` (hub) and ``_hits_a{iters}`` (auth), join on
    node."""
    parts = [
        f"""_hits_edges AS (
      SELECT src, dst, CAST(weight AS BIGINT) AS weight FROM {edges_cte}
    ), _hits_nodes AS (
      SELECT src AS node FROM _hits_edges
      UNION SELECT dst FROM _hits_edges
    ), _hits_h0 AS (
      SELECT node, CAST({scale} AS BIGINT) AS hub FROM _hits_nodes
    )"""
    ]
    for i in range(1, iters + 1):
        ph = f"_hits_h{i - 1}"
        parts.append(
            f"""_hits_araw{i} AS (
      SELECT n.node,
             CAST(COALESCE(s.v, 0) AS BIGINT) AS auth,
             max(CAST(COALESCE(s.v, 0) AS BIGINT)) OVER () AS mx
      FROM _hits_nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(h.hub * e.weight) AS v
        FROM {ph} h JOIN _hits_edges e ON h.node = e.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    ), _hits_a{i} AS (
      SELECT node,
             CASE WHEN mx <= 0 THEN 0
                  ELSE auth // GREATEST((mx + {scale} - 1) // {scale}, 1)
             END AS auth
      FROM _hits_araw{i}
    ), _hits_hraw{i} AS (
      SELECT n.node,
             CAST(COALESCE(s.v, 0) AS BIGINT) AS hub,
             max(CAST(COALESCE(s.v, 0) AS BIGINT)) OVER () AS mx
      FROM _hits_nodes n LEFT JOIN (
        SELECT e.src AS node, sum(a.auth * e.weight) AS v
        FROM _hits_a{i} a JOIN _hits_edges e ON a.node = e.dst
        GROUP BY e.src
      ) s ON n.node = s.node
    ), _hits_h{i} AS (
      SELECT node,
             CASE WHEN mx <= 0 THEN 0
                  ELSE hub // GREATEST((mx + {scale} - 1) // {scale}, 1)
             END AS hub
      FROM _hits_hraw{i}
    )"""
        )
    return ",\n".join(parts)


def pagerank_oracle_sql(
    edges_cte: str,
    *,
    iters: int = 3,
    damping_pct: int = PR_DAMPING_PCT,
    scale: int = PR_SCALE,
    seeds_cte: str | None = None,
) -> str:
    """DuckDB CTE stack replicating ``pagerank`` bit-for-bit over an
    ``edges(src, dst, weight)`` relation named by ``edges_cte`` —
    iterations unrolled (the fixed-iteration contract exists for this),
    every step the same non-negative BIGINT arithmetic. With
    ``seeds_cte`` (a ``node``-column relation), replicates the
    TrustRank variant (seeded teleport + seeded init)."""
    base = ((100 - damping_pct) * scale) // 100
    if seeds_cte is None:
        seed_cols = f"""
      SELECT node, CAST({scale} AS BIGINT) AS r0,
             CAST({base} AS BIGINT) AS base
      FROM _pr_nodes"""
    else:
        seed_cols = f"""
      SELECT n.node,
             CAST(CASE WHEN s.node IS NOT NULL THEN {scale} ELSE 0 END
                  AS BIGINT) AS r0,
             CAST(CASE WHEN s.node IS NOT NULL THEN {base} ELSE 0 END
                  AS BIGINT) AS base
      FROM _pr_nodes n
      LEFT JOIN (SELECT DISTINCT node FROM {seeds_cte}) s
        ON n.node = s.node"""
    parts = [
        f"""_pr_edges AS (
      SELECT src, dst, CAST(weight AS BIGINT) AS weight FROM {edges_cte}
    ), _pr_outw AS (
      SELECT src, CAST(sum(weight) AS BIGINT) AS out_w
      FROM _pr_edges GROUP BY src
    ), _pr_nodes AS (
      SELECT src AS node FROM _pr_edges
      UNION SELECT dst FROM _pr_edges
    ), _pr_n AS (SELECT count(*) AS n FROM _pr_nodes
    ), _pr_seeded AS ({seed_cols}
    ), _pr_r0 AS (
      SELECT node, r0 AS rank FROM _pr_seeded
    )"""
    ]
    for i in range(1, iters + 1):
        p, c = f"_pr_r{i - 1}", f"_pr_r{i}"
        parts.append(
            f"""_pr_d{i} AS (
      SELECT COALESCE(sum(r.rank), 0) // (SELECT n FROM _pr_n) AS share
      FROM {p} r LEFT JOIN _pr_outw o ON r.node = o.src
      WHERE o.src IS NULL
    ), _pr_c{i} AS (
      SELECT e.dst AS node,
             CAST(sum((r.rank * e.weight) // o.out_w) AS BIGINT) AS contrib
      FROM {p} r
      JOIN _pr_edges e ON r.node = e.src
      JOIN _pr_outw o ON e.src = o.src
      GROUP BY e.dst
    ), {c} AS (
      SELECT n.node,
             CAST(n.base + ({damping_pct} * (COALESCE(c.contrib, 0)
                    + (SELECT share FROM _pr_d{i}))) // 100 AS BIGINT)
               AS rank
      FROM _pr_seeded n LEFT JOIN _pr_c{i} c ON n.node = c.node
    )"""
        )
    return ",\n".join(parts)


def kcore(
    und_edges: DataFrame,
    *,
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """k-core membership over an UNDIRECTED simple graph given as
    canonical edges ``(id_a, id_b)`` with ``id_a < id_b`` (the
    covisit_components / triangle_counts convention): iteratively peel
    every node whose degree in the surviving subgraph is below ``k``
    (Seidman, Social Networks 1983), for a FIXED ``rounds`` peels with
    fixpoint early-exit. Returns ``(node, degree)`` for the nodes still
    alive after the last round, degree measured inside the surviving
    subgraph.

    Where triangle_counts measures local density and components mere
    connectivity, the k-core isolates the globally dense region — on a
    web/co-visit graph the classic link-farm / spam-cluster signal
    (dense cores survive peeling; organically browsed trees do not) and
    the standard seed set for crawl prioritization of well-embedded
    hubs.

    Fixed rounds (not run-to-fixpoint) keep the DuckDB oracle an
    unrolled CTE chain — the same contract as pagerank/hits. The peel
    set only shrinks, so if a round removes nothing the state is the
    true k-core and every later round is a no-op; the early exit keys
    on the survivor COUNT (monotone shrinkage makes equal counts equal
    sets), so stopping early returns exactly what round ``rounds``
    would.

    Scale shape: per round one map-side-combinable degree agg + two
    semi-joins keyed on the endpoint columns — node ids only on the
    wire, lineage one round deep via persist/unpersist, the same
    discipline as bfs_hops. Degrees are exact BIGINT counts, so the
    oracle is hash-exact.
    """
    bedges = (
        und_edges.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .unionByName(
            und_edges.select(
                F.col("id_b").alias("s"), F.col("id_a").alias("d")
            )
        )
        .persist()
    )
    alive = None  # (node, degree) of the current survivor set
    n_alive = -1
    prev_alive = prev_b = None
    for _ in range(rounds):
        deg = (
            bedges.groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .filter(F.col("degree") >= k)
            .persist()
        )
        n_new = deg.count()
        if prev_alive is not None:
            prev_alive.unpersist()
        prev_alive, alive = alive, deg
        if n_new == n_alive or n_new == 0:
            break  # fixpoint (monotone shrink: equal count == equal set)
        n_alive = n_new
        nodes_now = deg.select("node")
        new_b = (
            bedges.join(nodes_now, bedges["s"] == nodes_now["node"], "left_semi")
            .join(nodes_now, bedges["d"] == nodes_now["node"], "left_semi")
            .persist()
        )
        if prev_b is not None:
            prev_b.unpersist()
        prev_b, bedges = bedges, new_b
    return alive.select("node", "degree")


def kcore_oracle_sql(und_cte: str, *, k: int = 3, rounds: int = 4) -> str:
    """DuckDB CTE stack replicating :func:`kcore` bit-for-bit over a
    canonical undirected relation ``{und_cte}(id_a, id_b)`` — rounds
    unrolled; a converged round recomputes the identical survivor set,
    matching the Spark early-exit. Final relation: ``_kc_a{rounds}``
    with ``(node, degree)``."""
    parts = [
        f"""_kc_b0 AS (
      SELECT id_a AS s, id_b AS d FROM {und_cte}
      UNION ALL SELECT id_b, id_a FROM {und_cte}
    )"""
    ]
    for i in range(1, rounds + 1):
        pb = f"_kc_b{i - 1}"
        parts.append(
            f"""_kc_a{i} AS (
      SELECT s AS node, CAST(count(*) AS BIGINT) AS degree
      FROM {pb} GROUP BY s HAVING count(*) >= {k}
    ), _kc_b{i} AS (
      SELECT b.s, b.d FROM {pb} b
      WHERE b.s IN (SELECT node FROM _kc_a{i})
        AND b.d IN (SELECT node FROM _kc_a{i})
    )"""
        )
    return ",\n".join(parts)


def hash_walks(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    steps: int = 4,
) -> DataFrame:
    """Deterministic DeepWalk-style walk corpus (Perozzi et al., KDD
    2014 — the graph-embedding training-data prep): from every seed
    node, take ``steps`` hops where the hop from node ``u`` at step
    ``t`` goes to the out-neighbor minimizing
    ``md5(u || '|' || t || '|' || dst)`` (tie-break on ``dst``; md5 is
    identical hex in both engines, so every walk is reproducible and
    oracle-exact). Returns ``(start, s1..s{steps})``, NULL from the
    first step where the walk left the graph (no out-edges).

    Hash-argmin replaces the published weighted random sample — the
    embedding corpus needs *coverage and reproducibility*, not true
    randomness (the repo-wide determinism discipline: the same
    hash-not-rand trade as hash_split_sample / stratified quotas), and
    salting the hash input with the step index decorrelates revisits.

    Scale shape: per step one equi-join keyed on the CURRENT node (the
    walk frontier ⋈ edges on src — a cluster co-partitions edges once
    and every step reuses the layout, bfs_hops' shape) and one
    per-start argmin (``min_by`` tuple trick via struct ordering —
    map-side combinable, no window sort). Only (start, current) ride
    the iteration; completed step columns stay in a compact frame
    joined back once per step.

    Unlike the other graph loops there is NO per-step driver scalar, so
    no per-step action either: every step frame is pinned lazily
    (each is read twice — by the next step's expansion and by the
    carry join — and the cache fills on first compute within the one
    materializing job), a single count at the end materializes the
    whole chain, and only then are the intermediates unpersisted. With
    a bounded ``steps`` the lineage stays shallow and the walk frames
    are seed-count-sized.
    """
    # fresh attribute ids for the edge columns: seeds are typically
    # derived from the same edge frame, and reusing the original attrs
    # trips Spark's ambiguous-self-join detection. Persisted ONCE —
    # every step joins this frame, and an unpersisted edge list would
    # re-run the whole upstream derivation (e.g. the sessionized
    # transition build) per step (the pagerank dangling-mass lesson)
    e = edges.select(
        F.col("src").alias("_e_src"), F.col("dst").alias("_e_dst")
    ).persist()
    walks = seeds.select(
        F.col("node").alias("start"), F.col("node").alias("_cur")
    ).persist()
    pins = [e, walks]
    for t in range(1, steps + 1):
        nxt = (
            walks.filter(F.col("_cur").isNotNull())
            .join(e, F.col("_cur") == F.col("_e_src"))
            .select(
                "start",
                F.col("_e_dst").alias("_dst"),
                F.md5(
                    F.concat_ws(
                        "|", F.col("_cur"), F.lit(str(t)), F.col("_e_dst")
                    )
                ).alias("_h"),
            )
            .groupBy("start")
            .agg(
                F.min(F.struct("_h", "_dst")).alias("_best")
            )
            .select("start", F.col("_best._dst").alias(f"s{t}"))
        )
        new_walks = (
            walks.join(nxt, on="start", how="left")
            .drop("_cur")
            .withColumn("_cur", F.col(f"s{t}"))
            .persist()
        )
        pins.append(new_walks)
        walks = new_walks
    walks.count()  # ONE action materializes the chain (caches fill in-job)
    for p in pins[:-1]:
        p.unpersist()
    return walks.drop("_cur")


def hash_walks_oracle_sql(
    edges_cte: str, seeds_cte: str, *, steps: int = 4
) -> str:
    """DuckDB CTE stack replicating :func:`hash_walks`: per step a join
    on the current node + ``row_number`` argmin over ``(md5, dst)``.
    Final relation ``_hw_w{steps}(start, s1..s{steps})``."""
    parts = [
        f"""_hw_w0 AS (
      SELECT node AS start, node AS cur FROM {seeds_cte}
    )"""
    ]
    for t in range(1, steps + 1):
        pw = f"_hw_w{t - 1}"
        carried = ", ".join(f"w.s{j}" for j in range(1, t))
        carried = (carried + ", ") if carried else ""
        parts.append(
            f"""_hw_p{t} AS (
      SELECT w.start, e.dst AS s{t}
      FROM {pw} w JOIN {edges_cte} e ON w.cur = e.src
      WHERE w.cur IS NOT NULL
      QUALIFY row_number() OVER (
        PARTITION BY w.start
        ORDER BY md5(w.cur || '|' || '{t}' || '|' || e.dst), e.dst) = 1
    ), _hw_w{t} AS (
      SELECT w.start, {carried}p.s{t}, p.s{t} AS cur
      FROM {pw} w LEFT JOIN _hw_p{t} p ON w.start = p.start
    )"""
        )
    return ",\n".join(parts)


def label_propagation(
    und_edges: DataFrame,
    *,
    iters: int = 4,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007) over an UNDIRECTED weighted
    graph given as canonical edges ``(id_a, id_b, w)`` with
    ``id_a < id_b``: every node starts labeled with itself; each
    round it adopts the label carrying the highest total incident
    weight among its neighbors (ties broken by SMALLEST label — the
    repo-wide determinism trade, replacing the paper's random
    tie-break so reruns, partitionings and the DuckDB oracle agree
    bit-for-bit). Dense neighborhoods agree on a label within a few
    rounds; the label is the community id. On a co-visit graph the
    communities are browse-topic clusters — the unsupervised
    complement of min_label_components (which needs a similarity
    threshold and gives connectivity, not density).

    Fixed ``iters`` with fixpoint early-exit, the pagerank/kcore
    contract: the update is a pure function of the label frame, so a
    round that changes nothing proves every later round is identical
    (the oracle's extra unrolled rounds recompute the same relation).
    Synchronous updates can 2-cycle on bipartite structure rather than
    converge — fixed rounds make that deterministic too, on both
    engines.

    Scale shape: per round ONE src-keyed equi-join against the
    persisted bidirectional edge frame + one (node, label)-keyed
    map-side-combinable weight agg + one node-keyed argmin-struct agg
    (``min(struct(-w_sum, label))`` — no row_number window); only node
    ids and labels (node ids) cross the wire; lineage one round deep
    via persist/unpersist. The changed-row count is the one scalar
    action per round (the pagerank dangling-mass discipline).
    """
    bedges = (
        und_edges.select(
            F.col("id_a").alias("s"), F.col("id_b").alias("d"),
            F.col("w").cast("long").alias("w"),
        )
        .unionByName(
            und_edges.select(
                F.col("id_b").alias("s"), F.col("id_a").alias("d"),
                F.col("w").cast("long").alias("w"),
            )
        )
        .persist()
    )
    labels = (
        bedges.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .persist()
    )
    labels.count()
    prev = None
    for _ in range(iters):
        scores = (
            labels.join(bedges, labels["node"] == bedges["s"])
            .select(F.col("d").alias("node"), "label", "w")
            .groupBy("node", "label")
            .agg(F.sum("w").alias("w_sum"))
        )
        new_labels = (
            scores.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("w_sum")).alias("nw"), F.col("label").alias("l")
                    )
                ).alias("m")
            )
            .select("node", F.col("m.l").alias("label"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        if prev is not None:
            prev.unpersist()
        prev, labels = labels, new_labels
        if changed == 0:
            break  # fixpoint: the update is pure, later rounds identical
    return labels.select("node", "label")


def label_prop_oracle_sql(und_cte: str, *, iters: int = 4) -> str:
    """DuckDB CTE stack replicating :func:`label_propagation` over a
    weighted undirected relation ``{und_cte}(id_a, id_b, w)`` — rounds
    unrolled, argmax-by-weight/min-label via row_number. Final
    relation: ``_lp_l{iters}`` with ``(node, label)``."""
    parts = [
        f"""_lp_b AS (
      SELECT id_a AS s, id_b AS d, CAST(w AS BIGINT) AS w FROM {und_cte}
      UNION ALL SELECT id_b, id_a, CAST(w AS BIGINT) FROM {und_cte}
    ), _lp_l0 AS (
      SELECT DISTINCT s AS node, s AS label FROM _lp_b
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""_lp_s{i} AS (
      SELECT b.d AS node, l.label, CAST(sum(b.w) AS BIGINT) AS w_sum
      FROM _lp_b b JOIN _lp_l{i - 1} l ON b.s = l.node
      GROUP BY 1, 2
    ), _lp_l{i} AS (
      SELECT node, label FROM _lp_s{i}
      QUALIFY row_number() OVER (
        PARTITION BY node ORDER BY w_sum DESC, label ASC) = 1
    )"""
        )
    return ",\n".join(parts)


def resource_allocation(
    edges: DataFrame,
    *,
    k: int = 5,
    scale: int = PR_SCALE,
) -> DataFrame:
    """Link prediction over an UNDIRECTED simple graph given as
    canonical edges ``(id_a, id_b)`` with ``id_a < id_b`` (the
    triangle_counts convention): for every 2-hop pair that is NOT an
    edge, the resource-allocation index (Zhou, Lü & Zhang 2009 — the
    common-neighbor score that discounts promiscuous hubs hardest,
    empirically the strongest of the classic local indices):

        RA(a, c)  =  Σ_{b ∈ Γ(a) ∩ Γ(c)}  1 / deg(b)

    kept in the repo's fixed-point BIGINT discipline as
    ``Σ (scale DIV deg_b)`` — every operand non-negative, so Spark's
    truncating DIV and DuckDB's ``//`` agree and the per-pair sum is
    order-free, making the oracle hash-exact. Output: the top-``k``
    predicted neighbors per source node,
    ``(id_a, id_b, common_neighbors, ra_x1e9, rank)`` with a total
    rank order (ra DESC, common_neighbors DESC, id_b ASC).

    For a crawl pipeline this is frontier EXPANSION: pages two hops
    apart that share many low-degree co-visit neighbors are likely
    same-section siblings the crawler has not linked yet — the
    discovery complement of recrawl (known pages) and bfs_hops
    (reachable pages).

    Scale shape: wedge enumeration is ONE self-equi-join of the
    adjacency list on the shared middle vertex b — fan-out bounded by
    deg(b)² like triangle_counts' wedge stage, with the same
    production skew cut (cap or sample hub middles; a b with deg ≫
    avg contributes ~0 to RA anyway, 1/deg → 0, so capping hubs is
    both the skew fix and a no-op on the ranking). The existing-edge
    filter is a broadcast-able anti-join on (a, c) pairs; the top-k is
    a per-node WindowGroupLimit, never a global sort. Node ids and
    three BIGINTs are the only wire payload. The deduped edge frame
    feeds the adjacency twice, the degree table and the anti-join, but
    it is not persisted: its one shuffle is the same exchange in every
    branch, which Spark reuses (ReusedExchange), so the upstream edge
    build runs once and no cached frame outlives the call."""
    e = edges.select("id_a", "id_b").distinct()
    adj = e.select(
        F.col("id_a").alias("node"), F.col("id_b").alias("nbr")
    ).unionByName(
        e.select(F.col("id_b").alias("node"), F.col("id_a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    left = adj.select(F.col("node").alias("b"), F.col("nbr").alias("a"))
    right = adj.select(F.col("node").alias("b"), F.col("nbr").alias("c"))
    wedges = (
        left.join(right, on="b")
        .filter(F.col("a") < F.col("c"))
        .join(deg.select(F.col("node").alias("b"), "deg"), on="b")
    )
    pair_scores = wedges.groupBy("a", "c").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum(F.expr(f"{int(scale)}L DIV deg")).cast("long").alias("ra_x1e9"),
    )
    cand = pair_scores.join(
        e,
        (F.col("a") == F.col("id_a")) & (F.col("c") == F.col("id_b")),
        "left_anti",
    )
    w = Window.partitionBy("a").orderBy(
        F.col("ra_x1e9").desc(), F.col("common_neighbors").desc(), F.col("c")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(
            F.col("a").alias("id_a"),
            F.col("c").alias("id_b"),
            "common_neighbors",
            "ra_x1e9",
            "rank",
        )
    )
