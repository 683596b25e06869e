"""Navigation-graph analytics: co-visit transition edges (session
split, step order, self-loop handling, weights) and fixed-point
integer PageRank (pure-Python reference equality, dangling-mass
redistribution, partitioning invariance) plus the recrawl-priority
scheduler (hand-computed priorities, zero-change floor, top-k order).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gush_spark.operators.graph import (
    PR_DAMPING_PCT,
    PR_SCALE,
    pagerank,
    transition_edges,
)
from gush_spark.operators.recrawl import recrawl_priorities


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, event_type string"
    ).withColumn("ts", F.timestamp_seconds("ts"))


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, weight long")


def _reference_pagerank(edges, iters=3, dp=PR_DAMPING_PCT, scale=PR_SCALE):
    """The exact integer recurrence, dict-of-nodes form."""
    out_w: dict = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    base = ((100 - dp) * scale) // 100
    rank = {v: scale for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in out_w)
        share = dangling // n
        contrib = {v: 0 for v in nodes}
        for s, d, w in edges:
            contrib[d] += (rank[s] * w) // out_w[s]
        rank = {
            v: base + (dp * (contrib[v] + share)) // 100 for v in nodes
        }
    return rank


def test_transition_edges_sessions_and_weights(spark):
    ev = _events(
        spark,
        [
            # user 1, session 1: a>b>a>b — edges a>b (x2), b>a (x1)
            (1, 0, 1, "a"),
            (2, 10, 1, "b"),
            (3, 20, 1, "a"),
            (4, 30, 1, "b"),
            # gap > 1800 starts a new session: b>c only (NO edge b>b
            # across the session boundary)
            (5, 4000, 1, "b"),
            (6, 4010, 1, "c"),
            # user 2: tied timestamps — order falls to event_id: x>y
            (8, 100, 2, "y"),
            (7, 100, 2, "x"),
        ],
    )
    got = {
        (r["src"], r["dst"]): r["weight"]
        for r in transition_edges(ev, gap_s=1800).collect()
    }
    assert got == {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1, ("x", "y"): 1}


def test_transition_edges_self_loop_toggle(spark):
    ev = _events(spark, [(1, 0, 1, "a"), (2, 1, 1, "a"), (3, 2, 1, "b")])
    with_loops = {
        (r["src"], r["dst"]) for r in transition_edges(ev).collect()
    }
    without = {
        (r["src"], r["dst"])
        for r in transition_edges(ev, drop_self_loops=True).collect()
    }
    assert ("a", "a") in with_loops
    assert without == {("a", "b")}


def test_pagerank_matches_integer_reference(spark):
    # a small web: hub 'a' links everywhere, 'd' is dangling (no
    # out-edges), 'c' has weighted in-links
    edge_rows = [
        ("a", "b", 2),
        ("a", "c", 1),
        ("b", "c", 3),
        ("c", "a", 1),
        ("b", "d", 1),
    ]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, edge_rows), iters=3).collect()
    }
    assert got == _reference_pagerank(edge_rows, iters=3)
    # dangling node 'd' holds exactly the teleport base + its share of
    # redistributed dangling mass — never zero
    assert got["d"] > 0
    # the hub target 'c' outranks the leaf 'd'
    assert got["c"] > got["d"]


def test_pagerank_partitioning_invariance(spark):
    edge_rows = [("a", "b", 1), ("b", "c", 2), ("c", "a", 3), ("a", "c", 1)]
    df = _edges(spark, edge_rows)
    one = {
        r["node"]: r["rank"]
        for r in pagerank(df.coalesce(1), iters=4).collect()
    }
    many = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(7, "dst"), iters=4).collect()
    }
    assert one == many == _reference_pagerank(edge_rows, iters=4)


def test_recrawl_priorities_exact(spark):
    obs = spark.createDataFrame(
        [
            # page p1: 4 obs, 2 changes, last seen t=100 (corpus now=200)
            ("p1", 10, True),
            ("p1", 50, False),
            ("p1", 90, True),
            ("p1", 100, False),
            # page p2: 2 obs, 0 changes → priority 0 regardless of staleness
            ("p2", 20, False),
            ("p2", 40, False),
            # page p3: 1 obs, 1 change, last seen t=200 → staleness 0
            ("p3", 200, True),
        ],
        "page string, ts long, changed boolean",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    got = {
        r["page"]: r
        for r in recrawl_priorities(obs, "page", "ts", F.col("changed")).collect()
    }
    p1 = got["p1"]
    assert (p1["n_obs"], p1["n_changes"]) == (4, 2)
    assert p1["change_rate_ppm"] == 500_000
    assert p1["staleness_s"] == 100
    assert p1["priority"] == 50_000_000
    assert got["p2"]["priority"] == 0  # never changed → no urgency
    assert got["p3"]["staleness_s"] == 0 and got["p3"]["priority"] == 0


def test_recrawl_topk_rank_order(spark):
    obs = spark.createDataFrame(
        [("p%d" % i, 10 * i, i % 2 == 0) for i in range(1, 9)],
        "page string, ts long, changed boolean",
    ).withColumn("ts", F.timestamp_seconds("ts"))
    top = recrawl_priorities(obs, "page", "ts", F.col("changed"), k=3).collect()
    assert [r["rnk"] for r in top] == [1, 2, 3]
    pris = [r["priority"] for r in top]
    assert pris == sorted(pris, reverse=True)


def test_read_recrawl_priorities_stream_equals_batch(spark, tmp_path, tmp_dirs):
    """job.py --recrawl-topk end to end: the recrawl schedule derived
    from the drained cep_pipeline sink (streamed through the CEP state
    machine + exactly-once sink, 3 microbatches) equals the batch
    recrawl_priorities operator over the same crawl/recrawl history —
    the read-time-finalize contract."""
    from gush_spark.sources.fixtures import _ev, generate_page_events
    from gush_spark.streaming.pipeline import (
        cep_pipeline,
        read_recrawl_priorities,
    )
    from gush_spark.streaming.source import read_page_events_batch

    # three urls with distinct change histories: u1 changes often and
    # goes stale; u2 never changes; u3 changes but was just fetched
    events = [
        _ev(1, "https://h1.example/u1", 0, "crawl"),
        _ev(2, "https://h1.example/u1", 100, "recrawl"),
        _ev(3, "https://h1.example/u1", 200, "recrawl"),
        _ev(4, "https://h2.example/u2", 10, "crawl"),
        _ev(5, "https://h2.example/u2", 500, "crawl"),
        _ev(6, "https://h1.example/u3", 900, "crawl"),
        _ev(7, "https://h1.example/u3", 1000, "recrawl"),
    ]
    events_dir = str(tmp_path / "events")
    generate_page_events(events_dir, events, n_chunks=3)
    query, sink = cep_pipeline(
        spark,
        events_dir,
        sink_path=tmp_dirs["sink"],
        checkpoint_path=tmp_dirs["checkpoint"],
        max_files_per_trigger=1,
    )
    query.awaitTermination(120)
    got = {
        r["url"]: (r["n_obs"], r["n_changes"], r["staleness_s"], r["priority"])
        for r in read_recrawl_priorities(spark, sink).collect()
    }

    from gush_spark.operators.recrawl import recrawl_priorities

    batch = read_page_events_batch(spark, events_dir).filter(
        F.col("event_type").isin("crawl", "recrawl")
    )
    want = {
        r["url"]: (r["n_obs"], r["n_changes"], r["staleness_s"], r["priority"])
        for r in recrawl_priorities(
            batch, "url", "warc_ts", F.col("event_type") == "recrawl"
        ).collect()
    }
    assert got == want and len(got) == 3
    # the often-changing stale url owes the most expected novelty
    u1 = got["https://h1.example/u1"]
    assert u1[1] == 2 and u1[3] == max(v[3] for v in got.values()) > 0


def _reference_trustrank(edges, seeds, iters=3, dp=PR_DAMPING_PCT, scale=PR_SCALE):
    out_w: dict = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    base = ((100 - dp) * scale) // 100
    rank = {v: (scale if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in out_w)
        share = dangling // n
        contrib = {v: 0 for v in nodes}
        for s, d, w in edges:
            contrib[d] += (rank[s] * w) // out_w[s]
        rank = {
            v: (base if v in seeds else 0) + (dp * (contrib[v] + share)) // 100
            for v in nodes
        }
    return rank


def test_trustrank_matches_reference_and_starves_spam(spark):
    # trusted cycle s1<->s2 linking out to 'mix'; disconnected spam
    # cycle x1<->x2 — no dangling nodes, so the spam region receives
    # neither teleport nor inflow and must converge to exactly 0
    edge_rows = [
        ("s1", "s2", 1),
        ("s2", "s1", 1),
        ("s1", "mix", 1),
        ("mix", "s1", 1),
        ("x1", "x2", 1),
        ("x2", "x1", 1),
    ]
    seeds = spark.createDataFrame([("s1",), ("s2",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges(spark, edge_rows), iters=3, seeds=seeds).collect()
    }
    assert got == _reference_trustrank(edge_rows, {"s1", "s2"}, iters=3)
    assert got["x1"] == 0 and got["x2"] == 0
    # 'mix' is not a seed but reachable from one: positive, below seeds
    assert 0 < got["mix"] < got["s1"]


def _reference_hits(edges, iters=3, scale=PR_SCALE):
    """The exact integer HITS recurrence, dict-of-nodes form."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    hub = {v: scale for v in nodes}
    auth = {v: 0 for v in nodes}
    for _ in range(iters):
        auth = {v: 0 for v in nodes}
        for s, d, w in edges:
            auth[d] += hub[s] * w
        mx = max(auth.values())
        denom = max((mx + scale - 1) // scale, 1)
        auth = {v: (a // denom if mx > 0 else 0) for v, a in auth.items()}
        hub = {v: 0 for v in nodes}
        for s, d, w in edges:
            hub[s] += auth[d] * w
        mx = max(hub.values())
        denom = max((mx + scale - 1) // scale, 1)
        hub = {v: (h // denom if mx > 0 else 0) for v, h in hub.items()}
    return hub, auth


def test_hits_matches_integer_reference(spark):
    from gush_spark.operators.graph import hits

    # 'a' and 'b' are hubs pointing at the shared authority 'c';
    # 'c' links back to 'a' only; 'd' is isolated-in (pure authority
    # of a weak hub)
    edge_rows = [
        ("a", "c", 2),
        ("b", "c", 3),
        ("c", "a", 1),
        ("b", "d", 1),
    ]
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(_edges(spark, edge_rows), iters=3).collect()
    }
    want_hub, want_auth = _reference_hits(edge_rows, iters=3)
    assert got == {v: (want_hub[v], want_auth[v]) for v in want_hub}
    # 'c' is the consensus authority; 'b' (links to both c and d,
    # heavier weight) is the top hub
    assert got["c"][1] == max(a for _, a in got.values())
    assert got["b"][0] == max(h for h, _ in got.values())
    # mutual reinforcement separates roles: the pure authority 'd'
    # has no out-edges, hence zero hub score
    assert got["d"][0] == 0


def test_hits_partitioning_invariance_and_norm_band(spark):
    from gush_spark.operators.graph import hits

    edge_rows = [("a", "b", 5), ("b", "c", 2), ("c", "a", 7), ("a", "c", 1)]
    df = _edges(spark, edge_rows)
    one = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(df.coalesce(1), iters=4).collect()
    }
    many = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(df.repartition(7, "dst"), iters=4).collect()
    }
    want_hub, want_auth = _reference_hits(edge_rows, iters=4)
    assert one == many == {v: (want_hub[v], want_auth[v]) for v in want_hub}
    # ceil-divide normalization pins each half-step max into
    # (scale/2, scale] — scores neither blow up nor collapse
    assert PR_SCALE // 2 < max(h for h, _ in one.values()) <= PR_SCALE
    assert PR_SCALE // 2 < max(a for _, a in one.values()) <= PR_SCALE


def test_covisit_components_weight_threshold(spark):
    """The covisit_components construction: only edges with >= 3
    observed transitions enter the component graph, so weakly-linked
    browse clusters stay separate."""
    from gush_spark.operators.dedup import min_label_components

    # user 1 bounces a<->b three times (strong), hops to c once (weak);
    # user 2 bounces d<->e three times — two strong clusters {a,b} and
    # {d,e}, with c dropped entirely (no strong edge touches it)
    rows = []
    eid = 0
    for t in (0, 20, 40):
        rows += [(eid, t, 1, "a"), (eid + 1, t + 10, 1, "b")]
        eid += 2
    rows += [(eid, 60, 1, "c")]
    eid += 1
    for t in (0, 20, 40):
        rows += [(eid, t, 2, "d"), (eid + 1, t + 10, 2, "e")]
        eid += 2
    ev = _events(spark, rows)
    edges = transition_edges(ev, gap_s=3600)
    und = (
        edges.filter((F.col("src") != F.col("dst")) & (F.col("weight") >= 3))
        .select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
        )
        .distinct()
    )
    nodes = (
        und.select(F.col("id_a").alias("node"))
        .unionByName(und.select(F.col("id_b").alias("node")))
        .distinct()
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in min_label_components(nodes, "node", und).collect()
    }
    assert got == {"a": "a", "b": "a", "d": "d", "e": "d"}


def test_trustrank_all_seeds_equals_pagerank(spark):
    edge_rows = [("a", "b", 2), ("b", "c", 1), ("c", "a", 1)]
    df = _edges(spark, edge_rows)
    all_nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    plain = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    seeded = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=3, seeds=all_nodes).collect()
    }
    assert plain == seeded


def test_bfs_hops_levels_and_reach(spark):
    """Min hop distance from seeds over directed edges; unreached
    nodes absent; seeds outside the graph ignored."""
    from gush_spark.operators.graph import bfs_hops

    # a -> b -> c -> d  and  a -> c (shortcut), e -> a (e unreachable
    # FROM a: direction matters), plus isolated pair x -> y
    edge_rows = [
        ("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
        ("a", "c", 1), ("e", "a", 1), ("x", "y", 1),
    ]
    edges = _edges(spark, edge_rows)
    seeds = spark.createDataFrame([("a",), ("zz",)], "node string")
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=4).collect()}
    # shortcut wins: c at 1 not 2; e/x/y unreached; zz not in graph
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2}


def test_bfs_hops_max_hops_truncates(spark):
    from gush_spark.operators.graph import bfs_hops

    chain = _edges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)])
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["hops"] for r in bfs_hops(chain, seeds, max_hops=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2}


def test_triangle_counts_known_graph(spark):
    """K4 on {a,b,c,d}: every node degree 3, in 3 triangles,
    clustering exactly 1.0; pendant node e off a: degree bumps to 4,
    triangle count unchanged, clustering = 2*3/(4*3) = 0.5; e itself
    degree 1 -> coefficient defined as 0."""
    from gush_spark.operators.graph import triangle_counts

    und_rows = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("a", "e"),
    ]
    und = spark.createDataFrame(und_rows, "id_a string, id_b string")
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    got = {
        r["node"]: (r["degree"], r["triangles"], r["clustering_x1e9"])
        for r in triangle_counts(und).collect()
    }
    assert got["b"] == (3, 3, PR_SCALE)
    assert got["c"] == (3, 3, PR_SCALE)
    assert got["d"] == (3, 3, PR_SCALE)
    assert got["a"] == (4, 3, PR_SCALE // 2)
    assert got["e"] == (1, 0, 0)
    # no cached frame outlives the call
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= cached


def test_triangle_counts_triangle_free(spark):
    from gush_spark.operators.graph import triangle_counts

    # a path and a star: wedges everywhere, no closure
    und_rows = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "e")]
    und = spark.createDataFrame(und_rows, "id_a string, id_b string")
    rows = triangle_counts(und).collect()
    assert all(r["triangles"] == 0 and r["clustering_x1e9"] == 0 for r in rows)
    assert {r["node"]: r["degree"] for r in rows} == {
        "a": 1, "b": 3, "c": 2, "d": 1, "e": 1,
    }


def test_reciprocity_known_graph(spark):
    """a<->b mutual pair, a->c one-way, c->d chain: exact degrees,
    mutual counts, and fixed-point ratios; sink-only node d gets
    out_deg 0 and coefficient 0; self-loops dropped."""
    from gush_spark.operators.graph import reciprocity

    edge_rows = [
        ("a", "b", 3), ("b", "a", 1), ("a", "c", 2),
        ("c", "d", 1), ("d", "d", 5),  # self-loop must not count
    ]
    cached = spark.sparkContext._jsc.getPersistentRDDs().size()
    got = {
        r["node"]: (
            r["out_deg"], r["in_deg"], r["mutual"], r["reciprocity_x1e9"]
        )
        for r in reciprocity(_edges(spark, edge_rows)).collect()
    }
    assert got == {
        "a": (2, 1, 1, PR_SCALE // 2),
        "b": (1, 1, 1, PR_SCALE),
        "c": (1, 1, 0, 0),
        "d": (0, 1, 0, 0),
    }
    # no cached frame outlives the call
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= cached


def test_kcore_peels_to_fixpoint(spark):
    """Triangle a-b-c with a pendant chain c-d-e: the 2-core peel
    removes e (degree 1), then d, and converges on exactly the
    triangle with all degrees 2; a 3-core of the same graph is empty
    (kcore returns the survivors of the LAST round)."""
    from gush_spark.operators.graph import kcore

    und = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "id_a string, id_b string",
    )
    got = {r["node"]: r["degree"] for r in kcore(und, k=2, rounds=4).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    assert kcore(und, k=3, rounds=4).count() == 0


def test_kcore_early_exit_matches_full_rounds(spark):
    """On an already-converged graph (a square, every degree 2) the
    early exit after round 1 returns what any deeper unroll would."""
    from gush_spark.operators.graph import kcore

    und = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
        "id_a string, id_b string",
    )
    one = sorted(kcore(und, k=2, rounds=1).collect())
    many = sorted(kcore(und, k=2, rounds=6).collect())
    assert one == many and len(one) == 4


def test_hash_walks_deterministic_and_null_padded(spark):
    """Walks follow the md5-argmin rule exactly (recomputed in Python
    against hashlib), are identical across runs, and NULL-pad from the
    first step that leaves the graph."""
    import hashlib as _h

    from gush_spark.operators.graph import hash_walks

    edge_rows = [("a", "b", 1), ("a", "c", 1), ("b", "c", 1), ("c", "x", 1)]
    edges = _edges(spark, edge_rows)
    seeds = spark.createDataFrame([("a",), ("x",)], "node string")
    out = {r["start"]: r for r in hash_walks(edges, seeds, steps=3).collect()}
    adj: dict = {}
    for s, d, _ in edge_rows:
        adj.setdefault(s, []).append(d)

    def step(cur, t):
        outs = adj.get(cur)
        if not outs:
            return None
        return min(
            outs,
            key=lambda d: (
                _h.md5(f"{cur}|{t}|{d}".encode()).hexdigest(), d
            ),
        )

    cur = "a"
    for t in (1, 2, 3):
        cur = step(cur, t) if cur is not None else None
        assert out["a"][f"s{t}"] == cur
    # 'x' has no out-edges: the whole walk is NULL
    assert all(out["x"][f"s{t}"] is None for t in (1, 2, 3))
    again = {r["start"]: r for r in hash_walks(edges, seeds, steps=3).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()
    }


def test_funnel_first_touch_semantics(spark):
    """Hand funnel: u1 completes view>click>purchase in order; u2's
    click precedes their view (not counted); u3's click lands outside
    the horizon of their FIRST view even though a later view would
    admit it (first-touch semantics, documented); u4 views only."""
    from gush_spark.operators.events import funnel_conversion

    rows = [
        # u1: clean conversion
        (1, 100, 1, "view"), (2, 200, 1, "click"), (3, 300, 1, "purchase"),
        # u2: click BEFORE view
        (4, 100, 2, "click"), (5, 200, 2, "view"),
        # u3: first view at t=0, click at t=2000 (horizon 1000s), and a
        # second view at 1500 that would admit it under any-chain
        (6, 0, 3, "view"), (7, 1500, 3, "view"), (8, 2000, 3, "click"),
        # u4: view only
        (9, 100, 4, "view"),
    ]
    ev = _events(spark, rows)
    got = {
        r["stage_name"]: (
            r["n_users"], r["conv_from_prev_ppm"], r["conv_from_first_ppm"]
        )
        for r in funnel_conversion(
            ev, ["view", "click", "purchase"], step_horizon_s=1000
        ).collect()
    }
    assert got["view"] == (4, None, 1_000_000)
    assert got["click"] == (1, 250_000, 250_000)
    assert got["purchase"] == (1, 1_000_000, 250_000)


def _lpa_reference(edges_w, iters):
    """Pure-python synchronous LPA twin: heaviest neighbor label, ties
    to the smallest label, fixed iterations."""
    adj: dict = {}
    for a, b, w in edges_w:
        adj.setdefault(a, {})[b] = adj.setdefault(a, {}).get(b, 0) + w
        adj.setdefault(b, {})[a] = adj.setdefault(b, {}).get(a, 0) + w
    labels = {n: n for n in adj}
    for _ in range(iters):
        new = {}
        for n, nbrs in adj.items():
            score: dict = {}
            for m, w in nbrs.items():
                score[labels[m]] = score.get(labels[m], 0) + w
            best = min(score.items(), key=lambda kv: (-kv[1], kv[0]))
            new[n] = best[0]
        if new == labels:
            break
        labels = new
    return labels


def test_label_propagation_matches_python_reference(spark):
    """Two dense triangles joined by a weight-1 bridge: each triangle
    converges on one label, the bridge does not merge them; every
    (node, label) pair equals the python twin exactly."""
    from gush_spark.operators.graph import label_propagation

    ew = [
        ("a", "b", 5), ("a", "c", 5), ("b", "c", 5),
        ("x", "y", 5), ("x", "z", 5), ("y", "z", 5),
        ("c", "x", 1),
    ]
    und = spark.createDataFrame(ew, "id_a string, id_b string, w long")
    got = {r["node"]: r["label"] for r in label_propagation(und, iters=4).collect()}
    assert got == _lpa_reference(ew, 4)
    # communities separated: triangle labels agree within, differ across
    assert got["a"] == got["b"] == got["c"]
    assert got["x"] == got["y"] == got["z"]
    assert got["a"] != got["x"]


def test_label_propagation_tie_breaks_and_invariance(spark):
    """Equal-weight ties go to the SMALLEST label (path a-b-c: b sees
    {a: 1, c: 1} and takes 'a'), and the result is independent of
    input partitioning."""
    from gush_spark.operators.graph import label_propagation

    ew = [("a", "b", 1), ("b", "c", 1)]
    und = spark.createDataFrame(ew, "id_a string, id_b string, w long")
    got1 = {r["node"]: r["label"] for r in label_propagation(und, iters=1).collect()}
    assert got1["b"] == "a"  # tie broken to the smallest label
    ref = _lpa_reference(ew, 4)
    for parts in (1, 7):
        got = {
            r["node"]: r["label"]
            for r in label_propagation(und.repartition(parts), iters=4).collect()
        }
        assert got == ref


def test_cohort_retention_hand_matrix(spark):
    """Hand-checked cohort matrix, µs-precision day buckets (an event
    at 23:59:59.999999 stays in its day; midnight starts the next)."""
    import datetime as _dt

    from gush_spark.operators.events import cohort_retention

    d0 = _dt.datetime(2024, 3, 1)

    def at(day, us=0):
        return d0 + _dt.timedelta(days=day, microseconds=us)

    rows = [
        (1, at(0)), (1, at(0, 5)), (1, at(1)), (1, at(3)),   # u1: days 0,1,3
        (2, at(0, 86_399_999_999)),                          # u2: day 0 edge
        (3, at(1)), (3, at(2)),                              # u3: days 1,2
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_bucket"] - 19783, r["age"]): r["n_users"]
        for r in cohort_retention(ev).collect()
    }
    # 2024-03-01 is epoch day 19783
    assert got == {
        (0, 0): 2, (0, 1): 1, (0, 3): 1,
        (1, 0): 1, (1, 1): 1,
    }
