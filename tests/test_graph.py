"""Graph-analytics operators (operators/graph.py): degrees, PageRank,
two-hop — exactness on handcrafted graphs, a pure-python PageRank twin,
the hub guard, and determinism."""

from __future__ import annotations

import pytest

from transner_spark.operators.graph import (
    PAGERANK_DAMPING,
    PAGERANK_ITERATIONS,
    graph_degrees,
    graph_pagerank,
    graph_two_hop,
    two_hop_dropped_mids,
)

# (subj_id, pred, obj_id, weight): a→b (twice via preds), a→c, b→c,
# c→a, d→a, and e is a dangling sink reached from d.
EDGES = [
    ("a", "p1", "b", 3),
    ("a", "p2", "b", 2),
    ("a", "p1", "c", 1),
    ("b", "p1", "c", 5),
    ("c", "p1", "a", 1),
    ("d", "p1", "a", 4),
    ("d", "p1", "e", 1),
]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "subj_id string, pred string, obj_id string, weight long")


def pagerank_reference(links, n_iter, d):
    """Pure-python twin of the operator's recurrence (and of the
    unrolled SQL oracle)."""
    nodes = sorted({u for u, _ in links} | {v for _, v in links})
    n = len(nodes)
    outdeg = {u: sum(1 for s, _ in links if s == u) for u in nodes}
    pr = {u: 1.0 / n for u in nodes}
    for _ in range(n_iter):
        dangling = sum(pr[u] for u in nodes if outdeg[u] == 0)
        contrib = {u: 0.0 for u in nodes}
        for s, t in links:
            contrib[t] += pr[s] / outdeg[s]
        pr = {
            u: (1 - d) / n + d * (contrib[u] + dangling / n)
            for u in nodes
        }
    return pr


def test_degrees_exact(edges_df):
    rows = {r["node_id"]: r for r in graph_degrees(edges_df).collect()}
    assert set(rows) == {"a", "b", "c", "d", "e"}
    a = rows["a"]
    # a: out = 3 edges (p1/p2 to b kept separately — degree counts edge
    # rows of the materialized table), in = c→a, d→a
    assert (a["out_deg"], a["in_deg"]) == (3, 2)
    assert (a["out_weight"], a["in_weight"]) == (6, 5)
    e = rows["e"]
    assert (e["out_deg"], e["in_deg"], e["in_weight"]) == (0, 1, 1)


def test_pagerank_matches_reference(edges_df):
    links = sorted({(s, o) for s, _, o, _ in EDGES})
    want = pagerank_reference(links, PAGERANK_ITERATIONS, PAGERANK_DAMPING)
    got = {r["node_id"]: r["pr"] for r in graph_pagerank(edges_df).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-6)
    # mass conservation: dangling redistribution keeps Σpr = 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_pagerank_cycle_uniform(spark):
    cyc = spark.createDataFrame(
        [("x", "p", "y", 1), ("y", "p", "z", 1), ("z", "p", "x", 1)],
        "subj_id string, pred string, obj_id string, weight long",
    )
    got = {r["node_id"]: r["pr"] for r in graph_pagerank(cyc).collect()}
    # a pure cycle is the PageRank fixed point at uniform 1/3
    for v in got.values():
        assert v == pytest.approx(1 / 3, abs=1e-6)


def test_pagerank_deterministic(edges_df):
    r1 = sorted(map(tuple, graph_pagerank(edges_df).collect()))
    r2 = sorted(map(tuple, graph_pagerank(edges_df).collect()))
    assert r1 == r2


def test_two_hop_counts(edges_df):
    got = {
        (r["src_id"], r["dst_id"]): r["n_paths"]
        for r in graph_two_hop(edges_df).collect()
    }
    # distinct links: a→b, a→c, b→c, c→a, d→a, d→e
    # 2-paths: a→b→c, a→c→a, b→c→a, c→a→b, c→a→c, d→a→b, d→a→c
    assert got == {
        ("a", "c"): 1,
        ("a", "a"): 1,
        ("b", "a"): 1,
        ("c", "b"): 1,
        ("c", "c"): 1,
        ("d", "b"): 1,
        ("d", "c"): 1,
    }


def test_two_hop_hub_guard(edges_df):
    # node a has total degree 4 in the distinct link graph (out: b, c;
    # in: c, d) → filtering mids at max degree 3 removes every
    # path THROUGH a but keeps paths through b and c
    got = {
        (r["src_id"], r["dst_id"]): r["n_paths"]
        for r in graph_two_hop(edges_df, max_mid_degree=3).collect()
    }
    assert got == {("a", "c"): 1, ("b", "a"): 1, ("a", "a"): 1}
    # the audit twin reports exactly the complement: a, at degree 4
    dropped = {
        r["mid"]: r["deg"]
        for r in two_hop_dropped_mids(edges_df, max_mid_degree=3).collect()
    }
    assert dropped == {"a": 4}


def test_neighbors_topk_exact_and_deterministic(edges_df):
    from transner_spark.operators.graph import graph_neighbors_topk

    got = sorted(
        (r["subj_id"], r["rank"], r["pred"], r["obj_id"], r["weight"])
        for r in graph_neighbors_topk(edges_df, k=2).collect()
    )
    # a: b@3 (p1), b@2 (p2) — c@1 cut by k=2; weight-desc then obj, pred
    assert [(s, rk, p, o, w) for s, rk, p, o, w in got if s == "a"] == [
        ("a", 1, "p1", "b", 3),
        ("a", 2, "p2", "b", 2),
    ]
    # d: a@4 then e@1; b/c have a single out-edge each
    assert [(s, rk, o) for s, rk, p, o, w in got if s == "d"] == [
        ("d", 1, "a"),
        ("d", 2, "e"),
    ]
    assert all(rk <= 2 for _, rk, _, _, _ in got)
    again = sorted(
        (r["subj_id"], r["rank"], r["pred"], r["obj_id"], r["weight"])
        for r in graph_neighbors_topk(edges_df, k=2).collect()
    )
    assert got == again


# undirected view of EDGES (self-loop-free, multiplicities collapsed):
# a-b, a-c, b-c, a-d, d-e → one triangle {a,b,c}; degrees a:3 b:2 c:2
# d:2 e:1
def test_triangles_exact(edges_df):
    from transner_spark.operators.graph import graph_triangles

    rows = {r["node_id"]: r for r in graph_triangles(edges_df).collect()}
    assert set(rows) == {"a", "b", "c", "d", "e"}
    want = {
        # node: (degree, n_triangles, clustering = 2T / d(d-1))
        "a": (3, 1, round(2 * 1 / (3 * 2), 6)),
        "b": (2, 1, 1.0),
        "c": (2, 1, 1.0),
        "d": (2, 0, 0.0),
        "e": (1, 0, 0.0),  # deg < 2: convention 0, no div-by-zero
    }
    for n, (deg, t, c) in want.items():
        r = rows[n]
        assert (r["degree"], r["n_triangles"], r["clustering"]) == (deg, t, c)


def test_triangles_direction_and_multiplicity_blind(spark):
    from transner_spark.operators.graph import graph_triangles

    # the same triangle written as directed duplicates + a self-loop:
    # collapses to exactly {x,y,z}, one triangle each, clustering 1
    edges = spark.createDataFrame(
        [
            ("x", "p", "y", 1), ("y", "q", "x", 9),
            ("y", "p", "z", 1), ("z", "p", "x", 1), ("x", "p", "x", 5),
        ],
        "subj_id string, pred string, obj_id string, weight long",
    )
    rows = {r["node_id"]: r for r in graph_triangles(edges).collect()}
    assert {
        n: (r["degree"], r["n_triangles"], r["clustering"])
        for n, r in rows.items()
    } == {"x": (2, 1, 1.0), "y": (2, 1, 1.0), "z": (2, 1, 1.0)}


def test_similarity_exact_and_hub_guard(edges_df):
    from transner_spark.operators.graph import (
        graph_similarity,
        similarity_dropped_hubs,
    )

    # undirected: a-b, a-c, b-c, a-d, d-e; shared-neighbor pairs at
    # min_common=1: (b,c) via a AND b-c... — check the jaccard math on
    # (b,c): N(b)={a,c}, N(c)={a,b} → common {a}=1, union 3 → 1/3
    got = {
        (r["node_a"], r["node_b"]): r
        for r in graph_similarity(edges_df, min_common=1).collect()
    }
    bc = got[("b", "c")]
    assert (bc["n_common"], bc["deg_a"], bc["deg_b"]) == (1, 2, 2)
    assert bc["jaccard"] == round(1 / 3, 6)
    # (b,d) share a only; (c,d) share a only; (a,e) share d only
    assert got[("b", "d")]["n_common"] == 1
    assert got[("a", "e")]["n_common"] == 1
    # min_common=2 drops every pair here (no pair shares 2 neighbors)
    assert graph_similarity(edges_df, min_common=2).count() == 0
    # hub guard: a (deg 3) is the only node above 2; dropping it as
    # shared-neighbor EVIDENCE kills every pair whose only witness is a
    # — (b,c), (b,d), (c,d) — while pairs witnessed by non-hubs survive:
    # (a,b) via c, (a,c) via b, (a,e) via d
    guarded = {
        (r["node_a"], r["node_b"]): r
        for r in graph_similarity(
            edges_df, min_common=1, max_neighbor_degree=2
        ).collect()
    }
    assert set(guarded) == {("a", "b"), ("a", "c"), ("a", "e")}
    # guarded values are the exact Jaccard of the PRUNED neighborhoods
    # (one graph definition — never guarded numerator over raw degrees):
    # N'(a)={b,c,d}, N'(b)={c} → common {c}, jaccard 1/(3+1-1)
    ab = guarded[("a", "b")]
    assert (ab["n_common"], ab["deg_a"], ab["deg_b"]) == (1, 3, 1)
    assert ab["jaccard"] == round(1 / 3, 6)
    dropped = similarity_dropped_hubs(edges_df, 2).collect()
    assert [(r["nb"], r["nb_degree"]) for r in dropped] == [("a", 3)]


def test_components_exact(edges_df, spark):
    from transner_spark.operators.graph import graph_components

    # EDGES graph is one undirected component {a,b,c,d,e};
    # add a disjoint island {x, y} to prove separation and sizes
    extra = spark.createDataFrame(
        [("x", "p1", "y", 1)],
        "subj_id string, pred string, obj_id string, weight long",
    )
    rows = {
        r["node_id"]: (r["component_id"], r["component_size"])
        for r in graph_components(edges_df.unionByName(extra)).collect()
    }
    assert {n for n, (c, s) in rows.items() if c == "a"} == {"a", "b", "c", "d", "e"}
    assert {n for n, (c, s) in rows.items() if c == "x"} == {"x", "y"}
    assert all(s == 5 for n, (c, s) in rows.items() if c == "a")
    assert all(s == 2 for n, (c, s) in rows.items() if c == "x")


def test_communities_two_cliques(spark):
    from transner_spark.operators.graph import graph_communities

    # two triangles joined by one bridge edge: LPA(3, min-tiebreak)
    # separates the triangles (1 bridge vote < 2 in-clique votes). The
    # PARTITION is the contract — the label VALUE of the b-side is a3,
    # an id leaked across the bridge in round 1 before in-clique
    # majorities form; labels are opaque community ids, not members
    tri = [("a1", "a2"), ("a2", "a3"), ("a1", "a3"),
           ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a3", "b1")]
    edges = spark.createDataFrame(
        [(s, "p", o, 1) for s, o in tri],
        "subj_id string, pred string, obj_id string, weight long",
    )
    rows = {
        r["node_id"]: (r["community_id"], r["community_size"])
        for r in graph_communities(edges).collect()
    }
    parts = {}
    for n, (c, s) in rows.items():
        parts.setdefault(c, set()).add(n)
        assert s == 3
    assert sorted(parts.values(), key=min) == [
        {"a1", "a2", "a3"}, {"b1", "b2", "b3"}
    ]


def _bfs_reference(links, seeds, max_hops):
    """Pure-python BFS twin of graph_khop over the undirected distinct
    link set: shortest hop distance from each seed, cut at max_hops."""
    adj = {}
    for u, v in links:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    out = {}
    for s in seeds:
        dist = {s: 0}
        frontier = {s}
        for d in range(1, max_hops + 1):
            frontier = {
                nb for f in frontier for nb in adj.get(f, ()) if nb not in dist
            }
            for nb in frontier:
                dist[nb] = d
        for n, d in dist.items():
            out[(s, n)] = d
    return out


def test_khop_exact(edges_df, spark):
    from transner_spark.operators.graph import graph_khop

    seeds = spark.createDataFrame([("a",), ("e",)], "node_id string")
    rows = {
        (r["seed_id"], r["node_id"]): r["dist"]
        for r in graph_khop(edges_df, seeds, max_hops=2).collect()
    }
    links = {(s, o) for s, _, o, _ in EDGES}
    assert rows == _bfs_reference(links, ["a", "e"], 2)
    # e is a leaf: only d at hop 1, then a at hop 2
    assert rows[("e", "d")] == 1 and rows[("e", "a")] == 2
    # dist 0 self rows present for every seed
    assert rows[("a", "a")] == 0 and rows[("e", "e")] == 0


def test_khop_seeds_deterministic_and_khop_randomized(spark):
    import random

    from transner_spark.operators.graph import (
        graph_khop,
        khop_seeds,
    )

    rng = random.Random(20260819)
    nodes = [f"n{i}" for i in range(30)]
    links = {
        tuple(rng.sample(nodes, 2))
        for _ in range(60)
    }
    edges = spark.createDataFrame(
        [(s, "p", o, 1) for s, o in links],
        "subj_id string, pred string, obj_id string, weight long",
    )
    seeds_df = khop_seeds(edges, 3)
    got_seeds = sorted(r["node_id"] for r in seeds_df.collect())
    # reference top-3 by (undirected degree desc, id asc)
    deg = {}
    und = {(min(s, o), max(s, o)) for s, o in links if s != o}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    ref_seeds = sorted(deg, key=lambda n: (-deg[n], n))[:3]
    assert got_seeds == sorted(ref_seeds)

    rows = {
        (r["seed_id"], r["node_id"]): r["dist"]
        for r in graph_khop(edges, seeds_df, max_hops=3).collect()
    }
    assert rows == _bfs_reference(links, ref_seeds, 3)
