"""Graph-analytics operators vs brute-force enumeration on a hand-built
edge table (a directed multigraph-shaped aggregate: distinct (src, dst)
pairs with observation weights, like materialize_graph's output)."""

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from denrl_spark.operators.graph_analytics import (
    bfs_distances,
    closeness,
    components,
    degrees,
    pagerank,
    scc,
    triangles,
    two_hop,
    undirected_edges,
)

# (src, pred, dst, n_obs) — includes a cycle, a hub, a dangling vertex
# (no out-edges: "f"), a 4-clique subgraph {a,b,c,d} for triangles, and
# a MULTI-PREDICATE pair (a-p->b and a-q->b: edge-degree 2, 1 neighbor)
EDGES = [
    ("a", "p", "b", 3),
    ("a", "q", "b", 1),   # second predicate on the same pair
    ("a", "p", "c", 1),
    ("a", "p", "d", 2),
    ("b", "q", "c", 5),
    ("b", "q", "d", 1),
    ("c", "q", "d", 4),
    ("d", "p", "a", 2),   # cycle back
    ("c", "p", "e", 1),
    ("c", "p", "c", 2),   # self-loop (canonicalization can produce these)
    ("e", "q", "f", 7),   # f is dangling
]


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(
        EDGES, "src_surface string, pred string, dst_surface string, n_obs long"
    ).cache()


def test_degrees_match_enumeration(edges):
    got = {r["surface"]: r for r in degrees(edges).collect()}
    verts = {s for s, _, o, _ in EDGES} | {o for _, _, o, _ in EDGES}
    assert set(got) == verts
    for v in verts:
        outs = [w for s, _, o, w in EDGES if s == v]
        ins = [w for s, _, o, w in EDGES if o == v]
        r = got[v]
        assert (r["out_deg"], r["in_deg"]) == (len(outs), len(ins))
        assert r["out_nbrs"] == len({o for s, _, o, _ in EDGES if s == v})
        assert r["in_nbrs"] == len({s for s, _, o, _ in EDGES if o == v})
        assert (r["w_out_obs"], r["w_in_obs"]) == (sum(outs), sum(ins))
    # the multi-predicate pair separates edge-grain from neighbor-grain
    assert got["a"]["out_deg"] == 4 and got["a"]["out_nbrs"] == 3
    assert got["b"]["in_deg"] == 2 and got["b"]["in_nbrs"] == 1


def test_two_hop_matches_enumeration(edges):
    got = {(r["src"], r["dst"]): (r["n_paths"], r["w_paths"]) for r in two_hop(edges).collect()}
    want: dict[tuple[str, str], list[int]] = {}
    for s1, _, m1, w1 in EDGES:
        for s2, _, d2, w2 in EDGES:
            # self-loop hops excluded: a->a->b is not a 2-hop path
            if m1 == s2 and s1 != d2 and s1 != m1 and s2 != d2:
                want.setdefault((s1, d2), []).append(w1 * w2)
    assert got == {k: (len(v), sum(v)) for k, v in want.items()}
    # the c self-loop must not report c's direct neighbors as 2-hop
    assert ("c", "e") not in got


def test_triangles_match_bruteforce(edges):
    got = {(r["va"], r["vb"], r["vc"]) for r in triangles(edges).collect()}
    und = {frozenset((s, o)) for s, _, o, _ in EDGES if s != o}
    verts = sorted({v for e in und for v in e})
    want = {
        (x, y, z)
        for x, y, z in combinations(verts, 3)
        if {frozenset((x, y)), frozenset((y, z)), frozenset((x, z))} <= und
    }
    # the {a,b,c,d} clique holds exactly C(4,3)=4 triangles
    assert got == want and len(got) == 4


def test_undirected_orientation(edges):
    rows = undirected_edges(edges).collect()
    assert all(r["va"] < r["vb"] for r in rows)
    # a->b and d->a + a->d collapse: distinct undirected pairs
    assert len(rows) == len({frozenset((s, o)) for s, _, o, _ in EDGES if s != o})


def test_pagerank_matches_numpy_loop(edges):
    d = 0.85
    got = {r["surface"]: r["rank"] for r in pagerank(edges, iters=3, damping=d).collect()}
    # reference loop: same recurrence, dangling mass dropped
    e = {(s, o) for s, _, o, _ in EDGES}
    verts = sorted({v for pair in e for v in pair})
    outdeg = {v: sum(1 for s, _ in [(a, b) for a, b in e] if s == v) for v in verts}
    rank = {v: 1.0 / len(verts) for v in verts}
    for _ in range(3):
        inflow = {v: 0.0 for v in verts}
        for s, o in e:
            inflow[o] += rank[s] / outdeg[s]
        rank = {v: (1 - d) / len(verts) + d * inflow[v] for v in verts}
    assert set(got) == set(verts)
    for v in verts:
        assert got[v] == pytest.approx(rank[v], abs=1e-12)
    # dropped dangling mass: total strictly below 1 (f has no out-edges)
    assert sum(got.values()) < 1.0


def test_pagerank_plan_has_no_single_partition(edges):
    plan = pagerank(edges, iters=2)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_pagerank_fixedpoint_matches_integer_loop(edges):
    from denrl_spark.operators.graph_analytics import PR_UNIT, pagerank_fixedpoint

    got = {
        r["surface"]: r["rank_u"]
        for r in pagerank_fixedpoint(edges, iters=3).collect()
    }
    e = {(s, o) for s, _, o, _ in EDGES}
    verts = sorted({v for pair in e for v in pair})
    outdeg = {v: sum(1 for s, _ in e if s == v) for v in verts}
    rank = {v: PR_UNIT // len(verts) for v in verts}
    for _ in range(3):
        inflow = {v: 0 for v in verts}
        for s, o in e:
            inflow[o] += rank[s] // outdeg[s]
        rank = {
            v: (15 * PR_UNIT) // (100 * len(verts)) + (85 * inflow[v]) // 100
            for v in verts
        }
    assert got == rank
    # fixed-point tracks the float recurrence to ~1e-10 relative
    flt = {r["surface"]: r["rank"] for r in pagerank(edges, iters=3).collect()}
    assert all(abs(got[v] / PR_UNIT - flt[v]) < 1e-9 for v in verts)


def test_pagerank_empty_graph(spark):
    from denrl_spark.operators.graph_analytics import pagerank_fixedpoint

    empty = spark.createDataFrame(
        [], "src_surface string, pred string, dst_surface string, n_obs long"
    )
    assert pagerank(empty).count() == 0
    assert pagerank_fixedpoint(empty).count() == 0


def test_components_match_bruteforce(edges):
    from denrl_spark.operators.graph_analytics import components

    got = {r["surface"]: r["component"] for r in components(edges).collect()}
    # brute force: union-find over the undirected pairs
    und = {frozenset((s, o)) for s, _, o, _ in EDGES if s != o}
    verts = sorted({v for e_ in und for v in e_})
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for x, y in (tuple(e_) for e_ in und):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    want = {v: find(v) for v in verts}
    # normalize: component label = min member
    comp_min = {}
    for v, c in want.items():
        comp_min.setdefault(c, []).append(v)
    want = {v: min(comp_min[find(v)]) for v in verts}
    assert got == want
    assert len(set(got.values())) == 1  # this graph is one component


def test_link_prediction_matches_bruteforce(edges):
    from denrl_spark.operators.graph_analytics import RA_UNIT, link_prediction_ra

    got = {
        (r["va"], r["vb"]): (r["n_common"], r["ra_u12"])
        for r in link_prediction_ra(edges).collect()
    }
    und = {frozenset((s, o)) for s, _, o, _ in EDGES if s != o}
    verts = sorted({v for e_ in und for v in e_})
    nbrs = {v: {x for e_ in und if v in e_ for x in e_ if x != v} for v in verts}
    want = {}
    for i, u in enumerate(verts):
        for v in verts[i + 1 :]:
            if frozenset((u, v)) in und:
                continue
            common = nbrs[u] & nbrs[v]
            if common:
                want[(u, v)] = (
                    len(common),
                    sum(RA_UNIT // len(nbrs[w]) for w in common),
                )
    assert got == want and len(got) > 0
    # adjacent pairs never appear
    assert all(frozenset(k) not in und for k in got)


def test_personalized_pagerank_matches_loop(edges):
    from denrl_spark.operators.graph_analytics import personalized_pagerank

    seeds, d = ["a", "e"], 0.85
    got = {
        r["surface"]: r["rank"]
        for r in personalized_pagerank(edges, seeds, iters=3, damping=d).collect()
    }
    e = {(s, o) for s, _, o, _ in EDGES}
    verts = sorted({v for pair in e for v in pair})
    outdeg = {v: sum(1 for s, _ in e if s == v) for v in verts}
    tele = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in verts}
    rank = dict(tele)
    for _ in range(3):
        inflow = {v: 0.0 for v in verts}
        for s, o in e:
            inflow[o] += rank[s] / outdeg[s]
        rank = {v: (1 - d) * tele[v] + d * inflow[v] for v in verts}
    for v in verts:
        assert got[v] == pytest.approx(rank[v], abs=1e-12)
    # locality: a seed neighborhood outranks the far side of the graph
    assert got["b"] > got["f"] or got["a"] > got["f"]


def test_personalized_pagerank_empty_seeds_raises(edges):
    from denrl_spark.operators.graph_analytics import personalized_pagerank

    with pytest.raises(ValueError):
        personalized_pagerank(edges, [])


def test_partition_invariance(edges, spark):
    """The analytics are pure functions of the edge SET: shuffling the
    input partitioning changes nothing (content-derived keys, no
    row-order dependence)."""
    from denrl_spark.operators.graph_analytics import (
        link_prediction_ra,
        pagerank_fixedpoint,
    )

    shuffled = edges.repartition(7)
    for op in (degrees, two_hop, triangles, link_prediction_ra, pagerank_fixedpoint):
        a = sorted(map(tuple, op(edges).collect()))
        b = sorted(map(tuple, op(shuffled).collect()))
        assert a == b and len(a) > 0, op.__name__


def test_partition_invariance_round4_ops(edges, spark):
    """Same property for the round-4 operators (similarity, traversal,
    peel, clustering): pure functions of the edge set."""
    from functools import partial

    from denrl_spark.operators.graph_analytics import (
        bfs_distances,
        clustering_coefficients,
        kcore,
        ktruss,
        neighbor_jaccard,
        sssp,
    )

    shuffled = edges.repartition(7)
    ops = (
        neighbor_jaccard,
        clustering_coefficients,
        partial(bfs_distances, seeds=["a"]),
        partial(sssp, seeds=["a"], rounds=6),
        partial(kcore, k=2, rounds=4),
        partial(ktruss, k=3, rounds=2),
    )
    for op in ops:
        a = sorted(map(tuple, op(edges).collect()))
        b = sorted(map(tuple, op(shuffled).collect()))
        name = getattr(op, "__name__", getattr(getattr(op, "func", None), "__name__", "?"))
        assert a == b and len(a) > 0, name


def _und_pairs():
    return {frozenset((s, o)) for s, _, o, _ in EDGES if s != o}


def _nbrs():
    nbrs: dict[str, set[str]] = {}
    for e in _und_pairs():
        x, y = tuple(e)
        nbrs.setdefault(x, set()).add(y)
        nbrs.setdefault(y, set()).add(x)
    return nbrs


def test_neighbor_jaccard_matches_bruteforce(edges):
    from denrl_spark.operators.graph_analytics import (
        JACCARD_UNIT,
        neighbor_jaccard,
    )

    got = {
        (r["va"], r["vb"]): (r["n_common"], r["n_union"], r["jac_u6"])
        for r in neighbor_jaccard(edges).collect()
    }
    nbrs = _nbrs()
    want = {}
    for x, y in combinations(sorted(nbrs), 2):
        common = nbrs[x] & nbrs[y]
        if common:
            union = nbrs[x] | nbrs[y]
            want[(x, y)] = (
                len(common), len(union),
                JACCARD_UNIT * len(common) // len(union),
            )
    assert got == want
    # adjacent pairs are INCLUDED (unlike link_prediction_ra): a-b are
    # linked and share c,d
    assert got[("a", "b")][0] == 2


def test_bfs_distances_match_bruteforce(edges):
    from collections import deque

    from denrl_spark.operators.graph_analytics import bfs_distances

    nbrs = _nbrs()
    for seeds in (["a"], ["f"], ["a", "f"]):
        got = {
            r["surface"]: r["dist"]
            for r in bfs_distances(edges, seeds).collect()
        }
        dist = {s: 0 for s in seeds}
        dq = deque(seeds)
        while dq:
            v = dq.popleft()
            for n in nbrs.get(v, ()):
                if n not in dist:
                    dist[n] = dist[v] + 1
                    dq.append(n)
        assert got == dist, seeds
    # multi-source takes the NEAREST seed: e is 1 from f, 2 from a
    multi = {
        r["surface"]: r["dist"]
        for r in bfs_distances(edges, ["a", "f"]).collect()
    }
    assert multi["e"] == 1


def test_bfs_isolated_seed_and_empty_seeds(edges, spark):
    from denrl_spark.operators.graph_analytics import bfs_distances

    # a seed not in the graph stays at dist 0 and reaches nothing
    got = {
        r["surface"]: r["dist"]
        for r in bfs_distances(edges, ["zzz"]).collect()
    }
    assert got == {"zzz": 0}
    with pytest.raises(ValueError):
        bfs_distances(edges, [])


def test_kcore_matches_peel(edges):
    from denrl_spark.operators.graph_analytics import kcore

    for k in (1, 2, 3):
        got = {
            r["surface"]: r["deg"]
            for r in kcore(edges, k=k, rounds=6).collect()
        }
        und = _und_pairs()
        for _ in range(6):
            deg: dict[str, int] = {}
            for e in und:
                for v in e:
                    deg[v] = deg.get(v, 0) + 1
            keep = {v for v, d in deg.items() if d >= k}
            und = {e for e in und if e <= keep}
        deg = {}
        for e in und:
            for v in e:
                deg[v] = deg.get(v, 0) + 1
        assert got == deg, k
    # the {a,b,c,d} clique is the 3-core; e/f peel off
    assert set(kcore(edges, k=3, rounds=6).toPandas()["surface"]) == {
        "a", "b", "c", "d",
    }


def test_sssp_matches_bellman_ford(edges):
    import heapq

    from denrl_spark.operators.graph_analytics import SSSP_UNIT, sssp

    # weighted undirected adjacency: min cost over parallel edges
    cost: dict[frozenset, int] = {}
    for s, _, o, w in EDGES:
        if s != o:
            e = frozenset((s, o))
            c = SSSP_UNIT // w
            cost[e] = min(cost.get(e, c), c)
    nbrs: dict[str, dict[str, int]] = {}
    for e, c in cost.items():
        x, y = tuple(e)
        nbrs.setdefault(x, {})[y] = c
        nbrs.setdefault(y, {})[x] = c

    def dijkstra(seeds):
        dist = {s: 0 for s in seeds}
        pq = [(0, s) for s in seeds]
        while pq:
            d, v = heapq.heappop(pq)
            if d > dist.get(v, float("inf")):
                continue
            for n, c in nbrs.get(v, {}).items():
                nd = d + c
                if nd < dist.get(n, float("inf")):
                    dist[n] = nd
                    heapq.heappush(pq, (nd, n))
        return dist

    for seeds in (["a"], ["f"], ["a", "f"]):
        got = {
            r["surface"]: r["cost_u"]
            for r in sssp(edges, seeds, rounds=8).collect()
        }
        assert got == dijkstra(seeds), seeds
    # rounds below convergence = cheapest <=rounds-edge path (the fixed
    # recurrence, NOT an error): 1 round from 'f' reaches only e
    one = {r["surface"]: r["cost_u"] for r in sssp(edges, ["f"], rounds=1).collect()}
    assert set(one) == {"f", "e"}
    with pytest.raises(ValueError):
        sssp(edges, [], rounds=8)
    with pytest.raises(ValueError):
        sssp(edges, ["a"], rounds=0)


def test_sssp_prefers_cheap_strong_edges(edges):
    from denrl_spark.operators.graph_analytics import SSSP_UNIT, sssp

    # b-c has n_obs=5 (cost 200000) vs direct a-c n_obs=1 (cost
    # 1000000): from a, the 2-edge path a-b-c (333333+200000) wins.
    # a-b's parallel edges (w3, w1) collapse to their MIN cost 1e6//3.
    got = {r["surface"]: r["cost_u"] for r in sssp(edges, ["a"]).collect()}
    assert got["c"] == SSSP_UNIT // 3 + SSSP_UNIT // 5


def test_ktruss_matches_peel(edges):
    from denrl_spark.operators.graph_analytics import ktruss

    def py_support(und):
        sup: dict[frozenset, int] = {e: 0 for e in und}
        verts = sorted({v for e in und for v in e})
        for x, y, z in combinations(verts, 3):
            tri = [frozenset((x, y)), frozenset((y, z)), frozenset((x, z))]
            if all(e in und for e in tri):
                for e in tri:
                    sup[e] += 1
        return sup

    for k in (3, 4):
        got = {
            frozenset((r["va"], r["vb"])): r["support"]
            for r in ktruss(edges, k=k, rounds=3).collect()
        }
        und = _und_pairs()
        for _ in range(3):
            sup = py_support(und)
            und = {e for e, s in sup.items() if s >= k - 2}
        want = {e: s for e, s in py_support(und).items() if e in und}
        assert got == want, k
    # the {a,b,c,d} 4-clique is the 4-truss (every edge in 2 triangles);
    # the rest of the graph peels away
    truss4 = ktruss(edges, k=4, rounds=3).toPandas()
    assert set(truss4["va"]) | set(truss4["vb"]) == {"a", "b", "c", "d"}
    assert (truss4["support"] == 2).all() and len(truss4) == 6
    with pytest.raises(ValueError):
        ktruss(edges, k=2, rounds=3)


def test_ktruss_zero_support_survivor(spark):
    """An edge that passes the last peel round's filter can end with
    ZERO triangles once its co-members peel in the same round — it is
    a survivor of the fixed-round recurrence and must be reported with
    support 0, not dropped (review regression). Graph: triangles
    {a,b,c} and {b,c,d} share edge (b,c); at k=4 (support >= 2) only
    (b,c) survives round 1, and alone it closes no triangle."""
    from denrl_spark.operators.graph_analytics import ktruss

    g = spark.createDataFrame(
        [("a", "p", "b", 1), ("a", "p", "c", 1), ("b", "p", "c", 1),
         ("b", "p", "d", 1), ("c", "p", "d", 1)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = [tuple(r) for r in ktruss(g, k=4, rounds=1).collect()]
    assert got == [("b", "c", 0)]
    # a second round peels it away entirely (support 0 < k-2)
    assert ktruss(g, k=4, rounds=2).count() == 0


def test_clustering_coefficients_match_bruteforce(edges):
    from denrl_spark.operators.graph_analytics import (
        JACCARD_UNIT,
        clustering_coefficients,
    )

    got = {
        r["surface"]: (r["n_tri"], r["deg"], r["cc_u6"])
        for r in clustering_coefficients(edges).collect()
    }
    und = _und_pairs()
    nbrs = _nbrs()
    verts = sorted(nbrs)
    tris = {
        (x, y, z)
        for x, y, z in combinations(verts, 3)
        if {frozenset((x, y)), frozenset((y, z)), frozenset((x, z))} <= und
    }
    want = {}
    for v in verts:
        deg = len(nbrs[v])
        if deg < 2:
            continue
        nt = sum(1 for t in tris if v in t)
        want[v] = (nt, deg, JACCARD_UNIT * 2 * nt // (deg * (deg - 1)))
    assert got == want
    # a,b,c,d form a clique: every pair of their 3 clique-neighbors is
    # linked, but a/c/d also touch outside vertices, so only b (whose
    # whole neighborhood is the clique) scores exactly 1.0
    assert got["b"][2] == JACCARD_UNIT
    # deg-1 vertices (f) are excluded: coefficient undefined
    assert "f" not in got


def _lpa_bruteforce(nbrs, rounds):
    """Direct transcription of the synchronous min-tie-break LPA
    recurrence: every vertex adopts the most frequent neighbor label,
    ties to the MINIMUM label, all reads from the previous round."""
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        nxt = {}
        for v, ns in nbrs.items():
            counts: dict[str, int] = {}
            for n in ns:
                counts[labels[n]] = counts.get(labels[n], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def test_label_propagation_matches_bruteforce(edges):
    from denrl_spark.operators.graph_analytics import label_propagation

    for rounds in (1, 2, 4):
        got = {
            r["surface"]: r["community"]
            for r in label_propagation(edges, rounds=rounds).collect()
        }
        assert got == _lpa_bruteforce(_nbrs(), rounds), rounds


def test_label_propagation_two_community_gadget(spark):
    """Two 4-cliques {a..d} and {w..z} joined by one bridge d-w: after
    4 rounds each clique collapses to its min label, and the bridge is
    not enough to merge them — exactly the cluster split kcore/ktruss
    can't express."""
    from denrl_spark.operators.graph_analytics import label_propagation

    rows = [
        (x, "p", y, 1)
        for grp in (("a", "b", "c", "d"), ("w", "x", "y", "z"))
        for x, y in combinations(grp, 2)
    ] + [("d", "p", "w", 1)]
    g = spark.createDataFrame(
        rows, "src_surface string, pred string, dst_surface string, n_obs long"
    )
    got = {
        r["surface"]: r["community"]
        for r in label_propagation(g, rounds=4).collect()
    }
    nbrs: dict[str, set[str]] = {}
    for s, _, o, _ in rows:
        nbrs.setdefault(s, set()).add(o)
        nbrs.setdefault(o, set()).add(s)
    assert got == _lpa_bruteforce(nbrs, 4)
    assert got["a"] == got["b"] == got["c"] == got["d"] == "a"
    assert got["w"] == got["x"] == got["y"] == got["z"] == "w"
    # partition invariance: pure function of the edge set
    got7 = {
        r["surface"]: r["community"]
        for r in label_propagation(g.repartition(7), rounds=4).collect()
    }
    assert got7 == got


def test_hits_matches_bruteforce_loop(edges):
    """2-round HITS vs a direct transcription of the recurrence over
    the distinct edge set; the hub 'a' and the authority-heavy 'd'
    separate the two scores (PageRank/degree conflate them)."""
    from denrl_spark.operators.graph_analytics import hits_scores

    got = {
        r["surface"]: (r["hub_u"], r["auth_u"])
        for r in hits_scores(edges, rounds=2).collect()
    }
    e = {(s, o) for s, _, o, _ in EDGES}
    verts = sorted({v for pair in e for v in pair})
    hub = {v: 1 for v in verts}
    auth = {v: 0 for v in verts}
    for _ in range(2):
        auth = {v: sum(hub[s] for s, o in e if o == v) for v in verts}
        hub = {v: sum(auth[o] for s, o in e if s == v) for v in verts}
    assert got == {v: (hub[v], auth[v]) for v in verts}
    # dangling f: no out-edges => hub 0; sources with no in-edges => auth 0
    assert got["f"][0] == 0 and got["f"][1] > 0
    # partition invariance: pure function of the edge set
    got5 = {
        r["surface"]: (r["hub_u"], r["auth_u"])
        for r in hits_scores(edges.repartition(5), rounds=2).collect()
    }
    assert got5 == got


def test_hits_empty_graph(spark):
    from denrl_spark.operators.graph_analytics import hits_scores

    empty = spark.createDataFrame(
        [], "src_surface string, pred string, dst_surface string, n_obs long"
    )
    assert hits_scores(empty).count() == 0


def test_hits_plan_has_no_single_partition(edges):
    from denrl_spark.operators.graph_analytics import hits_scores

    plan = hits_scores(edges, rounds=1)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_random_walks_match_python_transcription(edges):
    """random_walks vs a direct Python transcription of the rule:
    step-t choice from u on the walk started at s is
    md5_48("s|t|u") mod deg(u) into the sorted neighbor list. Also:
    every consecutive pair is a real undirected edge, every vertex
    starts exactly one walk, every walk has walk_len+1 steps (the
    gadget graph has no isolated vertices)."""
    import hashlib
    from collections import defaultdict

    from denrl_spark.operators.graph_analytics import random_walks

    L = 8
    got = random_walks(edges, walk_len=L).collect()

    nbrs = defaultdict(set)
    for s, _, o, _ in EDGES:
        if s != o:
            nbrs[s].add(o)
            nbrs[o].add(s)
    adj = {v: sorted(ns) for v, ns in nbrs.items()}

    def pick(start, t, cur):
        h = int(hashlib.md5(f"{start}|{t}|{cur}".encode()).hexdigest()[:12], 16)
        return adj[cur][h % len(adj[cur])]

    expect = set()
    for v in adj:
        cur = v
        expect.add((v, 0, v))
        for t in range(1, L + 1):
            cur = pick(v, t, cur)
            expect.add((v, t, cur))

    assert {(r["start"], r["step"], r["surface"]) for r in got} == expect
    assert len(got) == len(adj) * (L + 1)
    # consecutive steps ride real edges
    by_walk = defaultdict(dict)
    for r in got:
        by_walk[r["start"]][r["step"]] = r["surface"]
    for start, steps in by_walk.items():
        for t in range(1, L + 1):
            assert steps[t] in adj[steps[t - 1]]


def test_partition_invariance_random_walks(edges, spark):
    """random_walks is a pure function of the edge set (hash-seeded
    transitions, sorted adjacency): repartitioning changes nothing."""
    from denrl_spark.operators.graph_analytics import random_walks

    a = sorted(map(tuple, random_walks(edges, walk_len=4).collect()))
    b = sorted(map(tuple, random_walks(edges.repartition(7), walk_len=4).collect()))
    assert a == b and len(a) > 0


def _scc_bruteforce(pairs):
    """Exact SCCs by transitive closure: scc_id(v) = min over
    {v} ∪ {u : v→*u and u→*v}; self-loops dropped, self-loop-only
    vertices absent (the operator's contract)."""
    es = {(s, o) for s, o in pairs if s != o}
    verts = sorted({v for e in es for v in e})
    reach = {v: {v} for v in verts}
    changed = True
    while changed:
        changed = False
        for s, o in es:
            add = reach[o] - reach[s]
            if add:
                reach[s] |= add
                changed = True
    out = {}
    for v in verts:
        mutual = {u for u in reach[v] if v in reach[u]}
        out[v] = (min(mutual), len(mutual))
    return {(v, sid, size) for v, (sid, size) in out.items()}


def test_scc_matches_bruteforce(edges):
    """scc on the module fixture (which contains the directed 4-cycle
    a→b→d→a / a→c→d→a and the dangling tail e→f) vs exact closure."""
    from denrl_spark.operators.graph_analytics import scc

    got = {(r["surface"], r["scc_id"], r["scc_size"]) for r in scc(edges).collect()}
    want = _scc_bruteforce({(s, o) for s, _, o, _ in EDGES})
    assert got == want
    # the fixture's mutual-assertion cluster is {a,b,c,d}
    assert {(v, s) for v, s, n in got if n == 4} == {(v, "a") for v in "abcd"}


def test_scc_path_graph_peels(spark):
    """A path numbered AGAINST the max-coloring order (c→b→a) forces
    one peel per outer round — the coloring algorithm's worst case.
    All SCCs are singletons."""
    from denrl_spark.operators.graph_analytics import scc

    g = spark.createDataFrame(
        [("c", "p", "b", 1), ("b", "p", "a", 1)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = {(r["surface"], r["scc_id"], r["scc_size"]) for r in scc(g).collect()}
    assert got == {("a", "a", 1), ("b", "b", 1), ("c", "c", 1)}


def test_scc_two_cycles_bridged(spark):
    """Two 2-cycles bridged by a one-way edge stay SEPARATE SCCs (the
    case undirected components merges into one): {a,b} →bridge→ {c,d}."""
    from denrl_spark.operators.graph_analytics import components, scc

    g = spark.createDataFrame(
        [("a", "p", "b", 1), ("b", "p", "a", 1),
         ("b", "p", "c", 1),
         ("c", "p", "d", 1), ("d", "p", "c", 1)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = {(r["surface"], r["scc_id"], r["scc_size"]) for r in scc(g).collect()}
    assert got == {("a", "a", 2), ("b", "a", 2), ("c", "c", 2), ("d", "c", 2)}
    # sanity: the undirected view is ONE component — direction is the point
    comp = {r["component"] for r in components(g).collect()}
    assert comp == {"a"}


def test_scc_partition_invariance(edges):
    """scc is a pure function of the edge set."""
    from denrl_spark.operators.graph_analytics import scc

    a = sorted(map(tuple, scc(edges).collect()))
    b = sorted(map(tuple, scc(edges.repartition(7)).collect()))
    assert a == b and len(a) > 0


def test_scc_self_loop_only_graph_is_empty(spark):
    """Self-loops never merge vertices and self-loop-only vertices are
    absent (the components contract): an all-self-loop graph yields an
    EMPTY result with the right schema, not an error."""
    from denrl_spark.operators.graph_analytics import scc

    g = spark.createDataFrame(
        [("a", "p", "a", 1), ("b", "p", "b", 2)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    out = scc(g)
    assert out.columns == ["surface", "scc_id", "scc_size"]
    assert out.count() == 0


def test_scc_exact_outer_budget_succeeds(spark):
    """A 2-path numbered against the coloring order peels one SCC per
    round; with max_outer EXACTLY the number of peels needed, the run
    must succeed (the guard fires only if vertices remain)."""
    import pytest as _pytest

    from denrl_spark.operators.graph_analytics import scc

    g = spark.createDataFrame(
        [("c", "p", "b", 1), ("b", "p", "a", 1)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = {tuple(r) for r in scc(g, max_outer=3).collect()}
    assert got == {("a", "a", 1), ("b", "b", 1), ("c", "c", 1)}
    with _pytest.raises(RuntimeError, match="peeling"):
        scc(g, max_outer=2)


# p7 -> p6 -> ... -> p0: diameter 7, and numbered AGAINST scc's
# max-coloring order so its coloring needs more than one batched round
PATH8 = [(f"p{i + 1}", "p", f"p{i}", 1) for i in range(7)]


@pytest.mark.parametrize("op, name", [
    (lambda g: bfs_distances(g, ["p0"], max_iter=1), "bfs_distances"),
    (lambda g: closeness(g, max_iter=1), "closeness"),
    (lambda g: components(g, max_iter=1), "connected_components"),
    (lambda g: scc(g, max_iter=1), "scc"),
], ids=["bfs", "closeness", "components", "scc"])
def test_exhausted_budget_fails_loudly(spark, op, name):
    """A path longer than the round budget: every fixpoint operator
    raises a RuntimeError naming itself instead of returning a partial
    result — the one guard in graph_analytics.iterate."""
    g = spark.createDataFrame(
        PATH8, "src_surface string, pred string, dst_surface string, n_obs long"
    )
    with pytest.raises(RuntimeError, match=name):
        op(g)


def test_scc_long_cycle_needs_several_rounds(spark):
    """A 10-cycle is one SCC, but both its coloring and its backward
    collection need 9 pushes — several batched rounds — so a
    convergence test that stopped early would split it."""
    g = spark.createDataFrame(
        [(f"v{i}", "p", f"v{(i + 1) % 10}", 1) for i in range(10)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = {tuple(r) for r in scc(g).collect()}
    assert got == {(f"v{i}", "v0", 10) for i in range(10)}


def test_scc_adversarial_digraphs(spark):
    """Table-driven SCC cases aimed at the coloring algorithm's sharp
    edges, each checked against the exact-closure bruteforce:
    figure-eight (two cycles sharing a vertex = ONE SCC), a cycle plus
    a one-way tail into a second cycle, a HIGH-id vertex pointing INTO
    a low-id cycle (color class strictly larger than the root's SCC —
    the backward collection must not over-collect), and a diamond DAG
    whose (forward-min, backward-min) label pairs collide for
    non-mutually-reachable vertices (the known counterexample to the
    one-shot two-label shortcut)."""
    from denrl_spark.operators.graph_analytics import scc

    cases = [
        # figure-eight: 1<->2, 2<->3 share vertex 2
        [("1", "2"), ("2", "1"), ("2", "3"), ("3", "2")],
        # 3-cycle -> tail -> 2-cycle
        [("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("4", "5"), ("5", "4")],
        # high id feeds a low cycle: c(1)=c(2)=9 but SCC(9)={9}
        [("9", "1"), ("1", "2"), ("2", "1")],
        # diamond DAG: f/b label pairs collide for the two middles
        [("1", "5"), ("1", "6"), ("5", "2"), ("6", "2")],
        # two cycles joined BOTH ways through a middle vertex = one SCC
        [("1", "2"), ("2", "1"), ("2", "3"), ("3", "4"), ("4", "3"), ("4", "1")],
    ]
    for pairs in cases:
        g = spark.createDataFrame(
            [(s, "p", d, 1) for s, d in pairs],
            "src_surface string, pred string, dst_surface string, n_obs long",
        )
        got = {tuple(r) for r in scc(g).collect()}
        assert got == _scc_bruteforce(pairs), pairs


def test_condensation_matches_bruteforce_and_is_acyclic(edges):
    """Condensation on the module fixture vs exact enumeration, plus
    the defining property: the condensed graph is a DAG (no mutual
    pair, no self-pair — acyclicity follows from SCC maximality)."""
    from denrl_spark.operators.graph_analytics import condensation

    scc_map = {v: sid for v, sid, _ in _scc_bruteforce(
        {(s, o) for s, _, o, _ in EDGES})}
    want: dict[tuple, int] = {}
    for s, o in {(s, o) for s, _, o, _ in EDGES if s != o}:
        a, b = scc_map[s], scc_map[o]
        if a != b:
            want[(a, b)] = want.get((a, b), 0) + 1
    got = {
        (r["src_scc"], r["dst_scc"]): r["n_edges"]
        for r in condensation(edges).collect()
    }
    assert got == want and len(got) > 0
    assert all(a != b for a, b in got)
    assert not any((b, a) in got for a, b in got)  # DAG: no 2-cycles


def test_condensation_bridged_cycles_single_edge(spark):
    """The bridged 2-cycles gadget condenses to exactly one DAG edge
    {a,b} -> {c,d} with n_edges = 1 (only the bridge crosses)."""
    from denrl_spark.operators.graph_analytics import condensation

    g = spark.createDataFrame(
        [("a", "p", "b", 1), ("b", "p", "a", 1),
         ("b", "p", "c", 1),
         ("c", "p", "d", 1), ("d", "p", "c", 1)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = [tuple(r) for r in condensation(g).collect()]
    assert got == [("a", "c", 1)]


def _bfs_all_dists(nbrs):
    """{root: {node: hop-dist}} over the undirected neighbor map."""
    from collections import deque

    out = {}
    for root in nbrs:
        dist = {root: 0}
        dq = deque([root])
        while dq:
            v = dq.popleft()
            for n in nbrs.get(v, ()):
                if n not in dist:
                    dist[n] = dist[v] + 1
                    dq.append(n)
        out[root] = dist
    return out


def test_closeness_matches_bruteforce(edges):
    """All-pairs harmonic closeness on the module fixture vs a literal
    per-root BFS transcription (integer // per pair, then sum)."""
    from denrl_spark.operators.graph_analytics import (
        CLOSENESS_UNIT,
        closeness,
    )

    got = {
        r["surface"]: (r["n_reach"], r["sum_d"], r["harmonic_u6"], r["ecc"])
        for r in closeness(edges).collect()
    }
    dists = _bfs_all_dists(_nbrs())
    want = {
        root: (
            sum(1 for d in dist.values() if d > 0),
            sum(dist.values()),
            sum(CLOSENESS_UNIT // d for d in dist.values() if d > 0),
            max(dist.values()),
        )
        for root, dist in dists.items()
    }
    assert got == want
    # the fixture is connected (minus self-loop-only verts), so every
    # root reaches all others and ecc is the true eccentricity
    assert all(r[0] == len(dists) - 1 for r in got.values())


def test_closeness_sampled_roots_and_isolated_root(edges, spark):
    """A sampled-roots run returns exactly the rows of the all-pairs
    run restricted to those roots; a root absent from the graph yields
    the zero row (the disconnected-sample contract at scale)."""
    from denrl_spark.operators.graph_analytics import closeness

    full = {tuple(r) for r in closeness(edges).collect()}
    some = {tuple(r) for r in closeness(edges, roots=["a", "f"]).collect()}
    assert some == {r for r in full if r[0] in ("a", "f")}
    iso = closeness(edges, roots=["zzz"]).collect()
    assert [tuple(r) for r in iso] == [("zzz", 0, 0, 0, 0)]


def test_closeness_path_graph_eccentricity(spark):
    """P4 path graph: end vertices ecc 3, harmonic 1e6+5e5+333333;
    interior ecc 2 — exact integer expectations."""
    from denrl_spark.operators.graph_analytics import closeness

    g = spark.createDataFrame(
        [("a", "p", "b", 1), ("b", "p", "c", 1), ("c", "p", "d", 1)],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    got = {
        r["surface"]: (r["n_reach"], r["sum_d"], r["harmonic_u6"], r["ecc"])
        for r in closeness(g).collect()
    }
    end = (3, 6, 10**6 + 500_000 + 333_333, 3)
    mid = (3, 4, 2 * 10**6 + 500_000, 2)
    assert got == {"a": end, "d": end, "b": mid, "c": mid}


def test_walk_skipgram_pairs_match_transcription(edges):
    """Pairs from the deterministic walk corpus vs a literal Python
    count over the collected walks; window edges and the c>=1 guard."""
    from denrl_spark.operators.graph_analytics import (
        SKIPGRAM_C,
        random_walks,
        walk_skipgram_pairs,
    )

    walks = random_walks(edges).cache()
    rows = walks.collect()
    by_walk: dict[str, dict[int, str]] = {}
    for r in rows:
        by_walk.setdefault(r["start"], {})[r["step"]] = r["surface"]
    want: dict[tuple, int] = {}
    for steps in by_walk.values():
        for i, ci in steps.items():
            for j, cj in steps.items():
                if j != i and abs(j - i) <= SKIPGRAM_C:
                    want[(ci, cj)] = want.get((ci, cj), 0) + 1
    got = {
        (r["center"], r["context"]): r["n"]
        for r in walk_skipgram_pairs(walks).collect()
    }
    assert got == want and len(want) > 0
    # symmetric by construction: (x,y) and (y,x) counts match
    assert all(got[(a, b)] == got[(b, a)] for a, b in got)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        walk_skipgram_pairs(walks, c=0)
    walks.unpersist()


def test_motif_census_matches_bruteforce(edges):
    """Cycle/FFL instances on the module fixture vs exhaustive
    enumeration, with the anchoring (each cycle once, each FFL once)
    verified by construction of the expected sets."""
    from itertools import permutations

    from denrl_spark.operators.graph_analytics import motif_census

    d = {(s, t) for s, _, t, _ in EDGES if s != t}
    verts = {v for e in d for v in e}
    cycles, ffls = set(), set()
    for a, b, c in permutations(sorted(verts), 3):
        if (a, b) in d and (b, c) in d and (c, a) in d and a < b and a < c:
            cycles.add(("cycle", a, b, c))
        if (a, b) in d and (b, c) in d and (a, c) in d:
            ffls.add(("ffl", a, b, c))
    got = {tuple(r) for r in motif_census(edges).collect()}
    assert got == cycles | ffls
    # the fixture's 4-cycle a->b? verify counts are sane: no dup rows
    rows = motif_census(edges).collect()
    assert len(rows) == len(got)


def test_motif_census_gadgets(spark):
    """A pure 3-cycle yields exactly one 'cycle' row (rotation class
    collapsed); adding the chord a->c turns it into one cycle + one
    FFL; a 2-cycle (mutual edge) alone yields nothing."""
    from denrl_spark.operators.graph_analytics import motif_census

    def g(pairs):
        return spark.createDataFrame(
            [(s, "p", t, 1) for s, t in pairs],
            "src_surface string, pred string, dst_surface string, n_obs long",
        )

    assert [tuple(r) for r in motif_census(
        g([("a", "b"), ("b", "c"), ("c", "a")])).collect()
    ] == [("cycle", "a", "b", "c")]
    both = {tuple(r) for r in motif_census(
        g([("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")])).collect()}
    assert both == {("cycle", "a", "b", "c"), ("ffl", "a", "b", "c")}
    assert motif_census(g([("a", "b"), ("b", "a")])).count() == 0


def test_katz_matches_bruteforce_loop(edges):
    """3-round truncated Katz vs a direct transcription of the
    recurrence (x_l = inflow-sum then integer div) over the distinct
    edge set; also pins the PageRank/Katz distinction: Katz never
    divides by out-degree, so the hub 'a' passes full mass to every
    successor."""
    from denrl_spark.operators.graph_analytics import (
        KATZ_UNIT, katz_scores,
    )

    got = {r["surface"]: r["katz_u"] for r in katz_scores(edges, rounds=3).collect()}
    e = {(s, o) for s, _, o, _ in EDGES}
    verts = sorted({v for pair in e for v in pair})
    x = {v: KATZ_UNIT for v in verts}
    katz = {v: 0 for v in verts}
    for _ in range(3):
        x = {v: sum(x[s] for s, o in e if o == v) // 4 for v in verts}
        katz = {v: katz[v] + x[v] for v in verts}
    assert got == katz
    # source-only vertices (no in-edges) accumulate nothing
    assert got["f"] > 0  # e -> f
    # partition invariance: pure function of the edge set
    got5 = {
        r["surface"]: r["katz_u"]
        for r in katz_scores(edges.repartition(5), rounds=3).collect()
    }
    assert got5 == got


def test_katz_empty_graph_and_plan(spark, edges):
    from denrl_spark.operators.graph_analytics import katz_scores

    empty = spark.createDataFrame(
        [], "src_surface string, pred string, dst_surface string, n_obs long"
    )
    assert katz_scores(empty).count() == 0
    plan = katz_scores(edges, rounds=1)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def _stress_bruteforce(pairs, roots, levels):
    """Direct path enumeration: for each root, BFS shortest distances
    (depth-truncated), enumerate ALL shortest paths by DFS over the
    level DAG, and count interior-vertex traversals."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for s, t in pairs:
        if s != t:
            adj[s].append(t)
    stress = defaultdict(int)
    for r in roots:
        d = {r: 0}
        q = deque([r])
        while q:
            v = q.popleft()
            if d[v] >= levels:
                continue
            for w in adj[v]:
                if w not in d:
                    d[w] = d[v] + 1
                    q.append(w)
        # enumerate shortest paths root -> every t
        def paths(v):
            if v == r:
                return [[r]]
            return [
                p + [v]
                for u in adj
                if v in adj[u] and u in d and d[u] == d[v] - 1
                for p in paths(u)
            ]
        for t, dt in d.items():
            if t == r:
                continue
            for p in paths(t):
                for interior in p[1:-1]:
                    stress[interior] += 1
    return stress


def test_stress_matches_bruteforce(edges):
    """stress_scores == direct shortest-path enumeration on the module
    fixture (4 lexicographic roots a,b,c,d; depth 4). Some vertex must
    carry nonzero stress (e.g. 'a' and 'c' are interiors of d->a->b /
    b->c->e chains), or the test would be vacuous."""
    from denrl_spark.operators.graph_analytics import stress_scores

    got = {r["surface"]: r["stress_u"] for r in stress_scores(edges).collect()}
    pairs = {(s, t) for s, _, t, _ in EDGES}
    verts = sorted({v for p in pairs for v in p})
    expect = _stress_bruteforce(pairs, verts[:4], 4)
    assert got == {v: expect.get(v, 0) for v in verts}
    assert max(got.values()) > 0
    # partition invariance
    got5 = {
        r["surface"]: r["stress_u"]
        for r in stress_scores(edges.repartition(5)).collect()
    }
    assert got5 == got


def test_stress_path_gadget_and_empty(spark):
    """On a directed path r->x->y->z with root sample covering all
    vertices: interior x sits on r->y, r->z, x->... paths. Exact
    counts checked against the enumeration twin; empty graph -> empty
    output."""
    from denrl_spark.operators.graph_analytics import stress_scores

    rows = [("r", "p", "x", 1), ("x", "p", "y", 1), ("y", "p", "z", 1)]
    e = spark.createDataFrame(
        rows, "src_surface string, pred string, dst_surface string, n_obs long"
    )
    got = {r["surface"]: r["stress_u"] for r in stress_scores(e).collect()}
    pairs = {(s, t) for s, _, t, _ in rows}
    expect = _stress_bruteforce(pairs, sorted({v for p in pairs for v in p})[:4], 4)
    assert got == {v: expect.get(v, 0) for v in sorted(got)}
    # x interior of r->y, r->z; y interior of r->z, x->z
    assert got["x"] == 2 and got["y"] == 2 and got["r"] == 0 and got["z"] == 0
    empty = spark.createDataFrame(
        [], "src_surface string, pred string, dst_surface string, n_obs long"
    )
    assert stress_scores(empty).count() == 0


def test_degree_correlation_consistent_with_degrees(edges):
    """The joint (src_out_deg, dst_in_deg) histogram re-derives from
    degrees() by brute force on the gadget graph, and its marginals
    carry the exact second moments (sum n_edges == |E|; sum
    src_out_deg*n_edges == sum_v out_deg(v)^2)."""
    from collections import Counter

    from denrl_spark.operators.graph_analytics import degree_correlation

    deg = {r["surface"]: r for r in degrees(edges).collect()}
    want = Counter()
    obs = Counter()
    for s_, _, o, w in EDGES:
        key = (deg[s_]["out_deg"], deg[o]["in_deg"])
        want[key] += 1
        obs[key] += w
    got = {
        (r["src_out_deg"], r["dst_in_deg"]): (r["n_edges"], r["sum_obs"])
        for r in degree_correlation(edges).collect()
    }
    assert got == {k: (want[k], obs[k]) for k in want}
    assert sum(n for n, _ in got.values()) == len(EDGES)
    assert sum(k[0] * n for k, (n, _) in got.items()) == sum(
        deg[s_]["out_deg"] for s_, _, _, _ in EDGES
    )


def test_pred_functionality_bounds_and_gadget(spark):
    """kg_pred_functionality on a gadget: a strictly functional
    predicate scores exactly 1e6 ppm; a one-subject fan-out predicate
    scores 1e6/n; ppm is always in (0, 1e6]."""
    from denrl_spark.plans.driver_queries import QUERIES
    from pyspark.sql import functions as F

    got = {
        r["pred"]: r
        for r in QUERIES["kg_pred_functionality"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    for r in got.values():
        assert 0 < r["functionality_ppm"] <= 1_000_000
        assert 0 < r["inv_functionality_ppm"] <= 1_000_000
        assert r["n_subj"] <= r["n_edges"] and r["n_obj"] <= r["n_edges"]
        assert r["functionality_ppm"] == (1_000_000 * r["n_subj"]) // r["n_edges"]

    gadget = spark.createDataFrame(
        [
            ("a", "fn", "x", 1), ("b", "fn", "y", 1), ("c", "fn", "y", 1),
            ("h", "fan", "p", 1), ("h", "fan", "q", 1), ("h", "fan", "r", 1),
        ],
        "src_surface string, pred string, dst_surface string, n_obs long",
    )
    agg = (
        gadget.groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("src_surface").alias("n_subj"),
        )
        .collect()
    )
    by = {r["pred"]: r for r in agg}
    assert (1_000_000 * by["fn"]["n_subj"]) // by["fn"]["n_edges"] == 1_000_000
    assert (1_000_000 * by["fan"]["n_subj"]) // by["fan"]["n_edges"] == 333_333


def test_coreness_matches_min_degree_peel(spark, edges):
    """coreness (h-operator, converged rounds) equals the classic
    min-degree-peel core number on the shared gadget AND on a
    clique+tail graph where the tiers are known by construction."""
    from denrl_spark.operators.graph_analytics import coreness

    def peel_coreness(pairs):
        adj: dict[str, set[str]] = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        core, k = {}, 0
        while adj:
            k_level = {v for v, nb in adj.items() if len(nb) <= k}
            if not k_level:
                k += 1
                continue
            # exhaust the <=k peel at this level (cascades stay at k)
            while k_level:
                for v in k_level:
                    core[v] = k
                    for u in adj.pop(v):
                        if u in adj:
                            adj[u].discard(v)
                k_level = {v for v, nb in adj.items() if len(nb) <= k}
        return core

    got = {r["surface"]: r["coreness"] for r in coreness(edges, rounds=8).collect()}
    assert got == peel_coreness(_und_pairs())

    # 5-clique with a 3-vertex tail: clique coreness 4, tail 1
    cl = [(f"c{i}", "p", f"c{j}", 1) for i in range(5) for j in range(i + 1, 5)]
    tail = [("c0", "p", "t1", 1), ("t1", "p", "t2", 1), ("t2", "p", "t3", 1)]
    g = spark.createDataFrame(
        cl + tail, "src_surface string, pred string, dst_surface string, n_obs long"
    )
    got2 = {r["surface"]: r["coreness"] for r in coreness(g, rounds=8).collect()}
    exp = {f"c{i}": 4 for i in range(5)} | {"t1": 1, "t2": 1, "t3": 1}
    assert got2 == exp
    # fixed-round determinism: same rounds -> identical iterate even if
    # short of convergence
    got_r1 = {r["surface"]: r["coreness"] for r in coreness(g, rounds=1).collect()}
    got_r1b = {r["surface"]: r["coreness"] for r in coreness(g, rounds=1).collect()}
    assert got_r1 == got_r1b
    # iterates are non-increasing toward the fixpoint
    assert all(got_r1[v] >= got2[v] for v in got2)


def test_modularity_matches_python_newman_girvan(spark, tmp_path):
    """kg_modularity's per-community contributions on a two-cluster
    gadget equal a literal Python transcription of q_c = (4*m*e_c -
    d_c^2)/(4*m^2), sum close to the known high modularity of two
    near-cliques, and a sparser-than-chance community keeps its
    negative contribution."""
    import math
    import os

    from denrl_spark.operators.graph_analytics import label_propagation
    from denrl_spark.plans.driver_queries import kg_modularity
    from denrl_spark.plans import docs_kg

    # drive the registered query against real sf0.001 extraction
    sf = "/root/testdata/sf0.001"
    got = {r["community"]: r for r in kg_modularity(spark, sf).collect()}

    edges = docs_kg.edges_by_doc(spark, sf)
    com = {r["surface"]: r["community"]
           for r in label_propagation(edges, rounds=4).collect()}
    und = {
        (min(r["src_surface"], r["dst_surface"]),
         max(r["src_surface"], r["dst_surface"]))
        for r in edges.collect()
        if r["src_surface"] != r["dst_surface"]
    }
    m = len(und)
    e_in: dict = {}
    d_sum: dict = {}
    nv: dict = {}
    for v, c in com.items():
        nv[c] = nv.get(c, 0) + 1
    for a, b in und:
        if com[a] == com[b]:
            e_in[com[a]] = e_in.get(com[a], 0) + 1
        d_sum[com[a]] = d_sum.get(com[a], 0) + 1
        d_sum[com[b]] = d_sum.get(com[b], 0) + 1
    assert set(got) == set(nv)
    for c, r in got.items():
        n1 = 4 * m * e_in.get(c, 0) - d_sum.get(c, 0) ** 2
        assert r["n_vertices"] == nv[c]
        assert r["e_in"] == e_in.get(c, 0)
        assert r["d_sum"] == d_sum.get(c, 0)
        assert r["q_e9"] == math.floor(1_000_000_000 * (n1 / (4 * m * m)))
    # partition of the whole: e_in sums never exceed m, degrees sum to 2m
    assert sum(r["d_sum"] for r in got.values()) == 2 * m
    assert sum(r["e_in"] for r in got.values()) <= m


def test_partition_invariance_round5_ops(edges, spark):
    """Same purity property for the round-5 graph operators: coreness
    (h-operator) and the LPA-modularity inputs are functions of the
    edge set alone."""
    from denrl_spark.operators.graph_analytics import (
        coreness,
        label_propagation,
    )

    shuffled = edges.repartition(7)
    for op in (coreness, label_propagation):
        a = sorted(map(tuple, op(edges).collect()))
        b = sorted(map(tuple, op(shuffled).collect()))
        assert a == b and len(a) > 0, op.__name__


def test_pred_gini_matches_transcription(spark):
    """kg_pred_gini on the real sf0.001 extraction equals a literal
    Python recomputation of (n^2 - sum n_o^2)/n^2 over
    observation-weighted object counts."""
    import math

    from denrl_spark.plans import docs_kg
    from denrl_spark.plans.driver_queries import kg_pred_gini

    sf = "/root/testdata/sf0.001"
    edges = docs_kg.edges_by_doc(spark, sf).collect()
    per: dict = {}
    for r in edges:
        per.setdefault(r["pred"], {}).setdefault(r["dst_surface"], 0)
        per[r["pred"]][r["dst_surface"]] += r["n_obs"]
    got = {r["pred"]: r for r in kg_pred_gini(spark, sf).collect()}
    assert set(got) == set(per)
    for pred, objs in per.items():
        n = sum(objs.values())
        ss = sum(v * v for v in objs.values())
        r = got[pred]
        assert (r["n_obs"], r["n_objects"]) == (n, len(objs))
        assert r["gini_e6"] == math.floor(1_000_000 * ((n * n - ss) / (n * n)))
    # sanity: a predicate with >1 object has gini > 0
    assert any(r["gini_e6"] > 0 for r in got.values())


def test_transitive_edges_matches_closure_twin(spark):
    """kg_transitive_edges on the real sf0.001 extraction equals a
    literal Python closure twin: every same-predicate 2-hop pair
    appears exactly once with its implying-path count, and present
    flags membership in the direct edge set."""
    from denrl_spark.plans import docs_kg
    from denrl_spark.plans.driver_queries import kg_transitive_edges

    sf = "/root/testdata/sf0.001"
    de = {
        (r["src_surface"], r["pred"], r["dst_surface"])
        for r in docs_kg.edges_by_doc(spark, sf).collect()
        if r["src_surface"] != r["dst_surface"]
    }
    exp: dict = {}
    for (s, p, d) in de:
        for (s2, p2, d2) in de:
            if s2 == d and p2 == p and s != d2:
                k = (s, p, d2)
                exp[k] = exp.get(k, 0) + 1
    got = {(r["src_surface"], r["pred"], r["dst_surface"]):
           (r["n_paths"], r["present"])
           for r in kg_transitive_edges(spark, sf).collect()}
    assert set(got) == set(exp)
    for k, (n, pres) in got.items():
        assert n == exp[k]
        assert pres == int(k in de)


def test_metapaths_and_explanations_match_twins(spark):
    """kg_metapaths and kg_edge_explanations on the real sf0.001
    extraction equal literal Python twins over the distinct directed
    edge set (every 2-hop path counted once; every closed wedge named
    once with its mid vertex and predicate sequence)."""
    from denrl_spark.plans import docs_kg
    from denrl_spark.plans.driver_queries import (
        kg_edge_explanations,
        kg_metapaths,
    )

    sf = "/root/testdata/sf0.001"
    de = {
        (r["src_surface"], r["pred"], r["dst_surface"])
        for r in docs_kg.edges_by_doc(spark, sf).collect()
        if r["src_surface"] != r["dst_surface"]
    }
    mp: dict = {}
    pairs: dict = {}
    for (s, p, d) in de:
        for (s2, p2, d2) in de:
            if s2 == d and s != d2:
                k = (p, p2)
                mp[k] = mp.get(k, 0) + 1
                pairs.setdefault(k, set()).add((s, d2))
    expl = {
        (s, p, d, mid, p2, p3)
        for (s, p, d) in de                    # the direct edge
        for (s2, p2, mid) in de                # first hop from s
        if s2 == s and mid not in (s, d)
        for (s3, p3, d3) in de                 # closing hop to d
        if s3 == mid and d3 == d
    }
    got_mp = {(r["pred_a"], r["pred_b"]): (r["n_paths"], r["n_pairs"])
              for r in kg_metapaths(spark, sf).collect()}
    assert got_mp == {k: (n, len(pairs[k])) for k, n in mp.items()}
    got_ex = {
        (r["src_surface"], r["pred"], r["dst_surface"],
         r["mid"], r["pred_a"], r["pred_b"])
        for r in kg_edge_explanations(spark, sf).collect()
    }
    assert got_ex == expl
