"""Graph analytics over the canonicalized KG edge table (stage-6 output
of ``graph.materialize_graph``): degree centrality, 2-hop reachability,
triangle enumeration, connected components, resource-allocation link
prediction, and fixed-iteration PageRank (float reference, exact
integer fixed-point, and personalized variants).

The reference stops at materializing the triple/edge tables
(run_jointmodel.py:1619-1688 writes triples; no downstream analytics),
but a KG-construction engine's consumers immediately ask these
questions of the graph, so they ship as first-class operators with the
same oracle discipline as the extraction stages.

Scale notes (edge table = E rows, vertex table = V rows, E >> V):

- ``degrees``: one union + one groupBy — a single shuffle on the vertex
  key, map-side combined. 100 TB-safe by construction.
- ``two_hop``: self-join on the shared middle vertex. Both sides
  shuffle on the join key once; hot middle vertices (celebrities) are
  the classic skew — AQE skew-join splits them, and the groupBy that
  follows is map-side combined. At production scale the edge table is
  written bucketed by src (graph.py docstring), which co-locates one
  side for free.
- ``triangles``: edges are oriented low->high BEFORE the joins, which
  is the standard compact-forward optimization — every triangle is
  enumerated exactly once (a<b<c) instead of 6x, and orientation
  halves the join input.
- ``pagerank``: rank vector is V rows, edges E rows. Each iteration is
  one join + one map-side-combined agg. The edge/out-degree frame is
  computed once and REUSED across iterations; ranks stay small enough
  to broadcast for most real graphs (V ~ 1e8 canonical entities => a
  few GB — at that point AQE falls back to a shuffle join
  co-partitioned with the bucketed edges).

Loop discipline: every per-round loop of the family (PageRank, Katz,
HITS, BFS, closeness, SSSP, k-core, k-truss, label propagation, random
walks, stress, coreness, the three SCC loops, and
``linking.connected_components``) is one call to ``iterate`` with a
per-algorithm step body — the fixpoint as one operator
(recursive-relational-algebra style). ``iterate`` alone owns the eager
per-round checkpoint, the convergence test with early exit, and the
loud failure on an exhausted round budget.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Window, functions as F

PR_DAMPING = 0.85


def iterate(state, step, rounds: int, until=None, *, name: str = "iterate"):
    """Run ``step`` (lazy plan in, lazy plan out) for at most ``rounds``
    rounds in the driver, with an EAGER ``localCheckpoint`` of each new
    state: lineage stays O(1) per round instead of compounding (the
    classic iterative-Spark failure mode). ``state`` is a DataFrame or
    a tuple of DataFrames, checkpointed in order — so no frame of a
    tuple may be planned over another frame's un-checkpointed plan.
    A step that needs its round number (HITS's alternating half-steps,
    stress's level sweeps) reads it from an iterator it closes over.

    Without ``until`` exactly ``rounds`` rounds run: the fixed-round
    recurrences, whose SQL twins unroll the same count, so outputs
    match converged or not. With it, ``until(old, new)`` is evaluated
    after every checkpoint and True returns early; a budget that runs
    out first raises RuntimeError naming the operator rather than
    returning a partial fixpoint."""
    for _ in range(rounds):
        new = step(state)
        new = (tuple(f.localCheckpoint() for f in new)
               if isinstance(new, tuple) else new.localCheckpoint())
        done = until is not None and until(state, new)
        state = new
        if done:
            return state
    if until is not None:
        raise RuntimeError(f"{name} did not converge in {rounds} rounds")
    return state


def no_change(key: str, col: str):
    """``until`` test: no row's ``col`` changed between the old and
    new state (joined on ``key``) — one count action per round."""
    def until(old: DataFrame, new: DataFrame) -> bool:
        return (
            new.alias("n").join(old.alias("o"), key)
            .where(F.col(f"n.{col}") != F.col(f"o.{col}"))
            .count()
        ) == 0

    return until


def steady(measure, first=None):
    """``until`` test for monotone fixpoints with a cheap exact summary:
    converged when ``measure`` (one small action) of the new state
    equals the previous round's. ``first`` is the initial state's
    measure when it is known without an action."""
    last = [first]

    def until(old: DataFrame, new: DataFrame) -> bool:
        prev = measure(old) if last[0] is None else last[0]
        last[0] = measure(new)
        return last[0] == prev

    return until


def _dist_fingerprint(dist: DataFrame) -> tuple[int, int]:
    """(row count, sum of distances) — strictly improving under a
    min-distance round: a round either adds a row (count grows) or
    lowers a distance (sum shrinks at fixed count), so equality means
    fixpoint."""
    row = dist.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("dist"), F.lit(0)).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def _adjacency(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric adjacency (v, nbr) of the undirected canonical graph:
    both orientations of every distinct non-loop pair."""
    und = undirected_edges(edges, src, dst)
    return und.unionByName(
        und.select(F.col("vb").alias("va"), F.col("va").alias("vb"))
    ).select(F.col("va").alias("v"), F.col("vb").alias("nbr"))


def _arcs(edges: DataFrame, src: str, dst: str, s: str = "s",
          d: str = "d") -> DataFrame:
    """Distinct directed (s, d) pairs, self-loops dropped."""
    return (
        edges.select(F.col(src).alias(s), F.col(dst).alias(d))
        .where(F.col(s) != F.col(d))
        .distinct()
    )


def _vertex_set(e: DataFrame, a: str, b: str, name: str = "surface") -> DataFrame:
    """Distinct endpoints of a directed edge frame, as column ``name``."""
    return (
        e.select(F.col(a).alias(name))
        .unionByName(e.select(F.col(b).alias(name)))
        .distinct()
    )


def degrees(edges: DataFrame, src: str = "src_surface", dst: str = "dst_surface",
            weight: str = "n_obs") -> DataFrame:
    """Per-vertex degree centrality: (surface, out_deg, in_deg,
    out_nbrs, in_nbrs, w_out_obs, w_in_obs). out_deg/in_deg are
    EDGE-grain (one per (src, pred, dst) row — a pair linked by two
    predicates counts twice); out_nbrs/in_nbrs are the DISTINCT
    neighbor counts. All six in ONE pass: union the two endpoint
    projections with an is_out flag, then a single aggregation (the
    countDistinct adds the usual two-phase expand; still one shuffle on
    the vertex key, no join)."""
    ends = edges.select(
        F.col(src).alias("surface"), F.lit(1).alias("is_out"),
        F.col(dst).alias("nbr"), F.col(weight).alias("w")
    ).unionByName(
        edges.select(
            F.col(dst).alias("surface"), F.lit(0).alias("is_out"),
            F.col(src).alias("nbr"), F.col(weight).alias("w")
        )
    )
    out = F.col("is_out") == 1
    return ends.groupBy("surface").agg(
        F.sum("is_out").cast("bigint").alias("out_deg"),
        F.sum(1 - F.col("is_out")).cast("bigint").alias("in_deg"),
        F.countDistinct(F.when(out, F.col("nbr"))).alias("out_nbrs"),
        F.countDistinct(F.when(~out, F.col("nbr"))).alias("in_nbrs"),
        F.sum(F.col("is_out") * F.col("w")).cast("bigint").alias("w_out_obs"),
        F.sum((1 - F.col("is_out")) * F.col("w")).cast("bigint").alias("w_in_obs"),
    )


def two_hop(edges: DataFrame, src: str = "src_surface", dst: str = "dst_surface",
            weight: str = "n_obs") -> DataFrame:
    """2-hop reachability with path counts: (src, dst, n_paths,
    w_paths) where w_paths = sum over paths of the product of the two
    hop weights. Round trips (src == final dst) are kept out —
    consumers ask "what NEW entities are 2 hops away" — and so are
    SELF-LOOP hops (a->a->b is not a genuine 2-hop path; canonical
    graphs can carry self-loops when both mention surfaces of a triple
    canonicalize to the same entity).

    Shape: one self-equi-join on the middle vertex + one map-side-
    combined agg. Skewed middle vertices are split by AQE."""
    no_loop = F.col(src) != F.col(dst)
    a = edges.where(no_loop).select(
        F.col(src).alias("src"), F.col(dst).alias("mid"), F.col(weight).alias("w1")
    )
    b = edges.where(no_loop).select(
        F.col(src).alias("mid"), F.col(dst).alias("dst"), F.col(weight).alias("w2")
    )
    return (
        a.join(b, "mid")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.sum(F.col("w1") * F.col("w2")).cast("bigint").alias("w_paths"),
        )
    )


def undirected_edges(edges: DataFrame, src: str = "src_surface",
                     dst: str = "dst_surface") -> DataFrame:
    """Distinct undirected vertex pairs oriented low->high: (va, vb)
    with va < vb. Self-loops dropped. The orientation is what makes
    triangle enumeration emit each triangle exactly once."""
    return (
        edges.select(
            F.least(src, dst).alias("va"), F.greatest(src, dst).alias("vb")
        )
        .where(F.col("va") != F.col("vb"))
        .distinct()
    )


def triangles(edges: DataFrame, src: str = "src_surface",
              dst: str = "dst_surface") -> DataFrame:
    """Triangle enumeration over the undirected graph: one row
    (va, vb, vc) per triangle with va < vb < vc (compact-forward:
    orient first, then two equi-joins — each triangle found once, the
    closing edge checked with an equi-join, never a nested loop)."""
    u = undirected_edges(edges, src, dst)
    ab = u.select(F.col("va").alias("a"), F.col("vb").alias("b"))
    bc = u.select(F.col("va").alias("b"), F.col("vb").alias("c"))
    ac = u.select(F.col("va").alias("a"), F.col("vb").alias("c"))
    return (
        ab.join(bc, "b")
        .join(ac, ["a", "c"])  # closing edge
        .select(F.col("a").alias("va"), F.col("b").alias("vb"), F.col("c").alias("vc"))
    )


def components(edges: DataFrame, src: str = "src_surface",
               dst: str = "dst_surface", max_iter: int = 40) -> DataFrame:
    """Connected components of the undirected canonical graph:
    (surface, component) with component = min surface of the component
    (deterministic). Delegates to linking.connected_components — the
    O(diameter) min-label propagation with its strict convergence
    guard. max_iter bounds the graph DIAMETER, not size: star graphs
    converge in 2, but a general KG can carry long containment chains,
    so the default here is 40 (raise for pathological path graphs —
    the guard raises loudly rather than returning partially-merged
    components)."""
    from denrl_spark.operators.linking import connected_components

    und = undirected_edges(edges, src, dst).select(
        F.col("va").alias("src"), F.col("vb").alias("dst")
    )
    nodes = _vertex_set(edges, src, dst, "node_id")
    return connected_components(nodes, und, max_iter=max_iter).select(
        F.col("node_id").alias("surface"), "component"
    )


RA_UNIT = 10**12  # resource-allocation weight unit (1/deg in 1e-12)


def link_prediction_ra(edges: DataFrame, src: str = "src_surface",
                       dst: str = "dst_surface") -> DataFrame:
    """Link-prediction candidates over the undirected canonical graph:
    for every NON-adjacent pair (va < vb) with at least one common
    neighbor, the common-neighbor count and the resource-allocation
    index sum_w 1/deg(w) in exact integer units (RA_UNIT div deg — the
    per-neighbor weight is an integer division, so the aggregate is
    order-independent and hash-oracle-able; Adamic-Adar's 1/ln(deg)
    would re-open the cross-engine libm/ULP gap).

    Shape: adjacency self-join on the shared neighbor (the same
    skew-sensitive middle-vertex join as two_hop — AQE splits hot
    neighbors), one left-anti join against the edge set to drop
    already-linked pairs, one map-side-combined agg."""
    und = undirected_edges(edges, src, dst)
    adj = _adjacency(edges, src, dst)
    deg = adj.groupBy(F.col("v").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    a = adj.select(F.col("nbr").alias("w"), F.col("v").alias("u"))
    b = adj.select(F.col("nbr").alias("w"), "v")
    cand = (
        a.join(b, "w")
        .where(F.col("u") < F.col("v"))
        .join(
            und,
            (F.col("u") == und.va) & (F.col("v") == und.vb),
            "left_anti",
        )
    )
    return (
        cand.join(deg, "w")
        .groupBy(F.col("u").alias("va"), F.col("v").alias("vb"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr(f"{RA_UNIT} div deg")).cast("bigint").alias("ra_u12"),
        )
    )


def _pr_operands(edges: DataFrame, src: str, dst: str):
    """Shared preamble of every PageRank variant: the DISTINCT directed
    edge set reduced to (verts, n_v, eo), where eo = out-edges
    annotated with out-degree — the loop's constant operand. verts and
    eo come back eagerly localCheckpoint-ed (breaks lineage AND gives
    exact stats); the transient distinct-edge cache is released before
    returning."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.cache()
    verts = _vertex_set(e, "src", "dst").localCheckpoint()
    n_v = verts.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    eo = e.join(outdeg, "src").localCheckpoint()
    e.unpersist()
    return verts, n_v, eo


def _pr_iterate(eo: DataFrame, state: DataFrame, rounds: int, contrib,
                *cols) -> DataFrame:
    """``rounds`` propagation rounds of the PageRank family (pagerank,
    its personalized and fixed-point variants, katz_scores): per round
    one equi-join (state x out-edges) + one map-side-combined agg of
    the per-edge ``contrib`` column into ``inflow`` per destination +
    one left join back to the state (no in-edges = null inflow), whose
    row is rebuilt as ``cols``."""
    def step(s: DataFrame) -> DataFrame:
        inflow = (
            eo.join(s, eo.src == s.surface)
            .select(F.col("dst").alias("surface"), contrib.alias("c"))
            .groupBy("surface")
            .agg(F.sum("c").alias("inflow"))
        )
        return s.join(inflow, "surface", "left").select("surface", *cols)

    return iterate(state, step, rounds)


def pagerank(edges: DataFrame, iters: int = 3, damping: float = PR_DAMPING,
             src: str = "src_surface", dst: str = "dst_surface") -> DataFrame:
    """Fixed-iteration PageRank over the DISTINCT directed edge set:
    (surface, rank). Uniform init 1/V; per iteration
    r'(v) = (1-d)/V + d * sum_{u->v} r(u)/outdeg(u). Dangling-vertex
    mass is dropped (not redistributed) — deterministic, and exactly
    reproducible by the unrolled-SQL oracle twin. Plan shape and cache
    discipline live in _pr_operands/_pr_iterate."""
    verts, n_v, eo = _pr_operands(edges, src, dst)
    if n_v == 0:  # empty graph: empty ranks, not ZeroDivisionError
        return verts.withColumn("rank", F.lit(0.0))
    return _pr_iterate(
        eo, verts.withColumn("rank", F.lit(1.0 / n_v)), iters,
        F.col("rank") / F.col("outdeg"),
        (F.lit((1.0 - damping) / n_v)
         + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias("rank"),
    )


def personalized_pagerank(edges: DataFrame, seeds: list[str], iters: int = 3,
                          damping: float = PR_DAMPING,
                          src: str = "src_surface",
                          dst: str = "dst_surface") -> DataFrame:
    """Personalized PageRank: the teleport vector is uniform over the
    SEED set instead of all vertices — the KG-relevance primitive
    ("entities related to these") behind recommendation and query
    expansion. r0 = 1/|S| on seeds, 0 elsewhere;
    r'(v) = (1-d)*teleport(v) + d * sum_in r(u)/outdeg(u); dangling
    mass dropped as in ``pagerank``. The seed set rides a literal
    predicate — it is a user query, not data."""
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    verts, n_v, eo = _pr_operands(edges, src, dst)
    if n_v == 0:
        return verts.withColumn("rank", F.lit(0.0))
    teleport = F.when(
        F.col("surface").isin(list(seeds)), F.lit(1.0 / len(seeds))
    ).otherwise(F.lit(0.0))
    return _pr_iterate(
        eo, verts.withColumn("rank", teleport), iters,
        F.col("rank") / F.col("outdeg"),
        (F.lit(1.0 - damping) * teleport
         + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias("rank"),
    )


PR_UNIT = 10**12  # fixed-point rank unit (1 rank == 10^12 units)


def pagerank_fixedpoint(edges: DataFrame, iters: int = 3,
                        damping_pct: int = 85,
                        src: str = "src_surface",
                        dst: str = "dst_surface") -> DataFrame:
    """PageRank in EXACT integer fixed-point (rank stored as bigint
    units of 1e-12): contributions use integer division (rank div
    outdeg, then *damping_pct div 100), so every aggregate is a sum of
    exact integers — order-independent, bit-identical across engines
    and partitionings. This is the ORACLE-SAFE variant: the float
    ``pagerank`` is the reference recurrence (tested vs a numpy loop),
    but its floor(1e6 * double-sum) output can flip an ULP at a floor
    boundary between engines; this one cannot, by construction. The
    per-step truncation deflates each rank by < 1e-10 relative —
    ranking order is unaffected for any real graph."""
    verts, n_v, eo = _pr_operands(edges, src, dst)
    if n_v == 0:
        return verts.withColumn("rank_u", F.lit(0).cast("bigint"))
    base_u = ((100 - damping_pct) * PR_UNIT) // (100 * n_v)
    return _pr_iterate(
        eo, verts.withColumn("rank_u", F.lit(PR_UNIT // n_v).cast("bigint")),
        iters, F.expr("rank_u div outdeg"),
        (F.lit(base_u)
         + F.expr(f"({damping_pct} * coalesce(inflow, 0L)) div 100"))
        .cast("bigint").alias("rank_u"),
    )


def hits_scores(edges: DataFrame, rounds: int = 2,
                src: str = "src_surface",
                dst: str = "dst_surface") -> DataFrame:
    """Fixed-round HITS (Kleinberg 1999) over the DISTINCT directed
    edge set: (surface, hub_u, auth_u). Init h0 = 1 per vertex; per
    round a_k(v) = sum_{u->v} h_{k-1}(u) then h_k(u) = sum_{u->v}
    a_k(v). Scores are UNNORMALIZED exact bigint sums: per-round
    normalization is a positive scalar that rescales every score
    identically, so the hub/authority RANKING — the thing HITS is for
    — is unchanged, and omitting it keeps every aggregate an exact
    integer (order-independent, bit-identical across engines and
    partitionings; a float-normalized variant could flip an ULP at a
    floor boundary). Magnitude bound: h_k <= V * Δ^(2k) with Δ = max
    degree, so at the default rounds=2 an int64 is exact up to
    Δ ~ 5*10^4 on a 10^6-vertex graph; past that, raise to
    decimal(38,0) sums before widening rounds.

    Shape: each round is two half-step rounds of ``iterate`` over one
    (surface, hub_u, auth_u) frame — authorities from hubs along the
    edges, then hubs from authorities against them — each one
    equi-join (edges x scores) feeding a map-side-combined sum agg plus
    a left join back to the state; no global sort, no SinglePartition.
    Vertices with no in-edges (resp. out-edges) get authority (resp.
    hub) 0, matching the recurrence over an empty sum."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint()
    verts = _vertex_set(e, "src", "dst").localCheckpoint()
    # (from, to, score read, score written) of the two half-steps
    halves = itertools.cycle([("src", "dst", "hub_u", "auth_u"),
                              ("dst", "src", "auth_u", "hub_u")])

    def half(s: DataFrame) -> DataFrame:
        frm, to, have, upd = next(halves)
        raw = (
            e.join(s, e[frm] == s.surface)
            .groupBy(F.col(to).alias("surface"))
            .agg(F.sum(have).cast("bigint").alias("x"))
        )
        return s.join(raw, "surface", "left").select(
            "surface", have, F.coalesce("x", F.lit(0)).cast("bigint").alias(upd)
        )

    start = verts.select(
        "surface",
        F.lit(1).cast("bigint").alias("hub_u"),
        F.lit(0).cast("bigint").alias("auth_u"),
    )
    return iterate(start, half, 2 * rounds).select("surface", "hub_u", "auth_u")


JACCARD_UNIT = 10**6  # neighborhood-Jaccard fixed-point unit (1e-6)


def neighbor_jaccard(edges: DataFrame, src: str = "src_surface",
                     dst: str = "dst_surface") -> DataFrame:
    """Neighborhood-Jaccard similarity over the undirected canonical
    graph: for every pair (va < vb) sharing at least one common
    neighbor — adjacent or not — the exact common/union neighbor
    counts and the Jaccard coefficient in integer 1e-6 units
    (JACCARD_UNIT * n_common div n_union: integer division, so the
    result is order-independent and hash-oracle-able). This is the
    structural-equivalence primitive KG consumers use to flag
    candidate duplicate entities that canonicalization's surface
    normalization cannot merge (two different surfaces connected to
    the same neighborhood).

    Shape (V vertices, E undirected edges): adjacency self-join on the
    shared neighbor — the same skew-sensitive middle-vertex join as
    two_hop / link_prediction_ra (AQE splits hot neighbors; at
    production scale degree-cap the adjacency first, hub-mediated
    similarity is ~0 anyway) — then one map-side-combined agg and a
    broadcast-sized degree join. No cartesian anywhere: pairs with
    zero common neighbors never materialize."""
    adj = _adjacency(edges, src, dst)  # distinct by construction
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    a = adj.select(F.col("nbr").alias("w"), F.col("v").alias("u"))
    b = adj.select(F.col("nbr").alias("w"), "v")
    common = (
        a.join(b, "w")
        .where(F.col("u") < F.col("v"))
        .groupBy(F.col("u").alias("va"), F.col("v").alias("vb"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("v").alias("va"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("vb"), F.col("deg").alias("deg_b"))
    return (
        common.join(da, "va")
        .join(db, "vb")
        .select(
            "va", "vb", "n_common",
            (F.col("deg_a") + F.col("deg_b") - F.col("n_common"))
            .cast("bigint").alias("n_union"),
            F.expr(f"CAST({JACCARD_UNIT} * n_common div "
                   f"(deg_a + deg_b - n_common) AS BIGINT)").alias("jac_u6"),
        )
    )


def bfs_distances(edges: DataFrame, seeds: list[str],
                  src: str = "src_surface", dst: str = "dst_surface",
                  max_iter: int = 40) -> DataFrame:
    """Multi-source BFS over the undirected canonical graph: (surface,
    dist) with dist = exact hop count to the NEAREST seed; unreachable
    vertices are absent. The KG-serving radius query ("everything
    within k hops of these entities") and the reachability half of
    shortest-path analytics.

    Shape: frontier-free min-distance label propagation
    (``_min_plus``), run by ``iterate`` to fixpoint: a round that adds
    no vertex and lowers no distance ends the loop (converged min
    distances are unique, so fixpoint output is engine-independent).
    Per round: one shuffle of the dist table (V rows) + one of the
    adjacency join. max_iter bounds the graph DIAMETER."""
    if not seeds:
        raise ValueError("bfs_distances: empty seed list")
    seeds = sorted(set(seeds))
    adj = _adjacency(edges, src, dst).localCheckpoint()
    dist = (
        edges.sparkSession.createDataFrame([(s,) for s in seeds], "surface string")
        .withColumn("dist", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    # the initial fingerprint is known statically: |seeds| rows, all 0
    return iterate(dist, _min_plus(adj, "dist", F.lit(1)), max_iter,
                   steady(_dist_fingerprint, (len(seeds), 0)),
                   name="bfs_distances")


def _min_plus(adj: DataFrame, col: str, cost, by: tuple[str, ...] = ()):
    """Step of the min-plus fixpoints (bfs_distances, closeness,
    sssp): every reached (*by, surface) row offers ``col + cost`` to
    each adjacency neighbour, and each key keeps its minimum — one
    equi-join of the distance table to the adjacency on the vertex key
    plus one map-side-combinable min agg."""
    def step(dist: DataFrame) -> DataFrame:
        hop = dist.join(adj, dist.surface == adj.v).select(
            *by, F.col("nbr").alias("surface"), (F.col(col) + cost).alias(col)
        )
        return (
            dist.unionByName(hop)
            .groupBy(*by, "surface")
            .agg(F.min(col).alias(col))
        )

    return step


CLOSENESS_UNIT = 10**6  # harmonic-centrality fixed-point unit (1e-6)


def closeness(edges: DataFrame, src: str = "src_surface",
              dst: str = "dst_surface", roots: list[str] | None = None,
              max_iter: int = 40) -> DataFrame:
    """Harmonic closeness centrality over the undirected canonical
    graph: per root vertex, (surface, n_reach, sum_d, harmonic_u6,
    ecc) where harmonic_u6 = sum over reachable t != root of
    CLOSENESS_UNIT div d(root, t) in exact integer units (one integer
    division per pair, then an order-invariant integer sum — the
    cross-engine-hash-safe form; harmonic handles disconnected graphs
    where classic closeness is undefined), and ecc is the root's
    eccentricity within its component. The entity-influence ranking a
    KG-serving layer uses, plus the diameter monitor (max ecc).

    Shape: MULTI-SOURCE BFS with the root carried as a key column —
    one distance table keyed (root, surface) instead of one BFS per
    root, so all roots advance in the same joins (the MS-BFS batching
    idea), run by ``iterate`` to fixpoint with the ``_min_plus``
    step. Converged min distances are unique, so fixpoint output is
    engine-independent.

    Scale: state is O(sum of component sizes over roots) = O(V^2) for
    all-pairs on one giant component — at production scale pass a
    SAMPLED ``roots`` list (the Eppstein–Wang estimator: O(log V /
    eps^2) roots bound the centrality error), which the root-keyed
    state makes a linear knob. All-pairs is the exact small-scale /
    per-component setting. The check-scale contract query samples
    every vertex of the (small) canonical graph.
    """
    adj = _adjacency(edges, src, dst).localCheckpoint()
    verts = (
        adj.select(F.col("v").alias("surface")).distinct()
        if roots is None
        else edges.sparkSession.createDataFrame(
            [(r,) for r in sorted(set(roots))], "surface string"
        )
    )
    dist = (
        verts.select(
            F.col("surface").alias("root"),
            F.col("surface"),
            F.lit(0).cast("bigint").alias("dist"),
        ).localCheckpoint()
    )
    dist = iterate(dist, _min_plus(adj, "dist", F.lit(1), by=("root",)),
                   max_iter, steady(_dist_fingerprint), name="closeness")
    return (
        dist.groupBy(F.col("root").alias("surface"))
        .agg(
            F.sum(F.when(F.col("dist") > 0, 1).otherwise(0))
            .cast("bigint").alias("n_reach"),
            F.sum("dist").cast("bigint").alias("sum_d"),
            F.sum(
                F.when(F.col("dist") > 0,
                       F.expr(f"CAST({CLOSENESS_UNIT} AS BIGINT) div dist"))
                .otherwise(F.lit(0).cast("bigint"))
            ).cast("bigint").alias("harmonic_u6"),
            F.max("dist").cast("bigint").alias("ecc"),
        )
    )


def kcore(edges: DataFrame, k: int = 2, rounds: int = 6,
          src: str = "src_surface", dst: str = "dst_surface") -> DataFrame:
    """k-core peel over the undirected canonical graph: run exactly
    ``rounds`` peel iterations (drop vertices with degree < k, drop
    edges touching them, recompute) and return the surviving
    vertices' degrees (surface, deg). The density filter KG curation
    uses to separate the well-attested core from the long tail of
    singleton mentions before expensive downstream analytics.

    Determinism contract: the round count is FIXED, not
    run-to-convergence — both this operator and its SQL twin execute
    the identical finite recurrence, so outputs match bit-for-bit on
    any graph, converged or not (after convergence further rounds are
    no-ops). For a guaranteed-converged core at scale, raise
    ``rounds`` to the expected peel depth (real web KGs converge in a
    handful; each round is one degree agg + one semi-join, both
    map-side-combinable)."""
    if k < 1:
        raise ValueError("kcore: k must be >= 1")

    def peel(und: DataFrame) -> DataFrame:
        deg = (
            und.select(F.col("va").alias("v"))
            .unionByName(und.select(F.col("vb").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("v")
        return (
            und.join(keep.withColumnRenamed("v", "va"), "va", "left_semi")
            .join(keep.withColumnRenamed("v", "vb"), "vb", "left_semi")
            .select("va", "vb")
        )

    und = iterate(undirected_edges(edges, src, dst).localCheckpoint(), peel, rounds)
    return (
        und.select(F.col("va").alias("surface"))
        .unionByName(und.select(F.col("vb").alias("surface")))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )


SSSP_UNIT = 10**6  # per-edge traversal cost unit (cost = UNIT div weight)


def sssp(edges: DataFrame, seeds: list[str], rounds: int = 8,
         src: str = "src_surface", dst: str = "dst_surface",
         weight: str = "n_obs") -> DataFrame:
    """Weighted shortest paths (min-plus propagation) over the
    undirected canonical graph: (surface, cost_u) = the cheapest
    ≤``rounds``-edge path cost from the nearest seed, with per-edge
    cost = SSSP_UNIT div weight — strongly-attested edges (high n_obs)
    are cheap, so the result ranks entities by evidence-weighted
    closeness to the seeds (the KG-relevance companion of the
    unweighted ``bfs_distances``). Parallel edges between a pair
    (multi-predicate) collapse to their MINIMUM cost.

    Determinism contract: the round count is FIXED in both this
    operator and the SQL twin (same discipline as ``kcore`` /
    ``pagerank_fixedpoint``) — after Bellman-Ford convergence
    (rounds ≥ graph diameter in edges) extra rounds are no-ops, and
    before it both engines compute the identical ≤rounds-edge
    relaxation, so outputs match bit-for-bit either way. All costs are
    exact integers (integer division, integer sums): no float-sum
    ordering hazard.

    Shape per round: the ``_min_plus`` step (one join of the V-row
    distance table to the adjacency + one min-combined agg); the
    weighted adjacency operand is materialized once and reused every
    round."""
    if not seeds:
        raise ValueError("sssp: empty seed list")
    if rounds < 1:
        raise ValueError("sssp: rounds must be >= 1")
    cost = F.expr(f"{SSSP_UNIT} div {weight}")
    uw = (
        edges.select(
            F.least(src, dst).alias("va"), F.greatest(src, dst).alias("vb"),
            cost.cast("bigint").alias("cost"),
        )
        .where(F.col("va") != F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.min("cost").alias("cost"))
    )
    adj = uw.unionByName(
        uw.select(
            F.col("vb").alias("va"), F.col("va").alias("vb"), "cost"
        )
    ).select(F.col("va").alias("v"), F.col("vb").alias("nbr"), "cost")
    adj = adj.localCheckpoint()
    dist = (
        edges.sparkSession.createDataFrame(
            [(s,) for s in sorted(set(seeds))], "surface string"
        )
        .withColumn("cost_u", F.lit(0).cast("bigint"))
        .localCheckpoint()
    )
    return iterate(dist, _min_plus(adj, "cost_u", F.col("cost")), rounds)


def ktruss(edges: DataFrame, k: int = 3, rounds: int = 3,
           src: str = "src_surface", dst: str = "dst_surface") -> DataFrame:
    """k-truss peel over the undirected canonical graph: run exactly
    ``rounds`` iterations of "drop every edge in fewer than k-2
    triangles", then return the surviving edges with their final
    triangle support (va, vb, support). The EDGE-density companion of
    the vertex-level ``kcore``: a KG curation filter that keeps only
    relations embedded in mutually-corroborating entity cliques
    (support counts are exactly the co-attestation evidence).

    Determinism contract: fixed rounds in BOTH engines (the SQL twin
    unrolls the identical recurrence; extra rounds after convergence
    are no-ops), exact integer supports — same discipline as kcore /
    sssp / pagerank_fixedpoint.

    Shape per round: one compact-forward triangle enumeration (two
    equi-joins over the oriented edge set — the standard O(E^1.5)
    triangle pass, AQE splitting hot middle vertices) + one per-edge
    support aggregate (each triangle charges its three edges via one
    explode, map-side combined) + one semi-join filter."""
    if k < 3:
        raise ValueError("ktruss: k must be >= 3")

    und = undirected_edges(edges, src, dst).localCheckpoint()

    def support(e: DataFrame) -> DataFrame:
        ab = e.select(F.col("va").alias("a"), F.col("vb").alias("b"))
        bc = e.select(F.col("va").alias("b"), F.col("vb").alias("c"))
        ac = e.select(F.col("va").alias("a"), F.col("vb").alias("c"))
        tri = ab.join(bc, "b").join(ac, ["a", "c"])
        charged = tri.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("va"), F.col("b").alias("vb")),
                    F.struct(F.col("b").alias("va"), F.col("c").alias("vb")),
                    F.struct(F.col("a").alias("va"), F.col("c").alias("vb")),
                )
            ).alias("e")
        ).select("e.va", "e.vb")
        return charged.groupBy("va", "vb").agg(
            F.count(F.lit(1)).cast("bigint").alias("support")
        )

    def peel(e: DataFrame) -> DataFrame:
        keep = support(e).where(F.col("support") >= k - 2).select("va", "vb")
        return e.join(keep, ["va", "vb"], "left_semi")

    und = iterate(und, peel, rounds)
    # LEFT join + coalesce: an edge can pass the last round's filter
    # (support >= k-2 in the round INPUT) yet end with zero triangles
    # in the final edge set once its co-members peel — it is still a
    # survivor of the fixed-round recurrence and must be reported with
    # support 0, not silently dropped (review finding; peel-cascade
    # regression in test_ktruss_zero_support_survivor).
    return (
        und.join(support(und), ["va", "vb"], "left")
        .select(
            "va", "vb",
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
        )
    )


LPA_ROUNDS = 4  # fixed synchronous label-propagation rounds


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS,
                      src: str = "src_surface",
                      dst: str = "dst_surface") -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected canonical graph: (surface, community). Init label(v) = v;
    each round every vertex adopts the MOST FREQUENT label among its
    neighbors, ties broken by MINIMUM label — the deterministic LPA
    variant (Raghavan et al. 2007 semi-synchronous LPA with the random
    tie-break replaced by min-label so both engines agree bit-for-bit).
    The KG-curation lens kcore/ktruss don't give: which entities form a
    densely self-referential cluster (topic/boilerplate communities),
    regardless of their absolute degree.

    Determinism contract: the round count is FIXED in both this
    operator and the SQL twin (same discipline as kcore / sssp /
    pagerank_fixedpoint) — synchronous LPA can 2-cycle on bipartite
    structures, and fixed rounds make the output well-defined and
    engine-independent either way. Exact integer counts, lexicographic
    ties: no float, no randomness.

    Shape per round: one equi-join of the V-row label table to the
    adjacency on the vertex key (AQE splits hot vertices) + one
    map-side-combined (v, label) count + one per-VERTEX window
    row_number (partitioned by v — never a global sort); the adjacency
    operand is materialized once and reused every round. Every vertex
    of the edge table has >= 1 neighbor, so no vertex ever drops
    out."""
    if rounds < 1:
        raise ValueError("label_propagation: rounds must be >= 1")
    adj = _adjacency(edges, src, dst).localCheckpoint()
    labels = (
        adj.select("v").distinct().withColumn("label", F.col("v")).localCheckpoint()
    )
    w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("label"))

    def adopt(labels: DataFrame) -> DataFrame:
        cnt = (
            adj.join(
                labels.select(F.col("v").alias("nbr"), "label"), "nbr"
            )
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            cnt.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("v", "label")
        )

    labels = iterate(labels, adopt, rounds)
    return labels.select(F.col("v").alias("surface"), F.col("label").alias("community"))


def clustering_coefficients(edges: DataFrame, src: str = "src_surface",
                            dst: str = "dst_surface") -> DataFrame:
    """Local clustering coefficient per vertex (deg >= 2 only):
    (surface, n_tri, deg, cc_u6) with cc_u6 = the standard
    2*tri/(deg*(deg-1)) in integer 1e-6 units (integer division —
    order-independent, hash-oracle-able). The how-clique-like-is-this-
    entity's-neighborhood diagnostic: canonical entities with high
    degree but near-zero clustering are hub/boilerplate suspects.

    Shape: one compact-forward triangle pass (each triangle charges
    its three vertices via one explode), one degree aggregate over the
    distinct undirected adjacency, one join — all map-side
    combinable."""
    und = undirected_edges(edges, src, dst)
    tri_v = (
        triangles(edges, src, dst)
        .select(F.explode(F.array("va", "vb", "vc")).alias("surface"))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    deg = (
        und.select(F.col("va").alias("surface"))
        .unionByName(und.select(F.col("vb").alias("surface")))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri_v, "surface", "left")
        .select(
            "surface",
            F.coalesce("n_tri", F.lit(0)).cast("bigint").alias("n_tri"),
            "deg",
            F.expr(
                f"CAST({JACCARD_UNIT} * 2 * coalesce(n_tri, 0)"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_u6"),
        )
    )


def random_walks(edges: DataFrame, walk_len: int = 8,
                 src: str = "src_surface", dst: str = "dst_surface") -> DataFrame:
    """Deterministic DeepWalk corpus generation (Perozzi et al. 2014):
    one walk of ``walk_len`` steps from EVERY vertex of the undirected
    canonical graph, returning (start, step, surface) rows — the
    random-walk "sentences" a skip-gram graph-embedding trainer
    consumes. The reference materializes the triple/edge tables only;
    walk-corpus generation is the immediate next stage of any
    KG-embedding pipeline over them.

    Determinism (the property that makes this hash-oracle-able AND
    restart-idempotent at scale): the step-t transition from node u on
    the walk started at s picks neighbor index
    md5_48("s|t|u") mod deg(u) into the NEIGHBOR LIST SORTED BY
    SURFACE — a hash-seeded choice, not an RNG, so both engines (and
    any re-run after a failure) derive the identical corpus. Hash
    quality stands in for uniformity exactly as in kg_edge_negatives
    (same 48-bit md5-prefix family, same documented modulo bias).

    Shape: the adjacency is aggregated ONCE into per-node sorted
    neighbor arrays (one shuffle; rank assignment needs no window — the
    array IS the rank order), then each of the walk_len rounds is one
    equi-join of the V-row walk table (start, cur, walk-so-far array;
    step t = the array's length) against the V-row adjacency +
    element_at: L joins of V rows total, never an E-row per-step
    filter. Hub vertices make wide arrays (data skew, not compute
    skew); at true web scale the standard move is capping the stored
    neighbor list per node (uniform hash-sample of the adjacency),
    which changes the walk distribution the same bounded way the LSH
    bucket cap changes recall — documented, not silent."""
    adj = (
        _adjacency(edges, src, dst)
        .groupBy(F.col("v").alias("node"))
        .agg(F.array_sort(F.collect_set("nbr")).alias("nbrs"))
        .localCheckpoint()
    )

    def hop(w: DataFrame) -> DataFrame:
        key = F.concat_ws("|", "start", F.size("walk").cast("string"), "cur")
        pick = (
            F.conv(F.substring(F.md5(key), 1, 12), 16, 10).cast("long")
            % F.size("nbrs")
        ).cast("int")
        return (
            w.join(adj, w.cur == adj.node)
            .select("start", "walk", F.element_at("nbrs", pick + 1).alias("cur"))
            .withColumn("walk", F.concat("walk", F.array("cur")))
        )

    start = adj.select(F.col("node").alias("start"), F.col("node").alias("cur"),
                       F.array("node").alias("walk"))

    return iterate(start, hop, walk_len).select(
        "start", F.posexplode("walk").alias("step", "surface")
    ).select("start", F.col("step").cast("bigint"), "surface")


_BATCH_STEPS = 3  # scc: propagation pushes fused per checkpoint/count


def scc(edges: DataFrame, src: str = "src_surface", dst: str = "dst_surface",
        max_outer: int = 20, max_iter: int = 40) -> DataFrame:
    """Strongly connected components of the DIRECTED canonical graph:
    (surface, scc_id, scc_size) with scc_id = min surface of the
    component (deterministic). The directed counterpart of
    ``components``: a KG cycle (a SCC with >1 vertex) is a mutual-
    assertion cluster — "A part_of B" and "B part_of A" extracted from
    different turns — and SCC condensation is the standard pass that
    exposes them before any DAG-shaped downstream consumer (taxonomy
    induction, topological ordering, cycle-safe transitive rollups).

    Algorithm: iterative forward-max coloring + backward collection
    (Orzan 2004 / the FB-coloring family — the label-propagation SCC
    used by distributed graph systems; no pivot randomness, so the
    output is engine-independent):

    1. color c(v) = MAX vertex id that reaches v (forward max-label
       propagation to fixpoint — same shape as components' min-label
       loop but along edge direction);
    2. roots are vertices with c(v) == v; for a root r,
       SCC(r) = {v : c(v) == r and v reaches r}, and any v→r path
       stays inside the color class (if u is on it, r reaches u via v's
       witness and u reaches r, so c(u) == r) — so the collection step
       is a backward reachability restricted to same-color endpoints;
    3. peel the collected SCCs off and repeat on the remainder.

    Every step is an equi-join + map-side-combinable agg over (V + E)
    rows, and each of the three loops is an ``iterate``: the coloring
    and collection fixpoints (exact changed-row / growth counts as
    convergence tests) nested inside the peel loop (state: remaining
    vertices, remaining edges, collected SCCs). ``_BATCH_STEPS``
    propagation pushes are fused per round, so the blocking-action
    count (the dominant cost of a driver loop on small graphs) is
    diameter/3, not diameter — no change across a whole batch still
    implies fixpoint (propagation is monotone). ``max_iter`` bounds the
    BATCHED rounds per inner fixpoint (i.e. a diameter of max_iter *
    _BATCH_STEPS); ``max_outer`` bounds the peeling depth (worst case:
    a path graph numbered against the max order peels one SCC per
    round — real KGs peel in a handful). Self-loops are dropped (a
    self-loop never merges vertices); vertices that appear ONLY in
    self-loops are absent, as in ``components``."""
    e0 = _arcs(edges, src, dst).localCheckpoint()
    verts = _vertex_set(e0, "s", "d", "v").localCheckpoint()

    def peel(state: tuple[DataFrame, DataFrame, DataFrame]):
        verts, e, done = state

        def push_color(color: DataFrame) -> DataFrame:
            for _ in range(_BATCH_STEPS):
                pushed = (
                    color.join(e, color.v == e.s)
                    .select(F.col("d").alias("v"), "c")
                )
                color = (
                    color.unionByName(pushed)
                    .groupBy("v")
                    .agg(F.max("c").alias("c"))
                )
            return color

        # -- 1. forward max-label coloring to fixpoint ----------------
        color = iterate(verts.withColumn("c", F.col("v")), push_color,
                        max_iter, no_change("v", "c"), name="scc coloring")

        def collect(asg: DataFrame) -> DataFrame:
            for _ in range(_BATCH_STEPS):
                cand = (
                    e.join(asg.select(F.col("v").alias("d"), "scc_id"), "d")
                    .select(F.col("s").alias("v"), "scc_id")
                    .distinct()
                )
                asg = (
                    asg.unionByName(
                        cand.join(color, "v")
                        .where(F.col("scc_id") == F.col("c"))
                        .select("v", "scc_id")
                    )
                    .distinct()
                )
            return asg

        # -- 2. backward collection within color classes --------------
        roots = color.where(F.col("c") == F.col("v")).select(
            "v", F.col("c").alias("scc_id")
        )
        asg = iterate(roots, collect, max_iter, steady(lambda a: a.count()),
                      name="scc collection")
        # -- 3. peel ---------------------------------------------------
        return (
            verts.join(asg, "v", "left_anti"),
            e.join(asg.select(F.col("v").alias("s")), "s", "left_anti")
            .join(asg.select(F.col("v").alias("d")), "d", "left_anti")
            .select("s", "d"),
            done.unionByName(asg),
        )

    # the graph may empty on the LAST peel: the test runs after a round
    _, _, done = iterate(
        (verts, e0, verts.select("v", F.col("v").alias("scc_id")).limit(0)),
        peel, max_outer, lambda _old, new: new[0].limit(1).count() == 0,
        name="scc peeling",
    )
    # scc_id = MAX of the component so far (coloring is max-based);
    # re-key to the MIN member for the components-convention id, and
    # attach sizes with a map-side-combined agg + equi-join (never a
    # window over a global sort).
    rekey = done.groupBy("scc_id").agg(
        F.min("v").alias("min_id"), F.count(F.lit(1)).alias("scc_size")
    )
    return (
        done.join(rekey, "scc_id")
        .select(
            F.col("v").alias("surface"),
            F.col("min_id").alias("scc_id"),
            "scc_size",
        )
    )


def condensation(edges: DataFrame, src: str = "src_surface",
                 dst: str = "dst_surface", **scc_kwargs) -> DataFrame:
    """Condensation DAG of the directed canonical graph: one row
    (src_scc, dst_scc, n_edges) per ordered pair of DISTINCT strongly
    connected components with at least one edge between them, n_edges
    = count of distinct (src, dst) vertex pairs crossing. This is the
    cycle-free graph every DAG-shaped consumer actually runs on
    (taxonomy induction, topological ordering, transitive rollups) —
    ``scc`` finds the mutual-assertion clusters, this collapses them.

    Shape: the scc map (V rows) joined to the distinct edge set twice
    on the vertex keys + one map-side-combined count — the map is the
    small side at KG scale (broadcast- or co-partition-able); the edge
    table never self-joins. Acyclicity of the output is a theorem of
    SCC-ness, and is asserted in tests rather than re-checked at
    runtime."""
    m = scc(edges, src=src, dst=dst, **scc_kwargs).select("surface", "scc_id")
    e = _arcs(edges, src, dst)
    return (
        e.join(m.select(F.col("surface").alias("s"),
                        F.col("scc_id").alias("src_scc")), "s")
        .join(m.select(F.col("surface").alias("d"),
                       F.col("scc_id").alias("dst_scc")), "d")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .groupBy("src_scc", "dst_scc")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


SKIPGRAM_C = 2  # skip-gram context window over walk steps


def walk_skipgram_pairs(walks: DataFrame, c: int = SKIPGRAM_C) -> DataFrame:
    """Skip-gram training pairs from the deterministic walk corpus:
    (center, context, n) counts over all (i, j) step pairs with
    0 < |i - j| <= c within each walk — the co-occurrence table a
    KG-embedding trainer (DeepWalk/node2vec downstream) consumes
    directly, completing random_walks' pipeline stage.

    Shape: one self-equi-join of the walk table on the walk key
    (start) with the |step-diff| residual filter — each walk is
    walk_len+1 rows, so the join fans out a constant (walk_len+1)^2
    per walk before the filter, independent of graph size — then one
    map-side-combined count. No window, no explode."""
    if c < 1:
        raise ValueError("walk_skipgram_pairs: c must be >= 1")
    a = walks.select(F.col("start").alias("s"), F.col("step").alias("i"),
                     F.col("surface").alias("center"))
    b = walks.select(F.col("start").alias("s"), F.col("step").alias("j"),
                     F.col("surface").alias("context"))
    return (
        a.join(b, "s")
        .where((F.col("j") >= F.col("i") - c) & (F.col("j") <= F.col("i") + c)
               & (F.col("j") != F.col("i")))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def motif_census(edges: DataFrame, src: str = "src_surface",
                 dst: str = "dst_surface") -> DataFrame:
    """Directed triad motifs over the canonical digraph, instance
    grain: (motif, va, vb, vc) for the two CLOSED connected triads —
    'cycle' (va->vb->vc->va, anchored at the minimum vertex so each
    rotation class appears once) and 'ffl' (the feed-forward loop
    va->vb->vc with shortcut va->vc; roles are unique, so each
    instance appears once naturally). The direction-aware structure
    signal triangles (undirected) can't see: in a KG, feed-forward
    abundance vs cycles separates hierarchical predicates from
    mutual-reference clusters.

    Shape: the distinct directed pair set is materialized ONCE
    (eager localCheckpoint) and drives two 2-join chains — all
    equi-joins on single vertex keys (AQE splits hot vertices), no
    nested loop; the anchoring predicates are residual filters on
    the joined row."""
    d = _arcs(edges, src, dst, "s", "t").localCheckpoint()
    ab = d.select(F.col("s").alias("a"), F.col("t").alias("b"))
    bc = d.select(F.col("s").alias("b"), F.col("t").alias("c"))
    ca = d.select(F.col("s").alias("c"), F.col("t").alias("a"))
    ac = d.select(F.col("s").alias("a"), F.col("t").alias("c"))
    cyc = (
        ab.join(bc, "b").join(ca, ["c", "a"])
        .where((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
        .select(F.lit("cycle").alias("motif"),
                F.col("a").alias("va"), F.col("b").alias("vb"),
                F.col("c").alias("vc"))
    )
    ffl = (
        ab.join(bc, "b").join(ac, ["a", "c"])
        .where((F.col("a") != F.col("c")) & (F.col("a") != F.col("b"))
               & (F.col("b") != F.col("c")))
        .select(F.lit("ffl").alias("motif"),
                F.col("a").alias("va"), F.col("b").alias("vb"),
                F.col("c").alias("vc"))
    )
    return cyc.unionByName(ffl)


KATZ_UNIT = 10**12   # fixed-point walk-mass unit (1.0 == 10^12 units)
KATZ_ALPHA_DEN = 4   # attenuation alpha = 1/4 per extra hop


def katz_scores(edges: DataFrame, rounds: int = 3,
                alpha_den: int = KATZ_ALPHA_DEN,
                src: str = "src_surface",
                dst: str = "dst_surface") -> DataFrame:
    """Truncated Katz centrality over the DISTINCT directed edge set:
    (surface, katz_u) with katz_u = sum_{l=1..rounds} x_l(v), where
    x_0(v) = KATZ_UNIT and x_l(v) = (sum_{u->v} x_{l-1}(u)) div
    alpha_den — i.e. attenuated walk counts, alpha = 1/alpha_den.
    Unlike PageRank (which normalizes by out-degree, so a prolific
    extractor dilutes each assertion) Katz credits a vertex for EVERY
    attenuated walk reaching it — the influence signal for KG entities
    where being referenced by well-referenced entities matters and
    fan-out should not discount the referencing fact.

    Exactness: attenuation is integer division applied once per round
    AFTER the inflow sum, so every aggregate is a sum of exact bigints
    — order-independent, bit-identical across engines and
    partitionings (the pagerank_fixedpoint discipline; the per-round
    floor deflates each score < alpha_den ulp-units, ranking
    unaffected). alpha must satisfy alpha < 1/lambda_max for the
    untruncated series to converge; the fixed-round truncation here is
    finite for any alpha, and matches the unrolled SQL twin exactly.

    Shape: the PageRank loop (``_pr_iterate``) with the running katz
    total riding the rank frame — no extra pass."""
    verts, _, eo = _pr_operands(edges, src, dst)
    x = F.expr(f"coalesce(inflow, 0L) div {alpha_den}")
    state = verts.select(
        "surface",
        F.lit(KATZ_UNIT).cast("bigint").alias("x_u"),
        F.lit(0).cast("bigint").alias("katz_u"),
    )
    return _pr_iterate(
        eo, state, rounds, F.col("x_u"),
        x.cast("bigint").alias("x_u"),
        (F.col("katz_u") + x).cast("bigint").alias("katz_u"),
    ).select("surface", "katz_u")


STRESS_ROOTS = 4   # deterministic root sample size for the contract query
STRESS_LEVELS = 4  # fixed BFS depth (exact when >= each root's eccentricity)


def stress_scores(edges: DataFrame, n_roots: int = STRESS_ROOTS,
                  levels: int = STRESS_LEVELS,
                  src: str = "src_surface",
                  dst: str = "dst_surface") -> DataFrame:
    """Stress centrality (Shimbel 1953) via the Brandes two-pass over
    the DIRECTED canonical graph, depth-truncated at ``levels``:
    (surface, stress_u) where stress_u = the number of shortest paths
    (of length <= levels, from the sampled root set) passing THROUGH
    the vertex. This is the betweenness-family signal in a form whose
    arithmetic is ENTIRELY integer: betweenness proper accumulates
    sigma-ratio rationals (cross-engine float hazard), while stress
    factorizes as sigma_r(v) * phi_r(v) with
      sigma_r(v) = # shortest r->v paths   (forward BFS level sums)
      phi_r(v)   = # shortest-path-DAG paths from v to ANY descendant
                   = sum over DAG successors w of (1 + phi_r(w))
    — both exact bigint recurrences, so the unrolled SQL twin matches
    at hash level. Root rows are excluded from the final sum (paths
    are counted through interior vertices only, per the standard
    endpoint convention).

    Roots: the n_roots lexicographically-smallest vertices — a
    deterministic, engine-independent sample (the Brandes-Pich pivot
    estimator: centrality from a sampled root set; at fleet scale the
    sample would be hash-min-k, same determinism, and the root-keyed
    state makes sample size a linear cost knob as in closeness).

    Shape: forward = MS-BFS batched per level (all roots advance in
    the same equi-join + map-side-combined sigma sum; the new level
    anti-joins the visited set); backward = per level one equi-join
    to the next level's phi + one sum. Both sweeps are ``iterate``
    loops over one growing (root, surface, sigma, level[, phi]) frame;
    state is O(levels * reached), bounded by the root sample."""
    e = _arcs(edges, src, dst, "s", "t").localCheckpoint()
    verts = _vertex_set(e, "s", "t").localCheckpoint()
    roots = verts.orderBy("surface").limit(n_roots)
    depth = itertools.count()

    def forward(fwd: DataFrame) -> DataFrame:
        lvl = next(depth)
        cur = fwd.where(F.col("level") == lvl)
        nxt = (
            cur.join(e, cur.surface == e.s)
            .select("root", F.col("t").alias("surface"), "sigma")
            .groupBy("root", "surface")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(fwd.select("root", "surface"), ["root", "surface"], "left_anti")
        )
        return fwd.unionByName(nxt.withColumn("level", F.lit(lvl + 1)))

    fwd = iterate(
        roots.select(
            F.col("surface").alias("root"),
            "surface",
            F.lit(1).cast("bigint").alias("sigma"),
            F.lit(0).alias("level"),
        ).localCheckpoint(),
        forward, levels,
    )
    # backward: phi over the shortest-path DAG, deepest level first
    sweep = iter(range(levels - 1, -1, -1))

    def backward(allp: DataFrame) -> DataFrame:
        lvl = next(sweep)
        cur = fwd.where(F.col("level") == lvl)
        nxt = allp.where(F.col("level") == lvl + 1).select(
            F.col("root").alias("nroot"),
            F.col("surface").alias("nsurface"),
            F.col("phi").alias("nphi"),
        )
        # (root, surface) -> sum over DAG successors of (1 + phi):
        # successor = edge surface->t with (root, t) in the next level
        # (equi-join on the (root, t) composite key)
        contrib = (
            cur.select("root", "surface")
            .join(e, F.col("surface") == e.s)
            .join(
                nxt,
                (F.col("root") == F.col("nroot"))
                & (F.col("t") == F.col("nsurface")),
            )
            .groupBy("root", "surface")
            .agg(F.sum(F.lit(1) + F.col("nphi")).cast("bigint").alias("phi"))
        )
        return allp.unionByName(
            cur.join(contrib, ["root", "surface"], "left").select(
                "root", "surface", "sigma", "level",
                F.coalesce(F.col("phi"), F.lit(0)).cast("bigint").alias("phi"),
            )
        )

    allp = iterate(
        fwd.where(F.col("level") == levels)
        .withColumn("phi", F.lit(0).cast("bigint")),
        backward, levels,
    )
    stress = (
        allp.where(F.col("surface") != F.col("root"))
        .groupBy("surface")
        .agg(F.sum(F.col("sigma") * F.col("phi")).cast("bigint").alias("stress"))
    )
    return verts.join(stress, "surface", "left").select(
        "surface",
        F.coalesce(F.col("stress"), F.lit(0)).cast("bigint").alias("stress_u"),
    )


def degree_correlation(edges: DataFrame, src: str = "src_surface",
                       dst: str = "dst_surface",
                       weight: str = "n_obs") -> DataFrame:
    """Joint degree distribution (src out-degree x dst in-degree,
    Newman-2002 assortativity signal) as an exact-integer histogram:
    (src_out_deg, dst_in_deg, n_edges, sum_obs). The |V|-row degree
    table equi-joins the edges twice on the vertex key, then one
    map-side-combined aggregate over the (deg, deg) support."""
    deg = degrees(edges, src=src, dst=dst, weight=weight).select(
        "surface", "out_deg", "in_deg"
    )
    return (
        edges.join(
            deg.select(
                F.col("surface").alias(src),
                F.col("out_deg").alias("src_out_deg"),
            ),
            src,
        )
        .join(
            deg.select(
                F.col("surface").alias(dst),
                F.col("in_deg").alias("dst_in_deg"),
            ),
            dst,
        )
        .groupBy("src_out_deg", "dst_in_deg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum(weight).cast("bigint").alias("sum_obs"),
        )
    )


def coreness(edges: DataFrame, rounds: int = 6,
             src: str = "src_surface", dst: str = "dst_surface") -> DataFrame:
    """Full core decomposition via the h-index operator (Lu et al. 2016,
    "The H-index of a network node and its relation to degree and
    coreness", Nature Communications): c_0(v) = deg(v), c_{t+1}(v) =
    H({c_t(u) : u in N(v)}), which converges monotonically DOWN to the
    exact coreness (the max k such that v survives the k-core peel).
    Unlike ``kcore`` — one fixed k, survivors only — this returns
    (surface, coreness) for EVERY vertex: the per-entity density rank
    that prioritizes which mentions to canonicalize first and which
    subgraph tiers to materialize.

    Determinism contract: exactly ``rounds`` h-operator sweeps in both
    this operator and the SQL twin (the kcore/sssp discipline) — the
    recurrence is a pure function of the graph, so fixed rounds match
    bit-for-bit, converged or not (iterates are non-increasing and
    freeze at the answer; real web KGs settle in a handful of sweeps).

    Shape per round: one adjacency equi-join carrying the |E|-sized
    (v, c_nbr) frame, one per-vertex window (partitionBy v — shuffles
    on the vertex key, never a global sort: h = max(min(rank, c)) over
    neighbors ranked by c desc), one map-side-combined max agg. Skewed
    hubs are one key each —
    AQE splits the straggler partition; the window state per key is
    the neighbor list it would take to compute any order statistic."""
    adj = _adjacency(edges, src, dst).localCheckpoint()
    c = adj.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w = Window.partitionBy("v").orderBy(F.desc("cn"), F.asc("nbr"))

    def h_index(c: DataFrame) -> DataFrame:
        j = (
            adj.join(c.select(F.col("v").alias("nbr"), F.col("c").alias("cn")), "nbr")
            .withColumn("rk", F.row_number().over(w))
        )
        return j.groupBy("v").agg(
            F.max(F.least(F.col("rk").cast("bigint"), F.col("cn"))).alias("c")
        )

    c = iterate(c, h_index, rounds)
    return c.select(F.col("v").alias("surface"), F.col("c").cast("bigint").alias("coreness"))
