"""Entity canonicalization (connected components) + graph materialize."""

import re

from pyspark.sql import functions as F

from denrl_spark.operators.graph import materialize_graph
from denrl_spark.operators.linking import connected_components, mention_surfaces, norm_map
from denrl_spark.operators.spans import assemble_triples
from denrl_spark.operators.tagging import build_instances
from denrl_spark.plans import docs_kg
from denrl_spark.sources.corpus import transcripts
from denrl_spark.sources.kb import KB

KBD = KB.default()


def test_connected_components_chain_and_star(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 11)], "node_id long")
    # chain 1-2-3-4-5, star 6<-7,8,9; 10 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (7, 6), (8, 6), (9, 6)], "src long, dst long"
    )
    comp = {r["node_id"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert {comp[i] for i in (6, 7, 8, 9)} == {6}
    assert comp[10] == 10


def test_canonicalize_merges_case_and_punct_variants(spark):
    trips = spark.createDataFrame(
        [
            (1, "Alice Johnson", "PERSON", "new york", "/p/lived"),
            (2, "alice  johnson", "PERSON", "New-York", "/p/lived"),
            (3, "alice johnson!", "PERSON", "paris", "/p/lived"),
        ],
        "sent_id long, ent1 string, ent1_tag string, ent2 string, ent2_tag string",
    )
    rows = norm_map(mention_surfaces(trips)).collect()
    assert sorted(r["canonical_surface"] for r in rows) == [
        "Alice Johnson", "New-York", "paris"
    ]
    assert {r["norm"] for r in rows} == {"alice johnson", "new york", "paris"}
    assert len({r["canonical_id"] for r in rows}) == 3


def test_materialize_graph_end_to_end(spark):
    tr = transcripts(spark, 40, seed=42)
    ins = build_instances(tr, KBD).cache()
    trips = assemble_triples(ins).cache()
    vertices, edges = materialize_graph(trips)
    v, e = vertices.cache(), edges.cache()
    assert v.count() > 0 and e.count() > 0
    # every edge endpoint exists in vertices
    missing = (
        e.select(F.col("src_id").alias("canonical_id"))
        .unionByName(e.select(F.col("dst_id").alias("canonical_id")))
        .distinct()
        .join(v, "canonical_id", "left_anti")
        .count()
    )
    assert missing == 0
    # only '/'-relation predicates in the edge table
    assert e.where(~F.col("pred").contains("/")).count() == 0
    # n_obs aggregates duplicates
    assert e.agg(F.max("n_obs")).collect()[0][0] >= 1


def test_materialize_graph_vertices_match_oracle(spark):
    """Vertices and edges == a pure-Python oracle over a hand-built
    triple frame: a dst-only surface (types == []), a surface seen as
    src and dst, a norm group merged across casings, a null ent1 and a
    ``""`` ent2 on relation rows (both dropped: no edge, no vertex
    mention), ``!!`` and ``??`` (non-empty surfaces sharing norm ``""``:
    one merged vertex and edge), a sentence observing one edge twice
    (n_obs 2, n_sents 1), and entity-tag (non-``/``) triples that feed
    the norm map but add no vertex mention. The lazy vertices frame
    aggregates by norm before its one join to the map."""
    rows = [
        (1, "Alice", "PER", "Acme", "/per/works_at"),
        (2, "Bob", "PER", "Alice", "/per/knows"),
        (3, "acme", "ORG", "Paris", "/org/based_in"),
        (4, "Alice", "PER", "ACME", "ORG"),
        (5, "Zed", "PER", "Zed", "PER"),
        (6, "Bob", "PER", "Acme", "/per/works_at"),
        (7, None, "PER", "Paris", "/per/lived"),
        (8, "Bob", "PER", "", "/per/lived"),
        (9, "!!", "X", "??", "/x/y"),
        (10, "??", "Y", "!!", "/x/y"),
        (11, "Bob", "PER", "paris", "/per/lived"),
        (11, "bob", "PER", "Paris", "/per/lived"),
    ]
    trips = spark.createDataFrame(
        rows, "sent_id bigint, ent1 string, ent1_tag string, ent2 string, ent2_tag string"
    )

    def norm(s):
        return " ".join(re.sub(r"[^a-z0-9]+", " ", s.lower()).split())

    surfaces = {s for r in rows for s in (r[1], r[3]) if s}
    canon = {s: min(t for t in surfaces if norm(t) == norm(s)) for s in surfaces}
    exp_v, exp_e = {}, {}
    for sent, e1, t1, e2, t2 in rows:
        if "/" not in t2 or not e1 or not e2:
            continue
        for surface, etype in ((e1, t1), (e2, None)):
            types, n = exp_v.get(canon[surface], (set(), 0))
            exp_v[canon[surface]] = (types | ({etype} - {None}), n + 1)
        exp_e.setdefault((canon[e1], t2, canon[e2]), []).append(sent)
    exp_v = {c: (sorted(types), n) for c, (types, n) in exp_v.items()}
    exp_e = {k: (len(s), len(set(s)), min(s), max(s)) for k, s in exp_e.items()}
    assert exp_v["Paris"] == ([], 3) and exp_v["Alice"] == (["PER"], 2)
    assert exp_v["ACME"] == (["ORG"], 3) and exp_v["Bob"] == (["PER"], 4)
    assert exp_v["!!"] == (["X", "Y"], 4) and "Zed" not in exp_v
    assert exp_e[("Bob", "/per/lived", "Paris")] == (2, 1, 11, 11)
    assert exp_e[("!!", "/x/y", "!!")] == (2, 2, 9, 10)

    vertices, edges = materialize_graph(trips)
    got = vertices.collect()
    assert {
        r["canonical_surface"]: (sorted(r["types"]), r["n_mentions"]) for r in got
    } == exp_v
    assert len({r["canonical_id"] for r in got}) == len(got)
    got_e = edges.collect()
    assert {
        (r["src_surface"], r["pred"], r["dst_surface"]):
        (r["n_obs"], r["n_sents"], r["first_sent_id"], r["last_sent_id"])
        for r in got_e
    } == exp_e
    ids = {r["canonical_surface"]: r["canonical_id"] for r in got}
    assert all(
        (r["src_id"], r["dst_id"]) == (ids[r["src_surface"]], ids[r["dst_surface"]])
        for r in got_e
    )
    plan = vertices._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bJoin ", plan)) == 1, plan


def test_materialize_graph_no_unbounded_broadcast(spark):
    """With broadcast joins disabled entirely, materialize_graph must
    still plan and run (shuffle join): the norm map is 10^8+ rows at
    corpus scale, so the operator may not REQUIRE a broadcast. The
    explicit-hint-free join lets AQE choose broadcast when small."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        tr = transcripts(spark, 30, seed=7)
        trips = assemble_triples(build_instances(tr, KBD)).cache()
        _, edges = materialize_graph(trips)
        assert edges.count() > 0
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is None:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)


def test_materialize_graph_normalizes_once_per_row(spark):
    """normalize_surface is one regexp_replace and a non-nullable key, so
    the joins on it infer no isnotnull filter that re-evaluates the
    regex: the optimized vertex plan normalizes twice (the map's group
    key and the vertex aggregate's), the edge plan four times (map
    twice, one per endpoint join, and each endpoint of the aggregate).
    The rows are those of a hand-computed graph: punctuation and case
    variants merge, a punctuation-only surface is a vertex of norm ""
    and an entity-tagged row is no edge."""
    trips = spark.createDataFrame(
        [
            (1, "Acme Corp.", "ORG", "acme  corp", "/org/alias"),
            (2, "Bob", "PER", "Acme Corp.", "/per/works_at"),
            (3, "bob", "PER", "!!", "/per/x"),
            (4, "Bob", "PER", "", "O"),
        ],
        "sent_id long, ent1 string, ent1_tag string, ent2 string, ent2_tag string",
    )
    vertices, edges = materialize_graph(trips)
    for df, n in ((vertices, 2), (edges, 4)):
        plan = str(df._jdf.queryExecution().optimizedPlan())
        assert plan.count("regexp_replace(") == n, plan
    got_v = {
        (r["canonical_surface"], tuple(sorted(r["types"])), r["n_mentions"])
        for r in vertices.collect()
    }
    assert got_v == {("Acme Corp.", ("ORG",), 3), ("Bob", ("PER",), 2), ("!!", (), 1)}
    got_e = {
        (r["src_surface"], r["pred"], r["dst_surface"], r["n_obs"])
        for r in edges.collect()
    }
    assert got_e == {
        ("Acme Corp.", "/org/alias", "Acme Corp.", 1),
        ("Bob", "/per/works_at", "Acme Corp.", 1),
        ("Bob", "/per/x", "!!", 1),
    }


def test_tool_edges(spark):
    """Tool turns' entity touches aggregate into (tool, pred, surface)
    edges; Python-recomputed oracle over the same corpus."""
    from denrl_spark.operators.graph import R_TOOL_TOUCHES, tool_edges

    tr = transcripts(spark, 40, seed=42).cache()
    got = {
        (r["tool"], r["surface"]): (r["n_obs"], r["n_convs"], r["pred"], r["etype"])
        for r in tool_edges(tr, KBD).collect()
    }
    # independent recomputation
    expect = {}
    convs = {}
    for row in tr.where("tool is not null").collect():
        toks = row["text"].split(" ")
        grams = toks + [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        for g in grams:
            if g in KBD.entity_type:
                k = (row["tool"], g)
                expect[k] = expect.get(k, 0) + 1
                convs.setdefault(k, set()).add(row["conv_id"])
    assert len(got) == len(expect) > 0
    for k, n in expect.items():
        n_obs, n_convs, pred, etype = got[k]
        assert (n_obs, n_convs) == (n, len(convs[k])), k
        assert pred == R_TOOL_TOUCHES and etype == KBD.entity_type[k[1]]


def test_tool_edges_derives_ngram_cap_from_kb(spark):
    """A 3-token KB surface is matched — the n-gram explode derives its
    cap from the longest surface instead of a fixed 1/2-gram window."""
    from denrl_spark.operators.graph import tool_edges
    from denrl_spark.sources.kb import KB

    kb3 = KB({"new york city": "LOC", "york": "LOC"}, frozenset(), {})
    tr = spark.createDataFrame(
        [
            ("c1", "maps", "visit new york city today"),
            ("c2", "maps", "new york city new york city"),
            ("c3", "search", "york alone"),
        ],
        "conv_id string, tool string, text string",
    )
    got = {
        (r["tool"], r["surface"]): (r["n_obs"], r["n_convs"])
        for r in tool_edges(tr, kb3).collect()
    }
    assert got == {
        ("maps", "new york city"): (3, 2),  # 1 in c1 + 2 in c2
        ("maps", "york"): (3, 2),
        ("search", "york"): (1, 1),
    }


def test_link_observations_and_type_profile_match_oracle(spark):
    """docs_kg's linking rule on a hand-built doc-keyed frame ==
    a pure-Python oracle (canonical surface = min surface per norm):
    case variants merge, ``!!``/``??`` are one group of norm ``""``, a
    null ent1 and a ``""`` ent2 on relation rows link to nothing, and a
    ``""`` ent1 placeholder row (the pred path's) adds no mention to
    the ``!!`` group's type profile. The lazy linked plan joins the map
    twice, once per endpoint."""
    rows = [
        (1, "Alice", "PER", "Acme", "/per/works_at"),
        (2, "alice", "PER", "ACME", "/per/works_at"),
        (3, "Bob", "PER", "alice", "/per/knows"),
        (4, "!!", "X", "??", "/x/y"),
        (5, "??", "Y", "!!", "/x/y"),
        (6, None, "PER", "Acme", "/per/works_at"),
        (7, "Bob", "PER", "", "/per/lived"),
        (8, "", "O", "", "O"),
        (8, "", "O", "??", "O"),
        (9, "acme", "ORG", "Bob", "ORG"),
    ]
    trips = spark.createDataFrame(
        rows, "doc_id bigint, ent1 string, ent1_tag string, ent2 string, ent2_tag string"
    )

    def norm(s):
        return " ".join(re.sub(r"[^a-z0-9]+", " ", s.lower()).split())

    surfaces = {s for r in rows for s in (r[1], r[3]) if s}
    canon = {s: min(t for t in surfaces if norm(t) == norm(s)) for s in surfaces}
    exp_link = sorted(
        (doc, canon[e1], t2, canon[e2],
         docs_kg.TS_EPOCH_BASE + doc * docs_kg.TS_SPACING_S)
        for doc, e1, _, e2, t2 in rows
        if "/" in t2 and e1 and e2
    )
    by_type: dict[str, dict[str, int]] = {}
    for _, e1, t1, _, _ in rows:
        if e1:
            n = by_type.setdefault(canon[e1], {})
            n[t1] = n.get(t1, 0) + 1
    exp_prof = {}
    for c, n in by_type.items():
        top = min(n, key=lambda t: (-n[t], t))
        exp_prof[c] = (sum(n.values()), len(n), top, n[top])
    assert canon["??"] == "!!" and canon["alice"] == "Alice"
    assert exp_prof["!!"] == (2, 2, "X", 1)
    assert exp_prof["ACME"] == (1, 1, "ORG", 1)
    assert len(exp_link) == 5

    cmap = norm_map(mention_surfaces(trips))
    linked = docs_kg._link_observations(trips, cmap)
    got_link = sorted(
        (r["doc_id"], r["src_surface"], r["ent2_tag"], r["dst_surface"], r["ts"])
        for r in linked.collect()
    )
    assert got_link == exp_link
    plan = linked._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bJoin ", plan)) == 2, plan
    got_prof = {
        r["surface"]: (r["n_mentions"], r["n_types"], r["top_type"], r["top_n"])
        for r in docs_kg._type_profile(trips, cmap).collect()
    }
    assert got_prof == exp_prof
