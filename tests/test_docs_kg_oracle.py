"""Hash-level oracle tests for the flagship extraction path.

The driver's DuckDB check compares (row count, schema, sorted value
hash); this test replicates that comparison locally for the doc-keyed
gold-triple / graph queries (docs_kg.gold_triples_by_doc family), so
the full fused pipeline (tagging -> fold -> span grouping -> assembly,
reference run_jointmodel.py:845-933) is verified against an independent
ANSI-SQL derivation, not just against transcribed Python kernels.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from denrl_spark.plans import docs_kg

SF_DIR = "/root/testdata/sf0.001"


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    return con


@pytest.mark.parametrize(
    "fn,sql",
    [
        (docs_kg.gold_triples_by_doc, docs_kg.gold_triples_by_doc_sql()),
        (docs_kg.pred_triples_numeric_by_doc, docs_kg.gold_triples_by_doc_sql()),
        (docs_kg.edges_by_doc, docs_kg.edges_by_doc_sql()),
        (docs_kg.vertices_by_doc, docs_kg.vertices_by_doc_sql()),
        (docs_kg.tool_edges_docs, docs_kg.tool_edges_sql()),
    ],
    ids=["gold_triples", "pred_triples_numeric", "edges", "vertices",
         "tool_edges"],
)
def test_by_doc_queries_match_duckdb(spark, duck, fn, sql):
    sdf = _normalize(fn(spark, SF_DIR).toPandas())
    odf = _normalize(duck.execute(sql).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(sdf, odf)


def test_transcripts_tool_turn_synthesis(spark):
    """tools=True marks exactly the turn_idx == 3 rows as tool calls,
    names keyed by doc_id % 3 in TOOL_NAMES order; tools=False (the
    default, used by every other consumer) stays all-NULL."""
    tr = docs_kg.transcripts_from_documents(spark, SF_DIR, tools=True)
    rows = tr.select("conv_id", "turn_idx", "tool").collect()
    for r in rows:
        doc_id = int(r.conv_id.split("-")[1]) * 4 + r.turn_idx
        want = docs_kg.TOOL_NAMES[doc_id % 3] if r.turn_idx == 3 else None
        assert r.tool == want, (doc_id, r.tool, want)
    assert any(r.tool is not None for r in rows)
    base = docs_kg.transcripts_from_documents(spark, SF_DIR)
    assert base.where(base.tool.isNotNull()).count() == 0


def test_raw_paths_match_by_doc_twins(spark):
    """The four raw engine-keyed paths (demoted from the driver contract,
    driver_queries.RAW_QUERIES) must stay value-equal to their hash-green
    *_by_doc twins, which differ only in the key (doc_id derived from
    each triple's own (conv_id, turn_idx) instead of sent_id): the
    surface multisets match exactly and the row counts are equal."""
    from denrl_spark.plans.driver_queries import RAW_QUERIES

    assert set(RAW_QUERIES) == {
        "kg_gold_triples",
        "kg_pred_triples",
        "kg_gold_triples_modular",
        "kg_edges",
    }

    def surf_multiset(df, cols):
        out = {}
        for r in df.select(*cols).collect():
            k = tuple(r)
            out[k] = out.get(k, 0) + 1
        return out

    tcols = ["ent1", "ent1_tag", "ent2", "ent2_tag"]
    by_doc = surf_multiset(docs_kg.gold_triples_by_doc(spark, SF_DIR), tcols)
    for name in ("kg_gold_triples", "kg_pred_triples", "kg_gold_triples_modular"):
        raw = RAW_QUERIES[name](spark, SF_DIR)
        assert surf_multiset(raw, tcols) == by_doc, name
        assert raw.count() == sum(by_doc.values()), name  # keying drops nothing

    ecols = ["src_surface", "pred", "dst_surface", "n_obs"]
    raw_edges = surf_multiset(RAW_QUERIES["kg_edges"](spark, SF_DIR), ecols)
    twin_edges = surf_multiset(docs_kg.edges_by_doc(spark, SF_DIR), ecols)
    assert raw_edges == twin_edges and len(raw_edges) > 0


def test_edges_by_window_consistent_with_edge_history(spark):
    """The tumbling rollup partitions the observation stream: summing a
    canonical edge's windowed counts must reproduce its total n_obs,
    and every window start must be aligned and inside the edge's
    [first_ts, last_ts] validity interval."""
    win = docs_kg.edges_by_window(spark, SF_DIR).toPandas()
    hist = docs_kg.edge_history(spark, SF_DIR).toPandas()
    key = ["src_surface", "pred", "dst_surface"]
    got = win.groupby(key)["n_obs"].sum().sort_index()
    want = hist.set_index(key)["n_obs"].sort_index()
    pd.testing.assert_series_equal(got, want, check_dtype=False)
    assert (win["win_start"] % docs_kg.EDGE_WINDOW_S == 0).all()
    bounds = win.merge(hist, on=key, suffixes=("", "_h"))
    assert (bounds["win_start"] <= bounds["last_ts"]).all()
    assert (bounds["win_start"] + docs_kg.EDGE_WINDOW_S
            > bounds["first_ts"]).all()


def test_range_join_bucketed_equals_naive(spark):
    """The bucketed range join (equi-join on (user, time-bucket) +
    residual predicate) must equal the naive non-equi formulation on
    the same input — including window edges (t_click == t_err - W in,
    t_click == t_err out)."""
    from denrl_spark.plans.driver_queries import RANGE_JOIN_W, rel_range_join

    got = {
        (r["event_id"], r["user_id"]): (r["n_clicks"], r["last_click_t"])
        for r in rel_range_join(spark, SF_DIR).collect()
    }
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["t"] = ((ev["ts"] - pd.Timestamp(0)) // pd.Timedelta(seconds=1)).astype("int64")
    want = {}
    errors = ev[ev["event_type"] == "error"]
    clicks = ev[ev["event_type"] == "click"]
    for _, e in errors.iterrows():
        c = clicks[
            (clicks["user_id"] == e["user_id"])
            & (clicks["t"] >= e["t"] - RANGE_JOIN_W)
            & (clicks["t"] < e["t"])
        ]
        if len(c):
            want[(e["event_id"], e["user_id"])] = (len(c), int(c["t"].max()))
    assert got == want


def test_edge_pmi_matches_python(spark):
    """edge_pmi vs a literal recomputation from the edge table: PMI as
    one double division of exact integer products, floor-scaled."""
    import math

    edges = docs_kg.edges_by_doc(spark, SF_DIR).toPandas()
    got = {
        (r["src_surface"], r["pred"], r["dst_surface"]): r["pmi_e4"]
        for _, r in docs_kg.edge_pmi(spark, SF_DIR).toPandas().iterrows()
    }
    total = int(edges["n_obs"].sum())
    s = edges.groupby("src_surface")["n_obs"].sum()
    d = edges.groupby("dst_surface")["n_obs"].sum()
    want = {
        (r["src_surface"], r["pred"], r["dst_surface"]): math.floor(
            10_000
            * math.log(
                (int(r["n_obs"]) * total)
                / (int(s[r["src_surface"]]) * int(d[r["dst_surface"]]))
            )
        )
        for _, r in edges.iterrows()
    }
    assert got == want and len(got) > 0
    # PMI ranks attested pairs above promiscuous-endpoint noise: at
    # least one edge scores positive (co-occurs above independence)
    assert max(got.values()) > 0


def test_triples_per_conv_accounts_for_every_triple(spark):
    """The conversation rollup partitions the gold triples: sums match
    the full table, conv grouping matches the 4-docs-per-conv rule."""
    g = docs_kg.gold_triples_by_doc(spark, SF_DIR).toPandas()
    per = docs_kg.triples_per_conv(spark, SF_DIR).toPandas()
    assert per["n_triples"].sum() == len(g)
    assert per["n_rel_triples"].sum() == g["ent2_tag"].str.contains("/").sum()
    assert (per["n_docs"] <= 4).all()
    g["conv"] = "conv-" + (g["doc_id"] // 4).astype(int).map("{:08d}".format)
    want = g.groupby("conv").size()
    got = per.set_index("conv_id")["n_triples"]
    pd.testing.assert_series_equal(
        got.sort_index(), want.sort_index(),
        check_names=False, check_dtype=False,
    )


def test_alias_map_covers_all_mentions_and_is_idempotent(spark):
    """Every gold mention resolves through the alias map; canonical
    surfaces are fixed points of the map (canonicalizing a canonical
    surface returns itself)."""
    am = docs_kg.alias_map(spark, SF_DIR).toPandas()
    g = docs_kg.gold_triples_by_doc(spark, SF_DIR).toPandas()
    mentions = (set(g["ent1"]) | set(g["ent2"])) - {""}
    assert mentions <= set(am["surface"])
    m = dict(zip(am["surface"], am["canonical_surface"]))
    assert all(m[c] == c for c in set(am["canonical_surface"]))


def test_kg_negatives_filtered_protocol(spark):
    """Corrupted-tail negatives: deterministic (content-hash choice),
    never colliding with a real edge, never a self-loop, bounded by
    NEG_SLOTS per positive."""
    edges = docs_kg.edges_by_doc(spark, SF_DIR).toPandas()
    real = set(
        zip(edges["src_surface"], edges["pred"], edges["dst_surface"])
    )
    neg = docs_kg.kg_edge_negatives(spark, SF_DIR).toPandas()
    assert 0 < len(neg) <= docs_kg.NEG_SLOTS * len(edges)
    assert not (
        set(zip(neg["src_surface"], neg["pred"], neg["dst_neg"])) & real
    )
    assert (neg["src_surface"] != neg["dst_neg"]).all()
    assert set(neg["slot"]) <= set(range(docs_kg.NEG_SLOTS))
    # corrupted tails are drawn from the vertex set
    verts = set(edges["src_surface"]) | set(edges["dst_surface"])
    assert set(neg["dst_neg"]) <= verts
    # determinism: a re-run yields the identical frame
    again = docs_kg.kg_edge_negatives(spark, SF_DIR).toPandas()
    key = ["src_surface", "pred", "dst_neg", "slot"]
    pd.testing.assert_frame_equal(
        neg.sort_values(key).reset_index(drop=True),
        again.sort_values(key).reset_index(drop=True),
    )


def test_window_churn_consistency(spark):
    """Churn rows reconcile with the windowed rollup: per-window edge
    and observation sums match, the FIRST window is all-new, and
    n_new_edges is bounded by n_edges; windows with a fully-repeated
    edge set report fewer new edges than edges."""
    w = docs_kg.edges_by_window(spark, SF_DIR).toPandas()
    churn = docs_kg.window_churn(spark, SF_DIR).toPandas().sort_values(
        "win_start"
    )
    assert len(churn) > 1  # multiple windows genuinely exercised
    per_win = w.groupby("win_start").agg(
        n_edges=("n_obs", "size"), n_obs=("n_obs", "sum")
    )
    for _, r in churn.iterrows():
        assert r["n_edges"] == per_win.loc[r["win_start"], "n_edges"]
        assert r["n_obs"] == per_win.loc[r["win_start"], "n_obs"]
        assert 0 <= r["n_new_edges"] <= r["n_edges"]
    first = churn.iloc[0]
    assert first["n_new_edges"] == first["n_edges"]  # nothing precedes it
    # python twin of the new-edge rule (absent from the PRECEDING window)
    key = ["src_surface", "pred", "dst_surface"]
    by_win = {
        ws: set(map(tuple, g[key].values))
        for ws, g in w.groupby("win_start")
    }
    for _, r in churn.iterrows():
        prev = by_win.get(r["win_start"] - docs_kg.EDGE_WINDOW_S, set())
        want_new = sum(
            1 for e in by_win[r["win_start"]] if e not in prev
        )
        assert r["n_new_edges"] == want_new


def _linked_pdf(spark):
    """Canonicalized relation rows at observation grain, as pandas —
    the Python twin prelude shared by the round-5 quality tests."""
    g = docs_kg.gold_triples_by_doc(spark, SF_DIR).toPandas()
    am = docs_kg.alias_map(spark, SF_DIR).toPandas()
    cmap = dict(zip(am["surface"], am["canonical_surface"]))
    rel = g[g["ent2_tag"].str.contains("/")].copy()
    rel["src_surface"] = rel["ent1"].map(cmap)
    rel["dst_surface"] = rel["ent2"].map(cmap)
    rel["pred"] = rel["ent2_tag"]
    return rel


def test_snapshot_asof_bounds_and_full_cutoff(spark):
    """snapshot_asof at a cutoff past the corpus end reproduces
    edge_history exactly; at the contract cutoff every row respects
    the bound and matches the Python recount."""
    far = docs_kg.TS_EPOCH_BASE + 10**9
    snap_all = docs_kg.snapshot_asof(spark, SF_DIR, cutoff_ts=far).toPandas()
    hist = docs_kg.edge_history(spark, SF_DIR).toPandas()
    key = ["src_surface", "pred", "dst_surface"]
    a = snap_all.sort_values(key).reset_index(drop=True)
    b = hist.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key + ["n_obs", "first_ts", "last_ts"]],
                                  b[key + ["n_obs", "first_ts", "last_ts"]])

    cut = docs_kg.SNAPSHOT_CUTOFF_TS
    snap = docs_kg.snapshot_asof(spark, SF_DIR).toPandas()
    assert (snap["last_ts"] <= cut).all()
    rel = _linked_pdf(spark)
    rel["ts"] = docs_kg.TS_EPOCH_BASE + rel["doc_id"] * docs_kg.TS_SPACING_S
    want = (
        rel[rel["ts"] <= cut]
        .groupby(key)
        .agg(n_obs=("ts", "size"), first_ts=("ts", "min"),
             last_ts=("ts", "max"))
        .reset_index()
    )
    got = snap.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[key + ["n_obs", "first_ts", "last_ts"]].astype(
            {"n_obs": "int64", "first_ts": "int64", "last_ts": "int64"}),
        want.astype(
            {"n_obs": "int64", "first_ts": "int64", "last_ts": "int64"}),
    )


def test_edge_conflicts_match_python(spark):
    edges = docs_kg.edges_by_doc(spark, SF_DIR).toPandas()
    got = {
        (r["src_surface"], r["pred"]):
            (r["n_dst"], r["n_obs"], r["top_dst"], r["top_n_obs"])
        for _, r in docs_kg.edge_conflicts(spark, SF_DIR).toPandas().iterrows()
    }
    want = {}
    for (s, p), grp in edges.groupby(["src_surface", "pred"]):
        if len(grp) > 1:
            top = grp.sort_values(
                ["n_obs", "dst_surface"], ascending=[False, True]
            ).iloc[0]
            want[(s, p)] = (len(grp), int(grp["n_obs"].sum()),
                            top["dst_surface"], int(top["n_obs"]))
    assert got == want and len(want) > 0


def test_edge_provenance_capped_sample_and_true_count(spark):
    rel = _linked_pdf(spark)
    key = ["src_surface", "pred", "dst_surface"]
    got = docs_kg.edge_provenance(spark, SF_DIR).toPandas()
    want = {}
    for k, grp in rel.groupby(key):
        docs = sorted(set(grp["doc_id"]))
        want[k] = (len(docs),
                   ",".join(str(d) for d in docs[:docs_kg.PROVENANCE_K]))
    assert {
        (r["src_surface"], r["pred"], r["dst_surface"]):
            (r["n_docs"], r["doc_sample"])
        for _, r in got.iterrows()
    } == want


def test_type_profile_majority_rule(spark):
    g = docs_kg.gold_triples_by_doc(spark, SF_DIR).toPandas()
    am = docs_kg.alias_map(spark, SF_DIR).toPandas()
    cmap = dict(zip(am["surface"], am["canonical_surface"]))
    g = g.copy()
    g["surface"] = g["ent1"].map(cmap)
    got = {
        r["surface"]: (r["n_mentions"], r["n_types"],
                       r["top_type"], r["top_n"])
        for _, r in
        docs_kg.entity_type_profile(spark, SF_DIR).toPandas().iterrows()
    }
    want = {}
    for s, grp in g.groupby("surface"):
        counts = grp.groupby("ent1_tag").size().reset_index(name="n")
        top = counts.sort_values(["n", "ent1_tag"],
                                 ascending=[False, True]).iloc[0]
        want[s] = (len(grp), len(counts), top["ent1_tag"], int(top["n"]))
    assert got == want and len(want) > 0


def test_pred_cooccurrence_bruteforce(spark):
    edges = docs_kg.edges_by_doc(spark, SF_DIR).toPandas()
    sp = set(zip(edges["src_surface"], edges["pred"]))
    heads: dict[str, set[str]] = {}
    for s, p in sp:
        heads.setdefault(s, set()).add(p)
    want: dict[tuple, int] = {}
    for s, preds in heads.items():
        ps = sorted(preds)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                want[(ps[i], ps[j])] = want.get((ps[i], ps[j]), 0) + 1
    got = {
        (r["pred_a"], r["pred_b"]): r["n_heads"]
        for _, r in
        docs_kg.pred_cooccurrence(spark, SF_DIR).toPandas().iterrows()
    }
    assert got == want


def test_degree_distribution_exact_log2(spark):
    edges = docs_kg.edges_by_doc(spark, SF_DIR).toPandas()
    pairs = {
        frozenset((s, d))
        for s, d in zip(edges["src_surface"], edges["dst_surface"])
        if s != d
    }
    deg: dict[str, int] = {}
    for pr in pairs:
        for v in pr:
            deg[v] = deg.get(v, 0) + 1
    buckets: dict[int, list[int]] = {}
    for d in deg.values():
        buckets.setdefault(d.bit_length() - 1, []).append(d)
    want = {
        b: (len(ds), min(ds), max(ds)) for b, ds in buckets.items()
    }
    got = {
        r["bucket"]: (r["n_vertices"], r["min_deg"], r["max_deg"])
        for _, r in
        docs_kg.degree_distribution(spark, SF_DIR).toPandas().iterrows()
    }
    assert got == want


def test_snapshot_diff_single_pass_consistency(spark):
    """snapshot_diff reconciles with the two snapshot_asof frames it
    logically diffs (without being computed as their join), and the
    status rule is exact."""
    d = docs_kg.snapshot_diff(spark, SF_DIR).toPandas()
    key = ["src_surface", "pred", "dst_surface"]
    s1 = docs_kg.snapshot_asof(
        spark, SF_DIR, cutoff_ts=docs_kg.SNAPSHOT_CUTOFF_TS).toPandas()
    s2 = docs_kg.snapshot_asof(
        spark, SF_DIR, cutoff_ts=docs_kg.SNAPSHOT_CUTOFF_TS_2).toPandas()
    m1 = {tuple(r[key]): r["n_obs"] for _, r in s1.iterrows()}
    m2 = {tuple(r[key]): r["n_obs"] for _, r in s2.iterrows()}
    assert {tuple(r[key]) for _, r in d.iterrows()} == set(m2)
    for _, r in d.iterrows():
        k = tuple(r[key])
        assert r["n_obs_t1"] == m1.get(k, 0)
        assert r["n_obs_t2"] == m2[k]
        want = ("new" if r["n_obs_t1"] == 0
                else "grown" if r["n_obs_t2"] > r["n_obs_t1"]
                else "stable")
        assert r["status"] == want
    import pytest as _pytest

    with _pytest.raises(ValueError):
        docs_kg.snapshot_diff(spark, SF_DIR, t1=5, t2=5)


def test_temporal_two_hop_respects_time_and_subsets_static(spark):
    """Every time-respecting path is a static 2-hop path; the temporal
    predicate and completion time match a literal recomputation from
    the edge validity intervals."""
    hist = docs_kg.edge_history(spark, SF_DIR).toPandas()
    h = [
        (r["src_surface"], r["dst_surface"], r["first_ts"], r["last_ts"])
        for _, r in hist.iterrows() if r["src_surface"] != r["dst_surface"]
    ]
    want: dict[tuple, tuple] = {}
    for s1, d1, f1, l1 in h:
        for s2, d2, f2, l2 in h:
            if d1 == s2 and s1 != d2 and f1 <= l2:
                k = (s1, d2)
                n, first = want.get(k, (0, None))
                c = max(f1, f2)
                want[k] = (n + 1, c if first is None else min(first, c))
    got = {
        (r["src"], r["dst"]): (r["n_paths"], r["first_complete_ts"])
        for _, r in
        docs_kg.temporal_two_hop(spark, SF_DIR).toPandas().iterrows()
    }
    assert got == want and len(want) > 0


def test_edge_recency_matches_python_and_ranks_fresh_edges(spark):
    """Integer-decay recency vs a literal Python recomputation; a
    fresher edge with equal n_obs never scores below a staler one."""
    rel = _linked_pdf(spark)
    rel["ts"] = docs_kg.TS_EPOCH_BASE + rel["doc_id"] * docs_kg.TS_SPACING_S
    key = ["src_surface", "pred", "dst_surface"]
    want = {}
    for k, grp in rel.groupby(key):
        s = 0
        for ts in grp["ts"]:
            kk = min((docs_kg.RECENCY_REF_TS - int(ts))
                     // docs_kg.RECENCY_HALFLIFE_S, 20)
            s += 1_000_000 >> kk
        want[k] = (len(grp), s)
    got = {
        (r["src_surface"], r["pred"], r["dst_surface"]):
            (r["n_obs"], r["recency_u6"])
        for _, r in docs_kg.edge_recency(spark, SF_DIR).toPandas().iterrows()
    }
    assert got == want and len(want) > 0


def test_entity_cards_match_python_recomputation(spark):
    """One serving card per canonical entity, each field recomputed
    literally in Python: mention count + majority type over the
    mention grain, out/in degree + best-attested predicate over the
    distinct-edge grain, and first/last observation ts over every
    relation row touching the entity (zero/empty defaults when the
    entity never appears in a relation edge)."""
    g = docs_kg.gold_triples_by_doc(spark, SF_DIR).toPandas()
    am = docs_kg.alias_map(spark, SF_DIR).toPandas()
    cmap = dict(zip(am["surface"], am["canonical_surface"]))

    prof: dict[str, dict] = {}
    for _, r in g.iterrows():
        s = cmap[r["ent1"]]
        prof.setdefault(s, {})[r["ent1_tag"]] = (
            prof.get(s, {}).get(r["ent1_tag"], 0) + 1)
    rel = _linked_pdf(spark)
    rel["ts"] = docs_kg.TS_EPOCH_BASE + rel["doc_id"] * docs_kg.TS_SPACING_S
    edges: dict[tuple, int] = {}
    tsb: dict[str, tuple] = {}
    for _, r in rel.iterrows():
        e = (r["src_surface"], r["pred"], r["dst_surface"])
        edges[e] = edges.get(e, 0) + 1
        for s in (r["src_surface"], r["dst_surface"]):
            f, l = tsb.get(s, (r["ts"], r["ts"]))
            tsb[s] = (min(f, r["ts"]), max(l, r["ts"]))
    outs: dict[str, list] = {}
    ins: dict[str, int] = {}
    for (src, pred, dst), n in edges.items():
        outs.setdefault(src, []).append((-n, pred))
        ins[dst] = ins.get(dst, 0) + 1
    want = {}
    for s, types in prof.items():
        top_type = min(types.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        po = outs.get(s, [])
        top_pred = min(po)[1] if po else ""
        f, l = tsb.get(s, (0, 0))
        want[s] = (sum(types.values()), top_type, len(po),
                   ins.get(s, 0), top_pred, int(f), int(l))
    got = {
        r["surface"]: (r["n_mentions"], r["top_type"], r["out_deg"],
                       r["in_deg"], r["top_pred"], r["first_ts"],
                       r["last_ts"])
        for _, r in docs_kg.entity_cards(spark, SF_DIR).toPandas().iterrows()
    }
    assert got == want and len(want) > 0


def test_entity_cards_plan_runs_no_python(spark):
    """entity_cards materializes its mention and edge grains while the
    triple cache lives, so the returned cards scan checkpoints only:
    consuming them re-runs neither the fused extraction (MapInPandas)
    nor the sent_id hash (ArrowEvalPython)."""
    cards = docs_kg.entity_cards(spark, SF_DIR)
    assert cards.count() > 0
    plan = cards._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan


@pytest.mark.parametrize(
    "fn",
    [docs_kg.alias_map, docs_kg._linked_rel_rows, docs_kg.entity_type_profile,
     docs_kg.entity_cards, docs_kg.entity_cooccurrence],
    ids=lambda fn: fn.__name__,
)
def test_per_surface_consumers_release_cache_on_failure(spark, monkeypatch, fn):
    """A per-surface consumer whose build fails leaves nothing cached:
    no persistent RDD made during the call is left (ids, not a count:
    the context cleaner may drop earlier tests' RDDs meanwhile), and
    the triple frame it cached is uncached again."""
    from pyspark import StorageLevel

    from denrl_spark.operators import linking

    seen = []

    def failing_mention_surfaces(trips):
        seen.append(trips)
        raise RuntimeError("mention_surfaces failed")

    monkeypatch.setattr(linking, "mention_surfaces", failing_mention_surfaces)
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(RuntimeError, match="mention_surfaces failed"):
        fn(spark, SF_DIR)
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= before
    assert len(seen) == 1 and seen[0].storageLevel == StorageLevel.NONE


def test_entity_cooccurrence_matches_python(spark):
    """kg_cooccurrence vs a literal Python recomputation: distinct
    (doc, canonical entity) sets -> unordered pair doc counts -> PMI as
    one double division of exact integer products, floor-scaled."""
    import itertools
    import math

    gold = docs_kg.gold_triples_by_doc(spark, SF_DIR).toPandas()
    alias = {
        r["surface"]: r["canonical_surface"]
        for _, r in docs_kg.alias_map(spark, SF_DIR).toPandas().iterrows()
    }
    per_doc: dict[int, set[str]] = {}
    for _, r in gold.iterrows():
        for s in (r["ent1"], r["ent2"]):
            if s:
                per_doc.setdefault(int(r["doc_id"]), set()).add(alias[s])
    n_total = len(per_doc)
    marg: dict[str, int] = {}
    pair_docs: dict[tuple[str, str], int] = {}
    for ents in per_doc.values():
        for e in ents:
            marg[e] = marg.get(e, 0) + 1
        for a, b in itertools.combinations(sorted(ents), 2):
            pair_docs[(a, b)] = pair_docs.get((a, b), 0) + 1
    want = {
        (a, b): (
            n,
            math.floor(10_000 * math.log((n * n_total) / (marg[a] * marg[b]))),
        )
        for (a, b), n in pair_docs.items()
    }
    got = {
        (r["ent_a"], r["ent_b"]): (int(r["n_docs"]), int(r["pmi_e4"]))
        for _, r in docs_kg.entity_cooccurrence(spark, SF_DIR)
        .toPandas()
        .iterrows()
    }
    assert got == want and len(got) > 0
    # pairs are unordered and emitted exactly once, a-side strictly first
    assert all(a < b for a, b in got)
    # the projection is a superset of the direct relation edges'
    # endpoint pairs (every related pair co-occurs in its witness doc)
    edges = docs_kg.edges_by_doc(spark, SF_DIR).toPandas()
    for _, r in edges.iterrows():
        a, b = sorted((r["src_surface"], r["dst_surface"]))
        if a != b:
            assert (a, b) in got


def test_scan_split_probe_follows_a_rewritten_table(spark, tmp_path):
    """The cached split-count probe is keyed on the scan's file list: a
    1-file table is lifted to cluster parallelism, and the same path
    rewritten as >= defaultParallelism files is not lifted."""
    p = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "t.parquet")
    rows = spark.range(64 * p).withColumnRenamed("id", "doc_id")

    def lifted() -> bool:
        d = docs_kg.lift_to_parallelism(spark.read.parquet(path))
        return "Repartition" in d._jdf.queryExecution().logical().toString()

    rows.coalesce(1).write.mode("overwrite").parquet(path)
    assert lifted()
    rows.repartition(p).write.mode("overwrite").parquet(path)
    assert len(spark.read.parquet(path).inputFiles()) >= p
    assert not lifted()
