"""M4 entity patterns, A5 vocab / M6 encode, K7 marginals, restricted
Viterbi (K5 decode surface)."""

import numpy as np

from pyspark.sql import functions as F

from denrl_spark.functions.textops import build_vocab, encode_tokens
from denrl_spark.operators.patterns import (
    extract_ent_patterns,
    extract_ent_patterns_py,
    topk_patterns,
)
from denrl_spark.operators.scoring import (
    bio_transitions,
    build_label_list,
    forward_backward_batch,
    viterbi_restricted,
)
from denrl_spark.operators.tagging import build_instances
from denrl_spark.sources.corpus import transcripts
from denrl_spark.sources.kb import KB

KBD = KB.default()


def test_ent_patterns_py_windows():
    toks = "a b c alice johnson d e f g".split()
    tags = ["O", "O", "O", "B-PERSON", "I-PERSON", "O", "O", "O", "O"]
    pats = extract_ent_patterns_py(toks, tags, 3, max_ent_range=2)
    # pre-window: 2 tokens before query start; post: 2 after query END (idx 4)
    assert pats == [
        {"entity": "PERSON", "pattern": "b c"},
        {"entity": "PERSON", "pattern": "d e"},
    ]
    # query at position 0: no pre-window
    pats0 = extract_ent_patterns_py(
        ["alice", "x", "y"], ["B-PERSON", "O", "O"], 0, max_ent_range=1
    )
    assert pats0 == [{"entity": "PERSON", "pattern": "x"}]


def test_ent_patterns_spark_and_topk(spark):
    ins = build_instances(transcripts(spark, 30, seed=42), KBD).cache()
    ep = extract_ent_patterns(ins, max_ent_range=3).cache()
    assert ep.count() > 0
    assert ep.where(F.col("pattern") == "").count() == 0
    # A3 = A2 machinery on the entity key
    topk = topk_patterns(ep.withColumnRenamed("entity", "relation"))
    assert topk.count() > 0


def test_vocab_and_encode(spark, tmp_path):
    docs = spark.createDataFrame(
        [(0, "a b b c"), (1, "b c c zzz")], "doc_id long, text string"
    )
    vocab = build_vocab(docs)
    v = {r["token"]: (r["token_id"], r["cnt"]) for r in vocab.collect()}
    # freq order: b(3), c(3) tie -> b before c (lexicographic), then a, zzz
    assert v["b"][0] == 2 and v["c"][0] == 3
    assert {v["a"][0], v["zzz"][0]} == {4, 5}
    enc = encode_tokens(docs, vocab.limit(3))  # drop lowest-freq -> UNK
    rows = {(r["doc_id"], r["pos"]): r["token_id"] for r in enc.collect()}
    assert rows[(0, 0)] in (4, 5) or rows[(0, 0)] == 1  # 'a' kept or UNK
    assert rows[(1, 3)] == 1  # 'zzz' dropped from vocab -> UNK


def test_forward_backward_matches_enumeration():
    rng = np.random.default_rng(3)
    t_, v_ = 4, 3
    trans = rng.normal(size=(v_, v_)).astype(np.float64)
    em = rng.normal(size=(1, t_, v_)).astype(np.float64)
    lengths = np.array([t_])
    marg = forward_backward_batch(em, trans, lengths)[0]
    # brute force
    import itertools

    scores = {}
    for path in itertools.product(range(v_), repeat=t_):
        s = em[0, 0, path[0]]
        for i in range(1, t_):
            s += trans[path[i - 1], path[i]] + em[0, i, path[i]]
        scores[path] = np.exp(s)
    z = sum(scores.values())
    for pos in range(t_):
        for tag in range(v_):
            exp = sum(v for p, v in scores.items() if p[pos] == tag) / z
            assert abs(marg[pos, tag] - exp) < 1e-9, (pos, tag)


def test_viterbi_restricted_respects_mask():
    labels = build_label_list(KBD)
    li = {l: i for i, l in enumerate(labels)}
    trans = bio_transitions(labels)
    v_ = len(labels)
    em = np.zeros((1, 3, v_), dtype=np.float32)
    em[0, :, li["B-PERSON"]] = 5.0  # strongly prefers B-PERSON everywhere
    possible = np.ones((1, 3, v_), dtype=bool)
    possible[0, 1, :] = False
    possible[0, 1, li["O"]] = True  # but position 1 may only be O
    out = viterbi_restricted(em, trans, np.array([3]), possible)
    assert labels[out[0, 1]] == "O"
    assert labels[out[0, 0]] == "B-PERSON" and labels[out[0, 2]] == "B-PERSON"


def test_near_dup_clusters(spark):
    from denrl_spark.functions.textops import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tonight")
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),          # exact dup of 0
            (2, near),          # near dup of 0/1
            (3, "completely different text about spark shuffles and joins filters"),
            (4, "another unrelated document mentioning tables rows and columns only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["rep_doc_id"], r["is_rep"]) for r in near_dup_clusters(docs, min_j_e6=300_000).collect()}
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)   # near-dup joins the cluster
    assert out[3] == (3, True) and out[4] == (4, True)
    # keep-list semantics: exactly the representatives survive
    assert sorted(d for d, (_, rep) in out.items() if rep) == [0, 3, 4]


def test_jaccard_pruned_equals_unpruned(spark):
    """The registered dedup_jaccard_pairs runs LSH candidates -> exact
    verify; its DuckDB oracle is the UNPRUNED exact join. Valid iff LSH
    recall is 1.0 at the 0.2 threshold on the corpus — asserted here,
    plus a plan check that no join keys on shingle alone (the
    hot-shingle-square shape) survives in the physical plan."""
    from denrl_spark.functions.textops import jaccard_pairs, jaccard_pairs_pruned

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    unpruned = {tuple(r) for r in jaccard_pairs(docs).collect()}
    pruned_df = jaccard_pairs_pruned(docs)
    pruned = {tuple(r) for r in pruned_df.collect()}
    assert pruned == unpruned and len(pruned) > 0

    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Join" in line and "shingle#" in line:
            # every shingle-keyed join must also be doc-keyed
            assert "doc_b#" in line or "doc_a#" in line, line


def test_prefix_join_equals_unpruned_exact(spark):
    """dedup_prefix_join's oracle is the UNPRUNED exact join at 0.5 —
    valid by the SSJoin prefix lemma, not by corpus measurement.
    Asserted anyway on the corpus plus appended near-dup rows (the
    corpus alone may have no pairs at 0.5), and on a randomized
    small-vocab corpus where high-Jaccard pairs are dense."""
    from denrl_spark.functions.textops import jaccard_pairs, prefix_join_pruned

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dup = base.limit(8).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" trailing marker token")).alias("text"),
    )
    docs = base.select("doc_id", "text").unionByName(dup)
    exact = {tuple(r) for r in jaccard_pairs(docs, min_j_e6=500_000).collect()}
    pruned = {tuple(r) for r in prefix_join_pruned(docs).collect()}
    assert pruned == exact and len(pruned) >= 8

    import numpy as np

    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab, size=int(rng.integers(5, 12)))))
        for i in range(40)
    ]
    rnd = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {tuple(r) for r in jaccard_pairs(rnd, min_j_e6=500_000).collect()}
    pruned = {tuple(r) for r in prefix_join_pruned(rnd).collect()}
    assert pruned == exact


def test_prefix_join_boundary_and_pruning(spark):
    """J = 0.5 exactly is IN (>= threshold, integer floor exact);
    J < 0.5 is OUT; and on a hot-shingle star corpus the prefix rule
    provably generates ZERO candidates where the shared-shingle join
    would emit all C(n,2) pairs — the pruning the algorithm exists for."""
    from denrl_spark.functions.textops import prefix_join_pruned

    gadget = spark.createDataFrame(
        [
            (1, "a b c d e"),   # shingles {abc, bcd, cde}
            (2, "a b c d f"),   # {abc, bcd, cdf}: overlap 2, union 4 -> 0.5
            (3, "a b c x y"),   # {abc, bcx, cxy}: J(1,3) = 1/5 < 0.5
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b, r.j_e6) for r in prefix_join_pruned(gadget).collect()}
    assert got == {(1, 2, 500_000)}

    # star corpus: one corpus-wide hot shingle, three unique shingles per
    # doc; n_sh = 4 -> prefix = 3 rarest = the unique ones, so the hot
    # shingle never reaches the candidate join
    n = 10
    star = spark.createDataFrame(
        [(i, f"h1 h2 h3 r{i}a r{i}b r{i}c") for i in range(n)],
        "doc_id long, text string",
    )
    assert prefix_join_pruned(star).count() == 0
    # Python twin of the prefix rule confirms zero candidates (vs the
    # C(n,2) = 45 pairs the raw shared-shingle join would touch)
    sets = {
        i: {f"h1 h2 h3"} | {f"h2 h3 r{i}a", f"h3 r{i}a r{i}b", f"r{i}a r{i}b r{i}c"}
        for i in range(n)
    }
    df = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    prefixes = {
        i: set(sorted(s, key=lambda g: (df[g], g))[: len(s) // 2 + 1])
        for i, s in sets.items()
    }
    cand = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if prefixes[a] & prefixes[b]
    }
    shared_pairs = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if sets[a] & sets[b]
    }
    assert cand == set() and len(shared_pairs) == n * (n - 1) // 2


def test_lsh_bucket_cap_degenerate_boilerplate(spark):
    """10k identical boilerplate docs land every doc on the same
    (band, mh) bucket in all 8 bands. Uncapped, the pairwise self-join
    would emit ~8 * 10k^2/2 = 4*10^8 candidate rows pre-distinct — the
    shape that dies on real web boilerplate at 100 TB. The cap
    star-links the oversized bucket to its min doc: exactly n-1
    candidate edges, and downstream clustering still folds the whole
    bucket into one component with the min doc as representative."""
    from denrl_spark.functions.textops import (
        distinct_gram_docs,
        lsh_candidate_pairs,
        near_dup_clusters,
    )

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps over the lazy dog again").alias("text"),
    )
    cand = lsh_candidate_pairs(distinct_gram_docs(docs))
    assert cand.count() == n - 1
    # every candidate edge is anchored at the bucket-min doc (a star)
    lo, hi = cand.agg(F.min("doc_a"), F.max("doc_a")).first()
    assert (lo, hi) == (0, 0)
    clusters = near_dup_clusters(docs)
    assert clusters.where(F.col("rep_doc_id") == 0).count() == n
    assert clusters.where(F.col("is_rep")).count() == 1


def test_lsh_cap_preserves_connectivity(spark):
    """Star-linking an oversized bucket preserves PRE-VERIFY candidate
    connectivity: components over capped candidates == components over
    uncapped pairwise candidates, asserted with a cap small enough (2)
    to trigger star-linking on real duplicate groups. (Post-verify
    recall is the probabilistic contract documented on
    lsh_candidate_pairs: a high-J pair missed via a dissimilar hub is
    still emitted pairwise through its other shared bands.)"""
    from denrl_spark.functions.textops import distinct_gram_docs, lsh_candidate_pairs
    from denrl_spark.operators.linking import connected_components

    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
        "lorem ipsum dolor sit amet consectetur adipiscing elit",
    ]
    rows = [(g * 100 + i, base[g]) for g in range(3) for i in range(4 + g)]
    rows += [(900, "completely unrelated text with unique tokens qqq www")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def comps(cand):
        nodes = docs.select(F.col("doc_id").alias("node_id"))
        edges = cand.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        return {
            (r["node_id"], r["component"])
            for r in connected_components(nodes, edges).collect()
        }

    gd = distinct_gram_docs(docs)
    capped = lsh_candidate_pairs(gd, bucket_cap=2)
    uncapped = lsh_candidate_pairs(gd, bucket_cap=1 << 30)
    # the tiny cap actually bites: fewer candidate edges than pairwise
    assert capped.count() < uncapped.count()
    assert comps(capped) == comps(uncapped)


def test_pii_scan(spark):
    from denrl_spark.functions.textops import pii_scan

    docs = spark.createDataFrame(
        [
            (0, "contact me at alice@example.com or 555-123-4567 today"),
            (1, "ssn 123-45-6789 leaked via https://evil.example/x"),
            (2, "clean text about spark joins and filters"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_phones"] == 1 and out[0]["has_pii"] == 1
    assert out[1]["n_ssns"] == 1 and out[1]["n_urls"] == 1 and out[1]["has_pii"] == 1
    assert out[2]["has_pii"] == 0 and out[2]["n_urls"] == 0


def test_tfidf_top_terms_semantics(spark):
    import math

    from denrl_spark.functions.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [(0, "common rare1 common"), (1, "common rare2"), (2, "common x y")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["token"], r["tfidf_e6"]))
    # 'common' appears in every doc -> idf = ln(3/3) = 0 -> score 0;
    # each doc's rank-1 term is its rare token with tf=1, idf=ln(3)
    expect = math.floor(1_000_000 * math.log(3.0))
    assert by_doc[0][0][1] == "rare1" and by_doc[0][0][2] == expect
    assert by_doc[1][0][1] == "rare2" and by_doc[1][0][2] == expect
    # ranks contiguous from 1, k respected
    for rows in by_doc.values():
        assert [r[0] for r in sorted(rows)] == list(range(1, len(rows) + 1))
        assert len(rows) <= 2


def test_unigram_lm_scores(spark):
    import math

    from denrl_spark.functions.textops import unigram_logprob

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "a a a")], "doc_id long, text string"
    )
    # corpus: a x5, b x1, total 6
    got = {r["doc_id"]: (r["n_tokens"], r["lp_e4"]) for r in unigram_logprob(docs).collect()}
    lp = lambda c: math.floor(10_000 * math.log(c / 6.0))
    assert got[0] == (3, 2 * lp(5) + lp(1))
    assert got[1] == (3, 3 * lp(5))
    # the all-common doc scores higher (less surprising) than the one
    # containing the rare token
    assert got[1][1] > got[0][1]


def test_stratified_sample_exact_and_deterministic(spark):
    from denrl_spark.plans.driver_queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["rel_stratified_sample"](spark, sf).cache()
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    sizes = {r["o_orderpriority"]: r["count"] for r in orders.groupBy("o_orderpriority").count().collect()}
    got = {r["o_orderpriority"]: r["count"] for r in out.groupBy("o_orderpriority").count().collect()}
    for grp, n in sizes.items():
        assert got.get(grp, 0) == int(0.1 * n) // 1, grp
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, QUERIES["rel_stratified_sample"](spark, sf).collect()))
    assert a == b


def test_global_row_number_matches_window_and_is_partition_invariant(spark):
    """functions/ranking.py: the distributed dense rank equals the
    single-partition window row_number on the same total order, under
    multiple input partitionings, and plans no SinglePartition
    exchange."""
    from pyspark.sql import Window

    from denrl_spark.functions.ranking import with_global_row_number

    df = spark.range(0, 500).select(
        F.col("id"),
        F.pmod(F.xxhash64("id"), F.lit(97)).alias("key"),
    )
    w = Window.orderBy(F.desc("key"), F.asc("id"))
    expect = {
        (r["id"]): r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w) - 1).collect()
    }
    for parts in (1, 7):
        ranked = with_global_row_number(
            df.repartition(parts), [F.desc("key"), F.asc("id")], out_col="grn"
        )
        got = {r["id"]: r["grn"] for r in ranked.collect()}
        assert got == expect, parts
    plan = with_global_row_number(
        df, [F.desc("key"), F.asc("id")]
    )._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_approx_count_distinct_within_rsd(spark):
    """The at-scale cardinality path: HLL++ (approx_count_distinct)
    tracks the exact distinct count within its rsd bound on real data —
    at 100 TB the exact count is a full shuffle of the key set, the
    sketch is a constant-size mergeable state."""
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("a")
    ).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd headroom


def test_bigram_lm_scores(spark):
    """bigram_logprob vs a literal Python recomputation: per-pair
    conditional P(w2|w1) from corpus counts, floor-scaled BEFORE the
    sum; docs with < 2 tokens contribute no row."""
    import math

    from denrl_spark.functions.textops import bigram_logprob

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran"),
        (2, "a dog sat on a mat"),
        (3, "solo"),            # 1 token -> no bigrams -> no output row
        (4, "the cat sat on the mat"),  # exact dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["lp2_e4"])
        for r in bigram_logprob(docs).collect()
    }
    c2: dict[tuple[str, str], int] = {}
    c1: dict[str, int] = {}
    grams = {}
    for doc_id, text in rows:
        t = text.split(" ")
        bgs = list(zip(t, t[1:]))
        grams[doc_id] = bgs
        for b in bgs:
            c2[b] = c2.get(b, 0) + 1
            c1[b[0]] = c1.get(b[0], 0) + 1
    want = {}
    for doc_id, bgs in grams.items():
        if not bgs:
            continue
        lp = sum(
            math.floor(10_000 * math.log(c2[b] / c1[b[0]])) for b in bgs
        )
        want[doc_id] = (len(bgs), lp)
    assert got == want
    assert 3 not in got
    assert got[0] == got[4]  # identical docs score identically
    # a common continuation ("the cat": 3/5 of 'the') outranks a rare
    # one per-term; sanity: every term is <= 0 (probabilities <= 1)
    assert all(lp <= 0 for _, lp in got.values())


def test_length_histogram_exact_log2_buckets(spark):
    """The binary-length bucket puts exact powers of two in the RIGHT
    bucket (float log2 would misbucket 8 as bucket 2) and reconciles
    with the raw lengths."""
    from denrl_spark.plans.driver_queries import text_length_histogram

    rows = [
        (0, "a"),                    # n=1  -> bucket 0
        (1, "a b"),                  # n=2  -> bucket 1
        (2, "a b c"),                # n=3  -> bucket 1
        (3, "a b c d"),              # n=4  -> bucket 2
        (4, " ".join("x" * 1 for _ in range(8))),   # n=8  -> bucket 3
        (5, " ".join("x" for _ in range(1024))),    # n=1024 -> bucket 10
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        got = {
            r["log2_bucket"]: (r["n_docs"], r["n_tokens"], r["min_len"], r["max_len"])
            for r in text_length_histogram(spark, d).collect()
        }
    assert got == {
        0: (1, 1, 1, 1),
        1: (2, 5, 2, 3),
        2: (1, 4, 4, 4),
        3: (1, 8, 8, 8),
        10: (1, 1024, 1024, 1024),
    }


def test_kg_pred_stats_reconciles_with_edges(spark):
    from denrl_spark.plans.docs_kg import edges_by_doc
    from denrl_spark.plans.driver_queries import kg_pred_stats

    sf = "/root/testdata/sf0.001"
    e = edges_by_doc(spark, sf).toPandas()
    got = kg_pred_stats(spark, sf).toPandas().set_index("pred")
    for pred, g in e.groupby("pred"):
        r = got.loc[pred]
        assert r["n_edges"] == len(g)
        assert r["n_obs"] == g["n_obs"].sum()
        assert r["n_src"] == g["src_surface"].nunique()
        assert r["n_dst"] == g["dst_surface"].nunique()
    assert set(got.index) == set(e["pred"])


def test_funnel_strict_ordering(spark, tmp_path):
    """rel_funnel's stage semantics on a crafted fixture: clicks BEFORE
    the first view don't advance a user, ties (same second) don't
    advance (strictly-after), and each stage needs the previous one."""
    import os

    from denrl_spark.plans.driver_queries import rel_funnel

    base = 1_700_000_000

    def ev(eid, uid, off, typ):
        import datetime

        return (
            eid, datetime.datetime.utcfromtimestamp(base + off),
            uid, typ, 0.0, "{}",
        )

    rows = [
        # u1: full funnel in order
        ev(1, 1, 0, "view"), ev(2, 1, 10, "click"), ev(3, 1, 20, "error"),
        # u2: click BEFORE first view -> stuck at stage 1
        ev(4, 2, 0, "click"), ev(5, 2, 10, "view"),
        # u3: click at the SAME second as the view -> strictly-after fails
        ev(6, 3, 0, "view"), ev(7, 3, 0, "click"),
        # u4: error without a prior click -> stage 1 only
        ev(8, 4, 0, "view"), ev(9, 4, 5, "error"),
        # u5: never views -> appears in no stage
        ev(10, 5, 0, "click"), ev(11, 5, 5, "error"),
        # u6: view -> click, error earlier than the click -> stage 2
        ev(12, 6, 0, "view"), ev(13, 6, 3, "error"), ev(14, 6, 8, "click"),
    ]
    d = str(tmp_path / "funnel")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {r["stage"]: r["n_users"] for r in rel_funnel(spark, d).collect()}
    # stage 1: u1,u2,u3,u4,u6 viewed; stage 2: u1,u6 clicked after view;
    # stage 3: u1 only
    assert got == {1: 5, 2: 2, 3: 1}


def test_retention_triangle_semantics(spark, tmp_path):
    """rel_retention on a crafted fixture: cohort = first-seen day,
    offsets count distinct users, multiple same-day events collapse."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_retention

    day = 86400

    def ev(eid, uid, day_n, sec=0):
        return (
            eid,
            datetime.datetime.utcfromtimestamp(day_n * day + sec),
            uid, "view", 0.0, "{}",
        )

    rows = [
        ev(1, 1, 100), ev(2, 1, 100, 60), ev(3, 1, 101), ev(4, 1, 103),
        ev(5, 2, 100), ev(6, 2, 103),
        ev(7, 3, 101),
    ]
    d = str(tmp_path / "ret")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in rel_retention(spark, d).collect()
    }
    # cohort 100 = {u1,u2}: both day 0, u1 at offset 1, both at offset 3
    # cohort 101 = {u3}: day 0 only; u1's day-101 event counts toward
    # COHORT 100 offset 1, not cohort 101 (first-seen wins)
    assert got == {
        (100, 0): 2, (100, 1): 1, (100, 3): 2,
        (101, 0): 1,
    }


def test_upsert_latest_compaction(spark, tmp_path):
    """rel_upsert_latest's CDC semantics on a crafted changelog:
    latest-wins by (t, event_id), event_id breaks same-second ties, a
    tombstone (event_id % 16 == 0) as the LATEST record removes the
    key, an EARLIER tombstone is overwritten by a later upsert, and
    n_versions counts every record including tombstones."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_upsert_latest

    base = 1_700_000_000

    def ev(eid, uid, off, typ, val):
        return (
            eid, datetime.datetime.utcfromtimestamp(base + off),
            uid, typ, val, "{}",
        )

    rows = [
        # u1/view: two upserts -> latest (t=20) wins
        ev(1, 1, 0, "view", 1.5), ev(2, 1, 20, "view", 2.5),
        # u2/click: upsert then TOMBSTONE (eid 16) latest -> key vanishes
        ev(3, 2, 0, "click", 1.0), ev(16, 2, 30, "click", 9.0),
        # u3/view: tombstone (eid 32) then LATER upsert -> key survives
        ev(32, 3, 0, "view", 0.0), ev(5, 3, 10, "view", 7.25),
        # u4/error: same-second tie -> higher event_id wins
        ev(6, 4, 0, "error", 1.0), ev(7, 4, 0, "error", 2.0),
    ]
    d = str(tmp_path / "upsert")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {
        (r["user_id"], r["event_type"]):
            (r["last_t"], r["last_value_micro"], r["n_versions"])
        for r in rel_upsert_latest(spark, d).collect()
    }
    assert got == {
        (1, "view"): (base + 20, 2_500_000, 2),
        (3, "view"): (base + 10, 7_250_000, 2),
        (4, "error"): (base, 2_000_000, 2),
    }


def test_upsert_latest_plan_is_single_agg(spark):
    """The compaction shuffles ONCE on the key with a PARTIAL max_by
    before the exchange (only one pre-combined row per key crosses the
    wire — the window formulation would ship every version and is the
    shape this operator exists to avoid). Spark executes max_by over a
    struct ordering as a SortAggregate (partition-LOCAL sort, no extra
    exchange) — that's fine; a Window over the full changelog is not."""
    from denrl_spark.plans.driver_queries import rel_upsert_latest

    plan = (
        rel_upsert_latest(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "partial_max_by" in plan
    assert plan.count("Exchange") == 1


def test_running_total_order_and_ties(spark, tmp_path):
    """rel_running_total on a crafted fixture: prefix sums follow
    (t, event_id) order — same-second ties resolved by event_id —
    and users never mix."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_running_total

    base = 1_700_000_000

    def ev(eid, uid, off, val):
        return (
            eid, datetime.datetime.utcfromtimestamp(base + off),
            uid, "view", val, "{}",
        )

    rows = [
        # u1: out-of-eid-order timestamps; cumulative follows t
        ev(5, 1, 10, 1.0), ev(6, 1, 0, 2.0),
        # u1: same-second tie: eid 7 before eid 8
        ev(8, 1, 20, 4.0), ev(7, 1, 20, 3.0),
        # u2: isolated
        ev(9, 2, 0, 10.0),
    ]
    d = str(tmp_path / "running")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    got = {r["event_id"]: r["running_v_micro"]
           for r in rel_running_total(spark, d).collect()}
    assert got == {
        6: 2_000_000,            # t=0 first despite higher eid
        5: 3_000_000,            # +1.0 at t=10
        7: 6_000_000,            # tie at t=20: eid 7 first (+3.0)
        8: 10_000_000,           # then eid 8 (+4.0)
        9: 10_000_000,           # u2 alone
    }


def test_salted_agg_equals_plain_and_carries_salt_stage(spark):
    """rel_salted_agg == the plain aggregate (associative partials),
    and the physical plan really aggregates by (key, salt) first —
    the hot key's rows spread over SALT_BUCKETS reducers."""
    from denrl_spark.plans.driver_queries import _t, rel_salted_agg

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["n"], r["sum_cents"])
        for r in rel_salted_agg(spark, sf).collect()
    }
    plain = {
        r["event_type"]: (r["n"], r["sum_cents"])
        for r in _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("bigint"))
            .cast("bigint").alias("sum_cents"),
        )
        .collect()
    }
    assert got == plain and len(got) > 0
    plan = (
        rel_salted_agg(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "salt" in plan
    assert plan.count("Exchange") >= 2  # salted stage + final key stage


def test_kmv_distinct_exact_below_k_and_bounded_error(spark, tmp_path):
    """Below k the sketch is exact; above k the estimate lands within
    the 4-sigma KMV error envelope (sigma ~ 1/sqrt(k-2)) on a
    5000-distinct synthetic — deterministic (md5), so this cannot
    flake."""
    import os

    from denrl_spark.plans.driver_queries import KMV_K, rel_kmv_distinct

    rows = []
    eid = 0
    for u in range(20):  # 'small': 20 distinct < k
        rows.append((eid, u, "small"))
        eid += 1
    for u in range(5000):  # 'big': 5000 distinct >> k
        rows.append((eid, u, "big"))
        eid += 1
    d = str(tmp_path / "kmv")
    spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string"
    ).withColumn("ts", F.current_timestamp()) \
     .withColumn("value", F.lit(1.0)) \
     .withColumn("props", F.lit("{}")) \
     .write.parquet(os.path.join(d, "events.parquet"))
    got = {
        r["event_type"]: (r["n_kept"], r["est_distinct"])
        for r in rel_kmv_distinct(spark, d).collect()
    }
    assert got["small"] == (20, 20)
    n_kept, est = got["big"]
    assert n_kept == KMV_K
    sigma = 5000 / (KMV_K - 2) ** 0.5
    assert abs(est - 5000) < 4 * sigma


def test_salted_join_equals_plain_and_joins_on_salt(spark):
    """rel_salted_join == the plain (unsalted) join-aggregate, and the
    executed plan really joins on the salted composite key via a
    shuffled-hash join (not a broadcast — the skew pattern must
    survive AQE's rewrite to demonstrate anything)."""
    from denrl_spark.plans.driver_queries import _t, rel_salted_join

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["n"], r["weighted_cents"])
        for r in rel_salted_join(spark, sf).collect()
    }
    ev = _t(spark, sf, "events").select(
        "event_type", F.floor(F.col("value") * 100).cast("bigint").alias("cents")
    )
    want = {
        r["event_type"]: (r["n"], r["weighted_cents"])
        for r in ev.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("cents") * F.length("event_type"))
            .cast("bigint").alias("weighted_cents"),
        ).collect()
    }
    assert got == want and len(got) > 0
    plan = (
        rel_salted_join(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin [event_type" in plan and "salt" in plan
    assert "BroadcastHashJoin" not in plan


def test_debounce_quiet_window_semantics(spark, tmp_path):
    """rel_debounce on a crafted burst: leading edge kept, burst
    suppressed INCLUDING an event > window from the last KEPT but
    < window from the previous dropped one (quiet-period rule), next
    event after true silence kept; tie at the same second sequenced
    by event_id; keys independent."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_debounce

    base = 1_700_000_000

    def ev(eid, uid, typ, off):
        return (eid, datetime.datetime.utcfromtimestamp(base + off), uid,
                typ, 1.0, "{}")

    rows = [
        ev(1, 1, "click", 0),     # keep (leading edge)
        ev(2, 1, "click", 30),    # drop (30 <= 60 after 1)
        ev(3, 1, "click", 70),    # drop: 40s after DROPPED ev2 (quiet rule)
        ev(4, 1, "click", 200),   # keep (130s quiet)
        ev(5, 1, "view", 10),     # keep (other key)
        ev(7, 2, "click", 0),     # keep; tie with eid 6 at same second:
        ev(6, 2, "click", 0),     #   eid 6 ordered FIRST -> 6 keep, 7 drop
    ]
    d = str(tmp_path / "deb")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    kept = sorted(r["event_id"] for r in rel_debounce(spark, d).collect())
    assert kept == [1, 4, 5, 6]


def test_quantile_sketch_error_bound_and_exact_rank_rule(spark):
    """Sketch p50/p95 vs numpy exact percentiles on the real events
    table: the estimate is the lower bound of the covering bucket, so
    error < bucket width; and the rank rule matches a literal
    recomputation from the bucket histogram."""
    import numpy as np
    import pandas as pd

    from denrl_spark.plans.driver_queries import (
        QSKETCH_BUCKETS,
        QSKETCH_WIDTH,
        rel_quantile_sketch,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: (r["n"], r["p50_est"], r["p95_est"])
        for r in rel_quantile_sketch(spark, sf).collect()
    }
    ev = pd.read_parquet(f"{sf}/events.parquet")
    for typ, grp in ev.groupby("event_type"):
        v = grp["value"].to_numpy()
        n, p50, p95 = got[typ]
        assert n == len(v)
        # literal histogram recount
        b = np.minimum(QSKETCH_BUCKETS - 1,
                       np.floor(v / QSKETCH_WIDTH).astype(int))
        counts = np.bincount(b, minlength=QSKETCH_BUCKETS)
        cum = np.cumsum(counts)
        want50 = int(np.argmax(2 * cum >= len(v))) * QSKETCH_WIDTH
        want95 = int(np.argmax(20 * cum >= 19 * len(v))) * QSKETCH_WIDTH
        assert (p50, p95) == (want50, want95), typ
        # error bound: the estimate is the lower bound of the bucket
        # CONTAINING the target order statistic (rank ceil(q*n)), so
        # it differs from that order statistic by < bucket width
        srt = np.sort(v)
        os50 = srt[-(-len(v) // 2) - 1]         # ceil(n/2)-th
        os95 = srt[-(-(19 * len(v)) // 20) - 1]  # ceil(19n/20)-th
        assert 0 <= os50 - p50 < QSKETCH_WIDTH
        assert 0 <= os95 - p95 < QSKETCH_WIDTH


def test_cms_heavy_transcription_and_overestimate(spark, tmp_path):
    """rel_cms_heavy == a literal Python transcription of the
    count-min update/query rule (deterministic md5 coordinates), and
    est >= true holds for EVERY key — the sketch's one-sided error
    contract. The synthetic forces collisions: 600 distinct keys over
    256 columns per row guarantees colliding cells, so the >= is
    exercised strictly somewhere."""
    import hashlib
    import os
    from collections import Counter

    from denrl_spark.plans.driver_queries import CMS_D, CMS_W, rel_cms_heavy

    rows = []
    eid = 0
    for u in range(600):
        for _ in range(1 + u % 3):  # counts 1..3
            rows.append((eid, u))
            eid += 1
    d = str(tmp_path / "cms")
    spark.createDataFrame(rows, "event_id long, user_id long") \
        .withColumn("ts", F.current_timestamp()) \
        .withColumn("event_type", F.lit("click")) \
        .withColumn("value", F.lit(1.0)) \
        .withColumn("props", F.lit("{}")) \
        .write.parquet(os.path.join(d, "events.parquet"))

    def coord(key: str, dd: int) -> int:
        return int(hashlib.md5(f"{dd}:{key}".encode()).hexdigest()[:12], 16) % CMS_W

    truth = Counter(str(u) for _, u in rows)
    sketch = Counter()
    for k, n in truth.items():
        for dd in range(CMS_D):
            sketch[(dd, coord(k, dd))] += n
    expect = {
        int(k): (n, min(sketch[(dd, coord(k, dd))] for dd in range(CMS_D)))
        for k, n in truth.items()
    }
    got = {
        r["user_id"]: (r["true_n"], r["est_n"])
        for r in rel_cms_heavy(spark, d).collect()
    }
    assert got == expect
    assert all(est >= true for true, est in got.values())
    assert any(est > true for true, est in got.values())  # collisions real


def test_dialog_stats_transcription(spark):
    """text_dialog_stats == a literal Python recomputation over the
    derived transcript view at sf0.001 (integer ratio rule, -1
    sentinel, violation rule on the stable turn order)."""
    from denrl_spark.plans.docs_kg import transcripts_from_documents
    from denrl_spark.plans.driver_queries import text_dialog_stats

    sf = "/root/testdata/sf0.001"
    turns = {}
    for r in transcripts_from_documents(spark, sf).collect():
        turns.setdefault(r["conv_id"], []).append(
            (r["turn_idx"], r["role"], r["text"])
        )
    expect = {}
    for cid, ts in turns.items():
        ts.sort()
        uc = sum(len(t) for _, role, t in ts if role == "user")
        ac = sum(len(t) for _, role, t in ts if role == "assistant")
        viol = sum(
            1 for i in range(1, len(ts)) if ts[i][1] == ts[i - 1][1]
        )
        expect[cid] = (
            len(ts),
            sum(1 for _, role, _ in ts if role == "user"),
            uc,
            ac,
            (1000000 * uc) // ac if ac else -1,
            max(len(t) for _, _, t in ts),
            viol,
        )
    got = {
        r["conv_id"]: (
            r["n_turns"], r["n_user"], r["user_chars"], r["asst_chars"],
            r["ratio_ppm"], r["max_turn_chars"], r["n_role_violations"],
        )
        for r in text_dialog_stats(spark, sf).collect()
    }
    assert got == expect


def test_conv_prefix_dedup_gadget(spark, tmp_path):
    """Two conversations sharing their first CONV_PREFIX_K turns
    verbatim (a retried session) are flagged as one keep + one dup
    even though later turns diverge; a conv differing inside the
    prefix stays unique. Fingerprint checked against a direct md5."""
    import hashlib
    import os

    from denrl_spark.plans.driver_queries import (
        CONV_PREFIX_K, text_conv_prefix_dedup,
    )

    # doc_id // 4 = conv, doc_id % 4 = turn
    texts = {
        0: "hello agent", 1: "hi user", 2: "conv0 tail a", 3: "conv0 tail b",
        4: "hello agent", 5: "hi user", 6: "conv1 DIVERGED", 7: "other",
        8: "hello agent", 9: "DIFFERENT reply", 10: "x", 11: "y",
    }
    d = str(tmp_path / "prefix")
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    rows = {r["conv_id"]: r for r in text_conv_prefix_dedup(spark, d).collect()}
    assert len(rows) == 3
    c0, c1, c2 = sorted(rows)
    assert rows[c0]["is_dup"] == 0 and rows[c0]["keep_conv_id"] == c0
    assert rows[c1]["is_dup"] == 1 and rows[c1]["keep_conv_id"] == c0
    assert rows[c2]["is_dup"] == 0 and rows[c2]["keep_conv_id"] == c2
    assert rows[c0]["prefix_fp"] == rows[c1]["prefix_fp"] != rows[c2]["prefix_fp"]
    fp = hashlib.md5("\x1f".join(["hello agent", "hi user"]).encode()).hexdigest()
    assert rows[c0]["prefix_fp"] == fp
    assert CONV_PREFIX_K == 2  # fingerprint above spans exactly the prefix


def test_ngram_novelty_transcription(spark, tmp_path):
    """text_ngram_novelty == a literal Python recomputation: 3-gram
    instances per doc, dup = shingle present in >= 2 distinct docs,
    novelty in exact ppm, -1 sentinel for docs too short to shingle.
    The gadget shares one 5-token block between doc 0 and doc 2."""
    import os
    from collections import Counter, defaultdict

    from denrl_spark.plans.driver_queries import text_ngram_novelty

    texts = {
        0: "alpha beta gamma delta epsilon unique0 tail0",
        1: "totally different words here now",
        2: "alpha beta gamma delta epsilon other2 end2",
        3: "too short",  # < 3 tokens after split? 2 tokens -> no shingles
    }
    d = str(tmp_path / "novelty")
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars int",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    def sh(t):
        toks = t.split(" ")
        return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]

    docs_of = defaultdict(set)
    for i, t in texts.items():
        for g in set(sh(t)):
            docs_of[g].add(i)
    expect = {}
    for i, t in texts.items():
        grams = sh(t)
        if not grams:
            expect[i] = (0, 0, -1)
            continue
        dup = sum(1 for g in grams if len(docs_of[g]) >= 2)
        expect[i] = (
            len(grams), dup, (1000000 * (len(grams) - dup)) // len(grams)
        )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"], r["novelty_ppm"])
        for r in text_ngram_novelty(spark, d).collect()
    }
    assert got == expect
    assert got[3] == (0, 0, -1)          # sentinel row present
    assert got[1][1] == 0                # fully novel doc
    assert got[0][1] == 3 and got[2][1] == 3  # the shared 5-token block


def test_bloom_filter_transcription_and_one_sided(spark, tmp_path):
    """rel_bloom_filter == a literal Python transcription of the
    build/probe rule (deterministic md5 bit coordinates), and the
    one-sided error contract holds on EVERY row: bloom_hit >=
    is_member (no false negatives, ever). The gadget probes a strict
    superset of the member set so true hits AND true misses are both
    exercised; with 900 members over 4096 bits (~48% set) at K=3,
    false positives occur with overwhelming probability and the
    transcription pins each one exactly."""
    import hashlib
    import os

    from denrl_spark.plans.driver_queries import (
        BLOOM_K, BLOOM_M, rel_bloom_filter,
    )

    members = list(range(0, 1800, 2))           # 900 member keys
    probes = list(range(1800))                   # superset: odds are misses
    d = str(tmp_path / "bloom")
    spark.createDataFrame(
        [(i, m, "1995-01-01", 1.0, "O") for i, m in enumerate(members)],
        "o_orderkey long, o_custkey long, o_orderdate string, "
        "o_totalprice double, o_orderpriority string",
    ).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(c, f"c{c}", 0) for c in probes],
        "c_custkey long, c_name string, c_nationkey int",
    ).write.parquet(os.path.join(d, "customer.parquet"))

    def bit(key: str, j: int) -> int:
        return int(hashlib.md5(f"{j}:{key}".encode()).hexdigest()[:12],
                   16) % BLOOM_M

    set_bits = {bit(str(m), j) for m in members for j in range(BLOOM_K)}
    expect = {}
    for c in probes:
        hit = int(all(bit(str(c), j) in set_bits for j in range(BLOOM_K)))
        expect[c] = (int(c in set(members)), hit)

    got = {
        r["c_custkey"]: (r["is_member"], r["bloom_hit"])
        for r in rel_bloom_filter(spark, d).collect()
    }
    assert got == expect
    # one-sided error: never a false negative
    assert all(h >= m for m, h in got.values())
    # all three regimes exercised: true hit, true miss, false positive
    assert any(m == 1 and h == 1 for m, h in got.values())
    assert any(m == 0 and h == 0 for m, h in got.values())
    assert any(m == 0 and h == 1 for m, h in got.values())


def test_transition_counts_transcription(spark):
    """rel_transition_counts == a literal Python transcription: per
    user, events totally ordered by (ts, event_id), adjacent pairs
    tallied, P(to|from) floored to exact ppm; cells partition the
    pair count and each from-row's ppm sums to <= 1e6."""
    from collections import defaultdict

    from denrl_spark.plans.driver_queries import rel_transition_counts

    sf = "/root/testdata/sf0.001"
    got = {
        (r["from_type"], r["to_type"]): (int(r["n"]), int(r["p_ppm"]))
        for r in rel_transition_counts(spark, sf).collect()
    }
    rows = spark.read.parquet(f"{sf}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    counts: dict = defaultdict(int)
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            counts[(a, b)] += 1
    tot = defaultdict(int)
    for (a, _), n in counts.items():
        tot[a] += n
    want = {
        (a, b): (n, (1_000_000 * n) // tot[a]) for (a, b), n in counts.items()
    }
    assert got == want and len(got) > 0
    # each from-row's conditional ppm mass is bounded by 1e6 (floor loss)
    mass = defaultdict(int)
    for (a, _), (_, ppm) in got.items():
        mass[a] += ppm
    assert all(0 < m <= 1_000_000 for m in mass.values())


def test_gap_islands_transcription_and_partition(spark):
    """rel_gap_islands == a literal Python transcription of the
    rn - row_number island rule over the Knuth-hash survivor set;
    islands partition the survivors into disjoint maximal runs."""
    from collections import defaultdict

    from denrl_spark.plans.driver_queries import rel_gap_islands

    sf = "/root/testdata/sf0.001"
    got = defaultdict(list)
    for r in rel_gap_islands(spark, sf).collect():
        got[r["user_id"]].append((r["start_rn"], r["end_rn"], r["n_run"]))
    rows = spark.read.parquet(f"{sf}/events.parquet").collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"]))
    want = defaultdict(list)
    any_gap = False
    for uid, seq in by_user.items():
        seq.sort()
        kept = [
            rn
            for rn, (_, eid) in enumerate(seq, start=1)
            if (eid * 2654435761) % 4 != 0
        ]
        runs, i = [], 0
        while i < len(kept):
            j = i
            while j + 1 < len(kept) and kept[j + 1] == kept[j] + 1:
                j += 1
            runs.append((kept[i], kept[j], j - i + 1))
            i = j + 1
        if len(runs) > 1:
            any_gap = True
        if runs:
            want[uid] = runs
    assert {u: sorted(v) for u, v in got.items()} == {
        u: sorted(v) for u, v in want.items()
    }
    assert any_gap  # the drop rule actually fragments some sequence
    # islands are disjoint and maximal: n_run == end - start + 1 and
    # consecutive islands of one user never touch
    for runs in got.values():
        runs.sort()
        for s, e, n in runs:
            assert n == e - s + 1
        for (_, e1, _), (s2, _, _) in zip(runs, runs[1:]):
            assert s2 > e1 + 1


def test_concurrency_transcription_and_boundary_ties(spark):
    """rel_concurrency == a literal Python sweep (sorted deltas, ends
    before same-instant starts, per-hour max of the running count) at
    sf0.001, plus a hand gadget where an interval END coincides with
    the next START to pin the [s, e) tie rule."""
    from collections import defaultdict

    from denrl_spark.plans.driver_queries import rel_concurrency

    sf = "/root/testdata/sf0.001"
    got = {
        (r["event_type"], r["hour_bucket"]): r["max_concurrent"]
        for r in rel_concurrency(spark, sf).collect()
    }
    rows = spark.read.parquet(f"{sf}/events.parquet").collect()
    deltas = defaultdict(list)
    for r in rows:
        t = int(r["ts"].timestamp())
        deltas[r["event_type"]].append((t, 1))
        deltas[r["event_type"]].append((t + 1800, -1))
    want: dict = {}
    for etype, ds in deltas.items():
        run = 0
        for t, delta in sorted(ds):
            run += delta
            key = (etype, t // 3600)
            want[key] = max(want.get(key, -(10**9)), run)
    assert got == want and len(got) > 0
    assert any(v > 1 for v in got.values())  # overlap actually occurs

    # boundary gadget: B starts exactly when A ends -> never concurrent
    import datetime as dt

    mk = lambda s: dt.datetime(2025, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)
    gadget = spark.createDataFrame(
        [(1, mk(0), 1, "x", 0.0, ""), (2, mk(1800), 1, "x", 0.0, "")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        gadget.write.parquet(os.path.join(td, "events.parquet"))
        g = {
            r["hour_bucket"]: r["max_concurrent"]
            for r in rel_concurrency(spark, td).collect()
        }
    assert max(g.values()) == 1


def test_rollup_agg_levels_and_exact_cents(spark):
    """rel_rollup_agg: leaf rows sum to their priority subtotal, which
    sums to the grand total, in exact integer cents; GROUPING flags
    mark exactly the three lattice levels."""
    from denrl_spark.plans.driver_queries import rel_rollup_agg

    rows = rel_rollup_agg(spark, "/root/testdata/sf0.001").collect()
    leaf = [r for r in rows if (r["g_prio"], r["g_stat"]) == (0, 0)]
    sub = [r for r in rows if (r["g_prio"], r["g_stat"]) == (0, 1)]
    top = [r for r in rows if (r["g_prio"], r["g_stat"]) == (1, 1)]
    assert len(top) == 1 and len(leaf) + len(sub) + 1 == len(rows)
    assert sum(r["n"] for r in leaf) == top[0]["n"]
    assert sum(r["sum_cents"] for r in leaf) == top[0]["sum_cents"]
    for s in sub:
        mine = [r for r in leaf if r["o_orderpriority"] == s["o_orderpriority"]]
        assert sum(r["n"] for r in mine) == s["n"]
        assert sum(r["sum_cents"] for r in mine) == s["sum_cents"]


def test_anomaly_exact_three_sigma_rule(spark, tmp_path):
    """rel_anomaly flags exactly the rows a Python transcription of the
    integer 3-sigma rule flags (upper tail only), z_e3 matches the one
    deterministic double chain, and a constant-valued key flags
    nothing (zero variance never divides)."""
    import datetime
    import math
    import os

    from denrl_spark.plans.driver_queries import rel_anomaly

    t0 = datetime.datetime(2024, 1, 1)
    vals = {
        # one violent outlier over a tight cluster (a single point among
        # n can reach at most z ~ sqrt(n-1), so n must exceed ~10 for a
        # 3-sigma flag to be reachable at all)
        "click": [10.0 + 0.1 * (i % 5) for i in range(30)] + [99.0],
        # constant key: variance 0, nothing can flag
        "view": [5.0, 5.0, 5.0, 5.0],
        # mild spread, max inside 3 sigma
        "error": [1.0, 2.0, 3.0, 4.0, 5.0],
    }
    rows, eid = [], 0
    for et, vs in vals.items():
        for x in vs:
            rows.append((eid, t0, eid % 3, et, x, "{}"))
            eid += 1
    d = str(tmp_path / "anom")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    exp = {}
    eid = 0
    for et, vs in vals.items():
        cents = [math.floor(x * 100) for x in vs]
        n, s, q = len(cents), sum(cents), sum(c * c for c in cents)
        for c in cents:
            dev = c * n - s
            if dev > 0 and dev * dev > 9 * (n * q - s * s):
                exp[eid] = (et, c, math.floor(1000 * dev / math.sqrt(n * q - s * s)))
            eid += 1

    got = {r["event_id"]: (r["event_type"], r["v_cents"], r["z_e3"])
           for r in rel_anomaly(spark, d).collect()}
    assert got == exp
    assert len(exp) == 1 and list(exp.values())[0][0] == "click"
    assert not any(et == "view" for et, _, _ in got.values())


def test_abtest_exact_pooled_z_rule(spark, tmp_path):
    """rel_abtest against a Python transcription of the pooled
    two-proportion rule: a crafted blatant variant split flags
    significant=1, a balanced one flags 0, and z2_e6 matches the exact
    integer formula (scipy-free by construction)."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_abtest

    t0 = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for variant, conv, total, et in [
        (0, 90, 100, "click"), (1, 10, 100, "click"),
        (0, 50, 100, "view"), (1, 50, 100, "view"),
    ]:
        for i in range(total):
            val = 99.0 if i < conv else 1.0
            rows.append((eid, t0, variant + 2 * i, et, val, "{}"))
            eid += 1
    d = str(tmp_path / "ab")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    got = {r["event_type"]: r for r in rel_abtest(spark, d).collect()}
    for et, (x1, n1, x2, n2) in {
        "click": (90, 100, 10, 100), "view": (50, 100, 50, 100)
    }.items():
        r = got[et]
        assert (r["n1"], r["x1"], r["n2"], r["x2"]) == (n1, x1, n2, x2)
        dev = x1 * n2 - x2 * n1
        n, x = n1 + n2, x1 + x2
        num, den = dev * dev * n, n1 * n2 * x * (n - x)
        assert r["z2_e6"] == (1_000_000 * num) // den
        assert r["significant"] == int(num > 9 * den)
    assert got["click"]["significant"] == 1
    assert got["view"]["significant"] == 0 and got["view"]["z2_e6"] == 0


def test_changepoint_exact_cusum_argmax(spark, tmp_path):
    """rel_changepoint finds the constructed level shift: a series
    that jumps from ~10 to ~90 at index k maximizes |n*P_t - t*S|
    exactly at t = k, and the statistic matches a literal Python
    transcription (ties -> smallest t)."""
    import datetime
    import math
    import os

    from denrl_spark.plans.driver_queries import rel_changepoint

    t0 = datetime.datetime(2024, 1, 1)
    series = {
        "click": [10.0] * 12 + [90.0] * 8,      # shift at t=12
        "view": [50.0] * 10,                     # flat: dev 0 everywhere -> t=1
    }
    rows, eid = [], 0
    for et, vs in series.items():
        for i, x in enumerate(vs):
            rows.append((eid, t0 + datetime.timedelta(seconds=i), eid % 3, et, x, "{}"))
            eid += 1
    d = str(tmp_path / "cp")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    got = {r["event_type"]: r for r in rel_changepoint(spark, d).collect()}
    eid = 0
    for et, vs in series.items():
        cents = [math.floor(x * 100) for x in vs]
        n, s = len(cents), sum(cents)
        best = None
        p = 0
        for t, c in enumerate(cents, 1):
            p += c
            dev = abs(n * p - t * s)
            if best is None or dev > best[0]:
                best = (dev, t, eid + t - 1)
        eid += len(cents)
        r = got[et]
        assert (r["cusum_max"], r["cp_t"], r["cp_event_id"]) == best
        assert r["n"] == n
    assert got["click"]["cp_t"] == 12
    assert got["view"]["cusum_max"] == 0 and got["view"]["cp_t"] == 1


def test_rolling_distinct_window_semantics(spark, tmp_path):
    """rel_rolling_distinct against explicit per-day enumeration: a
    user active on day d counts toward WAU on days d..d+6 only, DAU
    counts distinct users (not events), and only observed days get a
    row."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_rolling_distinct

    day0 = datetime.datetime(2024, 1, 1)
    # (user, day) activity; user 1 active days 0 and 8, user 2 day 0
    # twice (dedup), user 3 day 3
    acts = [(1, 0), (1, 0), (2, 0), (1, 8), (3, 3), (2, 3)]
    rows = [
        (i, day0 + datetime.timedelta(days=d, hours=2), u, "view", 1.0, "{}")
        for i, (u, d) in enumerate(acts)
    ]
    d = str(tmp_path / "roll")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    base = (day0 - datetime.datetime(1970, 1, 1)).days
    per_day = {}
    for u, dd in acts:
        per_day.setdefault(base + dd, set()).add(u)
    got = {r["day"]: r for r in rel_rolling_distinct(spark, d).collect()}
    assert set(got) == set(per_day)  # only observed days
    for day, users in per_day.items():
        wau = {
            u for d2, us in per_day.items() for u in us if day - 6 <= d2 <= day
        }
        r = got[day]
        assert r["dau"] == len(users)
        assert r["wau"] == len(wau)
        assert r["stickiness_e6"] == (1_000_000 * len(users)) // len(wau)
    # day 8's trailing window [2, 8] drops day-0 activity but keeps
    # day 3 (users 2, 3) plus day-8 user 1; day 0 sees only itself
    assert got[base + 8]["wau"] == 3 and got[base + 8]["dau"] == 1
    assert got[base]["wau"] == 2 and got[base]["dau"] == 2


def test_benford_profile_exact_digits(spark, tmp_path):
    """rel_benford against literal digit extraction: cents-quantized
    leading digits, sub-cent values excluded, shares floor to 1e-6 and
    sum to <= 1e6 per key."""
    import datetime
    import math
    import os

    from denrl_spark.plans.driver_queries import rel_benford

    t0 = datetime.datetime(2024, 1, 1)
    vals = [1.23, 12.3, 123.0, 9.99, 0.001, 0.02, 555.5, 5.0, 0.009]
    rows = [(i, t0, i, "click", v, "{}") for i, v in enumerate(vals)]
    d = str(tmp_path / "ben")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    cents = [math.floor(v * 100) for v in vals]
    kept = [c for c in cents if c >= 1]
    exp: dict = {}
    for c in kept:
        dgt = int(str(c)[0])
        exp[dgt] = exp.get(dgt, 0) + 1
    got = {r["digit"]: r for r in rel_benford(spark, d).collect()}
    assert {k: r["n"] for k, r in got.items()} == exp
    t = len(kept)
    for dgt, r in got.items():
        assert r["share_e6"] == (1_000_000 * exp[dgt]) // t
    assert sum(r["share_e6"] for r in got.values()) <= 1_000_000
    # 0.001 and 0.009 quantize below one cent and are excluded
    assert t == len(vals) - 2


def test_conversion_latency_exact_rank_rule(spark, tmp_path):
    """rel_conversion_latency against a Python transcription: only
    strictly-later clicks convert, latency = first click - first view,
    and each percentile is the min latency with rank >= ceil(q*n/100)."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_conversion_latency

    t0 = datetime.datetime(2024, 1, 1)

    def ev(eid, u, sec, et):
        return (eid, t0 + datetime.timedelta(seconds=sec), u, et, 1.0, "{}")

    rows = [
        # u1 converts in 10s; u2 in 100s; u3 in 1000s; u4 in 5s
        ev(0, 1, 0, "view"), ev(1, 1, 10, "click"),
        ev(2, 2, 0, "view"), ev(3, 2, 100, "click"),
        ev(4, 3, 0, "view"), ev(5, 3, 1000, "click"),
        ev(6, 4, 0, "view"), ev(7, 4, 5, "click"),
        # u5: click BEFORE view only -> no conversion
        ev(8, 5, 0, "click"), ev(9, 5, 10, "view"),
        # u6: view only
        ev(10, 6, 0, "view"),
    ]
    d = str(tmp_path / "lat")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    lats = sorted([10, 100, 1000, 5])
    n = len(lats)
    exp = {}
    for q in (50, 90, 99):
        rank = -(-q * n // 100)  # ceil
        exp[q] = lats[rank - 1]
    got = {r["quantile_pct"]: r["latency_s"]
           for r in rel_conversion_latency(spark, d).collect()}
    assert got == exp
    assert got[50] == 10 and got[99] == 1000
