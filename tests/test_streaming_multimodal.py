"""Structured Streaming ingestion tests."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from denrl_spark.sources.corpus import transcripts
from denrl_spark.streaming.ingest import (
    stream_transcripts,
    stream_triples,
    windowed_turn_counts,
)


@pytest.fixture(scope="module")
def transcript_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    transcripts(spark, 40, seed=42).write.mode("overwrite").parquet(d)
    return d


def test_windowed_counts_memory_sink(spark, transcript_dir):
    stream = stream_transcripts(spark, transcript_dir)
    agg = windowed_turn_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("turn_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM turn_counts")
        total = out.agg(F.sum("n_turns")).collect()[0][0]
        batch_total = spark.read.parquet(transcript_dir).count()
        assert total == batch_total
        assert out.where("win_start >= win_end").count() == 0
    finally:
        q.stop()


def test_stream_triples_matches_batch(spark, transcript_dir, tmp_path):
    from denrl_spark.operators.spans import assemble_triples
    from denrl_spark.operators.tagging import build_instances
    from denrl_spark.sources.kb import KB

    sink = str(tmp_path / "triples_out")
    ck = str(tmp_path / "ck")
    stream = stream_transcripts(spark, transcript_dir)
    q = stream_triples(stream, sink, ck)
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    batch = assemble_triples(build_instances(spark.read.parquet(transcript_dir), KB.default()))
    # whole triple rows, the carried (conv_id, turn_idx) key included
    a = sorted(map(tuple, got.select(*batch.columns).collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_stateful_running_stats(spark, transcript_dir):
    from denrl_spark.operators.spans import assemble_triples
    from denrl_spark.operators.tagging import build_instances
    from denrl_spark.sources.kb import KB
    from denrl_spark.streaming.stateful import running_conv_stats

    stream = stream_transcripts(spark, transcript_dir)
    stats = running_conv_stats(stream)
    q = (
        stats.writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_stats")
        .start()
    )
    try:
        q.processAllAvailable()
        # latest state per conv (update mode may emit one row per batch)
        out = spark.sql(
            """SELECT conv_id, max(n_turns) n_turns, max(n_triples) n_triples
               FROM conv_stats GROUP BY conv_id"""
        ).collect()
        got = {r["conv_id"]: (r["n_turns"], r["n_triples"]) for r in out}
        tr = spark.read.parquet(transcript_dir)
        exp_turns = dict(
            (r["conv_id"], r["count"]) for r in tr.groupBy("conv_id").count().collect()
        )
        ins = build_instances(tr, KB.default())
        trips = assemble_triples(ins)
        exp_trips = dict(
            (r["conv_id"], r["count"])
            for r in trips.groupBy("conv_id").count().collect()
        )
        assert set(got) == set(exp_turns)
        for c in got:
            assert got[c][0] == exp_turns[c], c
            assert got[c][1] == exp_trips.get(c, 0), c
    finally:
        q.stop()


def test_session_window_counts(spark, transcript_dir):
    from denrl_spark.streaming.ingest import session_turn_counts

    stream = stream_transcripts(spark, transcript_dir)
    agg = session_turn_counts(stream, gap="30 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM sess_counts")
        total = out.agg(F.sum("n_turns")).collect()[0][0]
        assert total == spark.read.parquet(transcript_dir).count()
        # sessions are well-formed and per-conv turn sums match batch
        assert out.where("sess_start >= sess_end").count() == 0
        per_conv = {
            r["conv_id"]: r["s"]
            for r in out.groupBy("conv_id").agg(F.sum("n_turns").alias("s")).collect()
        }
        exp = {
            r["conv_id"]: r["count"]
            for r in spark.read.parquet(transcript_dir).groupBy("conv_id").count().collect()
        }
        assert per_conv == exp
    finally:
        q.stop()


def test_dedup_stream_drops_duplicates(spark, transcript_dir, tmp_path):
    """Streaming exact dedup: duplicated files in the source fold to one
    row per distinct text (state bounded by the watermark horizon)."""
    from denrl_spark.streaming.ingest import dedup_stream

    # duplicate the corpus into the stream directory twice
    d = str(tmp_path / "dup_in")
    base = spark.read.parquet(transcript_dir)
    base.write.mode("overwrite").parquet(d)
    base.write.mode("append").parquet(d)

    stream = stream_transcripts(spark, d)
    deduped = dedup_stream(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM dedup_out")
        n_distinct_batch = base.select(F.md5("text")).distinct().count()
        assert out.count() == n_distinct_batch
        assert out.select("text_hash").distinct().count() == n_distinct_batch
    finally:
        q.stop()


def test_minhash_signature_cols_match_aggregated(spark, transcript_dir):
    """The per-row (streaming-legal) signature equals the groupBy
    band-min signature row-for-row on real corpus text."""
    from denrl_spark.functions.textops import (
        minhash_signature_cols,
        minhash_signatures,
    )

    docs = (
        spark.read.parquet(transcript_dir)
        .select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text")
        .where(F.size(F.split("text", " ")) >= 3)
        .limit(200)
    )
    per_row = {
        r["doc_id"]: tuple(r[f"mh{b}"] for b in range(8))
        for r in minhash_signature_cols(docs).collect()
    }
    agg = {}
    for r in minhash_signatures(docs).collect():
        agg.setdefault(r["doc_id"], {})[r["band"]] = r["mh"]
    assert len(per_row) == len(agg) > 0
    for doc_id, sig in per_row.items():
        assert sig == tuple(agg[doc_id][b] for b in range(8)), doc_id


def test_dedup_stream_near_drops_signature_duplicates(spark, transcript_dir, tmp_path):
    from denrl_spark.streaming.ingest import dedup_stream_near

    d = str(tmp_path / "near_in")
    base = spark.read.parquet(transcript_dir)
    base.write.mode("overwrite").parquet(d)
    base.write.mode("append").parquet(d)  # every signature duplicated

    stream = stream_transcripts(spark, d)
    q = (
        dedup_stream_near(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("near_out")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM near_out")
        # one survivor per distinct full signature in the batch twin
        from denrl_spark.functions.textops import minhash_signature_cols

        sig_cols = [f"mh{b}" for b in range(8)]
        n_sigs = minhash_signature_cols(base).select(*sig_cols).distinct().count()
        assert out.count() == n_sigs
        assert out.select(*sig_cols).distinct().count() == n_sigs
    finally:
        q.stop()


def test_stream_graph_deltas_view_equals_batch_graph(spark, transcript_dir, tmp_path):
    """The streamed delta log, compacted, equals the batch graph's edge
    table exactly — incremental KG maintenance is semantics-preserving.
    maxFilesPerTrigger=4 over the multi-file corpus forces multiple
    micro-batches, so cross-batch aggregation is genuinely exercised."""
    from denrl_spark.operators.graph import materialize_graph
    from denrl_spark.operators.spans import assemble_triples
    from denrl_spark.operators.tagging import build_instances
    from denrl_spark.sources.kb import KB
    from denrl_spark.streaming.ingest import graph_edges_view, stream_graph_deltas

    kb = KB.default()
    sink = str(tmp_path / "graph_deltas")
    ck = str(tmp_path / "graph_ck")
    # maxFilesPerTrigger=2 forces >=3 micro-batches so the compactor's
    # never-fold-the-newest policy is exercised with a non-trivial fold set
    q = stream_graph_deltas(
        stream_transcripts(spark, transcript_dir, max_files_per_trigger=2),
        sink, ck, kb,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        tuple(r)
        for r in graph_edges_view(spark, sink)
        .select("src_id", "src_surface", "pred", "dst_id", "dst_surface",
                "n_obs", "n_sents", "first_sent_id", "last_sent_id")
        .collect()
    }
    batch = spark.read.parquet(transcript_dir)
    trips = assemble_triples(build_instances(batch, kb)).cache()
    trips.count()
    _, edges = materialize_graph(trips, eager="edges")
    trips.unpersist()
    expect = {
        tuple(r)
        for r in edges.select("src_id", "src_surface", "pred", "dst_id",
                              "dst_surface", "n_obs", "n_sents", "first_sent_id", "last_sent_id").collect()
    }
    assert len(got) > 0 and got == expect

    # vertices twin: same delta log, same batch equality (types as sets)
    from denrl_spark.streaming.ingest import graph_vertices_view

    trips.cache().count()
    vertices, _ = materialize_graph(trips, eager="vertices")
    trips.unpersist()
    norm_v = lambda rows: {  # noqa: E731
        (r["canonical_id"], r["canonical_surface"], frozenset(r["types"]), r["n_mentions"])
        for r in rows
    }
    got_v = norm_v(graph_vertices_view(spark, sink).collect())
    exp_v = norm_v(vertices.collect())
    assert len(got_v) > 0 and got_v == exp_v

    # compaction: fold the multi-batch log to one base delta; views
    # unchanged, read amplification bounded
    import os

    from denrl_spark.streaming.ingest import compact_graph_deltas

    batch_dirs = sorted(
        [d for d in os.listdir(f"{sink}/edges") if d.startswith("batch_id=")],
        key=lambda d: int(d.split("=", 1)[1]),
    )
    n_batches = len(batch_dirs)
    assert n_batches >= 3  # the multi-micro-batch premise of this test
    newest = batch_dirs[-1]
    folded = compact_graph_deltas(spark, sink)
    # replay safety: the newest batch dir is never folded (it is the only
    # one a restarted stream can replay; folding it would double-count)
    assert folded == 4 * (n_batches - 1)  # edges + vertices + mentions + sents
    for part in ("edges", "vertices", "mentions"):
        dirs = sorted(
            [d for d in os.listdir(f"{sink}/{part}") if d.startswith("batch_id=")],
            key=lambda d: int(d.split("=", 1)[1]),
        )
        assert dirs == ["batch_id=-1", newest], part
    got2 = {
        tuple(r)
        for r in graph_edges_view(spark, sink)
        .select("src_id", "src_surface", "pred", "dst_id", "dst_surface",
                "n_obs", "n_sents", "first_sent_id", "last_sent_id")
        .collect()
    }
    assert got2 == expect
    assert norm_v(graph_vertices_view(spark, sink).collect()) == exp_v
    # idempotent: nothing left to fold
    assert compact_graph_deltas(spark, sink) == 0

    # composition: the analytics operators consume the INCREMENTAL edge
    # view directly (same column contract as the batch edge table) and
    # agree with the batch graph — schema drift between the streaming
    # surface and graph_analytics would fail here
    from denrl_spark.operators.graph_analytics import degrees, pagerank

    view = graph_edges_view(spark, sink)
    deg_view = {tuple(r) for r in degrees(view).collect()}
    deg_batch = {tuple(r) for r in degrees(edges).collect()}
    assert len(deg_view) > 0 and deg_view == deg_batch
    pr_view = {r["surface"]: r["rank"] for r in pagerank(view, iters=2).collect()}
    pr_batch = {r["surface"]: r["rank"] for r in pagerank(edges, iters=2).collect()}
    assert pr_view.keys() == pr_batch.keys()
    assert all(abs(pr_view[k] - pr_batch[k]) < 1e-12 for k in pr_view)


def test_stream_graph_deltas_releases_caches_on_failed_write(
    spark, transcript_dir, tmp_path
):
    """A delta write that fails (its path is an existing regular file)
    fails the stream AND releases the micro-batch's triple cache: no
    persistent RDD made during the stream is left. (Ids, not a count:
    the context cleaner may drop earlier tests' checkpointed RDDs
    meanwhile.)"""
    from pyspark.errors import StreamingQueryException

    from denrl_spark.streaming.ingest import stream_graph_deltas

    sink = tmp_path / "graph_deltas"
    sink.mkdir()
    (sink / "vertices").write_text("a file where a delta directory goes")
    before = set(spark.sparkContext._jsc.getPersistentRDDs())
    q = stream_graph_deltas(
        stream_transcripts(spark, transcript_dir), str(sink), str(tmp_path / "ck")
    )
    try:
        with pytest.raises(StreamingQueryException):
            q.processAllAvailable()
    finally:
        q.stop()
    # the edge delta was written from the filled caches before the failure
    assert (sink / "edges").is_dir()
    assert set(spark.sparkContext._jsc.getPersistentRDDs()) <= before


def test_compact_graph_deltas_crash_recovery(spark, tmp_path):
    """The manifest protocol's two recovery paths: a side dir WITHOUT a
    manifest is an aborted fold (discarded, data re-folded from the
    intact log); a side dir WITH a manifest is a committed fold whose
    interrupted batch-removal is resumed — no data lost or duplicated
    in either case."""
    import json
    import os

    from denrl_spark.streaming.ingest import compact_graph_deltas

    def make_log(sink):
        sch = "ent1 string, pred string, ent2 string, sent_id long, n_obs long"
        a = spark.createDataFrame([("x", "/r/p", "y", 1, 2)], sch)
        b = spark.createDataFrame([("x", "/r/p", "y", 2, 3)], sch)
        c = spark.createDataFrame([("x", "/r/p", "y", 3, 1)], sch)
        a.write.parquet(f"{sink}/edges/batch_id=0")
        b.write.parquet(f"{sink}/edges/batch_id=1")
        # batch 2 is the newest = replayable: the compactor must leave it
        c.write.parquet(f"{sink}/edges/batch_id=2")

    def edge_rows(sink):
        return {
            tuple(r)
            for r in spark.read.parquet(f"{sink}/edges")
            .select("ent1", "pred", "ent2", "sent_id", "n_obs")
            .collect()
        }

    expect = {
        ("x", "/r/p", "y", 1, 2),
        ("x", "/r/p", "y", 2, 3),
        ("x", "/r/p", "y", 3, 1),
    }

    # path A: aborted fold — side dir with (bogus) parquet, NO manifest
    s1 = str(tmp_path / "log_a")
    make_log(s1)
    spark.createDataFrame(
        [("BOGUS", "/r/p", "z", 9, 9)],
        "ent1 string, pred string, ent2 string, sent_id long, n_obs long",
    ).write.parquet(f"{s1}/.compact_edges")
    # batches 0 and 1 fold; batch 2 (newest = replayable) is left alone
    assert compact_graph_deltas(spark, s1) == 2
    assert edge_rows(s1) == expect  # bogus side discarded, real log folded
    assert sorted(os.listdir(f"{s1}/edges")) == ["batch_id=-1", "batch_id=2"]

    # path B: committed fold, removal interrupted after one of two dirs
    s2 = str(tmp_path / "log_b")
    make_log(s2)
    fold = spark.read.parquet(f"{s2}/edges/batch_id=0", f"{s2}/edges/batch_id=1")
    fold.write.parquet(f"{s2}/.compact_edges")
    with open(f"{s2}/.compact_edges/_FOLDED", "w") as f:
        json.dump(["batch_id=0", "batch_id=1"], f)
    import shutil

    shutil.rmtree(f"{s2}/edges/batch_id=1")  # simulate the crash point
    compact_graph_deltas(spark, s2)  # resumes: removes =0, renames side
    assert edge_rows(s2) == expect
    assert sorted(os.listdir(f"{s2}/edges")) == ["batch_id=-1", "batch_id=2"]


def test_stream_near_dedup_keep_equals_batch(spark, tmp_path):
    """Cross-batch near-dup suppression: the streaming keep-list over a
    time-ordered multi-batch stream equals the one-shot batch keep-list
    (textops.near_dedup_greedy) — duplicates arriving many batches after
    their original are still suppressed (full seen-set, unlike the
    watermark-horizon dedup_stream_near)."""
    import os
    from datetime import datetime, timezone

    from denrl_spark.functions.textops import near_dedup_greedy
    from denrl_spark.streaming.ingest import stream_near_dedup_keep

    A = "alpha beta gamma delta epsilon zeta eta"
    B = "one two three four five six seven"
    A_near = "alpha beta gamma delta epsilon zeta NINE"  # shares most shingles
    C = "unique tokens that appear nowhere else at all"
    D = "totally different closing content words here now"
    batches = [
        [("c0", 0, A, 100), ("c0", 1, B, 101)],
        [("c1", 0, A, 200), ("c1", 1, C, 201)],  # A again: must drop
        [("c2", 0, B, 300), ("c2", 1, A_near, 301), ("c2", 2, D, 302)],
    ]
    src = tmp_path / "nd_in"
    os.makedirs(src)
    all_rows = []
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                (cid, tix, "user", txt, None, datetime.fromtimestamp(ts, tz=timezone.utc))
                for cid, tix, txt, ts in rows
            ],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        staged = str(tmp_path / f"nd_stage_{i}")
        df.coalesce(1).write.parquet(staged)
        part = next(
            fn for fn in os.listdir(staged)
            if fn.startswith("part-") and fn.endswith(".parquet")
        )
        dst = str(src / f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        # ascending mtimes pin the file-source processing order = ts order
        os.utime(dst, (1000 + i, 1000 + i))
        all_rows.extend(rows)

    sink = str(tmp_path / "nd_sink")
    ck = str(tmp_path / "nd_ck")
    stream = stream_transcripts(spark, str(src), max_files_per_trigger=1)
    q = stream_near_dedup_keep(stream, sink, ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # one kept/ and claims/ dir per non-empty micro-batch
    kept_dirs = [d for d in os.listdir(f"{sink}/kept") if d.startswith("batch_id=")]
    assert len(kept_dirs) == 3

    got = {
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(f"{sink}/kept").collect()
    }
    full = spark.createDataFrame(
        [
            (cid, tix, "user", txt, None, datetime.fromtimestamp(ts, tz=timezone.utc))
            for cid, tix, txt, ts in all_rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    kept_batch, _claims = near_dedup_greedy(full, ["ts", "conv_id", "turn_idx"])
    want = {(r["conv_id"], r["turn_idx"]) for r in kept_batch.collect()}
    assert got == want and len(got) > 0
    # the exact cross-batch duplicates are suppressed, originals kept
    assert ("c0", 0) in got and ("c0", 1) in got
    assert ("c1", 0) not in got  # A replayed two batches later
    assert ("c2", 0) not in got  # B replayed two batches later

    # claims-log compaction: same fold protocol as the graph delta log —
    # effective claim set unchanged, newest batch dir left for replay
    from denrl_spark.streaming.ingest import compact_dedup_claims

    before = {
        (r["band"], r["mh"])
        for r in spark.read.parquet(f"{sink}/claims").collect()
    }
    assert compact_dedup_claims(spark, sink) == 2  # 3 dirs, newest kept
    dirs = sorted(
        d for d in os.listdir(f"{sink}/claims") if d.startswith("batch_id=")
    )
    assert dirs == ["batch_id=-1", "batch_id=2"]
    after = {
        (r["band"], r["mh"])
        for r in spark.read.parquet(f"{sink}/claims").collect()
    }
    assert after == before


def test_stream_near_dedup_horizon_eviction(spark, tmp_path):
    """With horizon_s set, claims older than (batch max ts - horizon) are
    ignored: a duplicate arriving AFTER the horizon is kept again (state
    behaves like a watermark), while one inside the horizon is dropped."""
    import os
    from datetime import datetime, timezone

    from denrl_spark.streaming.ingest import stream_near_dedup_keep

    A = "alpha beta gamma delta epsilon zeta eta"
    B = "one two three four five six seven"
    batches = [
        [("c0", 0, A, 1000), ("c0", 1, B, 1000)],
        [("c1", 0, A, 1500)],          # inside 1h horizon: dropped
        [("c2", 0, A, 1000 + 7200)],   # 2h later: claim expired, kept
    ]
    src = tmp_path / "h_in"
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                (cid, tix, "user", txt, None, datetime.fromtimestamp(ts, tz=timezone.utc))
                for cid, tix, txt, ts in rows
            ],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        staged = str(tmp_path / f"h_stage_{i}")
        df.coalesce(1).write.parquet(staged)
        part = next(
            fn for fn in os.listdir(staged)
            if fn.startswith("part-") and fn.endswith(".parquet")
        )
        dst = str(src / f"b{i}.parquet")
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1000 + i, 1000 + i))

    sink = str(tmp_path / "h_sink")
    ck = str(tmp_path / "h_ck")
    stream = stream_transcripts(spark, str(src), max_files_per_trigger=1)
    q = stream_near_dedup_keep(stream, sink, ck, horizon_s=3600)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(f"{sink}/kept").collect()
    }
    assert ("c0", 0) in got and ("c0", 1) in got
    assert ("c1", 0) not in got  # duplicate within the horizon
    assert ("c2", 0) in got      # claim expired: kept again


def test_stream_near_dedup_restart_after_compaction(spark, tmp_path):
    """Operational sequence: stream some batches, stop, compact the
    claims log, resume the SAME checkpoint on new input — the folded
    batch_id=-1 base must satisfy every later batch's id<N read and the
    final keep-list must still equal the one-shot batch fold."""
    import os
    from datetime import datetime, timezone

    from denrl_spark.functions.textops import near_dedup_greedy
    from denrl_spark.streaming.ingest import (
        compact_dedup_claims,
        stream_near_dedup_keep,
    )

    A = "alpha beta gamma delta epsilon zeta eta"
    B = "one two three four five six seven"
    C = "unique tokens that appear nowhere else at all"
    phase1 = [
        [("c0", 0, A, 100)],
        [("c0", 1, B, 200)],
        [("c1", 0, C, 300)],
    ]
    phase2 = [[("c2", 0, A, 400), ("c2", 1, "fresh words never seen before today", 401)]]

    src = tmp_path / "rc_in"
    os.makedirs(src)
    sink = str(tmp_path / "rc_sink")
    ck = str(tmp_path / "rc_ck")

    def add_files(batches, start):
        for i, rows in enumerate(batches, start=start):
            df = spark.createDataFrame(
                [
                    (cid, tix, "user", txt, None,
                     datetime.fromtimestamp(ts, tz=timezone.utc))
                    for cid, tix, txt, ts in rows
                ],
                "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
            )
            staged = str(tmp_path / f"rc_stage_{i}")
            df.coalesce(1).write.parquet(staged)
            part = next(
                fn for fn in os.listdir(staged)
                if fn.startswith("part-") and fn.endswith(".parquet")
            )
            dst = str(src / f"b{i}.parquet")
            os.rename(os.path.join(staged, part), dst)
            os.utime(dst, (1000 + i, 1000 + i))

    def run_stream():
        stream = stream_transcripts(spark, str(src), max_files_per_trigger=1)
        q = stream_near_dedup_keep(stream, sink, ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    add_files(phase1, 0)
    run_stream()
    assert compact_dedup_claims(spark, sink) == 2  # 3 dirs, newest kept

    add_files(phase2, 3)
    run_stream()  # same checkpoint: resumes at batch 3, reads folded base

    got = {
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(f"{sink}/kept").collect()
    }
    all_rows = [r for b in phase1 + phase2 for r in b]
    full = spark.createDataFrame(
        [
            (cid, tix, "user", txt, None,
             datetime.fromtimestamp(ts, tz=timezone.utc))
            for cid, tix, txt, ts in all_rows
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    kept_batch, _ = near_dedup_greedy(full, ["ts", "conv_id", "turn_idx"])
    want = {(r["conv_id"], r["turn_idx"]) for r in kept_batch.collect()}
    assert got == want
    assert ("c2", 0) not in got   # duplicate of A, suppressed via folded base
    assert ("c2", 1) in got       # genuinely new content survives


def test_stream_windowed_edges_view_equals_batch(spark, transcript_dir, tmp_path):
    """The windowed compaction view over the streamed delta log equals
    the batch windowed rollup (link by norm + window-group over the
    full corpus, recomputed in Python with canonical surface = min
    surface per norm) — the temporal-KG surface is maintained
    incrementally without semantic drift, including after claims-log
    compaction."""
    import re
    from collections import Counter

    from denrl_spark.operators.spans import assemble_triples
    from denrl_spark.operators.tagging import build_instances
    from denrl_spark.sources.kb import KB
    from denrl_spark.streaming.ingest import (
        compact_graph_deltas,
        graph_edges_by_window_view,
        stream_graph_deltas,
        stream_transcripts,
    )

    kb = KB.default()
    win_s = 600
    sink = str(tmp_path / "gw_deltas")
    ck = str(tmp_path / "gw_ck")
    q = stream_graph_deltas(
        stream_transcripts(spark, transcript_dir, max_files_per_trigger=2),
        sink, ck, kb,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def view_rows():
        return {
            tuple(r)
            for r in graph_edges_by_window_view(spark, sink, window_s=win_s)
            .select("win_start", "src_surface", "pred", "dst_surface", "n_obs")
            .collect()
        }

    got = view_rows()

    batch = spark.read.parquet(transcript_dir)
    ins = build_instances(batch, kb).cache()
    sents = dict(
        ins.select("conv_id", "turn_idx", "sent_id").distinct()
        .join(
            batch.select(
                "conv_id", "turn_idx",
                F.unix_timestamp("ts").cast("bigint").alias("ts"),
            ),
            ["conv_id", "turn_idx"],
        )
        .select("sent_id", "ts")
        .collect()
    )
    rows = assemble_triples(ins).select("sent_id", "ent1", "ent2", "ent2_tag").collect()
    ins.unpersist()

    def norm(s):
        return " ".join(re.sub(r"[\W_]+", " ", s.lower()).split())

    surfaces = {s for r in rows for s in (r["ent1"], r["ent2"]) if s}
    canon = {s: min(t for t in surfaces if norm(t) == norm(s)) for s in surfaces}
    expect = {
        (*key, n)
        for key, n in Counter(
            (sents[r["sent_id"]] // win_s * win_s, canon[r["ent1"]],
             r["ent2_tag"], canon[r["ent2"]])
            for r in rows
            if "/" in r["ent2_tag"] and r["ent1"] and r["ent2"]
        ).items()
    }
    assert len(got) > 1 and got == expect
    # multiple windows genuinely exercised (ts spacing vs win_s)
    assert len({w for w, *_ in got}) > 1

    # a redelivered sentence map (same rows under a second batch_id)
    # must not fan out the sent_id join: the view projects to
    # (sent_id, ts) BEFORE distinct, so it is idempotent under sents
    # duplication (regression for the partition-column-in-distinct bug)
    import shutil

    src_dir = sorted(
        d for d in __import__("os").listdir(f"{sink}/sents")
        if d.startswith("batch_id=")
    )[0]
    shutil.copytree(f"{sink}/sents/{src_dir}", f"{sink}/sents/batch_id=97")
    assert view_rows() == expect
    shutil.rmtree(f"{sink}/sents/batch_id=97")

    # compaction folds the sents part too and preserves the view
    assert compact_graph_deltas(spark, sink) > 0
    assert view_rows() == expect


def test_stream_pack_sequences_matches_batch(spark, tmp_path):
    """Streaming packing == one-shot batch packing when docs arrive in
    doc_id order across micro-batches: three sequential file drops form
    three real micro-batches (processAllAvailable between writes), bins
    straddle the batch boundaries via the state store, and the final
    assignment table equals operators.packing.pack_sequences row-for-row."""
    from denrl_spark.operators.packing import pack_sequences
    from denrl_spark.streaming.stateful import stream_pack_sequences

    rng = np.random.RandomState(9)
    rows = [
        (i, " ".join("w" for _ in range(int(rng.randint(1, 40)))))
        for i in range(90)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expect = sorted(
        map(tuple, pack_sequences(docs, capacity=64, n_shards=4).collect())
    )

    d = str(tmp_path / "pack_in")
    stream_schema = "doc_id long, text string"
    # drop chunk 0 BEFORE starting so the dir exists with a schema
    chunks = [rows[:30], rows[30:60], rows[60:]]
    spark.createDataFrame(chunks[0], stream_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)

    stream = spark.readStream.schema(stream_schema).parquet(d)
    out = stream_pack_sequences(stream, capacity=64, n_shards=4)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("pack_out")
        .start()
    )
    try:
        q.processAllAvailable()
        for chunk in chunks[1:]:
            spark.createDataFrame(chunk, stream_schema).coalesce(1).write.mode(
                "append"
            ).parquet(d)
            q.processAllAvailable()
        got = sorted(
            map(tuple, spark.sql("SELECT * FROM pack_out").collect())
        )
        assert len(q.recentProgress) >= 3  # really ran as multiple batches
        assert got == expect
    finally:
        q.stop()


def test_stream_upsert_latest_matches_batch(spark, tmp_path):
    """Streaming CDC snapshot == batch compaction (rel_upsert_latest)
    on the same changelog, delivered OUT OF ORDER across three real
    micro-batches: the per-key winner straddles batch boundaries in
    the state store, late records with smaller (t, event_id) never
    regress it, tombstone keys flip live=false, and the last update
    per key filtered to live equals the batch snapshot row-for-row."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_upsert_latest
    from denrl_spark.streaming.stateful import stream_upsert_latest

    base = 1_700_000_000
    types = ["view", "click", "purchase"]
    raw = []
    for eid in range(1, 61):
        off = (eid * 37) % 50  # timestamps NOT monotone in event_id
        raw.append(
            (
                eid,
                datetime.datetime.utcfromtimestamp(base + off),
                eid % 4,
                types[eid % 3],
                eid / 4.0,
                "{}",
            )
        )
    # one key where the TOMBSTONE wins (eid 80 % 16 == 0, latest t):
    # (0, 'purchase') must be absent from both snapshots
    raw.append(
        (80, datetime.datetime.utcfromtimestamp(base + 200), 0, "purchase",
         20.0, "{}")
    )
    bdir = str(tmp_path / "batch")
    spark.createDataFrame(
        raw,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(os.path.join(bdir, "events.parquet"))
    expect = sorted(map(tuple, rel_upsert_latest(spark, bdir).collect()))
    assert len(expect) > 0
    assert not any(u == 0 and t == "purchase" for u, t, *_ in expect)

    # the SAME derived changelog the batch compaction aggregates,
    # delivered in a deliberately scrambled order across three chunks
    log = [
        (
            eid % 4,
            types[eid % 3],
            base + (eid * 37) % 50,
            eid,
            int((eid / 4.0) * 1_000_000 // 1),
            "D" if eid % 16 == 0 else "U",
        )
        for eid in range(1, 61)
    ]
    log.append((0, "purchase", base + 200, 80, 20_000_000, "D"))
    log.sort(key=lambda r: (r[3] * 13) % 60)  # scrambles t across chunks
    chunks = [log[:20], log[20:40], log[40:]]
    schema = (
        "user_id long, event_type string, t long, event_id long,"
        " v_micro long, op string"
    )
    d = str(tmp_path / "upsert_in")
    spark.createDataFrame(chunks[0], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        stream_upsert_latest(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("upsert_out")
        .start()
    )
    try:
        q.processAllAvailable()
        for chunk in chunks[1:]:
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "append"
            ).parquet(d)
            q.processAllAvailable()
        assert len(q.recentProgress) >= 3  # really ran as multiple batches
        # snapshot = last update per key (n_versions is monotone), live only
        got = sorted(
            map(
                tuple,
                spark.sql(
                    """
                    SELECT user_id, event_type, last_t, last_value_micro,
                           n_versions
                    FROM (
                      SELECT *, row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY n_versions DESC) AS rn
                      FROM upsert_out)
                    WHERE rn = 1 AND live
                    """
                ).collect(),
            )
        )
        assert got == expect
        # the tombstoned key IS in the update stream, flagged dead —
        # that's how a downstream sink learns to delete it
        dead = spark.sql(
            "SELECT live FROM upsert_out WHERE user_id = 0 AND"
            " event_type = 'purchase' ORDER BY n_versions DESC LIMIT 1"
        ).collect()
        assert dead and dead[0]["live"] is False
    finally:
        q.stop()


def test_stream_session_windows_match_batch(spark, tmp_path):
    """Native session_window streaming == the same aggregation in
    batch over an out-of-order 3-micro-batch delivery: a late event
    (within watermark) EXTENDS an open session across the batch
    boundary, two sessions split by > gap stay split, and every
    session finalizes once a far-future flush event advances the
    watermark past its end."""
    import datetime
    import os

    from denrl_spark.streaming.stateful import stream_session_stats

    base = 1_700_000_000

    def ev(eid, uid, off):
        return (eid, datetime.datetime.utcfromtimestamp(base + off), uid)

    # u1: one session 0..600s (events 0,300,600 - the 300 arrives LATE
    # in batch 2), then a second session at 3600s (> 1800 gap).
    # u2: single session with in-order events.
    chunks = [
        [ev(1, 1, 0), ev(2, 1, 600), ev(10, 2, 100)],
        [ev(3, 1, 300), ev(11, 2, 200)],          # late extender for u1
        [ev(4, 1, 3600), ev(12, 2, 900)],
        # flush: advances the watermark (2h) past every session end
        [ev(99, 9, 3600 + 2 * 3600 + 1900 + 60)],
    ]
    schema = "event_id long, ts timestamp, user_id long"
    d = str(tmp_path / "sess_in")
    spark.createDataFrame(chunks[0], schema).coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        stream_session_stats(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        for chunk in chunks[1:]:
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "append"
            ).parquet(d)
            q.processAllAvailable()
        assert len(q.recentProgress) >= 3
        got = sorted(
            map(tuple, spark.sql(
                "SELECT user_id, session_start, session_end, n_events"
                " FROM sess_out WHERE user_id <> 9").collect())
        )
    finally:
        q.stop()
    batch = spark.createDataFrame(
        [e for c in chunks for e in c if e[2] != 9], schema
    )
    want = sorted(
        map(tuple, stream_session_stats(batch).collect())
    )
    assert got == want and len(got) == 3
    # the late event really merged: u1's first session spans 0..600+gap
    u1_first = min((r for r in got if r[0] == 1), key=lambda r: r[1])
    assert u1_first[3] == 3


def test_stream_debounce_matches_batch(spark, tmp_path):
    """Streaming debounce == rel_debounce on the same events with a
    burst straddling the micro-batch boundary: the last-seen timestamp
    in the state store keeps suppressing the burst's tail in the next
    batch, and a post-silence event is re-admitted."""
    import datetime
    import os

    from denrl_spark.plans.driver_queries import rel_debounce
    from denrl_spark.streaming.stateful import stream_debounce

    base = 1_700_000_000

    def ev(eid, uid, typ, off):
        return (eid, datetime.datetime.utcfromtimestamp(base + off), uid,
                typ, 1.0, "{}")

    # u1 burst: 0, 30, 70, 100 (batch splits after 30) -> only eid 1
    # kept; then silence -> 300 kept. u2 independent key.
    chunks = [
        [ev(1, 1, "click", 0), ev(2, 1, "click", 30), ev(10, 2, "view", 5)],
        [ev(3, 1, "click", 70), ev(4, 1, "click", 100),
         ev(5, 1, "click", 300), ev(11, 2, "view", 50)],
    ]
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    bdir = str(tmp_path / "deb_batch")
    spark.createDataFrame(
        [e for c in chunks for e in c], schema
    ).write.parquet(os.path.join(bdir, "events.parquet"))
    expect = sorted(
        map(tuple, rel_debounce(spark, bdir).collect())
    )

    d = str(tmp_path / "deb_in")
    spark.createDataFrame(chunks[0], schema).coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    q = (
        stream_debounce(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("deb_out")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(chunks[1], schema).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        q.processAllAvailable()
        got = sorted(
            map(tuple, spark.sql(
                "SELECT event_id, user_id, event_type, t FROM deb_out"
            ).collect())
        )
    finally:
        q.stop()
    assert got == expect
    assert sorted(r[0] for r in got) == [1, 5, 10]
