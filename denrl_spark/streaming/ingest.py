"""Structured Streaming ingestion for transcript tables.

The reference is batch-only (SURVEY.md §2.10); streaming is part of the
rebuild's engine surface: a production deployment tails the transcript
table (Iceberg/Kafka/files) and maintains the KG incrementally.

- ``stream_transcripts``: file-source readStream with the input_hint
  schema.
- ``windowed_turn_counts``: watermarked tumbling-window aggregation of
  turn volume per role (late data bounded by the watermark).
- ``stream_triples``: foreachBatch incremental extraction — each
  micro-batch runs the batch extraction kernel
  (``fused.extract_triples_fused``, gold mode) and appends to a
  parquet/Iceberg sink; exactly-once per micro-batch comes from the
  sink's idempotent overwrite by batch id.
- ``session_turn_counts``: session-window aggregation (streaming twin of
  the batch lag+cumsum sessionization).
- ``dedup_stream`` / ``dedup_stream_near``: exact and MinHash-signature
  near-duplicate suppression with watermark-bounded state.
- ``stream_graph_deltas`` + ``graph_edges_view`` /
  ``graph_vertices_view`` + ``compact_graph_deltas``: incremental KG
  EDGE/VERTEX maintenance as an exactly-once per-batch delta log,
  compacted by the batch graph build itself (so the views equal the
  batch graph), plus a write-then-commit log compactor.

Tests drive these with the memory sink + processAllAvailable (synchronous
micro-batch draining), per the Structured Streaming testing idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def windowed_turn_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "role",
            "n_turns",
        )
    )


def session_turn_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation: one row per (conversation, activity
    session), a session closing after ``gap`` of silence. The streaming
    twin of the batch lag+cumsum sessionization (driver query
    rel_sessionize)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "conv_id",
            "n_turns",
        )
    )


def dedup_stream(
    stream: DataFrame, watermark: str = "2 hours", key_cols: list[str] | None = None
) -> DataFrame:
    """Streaming exact dedup: first occurrence of each content hash wins,
    duplicates arriving within the watermark horizon are dropped. The
    streaming twin of textops.dedup_exact — state is one (hash, ts) row
    per distinct document inside the horizon, evicted by the watermark
    (dropDuplicatesWithinWatermark), so state size is bounded by the
    horizon's distinct volume, not the stream's lifetime.

    Requires Spark >= 3.5 (dropDuplicatesWithinWatermark). There is
    deliberately NO dropDuplicates fallback: keying dropDuplicates by
    (hash, ts) would only drop duplicates carrying an identical
    timestamp — silently different semantics from the content-dedup
    contract above — so an older runtime raises instead (ADVICE r2)."""
    keyed = stream.withColumn("text_hash", F.md5("text"))
    cols = key_cols or ["text_hash"]
    out = keyed.withWatermark("ts", watermark)
    if not hasattr(out, "dropDuplicatesWithinWatermark"):
        raise NotImplementedError(
            "dedup_stream requires Spark >= 3.5 (dropDuplicatesWithinWatermark); "
            "a dropDuplicates fallback would silently weaken content dedup to "
            "(hash, ts) dedup"
        )
    return out.dropDuplicatesWithinWatermark(cols)


def dedup_stream_near(
    stream: DataFrame, watermark: str = "2 hours", n_bands: int = 8
) -> DataFrame:
    """Streaming NEAR-duplicate suppression at ingest: each row gets a
    per-row MinHash signature (mh0..mh{n-1}, array HOFs — stateless, so
    legal in streaming; textops.minhash_signature_cols) and the first
    row per FULL signature within the watermark horizon wins. Matching
    all n bands is the high-precision regime (near-exact duplicates —
    boilerplate re-sends, trivially-edited reposts); single-band
    matching would be the batch LSH candidate rule and over-drops as a
    filter. State is one signature row per distinct surviving doc in
    the horizon, watermark-evicted. Requires Spark >= 3.5 (same
    contract as dedup_stream)."""
    from denrl_spark.functions.textops import minhash_signature_cols

    sig = minhash_signature_cols(stream, "text", n_bands)
    cols = [f"mh{b}" for b in range(n_bands)]
    out = sig.withWatermark("ts", watermark)
    if not hasattr(out, "dropDuplicatesWithinWatermark"):
        raise NotImplementedError(
            "dedup_stream_near requires Spark >= 3.5 (dropDuplicatesWithinWatermark)"
        )
    return out.dropDuplicatesWithinWatermark(cols)


def stream_near_dedup_keep(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    n_bands: int = 8,
    horizon_s: int | None = None,
    ord_cols: tuple[str, ...] = ("ts", "conv_id", "turn_idx"),
):
    """Cross-batch streaming near-duplicate keep-list: suppresses
    near-dups against the FULL seen-set, not just within the watermark
    horizon of ``dedup_stream_near``. Semantics = the greedy first-wins
    LSH rule (textops.near_dedup_greedy): a turn is kept iff it is the
    first claimant, in (ts, conv_id, turn_idx) order, of every one of
    its minhash band buckets — prefix-consistent, so over a
    time-ordered stream the streaming keep-list EQUALS the one-shot
    batch keep-list (test-asserted on a multi-batch fixture).

    Mechanism: foreachBatch + a persistent bucket-claims log rather
    than ``applyInPandasWithState`` keyed by bucket, for two reasons:
    (a) the keep verdict combines n_bands per-bucket freshness flags,
    and a second stateful aggregation downstream of
    applyInPandasWithState is outside Structured Streaming's supported
    stateful-operator chains; (b) claims-as-a-table keeps the state
    lookup a bucketed equi-join at any scale (and lets AQE handle hot
    buckets) instead of a per-key Python heap pinned to executors.

    Exactly-once: batch N reads only ``claims/batch_id<N`` — a replayed
    batch never sees its own previous claims — and overwrites its own
    ``kept/batch_id=N`` and ``claims/batch_id=N`` directories
    idempotently (same protocol as stream_graph_deltas).

    ``horizon_s`` bounds state like a watermark: claims older than
    (batch max ts - horizon) are ignored at read time; a maintenance
    job can fold and prune the claims log with the same
    write-then-commit compactor the graph delta log uses. With the
    default None the seen-set is unbounded (the "full seen-set" mode)."""
    from denrl_spark.functions.textops import near_dedup_greedy

    ocols = list(ord_cols)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        import os

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        root = f"{sink_dir}/claims"
        prior = None
        if os.path.isdir(root):
            dirs = [
                d
                for d in os.listdir(root)
                if d.startswith("batch_id=")
                and int(d.split("=", 1)[1]) < batch_id
            ]
            if dirs:
                prior = spark.read.parquet(*[f"{root}/{d}" for d in dirs])
                if horizon_s is not None:
                    lo = batch_df.agg(F.max(ocols[0])).first()[0]
                    prior = prior.where(
                        F.col("ts") >= F.expr(
                            f"timestamp '{lo}' - interval {horizon_s} seconds"
                        )
                    )
        kept, claims = near_dedup_greedy(batch_df, ocols, n_bands, prior)
        kept.write.mode("overwrite").parquet(f"{sink_dir}/kept/batch_id={batch_id}")
        claims.write.mode("overwrite").parquet(f"{root}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_graph_deltas(
    stream: DataFrame, sink_dir: str, checkpoint_dir: str, kb=None
):
    """Incremental KG EDGE maintenance, log-structured: each micro-batch
    extracts its triples with the fused kernel and writes per-batch
    delta tables, each with idempotent overwrite by batch id (a
    replayed batch rewrites its own directory — exactly-once effect;
    the parquet-sandbox analog of an Iceberg MERGE INTO):

    - ``edges/batch_id=N``: per-(ent1, pred, ent2, sent_id) observation
      counts — SENTENCE grain, so the compaction view can compute exact
      distinct-sentence counts even when canonicalization later merges
      surfaces across raw pairs (a canonical-group sum of pre-counted
      distincts would double-count such sentences);
    - ``vertices/batch_id=N``: per-(surface, etype) mention counts;
    - ``mentions/batch_id=N``: distinct surfaces seen in ALL triples
      (entity-tag co-mentions included) — the canonical map depends on
      every mention, not just relation rows;
    - ``sents/batch_id=N``: (sent_id, ts) of each sentence that yields
      a triple, its turn's epoch-second ts — the operand the windowed
      view joins to recover each edge observation's window. The
      triples carry their turn key, so the delta is their
      (sent_id, conv_id, turn_idx) joined to the micro-batch's
      (conv_id, turn_idx, ts), one row per sentence.

    Edge and vertex deltas are ``graph.observations`` pre-counted, so
    they pass the batch build's endpoint filter and
    ``graph_edges_view``/``graph_vertices_view`` compact the log with
    the batch build itself: the views equal the batch
    ``materialize_graph`` exactly (test-asserted)."""
    from denrl_spark.operators.fused import extract_triples_fused
    from denrl_spark.operators.graph import observations
    from denrl_spark.operators.linking import mention_surfaces
    from denrl_spark.sources.kb import KB

    kb = kb or KB.default()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # cached: the delta writes below are separate actions over the
        # same extraction — uncached, each re-runs the Arrow kernel. The
        # first write fills the cache; it is released even when a write
        # fails.
        trips = extract_triples_fused(batch_df, kb).cache()
        try:
            edge_obs, vertex_obs = observations(trips)
            edges = edge_obs.groupBy("ent1", "pred", "ent2", "sent_id").agg(
                F.sum("n_obs").alias("n_obs")
            )
            verts = vertex_obs.groupBy("surface", "etype").agg(
                F.sum("cnt").alias("cnt")
            )
            # a sentence is one turn: the triples' carried turn key
            # co-grouped with the micro-batch's turns gives one row per
            # sentence that yields a triple (span-free turns yield none
            # and do not grow the log). One exchange serves both the
            # dedup and the join, so the write runs no extra job.
            null = F.lit(None).cast("bigint")
            sents = (
                trips.select("conv_id", "turn_idx", "sent_id", null.alias("ts"))
                .unionByName(batch_df.select(
                    "conv_id", "turn_idx", null.alias("sent_id"),
                    F.unix_timestamp("ts").cast("bigint").alias("ts"),
                ))
                .groupBy("conv_id", "turn_idx")
                .agg(F.max("sent_id").alias("sent_id"), F.max("ts").alias("ts"))
                .where(F.col("sent_id").isNotNull())
                .select("sent_id", "ts")
            )
            for part, df in (
                ("edges", edges),
                ("vertices", verts),
                ("mentions", mention_surfaces(trips).where(F.col("surface") != "").distinct()),
                ("sents", sents),
            ):
                df.write.mode("overwrite").parquet(f"{sink_dir}/{part}/batch_id={batch_id}")
        finally:
            trips.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _delta_graph(spark: SparkSession, sink_dir: str) -> tuple[DataFrame, DataFrame]:
    """Lazy (vertices, edges) of ``graph.canonical_graph`` — the batch
    build — over the accumulated mention, edge and vertex deltas written
    by ``stream_graph_deltas``. Canonicalization happens at READ time
    from the full mention set, so a late-arriving surface variant
    retroactively merges its history, exactly as the batch job over the
    full corpus would. Output schema and values match
    ``materialize_graph`` exactly (types compared as sets — collect_set
    order is nondeterministic in both paths)."""
    from denrl_spark.operators.graph import canonical_graph

    return canonical_graph(
        spark.read.parquet(f"{sink_dir}/mentions"),
        spark.read.parquet(f"{sink_dir}/edges"),
        spark.read.parquet(f"{sink_dir}/vertices"),
    )


def graph_edges_view(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The edge table compacted from the delta log (``_delta_graph``).
    Returned materialized (localCheckpoint): a snapshot that stays valid
    while ``compact_graph_deltas`` rewrites the log."""
    return _delta_graph(spark, sink_dir)[1].localCheckpoint()


def graph_vertices_view(spark: SparkSession, sink_dir: str) -> DataFrame:
    """The vertex table compacted from the delta log (``_delta_graph``),
    materialized like ``graph_edges_view``."""
    return _delta_graph(spark, sink_dir)[0].localCheckpoint()


def graph_edges_by_window_view(
    spark: SparkSession, sink_dir: str, window_s: int | None = None
) -> DataFrame:
    """Tumbling-window temporal rollup compacted from the delta log:
    per (win_start, src_surface, pred, dst_surface), the observation
    count inside that window — the streaming twin of the batch
    ``docs_kg.edges_by_window`` surface (versioned-KG snapshot diffs,
    maintained incrementally). The edge deltas are SENTENCE grain, so
    joining the per-batch sentence→ts map (``sents/``) recovers each
    observation's window exactly; win_start = ts div W * W in integer
    epoch seconds. Aggregated by norm first, then linked through the
    same norm map as ``graph_edges_view`` — canonicalized at READ time from
    the full accumulated mention set. ``window_s`` defaults to the
    batch twin's EDGE_WINDOW_S so the two surfaces stay diffable with
    default parameters (review finding: a hard-coded default here
    silently diverged when the constant changed)."""
    from denrl_spark.operators.graph import link_norms
    from denrl_spark.operators.linking import norm_map, normalize_surface

    if window_s is None:
        from denrl_spark.plans.docs_kg import EDGE_WINDOW_S

        window_s = EDGE_WINDOW_S
    edges = spark.read.parquet(f"{sink_dir}/edges")
    # project BEFORE distinct: the partition discovery adds batch_id,
    # and a (sent_id, ts, batch_id) distinct would keep one row per
    # REDELIVERED batch — the sent_id join below would then fan out and
    # over-count n_obs
    sents = spark.read.parquet(f"{sink_dir}/sents").select(
        "sent_id", "ts"
    ).distinct()
    win = (
        edges.join(sents, "sent_id")
        .groupBy(
            F.expr(f"CAST(ts div {window_s} * {window_s} AS BIGINT)").alias("win_start"),
            normalize_surface(F.col("ent1")).alias("src_norm"),
            "pred",
            normalize_surface(F.col("ent2")).alias("dst_norm"),
        )
        .agg(F.sum("n_obs").alias("n_obs"))
    )
    return (
        link_norms(win, norm_map(spark.read.parquet(f"{sink_dir}/mentions")))
        .select("win_start", "src_surface", "pred", "dst_surface", "n_obs")
        .localCheckpoint()
    )


def compact_graph_deltas(spark: SparkSession, sink_dir: str) -> int:
    """Log maintenance for the graph delta log: folds all existing
    per-batch delta directories into a single equivalent base delta and
    removes the originals, bounding read amplification (the views read
    O(1) directories after compaction instead of O(#batches)).

    Semantics-preserving because every view aggregate distributes over
    the log: edge rows stay SENTENCE grain (summing n_obs per
    (ent1, pred, ent2, sent_id) loses nothing), vertex rows sum their
    counts, mention sets union.

    Replay safety: the HIGHEST-numbered batch directory is never folded.
    foreachBatch's exactly-once story relies on a replayed batch
    idempotently overwriting its OWN batch_id=N directory; only the
    newest batch is replayable (a crash between sink write and
    checkpoint commit re-runs exactly that batch on restart — all lower
    ids are committed by construction). Folding N's directory into
    batch_id=-1 and deleting it would turn the replay's overwrite into
    an append next to a base that already contains N's rows,
    double-counting n_obs/n_sents in every view. The newest batch joins
    the next compaction once a younger batch has been written.

    Crash-safe write-then-commit: the fold lands in a SIDE directory
    outside the partition root (partition discovery never sees it), and
    the commit record is a ``_FOLDED`` manifest written into the side
    dir AFTER the parquet write completes, listing exactly the batch
    directories the fold covers. Only then are those directories
    removed and the side dir renamed into the root as ``batch_id=-1``
    (no real micro-batch id is negative, so a later stream restart —
    even with a fresh checkpoint whose batch ids restart at 0 — can
    never overwrite the folded base; the underscore-prefixed manifest
    is invisible to parquet readers, like _SUCCESS). Recovery on the
    next call covers every crash point: a side dir WITHOUT a manifest
    is an aborted fold and is discarded; a side dir WITH a manifest is
    a committed fold — the remaining listed batch dirs are removed
    (resume of an interrupted removal; unlisted dirs are untouched) and
    the rename is completed before any new folding. Streaming writers
    must be stopped while compacting (same contract as any file-log
    compactor). Returns the number of folded batch directories."""
    folded = 0
    for part, keys, aggs in (
        (
            "edges",
            ["ent1", "pred", "ent2", "sent_id"],
            [F.sum("n_obs").alias("n_obs")],
        ),
        ("vertices", ["surface", "etype"], [F.sum("cnt").alias("cnt")]),
        ("mentions", ["surface"], None),
        # sentence->ts map folds by distinct: a sentence has ONE ts, so
        # re-observations across batches are exact duplicates
        ("sents", ["sent_id", "ts"], None),
    ):
        folded += _compact_log_part(spark, sink_dir, part, keys, aggs)
    return folded


def compact_dedup_claims(spark: SparkSession, sink_dir: str) -> int:
    """Claims-log maintenance for ``stream_near_dedup_keep``: folds the
    per-batch bucket-claims directories with the same write-then-commit,
    never-fold-the-newest protocol as ``compact_graph_deltas``, bounding
    the O(#batches) read the prior-claims join pays each micro-batch.

    Fold aggregate is max(ts) per (band, mh): the horizon filter treats
    a bucket as live if ANY claim row is within the horizon, which is
    exactly max(ts) >= cutoff — so filter-then-distinct over the folded
    base equals filter-then-distinct over the raw log. The folded base
    lands as ``batch_id=-1``, which every reader's ``id < N`` predicate
    admits (the base only ever contains batches strictly older than any
    replayable one, by the never-fold-newest rule)."""
    return _compact_log_part(
        spark, sink_dir, "claims", ["band", "mh"], [F.max("ts").alias("ts")]
    )


def _compact_log_part(
    spark: SparkSession,
    sink_dir: str,
    part: str,
    keys: list[str],
    aggs,
) -> int:
    """One part of the write-then-commit fold protocol (see
    compact_graph_deltas docstring for the full crash-recovery
    contract). ``aggs=None`` folds by distinct over ``keys``."""
    import json
    import os
    import shutil

    root = f"{sink_dir}/{part}"
    side = f"{sink_dir}/.compact_{part}"
    manifest = f"{side}/_FOLDED"
    if not os.path.isdir(root):
        return 0

    if os.path.isdir(side):
        if os.path.exists(manifest):
            # committed fold: finish removing exactly the listed
            # dirs, then complete the rename
            with open(manifest) as f:
                listed = json.load(f)
            for b in listed:
                p = f"{root}/{b}"
                if os.path.isdir(p):
                    shutil.rmtree(p)
            os.rename(side, f"{root}/batch_id=-1")
        else:
            # aborted fold (crash before the manifest): discard
            shutil.rmtree(side)

    batches = [d for d in os.listdir(root) if d.startswith("batch_id=")]
    # Replay safety: the HIGHEST-numbered batch directory is the only
    # one a restarted stream can replay (foreachBatch re-runs batch N
    # iff the crash fell between N's sink write and its checkpoint
    # commit; every lower id is committed by construction). Folding it
    # into batch_id=-1 would break the replay's idempotent overwrite —
    # the re-run would write batch_id=N NEXT TO a base that already
    # contains N's rows, double-counting in every view. So the newest
    # real batch is never folded; it joins the next compaction once a
    # younger batch exists.
    real_ids = sorted(
        int(d.split("=", 1)[1]) for d in batches if int(d.split("=", 1)[1]) >= 0
    )
    if real_ids:
        batches = [d for d in batches if d != f"batch_id={real_ids[-1]}"]
    if len(batches) <= 1:
        return 0
    df = spark.read.parquet(*[f"{root}/{b}" for b in batches])
    out = (
        df.groupBy(*keys).agg(*aggs)
        if aggs is not None
        else df.select(*keys).distinct()
    )
    out.write.mode("overwrite").parquet(side)
    tmp = f"{side}/_FOLDED.tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(batches), f)
    os.rename(tmp, manifest)  # the commit point
    for b in batches:
        shutil.rmtree(f"{root}/{b}")
    os.rename(side, f"{root}/batch_id=-1")
    return len(batches)


def stream_triples(stream: DataFrame, sink_dir: str, checkpoint_dir: str, kb=None):
    """Incremental triple extraction via foreachBatch: each micro-batch
    runs the batch extraction kernel (``extract_triples_fused``, gold
    mode), so the streamed triples equal the batch ones."""
    from denrl_spark.operators.fused import extract_triples_fused
    from denrl_spark.sources.kb import KB

    kb = kb or KB.default()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # idempotent per micro-batch: each batch overwrites its OWN
        # partition directory, so a batch replayed after a crash between
        # sink write and checkpoint commit replaces rather than duplicates
        extract_triples_fused(batch_df, kb).write.mode("overwrite").parquet(
            f"{sink_dir}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
