"""Graph materialization (stage 6): triples -> canonical vertex/edge
tables with lineage columns, parquet/Iceberg-shaped.

Vertices: one row per canonical entity (canonical_id, surface, the set
of observed types, mention count). Edges: one row per (src, pred, dst)
canonical pair with observation count and sentence provenance. Relation
rows are the triples whose ent2_tag carries the reference's ``/``
convention (run_jointmodel.py:619); entity-tag co-mentions are kept in a
separate co-occurrence table rather than polluting the KG edges.

Partitioning: edges are written bucketed by src canonical id hash so
downstream per-entity scans prune; lineage (round, src_partition) is
stamped by CheckpointManager at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from denrl_spark.operators.linking import canonicalize

R_TOOL_TOUCHES = "/agent/tool/touches"


def tool_edges(transcripts: DataFrame, kb) -> DataFrame:
    """Agent-transcript tool-usage edges: (tool, pred=/agent/tool/touches,
    entity_surface, etype, n_obs, n_convs) — which tools handle which KB
    entities, the transcript-specific modality of the input contract
    (``tool`` column, BASELINE.json input_hint) that pure document KGs
    don't have. Occurrence = exact n-gram surface presence in a
    tool-turn's text, with n ranging up to the LONGEST surface in the
    KB (derived, not assumed — a hard-coded 1/2-gram cap would
    silently undercount 3+-token surfaces the tagger matches).

    Shape: explode the n-grams of TOOL turns only (the tool-turn
    fraction and the KB's max surface length bound the explode),
    broadcast equi-join against the vocabulary-sized entity table, one
    map-side-combined aggregation — no nested-loop scans, no
    self-joins."""
    from denrl_spark.functions.textops import ngram_array

    spark = transcripts.sparkSession
    max_n = max((len(s.split(" ")) for s in kb.entity_type), default=1)
    toks = F.split("text", " ")
    gram_arrays = [toks] + [ngram_array(toks, n) for n in range(2, max_n + 1)]
    t = (
        transcripts.where(F.col("tool").isNotNull())
        .select("conv_id", "tool", F.explode(F.concat(*gram_arrays)).alias("surface"))
    )
    ents = F.broadcast(
        spark.createDataFrame(
            sorted(kb.entity_type.items()), "surface string, etype string"
        )
    )
    return (
        t.join(ents, "surface")
        .groupBy("tool", "surface", "etype")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
        .select(
            "tool",
            F.lit(R_TOOL_TOUCHES).alias("pred"),
            "surface",
            "etype",
            "n_obs",
            "n_convs",
        )
    )


def link_canonical(triples: DataFrame, mmap: DataFrame) -> DataFrame:
    """Relation rows (ent2_tag carries the ``/`` convention) joined
    through the canonical mention map on BOTH endpoints — the shared
    linking step of every canonical-edge derivation (materialize_graph
    and the role-split edge table). ``mmap`` must carry (surface,
    canonical_surface) and may carry canonical_id; all other triple
    columns pass through."""
    t = triples.where(F.col("ent2_tag").contains("/"))
    ren = {"surface": "ent1", "canonical_surface": "src_surface",
           "canonical_id": "src_id"}
    src = mmap.withColumnsRenamed({k: v for k, v in ren.items() if k in mmap.columns})
    ren = {"surface": "ent2", "canonical_surface": "dst_surface",
           "canonical_id": "dst_id"}
    dst = mmap.withColumnsRenamed({k: v for k, v in ren.items() if k in mmap.columns})
    return t.join(src, "ent1").join(dst, "ent2")


def materialize_graph(
    triples: DataFrame,
    mentions_map: DataFrame | None = None,
    eager: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (vertices, edges) DataFrames from a triple table.

    Cache ownership: the internal mention map is cached (see below).
    With ``eager=None`` (default) the returned frames keep a live
    dependency on that cache and the CALLER owns cleanup — repeated
    invocations in a long-lived session otherwise accumulate
    InMemoryRelations until storage eviction. Pass ``eager`` as
    "edges", "vertices", or "both" to have the named part(s)
    materialized via eager localCheckpoint (safe here: the checkpointed
    frame is terminal output, so its bogus RDD stats can't flip any
    later join side) and the mention-map cache released before
    returning; the part NOT named stays lazy over an unpersisted cache
    and must not be consumed."""
    # Plain equi-joins on surface: the mention map is one row per
    # DISTINCT mention — 10^8-10^9 at corpus scale (SCALE.md), far past
    # any broadcastable size, so no broadcast hint here. AQE promotes
    # the join to broadcast at runtime when the map is genuinely small
    # (test/bench scale) and splits skewed hot surfaces otherwise.
    # Materialized eagerly (cache + count): the src and dst joins are
    # two consumers inside one action — without this the whole
    # mention-distinct subtree executes once per consumer, and the
    # materialized InMemoryRelation hands the planner exact stats for
    # the broadcast-vs-shuffle decision.
    mmap = mentions_map if mentions_map is not None else canonicalize(triples)
    mmap = mmap.select("surface", "canonical_id", "canonical_surface").cache()
    mmap.count()

    linked = link_canonical(triples, mmap)

    edges = (
        linked.groupBy("src_id", "src_surface", F.col("ent2_tag").alias("pred"), "dst_id", "dst_surface")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.countDistinct("sent_id").alias("n_sents"),
            F.min("sent_id").alias("first_sent_id"),
            F.max("sent_id").alias("last_sent_id"),
        )
    )

    # one scan of linked, two mentions per row (the single-scan trick of
    # linking.extract_mentions); collect_set drops the dst's null etype
    v_src = F.struct(
        F.col("src_id").alias("canonical_id"),
        F.col("src_surface").alias("canonical_surface"),
        F.col("ent1_tag").alias("etype"),
    )
    v_dst = F.struct(
        F.col("dst_id").alias("canonical_id"),
        F.col("dst_surface").alias("canonical_surface"),
        F.lit(None).cast("string").alias("etype"),
    )
    vertices = (
        linked.select(F.inline(F.array(v_src, v_dst)))
        .groupBy("canonical_id", "canonical_surface")
        .agg(
            F.collect_set("etype").alias("types"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )
    if eager in ("edges", "both"):
        edges = edges.localCheckpoint()
    if eager in ("vertices", "both"):
        vertices = vertices.localCheckpoint()
    if eager is not None:
        mmap.unpersist()
    return vertices, edges
