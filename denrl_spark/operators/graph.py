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

from denrl_spark.operators.linking import mention_surfaces, norm_map, normalize_surface

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


def relation_rows(triples: DataFrame) -> DataFrame:
    """The triples that become KG edges: ``ent2_tag`` carries the ``/``
    convention and both endpoints are non-empty surfaces. The endpoint
    test is on the RAW surface: a punctuation-only surface (``!!``) is
    a real mention whose norm is ``""``, while a null or ``""`` surface
    is no mention at all and links to nothing."""
    return triples.where(
        F.col("ent2_tag").contains("/") & (F.col("ent1") != "") & (F.col("ent2") != "")
    )


def observations(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Triples -> (edge, vertex) observations of weight 1, the operands
    of ``canonical_graph``: edge rows (ent1, pred, ent2, sent_id,
    n_obs) and vertex rows (surface, etype, cnt). One scan of the
    relation rows gives two vertex mentions per row: the src with its
    ent1_tag, the dst with a null type that collect_set drops."""
    rel = relation_rows(triples)
    edge_obs = rel.select(
        "ent1", F.col("ent2_tag").alias("pred"), "ent2", "sent_id",
        F.lit(1).alias("n_obs"),
    )
    v_src = F.struct(F.col("ent1").alias("surface"), F.col("ent1_tag").alias("etype"))
    v_dst = F.struct(
        F.col("ent2").alias("surface"), F.lit(None).cast("string").alias("etype")
    )
    vertex_obs = rel.select(F.inline(F.array(v_src, v_dst)), F.lit(1).alias("cnt"))
    return edge_obs, vertex_obs


def link_norms(agg: DataFrame, cmap: DataFrame) -> DataFrame:
    """Joins a frame keyed by (src_norm, dst_norm) to the norm map on
    both endpoints, adding src_id/src_surface and dst_id/dst_surface:
    the one linking step of the graph build, the docs_kg
    per-observation rollups and the streaming views."""
    def end(e: str) -> DataFrame:
        return cmap.select(
            F.col("norm").alias(f"{e}_norm"),
            F.col("canonical_id").alias(f"{e}_id"),
            F.col("canonical_surface").alias(f"{e}_surface"),
        )

    return agg.join(end("src"), "src_norm").join(end("dst"), "dst_norm")


def canonical_graph(
    surfaces: DataFrame, edge_obs: DataFrame, vertex_obs: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The one graph build, for batch triples and the streaming delta
    log alike: (vertices, edges) from the mention surfaces (the norm
    map's input) and weighted observations shaped as ``observations``
    returns them — weight 1 per batch row, pre-counted per delta row,
    so the sums serve both. Edge rows must be at sentence grain or
    finer, which keeps n_sents an exact distinct count.

    Aggregate first, link after: edges group by (norm(ent1), pred,
    norm(ent2)) and vertices by norm before any join — a canonical
    entity IS a norm group (``linking.norm_map``) — so the joins to
    the map see distinct pairs, not raw observations, and a hub
    entity's fan-in is its distinct neighbours. Plain equi-joins, no
    broadcast hint: the map is one row per norm, far past broadcast
    size at corpus scale; AQE promotes a genuinely small side at
    runtime and splits skewed keys otherwise."""
    cmap = norm_map(surfaces)
    edges = link_norms(
        edge_obs.groupBy(
            normalize_surface(F.col("ent1")).alias("src_norm"),
            "pred",
            normalize_surface(F.col("ent2")).alias("dst_norm"),
        ).agg(
            F.sum("n_obs").alias("n_obs"),
            F.countDistinct("sent_id").alias("n_sents"),
            F.min("sent_id").alias("first_sent_id"),
            F.max("sent_id").alias("last_sent_id"),
        ),
        cmap,
    ).select(
        "src_id", "src_surface", "pred", "dst_id", "dst_surface",
        "n_obs", "n_sents", "first_sent_id", "last_sent_id",
    )
    vertices = (
        vertex_obs.groupBy(normalize_surface(F.col("surface")).alias("norm"))
        .agg(
            F.collect_set("etype").alias("types"),
            F.sum("cnt").alias("n_mentions"),
        )
        .join(cmap, "norm")
        .select("canonical_id", "canonical_surface", "types", "n_mentions")
    )
    return vertices, edges


def materialize_graph(
    triples: DataFrame, eager: str | None = None
) -> tuple[DataFrame, DataFrame]:
    """Returns (vertices, edges) DataFrames from a triple table:
    ``canonical_graph`` over every mention of ``triples`` and its
    relation rows.

    No internal cache: both frames are plain plans over ``triples``,
    which the caller caches when it is expensive (each frame scans it
    for the map and for its observations). Pass ``eager`` as "edges",
    "vertices", or "both" to have the named part(s) materialized via
    eager localCheckpoint (safe here: the checkpointed frame is
    terminal output, so its bogus RDD stats can't flip any later join
    side); a part not named stays lazy and recomputes from
    ``triples`` when consumed."""
    vertices, edges = canonical_graph(
        mention_surfaces(triples), *observations(triples)
    )
    if eager in ("edges", "both"):
        edges = edges.localCheckpoint()
    if eager in ("vertices", "both"):
        vertices = vertices.localCheckpoint()
    return vertices, edges
