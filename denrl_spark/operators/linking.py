"""Entity linking & canonicalization (north-star component; no reference
counterpart — surface-form clustering is implicit in the reference's
exact-string triple matching, run_jointmodel.py:975,981).

Canonicalization: mention surfaces are grouped by normalized form
(lower-case, punctuation -> space, collapsed whitespace) and every
member of a group resolves to the group's min surface; the canonical
id is that surface's xxhash64. ``norm_map`` is the one place the rule
is written, and resolving a mention is one join: ``normalize_surface``
of the mention to the map's ``norm``. The batch graph build, the
docs_kg per-observation consumers and the streaming compaction views
all link that way.

Scale notes:
- the norm map is one map-side-combined aggregation: hot surfaces
  collapse before the shuffle, and a norm group is a set of surface
  variants (casing / punctuation), so its fan-in is bounded.
- ``connected_components`` (min-label propagation over DataFrames,
  through ``graph_analytics.iterate``, which checkpoints every round)
  serves the graph-family queries: KG components and near-duplicate
  clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def normalize_surface(col: F.Column) -> F.Column:
    """Lower-case, turn each run of non-letter/digit characters (Java
    ``\\s`` whitespace included) into one space, trim — JVM-side.

    The result is non-nullable (a null surface gives ``""``; callers
    drop null and ``""`` surfaces raw, before normalizing): a join on
    a nullable key makes the optimizer infer an ``isnotnull(norm)``
    filter that evaluates the regex a second time per row."""
    c = F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", " ")
    return F.coalesce(F.trim(c), F.lit(""))


def mention_surfaces(triples: DataFrame) -> DataFrame:
    """Triples -> one ``surface`` row per mention (ent1 and ent2 of
    every triple, duplicates, ``""`` and nulls kept): one
    explode([ent1, ent2]) scan instead of a two-branch union, which
    reads the triple table twice. The input of ``norm_map``, which
    drops the empty surfaces itself."""
    return triples.select(F.explode(F.array("ent1", "ent2")).alias("surface"))


def norm_map(surfaces: DataFrame) -> DataFrame:
    """Any frame with a ``surface`` column (duplicates allowed) -> one
    row per normalized form of its non-empty surfaces: (norm,
    canonical_id, canonical_surface), canonical surface = min surface
    of the group. The empty surface is filtered RAW, before
    normalizing: punctuation-only surfaces (``!!``) are real mentions
    whose norm is ``""``."""
    return (
        surfaces.where(F.col("surface") != "")
        .groupBy(normalize_surface(F.col("surface")).alias("norm"))
        .agg(F.min("surface").alias("canonical_surface"))
        .withColumn("canonical_id", F.xxhash64("canonical_surface"))
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 12
) -> DataFrame:
    """(node_id) x (src, dst) -> (node_id, component) via min-label
    propagation. Deterministic; component = min node_id in component.

    Converges in O(diameter) rounds — the callers' graphs (LSH bucket
    stars, near-duplicate cliques, KG components) are shallow, and
    ``max_iter`` bounds the diameter, not the size. If the fixpoint is
    NOT reached within max_iter, it raises rather than silently
    returning partially-merged components."""
    from denrl_spark.operators.graph_analytics import iterate, no_change

    n_part = int(nodes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    labels = nodes.select(
        F.col("node_id"), F.col("node_id").alias("component")
    ).repartition(n_part, "node_id")
    und = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def adopt_min(labels: DataFrame) -> DataFrame:
        msgs = (
            und.join(labels, und.src == labels.node_id)
            .select(F.col("dst").alias("node_id"), "component")
        )
        return (
            labels.select("node_id", "component")
            .unionByName(msgs)
            .groupBy("node_id")
            .agg(F.min("component").alias("component"))
            .repartition(n_part, "node_id")
        )

    return iterate(labels, adopt_min, max_iter, no_change("node_id", "component"),
                   name="connected_components")

