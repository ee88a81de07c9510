"""Generate PLANS.md: physical-plan evidence (pushdown, pruning, join
strategy, codegen spans) for representative queries. Run after operator
changes: python tools/dump_plans.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INTERESTING = (
    "Scan parquet",
    "PushedFilters",
    "ReadSchema",
    "Join",
    "Exchange",
    "WholeStageCodegen",
    "AdaptiveSparkPlan",
    "Window",
    "HashAggregate",
)

SHOW = [
    ("rel_filter_project", "F1/F6: filter + projection pushdown to the scan"),
    ("rel_broadcast_join_agg", "J1: small dim broadcast, no big-side shuffle"),
    ("rel_semi_join", "F4: membership as broadcast left-semi join"),
    ("kg_distant_pairs", "KB alignment: broadcast nested-loop (non-equi), big side never shuffles"),
    ("rel_topk_per_group", "A2/O3: window top-k (single shuffle on the partition key)"),
    ("dedup_lsh_pairs", "LSH: bucketed equi-join replaces O(n^2) comparison; oversized buckets star-linked (degenerate-boilerplate cap), checkpointed signature table feeds all four subtrees once"),
    ("dedup_jaccard_pairs", "Jaccard verify: candidate-pruned joins (every shingle join also doc-keyed — no hot-shingle self-join), one checkpointed gram-array table feeds the LSH candidates and the verify (pair_overlap), no driver action between them"),
    ("sim_cosine_topk", "ANN baseline: JVM-side HOF dot products, no Python"),
    ("dedup_embedding_pairs_lsh", "embedding near-dup scale path: bucket join + multi-probe + id-level dedup before re-score (no CartesianProduct)"),
    ("kg_gold_triples_by_doc", "flagship fused extraction keyed by doc_id from each triple's carried (conv_id, turn_idx): one Arrow pass, no join"),
    ("text_tfidf_top_terms", "TF-IDF: two map-side-combined aggs + broadcast vocab-sized df join + per-doc window; no self-joins"),
    ("text_repetition", "Gopher repetition signals: per-row array HOF max-run fold adds NO Exchange (plan-asserted in tests); the one Exchange here is the single-file scan parallelism lift (driver_queries._t), a no-op at production split counts"),
    ("text_contamination", "decontamination: benchmark shingle set broadcast, training side never shuffles for the membership test"),
    ("kg_two_hop", "graph 2-hop: middle-vertex equi-join + map-side-combined agg (no nested loop)"),
    ("kg_triangles", "triangles: compact-forward orientation, closing edge via equi-join"),
    ("kg_pagerank", "fixed-point PageRank final iteration: checkpointed constant operand + join + map-side agg, O(1) lineage"),
    ("kg_link_prediction", "link prediction: shared-neighbor equi-join + left-anti vs edge set + one agg"),
    ("text_pack_sequences", "sequence packing: one shard-hash exchange + in-partition sort feeding the Arrow state machine"),
    ("rel_range_join", "bucketed range join: probe exploded to the two touchable range-width time buckets, EQUI-join on (user, bucket) + residual range filter — no non-equi BroadcastNestedLoop"),
    ("kg_neighbor_jaccard", "neighborhood Jaccard: shared-neighbor equi-join + map-side-combined agg + two degree joins; no cartesian (zero-common pairs never materialize)"),
    ("kg_kcore", "k-core final peel round: degree agg + two left-semi joins over the checkpointed round input, O(1) lineage"),
    ("kg_ktruss", "k-truss final round: compact-forward triangle pass + explode-charged support agg + equi-join, no nested loop"),
    ("kg_negatives", "filtered negatives: rank equi-join for the corrupted tail + left-anti vs the real edge set; content-hash choice, no shuffle of the corpus"),
    ("dedup_containment", "containment dedup: rare-shingle (df-capped) candidate equi-join, candidate-pruned exact verify — no MinHash bias, no hot-shingle square"),
    ("sim_pq_codes", "PQ encode: broadcast codebook join + map-side min(struct) agg, no window"),
    ("sim_pq_adc", "ADC search: codes-table scan + broadcast LUT equi-join + map-side integer sum; full vectors never read"),
    ("kg_random_walks", "DeepWalk corpus: adjacency aggregated once into sorted arrays, L V-row equi-joins (no per-step E-row filter)"),
    ("text_quality_linear", "frozen-hash linear classifier: HOF fold inside the scan stage — zero Exchange"),
    ("text_source_mixture", "mixture weights: one narrow scan, |sources|-row agg, totals as driver literals (no SinglePartition)"),
    ("rel_upsert_latest", "CDC compaction: partial max_by BEFORE the single key Exchange — one pre-combined row per key crosses the wire, no window over the changelog"),
    ("kg_scc", "SCC output stage: checkpointed assignment table + map-side-combined size agg + equi-join (the coloring/peel rounds are O(1)-lineage checkpoints upstream)"),
    ("rel_salted_agg", "salted two-stage aggregate: hot key spread over 16 reducers in the (key, salt) stage, re-summed per key"),
    ("rel_salted_join", "salted skew join: dimension replicated across salts, ShuffledHashJoin on the (key, salt) composite — the hot key lands on 16 reducers"),
    ("rel_kmv_distinct", "KMV distinct sketch: k smallest hashes per group (window rank, per-key partitions), estimate in exact integer math"),
    ("text_winnowing", "winnowing fingerprints: packed (hash, rightmost-pos) window minima entirely in scan-stage HOFs — zero Exchange"),
    ("kg_snapshot_diff", "versioned-KG diff: ONE conditional-aggregate pass over the observation log (never a two-snapshot join)"),
    ("kg_provenance", "per-edge provenance: window rank caps the doc sample BEFORE collect_list (bounded agg state), true count rides along"),
    ("sim_knn_graph", "k-NN graph: LSH bucket-join candidates symmetrized + per-source window rank — no all-pairs, bounded rank state"),
    ("kg_closeness", "harmonic closeness final round: root-keyed MS-BFS distance table + one map-side-combined per-root aggregate"),
    ("rel_session_windows", "native session_window aggregation: one shuffle on the user key, merge logic inside the agg"),
    ("text_bm25", "BM25 retrieval: explode filtered to the |Q| query terms, map-side tf agg, broadcast |Q|-row df join, TakeOrdered top-k (no global sort)"),
    ("dedup_levenshtein", "edit-distance verify: LSH candidates + length prefilter BEFORE the quadratic DP; candidate-sized text equi-joins"),
    ("kg_coreness", "h-operator core decomposition final sweep: adjacency equi-join + per-vertex window + map-side max agg over the checkpointed iterate, O(1) lineage"),
    ("rel_rolling_distinct", "DAU/WAU: bounded 7x explode of the deduplicated (user, day) frame replaces a sliding distinct window; two map-side-combined aggs"),
    ("text_cooccur_window", "token co-occurrence: +-2 window as offset-explode EQUI-join (no non-equi position join) + broadcast vocab marginals, total as driver literal"),
    ("kg_modularity", "modularity decomposition: LPA labels checkpointed, two keyed joins/aggs over E and V, m as driver literal (no global funnel)"),
]


def main() -> None:
    from denrl_spark.plans.driver_queries import QUERIES, RAW_QUERIES
    from denrl_spark.session import get_spark

    spark = get_spark(4, extra_conf={"spark.ui.showConsoleProgress": "false"})
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    out = [
        "# PLANS — physical-plan evidence\n",
        "Generated by `python tools/dump_plans.py` (sf0.001). Lines filtered",
        "to scans/joins/exchanges/codegen; full plans available via",
        "`df.explain('formatted')`.\n",
    ]
    for name, why in SHOW:
        df = {**QUERIES, **RAW_QUERIES}[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(mode)
        lines = [
            ln.strip()[:160]
            for ln in plan.splitlines()
            if any(k in ln for k in INTERESTING)
        ]
        if not lines:
            # plans rooted at a localCheckpoint (e.g. the mixture's
            # driver-literal reuse of its own aggregate) show none of
            # the marker strings: print the raw head so the evidence
            # is visible instead of an empty block
            lines = [ln.strip()[:160] for ln in plan.splitlines()[:6]]
        out.append(f"## {name}\n\n*{why}*\n\n```")
        out.extend(lines)
        out.append("```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
