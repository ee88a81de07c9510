"""End-to-end KG-construction job (SURVEY.md §7 stage order), the thing
``spark-submit --py-files denrl_spark.zip tools/run_pipeline.py`` runs:

  transcripts -> instances -> bootstrap rounds (patterns / selection /
  negative sampling, checkpointed) -> frozen-scorer inference -> triple
  assembly -> eval vs gold -> canonicalization -> graph materialize.

Skew handling applied here (not in the operators, which stay generic):
- instances are REPARTITIONED BY RANGE on token count before scoring —
  the rebuild's LengthGroupedSampler analog (trainer.py:2148-2170):
  long-tail conversations cluster together so Arrow batches pad less and
  stragglers shrink.
- AQE skew-join splitting is on session-wide (session.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from denrl_spark.operators.bootstrap import collect_bow, run_bootstrap
from denrl_spark.operators.evaluate import triple_metrics
from denrl_spark.operators.graph import materialize_graph
from denrl_spark.operators.patterns import relation_bow
from denrl_spark.operators.scoring import score_instances
from denrl_spark.operators.spans import assemble_triples
from denrl_spark.operators.tagging import build_instances
from denrl_spark.sources.corpus import transcripts as synth_transcripts
from denrl_spark.sources.kb import KB


def length_partition(instances: DataFrame, n_partitions: int | None = None) -> DataFrame:
    """O5 length-grouped batching analog: range-partition on token count
    so similarly-sized rows share Arrow batches."""
    spark = instances.sparkSession
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    return instances.withColumn("_len", F.size("tokens")).repartitionByRange(
        n, "_len", "sent_id"
    ).drop("_len")


def run_kg_pipeline(
    spark: SparkSession,
    transcripts: DataFrame | None = None,
    kb: KB | None = None,
    n_convs: int = 200,
    seed: int = 42,
    bootstrap_rounds: int = 1,
    checkpoint_dir: str | None = None,
    output_dir: str | None = None,
    threshold: float | None = None,
    sample_rate: float | None = None,
    max_new_patterns: int | None = None,
) -> dict:
    """Runs the full job; returns the metrics/throughput report dict.

    ``threshold`` / ``sample_rate`` / ``max_new_patterns`` mirror the
    reference CLI knobs (README.md:30-31; run_jointmodel.py:211-232):
    KL-confidence selection threshold (0.5), negative sampling rate
    (0.1), per-round pattern growth cap (5)."""
    kb = kb or KB.default()
    t_start = time.time()

    tr = transcripts if transcripts is not None else synth_transcripts(spark, n_convs, seed)
    tr = tr.cache()
    n_turns = tr.count()

    instances = build_instances(tr, kb).cache()
    n_instances = instances.count()

    from denrl_spark.operators.attention import THRESHOLD
    from denrl_spark.operators.patterns import MAX_NEW_PATTERNS

    state = run_bootstrap(
        spark,
        instances,
        kb,
        rounds=bootstrap_rounds,
        checkpoint_dir=checkpoint_dir,
        seed=seed,
        threshold=THRESHOLD if threshold is None else threshold,
        sample_rate=sample_rate,
        max_new=MAX_NEW_PATTERNS if max_new_patterns is None else max_new_patterns,
    )
    bow = collect_bow(relation_bow(state.pattern_set))

    scored = score_instances(
        length_partition(instances), kb, bow, pre_partitioned=True
    ).cache()
    pred = assemble_triples(scored, tags_col="pred_tags").cache()
    gold = assemble_triples(instances).cache()
    n_triples = pred.count()

    metrics = triple_metrics(pred, gold)

    # eager="both": both parts are consumed below (counts + optional
    # writes), so each is computed once
    vertices, edges = materialize_graph(pred, eager="both")
    n_vertices, n_edges = vertices.count(), edges.count()

    # graph-analytics summary over the materialized edges (stage-6
    # consumers, one pass each over the small aggregated edge table —
    # not the triple table)
    from denrl_spark.operators.graph_analytics import degrees, pagerank_fixedpoint

    deg = degrees(edges).localCheckpoint()
    max_out = deg.agg(F.max("out_deg")).collect()[0][0] or 0
    pr_top = [
        (r["surface"], r["rank_u"])
        for r in pagerank_fixedpoint(edges, iters=3)
        .orderBy(F.desc("rank_u"), "surface")
        .limit(5)
        .collect()
    ]

    if output_dir:
        from denrl_spark.sources.io import write_metrics_json, write_table

        write_table(pred, f"{output_dir}/triples")
        write_table(vertices, f"{output_dir}/vertices")
        write_table(edges, f"{output_dir}/edges")
        write_table(deg, f"{output_dir}/degrees")

    elapsed = time.time() - t_start
    report = {
        "n_turns": n_turns,
        "n_instances": n_instances,
        "n_triples": n_triples,
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "max_out_degree": int(max_out),
        "pagerank_top5": pr_top,
        "precision": metrics["precision"],
        "recall": metrics["recall"],
        "f1": metrics["f1"],
        "precision_tag": metrics["precision(tag)"],
        "recall_tag": metrics["recall(tag)"],
        "bootstrap_stats": state.stats,
        "elapsed_sec": round(elapsed, 3),
        "turns_per_sec": round(n_turns / elapsed, 2),
        "triples_per_sec": round(n_triples / elapsed, 2),
    }
    if output_dir:
        write_metrics_json(report, output_dir, "pipeline_report.json")
    return report
