"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query at sf0.001 — the full KG-construction
  gold path (documents -> transcripts -> distant-supervision instances ->
  BIO span grouping -> per-sentence triple assembly), returning the
  (sent_id, ent1, ent1_tag, ent2, ent2_tag) triple DataFrame.
- ``queries()`` / ``oracle_sql()``: operator registry, one entry per
  implemented operator family from SURVEY.md §2 plus the training-data
  pipeline operators (dedup / similarity / text analysis). SQL oracles
  live next to their Spark twins in denrl_spark/plans/driver_queries.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: gold-path triple extraction at sf0.001 (fused operator:
    text in, (sent_id, ent1, ent1_tag, ent2, ent2_tag) out, one Arrow
    pass; equivalence with the modular chain is test-asserted). The
    kernel's trailing (conv_id, turn_idx) turn key is not selected."""
    from denrl_spark.operators.fused import extract_triples_fused
    from denrl_spark.plans.docs_kg import docs_kb, transcripts_from_documents

    tr = transcripts_from_documents(spark, "/root/testdata/sf0.001")
    return extract_triples_fused(tr, docs_kb(), mode="gold", n_partitions=0).select(
        "sent_id", "ent1", "ent1_tag", "ent2", "ent2_tag"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from denrl_spark.plans.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from denrl_spark.plans.driver_queries import ORACLES

    return dict(ORACLES)
