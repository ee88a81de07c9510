"""Registry-wide physical-plan hygiene sweep.

Every registered driver query is planned at sf0.001 and asserted free
of the four scale-killer shapes:

- ``CartesianProduct`` — an unbucketed all-pairs join (the documented
  brute-force baselines compile to BroadcastNestedLoopJoin with a
  broadcast-sized side, which is the acceptable form);
- ``Exchange SinglePartition`` — a global funnel through one task
  (global-order windows plan this way; build_vocab was the one
  offender and now uses the distributed ranker, functions/ranking.py);
- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan (all
  Python in this engine must be Arrow-batched);
- ``ArrowEvalPython`` — a scalar pandas_udf: a per-column Python
  boundary inside a query plan. Python runs only in the ``mapInPandas``
  kernels, which emit every key their consumers need (the triples carry
  their (conv_id, turn_idx) turn key, so nothing re-hashes a turn).

The allowlists are EMPTY by design; add an entry only with a written
justification next to it.
"""

import pytest

from denrl_spark.plans.driver_queries import QUERIES, RAW_QUERIES

SMELLS = {
    "CartesianProduct": frozenset(),  # no exceptions
    "SinglePartition": frozenset(),  # no exceptions
    "BatchEvalPython": frozenset(),  # no exceptions
    "ArrowEvalPython": frozenset(),  # no exceptions
}

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(QUERIES) + sorted(RAW_QUERIES))
def test_no_scale_killer_shapes(spark, name):
    fn = QUERIES.get(name) or RAW_QUERIES[name]
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    for smell, allow in SMELLS.items():
        if name in allow:
            continue
        assert smell not in plan, f"{name}: {smell} in physical plan"


def test_corpus_synthesis_is_arrow_batched(spark):
    """The synthetic corpus generator is not a registered query but IS the
    substrate of every pipeline test and scaling run — keep it free of
    row-at-a-time Python too (the turn-count udf was the last
    BatchEvalPython in the repo)."""
    from denrl_spark.sources.corpus import transcripts

    plan = (
        transcripts(spark, 5, seed=1)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
