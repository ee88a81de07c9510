"""Gram-array layout regression tests.

The per-doc DISTINCT gram ARRAY (textops.distinct_gram_docs) is the one
input layout of the candidate-pruned dedup family: the minhash
signature is a zero-exchange per-row fold over it (minhash_band_array /
minhash_from_grams), and the verify reads its shingles and sizes off it
(pair_overlap). These tests pin the algebra that relies on, on an
adversarial fixture (null text, empty text, short docs below the
shingle length, heavy within-doc shingle repetition, exact dups):

- explode(grams) is row-identical to distinct_shingles;
- the fold signature equals a raw-multiset groupBy(doc_id) band-min
  signature (min over a set == min over any multiset with that support;
  shingle-less docs emit no rows on either path);
- the full pruned pipeline (gd checkpoint, gd-fed candidates, gd-fed
  verify) returns the pairs of the unpruned exact jaccard_pairs;
- building the pruned pipeline runs no Spark job beyond its two
  checkpoints.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from denrl_spark.functions import textops


def _fixture(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i % 3}") for i in range(30)]
    rows += [
        (100, base),                        # near-dup hub
        (101, base),                        # exact dup of 100
        (102, "x y z x y z x y z x y z"),   # heavy shingle repetition
        (103, "x y z x y z"),               # near-dup of 102, repetition
        (104, None),                        # null text -> no shingles
        (105, ""),                          # empty text -> no shingles
        (106, "two tokens"),                # below shingle length
        (107, "exactly three tokens"),      # exactly one shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gram_array_explodes_to_distinct_shingles(spark):
    docs = _fixture(spark)
    gd = textops.distinct_gram_docs(docs)
    exploded = sorted(
        map(tuple, gd.select("doc_id", F.explode("grams").alias("shingle")).collect())
    )
    reference = sorted(map(tuple, textops.distinct_shingles(docs).collect()))
    assert exploded == reference
    assert exploded, "fixture produced no shingles"
    # shingle-less docs keep a row with an EMPTY array (not null)
    empties = dict(
        gd.where(F.col("doc_id").isin(104, 105, 106)).select(
            "doc_id", F.size("grams")
        ).collect()
    )
    assert empties == {104: 0, 105: 0, 106: 0}


def test_fold_signature_equals_multiset_groupby_signature(spark):
    docs = _fixture(spark)
    new = sorted(
        map(tuple, textops.minhash_from_grams(textops.distinct_gram_docs(docs)).collect())
    )
    mins = textops.shingles(docs).groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws(":", F.lit(str(b)), F.col("shingle")))).alias(
                f"mh{b}"
            )
            for b in range(textops.N_BANDS)
        ]
    )
    old = sorted(
        map(
            tuple,
            mins.select("doc_id", textops.band_stack_expr(textops.N_BANDS)).collect(),
        )
    )
    assert new == old
    # shingle-less docs emit no signature rows on either path
    sig_docs = {r[0] for r in new}
    assert not sig_docs & {104, 105, 106}
    assert 107 in sig_docs  # one shingle is enough
    # and minhash_signatures (the public batch entry) is the fold path
    pub = sorted(map(tuple, textops.minhash_signatures(docs).collect()))
    assert pub == old


def test_pruned_pipeline_matches_prerefactor_wiring(spark):
    docs = _fixture(spark)
    new = sorted(map(tuple, textops.jaccard_pairs_pruned(docs).collect()))
    # the unpruned exact shared-shingle self-join is the reference
    exact = sorted(map(tuple, textops.jaccard_pairs(docs).collect()))
    assert new == exact
    assert new, "fixture produced no verified pairs"


def _jobs_to_build(spark, build) -> int:
    """Spark jobs run while ``build()`` constructs (not executes) a
    DataFrame, counted through a fresh job group."""
    sc = spark.sparkContext
    group = f"gram_arrays_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pruned_pipeline_builds_with_checkpoint_jobs_only(spark):
    """Constructing jaccard_pairs_pruned runs exactly the jobs of its two
    eager barriers, the gram-array checkpoint and the candidate stage's
    checkpoint, built here alone: no driver action decides the verify
    shape."""
    docs = _fixture(spark)
    parts = _jobs_to_build(
        spark,
        lambda: textops.lsh_candidate_pairs(
            textops.distinct_gram_docs(docs).localCheckpoint()
        ),
    )
    whole = _jobs_to_build(spark, lambda: textops.jaccard_pairs_pruned(docs))
    assert parts >= 2
    assert whole == parts
