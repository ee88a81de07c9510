"""r6b gram-array layout regression tests.

The LSH/jaccard family's shared intermediate is now the per-doc DISTINCT
gram ARRAY (textops.distinct_gram_docs) and the minhash signature is a
zero-exchange per-row fold over it (minhash_band_array /
minhash_from_grams) instead of the explode + groupBy(doc_id) band-min
aggregation. These tests pin the algebra the refactor relies on, on an
adversarial fixture (null text, empty text, short docs below the shingle
length, heavy within-doc shingle repetition, exact dups):

- explode(grams) is row-identical to distinct_shingles;
- the fold signature equals the historical raw-multiset groupBy
  signature (min over a set == min over any multiset with that support;
  shingle-less docs emit no rows on either path);
- the full pruned pipeline (gd checkpoint, gd-fed candidates, gd-fed
  verify) is row-identical to the pre-refactor component wiring;
- the sets-verify reading arrays off gd equals the collect_list shape.
"""

from __future__ import annotations

import pytest
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
    old = sorted(
        map(tuple, textops.minhash_from_shingles(textops.shingles(docs)).collect())
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
    # pre-refactor wiring: exploded-shingle checkpoint, sh-fed candidate
    # generation (groupBy signatures), default groupBy sizes in verify
    shd = textops.distinct_shingles(docs).localCheckpoint()
    cand = textops.lsh_candidate_pairs(docs, sh=shd)
    old = sorted(
        map(tuple, textops.jaccard_verify_pairs(docs, cand, 200_000, sh=shd).collect())
    )
    assert new == old
    assert new, "fixture produced no verified pairs"


def test_sets_verify_from_gram_arrays_equals_collect_list(spark):
    docs = _fixture(spark)
    gd = textops.distinct_gram_docs(docs).localCheckpoint()
    cand = textops.lsh_candidate_pairs(docs, gd=gd)
    shd = gd.select("doc_id", F.explode("grams").alias("shingle"))
    via_arrays = sorted(
        map(tuple, textops.jaccard_verify_pairs_sets(cand, min_j_e6=200_000, gd=gd).collect())
    )
    via_collect = sorted(
        map(tuple, textops.jaccard_verify_pairs_sets(cand, shd, 200_000).collect())
    )
    assert via_arrays == via_collect
    assert via_arrays, "fixture produced no verified pairs"
    with pytest.raises(ValueError):
        textops.jaccard_verify_pairs_sets(cand, shd, gd=gd)
