"""End-to-end gold path: Spark triples == pure-Python oracle triples,
and the eval metric on identical sets is exactly 1.0 (SURVEY.md §5.4)."""

import re
from collections import Counter

from denrl_spark.operators.evaluate import triple_metrics
from denrl_spark.operators.spans import TRIPLE_COLUMNS, assemble_triples, sentence_triples
from denrl_spark.operators.tagging import build_instances, instances_for_turn, stable_id
from denrl_spark.sources.corpus import make_turn_text, n_turns_for, transcripts
from denrl_spark.sources.kb import KB

KBD = KB.default()
N_CONVS = 50
SEED = 42


def oracle_triples():
    """Driver-side oracle: same corpus, pure Python the whole way."""
    out = {}
    for conv in range(N_CONVS):
        cid = f"conv-{conv:08d}"
        for turn in range(n_turns_for(SEED, conv)):
            ins = instances_for_turn(cid, turn, make_turn_text(SEED, conv, turn), KBD)
            if not ins:
                continue
            ins.sort(key=lambda d: (d["query_id"], d["instance_id"]))
            out[ins[0]["sent_id"]] = sentence_triples(ins)
    return out


def test_spark_triples_match_oracle(spark):
    tr = transcripts(spark, N_CONVS, seed=SEED)
    ins = build_instances(tr, KBD)
    got = assemble_triples(ins).collect()
    by_sent = {}
    for r in got:
        by_sent.setdefault(r["sent_id"], []).append(
            (r["ent1"], r["ent1_tag"], r["ent2"], r["ent2_tag"])
        )
    exp = {
        sid: [(d["ent1"], d["ent1_tag"], d["ent2"], d["ent2_tag"]) for d in trips]
        for sid, trips in oracle_triples().items()
        if trips
    }
    assert set(by_sent) == set(exp)
    for sid in exp:
        # multiset equality per sentence (duplicates preserved)
        assert Counter(by_sent[sid]) == Counter(exp[sid]), sid


def test_gold_vs_gold_metric_is_one(spark):
    tr = transcripts(spark, N_CONVS, seed=SEED)
    ins = build_instances(tr, KBD).cache()
    trips = assemble_triples(ins).cache()
    m = triple_metrics(trips, trips)
    assert m["precision"] == 1.0 and m["recall"] == 1.0 and m["f1"] == 1.0
    assert m["precision(tag)"] == 1.0 and m["recall(tag)"] == 1.0


def test_triples_deterministic_across_repartition(spark):
    tr = transcripts(spark, 30, seed=SEED).cache()
    ins = build_instances(tr, KBD).cache()
    a = sorted(map(tuple, assemble_triples(ins.repartition(3)).collect()))
    b = sorted(map(tuple, assemble_triples(ins.repartition(17)).collect()))
    assert a == b


def test_assume_grouped_fast_path_matches_shuffled(spark):
    """Co-partitioned assembly (no shuffle) == repartition+sort assembly."""
    from denrl_spark.operators.scoring import score_instances

    tr = transcripts(spark, 40, seed=11)
    ins = build_instances(tr, KBD)
    scored = score_instances(ins, KBD, {}, pre_partitioned=True, emit_attention=False)
    fast = sorted(map(tuple, assemble_triples(scored, tags_col="pred_tags", assume_grouped=True).collect()))
    slow = sorted(map(tuple, assemble_triples(scored, tags_col="pred_tags").collect()))
    assert fast == slow and len(fast) > 0


def test_fused_matches_modular_gold_and_pred(spark):
    """Fused == modular as multisets of whole rows, the carried
    (conv_id, turn_idx) key included, and every row's sent_id is the
    hash of that key."""
    from denrl_spark.operators.fused import extract_triples_fused
    from denrl_spark.operators.scoring import score_instances

    def keyed_rows(df):
        assert df.columns == TRIPLE_COLUMNS
        rows = sorted(map(tuple, df.collect()))
        for r in rows:
            assert r[0] == stable_id(r[5], r[6]), r
        return rows

    tr = transcripts(spark, 40, seed=13).cache()
    # gold
    fused_g = keyed_rows(extract_triples_fused(tr, KBD, mode="gold"))
    ins = build_instances(tr, KBD).cache()
    mod_g = keyed_rows(assemble_triples(ins))
    assert fused_g == mod_g and len(fused_g) > 0
    # pred
    fused_p = keyed_rows(extract_triples_fused(tr, KBD, mode="pred"))
    scored = score_instances(ins, KBD, {}, pre_partitioned=True, emit_attention=False)
    mod_p = keyed_rows(assemble_triples(scored, tags_col="pred_tags", assume_grouped=True))
    assert fused_p == mod_p


def test_fused_layout_invariant(spark):
    """extract_triples_fused is per-row independent: no input layout
    (n_partitions=0), one partition, and the default one-wave hash
    repartition all give the same triple multiset; the default plan
    hashes (conv_id, turn_idx) into exactly defaultParallelism buckets."""
    from denrl_spark.operators.fused import extract_triples_fused

    tr = transcripts(spark, 30, seed=17).cache()
    for mode in ("gold", "pred"):
        got = {
            n: sorted(map(tuple, extract_triples_fused(tr, KBD, mode, n).collect()))
            for n in (0, 1, None)
        }
        assert got[0] == got[1] == got[None] and len(got[None]) > 0, mode
    plan = extract_triples_fused(tr, KBD)._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    hashes = re.findall(r"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+L?, (\d+)\)", plan)
    assert hashes == [str(n)], plan
