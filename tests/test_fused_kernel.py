"""The fused kernel's Python body, without Spark: per turn, its rows equal
the modular chain's fold (``spans.sentence_triples`` over
``tagging.instances_for_turn``) in row order and values, in gold and in
pred mode, and pred mode fails loudly when decoding moves a span."""

import numpy as np
import pandas as pd
import pytest

from denrl_spark.operators import fused
from denrl_spark.operators.scoring import (
    bio_transitions,
    build_label_list,
    emissions_from_spans,
    viterbi_batch,
)
from denrl_spark.operators.spans import TRIPLE_COLUMNS, sentence_triples
from denrl_spark.operators.tagging import MAX_TOKENS, instances_and_spans_for_turn
from denrl_spark.sources.corpus import make_turn_text, n_turns_for
from denrl_spark.sources.kb import KB

KBD = KB.default()

TURNS = [
    "hello bob how are you",  # one span: k == 1
    "bob alice johnson went to paris",  # adjacent spans, a 2-token surface
    "bob told bob about new york and brooklyn",  # the same surface twice
    "",  # empty: dropped
    " ".join(["bob"] * (MAX_TOKENS + 1)),  # over MAX_TOKENS: dropped
    "nothing to see here",  # no span: dropped
    "grace li met henry in tokyo then japan with grace li",
]

# a relation from a surface to itself, and two predicates for one pair
# (the first in KB order wins)
_TOY_TRIPLES = [("x", "/r/self", "x"), ("x", "/r/a", "y z"), ("x", "/r/b", "y z"),
                ("y z", "/r/c", "x")]
TOY_KB = KB(
    {"x": "T", "y z": "U", "w": "T"},
    frozenset(_TOY_TRIPLES),
    {"x": [(p, o) for s, p, o in _TOY_TRIPLES if s == "x"], "y z": [("/r/c", "x")]},
)
TOY_TURNS = ["x y z x", "w x", "y z", "x", "q w q y z w"]


def batch(texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [f"c{i % 3}" for i in range(len(texts))],
            "turn_idx": np.arange(len(texts), dtype=np.int32),
            "text": texts,
        }
    )


def kernel(pdf: pd.DataFrame, kb: KB, mode: str) -> pd.DataFrame:
    """What one Arrow batch of ``extract_triples_fused`` runs."""
    return fused._batch_triples(pdf, kb, fused._KBTables(kb), mode)


def modular(pdf: pd.DataFrame, kb: KB, mode: str) -> list[tuple]:
    """The modular chain turn by turn, in row order; pred mode decodes
    each instance with the scorer's emissions and Viterbi first."""
    labels = build_label_list(kb)
    label_id = {l: i for i, l in enumerate(labels)}
    trans = bio_transitions(labels)
    out = []
    for conv, turn, text in pdf.itertuples(index=False):
        ins, spans = instances_and_spans_for_turn(conv, int(turn), text, kb)
        if mode == "pred":
            for d in ins:
                em = emissions_from_spans(
                    d["tokens"], spans, d["query_id"], kb, label_id, d["instance_id"]
                )
                ids = viterbi_batch(em[None], trans, np.array([len(d["tokens"])]))[0]
                d["ner_tags"] = [labels[i] for i in ids]
        for t in sentence_triples(ins):
            out.append(
                (ins[0]["sent_id"], t["ent1"], t["ent1_tag"], t["ent2"], t["ent2_tag"],
                 conv, int(turn))
            )
    return out


def rows(frame: pd.DataFrame) -> list[tuple]:
    assert list(frame.columns) == TRIPLE_COLUMNS
    return [
        (int(s), e1, t1, e2, t2, c, int(t))
        for s, e1, t1, e2, t2, c, t in frame.itertuples(index=False)
    ]


def corpus_turns(seed: int, n_convs: int) -> list[str]:
    return [
        make_turn_text(seed, c, t) for c in range(n_convs) for t in range(n_turns_for(seed, c))
    ]


@pytest.mark.parametrize("mode", ["gold", "pred"])
@pytest.mark.parametrize(
    "kb,texts",
    [(KBD, TURNS), (TOY_KB, TOY_TURNS), (KBD, corpus_turns(7, 40))],
    ids=["fixtures", "toy_kb", "corpus"],
)
def test_kernel_rows_equal_modular_fold_in_order(kb, texts, mode):
    pdf = batch(texts)
    got = rows(kernel(pdf, kb, mode))
    assert got == modular(pdf, kb, mode)
    assert got


@pytest.mark.parametrize("mode", ["gold", "pred"])
def test_batch_without_spans_yields_empty_frame(mode):
    frame = kernel(batch(["", "nothing to see here"]), KBD, mode)
    assert list(frame.columns) == TRIPLE_COLUMNS and len(frame) == 0


def test_fixture_rows():
    """The hand fixtures' cases, spelled out: a lone span, adjacent
    spans, a repeated surface, dropped turns, and a self-relation that
    applies to another span of the same surface but never to the query."""
    got = rows(kernel(batch(TURNS), KBD, "gold"))
    by_turn: dict[int, list] = {}
    for r in got:
        by_turn.setdefault(r[6], []).append(r[1:5])
    assert by_turn[0] == [("bob", "PERSON", "", "None")]
    assert by_turn[1][:2] == [
        ("bob", "PERSON", "alice johnson", "PERSON"),
        ("bob", "PERSON", "paris", "/people/person/place_lived"),
    ]
    assert ("bob", "PERSON", "bob", "PERSON") in by_turn[2]
    assert not {3, 4, 5} & set(by_turn)
    toy = rows(kernel(batch(TOY_TURNS), TOY_KB, "gold"))
    assert [r[1:5] for r in toy if r[6] == 0] == [
        ("x", "T", "y z", "/r/a"),
        ("x", "T", "x", "/r/self"),
        ("y z", "U", "x", "/r/c"),
        ("y z", "U", "x", "/r/c"),
        ("x", "T", "x", "/r/self"),
        ("x", "T", "y z", "/r/a"),
    ]


def test_pred_raises_when_decoding_moves_spans(monkeypatch):
    """Pred mode never emits from groups that differ from the input
    spans: an all-``O`` decode raises instead of emitting other rows."""
    tab = fused._KBTables(KBD)
    monkeypatch.setattr(
        fused,
        "viterbi_batch",
        lambda em, trans, lengths: np.full(em.shape[:2], tab.o_id),
    )
    with pytest.raises(RuntimeError):
        fused._batch_triples(batch(TURNS), KBD, tab, "pred")
