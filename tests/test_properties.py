"""Property-based checks (SURVEY.md §5.3) — hypothesis over the pure
kernels; no Spark session needed."""

from hypothesis import given, settings, strategies as st

from denrl_spark.operators.evaluate import metrics_oracle
from denrl_spark.operators.patterns import extract_patterns_py
from denrl_spark.operators.spans import group_spans, sentence_triples

TYPES = ["PERSON", "LOC", "/r/a", "/r/b"]


@st.composite
def tagged_sentence(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    tokens = [f"t{i}" for i in range(n)]
    tags = []
    prev_type = None
    for _ in range(n):
        kind = draw(st.sampled_from(["O", "B", "I"]))
        if kind == "O" or (kind == "I" and prev_type is None):
            tags.append("O")
            prev_type = None
        elif kind == "B":
            prev_type = draw(st.sampled_from(TYPES))
            tags.append("B-" + prev_type)
        else:
            tags.append("I-" + prev_type)
    return tokens, tags


def naive_group(tokens, tags):
    """Independent re-derivation of BIO grouping semantics: walk the
    tag list, starting a group at each non-O tag that is not a valid
    continuation (same type, I-prefixed, adjacent)."""
    groups = []
    i = 0
    idxs = [j for j, t in enumerate(tags) if t != "O"]
    while i < len(idxs):
        j = idxs[i]
        typ = tags[j].split("-")[-1]
        members = [j]
        k = i + 1
        while (
            k < len(idxs)
            and idxs[k] == members[-1] + 1
            and tags[idxs[k]].split("-")[-1] == typ
            and not tags[idxs[k]].startswith("B")
        ):
            members.append(idxs[k])
            k += 1
        groups.append(
            {
                "entity_group": typ,
                "word": " ".join(tokens[m] for m in members),
                "index": members,
            }
        )
        i = k
    return groups


@given(tagged_sentence())
@settings(max_examples=300, deadline=None)
def test_group_spans_matches_naive(sent):
    tokens, tags = sent
    assert group_spans(tokens, tags) == naive_group(tokens, tags)


@given(tagged_sentence(), st.integers(min_value=0, max_value=11))
@settings(max_examples=300, deadline=None)
def test_pattern_extraction_total_and_bounded(sent, q):
    tokens, tags = sent
    q = min(q, len(tokens) - 1)
    pats = extract_patterns_py(tokens, tags, q)
    for p in pats:
        # patterns are token substrings: every pattern token is in sentence
        for tok in p["pattern"].split():
            if tok:
                assert tok in tokens
        assert 0 <= p["target_id"] < len(tokens)


@given(tagged_sentence(), st.integers(min_value=0, max_value=11))
@settings(max_examples=200, deadline=None)
def test_triples_identity_metric(sent, q):
    tokens, tags = sent
    q = min(q, len(tokens) - 1)
    trips = sentence_triples([{"query_id": q, "tokens": tokens, "ner_tags": tags}])
    m = metrics_oracle([trips], [trips])
    if trips:
        assert m["precision"] == m["recall"] == 1.0
    # metric is always bounded
    assert 0.0 <= m["precision"] <= 1.0 and 0.0 <= m["recall"] <= 1.0


@given(tagged_sentence())
@settings(max_examples=100, deadline=None)
def test_pattern_extraction_padding_invariant(sent):
    # appending O-tagged tokens after the sentence must not change
    # patterns for pre-existing targets (SURVEY §5.3)
    tokens, tags = sent
    pats = extract_patterns_py(tokens, tags, 0)
    tokens2 = tokens + ["pad1", "pad2"]
    tags2 = tags + ["O", "O"]
    pats2 = extract_patterns_py(tokens2, tags2, 0)
    assert pats == pats2


@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=0, max_size=200),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=200, deadline=None)
def test_next_fit_packer_invariants(lengths, capacity):
    """Independent simulation of next-fit: bins fill left to right,
    offsets are exact running sums, a bin overflows only as a single
    oversized doc, and a new bin opens only when the previous could
    not hold the doc (the no-wasted-bin property of next-fit)."""
    from denrl_spark.operators.packing import NextFitPacker

    p = NextFitPacker(capacity)
    placed = [p.place(n) for n in lengths]

    bins: dict[int, list[int]] = {}
    for (b, off), n in zip(placed, lengths):
        bins.setdefault(b, []).append((off, n))

    # bin ids are contiguous from 0
    assert sorted(bins) == list(range(len(bins)))
    prev_used = None
    for b in sorted(bins):
        used = 0
        for off, n in bins[b]:  # placement order == list order
            assert off == used
            used += n
        assert used <= capacity or len(bins[b]) == 1
        # next-fit: a new bin means its first doc did NOT fit the
        # previous bin's remaining space
        if b > 0:
            first_n = bins[b][0][1]
            assert prev_used + first_n > capacity
        prev_used = used
