"""Distant-supervision tagging: transcripts -> query-instance table.

The reference consumes rows that are already (sentence, query-position)
pairs with BIO tags where relation tags contain ``/`` (SURVEY.md §1.1,
run_jointmodel.py:595-649). This module derives those rows from the
transcript table by aligning KB seed triples onto whitespace tokens:

  transcripts(conv_id, turn_idx, text)
    -> tokenize (exact: ``' '.join(tokens) == text`` round-trip invariant)
    -> greedy longest-match entity spans against the broadcast KB
    -> one instance per entity span: query span keeps its entity tag,
       tails related to the query (KB subj->obj) get ``B-/pred`` relation
       tags, other entities keep entity tags (run_jointmodel.py:710-727
       tag semantics).

All ids are content-derived (blake2b of the row key), so the table is
identical under any partitioning and needs no global coordination — the
property that lets this run at 10^12 turns without a zipWithIndex barrier.
Spark SQL has no blake2b, so ``stable_id`` runs only inside the Arrow
kernels; every row that carries a sent_id also carries the
(conv_id, turn_idx) it hashes, and a consumer that needs the turn back
reads those columns instead of re-hashing.

Spark surface: one Arrow-batched ``mapInPandas`` emitting exploded
instance rows; everything else is built-in DataFrame ops.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame

from denrl_spark.sources.kb import KB

MAX_TOKENS = 512  # reference drops longer instances (run_jointmodel.py:516-520)

INSTANCE_SCHEMA = (
    "conv_id string, turn_idx int, sent_id bigint, instance_id bigint, "
    "query_id int, tokens array<string>, ner_tags array<string>"
)


def tokenize(text: str) -> list[str]:
    """Whitespace tokenization; inverse of ``' '.join`` (round-trip exact)."""
    return text.split(" ") if text else []


def stable_id(*parts) -> int:
    """Content-derived non-negative int62 (partition-invariant)."""
    h = hashlib.blake2b(":".join(str(p) for p in parts).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big") & ((1 << 62) - 1)


_KB_INDEX_CACHE: "weakref.WeakKeyDictionary[KB, dict]" = None  # type: ignore[assignment]


def _kb_first_token_index(kb: KB) -> dict[str, list[tuple[tuple[str, ...], str, str]]]:
    """first-token -> [(token_tuple, surface, type)] sorted longest-first.
    Turns the per-position join-and-probe into a dict hit on the first
    token (hot-path tagging runs this per token of every turn). Cached
    per live KB object (WeakKeyDictionary — entries die with the KB, so
    a reallocated object can never be served a stale index)."""
    global _KB_INDEX_CACHE
    if _KB_INDEX_CACHE is None:
        import weakref

        _KB_INDEX_CACHE = weakref.WeakKeyDictionary()
    idx = _KB_INDEX_CACHE.get(kb)
    if idx is None:
        idx = {}
        for surf, typ in kb.entity_type.items():
            toks = tuple(surf.split(" "))
            idx.setdefault(toks[0], []).append((toks, surf, typ))
        for cands in idx.values():
            cands.sort(key=lambda c: -len(c[0]))
        _KB_INDEX_CACHE[kb] = idx
    return idx


def find_entity_spans(tokens: list[str], kb: KB) -> list[tuple[int, int, str, str]]:
    """Greedy longest-match left-to-right. Returns (start, end_exclusive,
    surface, entity_type) sorted by start; spans never overlap."""
    idx = _kb_first_token_index(kb)
    spans = []
    i, n = 0, len(tokens)
    while i < n:
        hit = None
        for toks, surf, typ in idx.get(tokens[i], ()):
            ln = len(toks)
            if i + ln <= n and tuple(tokens[i : i + ln]) == toks:
                hit = (i, i + ln, surf, typ)
                break
        if hit:
            spans.append(hit)
            i = hit[1]
        else:
            i += 1
    return spans


def relation_for(kb: KB, subj: str, obj: str) -> str | None:
    """First KB predicate linking subj->obj (deterministic: KB order)."""
    for p, o in kb.subj_index.get(subj, ()):
        if o == obj:
            return p
    return None


def tag_instance(
    tokens: list[str],
    spans: list[tuple[int, int, str, str]],
    q: tuple[int, int, str, str],
    kb: KB,
) -> list[str]:
    """BIO tags for one query instance (reference tag semantics: query span
    -> entity type; related tails -> ``/``-relation tags; other entities ->
    entity types; everything else ``O``)."""
    tags = ["O"] * len(tokens)

    def put(start, end, label):
        tags[start] = "B-" + label
        for j in range(start + 1, end):
            tags[j] = "I-" + label

    for s, e, surf, typ in spans:
        if (s, e) == (q[0], q[1]):
            put(s, e, typ)
        else:
            rel = relation_for(kb, q[2], surf)
            put(s, e, rel if rel is not None else typ)
    return tags


def instances_and_spans_for_turn(
    conv_id: str, turn_idx: int, text: str, kb: KB
) -> tuple[list[dict], list[tuple[int, int, str, str]]]:
    """All query instances for one turn plus the shared entity spans
    (pure; shared by the Spark UDFs and the pytest oracle). Empty when
    the turn has no KB entity or exceeds MAX_TOKENS (length filter F1,
    run_jointmodel.py:516-520). Returning the spans lets the fused
    prediction path build emissions without re-running the matcher per
    instance."""
    tokens = tokenize(text)
    if not tokens or len(tokens) > MAX_TOKENS:
        return [], []
    spans = find_entity_spans(tokens, kb)
    if not spans:
        return [], []
    sent_id = stable_id(conv_id, turn_idx)
    out = []
    for q in spans:
        out.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "sent_id": sent_id,
                "instance_id": stable_id(conv_id, turn_idx, q[0]),
                "query_id": q[0],
                "tokens": tokens,
                "ner_tags": tag_instance(tokens, spans, q, kb),
            }
        )
    return out, spans


def instances_for_turn(
    conv_id: str, turn_idx: int, text: str, kb: KB
) -> list[dict]:
    return instances_and_spans_for_turn(conv_id, turn_idx, text, kb)[0]


def build_instances(
    transcripts: DataFrame, kb: KB | None = None, n_partitions: int | None = None
) -> DataFrame:
    """Transcripts -> instance table. One mapInPandas pass; the KB rides the
    task closure (tiny, equivalent to an explicit broadcast).

    The input is re-hashed across ``n_partitions`` (default one per
    core, the fused kernel's rule: each Arrow Python task pays a fixed
    worker cost, see ``extract_triples_fused``) first: transcript tables
    often arrive as few large files, and without this the Arrow-UDF
    stage runs at file parallelism, not cluster parallelism."""
    kb = kb or KB.default()
    spark = transcripts.sparkSession
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism
    cols = transcripts.select("conv_id", "turn_idx", "text").repartition(
        n_partitions, "conv_id", "turn_idx"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                rows.extend(instances_for_turn(conv_id, int(turn_idx), text, kb))
            yield pd.DataFrame(
                rows,
                columns=[
                    "conv_id",
                    "turn_idx",
                    "sent_id",
                    "instance_id",
                    "query_id",
                    "tokens",
                    "ner_tags",
                ],
            )

    return cols.mapInPandas(gen, INSTANCE_SCHEMA)
