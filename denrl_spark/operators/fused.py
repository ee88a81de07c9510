"""Fused extraction operator: transcripts -> triples in ONE Arrow pass.

The modular path (build_instances -> score_instances -> assemble_triples)
materializes the instance table between stages; the token/tag arrays are
duplicated per query instance (~2x per sentence) and cross the
JVM<->Python Arrow boundary three times. That traffic — not compute —
was the measured scaling ceiling (memory-bandwidth-bound at high worker
counts). This operator is the extraction path's whole-stage-codegen
analog: text goes in, (sent_id, ent1, ent1_tag, ent2, ent2_tag) comes
out with each sentence's own (conv_id, turn_idx) key appended
(``spans.TRIPLE_SCHEMA``), and all intermediate structures live in
Python worker memory for one Arrow batch at a time.

Semantics are EXACTLY the modular path's: per turn, the rows equal
``spans.sentence_triples`` over ``tagging.instances_for_turn`` in order
and value (tests/test_fused_kernel.py). That fold is the general one;
this kernel skips it because, in both modes, every instance's span
groups are the sentence's input spans, so the fold collapses to ordered
span pairs: for query span i and other span j, the triple is (word_i,
tag[i, i], word_j, tag[i, j]), i ascending, then j ascending, and a
lone span emits (word, tag, "", "None"). ``tag`` is the sentence's
(k, k) grid of name ids, cell (i, j) being span j's tag inside query
i's instance. A batch's grids are laid out flat, row-major, sentences
in batch order, and one emission serves both modes:

- gold mode: each cell comes from one (surface x surface) table: the
  query's own type on the diagonal, else the first KB predicate from
  surface i to surface j, else the type of j. ``tag_instance`` builds
  the BIO tags from exactly these names and ``group_spans`` parses them
  back into the input spans.
- pred mode: the gold tags become one-hot emissions (the frozen
  scorer's +10 evidence trick, 0 on ``O``, -1 elsewhere), Viterbi runs
  batched over length-sorted chunks, and one vectorized boundary scan
  groups the decoded tags. Under ``bio_transitions`` the best path is
  the input tags, so the decoded groups are the input spans; each chunk
  checks that with three array comparisons and raises ``RuntimeError``
  otherwise (a scorer that moves spans needs the general fold). Each
  cell is then the decoded label of its group.

Use this for pure extraction jobs; use the modular operators when the
instance table itself is needed (bootstrap selection, pattern mining,
negative sampling)."""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from denrl_spark.operators.scoring import (
    EVIDENCE,
    NON_EVIDENCE,
    bio_transitions,
    build_label_list,
    viterbi_batch,
)
from denrl_spark.operators.spans import TRIPLE_COLUMNS, TRIPLE_SCHEMA
from denrl_spark.operators.tagging import (
    MAX_TOKENS,
    find_entity_spans,
    stable_id,
    tokenize,
)
from denrl_spark.sources.kb import KB

# Target instances per Viterbi chunk (length-sorted, sentence-aligned so
# padding waste stays ~1 while the DP stays batched).
_PRED_CHUNK = 4096


class _KBTables:
    """Per-task lookup tables shared by both modes. A name is an entity
    type or a KB predicate; ``names`` holds them by id, ``b_id``/``i_id``
    give each name's B-/I- label id. ``pid[i, j]`` is the name id of the
    first KB predicate from surface i to surface j (``relation_for``'s
    KB-order tie-break), else of the type of j."""

    def __init__(self, kb: KB):
        surfaces = list(kb.entity_type)
        self.surf_id = {s: i for i, s in enumerate(surfaces)}
        # word semantics: span tokens re-join exactly to the KB surface
        # (find_entity_spans matches tuple(tokens[s:e]) == surf.split(" ")
        # and ' '.join is split's exact inverse), then fold strips it
        self.words = np.array([s.strip() for s in surfaces], dtype=object)
        self.labels = build_label_list(kb)
        label_id = {l: i for i, l in enumerate(self.labels)}
        self.names = np.array(
            [l[2:] for l in self.labels if l.startswith("B-")], dtype=object
        )
        name_id = {n: i for i, n in enumerate(self.names)}
        self.b_id = np.array([label_id["B-" + n] for n in self.names])
        self.i_id = np.array([label_id["I-" + n] for n in self.names])
        self.tid = np.array(
            [name_id[kb.entity_type[s]] for s in surfaces], dtype=np.int32
        )
        rel = np.array(
            [
                (self.surf_id[s], self.surf_id[o], name_id[p])
                for s, po in kb.subj_index.items()
                for p, o in po
                if s in self.surf_id and o in self.surf_id
            ],
            dtype=np.int64,
        ).reshape(-1, 3)
        # return_index keeps each (subj, obj) pair's first predicate in KB order
        _, first = np.unique(rel[:, 0] * len(surfaces) + rel[:, 1], return_index=True)
        self.pid = np.tile(self.tid, (len(surfaces), 1))
        self.pid[rel[first, 0], rel[first, 1]] = rel[first, 2]
        # Viterbi and group decode (group_spans at the label-id level)
        self.trans = bio_transitions(self.labels)
        self.o_id = label_id["O"]
        self.lab_name = np.array([name_id.get(l[2:], -1) for l in self.labels])  # O: -1
        self.lab_is_b = np.array([l.startswith("B-") for l in self.labels])


class _Spans(NamedTuple):
    """One Arrow batch's tagged sentences as flat arrays. Per sentence:
    its row in the batch, token count, span count ``k`` and the flat
    index ``off`` of its first span. Per span (sentences in batch order,
    spans by start): start, end and KB surface id."""

    row: np.ndarray
    ntok: np.ndarray
    k: np.ndarray
    off: np.ndarray
    ss: np.ndarray
    ee: np.ndarray
    sidx: np.ndarray


def _tag_batch(pdf: pd.DataFrame, kb: KB, tab: _KBTables) -> _Spans:
    """One tagging pass over an Arrow batch (same filters as
    instances_and_spans_for_turn: empty / >MAX_TOKENS turns and
    span-free turns drop)."""
    row, ntok, k, ss, ee, sidx = [], [], [], [], [], []
    surf_id = tab.surf_id
    for r, text in enumerate(pdf["text"]):
        tokens = tokenize(text)
        if not tokens or len(tokens) > MAX_TOKENS:
            continue
        spans = find_entity_spans(tokens, kb)
        if not spans:
            continue
        row.append(r)
        ntok.append(len(tokens))
        k.append(len(spans))
        for s, e, surf, _typ in spans:
            ss.append(s)
            ee.append(e)
            sidx.append(surf_id[surf])
    k = np.array(k, dtype=np.int64)
    return _Spans(
        np.array(row, dtype=np.int64),
        np.array(ntok, dtype=np.int64),
        k,
        np.cumsum(k) - k,
        *(np.array(a, dtype=np.int64) for a in (ss, ee, sidx)),
    )


def _ranges(start: np.ndarray, length: np.ndarray) -> np.ndarray:
    """``concatenate([arange(a, a + n) for a, n in zip(start, length)])``."""
    return np.repeat(start - np.cumsum(length) + length, length) + np.arange(length.sum())


def _cells(off: np.ndarray, k: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The (k, k) grid cells of sentences with first-span indices ``off``
    and span counts ``k``, row-major, sentences in the given order: for
    each cell (i, j), the index of its instance (query span i) counted
    from 0 over these sentences, and the flat index of span j."""
    kq = np.repeat(k, k)
    return np.repeat(np.arange(len(kq)), kq), _ranges(np.repeat(off, k), kq)


def _gold_labels(b: _Spans, q: np.ndarray, s: np.ndarray, tab: _KBTables) -> np.ndarray:
    """Name id of span ``s`` inside query ``q``'s instance (``tag_instance``)."""
    return np.where(q == s, tab.tid[b.sidx[q]], tab.pid[b.sidx[q], b.sidx[s]])


def _decode_chunk(b: _Spans, sel: np.ndarray, tab: _KBTables) -> np.ndarray:
    """Emissions -> Viterbi -> vectorized group decode for the sentences
    ``sel``. Returns the decoded name id of every cell of their grids,
    after checking that the groups are exactly every instance's input
    spans."""
    inst, s = _cells(b.off[sel], b.k[sel])
    q = _ranges(b.off[sel], b.k[sel])[inst]
    lengths = np.repeat(b.ntok[sel], b.k[sel])
    tmax = int(lengths.max())
    em = np.full((len(lengths), tmax, len(tab.labels)), NON_EVIDENCE, dtype=np.float32)
    em[:, :, tab.o_id] = 0.0
    # the gold tags as evidence: B- on each span's first token, I- after
    n = (b.ee - b.ss)[s]
    tok = _ranges(b.ss[s], n)
    gold = np.repeat(_gold_labels(b, q, s, tab), n)
    is_b = tok == np.repeat(b.ss[s], n)
    em[np.repeat(inst, n), tok, np.where(is_b, tab.b_id[gold], tab.i_id[gold])] = EVIDENCE
    ids = viterbi_batch(em, tab.trans, lengths)

    # group_spans at the id level: non-O positions split at non-adjacency,
    # name change or a B- label; groups are contiguous token ranges
    r, p = np.nonzero((np.arange(tmax) < lengths[:, None]) & (tab.lab_name[ids] >= 0))
    tg = ids[r, p]
    name = tab.lab_name[tg]
    first = np.ones(len(r), dtype=bool)
    first[1:] = (
        (r[1:] != r[:-1])
        | (p[1:] != p[:-1] + 1)
        | (name[1:] != name[:-1])
        | tab.lab_is_b[tg[1:]]
    )
    last = np.ones(len(r), dtype=bool)
    last[:-1] = first[1:]
    if not (
        np.array_equal(r[first], inst)
        and np.array_equal(p[first], b.ss[s])
        and np.array_equal(p[last] + 1, b.ee[s])
    ):
        raise RuntimeError(
            "Viterbi decoded span groups other than the input spans; the fused "
            "kernel needs the frozen scorer's one-hot evidence (the general fold "
            "is spans.sentence_triples)"
        )
    return name[first]


def _pred_labels(b: _Spans, tab: _KBTables) -> np.ndarray:
    """Decoded name id of every grid cell of the batch, in batch order.

    Sentences are length-sorted into ~_PRED_CHUNK-instance chunks
    (sentence-aligned: all instances of a sentence share one token
    length, so padding waste stays ~1 — the DP is memory-bandwidth-bound
    and padded bytes are wall time). Chunk boundaries are semantically
    free: Viterbi is per-instance and masked past each length."""
    order = np.argsort(b.ntok, kind="stable")
    chunk = (np.cumsum(b.k[order]) - b.k[order]) // _PRED_CHUNK
    cell_off = np.cumsum(b.k * b.k) - b.k * b.k
    lab = np.empty(int((b.k * b.k).sum()), dtype=np.int64)
    for c in np.unique(chunk):
        sel = order[chunk == c]
        lab[_ranges(cell_off[sel], b.k[sel] * b.k[sel])] = _decode_chunk(b, sel, tab)
    return lab


def _batch_triples(pdf: pd.DataFrame, kb: KB, tab: _KBTables, mode: str) -> pd.DataFrame:
    """The kernel body for one Arrow batch: ``TRIPLE_COLUMNS`` rows, the
    fold's rows (module docstring) from every grid cell's name id, with
    sent_id hashed once per sentence and the turn key gathered from its
    row."""
    b = _tag_batch(pdf, kb, tab)
    q, s = _cells(b.off, b.k)  # batch-wide, an instance's index is its query span's
    lab = _gold_labels(b, q, s, tab) if mode == "gold" else _pred_labels(b, tab)
    sent = np.repeat(np.arange(len(b.k)), b.k)[q]
    lone = b.k[sent] == 1
    keep = (q != s) | lone
    t1 = lab[np.flatnonzero(keep) + (q - s)[keep]]  # cell (i, i): the query's own tag
    q, s, sent, lone, t2 = q[keep], s[keep], sent[keep], lone[keep], lab[keep]
    conv = pdf["conv_id"].to_numpy()
    turn = pdf["turn_idx"].to_numpy()
    sid = np.fromiter(
        (stable_id(c, int(t)) for c, t in zip(conv[b.row], turn[b.row])),
        dtype=np.int64,
        count=len(b.row),
    )
    row = b.row[sent]
    cols = (
        sid[sent],
        tab.words[b.sidx[q]],
        tab.names[t1],
        np.where(lone, "", tab.words[b.sidx[s]]),
        np.where(lone, "None", tab.names[t2]),
        conv[row],
        turn[row],
    )
    return pd.DataFrame(dict(zip(TRIPLE_COLUMNS, cols)))


def extract_triples_fused(
    transcripts: DataFrame,
    kb: KB | None = None,
    mode: str = "gold",
    n_partitions: int | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text) -> ``TRIPLE_SCHEMA`` triples,
    single pass; each triple carries its turn's (conv_id, turn_idx).

    ``n_partitions``: None (default) hash-repartitions to cluster
    parallelism, one Arrow Python task per core — the safety net for
    inputs that arrive as a few large splits. One wave, not two: every
    Python task pays a fixed worker cost before the UDF body runs,
    0.02-0.04 s of worker CPU per task for a no-op ``mapInPandas``
    (pyspark 4.1.2, 4 vCPUs; ``tools/python_task_cpu.py``). It was
    0.12-0.27 s under pyspark's stock daemon, whose per-task
    ``importlib.invalidate_caches()`` re-reads the central directory of
    8 cached zipimporters (6 over ``pyspark.zip``, one over the py4j zip,
    one over the 5,359-entry spark-core jar); the session's daemon
    (``denrl_spark._daemon``) skips those re-reads. The cost scales with
    the task count, not the data, so a second wave pays it twice for
    tail balance that per-row independent work rarely needs. Pass an
    explicit count to override.
    Pass 0 when the input is ALREADY spread to cluster parallelism
    (e.g. transcripts_from_documents' lifted scan): the operator is
    per-row independent, so any even layout works, and skipping the
    redundant hash exchange removes one full shuffle + task wave from
    the query (measured ~0.5s of the 1.6s kg_gold wall at sf0.1/32c —
    guide §2.4, remove shuffles outright)."""
    if mode not in ("gold", "pred"):
        raise ValueError(mode)
    kb = kb or KB.default()

    spark = transcripts.sparkSession
    cols = transcripts.select("conv_id", "turn_idx", "text")
    if n_partitions != 0:
        n_partitions = n_partitions or spark.sparkContext.defaultParallelism
        cols = cols.repartition(n_partitions, "conv_id", "turn_idx")

    def gen(batches):
        tab = _KBTables(kb)  # once per task (guide §4.5)
        for pdf in batches:
            yield _batch_triples(pdf, kb, tab, mode)

    return cols.mapInPandas(gen, TRIPLE_SCHEMA)
