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
Python worker memory for one sentence at a time.

Semantics are EXACTLY the modular path's (tests assert multiset
equality per sentence); the r6 interior is vectorized end to end:

- gold mode: ``tag_instance`` -> ``group_spans`` is an identity
  round-trip (the BIO tags are BUILT from the entity spans and
  immediately re-parsed back into the same spans), so the per-sentence
  fold/merge collapses to ordered span pairs: for query span i and
  other span j, the triple is (word_i, type_i, word_j, rel(i->j) or
  type_j), in exactly the insertion order the dict fold produced.
  Pair labels come from a precomputed (surface x surface) table and the
  pairs are emitted with numpy fancy indexing — no per-token Python at
  all (measured 12.7s -> 1.1s single-core on the sf0.1 corpus, exact
  order+value match on all 3.87M rows).
- pred mode: emissions are scattered into the padded (B, T, V) tensor
  with one numpy op per sentence (label-index tables replace the
  per-instance ``tag_instance``+``emissions_from_spans`` Python loops
  — the gold tags the old path computed were dead in pred mode, Viterbi
  overwrites them), Viterbi runs on the batched kernel, and the decoded
  tag matrix is grouped into spans with one vectorized boundary scan
  per chunk. Assembly takes the same ordered-pair fast path whenever an
  instance's decoded groups coincide with the input spans (the frozen
  scorer's normal behaviour), and falls back to a faithful
  ``fold_instance``/``merge_ent_dict`` dict fold per sentence otherwise
  (26.4s -> ~5s single-core, exact order+value match).

The dense label tables are O(S^2) in KB surface count and are built only
when S <= FUSED_DENSE_KB_MAX; larger KBs take the same vectorized code
path with per-sentence local tables built from the relation dict (O(K^2)
dict lookups per sentence — still no per-token Python).

Use this for pure extraction jobs; use the modular operators when the
instance table itself is needed (bootstrap selection, pattern mining,
negative sampling)."""

from __future__ import annotations

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

# Above this KB surface count the O(S^2) dense pair-label tables are not
# built; per-sentence local tables are used instead (same results).
FUSED_DENSE_KB_MAX = 4096

# Target instances per Viterbi chunk (length-sorted, sentence-aligned so
# padding waste stays ~1 while per-sentence vector ops stay batched).
_PRED_CHUNK = 4096


def _rel_first(kb: KB) -> dict[tuple[str, str], str]:
    """(subj, obj) -> first KB predicate, matching relation_for's
    deterministic KB-order tie-break."""
    rel: dict[tuple[str, str], str] = {}
    for subj, lst in kb.subj_index.items():
        for p, o in lst:
            rel.setdefault((subj, o), p)
    return rel


class _KBTables:
    """Per-task precomputed lookup tables shared by both modes."""

    def __init__(self, kb: KB, mode: str):
        self.kb = kb
        self.surfaces = list(kb.entity_type)
        self.surf_id = {s: i for i, s in enumerate(self.surfaces)}
        s_n = len(self.surfaces)
        # word semantics: span tokens re-join exactly to the KB surface
        # (find_entity_spans matches tuple(tokens[s:e]) == surf.split(" ")
        # and ' '.join is split's exact inverse), then fold strips it
        self.words = np.array([s.strip() for s in self.surfaces], dtype=object)
        self.types = np.array(
            [kb.entity_type[s] for s in self.surfaces], dtype=object
        )
        self.rel = _rel_first(kb)
        self.dense = s_n <= FUSED_DENSE_KB_MAX
        if self.dense:
            # pair_name[i, j] = label of span j inside query-i instances
            # (j != i): rel(surf_i -> surf_j) if any, else type_j
            pn = np.tile(self.types[None, :], (s_n, 1))
            for (s, o), p in self.rel.items():
                si, oi = self.surf_id.get(s), self.surf_id.get(o)
                if si is not None and oi is not None:
                    pn[si, oi] = p
            self.pair_name = pn
        if mode == "pred":
            self.labels = build_label_list(kb)
            self.label_index = {l: i for i, l in enumerate(self.labels)}
            self.trans = bio_transitions(self.labels)
            self.o_id = self.label_index["O"]
            li = self.label_index
            self.b_self = np.array(
                [li["B-" + t] for t in self.types], dtype=np.int64
            )
            self.i_self = np.array(
                [li["I-" + t] for t in self.types], dtype=np.int64
            )
            if self.dense:
                self.b_pair = np.array(
                    [[li["B-" + n] for n in row] for row in self.pair_name],
                    dtype=np.int64,
                )
                self.i_pair = np.array(
                    [[li["I-" + n] for n in row] for row in self.pair_name],
                    dtype=np.int64,
                )
            # decode tables (group_spans semantics at label-id level)
            self.lab_is_o = np.array([l == "O" for l in self.labels])
            self.lab_is_b = np.array(
                [l.startswith("B") for l in self.labels]
            )
            self.lab_type = np.array(
                [
                    l[2:] if l[:2] in ("B-", "I-") else l.split("-")[-1]
                    for l in self.labels
                ],
                dtype=object,
            )
            codes = {t: c for c, t in enumerate(dict.fromkeys(self.lab_type))}
            self.lab_tcode = np.array(
                [codes[t] for t in self.lab_type], dtype=np.int32
            )
        self._pairs: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def pair_index(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(ii, jj) index arrays enumerating ordered pairs i != j in the
        dict-fold emission order (i ascending, then j ascending)."""
        p = self._pairs.get(k)
        if p is None:
            ii = np.repeat(np.arange(k), k - 1)
            jj = np.concatenate(
                [np.delete(np.arange(k), i) for i in range(k)]
            )
            self._pairs[k] = p = (ii, jj)
        return p

    def local_pair_name(self, sidx: np.ndarray) -> np.ndarray:
        """(k, k) pair-label matrix for one sentence's span surfaces."""
        if self.dense:
            return self.pair_name[sidx[:, None], sidx[None, :]]
        surfs = [self.surfaces[i] for i in sidx]
        k = len(surfs)
        pn = np.tile(self.types[sidx][None, :], (k, 1))
        rel = self.rel
        for i, si in enumerate(surfs):
            for j, sj in enumerate(surfs):
                p = rel.get((si, sj))
                if p is not None:
                    pn[i, j] = p
        return pn


class _ColBuf:
    """Columnar triple accumulator (object arrays -> one DataFrame).
    Each triple records its sentence's row in the Arrow batch; the key
    columns are gathered from those rows once per output frame."""

    __slots__ = ("row", "e1", "t1", "e2", "t2")

    def __init__(self):
        self.row, self.e1, self.t1, self.e2, self.t2 = [], [], [], [], []

    def add(self, row_a, e1_a, t1_a, e2_a, t2_a):
        self.row.append(row_a)
        self.e1.append(e1_a)
        self.t1.append(t1_a)
        self.e2.append(e2_a)
        self.t2.append(t2_a)

    def frame(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """The buffered triples of batch ``pdf``: sent_id hashed once per
        sentence, conv_id and turn_idx gathered from its row."""
        if not self.row:
            self.add(np.empty(0, dtype=np.int64), *[np.empty(0, dtype=object)] * 4)
        row, e1, t1, e2, t2 = (
            np.concatenate(p) for p in (self.row, self.e1, self.t1, self.e2, self.t2)
        )
        conv = pdf["conv_id"].to_numpy()[row]
        turn = pdf["turn_idx"].to_numpy()[row]
        _, first, inv = np.unique(row, return_index=True, return_inverse=True)
        sid = np.fromiter(
            (stable_id(c, int(t)) for c, t in zip(conv[first], turn[first])),
            dtype=np.int64,
            count=len(first),
        )[inv]
        return pd.DataFrame(dict(zip(TRIPLE_COLUMNS, (sid, e1, t1, e2, t2, conv, turn))))


_EMPTY_E2 = np.array([""], dtype=object)
_NONE_T2 = np.array(["None"], dtype=object)


def _tag_batch(pdf: pd.DataFrame, kb: KB, tab: _KBTables) -> list[tuple]:
    """One tagging pass over an Arrow batch: (row, tokens, ss, ee, sidx)
    per surviving sentence, ``row`` its position in ``pdf`` (same
    filters as instances_and_spans_for_turn: empty / >MAX_TOKENS turns
    and span-free turns drop)."""
    sents = []
    surf_id = tab.surf_id
    for row, text in enumerate(pdf["text"]):
        tokens = tokenize(text)
        if not tokens or len(tokens) > MAX_TOKENS:
            continue
        spans = find_entity_spans(tokens, kb)
        if not spans:
            continue
        k = len(spans)
        ss = np.fromiter((sp[0] for sp in spans), dtype=np.int64, count=k)
        ee = np.fromiter((sp[1] for sp in spans), dtype=np.int64, count=k)
        sidx = np.fromiter(
            (surf_id[sp[2]] for sp in spans), dtype=np.int64, count=k
        )
        sents.append((row, tokens, ss, ee, sidx))
    return sents


def _emit_gold(sents: list[tuple], tab: _KBTables, buf: _ColBuf) -> None:
    """Direct span-pair emission (see module docstring: exact fold/merge
    order and values, proven against the dict path)."""
    words, types = tab.words, tab.types
    for row, _tokens, _ss, _ee, sidx in sents:
        k = len(sidx)
        if k == 1:
            buf.add(
                np.full(1, row, dtype=np.int64),
                words[sidx],
                types[sidx],
                _EMPTY_E2,
                _NONE_T2,
            )
            continue
        ii, jj = tab.pair_index(k)
        si, sj = sidx[ii], sidx[jj]
        buf.add(
            np.full(len(ii), row, dtype=np.int64),
            words[si],
            types[si],
            words[sj],
            tab.local_pair_name(sidx)[ii, jj]
            if not tab.dense
            else tab.pair_name[si, sj],
        )


def _decode_chunk(
    chunk: list[int], sents: list[tuple], tab: _KBTables
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Emissions -> Viterbi -> vectorized group decode for one
    sentence-aligned chunk. Returns per-instance (gss, gee, glab)."""
    n_inst = sum(len(sents[si][4]) for si in chunk)
    tmax = max(len(sents[si][1]) for si in chunk)
    v = len(tab.labels)
    lengths = np.empty(n_inst, dtype=np.int64)
    em = np.full((n_inst, tmax, v), NON_EVIDENCE, dtype=np.float32)
    em[:, :, tab.o_id] = 0.0
    rows_l, toks_l, labs_l = [], [], []
    base = 0
    for si in chunk:
        _row, tokens, ss, ee, sidx = sents[si]
        k = len(sidx)
        lengths[base : base + k] = len(tokens)
        if tab.dense:
            lab_b = tab.b_pair[sidx[:, None], sidx[None, :]].copy()
        else:
            li = tab.label_index
            lab_b = np.array(
                [[li["B-" + n] for n in row] for row in tab.local_pair_name(sidx)],
                dtype=np.int64,
            )
        diag = np.arange(k)
        lab_b[diag, diag] = tab.b_self[sidx]
        rows_l.append(np.repeat(np.arange(base, base + k), k))
        toks_l.append(np.tile(ss, k))
        labs_l.append(lab_b.ravel())
        tails = np.flatnonzero(ee - ss > 1)
        if len(tails):
            if tab.dense:
                lab_i = tab.i_pair[sidx[:, None], sidx[None, :]].copy()
            else:
                li = tab.label_index
                lab_i = np.array(
                    [
                        [li["I-" + n] for n in row]
                        for row in tab.local_pair_name(sidx)
                    ],
                    dtype=np.int64,
                )
            lab_i[diag, diag] = tab.i_self[sidx]
            for j in tails:
                tail_toks = np.arange(ss[j] + 1, ee[j])
                for q in range(k):
                    rows_l.append(
                        np.full(len(tail_toks), base + q, dtype=np.int64)
                    )
                    toks_l.append(tail_toks)
                    labs_l.append(
                        np.full(len(tail_toks), lab_i[q, j], dtype=np.int64)
                    )
        base += k
    em[
        np.concatenate(rows_l), np.concatenate(toks_l), np.concatenate(labs_l)
    ] = EVIDENCE
    ids = viterbi_batch(em, tab.trans, lengths)

    # vectorized group decode over the whole chunk (group_spans at the
    # id level: non-O positions split at non-adjacency / type change /
    # B- prefix; groups are contiguous token ranges by construction)
    dec: list = [None] * n_inst
    pos_ok = (np.arange(tmax)[None, :] < lengths[:, None]) & ~tab.lab_is_o[ids]
    r_idx, p_idx = np.nonzero(pos_ok)
    if len(r_idx):
        tg = ids[r_idx, p_idx]
        tc = tab.lab_tcode[tg]
        bf = tab.lab_is_b[tg]
        brk = np.empty(len(r_idx), dtype=bool)
        brk[0] = True
        brk[1:] = (
            (r_idx[1:] != r_idx[:-1])
            | (p_idx[1:] != p_idx[:-1] + 1)
            | (tc[1:] != tc[:-1])
            | bf[1:]
        )
        gs = np.flatnonzero(brk)
        ge = np.append(gs[1:], len(r_idx))
        grow = r_idx[gs]
        gss = p_idx[gs]
        gee = p_idx[ge - 1] + 1
        glab = tg[gs]
        splits = np.searchsorted(grow, np.arange(n_inst + 1))
        for r in range(n_inst):
            a, b = splits[r], splits[r + 1]
            dec[r] = (gss[a:b], gee[a:b], glab[a:b])
    empty = (
        np.empty(0, np.int64),
        np.empty(0, np.int64),
        np.empty(0, ids.dtype),
    )
    for r in range(n_inst):
        if dec[r] is None:
            dec[r] = empty
    return dec


def _emit_pred_sentence(
    sent: tuple,
    decs: list[tuple[np.ndarray, np.ndarray, np.ndarray]],
    tab: _KBTables,
    buf: _ColBuf,
) -> None:
    """Assemble one sentence from decoded groups: ordered-pair fast path
    when every instance decoded exactly the input spans, else the exact
    fold_instance/merge_ent_dict dict fold (keys are (start, end) ranges,
    a bijection of the original sorted-index-tuple keys; the no-query
    placeholder keeps the original's collision with a single-token group
    at the query position via the (q, q+1) key)."""
    row, tokens, ss, ee, sidx = sent
    k = len(sidx)
    if all(
        len(d[0]) == k
        and np.array_equal(d[0], ss)
        and np.array_equal(d[1], ee)
        for d in decs
    ):
        lstr = tab.lab_type[np.stack([d[2] for d in decs])]  # (k inst, k grp)
        if k == 1:
            buf.add(
                np.full(1, row, dtype=np.int64),
                tab.words[sidx],
                lstr[0, 0:1],
                _EMPTY_E2,
                _NONE_T2,
            )
        else:
            ii, jj = tab.pair_index(k)
            buf.add(
                np.full(len(ii), row, dtype=np.int64),
                tab.words[sidx[ii]],
                lstr[ii, ii],
                tab.words[sidx[jj]],
                lstr[ii, jj],
            )
        return
    # exact dict-fold fallback
    ent_dict: dict = {}
    wcache: dict = {}
    lab_type = tab.lab_type
    for i in range(k):
        gss, gee, glab = decs[i]
        q = int(ss[i])
        related: dict = {}
        ent_record = None
        for g in range(len(gss)):
            s_, e_ = int(gss[g]), int(gee[g])
            key = (s_, e_)
            wd = wcache.get(key)
            if wd is None:
                wd = wcache[key] = " ".join(tokens[s_:e_]).strip()
            tag = lab_type[glab[g]]
            if s_ == q:
                d_ = ent_dict.setdefault(key, {})
                d_["entity_group"] = tag
                d_["word"] = wd
                ent_record = key
            else:
                related[key] = (tag, wd)
        if ent_record is not None:
            ent_dict[ent_record]["related_ent"] = related
        elif related:
            d_ = ent_dict.setdefault((q, q + 1), {})
            d_["entity_group"] = "None"
            d_["word"] = ""
            d_["related_ent"] = related
    e1_l, t1_l, e2_l, t2_l = [], [], [], []
    for _, items in ent_dict.items():
        t1_, w1 = items["entity_group"], items["word"]
        rel = items["related_ent"]
        if not rel:
            e1_l.append(w1)
            t1_l.append(t1_)
            e2_l.append("")
            t2_l.append("None")
        else:
            for _, (t2_, w2) in rel.items():
                e1_l.append(w1)
                t1_l.append(t1_)
                e2_l.append(w2)
                t2_l.append(t2_)
    buf.add(
        np.full(len(e1_l), row, dtype=np.int64),
        np.array(e1_l, dtype=object),
        np.array(t1_l, dtype=object),
        np.array(e2_l, dtype=object),
        np.array(t2_l, dtype=object),
    )


def _emit_pred(sents: list[tuple], tab: _KBTables, buf: _ColBuf) -> None:
    """Score + decode + assemble all sentences of one Arrow batch.

    Sentences are length-sorted into ~_PRED_CHUNK-instance chunks
    (sentence-aligned: all instances of a sentence share one token
    length, so padding waste stays ~1 — the DP is memory-bandwidth-bound
    and padded bytes are wall time). Chunk boundaries are semantically
    free: Viterbi is per-instance and masked past each length."""
    order = sorted(range(len(sents)), key=lambda i: len(sents[i][1]))
    chunks: list[list[int]] = []
    cur: list[int] = []
    n = 0
    for si in order:
        cur.append(si)
        n += len(sents[si][4])
        if n >= _PRED_CHUNK:
            chunks.append(cur)
            cur, n = [], 0
    if cur:
        chunks.append(cur)
    dec_by_sent: dict[int, list] = {}
    for chunk in chunks:
        dec = _decode_chunk(chunk, sents, tab)
        base = 0
        for si in chunk:
            k = len(sents[si][4])
            dec_by_sent[si] = dec[base : base + k]
            base += k
    for si in range(len(sents)):
        _emit_pred_sentence(sents[si], dec_by_sent[si], tab, buf)


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
        tab = _KBTables(kb, mode)  # once per task (guide §4.5)
        for pdf in batches:
            sents = _tag_batch(pdf, kb, tab)
            buf = _ColBuf()
            if sents:
                if mode == "gold":
                    _emit_gold(sents, tab, buf)
                else:
                    _emit_pred(sents, tab, buf)
            yield buf.frame(pdf)

    return cols.mapInPandas(gen, TRIPLE_SCHEMA)
