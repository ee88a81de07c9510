"""Frozen deterministic scorer + batched Viterbi decode (K-group).

The reference's prediction path is GPT-2 encoder -> position attention ->
classifier -> CRF Viterbi (models/modeling_gpt2.py:1619-1688,
models/crf/base_crf.py:117-169). Per the rebuild's north star, the
trained encoder is replaced by a deterministic, broadcastable featurizer:
KB alignment seeds + mined pattern bag-of-words produce per-token tag
emissions, and a mask-aware vectorized Viterbi (numpy, batched over each
Arrow batch) decodes them under BIO transition constraints. Outputs per
instance: ``pred_tags`` (decoded BIO sequence) and ``position_att`` (the
normalized attention distribution used for KL-confidence selection,
analog of ``position_attentions`` in modeling_outputs.py:716).

Emission convention mirrors the reference's viterbi->one-hot trick
(modeling_gpt2.py:1690-1705): evidence tag gets +10, everything else -1;
impossible transitions score ``IMPOSSIBLE_SCORE = -1e7``
(models/crf/utils.py:5). Decoding is O(B*T*V^2) numpy inside an
iterator UDF — nothing quadratic in sentence count ever leaves the task
(SURVEY.md §4 "never collect logits").
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from denrl_spark.operators.attention import target_att_py
from denrl_spark.operators.tagging import find_entity_spans, relation_for
from denrl_spark.sources.kb import KB

IMPOSSIBLE = -1e7  # models/crf/utils.py:5
EVIDENCE, NON_EVIDENCE = 10.0, -1.0  # modeling_gpt2.py:1690-1705


def build_label_list(kb: KB) -> list[str]:
    """A1 label discovery analog (run_jointmodel.py:773-794): sorted
    unique tags with I- twins synthesized for every B-."""
    labels = {"O"}
    names = set(kb.entity_type.values()) | {p for _, p, _ in kb.triples}
    for n in names:
        labels.add("B-" + n)
        labels.add("I-" + n)
    return sorted(labels)


def bio_transitions(labels: list[str]) -> np.ndarray:
    """(V, V) transition scores: I-X reachable only from B-X/I-X."""
    v = len(labels)
    t = np.zeros((v, v), dtype=np.float32)
    for j, to in enumerate(labels):
        if to.startswith("I-"):
            name = to[2:]
            for i, frm in enumerate(labels):
                if frm[2:] != name or frm == "O":
                    t[i, j] = IMPOSSIBLE
    return t


def viterbi_batch(emissions: np.ndarray, transitions: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Vectorized max-product DP over a padded batch.

    emissions: (B, T, V) float32; lengths: (B,). Returns (B, T) int tag
    ids (padding positions carry 0). Semantics of
    models/crf/base_crf.py:117-169 without learned start/end scores.

    Fast path: when ``transitions`` is a 0/IMPOSSIBLE mask (the BIO case
    from ``bio_transitions``), the (B, V, V) candidate tensor is never
    materialized — each step is O(B*V): fully-allowed destinations take
    the global argmax, restricted destinations (I-tags, 2 allowed
    sources each) take a 2-way max. This matters at scale: the dense
    step is memory-bandwidth-bound and stops scaling past ~8 workers per
    host; the structured step keeps the whole batch in cache.
    """
    b, t, v = emissions.shape
    if t == 0:  # all-empty batch (e.g. external JSONL with tokens=[])
        return np.zeros((b, 0), dtype=np.int32)
    is_mask = bool(np.all((transitions == 0) | (transitions <= IMPOSSIBLE / 2)))
    allowed = transitions > IMPOSSIBLE / 2  # (V, V) sources-allowed per dest
    full_dest = allowed.all(axis=0)  # destinations reachable from every tag
    rest_j = np.flatnonzero(~full_dest)
    srcs_mat = None
    if is_mask and len(rest_j):
        n_src = {len(np.flatnonzero(allowed[:, j])) for j in rest_j}
        if len(n_src) == 1:  # uniform source count (BIO: B-X/I-X -> I-X)
            srcs_mat = np.stack([np.flatnonzero(allowed[:, j]) for j in rest_j])
        else:  # ragged restricted sets: fall back to the dense step
            is_mask = False

    # Rows sorted by length so the still-active set at every step is a
    # contiguous SUFFIX: the per-step work shrinks with the tail instead
    # of masking frozen rows with np.where (allocation per step), and the
    # backtrace is one O(B) gather per step instead of a per-row Python
    # walk (B*T iterations — measured 239 -> 109 ms on a 4096x90x15
    # chunk). Output is unsorted back at the end, so callers see the
    # original row order.
    order = np.argsort(lengths, kind="stable")
    em_s = emissions[order]
    len_s = np.asarray(lengths)[order]

    score = em_s[:, 0, :].copy()  # (B, V)
    # int16 backpointers: tag vocabularies are small; this halves-to-
    # quarters the dominant memory traffic of the DP (back is B*T*V)
    back = np.zeros((b, t, v), dtype=np.int16)
    for step in range(1, t):
        lo = int(np.searchsorted(len_s, step, side="right"))
        if lo >= b:
            break
        sc = score[lo:]
        n = b - lo
        if is_mask:
            g_prev = sc.argmax(axis=1)  # (n,)
            g_best = sc[np.arange(n), g_prev]  # (n,)
            best_prev = np.repeat(g_prev[:, None], v, axis=1)
            best_score = np.repeat(g_best[:, None], v, axis=1)
            if srcs_mat is not None:
                sub = sc[:, srcs_mat]  # (n, R, n_src) with n_src small
                k = sub.argmax(axis=2)  # (n, R)
                best_prev[:, rest_j] = srcs_mat[
                    np.arange(len(rest_j))[None, :], k
                ]
                best_score[:, rest_j] = np.take_along_axis(
                    sub, k[:, :, None], axis=2
                )[:, :, 0]
        else:
            cand = sc[:, :, None] + transitions[None, :, :]  # (n, V, V)
            best_prev = cand.argmax(axis=1)  # (n, V)
            best_score = np.take_along_axis(cand, best_prev[:, None, :], axis=1)[:, 0, :]
        score[lo:] = best_score + em_s[lo:, step, :]
        back[lo:, step, :] = best_prev
    out_s = np.zeros((b, t), dtype=np.int32)
    cur = score.argmax(axis=1).astype(np.int64)
    arb = np.arange(b)
    for step in range(t - 1, -1, -1):
        lo = int(np.searchsorted(len_s, step, side="right"))
        if lo >= b:
            continue
        out_s[lo:, step] = cur[lo:]
        if step > 0:
            cur[lo:] = back[arb[lo:], step, cur[lo:]]
    out = np.zeros((b, t), dtype=np.int32)
    out[order] = out_s
    return out


def forward_backward_batch(
    emissions: np.ndarray, transitions: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """K7 (models/crf/base_crf.py:30-115): log-space alpha/beta recursions
    -> per-token tag marginals (B, T, V); padding rows are uniform.
    Used for marginal-confidence variants of instance selection."""
    b, t, v = emissions.shape
    em = emissions.astype(np.float64)
    alpha = np.full((b, t, v), -np.inf)
    beta = np.full((b, t, v), -np.inf)
    alpha[:, 0, :] = em[:, 0, :]
    for step in range(1, t):
        prev = alpha[:, step - 1, :, None] + transitions[None, :, :]  # (B,V,V)
        m = prev.max(axis=1)
        new = m + np.log(np.exp(prev - m[:, None, :]).sum(axis=1)) + em[:, step, :]
        active = (step < lengths)[:, None]
        alpha[:, step, :] = np.where(active, new, alpha[:, step - 1, :])
    for i in range(b):
        beta[i, lengths[i] - 1, :] = 0.0
    for step in range(t - 2, -1, -1):
        nxt = beta[:, step + 1, None, :] + transitions[None, :, :] + em[:, step + 1, None, :]
        m = nxt.max(axis=2)
        new = m + np.log(np.exp(nxt - m[:, :, None]).sum(axis=2))
        active = (step < lengths - 1)[:, None]
        beta[:, step, :] = np.where(active, new, beta[:, step, :])
    log_marg = alpha + beta
    m = log_marg.max(axis=2, keepdims=True)
    p = np.exp(log_marg - m)
    out = p / p.sum(axis=2, keepdims=True)
    # padding positions: beta stays -inf there, which would yield NaN;
    # pin them to the documented uniform distribution instead
    pos = np.arange(t)[None, :]
    out[pos >= lengths[:, None]] = 1.0 / v
    return out


def crf_logz_batch(
    emissions: np.ndarray, transitions: np.ndarray, lengths: np.ndarray
) -> np.ndarray:
    """K4 denominator (models/crf/crf.py:26-57 ``_denominator_score``):
    log partition function per sequence via the log-space forward
    recursion, without learned start/end scores (the rebuild convention,
    same as viterbi_batch). Returns (B,)."""
    b, t, v = emissions.shape
    em = emissions.astype(np.float64)
    alpha = em[:, 0, :].copy()
    for step in range(1, t):
        inner = alpha[:, :, None] + transitions[None, :, :] + em[:, step, None, :]
        m = inner.max(axis=1)
        new = m + np.log(np.exp(inner - m[:, None, :]).sum(axis=1))
        active = (step < lengths)[:, None]
        alpha = np.where(active, new, alpha)
    m = alpha.max(axis=1)
    return m + np.log(np.exp(alpha - m[:, None]).sum(axis=1))


def crf_gold_score_batch(
    emissions: np.ndarray,
    transitions: np.ndarray,
    lengths: np.ndarray,
    tags: np.ndarray,
) -> np.ndarray:
    """K4 numerator (models/crf/crf.py:60-103 ``_numerator_score``):
    path score of the observed tag sequence — all L emissions plus the
    L-1 transitions, padding masked exactly as the reference does (the
    loop adds emission[i]*mask[i] and transition*mask[i+1]; the final
    emission lands either in the loop or in the explicit last-position
    term). Returns (B,)."""
    b, t, _ = emissions.shape
    em = emissions.astype(np.float64)
    idx = np.arange(b)
    score = np.zeros(b)
    for step in range(t):
        active = step < lengths
        score += np.where(active, em[idx, step, tags[:, step]], 0.0)
        if step + 1 < t:
            t_active = (step + 1) < lengths
            score += np.where(
                t_active, transitions[tags[:, step], tags[:, step + 1]], 0.0
            )
    return score


def crf_nll_batch(
    emissions: np.ndarray,
    transitions: np.ndarray,
    lengths: np.ndarray,
    tags: np.ndarray,
) -> np.ndarray:
    """K4 (models/crf/crf.py:16-24 ``CRF.forward``): per-sequence
    negative log-likelihood logZ - score(tags). The reference returns
    the batch SUM; this returns (B,) so callers can aggregate
    distributively (sum is an associative reduce over partitions)."""
    return crf_logz_batch(emissions, transitions, lengths) - crf_gold_score_batch(
        emissions, transitions, lengths, tags
    )


def partial_crf_nll_batch(
    emissions: np.ndarray,
    transitions: np.ndarray,
    lengths: np.ndarray,
    possible: np.ndarray,
) -> np.ndarray:
    """K5 (models/crf/partial_crf.py:22-126 ``PartialCRF``): NLL of a
    PARTIALLY observed tagging — numerator marginalizes over every path
    consistent with the (B, T, V) ``possible`` mask (reference
    ``create_possible_tag_masks``: observed positions pin one tag,
    unlabeled positions allow all). Implemented as the same forward
    recursion over emissions masked to IMPOSSIBLE at disallowed tags —
    equivalent to the reference's emission+transition masking (any path
    through a disallowed tag scores <= IMPOSSIBLE and vanishes from the
    logsumexp; the reference's end-transition zero-clobber quirk has no
    analog here because the rebuild has no learned end scores).
    Returns (B,)."""
    masked = emissions + np.where(possible, 0.0, IMPOSSIBLE).astype(emissions.dtype)
    return crf_logz_batch(emissions, transitions, lengths) - crf_logz_batch(
        masked, transitions, lengths
    )


def combined_loss_batch(
    emissions: np.ndarray,
    transitions: np.ndarray,
    lengths: np.ndarray,
    tags: np.ndarray,
    att: np.ndarray,
    target_att: np.ndarray,
    beta: float = 1.0,
) -> np.ndarray:
    """K12 (run_lstm.py:510-519): combined training loss
    ``crf_nll + beta * KLDivLoss(sum)(log(att), target_att)`` per
    sequence. The KL term follows the torch convention
    ``target * (log(target) - log(att))`` with ``0 * log 0 == 0``
    (xlogy), summed over positions; ``beta == 0`` short-circuits to the
    pure CRF NLL exactly as the reference branch does. ``att`` and
    ``target_att`` are (B, T) position distributions (padding positions
    carry target 0 and contribute nothing). Returns (B,); the reference
    reduces with a batch sum — an associative reduce, so it distributes."""
    nll = crf_nll_batch(emissions, transitions, lengths, tags)
    if beta == 0:
        return nll
    t = att.shape[1]
    valid = (np.arange(t)[None, :] < lengths[:, None]).astype(np.float64)
    tgt = target_att.astype(np.float64) * valid
    with np.errstate(divide="ignore", invalid="ignore"):
        x = np.where(tgt > 0, tgt * (np.log(tgt) - np.log(att.astype(np.float64))), 0.0)
    return nll + beta * x.sum(axis=1)


def viterbi_restricted(
    emissions: np.ndarray,
    transitions: np.ndarray,
    lengths: np.ndarray,
    possible: np.ndarray,
) -> np.ndarray:
    """Restricted Viterbi (models/crf/base_crf.py:171-240, the PartialCRF
    decode surface): ``possible`` is a (B, T, V) boolean mask of allowed
    tags per position (the reference builds it from partially-observed
    tags with O -> everything allowed, models/crf/utils.py:8-19).
    Disallowed tags get IMPOSSIBLE added to their emissions."""
    em = emissions + np.where(possible, 0.0, IMPOSSIBLE).astype(np.float32)
    return viterbi_batch(em, transitions, lengths)


def emissions_from_spans(
    tokens: list[str],
    spans: list[tuple[int, int, str, str]] | None,
    query_id: int,
    kb: KB,
    label_index: dict[str, int],
    instance_id: int = 0,
) -> np.ndarray:
    """Same featurizer with pre-computed spans: the matcher runs once per
    SENTENCE instead of once per instance (k-fold saving, k = spans)."""
    n, v = len(tokens), len(label_index)
    em = np.full((n, v), NON_EVIDENCE, dtype=np.float32)
    em[:, label_index["O"]] = 0.0
    if instance_id < 0 or spans is None:  # negative instance: target all-O
        return em
    query = next((s for s in spans if s[0] == query_id), None)
    for s, e, surf, typ in spans:
        if query is not None and (s, e) == (query[0], query[1]):
            name = typ
        else:
            rel = relation_for(kb, query[2], surf) if query is not None else None
            name = rel if rel is not None else typ
        em[s, label_index["B-" + name]] = EVIDENCE
        for j in range(s + 1, e):
            em[j, label_index["I-" + name]] = EVIDENCE
    return em


SCORED_SCHEMA = (
    "conv_id string, turn_idx int, sent_id bigint, instance_id bigint, "
    "query_id int, tokens array<string>, ner_tags array<string>, "
    "pred_tags array<string>, position_att array<float>"
)
SCORED_SCHEMA_NO_ATT = (
    "conv_id string, turn_idx int, sent_id bigint, instance_id bigint, "
    "query_id int, tokens array<string>, ner_tags array<string>, "
    "pred_tags array<string>"
)


def score_instances(
    instances: DataFrame,
    kb: KB | None = None,
    bow: dict[str, set] | None = None,
    pre_partitioned: bool = False,
    emit_attention: bool = True,
    position_kernel=None,
    position_kernel_version: int = 1,
    position_encoder=None,
) -> DataFrame:
    """Batch inference: adds pred_tags (+ position_att) via one Arrow pass.

    ``bow`` is the mined relation bag-of-words (A4) used for the
    position-attention distribution; the KB and BoW ride the closure
    (both tiny — the explicit-broadcast equivalent).

    ``emit_attention=False`` drops the position_att column (only the
    KL-selection path needs it) — it is the widest output column, and
    skipping it halves Arrow traffic on the pure extraction path.
    The transform is row-wise and order-preserving, so builder layout
    (sentence contiguity) survives for assemble_triples(assume_grouped).

    ``position_kernel`` (a PositionAttentionWeights) routes the
    position_att slot through the NUMERIC reference kernel
    (operators/position_attention.py — v.tanh(W_H.H + W_p.h_p + W_h.h_t)
    over frozen hash embeddings, modeling_gpt2.py:285-395 semantics)
    instead of the default BoW analog. ``position_encoder`` (an
    operators/encoder.EncoderWeights) additionally runs the frozen
    GPT-2 block stack (K1 dataflow) over the hash embeddings before the
    kernel — the full encoder -> position-attention reference chain,
    numerically. pred_tags are identical either way (attention never
    feeds the decoder), so triple oracles stay green regardless of the
    kernel choice.
    """
    kb = kb or KB.default()
    bow = {k: set(vv) for k, vv in (bow or {}).items()}
    labels: list[str] = build_label_list(kb)
    label_index = {l: i for i, l in enumerate(labels)}
    trans = bio_transitions(labels)

    def gen(batches):
        for pdf in batches:
            toks_col = [list(t) for t in pdf["tokens"]]
            qids = pdf["query_id"].to_numpy()
            iids = pdf["instance_id"].to_numpy()
            bsz = len(toks_col)
            if bsz == 0:
                if emit_attention:
                    yield pdf.assign(pred_tags=None, position_att=None)
                else:
                    yield pdf.assign(pred_tags=None)
                continue
            sids = pdf["sent_id"].to_numpy()
            lengths = np.array([len(t) for t in toks_col])
            tmax = int(lengths.max())
            em = np.full((bsz, tmax, len(labels)), 0.0, dtype=np.float32)
            span_cache: dict[int, list] = {}  # spans once per SENTENCE,
            for i, toks in enumerate(toks_col):  # not once per instance
                sid = int(sids[i])
                spans = span_cache.get(sid)
                if spans is None and int(iids[i]) >= 0:
                    spans = find_entity_spans(toks, kb)
                    span_cache[sid] = spans
                em[i, : len(toks), :] = emissions_from_spans(
                    toks, spans, int(qids[i]), kb, label_index, int(iids[i])
                )
            ids = viterbi_batch(em, trans, lengths)
            pred_tags = [
                [labels[ids[i, j]] for j in range(int(lengths[i]))] for i in range(bsz)
            ]
            out = pdf.copy()
            out["pred_tags"] = pred_tags
            if emit_attention:
                pas = []
                if position_kernel is not None:
                    # numeric reference kernel over frozen hash
                    # embeddings; embeddings cached per SENTENCE (same
                    # pattern as span_cache above — instances of one
                    # sentence share tokens, and the blake2b+rng draw is
                    # the dominant per-token cost)
                    from denrl_spark.operators.position_attention import (
                        hash_token_embeddings,
                        position_att_numeric,
                    )

                    emb_cache: dict[int, object] = {}
                    hd = position_kernel.v.shape[0]
                    for i, toks in enumerate(toks_col):
                        sid = int(sids[i])
                        emb = emb_cache.get(sid)
                        if emb is None:
                            emb = hash_token_embeddings(toks, hd)
                            if position_encoder is not None:
                                from denrl_spark.operators.encoder import (
                                    gpt2_encode_batch,
                                )

                                emb = gpt2_encode_batch(
                                    emb[None], position_encoder
                                )[0]
                            emb_cache[sid] = emb
                        pas.append(
                            position_att_numeric(
                                toks, int(qids[i]), position_kernel,
                                position_kernel_version, hidden=emb,
                            )
                        )
                else:
                    # position attention from PREDICTED tags + mined BoW
                    # (smoothed so KL's log is finite) — the K2 stand-in.
                    for i, toks in enumerate(toks_col):
                        att = target_att_py(toks, pred_tags[i], int(iids[i]), bow)
                        eps = 1e-6
                        sm = [a + eps for a in att]
                        z = sum(sm)
                        pas.append([a / z for a in sm])
                out["position_att"] = pas
            yield out

    cols = instances.select(
        "conv_id", "turn_idx", "sent_id", "instance_id", "query_id", "tokens", "ner_tags"
    )
    if not pre_partitioned:
        # lift file-level parallelism to cluster parallelism before the
        # Arrow stage (callers whose input already has builder layout —
        # e.g. straight from build_instances — pass pre_partitioned=True:
        # the transform preserves partitioning and order, so sentence
        # contiguity survives and no wide shuffle is paid); one Arrow
        # task per core, as extract_triples_fused
        spark = instances.sparkSession
        cols = cols.repartition(spark.sparkContext.defaultParallelism, "sent_id")
    schema = SCORED_SCHEMA if emit_attention else SCORED_SCHEMA_NO_ATT
    return cols.mapInPandas(gen, schema)
