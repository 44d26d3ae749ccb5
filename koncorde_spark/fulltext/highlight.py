"""Snippet (best-window) selection kernel over the positional index.

Called by the per-shard bodies in serve.py (``highlight_shard``,
``boolean_shard``, ``multiterm_shard``), which both tiers run, so both pick
byte-identical windows — the same discipline as the WAND and phrase
kernels.

Semantics (deterministic, SQL-transcribable): for a scored doc, consider
every query-term occurrence position p as a window anchor; the window
covers token offsets ``[p, p + window)`` and its value is the number of
query-term occurrences (any query term) inside it. The best window has
the maximum value, ties broken by the smallest anchor. Anchoring at
occurrences loses nothing: sliding a window left until its first covered
occurrence becomes the anchor never drops an occurrence.

Scoring is the standard multi-term BM25 sum (identical to topk — pinned
by tests), computed here directly from the positional postings so one
shard task yields (doc_id, score, snippet) in a single pass.

All arithmetic is vectorized over packed ``(doc_ordinal << 32 | pos)``
keys: window membership is two searchsorteds, per-doc argmax is one
``np.maximum.reduceat`` over a fused ``count*2^33 - pos`` rank (count
wins, then the smaller anchor — positions are < 2^32 so the fields can't
interfere).

Positions are 0-based token offsets into the canonical token stream; the
DuckDB oracle (brute.bm25_highlight_sql) anchors at 1-based list indices
and subtracts 1 on output.
"""

from __future__ import annotations

import numpy as np

from .phrase import TermOccurrences, _pair_keys

_MASK32 = np.uint64(0xFFFFFFFF)
_RANK_BASE = np.int64(1) << np.int64(33)


def multiterm_scores(
    per_term: list[TermOccurrences],
    idfs: list[float],
    k1: float,
    b: float,
    avgdl: float,
    dl_ids: np.ndarray,
    dl_vals: np.ndarray,
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted candidate doc_ids, summed BM25 scores) over the union of
    the terms' posting lists — the brute per-shard scorer (exact, no
    skipping; used where every candidate's positions are needed anyway)."""
    if not per_term:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    cand = np.unique(np.concatenate([t.doc_ids for t in per_term]))
    if tombstones is not None and len(tombstones) and len(cand):
        p = np.searchsorted(tombstones, cand)
        cand = cand[tombstones[np.minimum(p, len(tombstones) - 1)] != cand]
    if len(cand) == 0:
        return cand, np.empty(0, dtype=np.float64)
    scores = np.zeros(len(cand), dtype=np.float64)
    for t, idf in zip(per_term, idfs):
        at = np.searchsorted(cand, t.doc_ids)
        live = cand[np.minimum(at, len(cand) - 1)] == t.doc_ids
        if not live.any():
            continue
        tfs = np.diff(t.occ_off)[live].astype(np.float64)
        dls = dl_vals[np.searchsorted(dl_ids, t.doc_ids[live])]
        scores[at[live]] += (
            idf * tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        )
    return cand, scores


def best_windows(
    per_term: list[TermOccurrences],
    doc_ids: np.ndarray,
    window: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(snip_start, snip_hits) aligned with SORTED ``doc_ids``.

    Every doc in ``doc_ids`` must contain at least one occurrence of some
    query term (true for any BM25-scored doc)."""
    cand = np.sort(np.asarray(doc_ids, dtype=np.int64))
    keys = np.concatenate([_pair_keys(t, cand) for t in per_term])
    keys.sort()
    hi = np.searchsorted(keys, keys + np.uint64(window))
    cnt = hi - np.arange(len(keys))
    ords = (keys >> np.uint64(32)).astype(np.int64)
    pos = (keys & _MASK32).astype(np.int64)
    rank = cnt.astype(np.int64) * _RANK_BASE - pos
    bounds = np.nonzero(np.diff(ords))[0] + 1
    starts = np.concatenate(([0], bounds))
    best = np.maximum.reduceat(rank, starts)
    best_cnt = (best + _RANK_BASE - 1) // _RANK_BASE
    best_pos = best_cnt * _RANK_BASE - best
    # scatter back to the caller's doc order
    present = ords[starts]
    out_start = np.zeros(len(cand), dtype=np.int64)
    out_hits = np.zeros(len(cand), dtype=np.int64)
    out_start[present] = best_pos
    out_hits[present] = best_cnt
    back = np.searchsorted(cand, np.asarray(doc_ids, dtype=np.int64))
    return out_start[back], out_hits[back]


def highlight_topk_shard(
    per_term: list[TermOccurrences],
    idfs: list[float],
    k1: float,
    b: float,
    avgdl: float,
    dl_ids: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    window: int,
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-shard (doc_ids, scores, snip_start, snip_hits), top-k by
    (score DESC, doc_id ASC) — the same rank rule as the WAND kernel."""
    cand, scores = multiterm_scores(
        per_term, idfs, k1, b, avgdl, dl_ids, dl_vals, tombstones
    )
    if len(cand) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, np.empty(0, dtype=np.float64), z.copy(), z.copy()
    order = np.lexsort((cand, -scores))[:k]
    sel, sel_scores = cand[order], scores[order]
    snip_start, snip_hits = best_windows(per_term, sel, window)
    return sel, sel_scores, snip_start, snip_hits


def boolean_topk_shard(
    must: list[list[TermOccurrences]],
    score_terms: list[TermOccurrences],
    score_idfs: list[float],
    must_not: list[TermOccurrences],
    k1: float,
    b: float,
    avgdl: float,
    dl_ids: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-shard boolean top-k (Lucene BooleanQuery semantics): eligible
    docs contain EVERY ``must`` term group and NO ``must_not`` term;
    the score is the (boost-scaled) idf·tf-part sum over ``score_terms``
    (must ∪ should — pass boosts pre-multiplied into ``score_idfs``).
    ``must`` entries group segments per required term: each inner list
    holds the doc-disjoint segment rows of ONE term."""
    cand, scores = multiterm_scores(
        score_terms, score_idfs, k1, b, avgdl, dl_ids, dl_vals, tombstones
    )
    if len(cand) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    eligible = np.ones(len(cand), dtype=bool)
    for segs in must:
        has = np.zeros(len(cand), dtype=bool)
        for t in segs:
            at = np.searchsorted(cand, t.doc_ids)
            live = cand[np.minimum(at, len(cand) - 1)] == t.doc_ids
            has[at[live]] = True
        eligible &= has
    for t in must_not:
        at = np.searchsorted(cand, t.doc_ids)
        live = cand[np.minimum(at, len(cand) - 1)] == t.doc_ids
        eligible[at[live]] = False
    if not eligible.any():
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    cand, scores = cand[eligible], scores[eligible]
    order = np.lexsort((cand, -scores))[:k]
    return cand[order], scores[order]
