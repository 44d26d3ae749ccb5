"""Snippet (best-window) selection kernel over the positional index.

Called by serve.highlight_shard, which both tiers run, so both pick
byte-identical windows — the same discipline as the WAND and phrase
kernels. This module only picks windows: highlight_shard scores and
ranks exactly as topk does (serve._segment, wand_topk) and hands the
winners here.

Semantics (deterministic, SQL-transcribable): for a scored doc, consider
every query-term occurrence position p as a window anchor; the window
covers token offsets ``[p, p + window)`` and its value is the number of
query-term occurrences (any query term) inside it. The best window has
the maximum value, ties broken by the smallest anchor. Anchoring at
occurrences loses nothing: sliding a window left until its first covered
occurrence becomes the anchor never drops an occurrence.

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


def best_windows(
    per_term: list[TermOccurrences],
    doc_ids: np.ndarray,
    window: int,
) -> tuple[np.ndarray, np.ndarray]:
    """(snip_start, snip_hits) aligned with ``doc_ids`` (any order).

    ``per_term`` may hold several doc-disjoint segments of one term: the
    occurrence keys of all of them are merged by one sort. Every doc in
    ``doc_ids`` must contain at least one occurrence of some query term
    (true for any BM25-scored doc)."""
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
