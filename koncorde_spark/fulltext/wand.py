"""BM25 top-k kernels over decoded postings (numpy, per shard).

Operates on decoded postings for the query's terms within one doc shard.
``topk_disjunctive`` (ANY term) scores the whole union of the terms'
postings exhaustively with ``score_union`` — one concatenate, one
``np.unique`` and one ordered accumulation — then cuts the top k;
``topk_conjunctive`` (ALL terms) intersects before it sums. Both add a
doc's per-term scores in the order of their input terms, so a doc's
float64 score is the same bits in either mode, and in every operator
that sums through ``score_union`` (boolean, highlight, multi-field,
collapse, filtered). There is no block-max skipping: on synthetic
Zipf-tf postings of 77k–1.5M entries a per-block WAND loop was slower
than this exhaustive pass at every size while still scoring most
entries, so the index stores no per-block bounds.

Scores use frozen BM25 constants: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
tf part = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)); ties break by
ascending doc_id for rank determinism.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class TermPostings:
    """Decoded postings of one term within one shard."""

    doc_ids: np.ndarray  # int64, sorted ascending
    scores: np.ndarray  # float64 per-entry full score (idf * tf part)


def bm25_idf(n_docs: int, df: np.ndarray | float) -> np.ndarray | float:
    return np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def check_after_cursor(after: tuple[float, int]) -> tuple[float, int]:
    """Validate a search_after cursor. The cursor is in SORT-KEY order
    (score, doc_id) — a swapped (doc_id, score) hit tuple would silently
    accept everything (every score < a 63-bit id), so reject magnitudes
    no BM25 sum can reach."""
    s, d = float(after[0]), int(after[1])
    if abs(s) > 1e12:
        raise ValueError(
            "search_after cursor is (score, doc_id) in sort-key order; "
            f"got score={after[0]!r} (a doc_id-sized value)"
        )
    return s, d


def _after_mask(
    ids: np.ndarray, scores: np.ndarray, after: tuple[float, int]
) -> np.ndarray:
    """Keep only candidates STRICTLY after the ``(score, doc_id)`` cursor
    in the engine's total order (score desc, doc_id asc) — the search_after
    acceptance rule. Score equality is exact float64: both pages compute
    the same decode arithmetic, so the page-1 boundary score is
    bit-reproducible on page 2."""
    s, d = after
    return (scores < s) | ((scores == s) & (ids > d))


def topk_conjunctive(
    by_term: dict[str, list[TermPostings]], k: int, require: int,
    after: tuple[float, int] | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """ALL-terms (AND-semantics) top-k within one shard: a doc qualifies
    only if it carries EVERY query term; qualifying docs score exactly as
    in the disjunctive path (per-term scores added in ``by_term`` order,
    as score_union adds them), so a doc's score bits are mode-independent.
    ``require`` = number of query terms present in the
    GLOBAL vocabulary — a shard missing any of them (len(by_term) <
    require) can contain no qualifying doc and short-circuits to empty.

    Candidate generation is intersection-driven (smallest merged list
    first), so cost is bounded by the rarest term's postings — the
    standard conjunctive advantage over scoring the whole union."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if require == 0 or len(by_term) < require:
        return empty
    merged: list[tuple[np.ndarray, np.ndarray]] = []
    for segs in by_term.values():
        ids = np.concatenate([s.doc_ids for s in segs])
        sc = np.concatenate([s.scores for s in segs])
        if len(segs) > 1:
            # segments are disjoint per (term, shard); a stable sort
            # restores one globally-sorted list per term
            order = np.argsort(ids, kind="stable")
            ids, sc = ids[order], sc[order]
        merged.append((ids, sc))
    shortest = sorted(merged, key=lambda p: len(p[0]))
    cand = shortest[0][0]
    for ids, _ in shortest[1:]:
        if len(cand) == 0:
            return empty
        pos = np.searchsorted(ids, cand)
        cand = cand[ids[np.minimum(pos, len(ids) - 1)] == cand]
    if len(cand) == 0:
        return empty
    # summed in ``by_term`` order, as score_union adds: the same bits
    total = np.zeros(len(cand), dtype=np.float64)
    for ids, sc in merged:
        total += sc[np.searchsorted(ids, cand)]
    if after is not None:
        keep = _after_mask(cand, total, after)
        cand, total = cand[keep], total[keep]
    order = np.lexsort((cand, -total))[:k]
    return cand[order], total[order]


def score_union(terms: list[TermPostings]) -> tuple[np.ndarray, np.ndarray]:
    """EVERY (doc_id, score) in the union of the given postings, doc_ids
    sorted — no top-k cut. ``np.bincount`` adds each doc's entries to
    0.0 in concatenation order (the bits of an ``np.add.at`` loop), so
    the float64 sums are fixed by the order of ``terms``. The disjunctive kernel cuts this; the collapse/grouping
    collector needs the full matching set (the per-group best can rank
    arbitrarily deep globally), so this is the honest per-shard cost of
    field collapsing; downstream the rows shrink to one per group before
    any global ordering."""
    terms = [t for t in terms if len(t.doc_ids)]
    if not terms:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    ids = np.concatenate([t.doc_ids for t in terms])
    scores = np.concatenate([t.scores for t in terms])
    uniq, inv = np.unique(ids, return_inverse=True)
    return uniq, np.bincount(inv, weights=scores, minlength=len(uniq))


def topk_disjunctive(
    terms: list[TermPostings], k: int,
    after: tuple[float, int] | None = None,
    stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """ANY-term (OR-semantics) top-k (doc_ids, scores) over the given
    postings: every entry is scored (score_union), then cut by (score
    desc, doc_id asc).

    ``after``: optional (score, doc_id) cursor — only docs strictly after
    it in (score desc, doc_id asc) order are accepted, which makes k
    results of this call exactly ranks ``cursor_rank+1 .. cursor_rank+k``
    of the unfiltered ranking (deep pagination without a deep heap).

    ``stats``: optional dict the kernel increments in place —
    ``entries_total`` (postings entries in play) and ``entries_scored``
    (entries decoded into the accumulator; every one of them)."""
    uniq, acc = score_union(terms)
    if stats is not None:
        total = sum(len(t.doc_ids) for t in terms)
        stats["entries_total"] = stats.get("entries_total", 0) + total
        stats["entries_scored"] = stats.get("entries_scored", 0) + total
    if after is not None:
        keep = _after_mask(uniq, acc, after)
        uniq, acc = uniq[keep], acc[keep]
    order = np.lexsort((uniq, -acc))[:k]
    return uniq[order], acc[order]
