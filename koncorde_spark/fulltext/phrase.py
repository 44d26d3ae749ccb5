"""Exact-phrase + proximity matching/scoring kernel (numpy, per shard).

Called by serve.phrase_shard, the per-shard body both the distributed
query tier (``Bm25Index.topk_phrase``) and the Spark-free serve tier
(``LocalSearcher.phrase``) run, so the two answer rank-identically by
construction — the same discipline as the WAND kernel.

Semantics: a phrase occurrence is the exact query token sequence at
consecutive token offsets (slop 0). With ``slop > 0`` the kernel runs an
ordered GREEDY-CHAIN proximity match instead: from each occurrence p0 of
the first token, every later phrase token chains to its smallest
strictly-greater position in the same document, and the start matches iff
the final span ``p_last - p0 - (m-1)`` is at most ``slop`` (tokens in
phrase order, gaps allowed, no reordering). The greedy chain yields the
minimal span for each start, so slop=0 coincides exactly with the
adjacency kernel (fuzz-pinned in tests). Scoring follows the classic
phrase-query recipe (Lucene PhraseQuery): the phrase behaves as one
pseudo-term whose tf is the number of (exact or in-slop) occurrences and
whose idf is the SUM of the member terms' idfs (repeated phrase tokens
contribute once per repetition):

    score = (Σ_t idf_t) * ptf*(k1+1) / (ptf + k1*(1 - b + b*dl/avgdl))

All arithmetic is vectorized: candidate docs come from intersecting the
member terms' posting lists (rarest first), and adjacency is checked by
chaining ``(doc_ordinal << 32 | position)`` keys through sorted-array
membership — no per-document Python.

Positions are token offsets into the canonical token stream (the 4-place
tokenizer invariant), so the DuckDB oracle (brute.bm25_phrase_sql) can
re-derive occurrences with a list lambda over the same tokens.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .codecs import delta_decode, delta_decode_groups, gather_groups, varint_decode


@dataclass
class TermOccurrences:
    """One term's postings-with-positions within one shard (doc-sorted)."""

    doc_ids: np.ndarray  # int64 sorted ascending, one per entry
    occ_off: np.ndarray  # int64, len n_entries+1: position-list boundaries
    positions: np.ndarray  # int64 flat token offsets, ascending per entry


def decode_entry_positions(
    doc_ids_buf: bytes, tfs_buf: bytes, pos_buf: bytes, n: int
) -> TermOccurrences:
    """Decode one postings segment row into doc-sorted occurrences.

    Entry boundaries of the position stream are the tf values (the same
    implied-boundary layout the indexer writes)."""
    ids = delta_decode(doc_ids_buf, n).astype(np.int64)
    tfs = varint_decode(tfs_buf, n).astype(np.int64)
    occ_off = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
    pos = delta_decode_groups(
        varint_decode(pos_buf, int(tfs.sum())), occ_off
    ).astype(np.int64)
    return TermOccurrences(ids, occ_off, pos)


def merge_term_segments(segs: list[TermOccurrences]) -> TermOccurrences:
    """Merge a term's segment rows (disjoint doc sets) into one doc-sorted
    occurrence list; position lists ride the entry permutation via one
    vectorized variable-length gather."""
    if len(segs) == 1:
        return segs[0]
    ids = np.concatenate([s.doc_ids for s in segs])
    lens = np.concatenate([np.diff(s.occ_off) for s in segs])
    pos = np.concatenate([s.positions for s in segs])
    off = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    pos, off = gather_groups(pos, off, order)
    return TermOccurrences(ids[order], off, pos)


def _pair_keys(t: TermOccurrences, cand: np.ndarray) -> np.ndarray:
    """Sorted ``(ordinal_in_cand << 32) | position`` keys for the term's
    occurrences restricted to candidate docs."""
    sel = np.searchsorted(cand, t.doc_ids)
    hit = cand[np.minimum(sel, len(cand) - 1)] == t.doc_ids
    entries = np.nonzero(hit)[0]
    ords = sel[entries].astype(np.uint64)
    lens = np.diff(t.occ_off)[entries]
    starts = t.occ_off[:-1][entries]
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.cumsum(lens)
    flat = np.repeat(starts - (ends - lens), lens) + np.arange(total)
    pos = t.positions[flat].astype(np.uint64)
    return (np.repeat(ords, lens) << np.uint64(32)) | pos


def _candidate_docs(
    per_token: list[TermOccurrences],
    tombstones: np.ndarray | None,
) -> np.ndarray:
    """Sorted doc_ids containing EVERY phrase token (tombstones removed)."""
    cand = per_token[0].doc_ids
    for t in per_token[1:]:
        if len(cand) == 0:
            return cand
        pos = np.searchsorted(t.doc_ids, cand)
        cand = cand[t.doc_ids[np.minimum(pos, len(t.doc_ids) - 1)] == cand]
    if tombstones is not None and len(tombstones) and len(cand):
        p = np.searchsorted(tombstones, cand)
        cand = cand[tombstones[np.minimum(p, len(tombstones) - 1)] != cand]
    return cand


def phrase_freqs(
    per_token: list[TermOccurrences],
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(matching doc_ids, phrase tf per doc) for the token sequence.

    ``per_token`` is ordered by phrase position (repeated tokens may share
    one TermOccurrences object). Adjacency: a start key k survives token i
    iff k + i is among token i's keys — exact consecutive offsets."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if not per_token or any(len(t.doc_ids) == 0 for t in per_token):
        return empty
    cand = _candidate_docs(per_token, tombstones)
    if len(cand) == 0:
        return empty
    start = _pair_keys(per_token[0], cand)
    for i, t in enumerate(per_token[1:], start=1):
        if len(start) == 0:
            return empty
        keys = _pair_keys(t, cand)
        if len(keys) == 0:
            return empty
        idx = np.searchsorted(keys, start + np.uint64(i))
        start = start[keys[np.minimum(idx, len(keys) - 1)] == start + np.uint64(i)]
    if len(start) == 0:
        return empty
    ords = (start >> np.uint64(32)).astype(np.int64)
    ptf = np.bincount(ords, minlength=len(cand))
    hit = ptf > 0
    return cand[hit], ptf[hit].astype(np.int64)


def proximity_freqs(
    per_token: list[TermOccurrences],
    slop: int,
    tombstones: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """(matching doc_ids, in-slop occurrence count per doc): ordered
    greedy-chain proximity (see module docstring). Each occurrence of the
    first token chains each later token to its SMALLEST strictly-greater
    position in the same doc (one searchsorted per token — the chain is
    span-minimal, so thresholding it decides slop exactly)."""
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    if not per_token or any(len(t.doc_ids) == 0 for t in per_token):
        return empty
    cand = _candidate_docs(per_token, tombstones)
    if len(cand) == 0:
        return empty
    start = _pair_keys(per_token[0], cand)
    if len(start) == 0:
        return empty
    cur = start
    valid = np.ones(len(start), dtype=bool)
    for t in per_token[1:]:
        keys = _pair_keys(t, cand)
        if len(keys) == 0:
            return empty
        idx = np.searchsorted(keys, cur + np.uint64(1))
        ok = idx < len(keys)
        nxt = keys[np.minimum(idx, len(keys) - 1)]
        ok &= (nxt >> np.uint64(32)) == (cur >> np.uint64(32))
        valid &= ok
        cur = np.where(ok, nxt, cur)
        if not valid.any():
            return empty
    mask32 = np.uint64(0xFFFFFFFF)
    span = (cur & mask32).astype(np.int64) - (start & mask32).astype(np.int64)
    match = valid & (span - (len(per_token) - 1) <= slop)
    if not match.any():
        return empty
    ords = (start[match] >> np.uint64(32)).astype(np.int64)
    ptf = np.bincount(ords, minlength=len(cand))
    hit = ptf > 0
    return cand[hit], ptf[hit].astype(np.int64)


def phrase_topk_shard(
    per_token: list[TermOccurrences],
    idf_sum: float,
    k1: float,
    b: float,
    avgdl: float,
    dl_ids: np.ndarray,
    dl_vals: np.ndarray,
    k: int,
    tombstones: np.ndarray | None = None,
    slop: int = 0,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (doc_ids, scores) for one shard; ties break by ascending
    doc_id (same rank rule as the WAND kernel). ``slop=0`` runs the exact
    adjacency kernel; ``slop>0`` the greedy-chain proximity kernel."""
    if slop > 0:
        cand, ptf = proximity_freqs(per_token, slop, tombstones)
    else:
        cand, ptf = phrase_freqs(per_token, tombstones)
    if len(cand) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    dls = dl_vals[np.searchsorted(dl_ids, cand)]
    ptf_f = ptf.astype(np.float64)
    score = idf_sum * ptf_f * (k1 + 1.0) / (
        ptf_f + k1 * (1.0 - b + b * dls / avgdl)
    )
    order = np.lexsort((cand, -score))[:k]
    return cand[order], score[order]
