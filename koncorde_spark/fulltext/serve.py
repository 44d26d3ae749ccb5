"""Spark-free low-latency BM25 serving over a built index, and the ONE
per-shard implementation of every search operator.

Per-shard bodies live here and nowhere else: the segment decode
(``decode_segments`` / ``segment_postings``, keyed by term in
``shard_postings`` — the top-k family's input), the any/all top-k
dispatch (``wand_topk``), the count set arithmetic (``match_ids``), the
boolean, phrase, highlight and multi-field bodies (``*_shard``), the
Levenshtein DP and the in-memory ``Vocabulary``. Every scored body but
phrase takes each entry's score from ``_segment``'s tf part times the
term's idf (``segment_postings``) and sums a doc's entries in canonical
term order (``score_union`` / ``wand_topk``), so a doc scores the same
bits in every operator. Each body takes ONE shard's postings rows — a pandas
frame inside a Spark cogroup, a column dict here — sorts them by term
and returns that shard's (ids, scores), plus snippets for highlight.

The plans around those bodies are written once too: ``SearchOperators``
defines topk, count, topk_prefix, topk_fuzzy, topk_boolean,
topk_phrase (alias ``phrase``), topk_highlight (alias ``highlight``),
the injected-idf per-shard top-k that federation cuts, and the
vocabulary operators _df_for, expand_prefix, expand_fuzzy and suggest.
``Bm25Index`` (query.py, Spark) and ``LocalSearcher`` (here,
in-process) inherit them and supply only a vocabulary (``_vocab``: a
term-sorted ``Vocabulary``, or Catalyst scans for a Spark vocabulary
above TERMS_LOCAL_MAX terms), one scan over a list of ``(index,
terms)`` members (``_scan_members``; ``_scan`` is its one-member case),
a global cut, a count sum and a result of given rows, so the two tiers
are bit-identical by construction. The one
multifield.MultiFieldSearch plan runs on either tier through the same
primitives. Postings are decoded through this module's
``delta_decode`` / ``varint_decode`` names.

The distributed job (indexer.py) builds the index; serving queries does
not need a Spark job at all — a query touches only the posting rows of its
terms. LocalSearcher reads the postings once at open into one Arrow table
sorted by (term, shard) and answers a lookup with ``searchsorted`` over
the sorted term column, so a query costs O(its terms' rows), never a
scan. The encoded postings stay in memory for the handle's lifetime
(the ``pos`` column too on a positional index): RSS grows with the
encoded postings size, and a handle serves the snapshot it opened —
re-open it to see an append, delete or compaction. At cluster scale
this is the "searcher" tier: each searcher process maps a subset of
shard directories; here one process serves all shards. p50/p95
latencies are milliseconds (vs ~1s for a Spark job round-trip).
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from .codecs import delta_decode, varint_decode
from .highlight import best_windows
from .indexer import _decode_dlpack, read_meta
from .phrase import (
    TermOccurrences,
    decode_entry_positions,
    merge_term_segments,
    phrase_topk_shard,
)
from .tokenizer import tokenize_text
from .wand import (
    TermPostings,
    bm25_idf,
    check_after_cursor,
    score_union,
    topk_conjunctive,
    topk_disjunctive,
)

# ---------------------------------------------------------------------------
# per-shard operator bodies (shared by the Spark tier and the serve tier)
# ---------------------------------------------------------------------------

# postings columns each kind of body decodes — both tiers scan exactly
# these, so a positions=True index never ships its dominant per-entry
# `pos` payload to an operator that does not read it
_COLUMNS = {
    "match": ("term", "df", "doc_ids"),
    "tf": ("term", "df", "doc_ids", "tfs"),
    "pos": ("term", "df", "doc_ids", "tfs", "pos"),
}


def postings_columns(kind: str) -> list[str]:
    """Postings columns (besides ``shard``) a ``kind`` of body decodes:
    "match" (count / matching_ids), "tf" (the top-k family, boolean,
    multi-field) or "pos" (phrase, highlight)."""
    return list(_COLUMNS[kind])


def _rows_by_term(rows, cols: tuple[str, ...]) -> list[tuple]:
    """One shard's postings rows as ``(term, *cols)`` tuples in canonical
    TERM order (absent columns read None). A doc's float64 score is a sum
    in concatenation order, and rows arrive in shuffle-fetch order (Spark,
    different between two jobs), so every body sorts before it
    accumulates. The sort is stable; segments of one term are
    doc-disjoint, so their relative order never changes a score."""
    n = len(rows["term"])
    recs = list(zip(*(rows[c] if c in rows else [None] * n for c in ("term", *cols))))
    recs.sort(key=lambda r: r[0])
    return recs


def _member(sorted_ids: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Mask of the ``ids`` present in the non-empty sorted array."""
    at = np.searchsorted(sorted_ids, ids)
    return sorted_ids[np.minimum(at, len(sorted_ids) - 1)] == ids


def _segment(ids, tfs, dl, k1, b, avgdl, tombstones=None, allowed=None) -> tuple | None:
    """One postings segment (sorted doc ``ids``, their ``tfs``) as an
    idf-INDEPENDENT ``(ids, tfpart)``, deleted / ineligible entries
    dropped; None when none is left. The one place a BM25 tf part is
    computed — every scored operator but phrase reads it."""
    dl_ids, dl_vals = dl
    tfs = tfs.astype(np.float64)
    dls = dl_vals[np.searchsorted(dl_ids, ids)]
    tfpart = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
    keep = np.ones(len(ids), dtype=bool)
    if tombstones is not None and len(tombstones):
        keep &= ~_member(tombstones, ids)
    if allowed is not None:
        keep &= _member(allowed, ids)
    if not keep.all():
        ids, tfpart = ids[keep], tfpart[keep]
        if len(ids) == 0:
            return None
    return ids, tfpart


def decode_segments(
    rows,
    dl: tuple[np.ndarray, np.ndarray],
    k1: float,
    b: float,
    avgdl: float,
    tombstones: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
) -> list[tuple[str, tuple]]:
    """One shard's "tf" rows as idf-INDEPENDENT segments (``_segment``) in
    canonical term order: ``[(term, (ids, tfpart))]``.

    A (term, shard) may own SEVERAL segment rows (hot-term salts, append
    generations); BM25 is additive per entry, so each stays its own
    segment — collapsing them per term would drop postings.

    ``tombstones`` / ``allowed`` (sorted doc_ids) drop deleted entries /
    keep only eligible ones (a filtered search); a segment left empty is
    dropped."""
    if allowed is not None and len(allowed) == 0:
        return []
    out = []
    for term, n, ids_b, tfs_b in _rows_by_term(rows, ("df", "doc_ids", "tfs")):
        n = int(n)
        seg = _segment(
            delta_decode(bytes(ids_b), n).astype(np.int64),
            varint_decode(bytes(tfs_b), n), dl, k1, b, avgdl, tombstones, allowed,
        )
        if seg is not None:
            out.append((term, seg))
    return out


def segment_postings(seg: tuple, idf: float) -> TermPostings:
    """A decoded segment scored for one idf: scores = idf·tfpart. Every
    scored body goes through here, so every operator rounds
    identically."""
    ids, tfpart = seg
    return TermPostings(ids, idf * tfpart)


def shard_postings(
    rows,
    dl: tuple[np.ndarray, np.ndarray],
    idf: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    tombstones: np.ndarray | None = None,
    allowed: np.ndarray | None = None,
) -> dict[str, list[TermPostings]]:
    """One shard's "tf" rows as per-term TermPostings LISTS (one per
    segment row, decode_segments scored by segment_postings), in
    canonical term order — the input of wand_topk on both tiers, and of
    every query of a topk_many batch (each segment decoded once)."""
    out: dict[str, list[TermPostings]] = {}
    for term, seg in decode_segments(rows, dl, k1, b, avgdl, tombstones, allowed):
        out.setdefault(term, []).append(segment_postings(seg, idf[term]))
    return out


def wand_topk(
    by_term: dict[str, list[TermPostings]],
    k: int,
    require: int | None = None,
    after: tuple[float, int] | None = None,
    stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-shard top-k over ``{term: segments}`` (term-sorted): the
    disjunctive kernel over every segment, or — with ``require`` — the
    conjunctive kernel over docs holding that many terms. ``after`` is a
    validated search-after cursor; ``stats`` collects the disjunctive
    kernel's entry counters."""
    if require is not None:
        return topk_conjunctive(by_term, k, require=require, after=after)
    tps = [tp for segs in by_term.values() for tp in segs]
    return topk_disjunctive(tps, k, after=after, stats=stats)


def idf_for(df_for, terms: list[str], n_docs: int) -> dict[str, float]:
    """{term: BM25 idf} for the ``terms`` that ``df_for`` finds in the
    vocabulary, in ``terms`` order."""
    return {t: float(bm25_idf(n_docs, df)) for t, df in df_for(terms).items()}


def check_mode(mode: str) -> None:
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")


def query_idf(query: str, mode: str, df_for, n_docs: int) -> dict[str, float] | None:
    """{term: idf} of a free-text query's terms that ``df_for`` finds, or
    None when nothing can match (no term in the vocabulary; in mode
    "all", any) — so an empty result costs no scan."""
    check_mode(mode)
    q_terms = sorted(set(tokenize_text(query)))
    idf = idf_for(df_for, q_terms, n_docs)
    if not idf or (mode == "all" and len(idf) < len(q_terms)):
        return None
    return idf


def match_ids(rows, mode: str, need: int, tombstones: np.ndarray) -> np.ndarray:
    """Sorted live doc_ids of one shard matching a query's ``need``
    present terms: their union ("any") or their intersection ("all";
    empty when a term is absent from the shard). No scoring."""
    per_term: dict[str, list[np.ndarray]] = {}
    for term, n, ids_b in _rows_by_term(rows, ("df", "doc_ids")):
        per_term.setdefault(term, []).append(
            delta_decode(bytes(ids_b), int(n)).astype(np.int64)
        )
    sets = [np.sort(np.concatenate(v)) if len(v) > 1 else v[0] for v in per_term.values()]
    if mode == "all":
        if len(sets) < need:
            return np.empty(0, dtype=np.int64)
        sets.sort(key=len)
        cand = sets[0]
        for ids in sets[1:]:
            if len(cand) == 0:
                break
            cand = cand[_member(ids, cand)]
    else:
        cand = np.unique(np.concatenate(sets))
    if len(tombstones) and len(cand):
        cand = cand[~_member(tombstones, cand)]
    return cand


def _occurrences(rows) -> dict[str, list[TermOccurrences]]:
    """One shard's "pos" rows decoded into per-term segment lists, in
    canonical term order."""
    out: dict[str, list[TermOccurrences]] = {}
    for term, n, ids_b, tfs_b, pos_b in _rows_by_term(rows, ("df", "doc_ids", "tfs", "pos")):
        out.setdefault(term, []).append(
            decode_entry_positions(bytes(ids_b), bytes(tfs_b), bytes(pos_b), int(n))
        )
    return out


def require_positions(meta: dict, what: str) -> None:
    if not meta.get("positions"):
        raise RuntimeError(
            f"{what} requires a positional index — build with "
            "IndexConfig(positions=True)"
        )


def boolean_plan(must, should, must_not, boosts, df_for, n_docs: int):
    """Term sets of a boolean query — (must terms, boost-scaled idf per
    scored term, must_not terms, scan terms) — or None when it can match
    nothing: no scored term, a must term outside the vocabulary, or no
    scored term inside it. Clause strings are tokenized; ``boosts`` keys
    are canonical tokens."""
    must_t = sorted({t for s in (must or []) for t in tokenize_text(s)})
    should_t = sorted({t for s in (should or []) for t in tokenize_text(s)})
    not_t = sorted({t for s in (must_not or []) for t in tokenize_text(s)})
    score_t = sorted(set(must_t) | set(should_t))
    if not score_t:
        return None
    dfs = df_for(sorted(set(score_t) | set(not_t)))
    score_present = [t for t in score_t if t in dfs]
    if any(t not in dfs for t in must_t) or not score_present:
        return None
    idf = {
        t: float((boosts or {}).get(t, 1.0)) * float(bm25_idf(n_docs, dfs[t]))
        for t in score_present
    }
    scan = sorted(set(score_present) | {t for t in not_t if t in dfs})
    return must_t, idf, not_t, scan


def boolean_shard(rows, dl, must, idf, must_not, k1, b, avgdl, k, tombstones):
    """One shard of a boolean query (Lucene BooleanQuery semantics): docs
    holding every ``must`` term and no ``must_not`` term, scored by the
    ``idf`` (boost-scaled) terms exactly as topk scores them; None when a
    must term misses the shard."""
    segs = decode_segments(rows, dl, k1, b, avgdl, tombstones)
    if not set(must) <= {t for t, _ in segs}:
        return None
    ids, scores = score_union([segment_postings(seg, idf[t]) for t, seg in segs if t in idf])
    # a term's segments are doc-disjoint: a doc hits at most one per term
    n_must, hit_not = np.zeros(len(ids), dtype=np.int64), np.zeros(len(ids), dtype=bool)
    for t, (seg_ids, _) in segs:
        if t in must:
            n_must += _member(seg_ids, ids)
        if t in must_not:
            hit_not |= _member(seg_ids, ids)
    keep = (n_must == len(must)) & ~hit_not
    ids, scores = ids[keep], scores[keep]
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]


def phrase_plan(phrase: str, df_for, n_docs: int):
    """(phrase tokens, distinct tokens, idf sum) or None when a token is
    outside the vocabulary. A repeated token adds its idf once per
    repetition."""
    toks = tokenize_text(phrase)
    if not toks:
        return None
    uniq = sorted(set(toks))
    dfs = df_for(uniq)
    if len(dfs) < len(uniq):
        return None
    return toks, uniq, float(sum(bm25_idf(n_docs, dfs[t]) for t in toks))


def phrase_shard(rows, dl, toks, idf_sum, k1, b, avgdl, k, tombstones, slop):
    """One shard of a phrase (slop 0) or proximity (slop > 0) query
    (phrase.phrase_topk_shard); None when a token misses the shard."""
    by_term = _occurrences(rows)
    if len(by_term) < len(set(toks)):
        return None
    merged = {t: merge_term_segments(v) for t, v in by_term.items()}
    return phrase_topk_shard(
        [merged[t] for t in toks], idf_sum, k1, b, avgdl, *dl, k, tombstones,
        slop=slop,
    )


def highlight_shard(rows, dl, idf, k1, b, avgdl, k, window, tombstones):
    """One shard's (ids, scores, snip_start, snip_hits) top-k: the
    positional rows decoded once, each segment scored from its tfs
    (``_segment``) and ranked by wand_topk — so ids and scores are topk's
    — then the winners' best windows (highlight.best_windows). None when
    no live doc matches."""
    by_term = _occurrences(rows)
    scored: dict[str, list[TermPostings]] = {}
    for term, occs in by_term.items():
        for occ in occs:
            seg = _segment(occ.doc_ids, np.diff(occ.occ_off), dl, k1, b, avgdl, tombstones)
            if seg is not None:
                scored.setdefault(term, []).append(segment_postings(seg, idf[term]))
    ids, scores = wand_topk(scored, k)
    if len(ids) == 0:
        return None
    starts, hits = best_windows([o for occs in by_term.values() for o in occs], ids, window)
    return ids, scores, starts, hits


def multifield_shard(fields, k1: float, b: float, k: int):
    """One shard's weighted multi-field top-k: ``fields`` yields (rows,
    dl, idf, avgdl, weight, tombstones) per field in sorted field order;
    each field scores as topk does (score_union in canonical term order),
    then the weight-scaled field scores are summed per doc by score_union
    in field order. None when no field matches."""
    parts = []
    for rows, dl, idf, avgdl, weight, tombstones in fields:
        ids, sc = score_union([
            segment_postings(seg, idf[t])
            for t, seg in decode_segments(rows, dl, k1, b, avgdl, tombstones)
        ])
        if len(ids):
            parts.append(TermPostings(ids, weight * sc))
    if not parts:
        return None
    ids, tot = score_union(parts)
    order = np.lexsort((ids, -tot))[:k]
    return ids[order], tot[order]


def _levenshtein_capped(a: str, b: str, cap: int) -> int | None:
    """Edit distance if ≤ cap, else None (banded DP with row cutoff) —
    agrees with Spark's F.levenshtein / DuckDB's levenshtein() on every
    pair (fuzz-pinned in tests)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
            if cur[j] < best:
                best = cur[j]
        if best > cap:
            return None
        prev = cur
    return prev[lb] if prev[lb] <= cap else None


class Vocabulary:
    """An index vocabulary held in memory as term-sorted (term, df)
    arrays: exact df lookup, prefix expansion and fuzzy expansion — the
    ``_vocab`` of LocalSearcher, and of a Bm25Index whose vocabulary is
    small enough to pull to the driver. Built from an Arrow table with
    ``term`` and ``df`` columns (Arrow sorts strings by UTF-8 bytes,
    which is code-point order, so Python's ``<`` agrees with it)."""

    def __init__(self, table):
        table = table.select(["term", "df"]).sort_by("term")
        self.terms = table["term"].to_numpy(zero_copy_only=False)
        self.dfs = table["df"].to_numpy().astype(np.int64)
        self._lens = pc.utf8_length(table["term"]).to_numpy()
        self._df = dict(zip(self.terms.tolist(), self.dfs.tolist()))

    def df(self, terms) -> dict[str, int]:
        """{term: df} of the ``terms`` in the vocabulary, in ``terms``
        order."""
        return {t: self._df[t] for t in terms if t in self._df}

    def prefix(self, prefix: str, cap: int) -> list[str]:
        """The first ``cap`` terms starting with ``prefix`` by (df DESC,
        term ASC): one searchsorted range of the sorted terms (Lucene's
        terms index), from ``prefix`` to the least string above all its
        extensions."""
        lo = np.searchsorted(self.terms, prefix)
        stem = prefix.rstrip(chr(sys.maxunicode))
        hi = (
            np.searchsorted(self.terms, stem[:-1] + chr(ord(stem[-1]) + 1))
            if stem else len(self.terms)
        )
        order = np.argsort(-self.dfs[lo:hi], kind="stable")[:cap]
        return self.terms[lo:hi][order].tolist()

    def fuzzy(self, term: str, max_distance: int, cap: int) -> list[tuple[str, int, int]]:
        """The first ``cap`` (term, df, distance) within ``max_distance``
        edits of ``term`` by (distance ASC, df DESC, term ASC). The length
        band is a lower bound on the edit distance, so the DP runs on the
        band only."""
        band = np.flatnonzero(np.abs(self._lens - len(term)) <= max_distance)
        hits = []
        for t, df in zip(self.terms[band].tolist(), self.dfs[band].tolist()):
            d = _levenshtein_capped(term, t, max_distance)
            if d is not None:
                hits.append((d, -df, t))
        hits.sort()
        return [(t, -ndf, d) for d, ndf, t in hits[:cap]]


def check_cap(n: int, name: str) -> int:
    """``n`` if it is a valid result cap (>= 0), else ValueError."""
    if n < 0:
        raise ValueError(f"{name} must be >= 0, got {n}")
    return n


def _global_topk(parts, k: int) -> list[tuple]:
    """The serve tier's global sort-limit: per-shard column tuples
    (ids, scores, *extra) — None for a shard with nothing — cut to the
    top k by (score DESC, doc_id ASC), as Python tuples."""
    parts = [p for p in parts if p is not None]
    if not parts:
        return []
    cols = [np.concatenate(c) for c in zip(*parts)]
    order = np.lexsort((cols[0], -cols[1]))[:k]
    return list(zip(*(c[order].tolist() for c in cols)))


def check_members(indexes) -> tuple[float, float]:
    """The member-list rule of a federation's top-k and of a multi-field
    search: every member is of one tier (Bm25Index or LocalSearcher) — a
    plan scans and cuts every member's parts with the first member's
    primitives — and all share the BM25 constants, returned as (k1, b)."""
    tiers = sorted({type(ix).__name__ for ix in indexes})
    if len(tiers) > 1:
        raise ValueError(f"members mix search tiers ({', '.join(tiers)}) — use one tier")
    k1b = sorted({(float(ix.meta["k1"]), float(ix.meta["b"])) for ix in indexes})
    if len(k1b) != 1:
        raise ValueError(f"members disagree on BM25 constants (k1, b): {k1b}")
    return k1b[0]


# the part before '*' / '~' in an expansion query must itself be a single
# canonical token (4-place tokenizer invariant: [a-z0-9_]+ on lowercased text)
_PREFIX_RE = re.compile(r"[a-z0-9_]+")


def parse_expansion_query(query: str, marker: str, kind: str, expand) -> list[str]:
    """Sorted deduped term set for a query mixing literal tokens with
    trailing-``marker`` expansion terms — THE grammar of topk_prefix /
    topk_fuzzy."""
    literals, expanded = [], []
    for tok in query.split():
        if tok.endswith(marker) and len(tok) > 1:
            base = tok[:-1].lower()
            if not _PREFIX_RE.fullmatch(base):
                raise ValueError(
                    f"invalid {kind} {tok!r}: the part before {marker!r} must "
                    "be a single token ([a-z0-9_]+)"
                )
            expanded.extend(expand(base))
        else:
            literals.extend(tokenize_text(tok))
    return sorted(set(literals) | set(expanded))


# ---------------------------------------------------------------------------
# the operator surface of both tiers
# ---------------------------------------------------------------------------


class SearchOperators:
    """Every top-k operator's plan, written once for both tiers:
    tokenize, look up df / idf, short-circuit what cannot match, bind the
    index statistics into a per-shard body, cut globally — and the
    vocabulary operators (_df_for, expand_prefix, expand_fuzzy, suggest).

    A tier (query.Bm25Index on Spark, LocalSearcher here) holds ``meta``
    and ``tombstones`` (sorted deleted doc_ids), and supplies its
    primitives:

    - ``_vocab``: the vocabulary — ``df(terms)`` ({term: df} of the
      present terms, in ``terms`` order), ``prefix(prefix, cap)`` and
      ``fuzzy(term, max_distance, cap)`` with Vocabulary's contracts. A
      Vocabulary on both tiers, or query.SparkVocabulary's Catalyst
      scans when a Bm25Index has more than TERMS_LOCAL_MAX terms.

    - ``_scan_members(members, kind, body, out="topk")``: ``members`` is
      a list of ``(index, terms)`` of this tier sharing n_shards. Per
      shard, ``body`` gets one ``(rows, dl)`` or None per member: the
      ``postings_columns(kind)`` rows of that member's ``terms`` and the
      member's decoded (doc_ids, dls) pack of the shard — None for a
      "match" scan, which reads no doc lengths. ``body`` returns the
      shard's columns of the ``out`` rows — "topk": (ids, scores);
      "highlight": (ids, scores, snip_start, snip_hits); "count": (n,);
      "ids": (ids,) — or None. Returns the tier's per-shard parts.
    - ``_cut(parts, k)``: the global sort-limit (score DESC, doc_id ASC)
      over a list of scans — one per federation member.
    - ``_total(part)``: the sum of a "count" scan's per-shard counts.
    - ``_result(out="topk", rows=())``: a result of ``out`` rows given
      as tuples — the empty result by default; suggest's
      (suggestion, df, distance) rows.

    Results are DataFrames on the Spark tier and lists of tuples here.
    Bodies close over locals, never ``self``: the Spark tier ships them
    to executors, and a Bm25Index holds a SparkSession."""

    def _df_for(self, terms) -> dict[str, int]:
        """{term: global df} of the ``terms`` in the vocabulary, in
        ``terms`` order — also federation's per-member statistic."""
        return self._vocab.df(terms) if terms else {}

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Vocabulary terms starting with ``prefix``, highest df first
        (ties by ascending term), capped at ``max_expansions`` — the
        deterministic contract the SQL oracle reproduces."""
        return self._vocab.prefix(prefix, check_cap(max_expansions, "max_expansions"))

    def expand_fuzzy(
        self, term: str, max_distance: int = 1, max_expansions: int = 50
    ) -> list[str]:
        """Vocabulary terms within ``max_distance`` Levenshtein edits of
        ``term`` (taken as given), closest first, then highest df, then
        ascending term, capped at ``max_expansions`` — the Lucene
        FuzzyQuery rewrite contract."""
        cap = check_cap(max_expansions, "max_expansions")
        return [t for t, _, _ in self._vocab.fuzzy(term, max_distance, cap)]

    def suggest(self, term: str, max_distance: int = 2, k: int = 5):
        """Did-you-mean term suggester: (suggestion, df, distance) rows of
        the vocabulary terms within ``max_distance`` edits of ``term`` (one
        indexable token), ranked (distance ASC, df DESC, term ASC), top
        ``k``."""
        toks = tokenize_text(term)
        if len(toks) != 1:
            raise ValueError(f"suggest() takes one indexable token, got {term!r}")
        return self._result("suggest", self._vocab.fuzzy(toks[0], max_distance, check_cap(k, "k")))

    def _scan(self, terms, kind: str, body, out: str = "topk"):
        """The one-member scan: ``body(rows, dl)`` per shard holding rows
        of ``terms``."""
        return self._scan_members([(self, terms)], kind, lambda parts: body(*parts[0]), out)

    def _bm25(self) -> tuple:
        """(k1, b, avgdl, tombstones) — what a scored body binds."""
        m = self.meta
        return m["k1"], m["b"], m["avgdl"], self.tombstones

    def _search(self, terms, kind: str, body, k: int, out: str = "topk"):
        return self._cut([self._scan(terms, kind, body, out)], k)

    def _scored(self, idf: dict[str, float]):
        """serve.shard_postings bound to this index's statistics and
        tombstones: ``(rows, dl, allowed=None) -> {term: segments}``
        (``allowed``: sorted eligible doc_ids of a filtered search)."""
        k1, b, avgdl, tomb = self._bm25()
        return lambda rows, dl, allowed=None: shard_postings(
            rows, dl, idf, k1, b, avgdl, tomb, allowed
        )

    def _shard_topk(
        self,
        idf: dict[str, float],
        k: int,
        mode: str = "any",
        after: tuple[float, int] | None = None,
        stats: dict | None = None,
    ):
        """Per-shard top-k parts (no global cut) with an INJECTED idf map —
        what topk and federation cut. The caller owns the idf statistics
        (federation passes combined-corpus idf); this index's own avgdl
        normalizes document length. Mode "all" requires every injected
        term, so a member missing one contributes nothing. ``stats``
        collects the in-process kernel's entry counters (profile_topk)."""
        postings = self._scored(idf)
        after_ = check_after_cursor(after) if after is not None else None
        require = len(idf) if mode == "all" else None
        return self._scan(
            idf, "tf",
            lambda rows, dl: wand_topk(postings(rows, dl), k, require, after_, stats),
        )

    def topk(
        self, query: str, k: int = 10, mode: str = "any",
        after: tuple[float, int] | None = None,
    ):
        """Top-k (doc_id, score) for a free-text query, rank-deterministic.

        ``mode``: "any" (default) ranks docs containing any query term
        (disjunctive, every entry scored); "all" restricts to docs containing
        EVERY query term (conjunctive, intersection-driven — cost bounded
        by the rarest term's postings). Scores are mode-independent: a doc
        in the "all" result carries exactly its "any" score.

        ``after``: optional (score, doc_id) search-after cursor — the last
        row of the previous page in this engine's (score desc, doc_id asc)
        total order. The result is exactly the next k ranks: each shard
        keeps a k-deep heap over docs strictly after the cursor, so page
        depth never grows the heap (Elasticsearch's search_after contract,
        not from+size). doc_id is the INTERNAL id returned by this method."""
        idf = query_idf(query, mode, self._df_for, self.meta["n_docs"])
        if idf is None:
            return self._result()
        return self._cut([self._shard_topk(idf, k, mode, after)], k)

    def count(self, query: str, mode: str = "any") -> int:
        """Number of live documents matching the query — "any": union of
        the terms' posting lists; "all": intersection — without scoring
        or a top-k cut (the searcher's totalHits). One "match" scan (no
        doc lengths), per-shard set arithmetic (match_ids), counts summed
        across shards (doc-disjoint by construction)."""
        idf = query_idf(query, mode, self._df_for, self.meta["n_docs"])
        if idf is None:
            return 0
        need, tomb = len(idf), self.tombstones
        return self._total(self._scan(
            idf, "match", lambda rows, _: ([len(match_ids(rows, mode, need, tomb))],), "count"
        ))

    def topk_prefix(
        self, query: str, k: int = 10, max_expansions: int = 50, mode: str = "any"
    ):
        """Top-k for a query mixing literal terms and trailing-wildcard
        prefixes ("import ide*"): each prefix expands to its
        ``max_expansions`` highest-df vocabulary terms (expand_prefix;
        Lucene MultiTermQuery discipline), and the union of literals +
        expansions is scored by topk — each distinct term contributes its
        own idf."""
        terms = parse_expansion_query(
            query, "*", "prefix", lambda b_: self.expand_prefix(b_, max_expansions)
        )
        return self.topk(" ".join(terms), k, mode=mode)

    def topk_fuzzy(
        self,
        query: str,
        k: int = 10,
        max_distance: int = 1,
        max_expansions: int = 50,
        mode: str = "any",
    ):
        """Top-k for a query mixing literal terms and trailing-~ fuzzy
        terms ("import ideny~"): each fuzzy term expands per expand_fuzzy
        and the union of literals + expansions is scored by topk (the
        discipline of topk_prefix)."""
        terms = parse_expansion_query(
            query, "~", "fuzzy term",
            lambda b_: self.expand_fuzzy(b_, max_distance, max_expansions),
        )
        return self.topk(" ".join(terms), k, mode=mode)

    def topk_boolean(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        boosts: dict[str, float] | None = None,
        k: int = 10,
    ):
        """Structured boolean top-k (Lucene BooleanQuery semantics):
        eligible docs contain EVERY must term and NO must_not term; the
        score is the boost-scaled BM25 sum over must ∪ should terms
        (must_not never contributes). Clause entries are tokenized, so
        multi-word strings flatten into their terms; ``boosts`` keys are
        canonical tokens. One scan over all three term sets, per-shard
        exact evaluation (boolean_shard), global cut."""
        plan = boolean_plan(must, should, must_not, boosts, self._df_for, self.meta["n_docs"])
        if plan is None:
            return self._result()
        must_t, idf, not_t, scan = plan
        k1, b, avgdl, tomb = self._bm25()
        return self._search(
            scan, "tf",
            lambda rows, dl: boolean_shard(rows, dl, must_t, idf, not_t, k1, b, avgdl, k, tomb),
            k,
        )

    def topk_phrase(self, phrase: str, k: int = 10, slop: int = 0):
        """Exact-phrase top-k over a POSITIONAL index (IndexConfig(
        positions=True)): docs containing the query token sequence at
        consecutive offsets, scored by the classic phrase-query recipe
        (the phrase as one pseudo-term: tf = phrase occurrences, idf =
        sum of member-term idfs — see phrase.py). ``slop > 0`` switches
        to ordered greedy-chain proximity (tokens in phrase order within
        ``len-1+slop`` offsets — phrase.proximity_freqs), same scoring
        with in-slop occurrence count as tf. A phrase term absent from
        the vocabulary short-circuits to empty without a scan."""
        require_positions(self.meta, "phrase search")
        plan = phrase_plan(phrase, self._df_for, self.meta["n_docs"])
        if plan is None:
            return self._result()
        toks, uniq, idf_sum = plan
        k1, b, avgdl, tomb = self._bm25()
        return self._search(
            uniq, "pos",
            lambda rows, dl: phrase_shard(rows, dl, toks, idf_sum, k1, b, avgdl, k, tomb, slop),
            k,
        )

    phrase = topk_phrase

    def topk_highlight(self, query: str, k: int = 10, window: int = 30):
        """Top-k with snippet selection over a POSITIONAL index: (doc_id,
        score, snip_start, snip_hits) where ``[snip_start, snip_start +
        window)`` is the token-offset window holding the most query-term
        occurrences (ties → smallest start; see highlight.py). Scores are
        topk's; terms absent from the vocabulary simply contribute
        nothing (unlike phrase, which requires all)."""
        require_positions(self.meta, "highlighting")
        idf = query_idf(query, "any", self._df_for, self.meta["n_docs"])
        if idf is None:
            return self._result("highlight")
        k1, b, avgdl, tomb = self._bm25()
        return self._search(
            idf, "pos",
            lambda rows, dl: highlight_shard(rows, dl, idf, k1, b, avgdl, k, window, tomb),
            k, "highlight",
        )

    highlight = topk_highlight


# ---------------------------------------------------------------------------
# serve tier
# ---------------------------------------------------------------------------


def _local_tombstones(index_dir: str) -> "np.ndarray":
    path = os.path.join(index_dir, "tombstones")
    if not os.path.exists(path):
        return np.empty(0, dtype=np.int64)
    tbl = ds.dataset(path, format="parquet").to_table()
    return np.unique(np.asarray(tbl["doc_id"].to_pylist(), dtype=np.int64))


class LocalSearcher(SearchOperators):
    """The Spark-free tier: SearchOperators over postings held in memory,
    answering with lists of tuples."""

    def __init__(self, index_dir: str):
        from .indexer import check_stats_consistency

        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        # refuse mixed statistics (crash between terms swap + meta write)
        check_stats_consistency(index_dir, self.meta)
        # every postings row, read once and sorted by (term, shard) — the
        # columns of the widest kind this index can serve ("pos" only on a
        # positional index); _shard_rows looks terms up in _terms with
        # searchsorted. The sort is stable: a (term, shard)'s segments
        # keep their file order.
        cols = postings_columns("pos" if self.meta.get("positions") else "tf")
        self._postings = (
            ds.dataset(os.path.join(index_dir, "postings"), format="parquet", partitioning="hive")
            .to_table(columns=["shard", *cols])
            .sort_by([("term", "ascending"), ("shard", "ascending")])
        )
        self._terms = self._postings["term"].to_numpy(zero_copy_only=False)
        self._vocab = Vocabulary(
            ds.dataset(os.path.join(index_dir, "terms"), format="parquet").to_table()
        )
        self.tombstones = _local_tombstones(index_dir)
        # per-shard doc-length packs, decoded once
        pack = ds.dataset(
            os.path.join(index_dir, "dlpack"), format="parquet"
        ).to_table().to_pandas()
        self._dl: dict[int, tuple[np.ndarray, np.ndarray]] = {
            int(shard): _decode_dlpack(pack.iloc[[i]], None)
            for i, shard in enumerate(pack["shard"])
        }

    def _shard_rows(self, terms, kind: str) -> dict[int, dict]:
        """{shard: {column: values}} of the postings rows of ``terms``,
        with exactly the ``kind`` columns of postings_columns — the serve
        tier's side of the Spark shard cogroup."""
        keys = np.asarray(sorted(set(terms)), dtype=object)
        lo = np.searchsorted(self._terms, keys, "left")
        hi = np.searchsorted(self._terms, keys, "right")
        tbl = self._postings.take(
            np.concatenate([np.arange(a, z) for a, z in zip(lo, hi)] + [np.empty(0, np.int64)])
        )
        shards = tbl["shard"].to_numpy()
        cols = postings_columns(kind)
        return {
            int(s): tbl.filter(shards == s).select(cols).to_pydict()
            for s in np.unique(shards)
        }

    def _scan_members(self, members, kind: str, body, out: str = "topk") -> list:
        """Each member's _shard_rows with its decoded pack of the shard
        (no pack for "match"); one body call per shard any member holds."""
        scans = [
            (ix._shard_rows(terms, kind), None if kind == "match" else ix._dl)
            for ix, terms in members
        ]
        shards = sorted({s for rows, _ in scans for s in rows})
        return [
            body([
                (rows[s], dl if dl is None else dl[s]) if s in rows else None
                for rows, dl in scans
            ])
            for s in shards
        ]

    def _cut(self, parts: list, k: int) -> list[tuple]:
        return _global_topk([p for shards in parts for p in shards], k)

    def _total(self, part: list) -> int:
        return sum(int(p[0][0]) for p in part)

    def _result(self, out: str = "topk", rows=()) -> list:
        return list(rows)

    def profile_topk(
        self, query: str, k: int = 10
    ) -> tuple[list[tuple[int, float]], dict]:
        """topk plus the kernel's measured entry counters (see
        wand.topk_disjunctive ``stats``): how many postings entries the
        query scored, per process rather than per claim."""
        idf = query_idf(query, "any", self._df_for, self.meta["n_docs"])
        if idf is None:
            return [], {}
        stats: dict = {}
        return self._cut([self._shard_topk(idf, k, stats=stats)], k), stats
