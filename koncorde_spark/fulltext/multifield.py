"""Multi-field weighted search across per-field indexes.

The "fields" recipe (Lucene multi-field / simple BM25F): index each field
of a document as its own corpus (same identity columns → the SAME
sha-derived doc_id and therefore the SAME shard in every field index),
score a query against each field with that field's own statistics
(n_docs, avgdl, df), and rank by the weighted SUM of per-field scores:

    score(d) = Σ_f  w_f · BM25_f(q, d)

Because doc_id → shard is identical across the field indexes (id %
n_shards with a shared n_shards), one scan per shard sees every field's
postings AND doc-length packs for the same document set, so the
combined score is computed EXACTLY in a single pass — no per-field top-k
approximation, no cross-field shuffle of candidates.

One plan serves both tiers: ``MultiFieldSearch`` takes ``{field:
Bm25Index}`` (answers are DataFrames) or ``{field: LocalSearcher}``
(lists of (doc_id, score)) and uses no pyspark itself. It looks up each
field's idf, drops fields holding no query term and hands the rest to
the tier's one member scan (``_scan_members``: on Spark the union of the
fields' pruned postings scans cogrouped with the union of their dlpacks
by shard; in process each field's in-memory rows). The per-shard body
is serve.multifield_shard: each field scores exactly as topk does
(decode_segments + score_union, additive over segment rows, so appended
indexes work unchanged, rows summed in canonical term order),
contributions are weight-scaled and summed per doc by score_union in
field order, and each shard emits its top-k. The tier's ``_cut`` makes
the global sort-limit over ≤ shards·k rows.

Per-field tombstones apply to that field's contributions only (delete
from every field index to remove a document entirely — the same
discipline as maintaining the indexes individually).
"""

from __future__ import annotations

import math

from .serve import check_members, idf_for, multifield_shard
from .tokenizer import tokenize_text


class MultiFieldSearch:
    """Weighted-sum search over ``{field_name: index}``, every index of
    one tier (Bm25Index or LocalSearcher).

    All field indexes must share n_shards (the shard co-location
    invariant) and k1/b (one scoring family). ``weights`` (default 1.0
    per field) must name fields of ``indexes`` and be finite."""

    def __init__(self, indexes: dict, weights: dict[str, float] | None = None):
        self.indexes = dict(sorted(indexes.items()))
        metas = [ix.meta for ix in self.indexes.values()]
        if not metas:
            raise ValueError("at least one field index is required")
        shards = {m["n_shards"] for m in metas}
        if len(shards) != 1:
            raise ValueError(
                f"field indexes disagree on n_shards ({sorted(shards)}) — "
                "doc→shard co-location requires one shared value"
            )
        self.k1, self.b = check_members(self.indexes.values())
        weights = weights or {}
        unknown = sorted(set(weights) - set(self.indexes))
        if unknown:
            raise ValueError(f"weights name no field: {unknown} (fields: {list(self.indexes)})")
        self.weights = {f: float(weights.get(f, 1.0)) for f in self.indexes}
        bad = {f: w for f, w in self.weights.items() if not math.isfinite(w)}
        if bad:
            raise ValueError(f"field weights must be finite, got {bad}")

    def topk(self, query: str, k: int = 10):
        """Top-k (doc_id, score) by the weighted sum of per-field BM25,
        ties by ascending doc_id — a DataFrame over Bm25Index fields, a
        list over LocalSearcher fields."""
        first = next(iter(self.indexes.values()))
        toks = sorted(set(tokenize_text(query)))
        members, params = [], []
        for f, ix in self.indexes.items():
            idf = idf_for(ix._df_for, toks, ix.meta["n_docs"])
            if idf:
                members.append((ix, idf))
                params.append((idf, float(ix.meta["avgdl"]), self.weights[f], ix.tombstones))
        if not members:
            return first._result()
        k1, b = self.k1, self.b

        def fields(parts):
            for part, p in zip(parts, params):
                if part is not None:
                    yield (*part, *p)

        return first._cut([first._scan_members(
            members, "tf", lambda parts: multifield_shard(fields(parts), k1, b, k),
        )], k)
