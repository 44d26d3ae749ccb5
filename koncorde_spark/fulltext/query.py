"""BM25 top-k query execution over the sharded postings index.

Plan shape (document-partitioned search, scales to any corpus size):

    postings scan, PushedFilters: term IN (query terms)   ← pruned scan
      → groupBy(shard) applyInPandas(per-shard block-max WAND top-k)
      → global top-k: orderBy(score desc, doc_id asc) limit k  ← tiny

Per-shard WAND needs no cross-shard state (BM25 scores are doc-local given
global N/avgdl/df, which ride in as broadcast literals), so the heavy stage
parallelizes by shard with no shuffle of postings bytes beyond the
term-pruned scan itself.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codecs import delta_decode, delta_encode, varint_decode
from .indexer import _decode_dlpack_ctx, read_meta
from .phrase import decode_entry_positions, merge_term_segments, phrase_topk_shard
from .tokenizer import tokenize_text
from .wand import (
    TermPostings,
    bm25_idf,
    check_after_cursor,
    score_union,
    topk_block_max_wand,
    topk_conjunctive,
)

import re as _re

# the part before '*' in a prefix query must itself be a single canonical
# token (4-place tokenizer invariant: [a-z0-9_]+ on lowercased text)
_PREFIX_RE = _re.compile(r"[a-z0-9_]+")

HIGHLIGHT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("snip_start", T.LongType()),
        T.StructField("snip_hits", T.LongType()),
    ]
)

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

TOPK_MANY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
    ]
)

# per-shard packed eligible-doc sets for filtered search: one row per shard
# holding the sorted eligible doc ids delta+varint-encoded (same codec as
# the dlpack), produced by one narrow shuffle of (shard, doc_id) pairs
ELIG_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("elig_n", T.LongType()),
        T.StructField("elig_ids", T.BinaryType()),
    ]
)


def _bounded_levenshtein(a: str, b: str, max_d: int) -> int:
    """Exact Levenshtein distance when ≤ ``max_d``, else -1 (the same
    contract as Spark's bounded ``levenshtein(l, r, threshold)``): classic
    two-row DP with early abandon when a whole row exceeds the budget."""
    la, lb = len(a), len(b)
    if abs(la - lb) > max_d:
        return -1
    if la == 0:
        return lb if lb <= max_d else -1
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        ca = a[i - 1]
        cur = [i] + [0] * lb
        best = i
        for j in range(1, lb + 1):
            c = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (0 if ca == b[j - 1] else 1),
            )
            cur[j] = c
            if c < best:
                best = c
        if best > max_d:
            return -1
        prev = cur
    return prev[lb] if prev[lb] <= max_d else -1


def parse_expansion_query(query: str, marker: str, kind: str, expand) -> list[str]:
    """Sorted deduped term set for a query mixing literal tokens with
    trailing-``marker`` expansion terms — THE shared grammar of
    topk_prefix/topk_fuzzy on both tiers (one implementation so the two
    tiers can never drift on what they accept)."""
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


def _decode_shard_postings(
    post_pdf: pd.DataFrame,
    pack_pdf: pd.DataFrame,
    idf_map: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
    tombstones: np.ndarray | None = None,
    cache_ctx: tuple[str, dict[int, int]] | None = None,
    allowed: np.ndarray | None = None,
) -> dict[str, list[TermPostings]]:
    """Decode one shard's postings rows into per-term TermPostings LISTS.

    A (term, shard) pair may own SEVERAL segment rows — one per salt from
    a hot-term build, one per append generation — and BM25 scoring is
    additive per posting entry, so every segment enters WAND as its own
    posting list (collapsing them per term would silently drop all but
    one segment). Shared by topk() and topk_many(): the expensive part
    (varint/delta decode + tf normalization) happens once per segment,
    and every query in a batch reuses the decoded structures.

    ``tombstones`` (sorted doc_ids): deleted entries are dropped per
    segment and the segment's block metadata is REBUILT from the
    surviving per-entry scores — the stored block arrays are addressed by
    entry position, so filtering without rebuilding would misalign the
    WAND skip bounds. Rebuilt bounds are exact (no avgdl correction
    needed: they come from the current-avgdl scores).

    ``cache_ctx`` = (index_dir, {shard: dlpack lineage_xor}): enables the
    worker-global decoded-dlpack cache for this shard.

    ``allowed`` (sorted doc_ids): when present, ONLY these docs survive —
    the eligibility mask of a filtered search (topk_filtered). Composes
    with ``tombstones`` (allowed minus deleted); block metadata is rebuilt
    under the same position-addressing rule as the tombstone path."""
    dl_ids, dl_vals = _decode_dlpack_ctx(pack_pdf, cache_ctx)

    # canonical term order: a doc's float64 score is the sum of its
    # per-term contributions in CONCATENATION order, and post_pdf arrives
    # in shuffle-fetch order, which can differ between two Spark jobs
    # (e.g. page 1 vs page 2 of a search_after session). Sorting by term
    # makes the accumulation order job-independent, so boundary-score
    # equality in the cursor filter is exact. Within-term segment order
    # is per-doc irrelevant (segments of a term are doc-disjoint).
    post_pdf = post_pdf.sort_values("term", kind="mergesort")

    out: dict[str, list[TermPostings]] = {}
    for _, row in post_pdf.iterrows():
        n = int(row["df"])
        ids = delta_decode(bytes(row["doc_ids"]), n).astype(np.int64)
        tfs = varint_decode(bytes(row["tfs"]), n).astype(np.float64)
        dls = dl_vals[np.searchsorted(dl_ids, ids)]
        idf = idf_map[row["term"]]
        tfpart = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / avgdl))
        # block_max was computed with the segment's build-time avgdl; when
        # appends RAISE the corpus avgdl, true tf-parts can exceed it. The
        # sup of the ratio over all (tf, dl) is avgdl_now/avgdl_seg, so
        # scaling by max(1, that) keeps the bound valid and WAND exact.
        seg = row["avgdl_seg"] if "avgdl_seg" in row.index else None
        bound_scale = max(1.0, avgdl / float(seg)) if seg and seg > 0 else 1.0
        scores = idf * tfpart
        keep = None
        if tombstones is not None and len(tombstones):
            pos = np.searchsorted(tombstones, ids)
            alive = tombstones[np.minimum(pos, len(tombstones) - 1)] != ids
            if not alive.all():
                keep = alive
        if allowed is not None:
            if len(allowed) == 0:
                continue
            pos = np.searchsorted(allowed, ids)
            elig = allowed[np.minimum(pos, len(allowed) - 1)] == ids
            if not elig.all():
                keep = elig if keep is None else (keep & elig)
        if keep is not None:
            ids, scores = ids[keep], scores[keep]
            if len(ids) == 0:
                continue
            nb = (len(ids) + block_size - 1) // block_size
            starts = np.arange(nb) * block_size
            block_last = ids[np.minimum(starts + block_size - 1, len(ids) - 1)]
            block_ub = np.maximum.reduceat(scores, starts)
            out.setdefault(row["term"], []).append(
                TermPostings(ids, scores, block_last, block_ub, block_size)
            )
            continue
        out.setdefault(row["term"], []).append(
            TermPostings(
                doc_ids=ids,
                scores=scores,
                block_last=np.asarray(row["block_last"], dtype=np.int64),
                block_ub=idf * bound_scale * np.asarray(row["block_max"], dtype=np.float64),
                block_size=block_size,
            )
        )
    return out


class Bm25Index:
    """Handle to a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        # refuse mixed statistics (crash between terms swap + meta write)
        from .indexer import check_stats_consistency

        check_stats_consistency(index_dir, self.meta)
        # mergeSchema: defense-in-depth against mixed postings fragments
        # (append_index refuses to create them, but an index assembled by
        # hand must not silently drop avgdl_seg because an old fragment won
        # schema inference). Cheap here: one file per shard dir.
        self.postings = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(index_dir, "postings")
        )
        self.terms = spark.read.parquet(os.path.join(index_dir, "terms")).cache()
        self.docs = spark.read.parquet(os.path.join(index_dir, "docs"))
        # per-shard packed doc lengths: one row per shard, cached — avoids
        # reshuffling the docs table on every query
        self.dlpack = spark.read.parquet(os.path.join(index_dir, "dlpack")).cache()
        # term → df lookup, pulled to the driver once when the vocabulary
        # is small enough (a dict probe replaces one Spark job per query);
        # None = not yet decided, False = too large, stay distributed
        self._terms_local: dict | None | bool = None
        # deleted doc ids (sorted), shipped to executors inside the query
        # closures; empty for indexes without deletes
        from .indexer import _read_manifests, read_tombstones

        self.tombstones = read_tombstones(spark, index_dir)
        # per-shard dlpack lineage → worker-side decoded-pack cache keys
        # (an append swaps the dlpack and bumps the lineage, so warm
        # workers can never serve a stale pack)
        self._cache_ctx = (
            index_dir,
            {
                sh: int(m["lineage_xor"])
                for sh, m in _read_manifests(
                    index_dir, "dlpack", self.meta["config"]
                ).items()
            },
        )

    # vocabularies up to this size are cached driver-side (~tens of MB);
    # beyond it df lookups stay distributed (the 10^12-file regime)
    TERMS_LOCAL_MAX = 5_000_000

    def close(self) -> None:
        """Release this handle's executor-side caches (terms, dlpack).
        Call before discarding a handle — e.g. when re-opening after a
        compaction (reader-reopen contract) — or the stale handle's
        materialized caches stay pinned in executor storage."""
        for df in (self.terms, self.dlpack):
            try:
                df.unpersist()
            except Exception:  # session already stopped — nothing to free
                pass

    def _df_for(self, q_terms: list[str]) -> dict[str, int]:
        if self._terms_local is None:
            # n_terms is carried in meta.json by the index build; fall back
            # to one count() job for indexes built before it was recorded
            n_terms = self.meta.get("n_terms")
            if n_terms is None:
                n_terms = self.terms.count()
            if n_terms <= self.TERMS_LOCAL_MAX:
                pdf = self.terms.toPandas()
                self._terms_local = dict(
                    zip(pdf["term"].tolist(), pdf["df"].astype(int).tolist())
                )
            else:
                self._terms_local = False
        if self._terms_local is not False:
            tl = self._terms_local
            return {t: tl[t] for t in q_terms if t in tl}
        rows = self.terms.where(F.col("term").isin(q_terms)).collect()
        return {r["term"]: int(r["df"]) for r in rows}

    def _wand_columns(self) -> list[str]:
        """Postings columns the WAND decode actually reads — explicitly
        projected so a positions=True index never ships its dominant
        per-entry `pos` payload through the cogroup for queries that
        don't use positions (phrase/highlight select their own set)."""
        cols = ["term", "shard", "df", "doc_ids", "tfs", "block_last", "block_max"]
        if "avgdl_seg" in self.postings.columns:
            cols.append("avgdl_seg")
        return cols

    def topk(
        self, query: str, k: int = 10, mode: str = "any",
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Top-k (doc_id, score) for a free-text query, rank-deterministic.

        ``mode``: "any" (default) ranks docs containing any query term
        (disjunctive, block-max WAND); "all" restricts to docs containing
        EVERY query term (conjunctive, intersection-driven — cost bounded
        by the rarest term's postings). Scores are mode-independent: a doc
        in the "all" result carries exactly its "any" score.

        ``after``: optional (score, doc_id) search-after cursor — the last
        row of the previous page in this engine's (score desc, doc_id asc)
        total order. The result is exactly the next k ranks: each shard
        keeps a k-deep heap over docs strictly after the cursor, so page
        depth never grows the heap (Elasticsearch's search_after contract,
        not from+size). doc_id is the INTERNAL id returned by this method."""
        if mode not in ("any", "all"):
            raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
        q_terms = sorted(set(tokenize_text(query)))
        if not q_terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, block_size = meta["k1"], meta["b"], meta["block_size"]

        # global df per query term (driver-side dict probe for small
        # vocabularies; a tiny distributed lookup otherwise)
        dfs = self._df_for(q_terms)
        idf_map = {t: float(bm25_idf(n_docs, df)) for t, df in dfs.items()}
        if not idf_map or (mode == "all" and len(idf_map) < len(q_terms)):
            # conjunctive with a term absent from the global vocabulary can
            # match nothing — skip the job entirely
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        require = len(idf_map) if mode == "all" else None
        per_shard_topk = self._shard_topk_frame(idf_map, k, require, after)
        return per_shard_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _shard_topk_frame(
        self,
        idf_map: dict[str, float],
        k: int,
        require: int | None = None,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Per-shard top-k candidates (no global cut) with an INJECTED idf
        map — the building block topk() and federated search share. The
        caller owns the idf statistics: federation passes combined-corpus
        idf while this index's own corpus avgdl normalizes document
        length (avgdl_seg corrects the WAND bounds as usual). ``require``
        non-None switches to conjunctive semantics with that many
        required terms."""
        relevant = self.postings.where(F.col("term").isin(list(idf_map))).select(
            *self._wand_columns()
        )
        meta = self.meta
        k1_, b_, bs_, avgdl_ = meta["k1"], meta["b"], meta["block_size"], meta["avgdl"]
        idf_map_b = idf_map
        k_ = k
        tomb = self.tombstones
        cctx = self._cache_ctx
        require_ = require
        after_ = check_after_cursor(after) if after is not None else None

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            by_term = _decode_shard_postings(
                post_pdf, pack_pdf, idf_map_b, k1_, b_, avgdl_, bs_, tomb, cctx
            )
            if require_ is not None:
                ids, scores = topk_conjunctive(
                    by_term, k_, require=require_, after=after_
                )
            else:
                tps = [tp for segs in by_term.values() for tp in segs]
                ids, scores = topk_block_max_wand(tps, k_, after=after_)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        return (
            relevant.groupBy("shard")
            .cogroup(self.dlpack.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_SCHEMA)
        )

    def collapse_topk(
        self, query: str, groups: DataFrame, k: int = 10,
        group_col: str = "group",
    ) -> DataFrame:
        """Field collapsing: the best-scoring document PER GROUP, top-k
        groups by that best score (Elasticsearch `collapse` — e.g. one
        result per domain in web search).

        ``groups`` maps internal doc_id → ``group_col``. Every matching
        doc must be scored (the per-group winner can rank arbitrarily deep
        globally), so shards emit their full scored union — the honest
        collapse cost — then one doc_id-keyed join attaches groups and one
        hash-agg (max_by, map-side combinable) shrinks to a row per group
        before the tiny global top-k sort. Returns (group, doc_id, score)
        ordered by (score desc, doc_id asc)."""
        q_terms = sorted(set(tokenize_text(query)))
        out_schema = T.StructType(
            [
                T.StructField(group_col, groups.schema[group_col].dataType),
                T.StructField("doc_id", T.LongType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        dfs = self._df_for(q_terms)
        if not dfs:
            return self.spark.createDataFrame([], out_schema)
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, block_size = meta["k1"], meta["b"], meta["block_size"]
        idf_map = {t: float(bm25_idf(n_docs, df)) for t, df in dfs.items()}
        relevant = self.postings.where(F.col("term").isin(list(idf_map))).select(
            *self._wand_columns()
        )
        tomb, cctx = self.tombstones, self._cache_ctx

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            by_term = _decode_shard_postings(
                post_pdf, pack_pdf, idf_map, k1, b, avgdl, block_size, tomb, cctx
            )
            tps = [tp for segs in by_term.values() for tp in segs]
            ids, scores = score_union(tps)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        scored = (
            relevant.groupBy("shard")
            .cogroup(self.dlpack.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_SCHEMA)
        )
        best = (
            scored.join(groups.select("doc_id", group_col), "doc_id")
            .groupBy(group_col)
            .agg(
                F.max_by(
                    F.struct(F.col("score"), F.col("doc_id")),
                    # winner per group: score desc then doc_id asc
                    F.struct(F.col("score"), (-F.col("doc_id")).alias("nid")),
                ).alias("best")
            )
            .select(group_col, F.col("best.doc_id").alias("doc_id"),
                    F.col("best.score").alias("score"))
        )
        return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_rescored(
        self,
        query: str,
        boosts: DataFrame,
        k: int = 10,
        window: int = 100,
        weight: float = 1.0,
        boost_col: str = "boost",
    ) -> DataFrame:
        """Window-bounded rescoring (Elasticsearch `rescore` /
        function_score): take the top ``window`` docs by BM25, add
        ``weight *`` the per-doc signal from ``boosts`` (internal doc_id →
        ``boost_col``; docs absent from it boost 0), re-rank, return the
        top k. The expensive ranking stays WAND-pruned at window depth;
        the rescore pass touches only ``window`` rows — the standard way
        to mix a quality/recency/popularity signal into lexical rank
        without scoring the corpus against it."""
        if window < k:
            raise ValueError(f"window ({window}) must be >= k ({k})")
        base = self.topk(query, window)
        rescored = base.join(
            boosts.select("doc_id", boost_col), "doc_id", "left"
        ).select(
            "doc_id",
            (
                F.col("score")
                + F.lit(float(weight)) * F.coalesce(F.col(boost_col), F.lit(0.0))
            ).alias("score"),
        )
        return rescored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def suggest(
        self, term: str, max_distance: int = 2, k: int = 5,
    ) -> DataFrame:
        """Did-you-mean term suggester: vocabulary terms within
        ``max_distance`` Levenshtein edits of ``term``, ranked by
        (distance asc, df desc, term asc), top ``k``. The candidate scan
        is pruned by the length band |len(t) - len(term)| <= d (a lower
        bound on edit distance) before the expensive levenshtein, and the
        JVM-side bounded `levenshtein(l, r, threshold)` short-circuits
        rows past the budget — one pass over the terms table, no Python."""
        toks = tokenize_text(term)
        if len(toks) != 1:
            raise ValueError(f"suggest() takes one indexable token, got {term!r}")
        t = toks[0]
        lo, hi = len(t) - max_distance, len(t) + max_distance
        cand = self.terms.where(F.length("term").between(lo, hi)).withColumn(
            "distance", F.levenshtein(F.col("term"), F.lit(t), max_distance)
        )
        # bounded levenshtein returns -1 past the threshold
        return (
            cand.where((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
            .select(F.col("term").alias("suggestion"), "df", "distance")
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("suggestion"))
            .limit(k)
        )

    def count(self, query: str, mode: str = "any") -> int:
        """Number of live documents matching the query — "any": union of
        the terms' posting lists; "all": intersection — without scoring
        or a top-k cut (the searcher's totalHits). Tombstones excluded.
        One pruned postings scan; per-shard vectorized set arithmetic;
        counts sum across shards (doc-disjoint by construction)."""
        if mode not in ("any", "all"):
            raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
        toks = sorted(set(tokenize_text(query)))
        dfs = self._df_for(toks)
        present = [t for t in toks if t in dfs]
        if not present or (mode == "all" and len(present) < len(toks)):
            return 0
        need, tomb = len(present), self.tombstones
        mode_ = mode

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"n": pd.Series(dtype="int64")})
            per_term: dict[str, list[np.ndarray]] = {}
            for _, row in pdf.iterrows():
                per_term.setdefault(row["term"], []).append(
                    delta_decode(bytes(row["doc_ids"]), int(row["df"])).astype(np.int64)
                )
            sets = [
                np.sort(np.concatenate(v)) if len(v) > 1 else v[0]
                for v in per_term.values()
            ]
            if mode_ == "all":
                if len(per_term) < need:
                    return pd.DataFrame({"n": [0]})
                sets.sort(key=len)
                cand = sets[0]
                for ids in sets[1:]:
                    if len(cand) == 0:
                        break
                    at = np.searchsorted(ids, cand)
                    cand = cand[ids[np.minimum(at, len(ids) - 1)] == cand]
            else:
                cand = np.unique(np.concatenate(sets))
            if len(tomb) and len(cand):
                at = np.searchsorted(tomb, cand)
                cand = cand[tomb[np.minimum(at, len(tomb) - 1)] != cand]
            return pd.DataFrame({"n": [len(cand)]})

        relevant = self.postings.where(F.col("term").isin(present)).select(
            "term", "shard", "df", "doc_ids"
        )
        rows = (
            relevant.groupBy("shard")
            .applyInPandas(
                lambda _, pdf: per_shard(pdf),
                schema=T.StructType([T.StructField("n", T.LongType())]),
            )
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        return int(rows[0]["n"] or 0)

    def matching_ids(self, query: str, mode: str = "any") -> DataFrame:
        """FILTER-context query: every live doc matching the query, as a
        DataFrame of internal doc_ids — no scoring, no top-k cut. The
        building block for field-sorted results (match, then join
        metadata and ORDER BY any column), boolean filters feeding other
        jobs, and set arithmetic between queries. Same per-shard
        vectorized union/intersection as count(), emitting the ids."""
        if mode not in ("any", "all"):
            raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
        out_schema = T.StructType([T.StructField("doc_id", T.LongType())])
        toks = sorted(set(tokenize_text(query)))
        dfs = self._df_for(toks)
        present = [t for t in toks if t in dfs]
        if not present or (mode == "all" and len(present) < len(toks)):
            return self.spark.createDataFrame([], out_schema)
        need, tomb, mode_ = len(present), self.tombstones, mode

        def per_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
            per_term: dict[str, list[np.ndarray]] = {}
            for _, row in pdf.iterrows():
                per_term.setdefault(row["term"], []).append(
                    delta_decode(bytes(row["doc_ids"]), int(row["df"])).astype(np.int64)
                )
            sets = [
                np.sort(np.concatenate(v)) if len(v) > 1 else v[0]
                for v in per_term.values()
            ]
            if mode_ == "all":
                if len(per_term) < need:
                    return pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
                sets.sort(key=len)
                cand = sets[0]
                for ids in sets[1:]:
                    if len(cand) == 0:
                        break
                    at = np.searchsorted(ids, cand)
                    cand = cand[ids[np.minimum(at, len(ids) - 1)] == cand]
            else:
                cand = np.unique(np.concatenate(sets))
            if len(tomb) and len(cand):
                at = np.searchsorted(tomb, cand)
                cand = cand[tomb[np.minimum(at, len(tomb) - 1)] != cand]
            return pd.DataFrame({"doc_id": cand})

        relevant = self.postings.where(F.col("term").isin(present)).select(
            "term", "shard", "df", "doc_ids"
        )
        return relevant.groupBy("shard").applyInPandas(
            lambda _, pdf: per_shard(pdf), schema=out_schema
        )

    def _terms_local_dict(self) -> dict | None:
        """The driver-side {term: df} map when the vocabulary is small
        enough (populated lazily by _df_for), else None."""
        if self._terms_local is None:
            self._df_for([])  # decide + populate the cache policy
        return self._terms_local if self._terms_local is not False else None

    def expand_prefix(self, prefix: str, max_expansions: int = 50) -> list[str]:
        """Vocabulary terms starting with ``prefix``, highest-df first
        (ties by ascending term), capped at ``max_expansions``.

        When the vocabulary is driver-cached (_df_for's TERMS_LOCAL_MAX
        policy — the same dict every query's df lookup probes), the
        expansion is a dict scan with NO Spark job; large vocabularies
        fall back to one tiny job over the cached terms table (startswith
        compiles to a Catalyst StartsWith predicate with parquet
        row-group pruning on the term-sorted files). The (df DESC, term
        ASC) cap is the deterministic contract the SQL oracle reproduces
        verbatim — identical on both paths by construction."""
        tl = self._terms_local_dict()
        if tl is not None:
            hits = [(t, df) for t, df in tl.items() if t.startswith(prefix)]
            hits.sort(key=lambda x: (-x[1], x[0]))
            return [t for t, _ in hits[:max_expansions]]
        rows = (
            self.terms.where(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def topk_prefix(
        self, query: str, k: int = 10, max_expansions: int = 50, mode: str = "any"
    ) -> DataFrame:
        """Top-k for a query mixing literal terms and trailing-wildcard
        prefixes ("import ide*"): each prefix expands to its
        ``max_expansions`` highest-df vocabulary terms (Lucene
        MultiTermQuery discipline), and the union of literals + expansions
        is scored as a standard multi-term BM25 — each distinct term
        contributes its own idf, so results equal a plain topk over the
        expanded term list (by construction: this method delegates to it).
        """
        terms = parse_expansion_query(
            query, "*", "prefix",
            lambda b_: self.expand_prefix(b_, max_expansions),
        )
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(" ".join(terms), k, mode=mode)

    def expand_fuzzy(
        self, term: str, max_distance: int = 1, max_expansions: int = 50
    ) -> list[str]:
        """Vocabulary terms within ``max_distance`` edits of ``term``
        (Levenshtein), ordered closest-first then highest-df (ties by
        ascending term), capped at ``max_expansions`` — the Lucene
        FuzzyQuery rewrite contract. When the vocabulary is driver-cached
        (the _df_for dict), the length-banded scan + bounded edit-distance
        run in-process with NO Spark job; large vocabularies keep the one
        job over the cached terms table with a JVM-side levenshtein +
        length pre-filter (|len difference| > d can never match)."""
        tl = self._terms_local_dict()
        if tl is not None:
            lo, hi = len(term) - max_distance, len(term) + max_distance
            hits = []
            for t, df in tl.items():
                if not (lo <= len(t) <= hi):
                    continue
                d = _bounded_levenshtein(term, t, max_distance)
                if d >= 0:
                    hits.append((d, -df, t))
            hits.sort()
            return [t for _, _, t in hits[:max_expansions]]
        lit = F.lit(term)
        rows = (
            self.terms.where(
                (F.length("term") >= len(term) - max_distance)
                & (F.length("term") <= len(term) + max_distance)
            )
            .withColumn("__dist", F.levenshtein(F.col("term"), lit))
            .where(F.col("__dist") <= max_distance)
            .orderBy(F.asc("__dist"), F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def topk_fuzzy(
        self,
        query: str,
        k: int = 10,
        max_distance: int = 1,
        max_expansions: int = 50,
        mode: str = "any",
    ) -> DataFrame:
        """Top-k for a query mixing literal terms and trailing-~ fuzzy
        terms ("import ideny~"): each fuzzy term expands per
        expand_fuzzy and the union of literals + expansions is scored as
        a standard multi-term BM25 (delegates to topk — the same
        discipline as topk_prefix)."""
        terms = parse_expansion_query(
            query, "~", "fuzzy term",
            lambda b_: self.expand_fuzzy(b_, max_distance, max_expansions),
        )
        if not terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        return self.topk(" ".join(terms), k, mode=mode)

    def topk_filtered(self, query: str, filters: dict, k: int = 10) -> DataFrame:
        """BM25 top-k restricted to docs whose METADATA matches a koncorde
        filter — search-within-a-slice (repo / path / commit / lang /
        content_sha / dl are the filterable columns of the index's docs
        table; any registered keyword works, including geo/match/select).

        Semantics: corpus statistics (N, avgdl, per-term df → idf) stay
        GLOBAL — the filter restricts which docs may appear in the top-k,
        not how candidates are scored (the standard filtered-search
        contract: a doc's score is identical with and without the filter).
        The result is the EXACT top-k of the eligible subset, not a
        post-filtered cut of the unfiltered top-k: eligibility is applied
        entry-wise at postings decode and each surviving segment's block
        bounds are REBUILT, so block-max WAND skip logic stays admissible
        over the masked lists.

        Plan shape (scales like topk):
          docs metadata scan → zero-shuffle percolation mapInPandas
          (the SAME compiled-matcher kernel as spark/percolate — exact
          filter-semantics parity by construction; narrow columns only,
          content never read) → one (shard, doc_id) shuffle packed to a
          single delta+varint row per shard → inner-joined onto the
          dlpack cogroup side, so shards with ZERO eligible docs are
          pruned before any postings decode. Unselective filters cost one
          extra searchsorted per posting entry; selective filters shrink
          the WAND frontier and get FASTER than unfiltered topk.
        """
        from ..spark.percolate import percolate

        q_terms = sorted(set(tokenize_text(query)))
        if not q_terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, block_size = meta["k1"], meta["b"], meta["block_size"]
        dfs = self._df_for(q_terms)
        idf_map = {t: float(bm25_idf(n_docs, df)) for t, df in dfs.items()}
        if not idf_map:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        # eligibility: percolate the docs METADATA against the one filter
        # (shard rides through keep_cols — no join back to the docs table)
        from .. import Koncorde

        kon = Koncorde()
        kon.register(filters)
        elig = percolate(
            self.docs, kon.compiled(), id_col="doc_id", keep_cols=["shard"]
        ).select("shard", "doc_id")

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = np.unique(pdf["doc_id"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {
                    "shard": [int(pdf["shard"].iloc[0])],
                    "elig_n": [len(ids)],
                    "elig_ids": [delta_encode(ids)],
                }
            )

        packs = self.dlpack.join(
            elig.groupBy("shard").applyInPandas(pack, schema=ELIG_SCHEMA),
            "shard",
            "inner",
        )

        k1_, b_, bs_, avgdl_, k_ = k1, b, block_size, avgdl, k
        idf_map_b = idf_map
        tomb = self.tombstones
        cctx = self._cache_ctx

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                     "score": pd.Series(dtype="float64")})
            prow = pack_pdf.iloc[0]
            allowed = delta_decode(bytes(prow["elig_ids"]), int(prow["elig_n"]))
            by_term = _decode_shard_postings(
                post_pdf, pack_pdf, idf_map_b, k1_, b_, avgdl_, bs_, tomb, cctx,
                allowed=allowed.astype(np.int64),
            )
            tps = [tp for segs in by_term.values() for tp in segs]
            ids, scores = topk_block_max_wand(tps, k_)
            return pd.DataFrame({"doc_id": ids, "score": scores})

        relevant = self.postings.where(F.col("term").isin(list(idf_map))).select(
            *self._wand_columns()
        )
        per_shard_topk = (
            relevant.groupBy("shard")
            .cogroup(packs.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_SCHEMA)
        )
        return per_shard_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_phrase(self, phrase: str, k: int = 10, slop: int = 0) -> DataFrame:
        """Exact-phrase top-k over a POSITIONAL index (IndexConfig(
        positions=True)): docs containing the query token sequence at
        consecutive offsets, scored by the classic phrase-query recipe
        (the phrase as one pseudo-term: tf = phrase occurrences, idf =
        sum of member-term idfs — see phrase.py). ``slop > 0`` switches
        to ordered greedy-chain proximity (tokens in phrase order within
        ``len-1+slop`` offsets — phrase.proximity_freqs), same scoring
        with in-slop occurrence count as tf.

        Plan shape mirrors topk: postings pruned to the phrase's terms
        (parquet term pushdown), one cogroup with the dlpack per shard,
        vectorized adjacency chaining in the kernel, global sort-limit
        over ≤ shards·k rows. A phrase term absent from the global
        vocabulary short-circuits to empty without a job."""
        if not self.meta.get("positions"):
            raise RuntimeError(
                "phrase search requires a positional index — build with "
                "IndexConfig(positions=True)"
            )
        toks = tokenize_text(phrase)
        if not toks:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        uniq = sorted(set(toks))
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b = meta["k1"], meta["b"]
        dfs = self._df_for(uniq)
        if len(dfs) < len(uniq):
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        # repeated phrase tokens contribute one idf term per repetition
        idf_sum = float(sum(bm25_idf(n_docs, dfs[t]) for t in toks))

        toks_b, uniq_b, k_, slop_ = list(toks), set(uniq), k, slop
        k1_, b_, avgdl_, idf_sum_ = k1, b, avgdl, idf_sum
        tomb = self.tombstones
        cctx = self._cache_ctx

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                  "score": pd.Series(dtype="float64")})
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return empty
            by_term: dict[str, list] = {}
            for _, row in post_pdf.iterrows():
                by_term.setdefault(row["term"], []).append(
                    decode_entry_positions(
                        bytes(row["doc_ids"]), bytes(row["tfs"]),
                        bytes(row["pos"]), int(row["df"]),
                    )
                )
            if len(by_term) < len(uniq_b):
                return empty  # a phrase term missing from this shard
            dl_ids, dl_vals = _decode_dlpack_ctx(pack_pdf, cctx)
            merged = {t: merge_term_segments(v) for t, v in by_term.items()}
            ids, scores = phrase_topk_shard(
                [merged[t] for t in toks_b], idf_sum_, k1_, b_, avgdl_,
                dl_ids, dl_vals, k_, tomb, slop=slop_,
            )
            return pd.DataFrame({"doc_id": ids, "score": scores})

        relevant = self.postings.where(F.col("term").isin(uniq)).select(
            "term", "shard", "df", "doc_ids", "tfs", "pos"
        )
        per_shard_topk = (
            relevant.groupBy("shard")
            .cogroup(self.dlpack.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_SCHEMA)
        )
        return per_shard_topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_highlight(
        self, query: str, k: int = 10, window: int = 30
    ) -> DataFrame:
        """Top-k with snippet selection over a POSITIONAL index: (doc_id,
        score, snip_start, snip_hits) where ``[snip_start, snip_start +
        window)`` is the token-offset window holding the most query-term
        occurrences (ties → smallest start; see highlight.py). Scores are
        the standard multi-term BM25 sum — identical to ``topk`` (pinned
        by tests); terms absent from the vocabulary simply contribute
        nothing (unlike phrase, which requires all)."""
        from .highlight import highlight_topk_shard

        if not self.meta.get("positions"):
            raise RuntimeError(
                "highlighting requires a positional index — build with "
                "IndexConfig(positions=True)"
            )
        toks = sorted(set(tokenize_text(query)))
        dfs = self._df_for(toks)
        present = [t for t in toks if t in dfs]
        if not present:
            return self.spark.createDataFrame([], HIGHLIGHT_SCHEMA)
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b = meta["k1"], meta["b"]
        idf_by_term = {t: float(bm25_idf(n_docs, dfs[t])) for t in present}

        k_, window_ = k, window
        k1_, b_, avgdl_ = k1, b, avgdl
        tomb = self.tombstones
        cctx = self._cache_ctx

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "doc_id": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float64"),
                    "snip_start": pd.Series(dtype="int64"),
                    "snip_hits": pd.Series(dtype="int64"),
                }
            )
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return empty
            by_term: dict[str, list] = {}
            for _, row in post_pdf.iterrows():
                by_term.setdefault(row["term"], []).append(
                    decode_entry_positions(
                        bytes(row["doc_ids"]), bytes(row["tfs"]),
                        bytes(row["pos"]), int(row["df"]),
                    )
                )
            dl_ids, dl_vals = _decode_dlpack_ctx(pack_pdf, cctx)
            here = sorted(by_term)
            per_term = [merge_term_segments(by_term[t]) for t in here]
            ids, scores, starts, hits = highlight_topk_shard(
                per_term, [idf_by_term[t] for t in here], k1_, b_, avgdl_,
                dl_ids, dl_vals, k_, window_, tomb,
            )
            return pd.DataFrame(
                {"doc_id": ids, "score": scores,
                 "snip_start": starts, "snip_hits": hits}
            )

        relevant = self.postings.where(F.col("term").isin(present)).select(
            "term", "shard", "df", "doc_ids", "tfs", "pos"
        )
        per_shard = (
            relevant.groupBy("shard")
            .cogroup(self.dlpack.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=HIGHLIGHT_SCHEMA)
        )
        return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_boolean(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        boosts: dict[str, float] | None = None,
        k: int = 10,
    ) -> DataFrame:
        """Structured boolean top-k (Lucene BooleanQuery semantics):
        eligible docs contain EVERY must term and NO must_not term; the
        score is the boost-scaled BM25 sum over must ∪ should terms
        (must_not never contributes). Clause entries are tokenized, so
        multi-word strings flatten into their terms; ``boosts`` keys are
        canonical tokens. One pruned postings scan over all three term
        sets, per-shard exact evaluation (highlight.boolean_topk_shard),
        global sort-limit."""
        must_t = sorted({t for s in (must or []) for t in tokenize_text(s)})
        should_t = sorted({t for s in (should or []) for t in tokenize_text(s)})
        not_t = sorted({t for s in (must_not or []) for t in tokenize_text(s)})
        score_t = sorted(set(must_t) | set(should_t))
        if not score_t:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        dfs = self._df_for(sorted(set(score_t) | set(not_t)))
        if any(t not in dfs for t in must_t):
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        score_present = [t for t in score_t if t in dfs]
        if not score_present:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b = meta["k1"], meta["b"]
        boosts_ = {t: float((boosts or {}).get(t, 1.0)) for t in score_present}
        idf_by_term = {
            t: boosts_[t] * float(bm25_idf(n_docs, dfs[t])) for t in score_present
        }
        scan_terms = sorted(set(score_present) | {t for t in not_t if t in dfs})

        must_b, score_b, not_b = list(must_t), list(score_present), list(not_t)
        k_, k1_, b_, avgdl_ = k, k1, b, avgdl
        tomb = self.tombstones
        cctx = self._cache_ctx

        from .highlight import boolean_topk_shard
        from .phrase import TermOccurrences as _TO

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                  "score": pd.Series(dtype="float64")})
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return empty
            by_term: dict[str, list] = {}
            for _, row in post_pdf.iterrows():
                n = int(row["df"])
                ids = delta_decode(bytes(row["doc_ids"]), n).astype(np.int64)
                tfs = varint_decode(bytes(row["tfs"]), n).astype(np.int64)
                occ_off = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
                by_term.setdefault(row["term"], []).append(
                    _TO(ids, occ_off, np.empty(0, dtype=np.int64))
                )
            if any(t not in by_term for t in must_b):
                return empty  # a required term absent from this shard
            dl_ids, dl_vals = _decode_dlpack_ctx(pack_pdf, cctx)
            score_terms, score_idfs = [], []
            for t in score_b:
                for seg in by_term.get(t, []):
                    score_terms.append(seg)
                    score_idfs.append(idf_by_term[t])
            ids, scores = boolean_topk_shard(
                [by_term[t] for t in must_b],
                score_terms, score_idfs,
                [seg for t in not_b for seg in by_term.get(t, [])],
                k1_, b_, avgdl_, dl_ids, dl_vals, k_, tomb,
            )
            return pd.DataFrame({"doc_id": ids, "score": scores})

        relevant = self.postings.where(F.col("term").isin(scan_terms)).select(
            "term", "shard", "df", "doc_ids", "tfs"
        )
        per_shard = (
            relevant.groupBy("shard")
            .cogroup(self.dlpack.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_SCHEMA)
        )
        return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def topk_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Top-k per query for a BATCH of queries in ONE Spark job.

        One postings scan covers the union of every query's terms
        (`PushedFilters: In(term, …)`), each (term, shard) posting list is
        decoded once, and every query reuses the decoded structures inside
        the same per-shard cogroup — the right shape when a search tier
        evaluates query batches against a 10^12-file index (per-query jobs
        would re-scan and re-decode shared hot terms per query).

        Returns (query_id, doc_id, score): k rows per query, rank- and
        score-identical to per-query ``topk`` (verified by tests).
        Queries with no indexed terms simply yield no rows.
        """
        from pyspark.sql import Window

        q_terms = {
            qid: sorted(set(tokenize_text(q))) for qid, q in queries.items()
        }
        all_terms = sorted({t for ts in q_terms.values() for t in ts})
        if not all_terms:
            return self.spark.createDataFrame([], TOPK_MANY_SCHEMA)

        meta = self.meta
        n_docs, avgdl = meta["n_docs"], meta["avgdl"]
        k1, b, block_size = meta["k1"], meta["b"], meta["block_size"]
        dfs = self._df_for(all_terms)
        idf_map = {t: float(bm25_idf(n_docs, df)) for t, df in dfs.items()}
        if not idf_map:
            return self.spark.createDataFrame([], TOPK_MANY_SCHEMA)
        q_terms = {
            qid: [t for t in ts if t in idf_map] for qid, ts in q_terms.items()
        }

        relevant = self.postings.where(F.col("term").isin(list(idf_map))).select(
            *self._wand_columns()
        )
        k1_, b_, bs_, avgdl_, k_ = k1, b, block_size, avgdl, k
        idf_map_b, q_terms_b = idf_map, q_terms
        tomb = self.tombstones
        cctx = self._cache_ctx

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="object"),
                    "doc_id": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float64"),
                }
            )
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return empty
            by_term = _decode_shard_postings(
                post_pdf, pack_pdf, idf_map_b, k1_, b_, avgdl_, bs_, tomb, cctx
            )
            frames = []
            for qid, ts in q_terms_b.items():
                tps = [tp for t in ts if t in by_term for tp in by_term[t]]
                if not tps:
                    continue
                ids, scores = topk_block_max_wand(tps, k_)
                if len(ids):
                    frames.append(
                        pd.DataFrame({"query_id": qid, "doc_id": ids, "score": scores})
                    )
            return pd.concat(frames, ignore_index=True) if frames else empty

        per_shard = (
            relevant.groupBy("shard")
            .cogroup(self.dlpack.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_MANY_SCHEMA)
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
