"""BM25 query PLANS over the sharded postings index (the Spark tier).

Plan shape (document-partitioned search, scales to any corpus size):

    postings scan, PushedFilters: term IN (query terms)   ← pruned scan
      → cogroup(shard) with the dlpack: the operator's per-shard body
      → global top-k: orderBy(score desc, doc_id asc) limit k  ← tiny

Per-shard scoring needs no cross-shard state (BM25 scores are doc-local
given global N/avgdl/df, which ride in as broadcast literals), so the
heavy stage parallelizes by shard with no shuffle of postings bytes beyond
the term-pruned scan itself.

This module only builds plans: which terms and ``postings_columns`` to
scan, the one shard cogroup (``_cogroup`` / ``Bm25Index._per_shard``) and
the global cut. Every per-shard body — segment decode, top-k, count set
arithmetic, boolean, phrase, highlight — is owned by serve.py and shared
with the Spark-free serve tier.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codecs import delta_decode, delta_encode
from .indexer import _decode_dlpack_ctx, read_meta
from .serve import (
    boolean_plan,
    boolean_shard,
    highlight_shard,
    idf_for,
    match_ids,
    match_terms,
    phrase_plan,
    phrase_shard,
    postings_columns,
    require_positions,
    shard_postings,
    vocab_fuzzy,
    vocab_prefix,
    wand_topk,
)
from .tokenizer import tokenize_text
from .wand import check_after_cursor, score_union

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

_PD_DTYPES = {T.LongType: "int64", T.DoubleType: "float64", T.StringType: "object"}


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


def _cogroup(posts: DataFrame, packs: DataFrame, schema: T.StructType, body) -> DataFrame:
    """The one shard cogroup of every search plan: ``body(rows, pack)``
    runs once per shard on that shard's postings rows and pack row(s), and
    returns a tuple of columns in ``schema`` order, or None for no rows."""
    names = schema.names
    empty = {f.name: pd.Series(dtype=_PD_DTYPES[type(f.dataType)]) for f in schema.fields}

    def cogrouped(rows: pd.DataFrame, pack: pd.DataFrame) -> pd.DataFrame:
        out = body(rows, pack) if len(rows) and len(pack) else None
        return pd.DataFrame(empty if out is None else dict(zip(names, out)))

    return (
        posts.groupBy("shard")
        .cogroup(packs.groupBy("shard"))
        .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=schema)
    )


def _top(frame: DataFrame, k: int) -> DataFrame:
    """Global sort-limit: (score DESC, doc_id ASC), first k rows."""
    return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


class Bm25Index:
    """Handle to a built index directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        # refuse mixed statistics (crash between terms swap + meta write)
        from .indexer import check_stats_consistency

        check_stats_consistency(index_dir, self.meta)
        self.postings = spark.read.parquet(os.path.join(index_dir, "postings"))
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


    def _per_shard(
        self, terms, kind: str, schema: T.StructType, body, packs: DataFrame | None = None,
    ) -> DataFrame:
        """One pruned postings scan over ``terms`` — exactly the ``kind``
        columns of serve.postings_columns, so a positional index's ``pos``
        never ships to a non-positional operator — cogrouped by shard with
        the dlpack (or ``packs``); see _cogroup."""
        posts = self.postings.where(F.col("term").isin(list(terms))).select(
            "shard", *postings_columns(kind)
        )
        return _cogroup(posts, self.dlpack if packs is None else packs, schema, body)

    def _decoder(self, idf_map: dict[str, float]):
        """serve.shard_postings over a shard's (rows, pack), bound to this
        handle's statistics, tombstones and worker-cached dlpack decode
        (``allowed``: sorted eligible doc_ids of a filtered search) — a
        closure that ships to executors without the handle."""
        m, ctx = self.meta, self._cache_ctx
        k1, b, avgdl, tomb = m["k1"], m["b"], m["avgdl"], self.tombstones

        def decode(rows: pd.DataFrame, pack: pd.DataFrame, allowed=None):
            return shard_postings(
                rows, _decode_dlpack_ctx(pack, ctx), idf_map, k1, b, avgdl, tomb, allowed
            )

        return decode

    def topk(
        self, query: str, k: int = 10, mode: str = "any",
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
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
        if mode not in ("any", "all"):
            raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
        q_terms = sorted(set(tokenize_text(query)))
        if not q_terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        # global df per query term (driver-side dict probe for small
        # vocabularies; a tiny distributed lookup otherwise)
        idf_map = idf_for(self._df_for, q_terms, self.meta["n_docs"])
        if not idf_map or (mode == "all" and len(idf_map) < len(q_terms)):
            # conjunctive with a term absent from the global vocabulary can
            # match nothing — skip the job entirely
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        require = len(idf_map) if mode == "all" else None
        return _top(self._shard_topk_frame(idf_map, k, require, after), k)

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
        length. ``require`` non-None switches to conjunctive semantics
        with that many required terms."""
        decode = self._decoder(idf_map)
        after_ = check_after_cursor(after) if after is not None else None
        return self._per_shard(
            idf_map, "tf", TOPK_SCHEMA,
            lambda rows, pack: wand_topk(decode(rows, pack), k, require, after_),
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
        idf_map = idf_for(self._df_for, q_terms, self.meta["n_docs"])
        if not idf_map:
            return self.spark.createDataFrame([], out_schema)
        decode = self._decoder(idf_map)
        scored = self._per_shard(
            idf_map, "tf", TOPK_SCHEMA,
            lambda rows, pack: score_union(
                [tp for segs in decode(rows, pack).values() for tp in segs]
            ),
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
        return _top(best, k)

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
        top k. The expensive ranking is cut per shard at window depth;
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
        return _top(rescored, k)

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

    def _match_frame(self, present: list[str], mode: str, schema: T.StructType, emit) -> DataFrame:
        """serve.match_ids per shard over the ``present`` terms (one pruned
        "match" scan, no dlpack), each shard's ids emitted as the
        ``emit(ids)`` columns of ``schema``."""
        need, tomb, names = len(present), self.tombstones, schema.names
        posts = self.postings.where(F.col("term").isin(present)).select(
            "shard", *postings_columns("match")
        )
        return posts.groupBy("shard").applyInPandas(
            lambda _, pdf: pd.DataFrame(
                dict(zip(names, emit(match_ids(pdf, mode, need, tomb))))
            ),
            schema=schema,
        )

    def count(self, query: str, mode: str = "any") -> int:
        """Number of live documents matching the query — "any": union of
        the terms' posting lists; "all": intersection — without scoring
        or a top-k cut (the searcher's totalHits). Tombstones excluded.
        One pruned postings scan; per-shard vectorized set arithmetic;
        counts sum across shards (doc-disjoint by construction)."""
        present = match_terms(query, mode, self._df_for)
        if present is None:
            return 0
        schema = T.StructType([T.StructField("n", T.LongType())])
        rows = (
            self._match_frame(present, mode, schema, lambda ids: ([len(ids)],))
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
        out_schema = T.StructType([T.StructField("doc_id", T.LongType())])
        present = match_terms(query, mode, self._df_for)
        if present is None:
            return self.spark.createDataFrame([], out_schema)
        return self._match_frame(present, mode, out_schema, lambda ids: (ids,))

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
        expansion is serve.vocab_prefix with NO Spark job; large
        vocabularies fall back to one tiny job over the cached terms table
        (a Catalyst StartsWith filter over every terms row: the terms files
        are unsorted groupBy output, so no row group is pruned). The (df DESC,
        term ASC) cap is the deterministic contract the SQL oracle
        reproduces verbatim — identical on both paths by construction."""
        tl = self._terms_local_dict()
        if tl is not None:
            return vocab_prefix(tl, prefix, max_expansions)
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
        (the _df_for dict), serve.vocab_fuzzy runs in-process with NO
        Spark job; large vocabularies keep the one job over the cached
        terms table with a JVM-side levenshtein + length pre-filter
        (|len difference| > d can never match)."""
        tl = self._terms_local_dict()
        if tl is not None:
            return [t for _, _, t in vocab_fuzzy(tl, term, max_distance)[:max_expansions]]
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
        entry-wise at postings decode, before any scoring.

        Plan shape (scales like topk):
          docs metadata scan → zero-shuffle percolation mapInPandas
          (the SAME compiled-matcher kernel as spark/percolate — exact
          filter-semantics parity by construction; narrow columns only,
          content never read) → one (shard, doc_id) shuffle packed to a
          single delta+varint row per shard → inner-joined onto the
          dlpack cogroup side, so shards with ZERO eligible docs are
          pruned before any postings decode. Unselective filters cost one
          extra searchsorted per posting entry; selective filters shrink
          the scored union and get FASTER than unfiltered topk.
        """
        from .. import Koncorde
        from ..spark.percolate import percolate

        q_terms = sorted(set(tokenize_text(query)))
        if not q_terms:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        idf_map = idf_for(self._df_for, q_terms, self.meta["n_docs"])
        if not idf_map:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        # eligibility: percolate the docs METADATA against the one filter
        # (shard rides through keep_cols — no join back to the docs table)
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
        decode = self._decoder(idf_map)

        def body(rows: pd.DataFrame, pack_pdf: pd.DataFrame):
            prow = pack_pdf.iloc[0]
            allowed = delta_decode(bytes(prow["elig_ids"]), int(prow["elig_n"]))
            return wand_topk(decode(rows, pack_pdf, allowed=allowed.astype(np.int64)), k)

        return _top(self._per_shard(idf_map, "tf", TOPK_SCHEMA, body, packs), k)

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
        (parquet term pushdown), one cogroup with the dlpack per shard
        (serve.phrase_shard), global sort-limit over ≤ shards·k rows. A
        phrase term absent from the global vocabulary short-circuits to
        empty without a job."""
        require_positions(self.meta, "phrase search")
        m = self.meta
        plan = phrase_plan(phrase, self._df_for, m["n_docs"])
        if plan is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        toks, uniq, idf_sum = plan
        k1, b, avgdl, tomb = m["k1"], m["b"], m["avgdl"], self.tombstones
        dl = partial(_decode_dlpack_ctx, cache_ctx=self._cache_ctx)
        return _top(self._per_shard(
            uniq, "pos", TOPK_SCHEMA,
            lambda rows, pack: phrase_shard(
                rows, dl(pack), toks, idf_sum, k1, b, avgdl, k, tomb, slop
            ),
        ), k)

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
        require_positions(self.meta, "highlighting")
        m = self.meta
        idf = idf_for(self._df_for, sorted(set(tokenize_text(query))), m["n_docs"])
        if not idf:
            return self.spark.createDataFrame([], HIGHLIGHT_SCHEMA)
        k1, b, avgdl, tomb = m["k1"], m["b"], m["avgdl"], self.tombstones
        dl = partial(_decode_dlpack_ctx, cache_ctx=self._cache_ctx)
        return _top(self._per_shard(
            idf, "pos", HIGHLIGHT_SCHEMA,
            lambda rows, pack: highlight_shard(
                rows, dl(pack), idf, k1, b, avgdl, k, window, tomb
            ),
        ), k)

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
        sets, per-shard exact evaluation (serve.boolean_shard), global
        sort-limit."""
        m = self.meta
        plan = boolean_plan(must, should, must_not, boosts, self._df_for, m["n_docs"])
        if plan is None:
            return self.spark.createDataFrame([], TOPK_SCHEMA)
        must_t, idf, not_t, scan = plan
        k1, b, avgdl, tomb = m["k1"], m["b"], m["avgdl"], self.tombstones
        dl = partial(_decode_dlpack_ctx, cache_ctx=self._cache_ctx)
        return _top(self._per_shard(
            scan, "tf", TOPK_SCHEMA,
            lambda rows, pack: boolean_shard(
                rows, dl(pack), must_t, idf, not_t, k1, b, avgdl, k, tomb
            ),
        ), k)

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
        idf_map = idf_for(self._df_for, all_terms, self.meta["n_docs"])
        if not idf_map:
            return self.spark.createDataFrame([], TOPK_MANY_SCHEMA)
        q_terms = {
            qid: [t for t in ts if t in idf_map] for qid, ts in q_terms.items()
        }
        decode = self._decoder(idf_map)

        def body(rows: pd.DataFrame, pack: pd.DataFrame):
            by_term = decode(rows, pack)
            parts = []
            for qid, ts in q_terms.items():
                ids, scores = wand_topk({t: by_term[t] for t in ts if t in by_term}, k)
                if len(ids):
                    parts.append((np.full(len(ids), qid, dtype=object), ids, scores))
            return tuple(np.concatenate(c) for c in zip(*parts)) if parts else None

        per_shard = self._per_shard(idf_map, "tf", TOPK_MANY_SCHEMA, body)
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
