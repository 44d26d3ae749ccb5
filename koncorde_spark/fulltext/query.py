"""BM25 query PLANS over the sharded postings index (the Spark tier).

Plan shape (document-partitioned search, scales to any corpus size):

    postings scan, PushedFilters: term IN (query terms)   ← pruned scan
      → cogroup(shard) with the dlpack: the operator's per-shard body
      → global top-k: orderBy(score desc, doc_id asc) limit k  ← tiny

Per-shard scoring needs no cross-shard state (BM25 scores are doc-local
given global N/avgdl/df, which ride in as broadcast literals), so the
heavy stage parallelizes by shard with no shuffle of postings bytes beyond
the term-pruned scan itself.

``Bm25Index`` is the Spark tier of serve.SearchOperators, which writes
every top-k operator's plan and count once (topk, count, prefix, fuzzy,
boolean, phrase, highlight and the injected-idf per-shard top-k
federation cuts) and the vocabulary operators (_df_for, expand_prefix,
expand_fuzzy, suggest); multifield.MultiFieldSearch runs on the same
primitives. This module supplies only those primitives — the
vocabulary (``_vocab``: a driver-side serve.Vocabulary up to
TERMS_LOCAL_MAX terms, else ``SparkVocabulary``'s Catalyst scans of the
terms table), one scan over a list of members (``_scan_members``: the
union of their pruned scans of ``postings_columns``, member-tagged and
grouped by shard through ``_cogroup``, with the union of their dlpacks
unless the scan is "match"), the global sort-limit (``_cut`` /
``_top``), the count sum (``_total``) and a DataFrame of result rows
(``_result``) — plus the operators that exist on this tier alone:
matching_ids (one "match" ``_scan``), topk_filtered, collapse_topk,
topk_many and topk_rescored. Every per-shard body is owned by serve.py.
"""

from __future__ import annotations

import os
from functools import cached_property, reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codecs import delta_decode, delta_encode
from .indexer import _decode_dlpack_ctx, read_meta
from .serve import (
    SearchOperators,
    Vocabulary,
    idf_for,
    match_ids,
    postings_columns,
    query_idf,
    wand_topk,
)
from .tokenizer import tokenize_text
from .wand import score_union

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

# the output rows SearchOperators names, plus matching_ids' and topk_many's
# (Spark only)
_SCHEMAS = {
    "topk": TOPK_SCHEMA,
    "highlight": HIGHLIGHT_SCHEMA,
    "count": T.StructType([T.StructField("n", T.LongType())]),
    "ids": T.StructType([T.StructField("doc_id", T.LongType())]),
    "suggest": T.StructType([
        T.StructField("suggestion", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("distance", T.IntegerType()),
    ]),
    "topk_many": TOPK_MANY_SCHEMA,
}


def _cogroup(posts: DataFrame, packs: DataFrame | None, schema: T.StructType, body) -> DataFrame:
    """The one shard grouping of every search plan: ``body(rows, pack)``
    runs once per shard on that shard's postings rows and pack row(s) —
    ``pack`` None when ``packs`` is (a plain groupBy, no dlpack read) — and
    returns a tuple of columns in ``schema`` order, or None for no rows."""
    names = schema.names
    empty = {f.name: pd.Series(dtype=_PD_DTYPES[type(f.dataType)]) for f in schema.fields}

    def frame(out) -> pd.DataFrame:
        return pd.DataFrame(empty if out is None else dict(zip(names, out)))

    by_shard = posts.groupBy("shard")
    if packs is None:
        return by_shard.applyInPandas(lambda rows: frame(body(rows, None)), schema=schema)
    return by_shard.cogroup(packs.groupBy("shard")).applyInPandas(
        lambda rows, pack: frame(body(rows, pack) if len(rows) and len(pack) else None),
        schema=schema,
    )


def _by_member(frame: pd.DataFrame, n: int) -> list[pd.DataFrame]:
    """One shard's rows of a member-tagged scan, split per member ordinal."""
    return [frame] if n == 1 else [frame[frame["member"] == i] for i in range(n)]


def _top(frame: DataFrame, k: int) -> DataFrame:
    """Global sort-limit: (score DESC, doc_id ASC), first k rows."""
    return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


class SparkVocabulary:
    """serve.Vocabulary's df / prefix / fuzzy as Catalyst scans of a
    cached terms table — one small job each, for a vocabulary too large
    for the driver. The terms files are unsorted groupBy output, so no
    scan prunes a row group."""

    def __init__(self, terms: DataFrame):
        self.terms = terms

    def df(self, terms) -> dict[str, int]:
        rows = self.terms.where(F.col("term").isin(list(terms))).collect()
        found = {r["term"]: int(r["df"]) for r in rows}
        return {t: found[t] for t in terms if t in found}

    def prefix(self, prefix: str, cap: int) -> list[str]:
        rows = (
            self.terms.where(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(cap)
            .collect()
        )
        return [r["term"] for r in rows]

    def fuzzy(self, term: str, max_distance: int, cap: int) -> list[tuple[str, int, int]]:
        """The length band |len(t) - len(term)| <= d (a lower bound on
        edit distance) prunes before the JVM-side bounded
        ``levenshtein(l, r, threshold)``, which short-circuits rows past
        the budget."""
        lo, hi = len(term) - max_distance, len(term) + max_distance
        rows = (
            self.terms.where(F.length("term").between(lo, hi))
            .withColumn("distance", F.levenshtein(F.col("term"), F.lit(term), max_distance))
            # bounded levenshtein returns -1 past the threshold
            .where((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(cap)
            .select("term", "df", "distance")
            .collect()
        )
        return [tuple(r) for r in rows]


class Bm25Index(SearchOperators):
    """Handle to a built index directory: SearchOperators over Spark
    plans, answering with DataFrames."""

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

    @cached_property
    def _vocab(self) -> Vocabulary | SparkVocabulary:
        """SearchOperators' vocabulary, chosen on first use: the cached
        terms table pulled to the driver once as a serve.Vocabulary when
        it holds at most TERMS_LOCAL_MAX terms (no Spark job per lookup),
        else Catalyst scans of that table."""
        # n_terms is carried in meta.json by the index build; fall back
        # to one count() job for indexes built before it was recorded
        n_terms = self.meta.get("n_terms")
        if n_terms is None:
            n_terms = self.terms.count()
        if n_terms > self.TERMS_LOCAL_MAX:
            return SparkVocabulary(self.terms)
        return Vocabulary(self.terms.toArrow())

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

    def _postings(self, terms, kind: str) -> DataFrame:
        """The pruned postings scan of ``terms``: exactly the ``kind``
        columns of serve.postings_columns, so a positional index's ``pos``
        never ships to a non-positional operator."""
        return self.postings.where(F.col("term").isin(list(terms))).select(
            "shard", *postings_columns(kind)
        )

    def _scan_members(self, members, kind: str, body, out: str = "topk") -> DataFrame:
        """SearchOperators' scan: the union of the members' pruned postings
        scans, each row tagged with its member ordinal, cogrouped by shard
        with the union of their dlpacks — or, for a "match" scan, grouped
        by shard with no dlpack. Each member's pack decodes through the
        worker-side cache under that member's own lineage (_cache_ctx)."""
        n = len(members)
        posts = reduce(DataFrame.unionByName, [
            ix._postings(terms, kind).withColumn("member", F.lit(i))
            for i, (ix, terms) in enumerate(members)
        ])
        if kind == "match":
            return _cogroup(posts, None, _SCHEMAS[out], lambda rows, _: body(
                [(r, None) if len(r) else None for r in _by_member(rows, n)]
            ))
        packs = reduce(DataFrame.unionByName, [
            ix.dlpack.select("shard", "n", "doc_ids", "dls").withColumn("member", F.lit(i))
            for i, (ix, _) in enumerate(members)
        ])
        ctxs = [ix._cache_ctx for ix, _ in members]
        return _cogroup(posts, packs, _SCHEMAS[out], lambda rows, pack: body([
            (r, _decode_dlpack_ctx(p, ctx)) if len(r) and len(p) else None
            for r, p, ctx in zip(_by_member(rows, n), _by_member(pack, n), ctxs)
        ]))

    def _cut(self, parts: list[DataFrame], k: int) -> DataFrame:
        return _top(reduce(DataFrame.unionByName, parts), k)

    def _total(self, part: DataFrame) -> int:
        return int(part.agg(F.sum("n")).first()[0] or 0)

    def _result(self, out: str = "topk", rows=()) -> DataFrame:
        return self.spark.createDataFrame(list(rows), _SCHEMAS[out])

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
        out_schema = T.StructType(
            [
                T.StructField(group_col, groups.schema[group_col].dataType),
                T.StructField("doc_id", T.LongType()),
                T.StructField("score", T.DoubleType()),
            ]
        )
        idf_map = query_idf(query, "any", self._df_for, self.meta["n_docs"])
        if idf_map is None:
            return self.spark.createDataFrame([], out_schema)
        postings = self._scored(idf_map)
        scored = self._scan(
            idf_map, "tf",
            lambda rows, dl: score_union(
                [tp for segs in postings(rows, dl).values() for tp in segs]
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

    def matching_ids(self, query: str, mode: str = "any") -> DataFrame:
        """FILTER-context query: every live doc matching the query, as a
        DataFrame of internal doc_ids — no scoring, no top-k cut. The
        building block for field-sorted results (match, then join
        metadata and ORDER BY any column), boolean filters feeding other
        jobs, and set arithmetic between queries. Same per-shard
        vectorized union/intersection as count(), emitting the ids."""
        idf = query_idf(query, mode, self._df_for, self.meta["n_docs"])
        if idf is None:
            return self._result("ids")
        need, tomb = len(idf), self.tombstones
        return self._scan(idf, "match", lambda rows, _: (match_ids(rows, mode, need, tomb),), "ids")

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

        idf_map = query_idf(query, "any", self._df_for, self.meta["n_docs"])
        if idf_map is None:
            return self._result()

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
        postings, ctx = self._scored(idf_map), self._cache_ctx

        def body(rows: pd.DataFrame, pack_pdf: pd.DataFrame):
            prow = pack_pdf.iloc[0]
            allowed = delta_decode(bytes(prow["elig_ids"]), int(prow["elig_n"]))
            dl = _decode_dlpack_ctx(pack_pdf, ctx)
            return wand_topk(postings(rows, dl, allowed.astype(np.int64)), k)

        return _top(_cogroup(self._postings(idf_map, "tf"), packs, TOPK_SCHEMA, body), k)

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
        idf_map = idf_for(self._df_for, all_terms, self.meta["n_docs"])
        if not idf_map:
            return self._result("topk_many")
        q_terms = {
            qid: [t for t in ts if t in idf_map] for qid, ts in q_terms.items()
        }
        postings = self._scored(idf_map)

        def body(rows: pd.DataFrame, dl):
            by_term = postings(rows, dl)
            parts = []
            for qid, ts in q_terms.items():
                ids, scores = wand_topk({t: by_term[t] for t in ts if t in by_term}, k)
                if len(ids):
                    parts.append((np.full(len(ids), qid, dtype=object), ids, scores))
            return tuple(np.concatenate(c) for c in zip(*parts)) if parts else None

        per_shard = self._scan(idf_map, "tf", body, "topk_many")
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )
