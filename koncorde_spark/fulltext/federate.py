"""Federated search over multiple BM25 indexes with combined statistics.

The web-scale deployment shape: a corpus partitioned into many indexes
(by time window, tenant, or shard group) searched as ONE logical index.
Naive federation scores each index with its LOCAL idf and merges — ranks
then depend on where a doc landed. This module instead combines the
global statistics first (N = Σ n_docs, df(t) = Σ df_i(t)) and pushes the
combined idf into every index's per-shard top-k kernel, so a document
scores identically wherever it lives. Document-length normalization
stays per-index (each member's own corpus avgdl — the same statistic its
segments score with when queried alone). This is Elasticsearch's
cross-index shape under dfs_query_then_fetch: global term statistics,
per-index dl statistics.

Scale shape: per member index the work is the standard pruned postings
scan + per-shard k-deep top-k (one cogroup each, no cross-index shuffle);
the union of per-shard candidates is tiny (shards × k rows) before the
single global sort-limit. Statistics combination reads only the terms
tables' rows for the query terms.

Assumes member indexes hold DISJOINT document sets (internal doc ids are
content-address-derived, so a doc indexed twice would collide — the
caller owns partitioning, as with time-partitioned indices).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query import TOPK_SCHEMA, Bm25Index
from .tokenizer import tokenize_text
from .wand import bm25_idf


def combined_stats(members, q_terms: list[str]) -> tuple[int, dict[str, int]]:
    """(total docs, per-term summed document frequency) across members.
    A member is anything with ``.meta['n_docs']`` and ``._df_for(terms)``
    — Bm25Index and LocalSearcher both qualify, so the two federation
    tiers share this one statistics rule."""
    n_docs = sum(int(m.meta["n_docs"]) for m in members)
    dfs: dict[str, int] = {}
    for m in members:
        for t, d in m._df_for(q_terms).items():
            dfs[t] = dfs.get(t, 0) + int(d)
    return n_docs, dfs


def federated_topk(
    indexes: list[Bm25Index],
    query: str,
    k: int = 10,
    mode: str = "any",
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Global top-k over all member indexes under combined statistics.
    Same contract as Bm25Index.topk (modes, search_after cursor, ties by
    ascending internal doc_id)."""
    if not indexes:
        raise ValueError("federated_topk needs at least one index")
    if mode not in ("any", "all"):
        raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
    k1b = {(float(ix.meta["k1"]), float(ix.meta["b"])) for ix in indexes}
    if len(k1b) != 1:
        raise ValueError(f"member indexes disagree on BM25 constants: {k1b}")
    spark = indexes[0].spark
    q_terms = sorted(set(tokenize_text(query)))
    if not q_terms:
        return spark.createDataFrame([], TOPK_SCHEMA)
    n_docs, dfs = combined_stats(indexes, q_terms)
    idf_map = {t: float(bm25_idf(n_docs, df)) for t, df in dfs.items()}
    if not idf_map or (mode == "all" and len(idf_map) < len(q_terms)):
        return spark.createDataFrame([], TOPK_SCHEMA)
    require = len(idf_map) if mode == "all" else None
    parts = [
        ix._shard_topk_frame(idf_map, k, require, after) for ix in indexes
    ]
    union = reduce(DataFrame.unionByName, parts)
    return union.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def federated_count(indexes: list, query: str, mode: str = "any") -> int:
    """totalHits across member indexes: members hold disjoint docs, so
    counts add — one count job per member, no data movement."""
    if not indexes:
        raise ValueError("federated_count needs at least one index")
    return sum(int(ix.count(query, mode=mode)) for ix in indexes)


class LocalFederatedSearcher:
    """Spark-free serving-tier federation: the same combined-statistics
    rule over LocalSearcher members, rank-identical to federated_topk
    (shared top-k kernels, shared idf arithmetic). Members load once;
    per-query cost is one in-memory postings lookup per member."""

    def __init__(self, index_dirs: list[str]):
        from .serve import LocalSearcher

        if not index_dirs:
            raise ValueError("LocalFederatedSearcher needs at least one index")
        self.members = [LocalSearcher(d) for d in index_dirs]

    def _check_constants(self) -> None:
        # deferred to scoring calls: count() is scoring-free and must be
        # reachable on mixed-constant members, matching the Spark tier
        # (federated_count does no constants check either)
        k1b = {
            (float(m.meta["k1"]), float(m.meta["b"])) for m in self.members
        }
        if len(k1b) != 1:
            raise ValueError(
                f"member indexes disagree on BM25 constants: {k1b}"
            )

    def topk(
        self,
        query: str,
        k: int = 10,
        mode: str = "any",
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        if mode not in ("any", "all"):
            raise ValueError(f"mode must be 'any' or 'all', got {mode!r}")
        self._check_constants()
        q_terms = sorted(set(tokenize_text(query)))
        if not q_terms:
            return []
        n_docs, dfs = combined_stats(self.members, q_terms)
        if not dfs or (mode == "all" and len(dfs) < len(q_terms)):
            return []
        idf_map = {t: float(bm25_idf(n_docs, df)) for t, df in dfs.items()}
        rows: list[tuple[int, float]] = []
        for m in self.members:
            rows.extend(m._topk_with_idf(idf_map, k, mode, after))
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:k]

    def count(self, query: str, mode: str = "any") -> int:
        """totalHits across members (disjoint doc sets — counts add)."""
        return sum(int(m.count(query, mode=mode)) for m in self.members)


def bm25_federated_sql(
    table: str,
    query_terms: list[str],
    member_of: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    tie_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`federated_topk`: ``member_of`` is a SQL
    expression over the source table assigning each doc to its member
    index. idf uses GLOBAL (n, df); the tf part normalizes dl by the
    MEMBER's avgdl — the per-index statistics rule above."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    tie = "__tie" if tie_sql else id_col
    tie_proj = f", {tie_sql} AS __tie" if tie_sql else ""
    tie_carry = ", __tie" if tie_sql else ""
    tie_group = ", d3.__tie" if tie_sql else ""
    order_score = "scored.score" if tie_sql else "score"
    return f"""
    WITH d2 AS (
      SELECT {id_col}, {member_of} AS member{tie_proj},
             list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9_]+'),
                         t -> t <> '') AS toks
      FROM {table}
    ), d3 AS (SELECT {id_col}, member{tie_carry}, toks, len(toks) AS dl FROM d2),
    gstats AS (SELECT count(*) AS n FROM d3),
    mstats AS (SELECT member, avg(dl) AS avgdl FROM d3 GROUP BY member),
    tf AS (
      SELECT {id_col}, term, count(*) AS tf
      FROM (SELECT {id_col}, unnest(toks) AS term FROM d3)
      WHERE term IN ({terms})
      GROUP BY {id_col}, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.{id_col}{tie_group},
             sum(ln(1 + (gstats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                 * tf.tf * ({k1} + 1.0)
                 / (tf.tf + {k1} * (1.0 - {b} + {b} * d3.dl / mstats.avgdl))) AS score
      FROM tf JOIN dfreq USING(term) JOIN d3 USING({id_col})
      JOIN mstats ON mstats.member = d3.member CROSS JOIN gstats
      GROUP BY tf.{id_col}{tie_group}
    )
    SELECT {id_col}, round(score, 6)::DOUBLE AS score
    FROM scored
    ORDER BY {order_score} DESC, {tie} ASC
    LIMIT {k}
    """
