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

One plan serves both tiers: ``federated_topk`` checks the mode and that
the members are of one tier and agree on (k1, b) (serve.check_members),
combines the statistics, asks each member
for its injected-idf per-shard top-k (serve.SearchOperators._shard_topk)
and makes one cut across all of them with the members' own ``_cut`` —
a DataFrame over Bm25Index members, a list over LocalSearcher members
(``LocalFederatedSearcher``). Counting needs no (k1, b) agreement.

Assumes member indexes hold DISJOINT document sets (internal doc ids are
content-address-derived, so a doc indexed twice would collide — the
caller owns partitioning, as with time-partitioned indices).
"""

from __future__ import annotations

from .serve import check_members, check_mode, query_idf


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
    indexes: list,
    query: str,
    k: int = 10,
    mode: str = "any",
    after: tuple[float, int] | None = None,
):
    """Global top-k over all member indexes under combined statistics.
    Same contract as topk (modes, search_after cursor, ties by ascending
    internal doc_id). Members are Bm25Index (a DataFrame comes back) or
    LocalSearcher handles (a list of (doc_id, score)), never a mix: each
    member's injected-idf per-shard top-k, one cut across all of them."""
    if not indexes:
        raise ValueError("federated_topk needs at least one index")
    check_members(indexes)
    check_mode(mode)
    n_docs = sum(int(ix.meta["n_docs"]) for ix in indexes)
    idf = query_idf(query, mode, lambda ts: combined_stats(indexes, ts)[1], n_docs)
    if idf is None:
        return indexes[0]._result()
    return indexes[0]._cut([ix._shard_topk(idf, k, mode, after) for ix in indexes], k)


def federated_count(indexes: list, query: str, mode: str = "any") -> int:
    """totalHits across member indexes: members hold disjoint docs, so
    counts add — one count per member, no data movement, no (k1, b)
    agreement needed (count does not score)."""
    if not indexes:
        raise ValueError("federated_count needs at least one index")
    return sum(int(ix.count(query, mode=mode)) for ix in indexes)


class LocalFederatedSearcher:
    """Spark-free serving-tier federation: federated_topk / federated_count
    over LocalSearcher members. Members load once; per-query cost is one
    in-memory postings lookup per member."""

    def __init__(self, index_dirs: list[str]):
        from .serve import LocalSearcher

        if not index_dirs:
            raise ValueError("LocalFederatedSearcher needs at least one index")
        self.members = [LocalSearcher(d) for d in index_dirs]

    def topk(
        self,
        query: str,
        k: int = 10,
        mode: str = "any",
        after: tuple[float, int] | None = None,
    ) -> list[tuple[int, float]]:
        return federated_topk(self.members, query, k, mode, after)

    def count(self, query: str, mode: str = "any") -> int:
        return federated_count(self.members, query, mode)


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
