"""Hybrid retrieval: reciprocal-rank fusion of heterogeneous top-k legs.

The standard way to combine a lexical (BM25) ranking with a semantic
(embedding-cosine) ranking without score calibration is reciprocal rank
fusion (Cormack, Clarke & Buettcher, SIGIR 2009): each leg contributes
``1 / (rrf_k + rank)`` for every document it retrieved, and documents are
re-ranked by the summed contribution. Only RANKS cross the fusion
boundary, so the legs' score scales never need to be comparable — which
is exactly why every production search stack (Elasticsearch, Vespa,
OpenSearch) ships RRF as its default hybrid mode.

Scale shape: fusion operates on the LEGS' top-k outputs — a few dozen
rows per leg regardless of corpus size — so the windows and the full
outer join here are deliberately tiny; all the heavy lifting stays in
the legs themselves (per-shard BM25 top-k / IVF-pruned ANN), which are already
built for the 100-TB corpus. The fold order over legs is fixed so the
floating-point sum is reproducible cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_RRF_K = 60


def leg_ranks(
    df: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Attach a deterministic dense 1-based rank to one retrieval leg:
    order by (score desc — or asc for distance metrics — then id asc).

    The single-partition window is intentional and safe: a leg is a
    top-k RESULT (k rows, not the corpus). Never point this at an
    unlimited scored table."""
    order = (
        F.col(score_col).asc() if ascending else F.col(score_col).desc(),
        F.col(id_col).asc(),
    )
    w = Window.orderBy(*order)
    return df.select(
        F.col(id_col), F.row_number().over(w).cast("long").alias("rank")
    )


def rrf_fuse(
    legs: list[tuple[DataFrame, str]],
    k: int = 10,
    rrf_k: int = DEFAULT_RRF_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuse ``legs`` — a list of (top-k DataFrame, score column) pairs,
    every frame keyed by ``id_col`` — into (id, rrf_score, per-leg rank
    columns rank_0..rank_{n-1}), cut to the top ``k`` by
    (rrf_score desc, id asc).

    A document absent from a leg contributes 0.0 from that leg (its
    rank_i column is NULL). Contributions are summed left-to-right in
    leg order, so the double-precision result is bit-reproducible."""
    if not legs:
        raise ValueError("rrf_fuse needs at least one leg")
    ranked = [
        leg_ranks(df, score_col, id_col).withColumnRenamed("rank", f"rank_{i}")
        for i, (df, score_col) in enumerate(legs)
    ]
    fused = ranked[0]
    for nxt in ranked[1:]:
        fused = fused.join(nxt, on=id_col, how="full_outer")
    contrib = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"rank_{i}")),
            F.lit(0.0),
        )
        for i in range(len(ranked))
    ]
    total = contrib[0]
    for c in contrib[1:]:
        total = total + c
    return (
        fused.select(F.col(id_col), total.alias("rrf_score"), *[
            F.col(f"rank_{i}") for i in range(len(ranked))
        ])
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def hybrid_rrf_sql(
    leg_sqls: list[tuple[str, str, str]],
    k: int = 10,
    rrf_k: int = DEFAULT_RRF_K,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`rrf_fuse`.

    ``leg_sqls``: list of (select_sql, leg_id_col, score_col) — each
    ``select_sql`` must be a complete top-k SELECT whose own ORDER BY +
    LIMIT defines the leg, with the SAME deterministic tie-break its
    Spark twin uses. Ranks are re-derived here by
    (score desc, leg id asc), identical to leg_ranks; the fold order of
    the coalesced contributions matches rrf_fuse's left-to-right sum."""
    if not leg_sqls:
        raise ValueError("hybrid_rrf_sql needs at least one leg")
    ctes = []
    for i, (sql, leg_id, score) in enumerate(leg_sqls):
        ctes.append(
            f"leg{i} AS (\n"
            f"  SELECT {leg_id} AS {id_col},\n"
            f"         row_number() OVER (ORDER BY {score} DESC, {leg_id} ASC)"
            f"::BIGINT AS rank_{i}\n"
            f"  FROM ({sql})\n)"
        )
    joined = "leg0"
    for i in range(1, len(leg_sqls)):
        joined = f"({joined} FULL OUTER JOIN leg{i} USING ({id_col}))"
    total = " + ".join(
        f"coalesce(1.0 / ({float(rrf_k)!r} + rank_{i}), 0.0)"
        for i in range(len(leg_sqls))
    )
    ranks = ", ".join(f"rank_{i}" for i in range(len(leg_sqls)))
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT {id_col}, {total} AS rrf_score, {ranks}
    FROM {joined}
    ORDER BY rrf_score DESC, {id_col} ASC
    LIMIT {k}
    """
    )
