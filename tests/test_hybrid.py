"""Hybrid retrieval (reciprocal-rank fusion) tests: crafted rank math,
single-leg identity, DuckDB twin parity, and fusion over the real
indexed BM25 + LSH-ANN product legs."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from koncorde_spark.fulltext.hybrid import (
    DEFAULT_RRF_K,
    hybrid_rrf_sql,
    leg_ranks,
    rrf_fuse,
)


class TestRrfFuse:
    def test_crafted_two_legs(self, spark):
        """Hand-checkable fusion: doc 1 is rank 1 in both legs; doc 2
        lexical-only; doc 3 semantic-only; doc 4 mid in both."""
        lex = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 4, 2], "score": [9.0, 5.0, 3.0]})
        )
        sem = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 4, 3], "cosine": [0.9, 0.5, 0.3]})
        )
        got = (
            rrf_fuse([(lex, "score"), (sem, "cosine")], k=10)
            .toPandas()
            .set_index("doc_id")
        )
        k = DEFAULT_RRF_K
        assert got.loc[1, "rrf_score"] == pytest.approx(1 / (k + 1) + 1 / (k + 1))
        assert got.loc[4, "rrf_score"] == pytest.approx(1 / (k + 2) + 1 / (k + 2))
        assert got.loc[2, "rrf_score"] == pytest.approx(1 / (k + 3))
        assert got.loc[3, "rrf_score"] == pytest.approx(1 / (k + 3))
        # absent-leg ranks surface as NULL
        assert pd.isna(got.loc[2, "rank_1"]) and pd.isna(got.loc[3, "rank_0"])
        # order: 1, 4, then the 2/3 tie broken by id asc
        assert list(got.index) == [1, 4, 2, 3]

    def test_single_leg_preserves_order(self, spark):
        leg = spark.createDataFrame(
            pd.DataFrame({"doc_id": [7, 3, 9], "score": [2.0, 5.0, 2.0]})
        )
        got = rrf_fuse([(leg, "score")], k=2).toPandas()
        # rank: 3 (5.0), then the 2.0 tie -> id asc -> 7
        assert list(got["doc_id"]) == [3, 7]
        assert list(got["rank_0"]) == [1, 2]

    def test_tie_break_is_id_asc_within_leg(self, spark):
        leg = spark.createDataFrame(
            pd.DataFrame({"doc_id": [5, 2, 8], "score": [1.0, 1.0, 1.0]})
        )
        got = leg_ranks(leg, "score").toPandas().set_index("doc_id")
        assert got.loc[2, "rank"] == 1
        assert got.loc[5, "rank"] == 2
        assert got.loc[8, "rank"] == 3

    def test_duckdb_twin_parity_random(self, spark):
        rng = np.random.default_rng(11)
        lex = pd.DataFrame(
            {
                "doc_id": rng.permutation(40)[:25],
                "score": np.round(rng.uniform(0, 10, 25), 6),
            }
        )
        sem = pd.DataFrame(
            {
                "vec_id": rng.permutation(40)[:25],
                "cosine": np.round(rng.uniform(-1, 1, 25), 9),
            }
        )
        got = (
            rrf_fuse(
                [
                    (spark.createDataFrame(lex), "score"),
                    (
                        spark.createDataFrame(sem).withColumnRenamed(
                            "vec_id", "doc_id"
                        ),
                        "cosine",
                    ),
                ],
                k=12,
            )
            .toPandas()
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("lexleg", lex)
        con.register("semleg", sem)
        want = con.execute(
            hybrid_rrf_sql(
                [
                    ("SELECT * FROM lexleg", "doc_id", "score"),
                    ("SELECT * FROM semleg", "vec_id", "cosine"),
                ],
                k=12,
            )
        ).df()
        assert list(got["doc_id"]) == list(want["doc_id"])
        assert np.allclose(got["rrf_score"], want["rrf_score"], atol=0, rtol=0)

    def test_empty_leg_and_validation(self, spark):
        empty = spark.createDataFrame([], "doc_id long, score double")
        leg = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1], "score": [1.0]})
        )
        got = rrf_fuse([(leg, "score"), (empty, "score")], k=5).toPandas()
        assert list(got["doc_id"]) == [1]
        assert got.loc[0, "rrf_score"] == pytest.approx(1 / (DEFAULT_RRF_K + 1))
        with pytest.raises(ValueError):
            rrf_fuse([], k=5)
        with pytest.raises(ValueError):
            hybrid_rrf_sql([], k=5)


class TestHybridProductLegs:
    def test_indexed_bm25_plus_ann(self, spark, tmp_path):
        """Fusion over the REAL legs: per-shard BM25 topk on a built
        index + Catalyst LSH ANN. The fused head must contain the
        lexical rank-1 and the semantic rank-1 docs."""
        from pyspark.sql import functions as F

        from koncorde_spark.fulltext.indexer import IndexConfig, build_index
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.pipeline import similarity
        from koncorde_spark.sources import synthetic_corpus_df

        corpus = synthetic_corpus_df(spark, 120, seed=5)
        idx_dir = str(tmp_path / "idx")
        build_index(spark, corpus, idx_dir, IndexConfig(n_shards=2))
        idx = Bm25Index(spark, idx_dir)
        lex = idx.topk("import ident_00003", 20)

        rng = np.random.default_rng(5)
        doc_ids = [r.doc_id for r in lex.select("doc_id").collect()]
        emb = spark.createDataFrame(
            pd.DataFrame(
                {
                    "vec_id": doc_ids,
                    "embedding": [
                        np.round(rng.standard_normal(16), 6).tolist()
                        for _ in doc_ids
                    ],
                }
            )
        )
        qv = [round(float(x), 6) for x in rng.standard_normal(16)]
        sem = similarity.cosine_topk(emb, qv, 20).select(
            F.col("vec_id").alias("doc_id"), "cosine"
        )
        fused = rrf_fuse([(lex, "score"), (sem, "cosine")], k=10).toPandas()
        lex_top = lex.toPandas().sort_values(
            ["score", "doc_id"], ascending=[False, True]
        )["doc_id"].iloc[0]
        sem_top = sem.toPandas().sort_values(
            ["cosine", "doc_id"], ascending=[False, True]
        )["doc_id"].iloc[0]
        assert lex_top in set(fused["doc_id"])
        assert sem_top in set(fused["doc_id"])
        assert len(fused) == 10
        # fused scores strictly positive and bounded by 2/(rrf_k+1)
        assert (fused["rrf_score"] > 0).all()
        assert (fused["rrf_score"] <= 2 / (DEFAULT_RRF_K + 1) + 1e-12).all()
