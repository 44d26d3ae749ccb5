"""Full-text track tests: codecs (property-based), WAND rank-identity vs
the pandas oracle, content-sha lineage invariant, manifest resume,
SQL-vs-python shard parity."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from koncorde_spark.fulltext.codecs import (
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from koncorde_spark.fulltext.oracle import bm25_oracle_topk
from koncorde_spark.fulltext.tokenizer import tokenize_text
from koncorde_spark.fulltext.wand import TermPostings, bm25_idf, topk_block_max_wand


class TestCodecs:
    @given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
    @settings(max_examples=50, deadline=None)
    def test_varint_roundtrip(self, values):
        arr = np.asarray(values, dtype=np.uint64)
        out = varint_decode(varint_encode(arr))
        assert (out == arr).all()

    @given(
        st.lists(
            st.integers(min_value=0, max_value=2**62), min_size=1, max_size=500, unique=True
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_delta_roundtrip(self, values):
        arr = np.asarray(sorted(values), dtype=np.uint64)
        out = delta_decode(delta_encode(arr), len(arr))
        assert (out == arr).all()

    def test_count_mismatch_raises(self):
        with pytest.raises(ValueError):
            varint_decode(varint_encode(np.array([1, 2, 3], dtype=np.uint64)), 5)


class TestTokenizer:
    def test_code_aware(self):
        assert tokenize_text("foo.bar(baz_qux)") == ["foo", "bar", "baz_qux"]
        assert tokenize_text("IMPORT X2; return") == ["import", "x2", "return"]
        assert tokenize_text("") == []
        assert tokenize_text("...") == []

    @given(st.lists(st.text(max_size=40), max_size=30))
    @settings(max_examples=50, deadline=None)
    def test_count_matches_full_tokenize(self, texts):
        """count_tokens_arrow (regex run count) must equal the full
        tokenizer's per-row lengths for arbitrary unicode + empty rows."""
        import pandas as pd

        from koncorde_spark.fulltext.tokenizer import (
            count_tokens_arrow,
            tokenize_text,
        )

        s = pd.Series(texts, dtype=object)
        got = count_tokens_arrow(s)
        want = [len(tokenize_text(t or "")) for t in texts]
        assert got.tolist() == want


def _mk_postings(rng, n_docs, n_terms, k1=1.2, b=0.75, block_size=8):
    """Random postings with correct block metadata for the WAND test."""
    terms = []
    universe = np.sort(rng.choice(np.arange(1, 10**9), size=n_docs, replace=False))
    dls = rng.integers(10, 500, size=n_docs).astype(np.float64)
    avgdl = dls.mean()
    truth = {}
    n = n_docs
    for t in range(n_terms):
        cnt = int(rng.integers(1, n_docs))
        sel = np.sort(rng.choice(n_docs, size=cnt, replace=False))
        ids = universe[sel]
        tfs = rng.integers(1, 20, size=cnt).astype(np.float64)
        idf = float(bm25_idf(n, cnt))
        tfpart = tfs * (k1 + 1) / (tfs + k1 * (1 - b + b * dls[sel] / avgdl))
        scores = idf * tfpart
        nb = (cnt + block_size - 1) // block_size
        bl = np.array([ids[min((i + 1) * block_size, cnt) - 1] for i in range(nb)])
        bm = np.array([scores[i * block_size : (i + 1) * block_size].max() for i in range(nb)])
        terms.append(
            TermPostings(
                doc_ids=ids.astype(np.int64),
                scores=scores,
                block_last=bl.astype(np.int64),
                block_ub=bm,
                block_size=block_size,
            )
        )
        for d, s in zip(ids, scores):
            truth[d] = truth.get(d, 0.0) + s
    return terms, truth


class TestWand:
    @pytest.mark.parametrize("seed", [0, 1, 2, 3])
    def test_wand_equals_exhaustive(self, seed):
        rng = np.random.default_rng(seed)
        terms, truth = _mk_postings(rng, n_docs=400, n_terms=4)
        ids, scores = topk_block_max_wand(terms, 10)
        exp = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert list(ids) == [d for d, _ in exp]
        assert np.allclose(scores, [s for _, s in exp], atol=1e-12)

    def test_wand_pruning_path(self):
        # force the non-exhaustive branch: > 2^17 total entries
        rng = np.random.default_rng(7)
        n = 140_000
        ids = np.sort(rng.choice(np.arange(1, 10**9), size=n, replace=False)).astype(np.int64)
        scores = rng.random(n) * 5
        bs = 128
        nb = (n + bs - 1) // bs
        bl = np.array([ids[min((i + 1) * bs, n) - 1] for i in range(nb)], dtype=np.int64)
        bm = np.array([scores[i * bs : (i + 1) * bs].max() for i in range(nb)])
        t = TermPostings(ids, scores, bl, bm, bs)
        got_ids, got_scores = topk_block_max_wand([t], 25)
        order = np.lexsort((ids, -scores))[:25]
        assert list(got_ids) == list(ids[order])
        assert np.allclose(got_scores, scores[order], atol=0)


@pytest.mark.spark
class TestIndexSpark:
    def test_sha_invariant(self, spark, small_corpus_pdf, bm25_index_dir):
        """content_sha stored per doc equals sha256 of the source content."""
        import hashlib

        docs = spark.read.parquet(os.path.join(bm25_index_dir, "docs")).toPandas()
        src = {
            (r.repo, r.path): hashlib.sha256(r.content.encode()).hexdigest()
            for r in small_corpus_pdf.itertuples()
        }
        assert len(docs) == len(small_corpus_pdf)
        for r in docs.itertuples():
            assert src[(r.repo, r.path)] == r.content_sha

    def test_rank_identical_vs_oracle(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        for q, k in [
            ("import ident_00001", 10),
            ("ident_00042 ident_00100 return", 25),
            ("def function import return", 10),
            ("missingterm_zzz", 5),
        ]:
            got = idx.topk(q, k).toPandas()
            exp = bm25_oracle_topk(small_corpus_pdf, q, k)
            assert list(got["doc_id"]) == list(exp["doc_id"]), q
            assert np.allclose(got["score"], exp["score"], atol=1e-9), q

    def test_topk_many_matches_per_query_topk(self, spark, bm25_index_dir):
        """Batched topk_many must be rank- AND score-identical to per-query
        topk, including queries with unknown terms (no rows) and shared hot
        terms across queries."""
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        queries = {
            "q1": "import ident_00001",
            "q2": "ident_00042 ident_00100 return",
            "q3": "def function import return",
            "q4": "missingterm_zzz",
        }
        k = 10
        batched = idx.topk_many(queries, k).toPandas()
        for qid, q in queries.items():
            got = (
                batched[batched["query_id"] == qid]
                .sort_values(["score", "doc_id"], ascending=[False, True])
                .reset_index(drop=True)
            )
            exp = idx.topk(q, k).toPandas()
            assert list(got["doc_id"]) == list(exp["doc_id"]), qid
            assert np.allclose(got["score"], exp["score"], atol=0), qid

    def test_topk_many_empty_queries(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        assert idx.topk_many({}, 5).count() == 0
        assert idx.topk_many({"q": "zzz_unknown"}, 5).count() == 0

    def test_manifests_exist(self, bm25_index_dir):
        for stage in ("docs", "postings"):
            d = os.path.join(bm25_index_dir, "_manifests", stage)
            files = os.listdir(d)
            assert len(files) == 4
            m = json.load(open(os.path.join(d, files[0])))
            assert {"shard", "rows", "config"} <= set(m)

    def test_resume_skips_completed(self, spark, small_corpus_pdf, bm25_index_dir):
        """Re-running build with complete manifests must not rewrite postings."""
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index

        postings_dir = os.path.join(bm25_index_dir, "postings")
        before = max(
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(postings_dir)
            for f in fs
        )
        corpus = spark.createDataFrame(small_corpus_pdf).repartition(4)
        build_index(spark, corpus, bm25_index_dir, IndexConfig(n_shards=4), resume=True)
        after = max(
            os.path.getmtime(os.path.join(dp, f))
            for dp, _, fs in os.walk(postings_dir)
            for f in fs
        )
        assert after == before

    def test_build_and_resume_over_file_uri(self, spark, small_corpus_pdf, tmp_path):
        """file:// out_dir exercises the Hadoop FileSystem metadata route
        (fs.py) end-to-end: manifests must be written, read back, and the
        resume skip must hold exactly as for bare local paths."""
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index, read_meta
        from koncorde_spark.fulltext import fs

        out = "file://" + str(tmp_path / "uri_idx")
        corpus = spark.createDataFrame(small_corpus_pdf).repartition(4)
        meta1 = build_index(spark, corpus, out, IndexConfig(n_shards=4), resume=True)
        assert meta1["n_docs"] == len(small_corpus_pdf)
        # manifests landed through the Hadoop route
        names = fs.listdir(out + "/_manifests/postings")
        assert sorted(names) == [f"shard-{s}.json" for s in range(4)]
        # resume: second build must skip the postings stage entirely
        meta2 = build_index(spark, corpus, out, IndexConfig(n_shards=4), resume=True)
        assert meta2["metrics"]["postings_sec"] < 1.0
        assert read_meta(out)["n_docs"] == meta1["n_docs"]

    def test_fs_wrapper_roundtrip(self, spark, tmp_path):
        from koncorde_spark.fulltext import fs

        base = "file://" + str(tmp_path / "fsw")
        assert not fs.exists(base)
        fs.mkdirs(base + "/sub")
        fs.write_json(base + "/sub/a.json", {"x": 1})
        fs.write_text(base + "/sub/b.json", "{}")
        assert fs.exists(base + "/sub/a.json")
        assert fs.read_json(base + "/sub/a.json") == {"x": 1}
        assert sorted(fs.listdir(base + "/sub")) == ["a.json", "b.json"]
        assert fs.listdir(base + "/nope") == []
        # overwrite replaces content
        fs.write_json(base + "/sub/a.json", {"x": 2})
        assert fs.read_json(base + "/sub/a.json") == {"x": 2}

    def test_sql_shard_parity(self, spark, small_corpus_pdf):
        from koncorde_spark.fulltext.indexer import doc_id_of, sql_shard_col

        corpus = spark.createDataFrame(small_corpus_pdf.head(100))
        rows = corpus.withColumn("s", sql_shard_col(8)).select(
            "repo", "path", "commit", "s"
        ).collect()
        for r in rows:
            assert doc_id_of(r["repo"], r["path"], r["commit"]) % 8 == r["s"]


class TestLoadCorpus:
    def test_table_branch(self, spark, small_corpus_pdf):
        from koncorde_spark.sources import load_corpus

        spark.createDataFrame(small_corpus_pdf).createOrReplaceTempView("corpus_tbl")
        df = load_corpus(spark, "table:corpus_tbl")
        assert df.columns == ["repo", "path", "commit", "lang", "content"]
        assert df.count() == len(small_corpus_pdf)

    def test_parquet_branch(self, spark, small_corpus_pdf, tmp_path):
        from koncorde_spark.sources import load_corpus

        p = str(tmp_path / "c.parquet")
        spark.createDataFrame(small_corpus_pdf).write.parquet(p)
        df = load_corpus(spark, p)
        assert df.count() == len(small_corpus_pdf)

    def test_schema_validation(self, spark):
        from koncorde_spark.sources import load_corpus

        spark.range(3).createOrReplaceTempView("bad_tbl")
        with pytest.raises(ValueError, match="missing required columns"):
            load_corpus(spark, "table:bad_tbl")


class TestIndexRobustness:
    def test_null_content_row_builds(self, spark, tmp_path):
        """A nullable content column must not crash the docs stage; the
        null row indexes as '' (tokenizer contract) with dl=0."""
        import pandas as pd
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index

        pdf = pd.DataFrame(
            {
                "repo": ["r"] * 3,
                "path": ["a.py", "b.py", "c.py"],
                "commit": ["c1"] * 3,
                "lang": ["py"] * 3,
                "content": ["import foo", None, "return bar"],
            }
        )
        out = str(tmp_path / "nullidx")
        meta = build_index(
            spark, spark.createDataFrame(pdf), out, IndexConfig(n_shards=2)
        )
        assert meta["n_docs"] == 3
        docs = spark.read.parquet(os.path.join(out, "docs")).toPandas()
        null_row = docs[docs["path"] == "b.py"].iloc[0]
        assert null_row["dl"] == 0
        import hashlib

        assert null_row["content_sha"] == hashlib.sha256(b"").hexdigest()

    def test_stale_docs_lineage_invalidates_downstream(self, spark, tmp_path):
        """If the docs stage is rebuilt with different content, resumed
        postings/dlpack manifests must be treated as stale (their recorded
        lineage no longer matches) and rebuilt — not silently reused."""
        import pandas as pd
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index
        from koncorde_spark.fulltext.query import Bm25Index

        def corpus(marker: str):
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "repo": ["r"] * 4,
                        "path": [f"f{i}.py" for i in range(4)],
                        "commit": ["c1"] * 4,
                        "lang": ["py"] * 4,
                        "content": [f"{marker} token_{i}" for i in range(4)],
                    }
                )
            )

        out = str(tmp_path / "lineageidx")
        cfg = IndexConfig(n_shards=2)
        build_index(spark, corpus("alpha"), out, cfg)
        # simulate a docs-only invalidation: delete the docs manifests so
        # the docs stage reruns over CHANGED content, then resume
        for f in os.listdir(os.path.join(out, "_manifests", "docs")):
            os.remove(os.path.join(out, "_manifests", "docs", f))
        build_index(spark, corpus("beta"), out, cfg, resume=True)

        idx = Bm25Index(spark, out)
        got = idx.topk("beta", 4).toPandas()
        assert len(got) == 4  # postings rebuilt against the new docs
        assert len(idx.topk("alpha", 4).toPandas()) == 0  # no stale postings


class TestCodecEdges:
    def test_delta_encode_groups_tolerates_empty_groups(self):
        """Offsets with empty (including trailing) groups must round-trip —
        deltas[starts] on an empty trailing group indexed out of bounds."""
        import numpy as np

        from koncorde_spark.fulltext.codecs import (
            delta_decode_groups,
            delta_encode_groups,
            varint_decode,
        )

        arr = np.array([5, 9, 12], dtype=np.uint64)
        offsets = np.array([0, 0, 3, 3], dtype=np.int64)  # empty first+last
        buf, lens = delta_encode_groups(arr, offsets)
        back = delta_decode_groups(varint_decode(buf, 3), offsets)
        assert back.tolist() == [5, 9, 12]


class TestMultiSegmentDecode:
    def test_segments_are_additive_not_collapsed(self):
        """A (term, shard) pair owning SEVERAL segment rows (salted hot
        term / append generation) must contribute ALL its postings: the
        decode helper returns per-term segment LISTS and WAND scores the
        union (a per-term dict would silently drop all but one segment)."""
        import pandas as pd

        from koncorde_spark.fulltext.codecs import delta_encode, varint_encode
        from koncorde_spark.fulltext.query import _decode_shard_postings
        from koncorde_spark.fulltext.wand import topk_block_max_wand

        def seg(ids, tfs, avgdl_seg=10.0):
            ids_a = np.array(ids, dtype=np.uint64)
            tf_a = np.array(tfs, dtype=np.uint64)
            norm = tf_a * 2.2 / (tf_a + 1.2)  # any valid upper bound
            return {
                "term": "hot",
                "shard": 0,
                "df": len(ids),
                "doc_ids": delta_encode(ids_a),
                "tfs": varint_encode(tf_a),
                "block_last": [int(ids[-1])],
                "block_max": [float(norm.max())],
                "avgdl_seg": avgdl_seg,
            }

        post_pdf = pd.DataFrame([seg([1, 5], [2, 1]), seg([3, 9], [1, 4])])
        all_ids = np.array([1, 3, 5, 9], dtype=np.uint64)
        pack_pdf = pd.DataFrame(
            [{
                "shard": 0,
                "n": 4,
                "doc_ids": delta_encode(all_ids),
                "dls": varint_encode(np.array([10, 10, 10, 10], dtype=np.uint64)),
            }]
        )
        by_term = _decode_shard_postings(
            post_pdf, pack_pdf, {"hot": 1.0}, 1.2, 0.75, 10.0, 128
        )
        assert len(by_term["hot"]) == 2  # both segments survive
        ids, scores = topk_block_max_wand(
            [tp for segs in by_term.values() for tp in segs], 10
        )
        assert sorted(ids.tolist()) == [1, 3, 5, 9]  # postings from BOTH segments


@pytest.mark.spark
class TestAppendIndex:
    """Incremental append: additive segments must be indistinguishable (in
    query results) from a from-scratch build over the union."""

    @staticmethod
    def _corpus(spark, docs):
        pdf = pd.DataFrame(
            {
                "repo": [f"r{i % 3}" for i in range(len(docs))],
                "path": [f"p/{i}.py" for i in range(len(docs))],
                "commit": ["c1"] * len(docs),
                "lang": ["py"] * len(docs),
                "content": docs,
            }
        )
        return spark.createDataFrame(pdf), pdf

    @staticmethod
    def _mk_docs(rng, n, words, length):
        return [
            " ".join(rng.choice(words, size=max(2, int(rng.integers(length // 2, length + 1)))))
            for _ in range(n)
        ]

    def test_append_matches_full_rebuild(self, spark, tmp_path):
        from koncorde_spark.fulltext.indexer import IndexConfig, append_index, build_index
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        rng = np.random.default_rng(11)
        words = np.array(
            "alpha beta gamma delta import return merge spark index shard".split()
        )
        docs_a = self._mk_docs(rng, 60, words, 12)
        # batch B is 10x LONGER: the corpus avgdl RISES sharply, exercising
        # the avgdl_seg bound correction (stale bounds would break WAND)
        docs_b = self._mk_docs(rng, 40, words, 120)

        base_a, _ = self._corpus(spark, docs_a)
        # path sets must differ between batches (identity = repo/path/commit)
        pdf_b = pd.DataFrame(
            {
                "repo": [f"r{i % 3}" for i in range(len(docs_b))],
                "path": [f"q/{i}.py" for i in range(len(docs_b))],
                "commit": ["c2"] * len(docs_b),
                "lang": ["py"] * len(docs_b),
                "content": docs_b,
            }
        )
        base_b = spark.createDataFrame(pdf_b)

        cfg = IndexConfig(n_shards=4)
        inc_dir = str(tmp_path / "inc")
        full_dir = str(tmp_path / "full")
        build_index(spark, base_a, inc_dir, cfg, resume=False)
        meta = append_index(spark, base_b, inc_dir)
        assert meta["n_docs"] == 100
        assert meta["appends"][-1]["n_new"] == 40

        build_index(spark, base_a.unionByName(base_b), full_dir, cfg, resume=False)

        inc = Bm25Index(spark, inc_dir)
        full = Bm25Index(spark, full_dir)
        assert inc.meta["n_docs"] == full.meta["n_docs"]
        assert abs(inc.meta["avgdl"] - full.meta["avgdl"]) < 1e-9
        assert inc.meta["n_terms"] == full.meta["n_terms"]

        for q in ["alpha beta", "import merge spark", "gamma", "shard index return"]:
            got = inc.topk(q, 15).toPandas()
            want = full.topk(q, 15).toPandas()
            assert list(got["doc_id"]) == list(want["doc_id"]), q
            assert np.allclose(got["score"], want["score"], atol=1e-12), q
            # Spark-free tier agrees too (bound correction applied there)
            s = LocalSearcher(inc_dir).topk(q, 15)
            assert [d for d, _ in s] == list(want["doc_id"]), q

    def test_reappend_same_docs_is_noop(self, spark, tmp_path):
        from koncorde_spark.fulltext.indexer import IndexConfig, append_index, build_index

        rng = np.random.default_rng(5)
        words = np.array("one two three four five".split())
        corpus, _ = self._corpus(spark, self._mk_docs(rng, 30, words, 10))
        d = str(tmp_path / "idx")
        build_index(spark, corpus, d, IndexConfig(n_shards=4), resume=False)
        import duckdb

        rows_before = duckdb.sql(
            f"select count(*) from parquet_scan('{d}/postings/*/*.parquet', hive_partitioning=1)"
        ).fetchone()[0]
        meta = append_index(spark, corpus, d)
        rows_after = duckdb.sql(
            f"select count(*) from parquet_scan('{d}/postings/*/*.parquet', hive_partitioning=1)"
        ).fetchone()[0]
        assert rows_before == rows_after  # no duplicate segments
        assert "appends" not in meta or not meta.get("appends")

    def test_mixed_batch_appends_only_new(self, spark, tmp_path):
        """A batch overlapping already-indexed docs appends ONLY the new
        ones (anti-join on the Catalyst doc_id expression)."""
        from koncorde_spark.fulltext.indexer import IndexConfig, append_index, build_index

        rng = np.random.default_rng(6)
        words = np.array("red green blue cyan".split())
        docs = self._mk_docs(rng, 20, words, 8)
        corpus, pdf = self._corpus(spark, docs)
        d = str(tmp_path / "idx")
        build_index(spark, corpus, d, IndexConfig(n_shards=4), resume=False)

        extra = pd.DataFrame(
            {
                "repo": ["rx", "rx"],
                "path": ["new/1.py", "new/2.py"],
                "commit": ["c9", "c9"],
                "lang": ["py", "py"],
                "content": ["red magenta magenta", "blue yellow"],
            }
        )
        mixed = spark.createDataFrame(pd.concat([pdf.iloc[:10], extra], ignore_index=True))
        meta = append_index(spark, mixed, d)
        assert meta["n_docs"] == 22
        assert meta["appends"][-1]["n_new"] == 2

    def test_inconsistent_index_refused(self, spark, tmp_path):
        from koncorde_spark.fulltext import fs
        from koncorde_spark.fulltext.indexer import IndexConfig, append_index, build_index

        rng = np.random.default_rng(7)
        words = np.array("aa bb cc".split())
        corpus, _ = self._corpus(spark, self._mk_docs(rng, 12, words, 6))
        d = str(tmp_path / "idx")
        build_index(spark, corpus, d, IndexConfig(n_shards=4), resume=False)
        # simulate a crashed append: docs manifest lineage advanced, postings not
        import json as _json

        mpath = os.path.join(d, "_manifests", "docs", "shard-0.json")
        m = _json.loads(fs.read_text(mpath))
        m["lineage_xor"] = int(m["lineage_xor"]) ^ 12345
        fs.write_text(mpath, _json.dumps(m))
        with pytest.raises(RuntimeError, match="lineage mismatch"):
            append_index(spark, corpus, d)

    def test_two_sequential_appends_match_full_build(self, spark, tmp_path):
        """append(A); append(B); append(C-chain): multi-generation segment
        accumulation (3 avgdl_seg values live side-by-side) still answers
        identically to one build over everything."""
        from koncorde_spark.fulltext.indexer import IndexConfig, append_index, build_index
        from koncorde_spark.fulltext.query import Bm25Index

        rng = np.random.default_rng(31)
        words = np.array("kappa lambda mu nu import merge".split())
        batches = []
        for g, (n, length) in enumerate([(30, 10), (20, 60), (25, 5)]):
            batches.append(
                pd.DataFrame(
                    {
                        "repo": [f"r{i % 2}" for i in range(n)],
                        "path": [f"g{g}/{i}.py" for i in range(n)],
                        "commit": ["c"] * n,
                        "lang": ["py"] * n,
                        "content": [
                            " ".join(rng.choice(words, size=length)) for _ in range(n)
                        ],
                    }
                )
            )
        inc_dir, full_dir = str(tmp_path / "inc"), str(tmp_path / "full")
        cfg = IndexConfig(n_shards=4)
        build_index(spark, spark.createDataFrame(batches[0]), inc_dir, cfg, resume=False)
        append_index(spark, spark.createDataFrame(batches[1]), inc_dir)
        meta = append_index(spark, spark.createDataFrame(batches[2]), inc_dir)
        assert meta["n_docs"] == 75 and len(meta["appends"]) == 2

        build_index(
            spark,
            spark.createDataFrame(pd.concat(batches, ignore_index=True)),
            full_dir, cfg, resume=False,
        )
        inc, full = Bm25Index(spark, inc_dir), Bm25Index(spark, full_dir)
        assert abs(inc.meta["avgdl"] - full.meta["avgdl"]) < 1e-9
        for q in ["kappa import", "lambda mu merge", "nu"]:
            got, want = inc.topk(q, 12).toPandas(), full.topk(q, 12).toPandas()
            assert list(got["doc_id"]) == list(want["doc_id"]), q
            assert np.allclose(got["score"], want["score"], atol=1e-12)


@pytest.mark.spark
class TestDeletions:
    def test_deleted_docs_vanish_scores_frozen(self, spark, tmp_path):
        """Deleting docs removes them from results while every surviving
        doc keeps its EXACT pre-delete score and order (stats frozen until
        rebuild — the Lucene-style contract), in BOTH query tiers."""
        from koncorde_spark.fulltext.indexer import (
            IndexConfig, build_index, delete_docs,
        )
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        rng = np.random.default_rng(13)
        words = np.array("pi rho sigma tau import".split())
        pdf = pd.DataFrame(
            {
                "repo": [f"r{i % 2}" for i in range(50)],
                "path": [f"p/{i}.py" for i in range(50)],
                "commit": ["c"] * 50,
                "lang": ["py"] * 50,
                "content": [
                    " ".join(rng.choice(words, size=int(rng.integers(5, 20))))
                    for _ in range(50)
                ],
            }
        )
        d = str(tmp_path / "idx")
        build_index(spark, spark.createDataFrame(pdf), d, IndexConfig(n_shards=4), resume=False)
        idx = Bm25Index(spark, d)
        before = idx.topk("pi sigma import", 20).toPandas()
        victims = [int(x) for x in before["doc_id"].iloc[:3]]
        assert delete_docs(spark, d, victims) == 3

        idx2 = Bm25Index(spark, d)  # fresh handle reads tombstones
        after = idx2.topk("pi sigma import", 20).toPandas()
        assert not (set(victims) & set(after["doc_id"]))
        surv_before = before[~before["doc_id"].isin(victims)].reset_index(drop=True)
        m = min(len(surv_before), len(after))
        assert list(after["doc_id"].iloc[:m]) == list(surv_before["doc_id"].iloc[:m])
        assert np.allclose(after["score"].iloc[:m], surv_before["score"].iloc[:m], atol=0)

        s = LocalSearcher(d).topk("pi sigma import", 20)
        assert [doc for doc, _ in s] == list(after["doc_id"])

        # batched path honors tombstones too
        many = idx2.topk_many({"q": "pi sigma import"}, 20).toPandas()
        assert list(many.sort_values(["score", "doc_id"], ascending=[False, True])["doc_id"]) == list(after["doc_id"])

    def test_redelete_and_delete_all_term_docs(self, spark, tmp_path):
        from koncorde_spark.fulltext.indexer import (
            IndexConfig, build_index, delete_docs,
        )
        from koncorde_spark.fulltext.query import Bm25Index

        pdf = pd.DataFrame(
            {
                "repo": ["r"] * 4,
                "path": [f"p/{i}.py" for i in range(4)],
                "commit": ["c"] * 4,
                "lang": ["py"] * 4,
                "content": ["unique_term filler", "unique_term other",
                            "different words here", "more different text"],
            }
        )
        d = str(tmp_path / "idx")
        build_index(spark, spark.createDataFrame(pdf), d, IndexConfig(n_shards=2), resume=False)
        idx = Bm25Index(spark, d)
        hits = idx.topk("unique_term", 5).toPandas()
        assert len(hits) == 2
        delete_docs(spark, d, [int(x) for x in hits["doc_id"]])
        delete_docs(spark, d, [int(hits["doc_id"].iloc[0])])  # re-delete: harmless
        idx2 = Bm25Index(spark, d)
        assert idx2.topk("unique_term", 5).count() == 0  # all postings tombstoned
        assert idx2.topk("different", 5).count() > 0  # others unaffected

    def test_delete_then_append_interplay(self, spark, tmp_path):
        """Tombstones survive an append: deleted docs stay gone, newly
        appended docs are searchable, and a tombstoned identity that is
        re-appended stays deleted (docs row exists -> anti-join skips;
        rebuild is the resurrection path)."""
        from koncorde_spark.fulltext.indexer import (
            IndexConfig, append_index, build_index, delete_docs,
        )
        from koncorde_spark.fulltext.query import Bm25Index

        base = pd.DataFrame(
            {
                "repo": ["r"] * 3,
                "path": [f"p/{i}.py" for i in range(3)],
                "commit": ["c"] * 3,
                "lang": ["py"] * 3,
                "content": ["zeta common", "zeta other", "unrelated words"],
            }
        )
        d = str(tmp_path / "idx")
        build_index(spark, spark.createDataFrame(base), d, IndexConfig(n_shards=2), resume=False)
        idx = Bm25Index(spark, d)
        victim = int(idx.topk("zeta", 3).toPandas()["doc_id"].iloc[0])
        delete_docs(spark, d, [victim])

        extra = base.iloc[:1].copy()  # re-append the (possibly) deleted identity...
        extra2 = pd.DataFrame(
            {"repo": ["r"], "path": ["new/x.py"], "commit": ["c"],
             "lang": ["py"], "content": ["zeta fresh"]}
        )
        append_index(spark, spark.createDataFrame(pd.concat([extra, extra2], ignore_index=True)), d)

        idx2 = Bm25Index(spark, d)
        got = idx2.topk("zeta", 10).toPandas()
        assert victim not in set(got["doc_id"])  # still deleted
        assert len(got) == 2  # the surviving original + the fresh append

    def test_rebuild_from_corpus_drops_tombstones(self, spark, tmp_path):
        """build_index(resume=False) rebuilds from the corpus, so a doc
        deleted before the rebuild is indexed — and found — again;
        resume=True repairs the same corpus and keeps the delete."""
        from koncorde_spark.fulltext.fsck import fsck_index
        from koncorde_spark.fulltext.indexer import (
            IndexConfig, build_index, delete_docs,
        )
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher
        from koncorde_spark.sources import synthetic_corpus_pandas

        corpus = spark.createDataFrame(synthetic_corpus_pandas(n_rows=60, seed=21))
        d = str(tmp_path / "idx")
        cfg = IndexConfig(n_shards=2)
        build_index(spark, corpus, d, cfg, resume=False)
        q = "import return def"
        victim = int(Bm25Index(spark, d).topk(q, 5).toPandas()["doc_id"].iloc[0])
        delete_docs(spark, d, [victim])

        build_index(spark, corpus, d, cfg, resume=True)
        assert victim not in set(Bm25Index(spark, d).topk(q, 5).toPandas()["doc_id"])

        build_index(spark, corpus, d, cfg, resume=False)
        assert victim in set(Bm25Index(spark, d).topk(q, 5).toPandas()["doc_id"])
        assert victim in {i for i, _ in LocalSearcher(d).topk(q, 5)}
        assert fsck_index(spark, d)["ok"]


class TestAppendSchemaGuard:
    def test_append_refuses_pre_avgdl_seg_postings(self, spark, tmp_path):
        """Appending to an index whose postings lack avgdl_seg would create
        MIXED parquet schemas; schema inference from an old fragment then
        silently drops the column for the new segments too and block-max
        WAND can skip true top-k docs after an avgdl-raising append
        (ADVICE r3). append_index must refuse up front."""
        import numpy as np

        from koncorde_spark.fulltext.indexer import (
            IndexConfig,
            append_index,
            build_index,
        )

        rng = np.random.default_rng(11)
        words = np.array("aa bb cc dd".split())
        corpus, _ = TestAppendIndex._corpus(
            spark, TestAppendIndex._mk_docs(rng, 10, words, 6)
        )
        d = str(tmp_path / "idx")
        build_index(spark, corpus, d, IndexConfig(n_shards=2), resume=False)
        # simulate a pre-append-era index: rewrite postings without the column
        ppath = os.path.join(d, "postings")
        old = spark.read.parquet(ppath).drop("avgdl_seg").toPandas()
        import shutil

        shutil.rmtree(ppath)
        spark.createDataFrame(old).write.partitionBy("shard").parquet(ppath)
        spark.catalog.refreshByPath(ppath)
        with pytest.raises(RuntimeError, match="avgdl_seg"):
            append_index(spark, corpus, d)


class TestTombstoneBudget:
    def test_warns_past_fraction(self, spark, tmp_path, recwarn):
        """Deleting past TOMBSTONE_WARN_FRACTION of the index must warn
        with a rebuild hint; below it, no warning."""
        import numpy as np
        import warnings as _warnings

        from koncorde_spark.fulltext import indexer as ix

        rng = np.random.default_rng(12)
        words = np.array("aa bb cc dd ee".split())
        corpus, _ = TestAppendIndex._corpus(
            spark, TestAppendIndex._mk_docs(rng, 20, words, 6)
        )
        d = str(tmp_path / "idx")
        ix.build_index(spark, corpus, d, ix.IndexConfig(n_shards=2), resume=False)
        ids = [r["doc_id"] for r in
               spark.read.parquet(os.path.join(d, "docs")).select("doc_id").collect()]
        # 10% deleted: silent
        ix.delete_docs(spark, d, ids[:2])
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            ix.read_tombstones(spark, d)
        # past 20%: warns with the compaction hint
        ix.delete_docs(spark, d, ids[2:6])
        with pytest.warns(RuntimeWarning, match="compact_index"):
            ix.read_tombstones(spark, d)


class TestDlpackWorkerCache:
    def test_decode_cached_by_lineage_key(self):
        """Same (index_dir, shard, lineage) key returns the SAME decoded
        arrays without re-decoding; a changed lineage (append) re-decodes."""
        import numpy as np
        import pandas as pd

        from koncorde_spark.fulltext.codecs import delta_encode, varint_encode
        from koncorde_spark.fulltext import indexer as ix

        ids = np.array([3, 9, 20], dtype=np.uint64)
        dls = np.array([5, 7, 11], dtype=np.uint64)
        pack = pd.DataFrame(
            [(0, 3, delta_encode(ids), varint_encode(dls))],
            columns=["shard", "n", "doc_ids", "dls"],
        )
        ix._DLPACK_CACHE.clear()
        a1 = ix._decode_dlpack(pack, ("/idx", 0, 111))
        a2 = ix._decode_dlpack(pack, ("/idx", 0, 111))
        assert a1[0] is a2[0] and a1[1] is a2[1]  # cache hit, no re-decode
        assert list(a1[0]) == [3, 9, 20] and list(a1[1]) == [5.0, 7.0, 11.0]
        a3 = ix._decode_dlpack(pack, ("/idx", 0, 222))  # lineage bumped
        assert a3[0] is not a1[0]
        assert ("/idx", 0, 222) in ix._DLPACK_CACHE
        # keyless decode (no manifests): never cached
        ix._DLPACK_CACHE.clear()
        ix._decode_dlpack(pack, None)
        assert not ix._DLPACK_CACHE

    def test_cache_eviction_bounded(self):
        import numpy as np
        import pandas as pd

        from koncorde_spark.fulltext.codecs import delta_encode, varint_encode
        from koncorde_spark.fulltext import indexer as ix

        pack = pd.DataFrame(
            [(0, 1, delta_encode(np.array([1], dtype=np.uint64)),
              varint_encode(np.array([4], dtype=np.uint64)))],
            columns=["shard", "n", "doc_ids", "dls"],
        )
        ix._DLPACK_CACHE.clear()
        for i in range(ix._DLPACK_CACHE_MAX + 10):
            ix._decode_dlpack(pack, ("/idx", i, 0))
        assert len(ix._DLPACK_CACHE) <= ix._DLPACK_CACHE_MAX


class TestTopkFiltered:
    """Percolation-filtered BM25 search (Bm25Index.topk_filtered): exact
    top-k of the eligible subset under GLOBAL corpus statistics, verified
    against the pandas oracle's eligibility-mask contract."""

    def test_matches_oracle_with_lang_filter(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        for lang in ("python", "javascript"):
            got = idx.topk_filtered(
                "def function import return", {"equals": {"lang": lang}}, k=15
            ).toPandas()
            exp = bm25_oracle_topk(
                small_corpus_pdf,
                "def function import return",
                15,
                eligible=small_corpus_pdf["lang"] == lang,
            )
            assert list(got["doc_id"]) == list(exp["doc_id"]), lang
            assert np.allclose(got["score"], exp["score"], atol=1e-9), lang

    def test_scores_identical_with_and_without_filter(
        self, spark, small_corpus_pdf, bm25_index_dir
    ):
        """The filtered-search contract: a doc's score must not depend on
        the filter (stats stay global) — every (doc, score) in the filtered
        result appears with the SAME score in a large unfiltered top-k."""
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        q = "import ident_00042 return"
        unfiltered = idx.topk(q, len(small_corpus_pdf)).toPandas()
        ref = dict(zip(unfiltered["doc_id"], unfiltered["score"]))
        got = idx.topk_filtered(q, {"equals": {"lang": "go"}}, k=10).toPandas()
        assert len(got) > 0
        for r in got.itertuples():
            assert r.doc_id in ref
            assert abs(ref[r.doc_id] - r.score) < 1e-12

    def test_everything_filter_equals_plain_topk(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        q = "def function import"
        plain = idx.topk(q, 12).toPandas()
        filt = idx.topk_filtered(q, {}, k=12).toPandas()
        assert list(filt["doc_id"]) == list(plain["doc_id"])
        assert np.allclose(filt["score"], plain["score"], atol=0)

    def test_regexp_filter_on_path(self, spark, small_corpus_pdf, bm25_index_dir):
        """Non-equals keyword through the same compiled-matcher kernel."""
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        filt = {"regexp": {"path": {"value": "^src/dir1[0-3]/"}}}
        got = idx.topk_filtered("import return", filt, k=20).toPandas()
        import re

        mask = small_corpus_pdf["path"].map(
            lambda p: re.search("^src/dir1[0-3]/", p) is not None
        )
        exp = bm25_oracle_topk(small_corpus_pdf, "import return", 20, eligible=mask)
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert np.allclose(got["score"], exp["score"], atol=1e-9)

    def test_empty_eligibility_returns_no_rows(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        got = idx.topk_filtered("import", {"equals": {"lang": "cobol"}}, k=5)
        assert got.count() == 0

    def test_unknown_terms_return_no_rows(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        assert idx.topk_filtered("zzz_unknown", {"equals": {"lang": "go"}}, 5).count() == 0
        assert idx.topk_filtered("", {"equals": {"lang": "go"}}, 5).count() == 0

    def test_composes_with_tombstones(self, spark, tmp_path):
        """Filtered search over an index with deletions: eligibility mask
        AND tombstones both apply; block bounds rebuilt over survivors."""
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index, delete_docs
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.sources import synthetic_corpus_pandas

        pdf = synthetic_corpus_pandas(n_rows=120, seed=7)
        out = str(tmp_path / "idx")
        build_index(spark, spark.createDataFrame(pdf), out, IndexConfig(n_shards=2))
        idx = Bm25Index(spark, out)

        # delete the unfiltered-filtered top hit so the filtered search must
        # promote the next eligible doc
        first = idx.topk_filtered(
            "import return", {"equals": {"lang": "python"}}, k=1
        ).toPandas()
        assert len(first) == 1
        docs = spark.read.parquet(os.path.join(out, "docs")).toPandas()
        victim = docs[docs["doc_id"] == first["doc_id"].iloc[0]].iloc[0]
        delete_docs(spark, out, [int(victim["doc_id"])])

        idx2 = Bm25Index(spark, out)
        got = idx2.topk_filtered(
            "import return", {"equals": {"lang": "python"}}, k=10
        ).toPandas()
        assert first["doc_id"].iloc[0] not in set(got["doc_id"])
        mask = (pdf["lang"] == "python") & ~(
            (pdf["repo"] == victim["repo"])
            & (pdf["path"] == victim["path"])
            & (pdf["commit"] == victim["commit"])
        )
        exp = bm25_oracle_topk(pdf, "import return", 10, eligible=mask)
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert np.allclose(got["score"], exp["score"], atol=1e-9)


class TestTopkConjunctive:
    """mode="all" (AND-semantics): only docs containing every query term
    qualify; scores are mode-independent; serve tier is rank-identical."""

    def test_matches_oracle_require_all(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        q = "import return def"
        got = idx.topk(q, 15, mode="all").toPandas()
        exp = bm25_oracle_topk(small_corpus_pdf, q, 15, require_all=True)
        assert len(got) > 0
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert np.allclose(got["score"], exp["score"], atol=1e-9)

    def test_scores_mode_independent(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        q = "import ident_00042"
        any_ = idx.topk(q, len(small_corpus_pdf)).toPandas()
        ref = dict(zip(any_["doc_id"], any_["score"]))
        all_ = idx.topk(q, 10, mode="all").toPandas()
        assert len(all_) > 0
        for r in all_.itertuples():
            assert abs(ref[r.doc_id] - r.score) < 1e-12

    def test_result_subset_of_any(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        q = "import return"
        any_ids = set(idx.topk(q, len(small_corpus_pdf)).toPandas()["doc_id"])
        all_ids = set(idx.topk(q, len(small_corpus_pdf), mode="all").toPandas()["doc_id"])
        assert all_ids <= any_ids

    def test_absent_term_empty(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        assert idx.topk("import zzz_absent_term", 5, mode="all").count() == 0

    def test_serve_parity(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        searcher = LocalSearcher(bm25_index_dir)
        for q in ("import return def", "import ident_00042", "import zzz_absent"):
            dist = [
                (int(r.doc_id), round(float(r.score), 12))
                for r in idx.topk(q, 10, mode="all").toPandas().itertuples()
            ]
            local = [(d, round(s, 12)) for d, s in searcher.topk(q, 10, mode="all")]
            assert dist == local, q

    def test_invalid_mode_raises(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        with pytest.raises(ValueError):
            idx.topk("import", 5, mode="phrase-ish")


class TestPhraseSearch:
    """Positional index + exact-phrase top-k (topk_phrase / serve.phrase):
    adjacency at consecutive token offsets, classic phrase-query scoring,
    verified against the pure-python oracle and the DuckDB list-lambda SQL."""

    def _phrases(self, pdf):
        from koncorde_spark.fulltext.tokenizer import tokenize_text

        t0 = tokenize_text(pdf["content"].iloc[0])
        t7 = tokenize_text(pdf["content"].iloc[7])
        return [" ".join(t0[3:5]), " ".join(t7[10:13]), "import"]

    def test_matches_python_oracle(self, spark, small_corpus_pdf, bm25_pos_index_dir):
        from koncorde_spark.fulltext.oracle import bm25_oracle_phrase
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_pos_index_dir)
        for ph in self._phrases(small_corpus_pdf):
            got = idx.topk_phrase(ph, 12).toPandas()
            exp = bm25_oracle_phrase(small_corpus_pdf, ph, 12)
            assert list(got["doc_id"]) == list(exp["doc_id"]), ph
            assert np.allclose(got["score"], exp["score"], atol=1e-9), ph

    def test_single_token_phrase_equals_topk(self, spark, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_pos_index_dir)
        ph = idx.topk_phrase("import", 10).toPandas()
        tk = idx.topk("import", 10).toPandas()
        assert list(ph["doc_id"]) == list(tk["doc_id"])
        assert np.allclose(ph["score"], tk["score"], atol=0)

    def test_serve_parity(self, spark, small_corpus_pdf, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_pos_index_dir)
        searcher = LocalSearcher(bm25_pos_index_dir)
        for ph in self._phrases(small_corpus_pdf):
            dist = [
                (int(r.doc_id), round(float(r.score), 12))
                for r in idx.topk_phrase(ph, 10).toPandas().itertuples()
            ]
            local = [(d, round(s, 12)) for d, s in searcher.phrase(ph, 10)]
            assert dist == local, ph

    def test_non_positional_index_raises(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        with pytest.raises(RuntimeError, match="positional"):
            idx.topk_phrase("import return", 5)
        with pytest.raises(RuntimeError, match="positional"):
            LocalSearcher(bm25_index_dir).phrase("import return", 5)

    def test_absent_term_and_empty_phrase(self, spark, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_pos_index_dir)
        assert idx.topk_phrase("import zzz_nope", 5).count() == 0
        assert idx.topk_phrase("", 5).count() == 0
        assert LocalSearcher(bm25_pos_index_dir).phrase("import zzz_nope", 5) == []

    def test_overlapping_repeated_tokens(self, spark, tmp_path):
        """'a a' in 'a a a' must count 2 (overlapping starts); repeated
        phrase tokens contribute idf once per repetition."""
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index
        from koncorde_spark.fulltext.oracle import bm25_oracle_phrase
        from koncorde_spark.fulltext.query import Bm25Index

        rows = [
            ("r", f"p{i}", "c", "text/x", content)
            for i, content in enumerate(
                [
                    "alpha alpha alpha beta",
                    "alpha alpha beta gamma",
                    "alpha beta alpha beta",
                    "beta alpha alpha alpha alpha",
                    "gamma delta epsilon",
                ]
            )
        ]
        pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
        out = str(tmp_path / "repidx")
        build_index(
            spark, spark.createDataFrame(pdf), out,
            IndexConfig(n_shards=2, positions=True),
        )
        idx = Bm25Index(spark, out)
        for ph in ("alpha alpha", "alpha alpha alpha", "alpha beta"):
            got = idx.topk_phrase(ph, 5).toPandas()
            exp = bm25_oracle_phrase(pdf, ph, 5)
            assert list(got["doc_id"]) == list(exp["doc_id"]), ph
            assert np.allclose(got["score"], exp["score"], atol=1e-12), ph

    def test_append_preserves_phrase_parity(self, spark, small_corpus_pdf, tmp_path):
        """Appending to a positional index == rebuilding over the union
        (phrase results identical) — positions ride the append pipeline."""
        from koncorde_spark.fulltext.indexer import IndexConfig, append_index, build_index
        from koncorde_spark.fulltext.query import Bm25Index

        cfg = IndexConfig(n_shards=2, positions=True)
        a, b = str(tmp_path / "appended"), str(tmp_path / "rebuilt")
        first = small_corpus_pdf.iloc[:200]
        build_index(spark, spark.createDataFrame(first), a, cfg)
        append_index(spark, spark.createDataFrame(small_corpus_pdf.iloc[200:]), a)
        build_index(spark, spark.createDataFrame(small_corpus_pdf), b, cfg)
        ia, ib = Bm25Index(spark, a), Bm25Index(spark, b)
        from koncorde_spark.fulltext.tokenizer import tokenize_text

        t5 = tokenize_text(small_corpus_pdf["content"].iloc[250])
        for ph in (" ".join(t5[0:2]), "import"):
            ga = ia.topk_phrase(ph, 10).toPandas()
            gb = ib.topk_phrase(ph, 10).toPandas()
            assert list(ga["doc_id"]) == list(gb["doc_id"]), ph
            assert np.allclose(ga["score"], gb["score"], atol=1e-12), ph

    def test_tombstones_drop_phrase_hits(self, spark, small_corpus_pdf, tmp_path):
        """Deletions exclude docs from phrase results without changing the
        scores of survivors (frozen corpus statistics)."""
        from koncorde_spark.fulltext.indexer import (
            IndexConfig, build_index, delete_docs,
        )
        from koncorde_spark.fulltext.oracle import bm25_oracle_phrase
        from koncorde_spark.fulltext.query import Bm25Index

        out = str(tmp_path / "tombphrase")
        build_index(
            spark, spark.createDataFrame(small_corpus_pdf), out,
            IndexConfig(n_shards=2, positions=True),
        )
        idx = Bm25Index(spark, out)
        from koncorde_spark.fulltext.tokenizer import tokenize_text

        ph = " ".join(tokenize_text(small_corpus_pdf["content"].iloc[0])[3:5])
        first = idx.topk_phrase(ph, 1).toPandas()
        assert len(first) == 1
        victim = int(first["doc_id"].iloc[0])
        delete_docs(spark, out, [victim])
        idx2 = Bm25Index(spark, out)
        got = idx2.topk_phrase(ph, 10).toPandas()
        exp = bm25_oracle_phrase(small_corpus_pdf, ph, 11)
        exp = exp[exp["doc_id"] != victim].head(10)
        assert victim not in set(got["doc_id"])
        assert list(got["doc_id"]) == list(exp["doc_id"])
        assert np.allclose(got["score"], exp["score"], atol=1e-9)

    def test_positional_and_plain_topk_agree(self, spark, bm25_index_dir, bm25_pos_index_dir):
        """The sort-based positional tf aggregation must produce the same
        postings as the hash aggregation: identical topk over both."""
        from koncorde_spark.fulltext.query import Bm25Index

        ia, ib = Bm25Index(spark, bm25_index_dir), Bm25Index(spark, bm25_pos_index_dir)
        for q in ("import return def", "ident_00042 import"):
            ga = ia.topk(q, 15).toPandas()
            gb = ib.topk(q, 15).toPandas()
            assert list(ga["doc_id"]) == list(gb["doc_id"]), q
            assert np.allclose(ga["score"], gb["score"], atol=0), q


class TestProximitySearch:
    """slop>0 greedy-chain proximity (topk_phrase(slop=), serve.phrase(slop=),
    bm25_phrase_sql(slop=)): ordered tokens within len-1+slop offsets, each
    later token chained to its smallest strictly-greater position."""

    def _occ(self, docs, term):
        from koncorde_spark.fulltext.phrase import TermOccurrences

        ids, off, pos = [], [0], []
        for d, toks in sorted(docs.items()):
            p = [i for i, t in enumerate(toks) if t == term]
            if p:
                ids.append(d)
                pos.extend(p)
                off.append(off[-1] + len(p))
        return TermOccurrences(
            np.array(ids, np.int64), np.array(off, np.int64), np.array(pos, np.int64)
        )

    @staticmethod
    def _brute(docs, phrase, slop):
        m = len(phrase)
        out = {}
        for d, toks in docs.items():
            cnt = 0
            for p0 in (i for i, t in enumerate(toks) if t == phrase[0]):
                cur, ok = p0, True
                for t in phrase[1:]:
                    nxt = next(
                        (i for i in range(cur + 1, len(toks)) if toks[i] == t), None
                    )
                    if nxt is None:
                        ok = False
                        break
                    cur = nxt
                if ok and cur - p0 - (m - 1) <= slop:
                    cnt += 1
            if cnt:
                out[d] = cnt
        return out

    def test_kernel_fuzz_vs_brute_and_exact(self):
        """300 random corpora: greedy-chain kernel == per-doc python brute;
        slop=0 == the exact-adjacency kernel (span-minimality argument)."""
        import random

        from koncorde_spark.fulltext.phrase import phrase_freqs, proximity_freqs

        rng = random.Random(7)
        vocab = list("abcde")
        for _ in range(300):
            docs = {
                i: [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
                for i in range(rng.randint(1, 8))
            }
            phrase = [rng.choice(vocab) for _ in range(rng.randint(2, 4))]
            slop = rng.randint(0, 4)
            per = [self._occ(docs, t) for t in phrase]
            if any(len(t.doc_ids) == 0 for t in per):
                continue
            ids, ptf = proximity_freqs(per, slop)
            assert dict(zip(ids.tolist(), ptf.tolist())) == self._brute(
                docs, phrase, slop
            ), (phrase, slop, docs)
            i0, p0 = proximity_freqs(per, 0)
            i1, p1 = phrase_freqs(per)
            assert i0.tolist() == i1.tolist() and p0.tolist() == p1.tolist(), phrase

    def test_matches_python_oracle(self, spark, small_corpus_pdf, bm25_pos_index_dir):
        from koncorde_spark.fulltext.oracle import bm25_oracle_phrase
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_pos_index_dir)
        t0 = tokenize_text(small_corpus_pdf["content"].iloc[0])
        cases = [
            (" ".join([t0[3], t0[6]]), 2),   # gap of 2 inside doc 0
            ("import return", 3),
            ("def import", 8),
        ]
        for ph, slop in cases:
            got = idx.topk_phrase(ph, 12, slop=slop).toPandas()
            exp = bm25_oracle_phrase(small_corpus_pdf, ph, 12, slop=slop)
            assert list(got["doc_id"]) == list(exp["doc_id"]), (ph, slop)
            assert np.allclose(got["score"], exp["score"], atol=1e-9), (ph, slop)

    def test_slop_zero_is_exact_phrase(self, spark, small_corpus_pdf, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_pos_index_dir)
        t7 = tokenize_text(small_corpus_pdf["content"].iloc[7])
        ph = " ".join(t7[10:13])
        a = idx.topk_phrase(ph, 15).toPandas()
        b = idx.topk_phrase(ph, 15, slop=0).toPandas()
        assert list(a["doc_id"]) == list(b["doc_id"])
        assert np.allclose(a["score"], b["score"], atol=0)

    def test_match_set_monotone_in_slop(self, spark, small_corpus_pdf, bm25_pos_index_dir):
        """Growing slop can only add matching docs (same phrase, huge k)."""
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_pos_index_dir)
        prev = None
        for slop in (0, 2, 6):
            ids = set(
                idx.topk_phrase("import return", 10_000, slop=slop)
                .toPandas()["doc_id"]
            )
            if prev is not None:
                assert prev <= ids, slop
            prev = ids

    def test_serve_parity(self, spark, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_pos_index_dir)
        searcher = LocalSearcher(bm25_pos_index_dir)
        for ph, slop in (("import return", 3), ("def import", 8)):
            dist = [
                (int(r.doc_id), round(float(r.score), 12))
                for r in idx.topk_phrase(ph, 10, slop=slop).toPandas().itertuples()
            ]
            local = [(d, round(s, 12)) for d, s in searcher.phrase(ph, 10, slop=slop)]
            assert dist == local, (ph, slop)

    def test_sql_twin_matches_python_brute(self):
        """bm25_phrase_sql(slop=) over random whitespace corpora in DuckDB:
        the nested list-lambda chain reproduces the greedy brute counts."""
        import random

        import duckdb

        from koncorde_spark.fulltext.brute import bm25_phrase_sql

        rng = random.Random(11)
        vocab = list("abcd")
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
            for i in range(50)
        ]
        con = duckdb.connect()
        con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
        docs = {i: txt.split() for i, txt in rows}
        for phrase, slop in ((["a", "b"], 1), (["a", "b", "c"], 2), (["b", "a"], 5)):
            sql = bm25_phrase_sql("t", phrase, k=100, slop=slop)
            got = set(con.execute(sql).fetchdf()["doc_id"])
            assert got == set(self._brute(docs, phrase, slop)), (phrase, slop)


class TestCompaction:
    """compact_index: applies tombstones + merges append segments without
    the corpus; result is equivalent to a fresh build over the survivors."""

    @staticmethod
    def _ids_of(pdf):
        from koncorde_spark.fulltext.indexer import doc_id_of

        return [
            doc_id_of(r, p, c)
            for r, p, c in zip(pdf["repo"], pdf["path"], pdf["commit"])
        ]

    def _built(self, spark, tmp_path, positions=False, n_shards=3):
        """Index built from 200 docs + 60 appended, 25 deleted; returns
        (idx_dir, surviving_corpus_pdf, deleted_ids)."""
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.sources import synthetic_corpus_pandas

        base = synthetic_corpus_pandas(n_rows=200, seed=5)
        extra = synthetic_corpus_pandas(n_rows=260, seed=5).iloc[200:]
        d = str(tmp_path / ("cidx_pos" if positions else "cidx"))
        cfg = ix.IndexConfig(n_shards=n_shards, positions=positions)
        ix.build_index(spark, spark.createDataFrame(base).repartition(3), d, cfg,
                       resume=False)
        ix.append_index(spark, spark.createDataFrame(extra).repartition(2), d)
        full = pd.concat([base, extra], ignore_index=True)
        all_ids = self._ids_of(full)
        deleted = [i for n, i in enumerate(all_ids) if n % 9 == 0]
        ix.delete_docs(spark, d, deleted)
        keep = [i not in set(deleted) for i in all_ids]
        return d, full[keep].reset_index(drop=True), deleted

    def test_compact_equals_fresh_rebuild(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.query import Bm25Index

        d, survivors, _ = self._built(spark, tmp_path)
        meta = ix.compact_index(spark, d, n_term_buckets=4)

        ref = str(tmp_path / "ref")
        ref_meta = ix.build_index(
            spark, spark.createDataFrame(survivors).repartition(4), ref,
            ix.IndexConfig(n_shards=3), resume=False,
        )
        assert meta["n_docs"] == ref_meta["n_docs"] == len(survivors)
        assert meta["n_terms"] == ref_meta["n_terms"]
        assert abs(meta["avgdl"] - ref_meta["avgdl"]) < 1e-9

        ia, ib = Bm25Index(spark, d), Bm25Index(spark, ref)
        for q in ("import return def", "ident_00042", "import ident_00007 class"):
            ga, gb = ia.topk(q, 15).toPandas(), ib.topk(q, 15).toPandas()
            assert list(ga["doc_id"]) == list(gb["doc_id"]), q
            assert np.allclose(ga["score"], gb["score"], atol=0), q

        # terms tables identical
        ta = ia.spark.read.parquet(os.path.join(d, "terms")).toPandas()
        tb = ib.spark.read.parquet(os.path.join(ref, "terms")).toPandas()
        pd.testing.assert_frame_equal(
            ta.sort_values("term").reset_index(drop=True),
            tb.sort_values("term").reset_index(drop=True),
        )

    def test_one_segment_per_term_shard_and_tombstones_gone(self, spark, tmp_path):
        import warnings as _warnings

        from koncorde_spark.fulltext import indexer as ix

        d, _, _ = self._built(spark, tmp_path)
        ix.compact_index(spark, d, n_term_buckets=4)
        posts = spark.read.parquet(os.path.join(d, "postings"))
        dup = (
            posts.groupBy("term", "shard").count().where("count > 1").count()
        )
        assert dup == 0
        assert not os.path.exists(os.path.join(d, "tombstones"))
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            assert len(ix.read_tombstones(spark, d)) == 0
        # every segment carries the post-compaction avgdl (bound_scale 1)
        avgdl = ix.read_meta(d)["avgdl"]
        segs = posts.select("avgdl_seg").distinct().collect()
        assert len(segs) == 1 and abs(segs[0][0] - avgdl) < 1e-9

    def test_positional_compact_preserves_phrase_and_proximity(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.oracle import bm25_oracle_phrase
        from koncorde_spark.fulltext.query import Bm25Index

        d, survivors, _ = self._built(spark, tmp_path, positions=True)
        ix.compact_index(spark, d, n_term_buckets=4)
        idx = Bm25Index(spark, d)
        t0 = tokenize_text(survivors["content"].iloc[0])
        for ph, slop in ((" ".join(t0[3:5]), 0), ("import return", 3)):
            got = idx.topk_phrase(ph, 12, slop=slop).toPandas()
            exp = bm25_oracle_phrase(survivors, ph, 12, slop=slop)
            assert list(got["doc_id"]) == list(exp["doc_id"]), (ph, slop)
            assert np.allclose(got["score"], exp["score"], atol=1e-9), (ph, slop)

    def test_idempotent_and_serve_parity(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        d, _, _ = self._built(spark, tmp_path)
        m1 = ix.compact_index(spark, d, n_term_buckets=4)
        a = Bm25Index(spark, d).topk("import return", 10).toPandas()
        m2 = ix.compact_index(spark, d, n_term_buckets=4)
        assert m2["n_docs"] == m1["n_docs"] and m2["n_terms"] == m1["n_terms"]
        b = Bm25Index(spark, d).topk("import return", 10).toPandas()
        assert list(a["doc_id"]) == list(b["doc_id"])
        assert np.allclose(a["score"], b["score"], atol=0)
        local = LocalSearcher(d).topk("import return", 10)
        assert [int(x) for x in a["doc_id"]] == [i for i, _ in local]
        assert np.allclose(a["score"], [s for _, s in local], atol=1e-12)

    def test_append_after_compact(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.sources import synthetic_corpus_pandas

        d, survivors, _ = self._built(spark, tmp_path)
        ix.compact_index(spark, d, n_term_buckets=4)
        extra2 = synthetic_corpus_pandas(n_rows=300, seed=5).iloc[260:]
        meta = ix.append_index(spark, spark.createDataFrame(extra2), d)
        assert meta["n_docs"] == len(survivors) + len(extra2)

        ref = str(tmp_path / "ref2")
        full = pd.concat([survivors, extra2], ignore_index=True)
        ix.build_index(spark, spark.createDataFrame(full).repartition(4), ref,
                       ix.IndexConfig(n_shards=3), resume=False)
        ga = Bm25Index(spark, d).topk("import return def", 15).toPandas()
        gb = Bm25Index(spark, ref).topk("import return def", 15).toPandas()
        assert list(ga["doc_id"]) == list(gb["doc_id"])
        assert np.allclose(ga["score"], gb["score"], atol=1e-12)


class TestPrefixSearch:
    """Wildcard-prefix queries: deterministic (df DESC, term ASC) capped
    expansion from the vocabulary, then standard multi-term BM25."""

    def test_expansion_contract(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        terms = idx.terms.toPandas()
        hits = terms[terms["term"].str.startswith("ident_000")]
        exp = list(
            hits.sort_values(["df", "term"], ascending=[False, True])["term"].head(5)
        )
        got = idx.expand_prefix("ident_000", 5)
        assert got == exp
        assert LocalSearcher(bm25_index_dir).expand_prefix("ident_000", 5) == exp
        assert len(idx.expand_prefix("zzz_no_such", 5)) == 0

    def test_topk_prefix_equals_expanded_topk(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        expanded = idx.expand_prefix("ident_0001", 4)
        assert expanded  # fixture vocabulary has these
        manual = idx.topk(" ".join(sorted({"import", *expanded})), 12).toPandas()
        got = idx.topk_prefix("import ident_0001*", 12, max_expansions=4).toPandas()
        assert list(got["doc_id"]) == list(manual["doc_id"])
        assert np.allclose(got["score"], manual["score"], atol=0)

    def test_serve_parity_and_conjunctive_mode(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        searcher = LocalSearcher(bm25_index_dir)
        for mode in ("any", "all"):
            dist = [
                (int(r.doc_id), round(float(r.score), 12))
                for r in idx.topk_prefix("import ret*", 10, 5, mode=mode)
                .toPandas().itertuples()
            ]
            local = [
                (d, round(s, 12))
                for d, s in searcher.topk_prefix("import ret*", 10, 5, mode=mode)
            ]
            assert dist == local, mode

    def test_invalid_and_empty_prefixes(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        with pytest.raises(ValueError, match="single token"):
            idx.topk_prefix("foo.bar*", 5)
        with pytest.raises(ValueError, match="single token"):
            LocalSearcher(bm25_index_dir).topk_prefix("foo.bar*", 5)
        assert idx.topk_prefix("zzz_no_such*", 5).count() == 0
        assert LocalSearcher(bm25_index_dir).topk_prefix("zzz_no_such*", 5) == []


class TestHighlight:
    """Snippet selection over the positional index (topk_highlight /
    serve.highlight / bm25_highlight_sql): best fixed-width window by
    query-term occurrence count, anchored at occurrences, ties to the
    smallest start."""

    def _occ(self, docs, term):
        return TestProximitySearch._occ(self, docs, term)

    def test_kernel_fuzz_vs_brute(self):
        import random

        from koncorde_spark.fulltext.highlight import best_windows

        rng = random.Random(3)
        vocab = list("abcdef")
        for trial in range(300):
            docs = {
                i: [rng.choice(vocab) for _ in range(rng.randint(1, 50))]
                for i in range(rng.randint(1, 10))
            }
            terms = sorted(set(rng.sample(vocab, rng.randint(1, 3))))
            w = rng.randint(1, 8)
            per = [p for p in (self._occ(docs, t) for t in terms) if len(p.doc_ids)]
            present = sorted(
                d for d, toks in docs.items() if any(t in toks for t in terms)
            )
            if not present:
                continue
            ids = np.array(present, np.int64)
            idx = list(range(len(ids)))
            rng.shuffle(idx)
            ids = ids[idx]
            starts, hits = best_windows(per, ids, w)
            for d, s, h in zip(ids.tolist(), starts.tolist(), hits.tolist()):
                pos = [i for i, t in enumerate(docs[d]) if t in terms]
                best = max(
                    ((p, sum(1 for x in pos if p <= x < p + w)) for p in pos),
                    key=lambda t2: (t2[1], -t2[0]),
                )
                assert (s, h) == best, (trial, d, terms, w, docs[d])

    def test_scores_equal_plain_topk(self, spark, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_pos_index_dir)
        hl = idx.topk_highlight("import return def", 12, window=15).toPandas()
        tk = idx.topk("import return def", 12).toPandas()
        assert list(hl["doc_id"]) == list(tk["doc_id"])
        assert np.allclose(hl["score"], tk["score"], atol=1e-12)
        assert (hl["snip_hits"] >= 1).all()

    def test_serve_parity(self, spark, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_pos_index_dir)
        searcher = LocalSearcher(bm25_pos_index_dir)
        for q, w in (("import return", 10), ("ident_00042 import def", 25)):
            dist = [
                (int(r.doc_id), round(float(r.score), 12), int(r.snip_start),
                 int(r.snip_hits))
                for r in idx.topk_highlight(q, 10, window=w).toPandas().itertuples()
            ]
            local = [
                (d, round(s, 12), st, h)
                for d, s, st, h in searcher.highlight(q, 10, window=w)
            ]
            assert dist == local, (q, w)

    def test_requires_positions_and_absent_terms(self, spark, bm25_index_dir, bm25_pos_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        with pytest.raises(RuntimeError, match="positional"):
            Bm25Index(spark, bm25_index_dir).topk_highlight("import", 5)
        with pytest.raises(RuntimeError, match="positional"):
            LocalSearcher(bm25_index_dir).highlight("import", 5)
        idx = Bm25Index(spark, bm25_pos_index_dir)
        assert idx.topk_highlight("zzz_nope_xx", 5).count() == 0
        assert LocalSearcher(bm25_pos_index_dir).highlight("zzz_nope_xx", 5) == []


class TestMergePolicy:
    """maybe_compact: metadata-only triggers for the streaming merge
    policy — appends since last compaction, or tombstone fraction."""

    def test_every_appends_trigger(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.sources import synthetic_corpus_pandas

        d = str(tmp_path / "idx")
        base = synthetic_corpus_pandas(n_rows=60, seed=9)
        ix.build_index(spark, spark.createDataFrame(base), d,
                       ix.IndexConfig(n_shards=2), resume=False)
        grow = synthetic_corpus_pandas(n_rows=100, seed=9)
        ix.append_index(spark, spark.createDataFrame(grow.iloc[60:80]), d)
        assert ix.maybe_compact(spark, d, every_appends=2) is None
        ix.append_index(spark, spark.createDataFrame(grow.iloc[80:]), d)
        meta = ix.maybe_compact(spark, d, every_appends=2)
        assert meta is not None and meta["n_docs"] == 100
        posts = spark.read.parquet(os.path.join(d, "postings"))
        assert posts.groupBy("term", "shard").count().where("count > 1").count() == 0
        # appends-since resets: the next check does not fire
        assert ix.maybe_compact(spark, d, every_appends=2) is None

    def test_tombstone_fraction_trigger(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.sources import synthetic_corpus_pandas

        d = str(tmp_path / "idx")
        base = synthetic_corpus_pandas(n_rows=50, seed=10)
        ix.build_index(spark, spark.createDataFrame(base), d,
                       ix.IndexConfig(n_shards=2), resume=False)
        ids = [r["doc_id"] for r in
               spark.read.parquet(os.path.join(d, "docs")).select("doc_id").collect()]
        ix.delete_docs(spark, d, ids[:5])  # 10%
        assert ix.maybe_compact(spark, d, tombstone_fraction=0.25) is None
        ix.delete_docs(spark, d, ids[5:20])  # 40% total
        meta = ix.maybe_compact(spark, d, tombstone_fraction=0.25)
        assert meta is not None and meta["n_docs"] == 30
        assert not os.path.exists(os.path.join(d, "tombstones"))


class TestMultiField:
    """MultiFieldSearch: weighted sum of per-field BM25 over per-field
    indexes sharing doc identity (same doc_id → same shard)."""

    @pytest.fixture(scope="class")
    def path_index_dir(self, spark, small_corpus_pdf, tmp_path_factory):
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index

        out = str(tmp_path_factory.mktemp("bm25pathidx"))
        pdf = small_corpus_pdf.copy()
        pdf["content"] = pdf["path"]
        build_index(spark, spark.createDataFrame(pdf).repartition(3), out,
                    IndexConfig(n_shards=4))
        return out

    def test_single_field_weight_one_equals_topk(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.multifield import MultiFieldSearch
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        mf = MultiFieldSearch(spark, {"content": idx})
        a = mf.topk("import return def", 12).toPandas()
        b = idx.topk("import return def", 12).toPandas()
        assert list(a["doc_id"]) == list(b["doc_id"])
        assert np.allclose(a["score"], b["score"], atol=1e-12)

    def test_weighted_sum_matches_python_oracle(
        self, spark, small_corpus_pdf, bm25_index_dir, path_index_dir
    ):
        from koncorde_spark.fulltext.multifield import MultiFieldSearch
        from koncorde_spark.fulltext.oracle import bm25_oracle_topk
        from koncorde_spark.fulltext.query import Bm25Index

        w_path = 3.0
        mf = MultiFieldSearch(
            spark,
            {"content": Bm25Index(spark, bm25_index_dir),
             "path": Bm25Index(spark, path_index_dir)},
            weights={"content": 1.0, "path": w_path},
        )
        q = "import src_00007 py"
        got = mf.topk(q, 15).toPandas()

        pdf_path = small_corpus_pdf.copy()
        pdf_path["content"] = pdf_path["path"]
        a = bm25_oracle_topk(small_corpus_pdf, q, 10_000)
        bshort = bm25_oracle_topk(pdf_path, q, 10_000)
        comb = (
            pd.concat(
                [a.assign(score=a["score"]),
                 bshort.assign(score=w_path * bshort["score"])]
            )
            .groupby("doc_id", as_index=False)["score"].sum()
            .sort_values(["score", "doc_id"], ascending=[False, True],
                         kind="mergesort")
            .head(15)
            .reset_index(drop=True)
        )
        assert list(got["doc_id"]) == list(comb["doc_id"])
        assert np.allclose(got["score"], comb["score"], atol=1e-9)

    def test_zero_weight_drops_field(self, spark, bm25_index_dir, path_index_dir):
        from koncorde_spark.fulltext.multifield import MultiFieldSearch
        from koncorde_spark.fulltext.query import Bm25Index

        ci = Bm25Index(spark, bm25_index_dir)
        mf = MultiFieldSearch(
            spark,
            {"content": ci, "path": Bm25Index(spark, path_index_dir)},
            weights={"content": 1.0, "path": 0.0},
        )
        got = mf.topk("import return", 10).toPandas()
        want = ci.topk("import return", 10).toPandas()
        # zero-weighted field adds 0 to every score but can still ADMIT
        # docs (path-only matches score 0.0) — the positive-score region
        # must be identical
        gp = got[got["score"] > 0]
        assert list(gp["doc_id"]) == list(want["doc_id"][: len(gp)])
        assert np.allclose(gp["score"], want["score"][: len(gp)], atol=1e-12)

    def test_validation(self, spark, bm25_index_dir, tmp_path, small_corpus_pdf):
        from koncorde_spark.fulltext.indexer import IndexConfig, build_index
        from koncorde_spark.fulltext.multifield import MultiFieldSearch
        from koncorde_spark.fulltext.query import Bm25Index

        other = str(tmp_path / "othershards")
        build_index(spark, spark.createDataFrame(small_corpus_pdf), other,
                    IndexConfig(n_shards=2), resume=False)
        with pytest.raises(ValueError, match="n_shards"):
            MultiFieldSearch(
                spark,
                {"a": Bm25Index(spark, bm25_index_dir),
                 "b": Bm25Index(spark, other)},
            )
        with pytest.raises(ValueError, match="at least one"):
            MultiFieldSearch(spark, {})
        mf = MultiFieldSearch(spark, {"a": Bm25Index(spark, bm25_index_dir)})
        assert mf.topk("", 5).count() == 0


class TestFuzzySearch:
    """Fuzzy (edit-distance) queries: deterministic (distance ASC, df
    DESC, term ASC) capped expansion, then standard multi-term BM25."""

    def test_levenshtein_three_way_parity(self, spark):
        """The serve tier's capped DP must agree with Spark's
        F.levenshtein AND DuckDB's levenshtein on random pairs — the
        expansion contract depends on all three being one function."""
        import random

        import duckdb

        from koncorde_spark.fulltext.serve import _levenshtein_capped

        rng = random.Random(17)
        alpha = "abcd_01"
        pairs = [
            (
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 8))),
                "".join(rng.choice(alpha) for _ in range(rng.randint(0, 8))),
            )
            for _ in range(120)
        ]
        from pyspark.sql import functions as SF

        pdf = pd.DataFrame(pairs, columns=["a", "b"])
        sdf = spark.createDataFrame(pdf).select(
            SF.levenshtein("a", "b").alias("d")
        ).toPandas()
        con = duckdb.connect()
        con.register("t", pdf)
        ddf = con.execute("SELECT levenshtein(a, b) AS d FROM t").fetchdf()
        for (a, b), ds_, dd in zip(pairs, sdf["d"], ddf["d"]):
            assert int(ds_) == int(dd), (a, b)
            got = _levenshtein_capped(a, b, 8)
            assert got == int(ds_), (a, b, got, ds_)
            capped = _levenshtein_capped(a, b, 1)
            assert capped == (int(ds_) if int(ds_) <= 1 else None), (a, b)

    def test_expansion_contract(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        searcher = LocalSearcher(bm25_index_dir)
        for term, d, n in (("improt", 2, 5), ("retrn", 1, 3), ("def", 1, 10)):
            a = idx.expand_fuzzy(term, d, n)
            bex = searcher.expand_fuzzy(term, d, n)
            assert a == bex, (term, d, n)
        assert idx.expand_fuzzy("zzzzzzzz", 1, 5) == []

    def test_topk_fuzzy_equals_expanded_topk_and_serve(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        expanded = idx.expand_fuzzy("improt", 2, 5)
        assert "import" in expanded
        manual = idx.topk(" ".join(sorted({"def", *expanded})), 12).toPandas()
        got = idx.topk_fuzzy("def improt~", 12, max_distance=2,
                             max_expansions=5).toPandas()
        assert list(got["doc_id"]) == list(manual["doc_id"])
        assert np.allclose(got["score"], manual["score"], atol=0)
        local = LocalSearcher(bm25_index_dir).topk_fuzzy(
            "def improt~", 12, max_distance=2, max_expansions=5
        )
        assert [int(x) for x in got["doc_id"]] == [i for i, _ in local]
        assert np.allclose(got["score"], [s for _, s in local], atol=1e-12)

    def test_invalid_fuzzy_raises(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        with pytest.raises(ValueError, match="single token"):
            Bm25Index(spark, bm25_index_dir).topk_fuzzy("a.b~", 5)


class TestBooleanSearch:
    """topk_boolean: must/should/must_not with per-term boosts (Lucene
    BooleanQuery semantics over the shared per-shard kernel)."""

    def test_must_only_equals_conjunctive(self, spark, bm25_index_dir):
        """must=[terms], no should/not/boosts ≡ topk(mode='all')."""
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        a = idx.topk_boolean(must=["import return"], k=12).toPandas()
        b = idx.topk("import return", 12, mode="all").toPandas()
        assert list(a["doc_id"]) == list(b["doc_id"])
        assert np.allclose(a["score"], b["score"], atol=1e-12)

    def test_should_only_equals_topk(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index

        idx = Bm25Index(spark, bm25_index_dir)
        a = idx.topk_boolean(should=["import", "return"], k=12).toPandas()
        b = idx.topk("import return", 12).toPandas()
        assert list(a["doc_id"]) == list(b["doc_id"])
        assert np.allclose(a["score"], b["score"], atol=1e-12)

    def test_must_not_excludes_and_boost_scales(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.indexer import doc_id_of

        idx = Bm25Index(spark, bm25_index_dir)
        got = idx.topk_boolean(
            must=["import"], should=["return"], must_not=["ident_00042"],
            boosts={"import": 2.0}, k=10_000,
        ).toPandas()
        # no result doc contains the excluded term; every one has 'import'
        from koncorde_spark.fulltext.tokenizer import tokenize_text as tok

        by_id = {
            doc_id_of(r, p, c): tok(txt)
            for r, p, c, txt in zip(
                small_corpus_pdf["repo"], small_corpus_pdf["path"],
                small_corpus_pdf["commit"], small_corpus_pdf["content"],
            )
        }
        assert len(got) > 0
        for d in got["doc_id"]:
            toks = by_id[int(d)]
            assert "import" in toks and "ident_00042" not in toks
        # the exclusion actually bit: some import-docs DO contain it
        assert len(got) < sum(1 for t in by_id.values() if "import" in t)
        # doubling the boost on a single-term query exactly doubles scores
        s1 = idx.topk_boolean(should=["import"], k=15).toPandas()
        s2 = idx.topk_boolean(should=["import"], boosts={"import": 2.0}, k=15).toPandas()
        assert list(s1["doc_id"]) == list(s2["doc_id"])
        assert np.allclose(2.0 * s1["score"], s2["score"], atol=1e-12)

    def test_serve_parity_and_edge_cases(self, spark, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        searcher = LocalSearcher(bm25_index_dir)
        dist = [
            (int(r.doc_id), round(float(r.score), 12))
            for r in idx.topk_boolean(
                must=["import"], should=["return", "def"], must_not=["class"],
                boosts={"return": 3.0}, k=10,
            ).toPandas().itertuples()
        ]
        local = [
            (d, round(s, 12))
            for d, s in searcher.topk_boolean(
                must=["import"], should=["return", "def"], must_not=["class"],
                boosts={"return": 3.0}, k=10,
            )
        ]
        assert dist == local
        # must term absent from vocabulary → empty; no score terms → empty
        assert idx.topk_boolean(must=["zz_nope"], should=["import"], k=5).count() == 0
        assert searcher.topk_boolean(must=["zz_nope"], should=["import"], k=5) == []
        assert idx.topk_boolean(must_not=["import"], k=5).count() == 0
        # must ∩ must_not → contradiction → empty
        assert idx.topk_boolean(must=["import"], must_not=["import"], k=5).count() == 0

    def test_kernel_fuzz_vs_brute(self):
        """Boolean kernel vs per-doc python brute over random corpora:
        eligibility gates (all-must, none-of-must_not) and boosted score
        sums must agree exactly."""
        import random

        from koncorde_spark.fulltext.highlight import boolean_topk_shard

        rng = random.Random(23)
        vocab = list("abcdef")
        occ = TestProximitySearch._occ

        for trial in range(200):
            docs = {
                i: [rng.choice(vocab) for _ in range(rng.randint(1, 25))]
                for i in range(rng.randint(1, 9))
            }
            must = sorted(set(rng.sample(vocab, rng.randint(0, 2))))
            should = sorted(set(rng.sample(vocab, rng.randint(0, 2))) - set(must))
            must_not = sorted(
                set(rng.sample(vocab, rng.randint(0, 2))) - set(must) - set(should)
            )
            score_terms = sorted(set(must) | set(should))
            if not score_terms:
                continue
            boosts = {t: rng.choice([0.5, 1.0, 2.0]) for t in score_terms}
            per = {t: occ(self, docs, t) for t in set(score_terms + must_not)}
            if any(len(per[t].doc_ids) == 0 for t in must):
                continue
            dl_ids = np.array(sorted(docs), np.int64)
            dl_vals = np.array([len(docs[d]) for d in sorted(docs)], np.float64)
            k1, b, avgdl = 1.2, 0.75, 9.0
            idfs = {t: 0.5 + 0.1 * i for i, t in enumerate(score_terms)}
            st, si = [], []
            for t in score_terms:
                if len(per[t].doc_ids):
                    st.append(per[t])
                    si.append(boosts[t] * idfs[t])
            ids, scores = boolean_topk_shard(
                [[per[t]] for t in must], st, si,
                [per[t] for t in must_not if len(per[t].doc_ids)],
                k1, b, avgdl, dl_ids, dl_vals, 1000,
            )
            exp = {}
            for d, toks in docs.items():
                if any(t not in toks for t in must):
                    continue
                if any(t in toks for t in must_not):
                    continue
                s = 0.0
                for t in score_terms:
                    tf = toks.count(t)
                    if tf:
                        dl = len(toks)
                        s += (
                            boosts[t] * idfs[t] * tf * (k1 + 1)
                            / (tf + k1 * (1 - b + b * dl / avgdl))
                        )
                if s > 0:
                    exp[d] = s
            got = dict(zip(ids.tolist(), scores.tolist()))
            assert set(got) == set(exp), (trial, must, should, must_not)
            for d in exp:
                assert abs(got[d] - exp[d]) < 1e-12, (trial, d)


class TestStatsCommitProtocol:
    """The terms parquet + meta.json stats pair commits with a shared
    version stamp; a crash between the two writes is detected at open
    time instead of silently serving mixed statistics."""

    def test_stamps_matched_through_lifecycle(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.sources import synthetic_corpus_pandas

        d = str(tmp_path / "idx")
        base = synthetic_corpus_pandas(n_rows=60, seed=3)
        grow = synthetic_corpus_pandas(n_rows=90, seed=3)
        ix.build_index(spark, spark.createDataFrame(base), d,
                       ix.IndexConfig(n_shards=2), resume=False)
        assert ix.read_stats_version(d) == ix.read_meta(d)["stats_version"]
        ix.append_index(spark, spark.createDataFrame(grow.iloc[60:]), d)
        assert ix.read_stats_version(d) == ix.read_meta(d)["stats_version"]
        ix.compact_index(spark, d)
        assert ix.read_stats_version(d) == ix.read_meta(d)["stats_version"]

    def test_mismatch_detected_and_compact_repairs(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher
        from koncorde_spark.fulltext import fs as ifs
        from koncorde_spark.sources import synthetic_corpus_pandas

        d = str(tmp_path / "idx")
        ix.build_index(
            spark,
            spark.createDataFrame(synthetic_corpus_pandas(n_rows=60, seed=4)),
            d, ix.IndexConfig(n_shards=2), resume=False,
        )
        # simulate a crash in the swap→meta gap: terms carries a stamp
        # meta.json never recorded
        ifs.write_json(
            os.path.join(d, "terms", ix.STATS_VERSION_FILE), {"v": "deadbeef"}
        )
        with pytest.raises(RuntimeError, match="stats version"):
            Bm25Index(spark, d)
        with pytest.raises(RuntimeError, match="stats version"):
            LocalSearcher(d)
        # the hinted repair path rebuilds consistent stats from postings
        ix.compact_index(spark, d)
        idx = Bm25Index(spark, d)
        got = idx.topk("import return", 10).toPandas()
        assert len(got) > 0
        local = LocalSearcher(d).topk("import return", 10)
        assert [int(x) for x in got["doc_id"]] == [i for i, _ in local]

    def test_all_tombstoned_term_returns_empty(self, spark, tmp_path):
        """Serve-tier regression (review finding): tombstoning EVERY doc
        of a term must return [], not crash on an empty concatenate."""
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        d = str(tmp_path / "idx")
        pdf = pd.DataFrame(
            {
                "repo": ["r"] * 4,
                "path": [f"f{i}.py" for i in range(4)],
                "commit": ["c"] * 4,
                "lang": ["py"] * 4,
                "content": ["unique_xyz alpha", "unique_xyz beta",
                            "gamma delta", "beta gamma"],
            }
        )
        ix.build_index(spark, spark.createDataFrame(pdf), d,
                       ix.IndexConfig(n_shards=2), resume=False)
        ids = [
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(d, "docs"))
            .where("path like 'f0%' or path like 'f1%'").collect()
        ]
        assert len(ids) == 2
        ix.delete_docs(spark, d, ids)
        assert LocalSearcher(d).topk("unique_xyz", 5) == []
        assert LocalSearcher(d).topk("unique_xyz", 5, mode="all") == []
        assert Bm25Index(spark, d).topk("unique_xyz", 5).count() == 0


@pytest.fixture(scope="session")
def tri_corpus_setup(spark, tmp_path_factory):
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.substring import trigram_corpus

    pdf = pd.DataFrame(
        {
            "repo": ["r"] * 6,
            "path": [f"f{i}.py" for i in range(6)],
            "commit": ["c"] * 6,
            "lang": ["py"] * 6,
            "content": [
                "def fetch_rows(self):\n    return self.db.query('SELECT *')",
                "class RowFetcher:\n    def fetch_rows(self): pass",
                "# fetch rows from the DB\nx = 1",
                "SELECT * FROM t -- unrelated",
                "Fetch_Rows mixed CASE variant",
                "unicode: naïve café ☕ test",
            ],
        }
    )
    out = str(tmp_path_factory.mktemp("triidx"))
    corpus = spark.createDataFrame(pdf)
    build_index(spark, trigram_corpus(corpus), out,
                IndexConfig(n_shards=2), resume=False)
    return corpus, Bm25Index(spark, out), pdf

class TestSubstringSearch:
    """Trigram-index substring search: candidates from AND-intersected
    pattern trigrams, exact contains() verification — indistinguishable
    from a full grep scan."""

    def _brute(self, pdf, pattern):
        from koncorde_spark.fulltext.indexer import doc_id_of

        return sorted(
            doc_id_of(r, p, c)
            for r, p, c, t in zip(pdf["repo"], pdf["path"], pdf["commit"],
                                  pdf["content"])
            if pattern in t
        )

    def test_matches_grep_exactly(self, tri_corpus_setup):
        corpus, idx, pdf = tri_corpus_setup
        from koncorde_spark.fulltext.substring import substring_search

        for pat in (
            "fetch_rows", "SELECT *", "def fetch_rows(self)", "db.query",
            "Fetch_Rows", "naïve café", "):\n    return", "zzz_absent",
        ):
            got = sorted(
                r["doc_id"] for r in substring_search(corpus, idx, pat).collect()
            )
            assert got == self._brute(pdf, pat), pat

    def test_short_pattern_fallback(self, tri_corpus_setup):
        corpus, idx, pdf = tri_corpus_setup
        from koncorde_spark.fulltext.substring import substring_search

        for pat in ("x", "db", "☕"):  # ☕ is 3 utf-8 bytes — no fallback
            got = sorted(
                r["doc_id"] for r in substring_search(corpus, idx, pat).collect()
            )
            assert got == self._brute(pdf, pat), pat

    def test_candidates_superset_and_pruning(self, tri_corpus_setup):
        corpus, idx, pdf = tri_corpus_setup
        from koncorde_spark.fulltext.substring import candidates, substring_search

        pat = "fetch_rows"
        cand = sorted(r["doc_id"] for r in candidates(idx, pat).collect())
        hits = sorted(
            r["doc_id"] for r in substring_search(corpus, idx, pat).collect()
        )
        assert set(hits) <= set(cand)
        assert len(cand) < len(pdf)  # the trigrams actually pruned
        with pytest.raises(ValueError, match="trigrams"):
            candidates(idx, "ab")

    def test_rarest_k_cap(self, tri_corpus_setup):
        """Long patterns intersect only the RAREST_K lowest-df trigrams
        (Cox's planner): any subset prunes to a superset, verification
        stays exact — pinned by test_matches_grep_exactly's
        'def fetch_rows(self)' (19 trigrams > RAREST_K). Here: the helper
        is deterministic and actually caps."""
        from koncorde_spark.fulltext.substring import (
            RAREST_K, _rarest, pattern_trigram_tokens)

        toks = pattern_trigram_tokens("def fetch_rows(self):\n    return")
        assert len(toks) > RAREST_K
        dfs = {t: i % 5 for i, t in enumerate(toks)}
        picked = _rarest(toks, dfs)
        assert len(picked) == RAREST_K
        assert picked == _rarest(list(reversed(toks)), dfs)  # order-free
        assert max(dfs[t] for t in picked) <= min(
            dfs[t] for t in toks if t not in picked
        )


class TestRegexSearch:
    """Regex search with required-literal trigram pruning: conservative
    literal extraction, pooled all-required candidates, Python-re
    verification — identical to a full scan."""

    def test_required_literals_extraction(self):
        from koncorde_spark.fulltext.substring import required_literals

        cases = {
            r"batch [a-z]+ merge": ["batch ", " merge"],
            r"def fetch_\w+\(": ["def fetch_", "("],
            r"foo|bar": [],
            r"(abc)+xyz": ["abc", "xyz"],
            r"a?bcdef": ["bcdef"],
            r"^import os$": ["import os"],
            r"(?i)caseless": [],
            r"x{0,3}needle": ["needle"],
            r"[unparseable": [],
            # scoped inline flags: the caseless subtree's literals are NOT
            # byte-required, but siblings outside it still are
            r"(?i:Foo)bar": ["bar"],
            r"pre(?i:MID)post": ["pre", "post"],
            r"(?i:whole)": [],
            r"(a(?i:B)c)tail": ["a", "c", "tail"],
        }
        for pat, want in cases.items():
            assert required_literals(pat) == want, pat

    def test_matches_full_scan(self, spark, tri_corpus_setup):
        corpus, idx, pdf = tri_corpus_setup
        import re as _re

        from koncorde_spark.fulltext.substring import regex_search
        from koncorde_spark.fulltext.indexer import doc_id_of

        for pat in (
            r"def fetch_\w+\(",          # literal-pruned
            r"SELECT \*",                # literal-pruned, escaped meta
            r"fetch|query",              # alternation → full-scan fallback
            r"naïve café",               # unicode literals
            r"zzz_absent_\d+",           # required trigram missing → empty
            r"(?i:FETCH_)rows",          # scoped (?i:) — 'FETCH_' must NOT
                                         # prune (matches fetch_/Fetch_ docs)
            r"(?i:SELECT) \*",           # scoped flag + required ' *' sibling
        ):
            got = sorted(
                r["doc_id"] for r in regex_search(corpus, idx, pat).collect()
            )
            want = sorted(
                doc_id_of(r, p, c)
                for r, p, c, t in zip(pdf["repo"], pdf["path"], pdf["commit"],
                                      pdf["content"])
                if _re.search(pat, t)
            )
            assert got == want, pat


class TestCount:
    """count(query, mode): totalHits without scoring — set semantics
    identical across tiers, tombstone-aware."""

    def test_counts_match_brute_and_serve(self, spark, small_corpus_pdf, bm25_index_dir):
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher

        idx = Bm25Index(spark, bm25_index_dir)
        searcher = LocalSearcher(bm25_index_dir)
        toksets = [set(tokenize_text(t)) for t in small_corpus_pdf["content"]]
        for q in ("import return", "ident_00042", "import zz_nope"):
            terms = set(tokenize_text(q))
            n_any = sum(1 for t in toksets if t & terms)
            n_all = sum(1 for t in toksets if terms <= t)
            assert idx.count(q, "any") == searcher.count(q, "any") == n_any, q
            assert idx.count(q, "all") == searcher.count(q, "all") == n_all, q
        with pytest.raises(ValueError, match="mode"):
            idx.count("import", "most")

    def test_counts_respect_tombstones(self, spark, tmp_path):
        from koncorde_spark.fulltext import indexer as ix
        from koncorde_spark.fulltext.query import Bm25Index
        from koncorde_spark.fulltext.serve import LocalSearcher
        from koncorde_spark.sources import synthetic_corpus_pandas

        d = str(tmp_path / "idx")
        ix.build_index(
            spark,
            spark.createDataFrame(synthetic_corpus_pandas(n_rows=40, seed=6)),
            d, ix.IndexConfig(n_shards=2), resume=False,
        )
        before = Bm25Index(spark, d).count("import", "any")
        ids = [r["doc_id"] for r in
               spark.read.parquet(os.path.join(d, "docs")).limit(5).collect()]
        ix.delete_docs(spark, d, ids)
        after = Bm25Index(spark, d).count("import", "any")
        assert after == LocalSearcher(d).count("import", "any")
        assert after <= before and before - after <= 5
