"""Federated multi-index search: combined statistics, member-local avgdl.

The defining property: a document's score must not depend on WHICH member
index it lives in — idf comes from the combined (N, df) — while document
length normalizes by the member's own avgdl (the append-equivalence rule).
Pinned against a pandas recompute of exactly that formula, plus the
degenerate single-member case which must equal plain topk bit-for-bit.
"""

import numpy as np
import pandas as pd
import pytest

from koncorde_spark.fulltext.federate import combined_stats, federated_topk
from koncorde_spark.fulltext.tokenizer import tokenize_text
from koncorde_spark.fulltext.wand import bm25_idf

Q = "import ident_00001 return"


def _federated_oracle(pdfs: list[pd.DataFrame], query: str, k: int):
    """Pandas recompute: global idf, per-member avgdl."""
    from koncorde_spark.fulltext.indexer import doc_id_of

    q_terms = sorted(set(tokenize_text(query)))
    members = []
    for pdf in pdfs:
        toks = [tokenize_text(t) for t in pdf["content"]]
        ids = np.array(
            [doc_id_of(r, p, c) for r, p, c in
             zip(pdf["repo"], pdf["path"], pdf["commit"])],
            dtype=np.int64,
        )
        dls = np.array([len(t) for t in toks], dtype=np.float64)
        members.append((ids, toks, dls, dls.mean()))
    n_docs = sum(len(m[0]) for m in members)
    dfs = {
        t: sum(sum(t in set(doc) for doc in m[1]) for m in members)
        for t in q_terms
    }
    rows = []
    k1, b = 1.2, 0.75
    for ids, toks, dls, avgdl in members:
        scores = np.zeros(len(ids))
        for t in q_terms:
            if dfs[t] == 0:
                continue
            tf = np.array([doc.count(t) for doc in toks], dtype=np.float64)
            idf = bm25_idf(n_docs, dfs[t])
            part = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dls / avgdl))
            scores += np.where(tf > 0, idf * part, 0.0)
        hit = scores > 0
        rows.extend(zip(ids[hit].tolist(), scores[hit].tolist()))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


@pytest.fixture(scope="module")
def fed_members(spark, small_corpus_pdf, tmp_path_factory):
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index

    halves, members = [], []
    for par in (0, 1):
        pdf = small_corpus_pdf[
            small_corpus_pdf.index % 2 == par
        ].reset_index(drop=True)
        out = str(tmp_path_factory.mktemp(f"fed{par}"))
        build_index(spark, spark.createDataFrame(pdf).repartition(3), out,
                    IndexConfig(n_shards=3), resume=False)
        halves.append(pdf)
        members.append(Bm25Index(spark, out))
    return halves, members


@pytest.mark.spark
def test_federated_matches_combined_stats_oracle(fed_members):
    halves, members = fed_members
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in federated_topk(members, Q, 15).collect()
    ]
    exp = _federated_oracle(halves, Q, 15)
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert np.allclose([s for _, s in got], [s for _, s in exp], atol=1e-12)


@pytest.mark.spark
def test_federated_single_member_is_plain_topk(spark, bm25_index_dir):
    from koncorde_spark.fulltext.query import Bm25Index

    idx = Bm25Index(spark, bm25_index_dir)
    fed = [
        (int(r["doc_id"]), float(r["score"]))
        for r in federated_topk([idx], Q, 12).collect()
    ]
    plain = [
        (int(r["doc_id"]), float(r["score"]))
        for r in idx.topk(Q, 12).collect()
    ]
    assert fed == plain


@pytest.mark.spark
def test_federated_conjunctive_and_pagination(fed_members):
    halves, members = fed_members
    q = "import return"
    all_pdf = pd.concat(halves, ignore_index=True)
    # conjunctive: every result doc contains both terms
    rows = federated_topk(members, q, 10, mode="all").collect()
    assert rows
    text_of = {}
    from koncorde_spark.fulltext.indexer import doc_id_of

    for _, r in all_pdf.iterrows():
        text_of[doc_id_of(r["repo"], r["path"], r["commit"])] = r["content"]
    for r in rows:
        toks = set(tokenize_text(text_of[int(r["doc_id"])]))
        assert {"import", "return"} <= toks
    # pagination tiles across members
    k = 6
    p1 = [(int(r["doc_id"]), float(r["score"]))
          for r in federated_topk(members, q, k).collect()]
    cursor = (p1[-1][1], p1[-1][0])
    p2 = [(int(r["doc_id"]), float(r["score"]))
          for r in federated_topk(members, q, k, after=cursor).collect()]
    exp = _federated_oracle(halves, q, 2 * k)
    assert [d for d, _ in p1 + p2] == [d for d, _ in exp]


@pytest.mark.spark
def test_combined_stats_sum(fed_members, small_corpus_pdf):
    _, members = fed_members
    n, dfs = combined_stats(members, ["import", "return", "zzz_missing"])
    assert n == len(small_corpus_pdf)
    toks = [set(tokenize_text(t)) for t in small_corpus_pdf["content"]]
    assert dfs["import"] == sum("import" in t for t in toks)
    assert dfs["return"] == sum("return" in t for t in toks)
    assert "zzz_missing" not in dfs


@pytest.mark.spark
def test_local_federated_matches_spark_tier(fed_members):
    """Serving-tier federation is rank- and score-identical to the
    distributed path (shared kernels, same combined statistics)."""
    from koncorde_spark.fulltext.federate import LocalFederatedSearcher

    halves, members = fed_members
    lf = LocalFederatedSearcher([m.index_dir for m in members])
    for q, mode in [(Q, "any"), ("import return", "all")]:
        local = lf.topk(q, 12, mode=mode)
        dist = [
            (int(r["doc_id"]), float(r["score"]))
            for r in federated_topk(members, q, 12, mode=mode).collect()
        ]
        assert local == dist, (q, mode)
    # pagination parity
    p1 = lf.topk(Q, 5)
    cursor = (p1[-1][1], p1[-1][0])
    assert lf.topk(Q, 5, after=cursor) == [
        (int(r["doc_id"]), float(r["score"]))
        for r in federated_topk(members, Q, 5, after=cursor).collect()
    ]


@pytest.mark.spark
def test_federated_rejects_mixed_constants(spark, small_corpus_pdf, tmp_path):
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index

    out = str(tmp_path / "k1idx")
    build_index(
        spark,
        spark.createDataFrame(small_corpus_pdf.head(50)).repartition(2),
        out, IndexConfig(n_shards=2, k1=0.9), resume=False,
    )
    a = Bm25Index(spark, out)
    out2 = str(tmp_path / "k2idx")
    build_index(
        spark,
        spark.createDataFrame(small_corpus_pdf.tail(50)).repartition(2),
        out2, IndexConfig(n_shards=2), resume=False,
    )
    b = Bm25Index(spark, out2)
    with pytest.raises(ValueError, match=r"members disagree on BM25 constants \(k1, b\)"):
        federated_topk([a, b], Q, 5)


@pytest.mark.spark
def test_federated_count_adds_members(fed_members, small_corpus_pdf):
    from koncorde_spark.fulltext.federate import (
        LocalFederatedSearcher,
        federated_count,
    )

    halves, members = fed_members
    toks = [set(tokenize_text(t)) for t in small_corpus_pdf["content"]]
    exp_any = sum(1 for t in toks if t & {"import", "return"})
    exp_all = sum(1 for t in toks if {"import", "return"} <= t)
    assert federated_count(members, "import return") == exp_any
    assert federated_count(members, "import return", mode="all") == exp_all
    lf = LocalFederatedSearcher([m.index_dir for m in members])
    assert lf.count("import return") == exp_any
    assert lf.count("import return", mode="all") == exp_all


@pytest.mark.spark
def test_mixed_constants_count_ok_topk_rejected_locally(
    spark, small_corpus_pdf, tmp_path
):
    """count() is scoring-free: mixed-k1/b members count on BOTH tiers;
    only scoring calls reject — tier-identical behavior."""
    from koncorde_spark.fulltext.federate import (
        LocalFederatedSearcher,
        federated_count,
    )
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.multifield import MultiFieldSearch
    from koncorde_spark.fulltext.query import Bm25Index

    dirs = []
    for i, cfg in enumerate(
        (IndexConfig(n_shards=2, k1=0.9), IndexConfig(n_shards=2))
    ):
        out = str(tmp_path / f"mix{i}")
        half = small_corpus_pdf.head(50) if i == 0 else small_corpus_pdf.tail(50)
        build_index(spark, spark.createDataFrame(half).repartition(2), out,
                    cfg, resume=False)
        dirs.append(out)
    members = [Bm25Index(spark, d) for d in dirs]
    lf = LocalFederatedSearcher(dirs)
    n_spark = federated_count(members, "import")
    assert lf.count("import") == n_spark > 0
    # federation and multi-field search share one member-list rule
    for scored in (lambda: lf.topk("import", 5),
                   lambda: MultiFieldSearch(dict(zip("ab", lf.members)))):
        with pytest.raises(ValueError, match=r"members disagree on BM25 constants \(k1, b\)"):
            scored()


@pytest.mark.spark
def test_federated_rejects_mixed_tiers(fed_members):
    """A member list mixing Bm25Index and LocalSearcher raises at the
    call, naming both tiers — not later inside one tier's cut."""
    from koncorde_spark.fulltext.serve import LocalSearcher

    _, (a, b) = fed_members
    for members in ([a, LocalSearcher(b.index_dir)], [LocalSearcher(a.index_dir), b]):
        with pytest.raises(ValueError, match="mix search tiers.*Bm25Index.*LocalSearcher"):
            federated_topk(members, Q, 5)
