"""LocalSearcher (Spark-free serving) is rank-identical to both the
distributed query path and the pandas oracle."""

import numpy as np
import pytest

from koncorde_spark.fulltext.oracle import bm25_oracle_topk
from koncorde_spark.fulltext.serve import LocalSearcher

QUERIES = [
    ("import ident_00001", 10),
    ("ident_00042 ident_00100 return", 25),
    ("def function import return", 10),
    ("missingterm_zzz", 5),
    ("", 5),
]


@pytest.mark.spark
def test_serve_rank_identical(small_corpus_pdf, bm25_index_dir):
    s = LocalSearcher(bm25_index_dir)
    for q, k in QUERIES:
        got = s.topk(q, k)
        exp = bm25_oracle_topk(small_corpus_pdf, q, k)
        assert [d for d, _ in got] == list(exp["doc_id"]), q
        assert np.allclose([x for _, x in got], exp["score"], atol=1e-9), q


@pytest.mark.spark
def test_serve_equals_spark_path(spark, bm25_index_dir):
    from koncorde_spark.fulltext.query import Bm25Index

    s = LocalSearcher(bm25_index_dir)
    idx = Bm25Index(spark, bm25_index_dir)
    q = "import ident_00007 ident_00123"
    local = s.topk(q, 15)
    dist = [(int(r["doc_id"]), float(r["score"])) for r in idx.topk(q, 15).collect()]
    assert [d for d, _ in local] == [d for d, _ in dist]
    assert np.allclose([x for _, x in local], [x for _, x in dist], atol=0)


@pytest.mark.spark
def test_serve_multifield_equals_spark_path(
    spark, small_corpus_pdf, bm25_index_dir, tmp_path_factory
):
    """MultiFieldSearch over LocalSearcher fields is rank- and
    score-identical to it over Bm25Index fields (one plan, shared
    multifield_shard body, same per-field statistics and weights)."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.multifield import MultiFieldSearch
    from koncorde_spark.fulltext.query import Bm25Index

    path_dir = str(tmp_path_factory.mktemp("mfservepath"))
    pdf = small_corpus_pdf.copy()
    pdf["content"] = pdf["path"]
    build_index(spark, spark.createDataFrame(pdf).repartition(3), path_dir,
                IndexConfig(n_shards=4), resume=False)

    weights = {"content": 1.0, "path": 3.0}
    mf = MultiFieldSearch(
        {"content": Bm25Index(spark, bm25_index_dir),
         "path": Bm25Index(spark, path_dir)},
        weights=weights,
    )
    local = MultiFieldSearch(
        {"content": LocalSearcher(bm25_index_dir), "path": LocalSearcher(path_dir)},
        weights=weights,
    )
    for q, k in [
        ("import src_00007 py", 15),
        ("import return def", 12),
        ("missingterm_zzz", 5),
        ("", 5),
    ]:
        dist = [
            (int(r["doc_id"]), float(r["score"]))
            for r in mf.topk(q, k).collect()
        ]
        got = local.topk(q, k)
        assert got == dist, q


@pytest.mark.spark
def test_multifield_rejects_mixed_tiers(spark, bm25_index_dir):
    """Fields mixing Bm25Index and LocalSearcher raise at the
    constructor, naming both tiers."""
    from koncorde_spark.fulltext.multifield import MultiFieldSearch
    from koncorde_spark.fulltext.query import Bm25Index

    with pytest.raises(ValueError, match="mix search tiers.*Bm25Index.*LocalSearcher"):
        MultiFieldSearch({"content": LocalSearcher(bm25_index_dir),
                          "path": Bm25Index(spark, bm25_index_dir)})


def test_shard_scores_independent_of_row_order():
    """The boolean and multi-field bodies sort their rows by term before
    they accumulate: every permutation of one shard's rows (and both row
    shapes — the Spark cogroup's pandas frame, the serve tier's column
    dict) gives bytes-equal scores, equal to score_union's sum in
    canonical term order, although adding the same terms in another order
    changes the bits of some docs' float64 sums."""
    import itertools

    import pandas as pd

    from koncorde_spark.fulltext.codecs import delta_encode, varint_encode
    from koncorde_spark.fulltext.serve import (
        boolean_shard,
        decode_segments,
        multifield_shard,
        segment_postings,
    )
    from koncorde_spark.fulltext.wand import score_union

    rng = np.random.default_rng(7)
    n_docs = 2_000
    dl = (np.arange(n_docs, dtype=np.int64), rng.integers(5, 400, n_docs).astype(np.float64))
    rows = {"term": [], "df": [], "doc_ids": [], "tfs": []}
    for term in ("t0", "t1", "t2", "t3"):
        ids = np.sort(rng.choice(n_docs, 1_200, replace=False)).astype(np.uint64)
        rows["term"].append(term)
        rows["df"].append(len(ids))
        rows["doc_ids"].append(delta_encode(ids))
        rows["tfs"].append(varint_encode(rng.integers(1, 30, len(ids)).astype(np.uint64)))
    idf = {t: float(v) for t, v in zip(rows["term"], rng.uniform(0.1, 7.0, 4))}

    def permuted(order):
        return {c: [v[i] for i in order] for c, v in rows.items()}

    def bodies(shaped):
        return (
            boolean_shard(shaped, dl, [], idf, [], 1.2, 0.75, 97.3, n_docs, None),
            multifield_shard(
                [(shaped, dl, idf, 97.3, 1.0, None), (shaped, dl, idf, 41.5, 3.0, None)],
                1.2, 0.75, n_docs,
            ),
        )

    segs = dict(decode_segments(rows, dl, 1.2, 0.75, 97.3))
    canon_ids, canon = score_union([segment_postings(segs[t], idf[t]) for t in sorted(idf)])
    want = bodies(rows)
    by_id = np.argsort(want[0][0])
    assert np.array_equal(want[0][0][by_id], canon_ids)
    assert want[0][1][by_id].tobytes() == canon.tobytes()
    raw_differs = False
    for order in itertools.permutations(range(4)):
        for shaped in (permuted(order), pd.DataFrame(permuted(order))):
            for (ids, scores), (want_ids, want_sc) in zip(bodies(shaped), want):
                assert np.array_equal(ids, want_ids)
                assert scores.tobytes() == want_sc.tobytes(), order
        # the same segments summed unsorted: the order shows
        terms = [rows["term"][i] for i in order]
        raw = score_union([segment_postings(segs[t], idf[t]) for t in terms])[1]
        raw_differs |= raw.tobytes() != canon.tobytes()
    assert raw_differs


def test_serve_multifield_single_field_equals_topk(bm25_index_dir):
    """One field at weight 1.0 degenerates to plain topk."""
    from koncorde_spark.fulltext.multifield import MultiFieldSearch

    s = LocalSearcher(bm25_index_dir)
    mf = MultiFieldSearch({"content": s})
    for q, k in QUERIES:
        # bit-equal: both score through decode_segments' tf part and
        # score_union's canonical-term-order sum
        assert mf.topk(q, k) == s.topk(q, k), q


def test_serve_multifield_validation(bm25_index_dir):
    from koncorde_spark.fulltext.multifield import MultiFieldSearch

    with pytest.raises(ValueError, match="at least one"):
        MultiFieldSearch({})
    s = LocalSearcher(bm25_index_dir)
    with pytest.raises(ValueError, match=r"name no field: \['pth'\]"):
        MultiFieldSearch({"content": s, "path": s}, weights={"pth": 3.0})
    with pytest.raises(ValueError, match="finite"):
        MultiFieldSearch({"content": s, "path": s}, weights={"path": float("nan")})


def test_serve_repeats_identical(bm25_index_dir):
    """A handle keeps no per-query state: a repeated query returns
    tuple-identical hits (scores bit-equal), a query sharing one term
    with an earlier one equals a fresh handle's answer, and so does the
    conjunctive path."""
    s = LocalSearcher(bm25_index_dir)
    first = s.topk("import return", 10)
    assert first
    assert s.topk("import return", 10) == first
    # 'import' was looked up before, 'def' was not
    mixed = s.topk("import def", 10)
    assert mixed == LocalSearcher(bm25_index_dir).topk("import def", 10)
    assert s.topk("import return", 10, mode="all") == LocalSearcher(
        bm25_index_dir
    ).topk("import return", 10, mode="all")


@pytest.mark.spark
def test_serve_handle_keeps_its_snapshot(spark, small_corpus_pdf, tmp_path_factory):
    """A LocalSearcher opened before delete_docs + compact_index +
    append_index keeps answering from the index it opened (every operator
    tuple-equal to its answers before the writes), while a fresh handle
    sees the new state — the appended docs counted, the deletes gone — and
    agrees with a fresh Bm25Index."""
    from koncorde_spark.fulltext.indexer import (
        IndexConfig, append_index, build_index, compact_index, delete_docs,
    )
    from koncorde_spark.fulltext.query import Bm25Index

    d = str(tmp_path_factory.mktemp("snapidx"))
    build_index(
        spark, spark.createDataFrame(small_corpus_pdf.iloc[:200]), d,
        IndexConfig(n_shards=3, positions=True), resume=False,
    )
    old = LocalSearcher(d)

    def answers(s):
        return [
            s.topk("import return", 10),
            s.topk("def ident_00000 function", 10, mode="all"),
            s.count("import return"),
            s.topk_boolean(must=["import"], should=["return"], must_not=["def"], k=10),
            s.phrase("import ident_00000", 10),
            s.highlight("import return def", 10, window=6),
            s.topk_prefix("ident_0000* return", 10),
        ]

    before = answers(old)
    victims = [d_ for d_, _ in before[0][:3]]
    assert delete_docs(spark, d, victims) == 3
    compact_index(spark, d)
    append_index(spark, spark.createDataFrame(small_corpus_pdf.iloc[200:]), d)

    assert answers(old) == before
    fresh = LocalSearcher(d)
    assert fresh.meta["n_docs"] == old.meta["n_docs"] + 100 - 3
    after = answers(fresh)
    assert after != before
    assert not set(victims) & {d_ for d_, _ in after[0]}
    idx = Bm25Index(spark, d)
    for q in ("import return", "def function"):
        dist = [(int(r["doc_id"]), float(r["score"])) for r in idx.topk(q, 10).collect()]
        assert fresh.topk(q, 10) == dist, q
    assert fresh.count("import return") == idx.count("import return")
    idx.close()


def test_vocabulary_prefix_range_equals_linear_scan():
    """Vocabulary.prefix (one searchsorted range of the term-sorted
    vocabulary) returns what a linear ``startswith`` scan ranked by
    (df DESC, term ASC) returns, for random vocabularies: the empty
    prefix, a prefix equal to a whole term, prefixes before the first and
    past the last term, and caps of 0, 1 and more than the hits. The
    alphabet holds a non-ASCII letter and the largest code point, whose
    prefixes have no one-character successor."""
    import pyarrow as pa
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from koncorde_spark.fulltext.serve import Vocabulary

    def linear(vocab, prefix, cap):
        hits = [(t, df) for t, df in vocab.items() if t.startswith(prefix)]
        hits.sort(key=lambda h: (-h[1], h[0]))
        return [t for t, _ in hits[:cap]]

    words = st.text("0_abzé\U0010ffff", max_size=5)

    @settings(max_examples=300, deadline=None)
    @given(
        st.dictionaries(words.filter(bool), st.integers(1, 4), max_size=25),
        words, st.integers(0, 30), st.data(),
    )
    def check(vocab, prefix, cap, data):
        v = Vocabulary(pa.table({
            "term": pa.array(list(vocab), pa.string()),
            "df": pa.array(list(vocab.values()), pa.int64()),
        }))
        terms = sorted(vocab)
        prefixes = [prefix, "", "/", "\U0010ffff" * 6]  # "/" < "0": before every term
        if terms:
            whole = data.draw(st.sampled_from(terms))
            prefixes += [whole, whole[:-1], terms[0], terms[-1], terms[-1] + "a"]
        for p in prefixes:
            for c in (0, 1, cap, len(vocab) + 1):
                assert v.prefix(p, c) == linear(vocab, p, c), (p, c)

    check()
