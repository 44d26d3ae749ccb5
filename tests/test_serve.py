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
    """LocalMultiFieldSearcher is rank- and score-identical to the
    distributed MultiFieldSearch (shared multifield_shard body, same per-field
    statistics and weights)."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.multifield import MultiFieldSearch
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.serve import LocalMultiFieldSearcher

    path_dir = str(tmp_path_factory.mktemp("mfservepath"))
    pdf = small_corpus_pdf.copy()
    pdf["content"] = pdf["path"]
    build_index(spark, spark.createDataFrame(pdf).repartition(3), path_dir,
                IndexConfig(n_shards=4), resume=False)

    weights = {"content": 1.0, "path": 3.0}
    mf = MultiFieldSearch(
        spark,
        {"content": Bm25Index(spark, bm25_index_dir),
         "path": Bm25Index(spark, path_dir)},
        weights=weights,
    )
    local = LocalMultiFieldSearcher(
        {"content": bm25_index_dir, "path": path_dir}, weights=weights
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
    from koncorde_spark.fulltext.serve import LocalMultiFieldSearcher

    s = LocalSearcher(bm25_index_dir)
    mf = LocalMultiFieldSearcher({"content": bm25_index_dir})
    for q, k in QUERIES:
        # bit-equal: both score through decode_segments' tf part and
        # score_union's canonical-term-order sum
        assert mf.topk(q, k) == s.topk(q, k), q


def test_serve_multifield_validation(bm25_index_dir):
    from koncorde_spark.fulltext.serve import LocalMultiFieldSearcher

    with pytest.raises(ValueError, match="at least one"):
        LocalMultiFieldSearcher({})


def test_serve_segment_cache_repeats_identical(bm25_index_dir):
    """The per-handle decoded-segment cache must be invisible: a repeated
    query returns tuple-identical hits (scores bit-equal — the cache
    stores the idf-independent tf-part, so per-query arithmetic is the
    same fl ops), the cache actually populates, and mixed warm/cold term
    sets (one cached term + one new term) still match a fresh handle."""
    s = LocalSearcher(bm25_index_dir)
    first = s.topk("import return", 10)
    assert s._seg_cache  # populated by the first query
    assert s.topk("import return", 10) == first
    # 'import' is warm, 'def' cold — must equal a fresh handle's answer
    mixed = s.topk("import def", 10)
    assert mixed == LocalSearcher(bm25_index_dir).topk("import def", 10)
    # conjunctive path rides the same cache
    assert s.topk("import return", 10, mode="all") == LocalSearcher(
        bm25_index_dir
    ).topk("import return", 10, mode="all")


def test_serve_segment_cache_eviction_never_breaks_current_query(bm25_index_dir):
    """Under a tiny cache budget every query still scores ALL its terms:
    eviction must never drop a term of the query being executed."""
    s = LocalSearcher(bm25_index_dir)
    s._SEG_CACHE_MAX_TERMS = 1  # force eviction pressure on every query
    fresh = LocalSearcher(bm25_index_dir)
    for q in ("import return", "def function import", "import ident_00001 return"):
        assert s.topk(q, 10) == fresh.topk(q, 10), q
    assert len(s._seg_cache) >= 1


def test_serve_segment_cache_running_count_matches_recount(bm25_index_dir):
    """The cache's running entry count (_seg_entries, updated on insert
    and on eviction) equals a fresh recount after every query of a random
    sequence that crosses BOTH caps — the term cap on runs of mid-df
    terms, the entry cap on runs of hot ones — and every answer equals a
    fresh handle's."""
    s = LocalSearcher(bm25_index_dir)
    s._SEG_CACHE_MAX_TERMS = 8
    s._SEG_CACHE_MAX_ENTRIES = 1500
    fresh = LocalSearcher(bm25_index_dir)
    by_df = sorted(s._df, key=lambda t: (-s._df[t], t))
    hot, mid = by_df[:20], by_df[200:240]
    rng = np.random.default_rng(5)
    fired = {"terms": 0, "entries": 0}
    for i in range(80):
        pool = hot if (i // 10) % 2 else mid
        q = " ".join(rng.choice(pool, size=int(rng.integers(1, 4)), replace=False))
        before = set(s._seg_cache)
        assert s.topk(q, 10) == fresh.topk(q, 10), q
        assert s._seg_entries == sum(
            len(seg[0]) for segs in s._seg_cache.values() for _, seg in segs
        )
        if before - set(s._seg_cache):
            # an eviction stopped at the first cap it satisfied both
            full = len(s._seg_cache) == s._SEG_CACHE_MAX_TERMS
            fired["terms" if full else "entries"] += 1
        assert len(s._seg_cache) <= s._SEG_CACHE_MAX_TERMS
        assert s._seg_entries <= s._SEG_CACHE_MAX_ENTRIES
    assert fired["terms"] and fired["entries"], fired
