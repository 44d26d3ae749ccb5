"""search_after pagination, field collapsing, suggester, histogram facet.

The pagination contract is pure: page N+1 via the cursor taken from page
N's last row must equal ranks N*k+1..(N+1)*k of the unpaginated ranking —
checked against the pandas oracle, across tiers, across modes, and through
a tie group straddling the page boundary.
"""

import numpy as np
import pandas as pd
import pytest

from koncorde_spark.fulltext.oracle import bm25_oracle_topk
from koncorde_spark.fulltext.serve import LocalSearcher
from koncorde_spark.fulltext.wand import TermPostings, score_union, topk_disjunctive

Q = "import ident_00001 return"


def _pages_local(s, q, k, n_pages, mode="any"):
    pages, after = [], None
    for _ in range(n_pages):
        page = s.topk(q, k, mode=mode, after=after)
        pages.append(page)
        if not page:
            break
        # cursor is in SORT-KEY order (score, doc_id) — ES search_after
        after = (page[-1][1], page[-1][0])
    return pages


@pytest.mark.spark
def test_search_after_tiles_oracle_ranking(small_corpus_pdf, bm25_index_dir):
    s = LocalSearcher(bm25_index_dir)
    k = 7
    pages = _pages_local(s, Q, k, 4)
    flat = [d for page in pages for d, _ in page]
    exp = bm25_oracle_topk(small_corpus_pdf, Q, 4 * k)
    assert flat == list(exp["doc_id"])
    scores = [x for page in pages for _, x in page]
    assert np.allclose(scores, exp["score"], atol=0)


@pytest.mark.spark
def test_search_after_spark_equals_local(spark, bm25_index_dir):
    from koncorde_spark.fulltext.query import Bm25Index

    idx = Bm25Index(spark, bm25_index_dir)
    s = LocalSearcher(bm25_index_dir)
    k = 6
    p1 = [(int(r["doc_id"]), float(r["score"])) for r in idx.topk(Q, k).collect()]
    cursor = (p1[-1][1], p1[-1][0])
    p2 = [
        (int(r["doc_id"]), float(r["score"]))
        for r in idx.topk(Q, k, after=cursor).collect()
    ]
    lp = _pages_local(s, Q, k, 2)
    assert p1 == lp[0]
    assert p2 == lp[1]


@pytest.mark.spark
def test_search_after_conjunctive_mode(small_corpus_pdf, bm25_index_dir):
    s = LocalSearcher(bm25_index_dir)
    q, k = "import return def", 9
    pages = _pages_local(s, q, k, 3, mode="all")
    flat = [d for page in pages for d, _ in page]
    exp = bm25_oracle_topk(small_corpus_pdf, q, 3 * k, require_all=True)
    assert flat == list(exp["doc_id"])


@pytest.mark.spark
def test_search_after_cursor_inside_tie_group(spark, tmp_path):
    """Duplicate texts score identically; a page boundary inside the tie
    group must split it by doc_id without dropping or repeating a doc."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index

    rows = []
    for i in range(30):
        text = "alpha beta gamma" if i < 12 else f"alpha filler_{i} tail_{i}"
        rows.append(
            {"repo": "r", "path": f"p{i:03d}.txt", "commit": f"c{i:03d}",
             "lang": "py", "content": text}
        )
    pdf = pd.DataFrame(rows)
    out = str(tmp_path / "tieidx")
    build_index(spark, spark.createDataFrame(pdf).repartition(3), out,
                IndexConfig(n_shards=3), resume=False)
    s = LocalSearcher(out)
    k = 5  # 12 identical-score docs -> boundary falls inside the tie run
    pages = _pages_local(s, "alpha beta gamma", k, 6)
    flat = [d for page in pages for d, _ in page]
    exp = bm25_oracle_topk(pdf, "alpha beta gamma", 30)
    assert flat == list(exp["doc_id"])
    assert len(flat) == len(set(flat))


def _mk_postings(rng, n_docs, n_entries):
    ids = np.sort(rng.choice(n_docs, size=n_entries, replace=False)).astype(np.int64)
    return TermPostings(ids, rng.uniform(0.1, 5.0, size=n_entries))


def test_wand_after_kernel_tiles_brute():
    """Kernel-level: the disjunctive kernel with an after cursor returns
    exactly the next k ranks of brute full scoring, page after page until
    exhaustion."""
    rng = np.random.default_rng(7)
    terms = [_mk_postings(rng, 500, n) for n in (220, 160, 90)]
    ids, acc = score_union(terms)
    order = np.lexsort((ids, -acc))
    brute = list(zip(ids[order].tolist(), acc[order].tolist()))
    k, got, after = 13, [], None
    while True:
        pids, pscores = topk_disjunctive(terms, k, after=after)
        if len(pids) == 0:
            break
        got.extend(zip(pids.tolist(), pscores.tolist()))
        after = (float(pscores[-1]), int(pids[-1]))
    assert got == brute
    # a cursor taken mid-ranking (not from a page end) starts right after it
    mid = brute[20]
    a_ids, a_sc = topk_disjunctive(terms, 9, after=(mid[1], mid[0]))
    assert list(zip(a_ids.tolist(), a_sc.tolist())) == brute[21:30]


@pytest.mark.spark
def test_collapse_topk_matches_pandas(spark, small_corpus_pdf, bm25_index_dir):
    """One winner per lang; winner and global cut tie-break by internal
    doc_id — checked against a pandas recompute over full oracle scores."""
    from koncorde_spark.fulltext.indexer import doc_id_of
    from koncorde_spark.fulltext.query import Bm25Index
    from pyspark.sql import functions as F

    idx = Bm25Index(spark, bm25_index_dir)
    groups = idx.docs.select("doc_id", F.col("lang").alias("group"))
    got = [
        (r["group"], int(r["doc_id"]), float(r["score"]))
        for r in idx.collapse_topk(Q, groups, 10, group_col="group").collect()
    ]

    full = bm25_oracle_topk(small_corpus_pdf, Q, len(small_corpus_pdf))
    lang_of = {
        doc_id_of(r, p, c): lg
        for r, p, c, lg in zip(
            small_corpus_pdf["repo"], small_corpus_pdf["path"],
            small_corpus_pdf["commit"], small_corpus_pdf["lang"],
        )
    }
    best: dict[str, tuple[float, int]] = {}
    for d, sc in zip(full["doc_id"], full["score"]):
        g = lang_of[int(d)]
        cand = (-float(sc), int(d))
        if g not in best or cand < best[g]:
            best[g] = cand
    exp = sorted(
        ((g, d, -negs) for g, (negs, d) in best.items()),
        key=lambda t: (-t[2], t[1]),
    )[:10]
    assert [(g, d) for g, d, _ in got] == [(g, d) for g, d, _ in exp]
    assert np.allclose([s for _, _, s in got], [s for _, _, s in exp], atol=0)


@pytest.mark.spark
def test_suggest_parity_and_contract(spark, small_corpus_pdf, bm25_index_dir):
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.tokenizer import tokenize_text

    idx = Bm25Index(spark, bm25_index_dir)
    s = LocalSearcher(bm25_index_dir)
    for term, dist, k in [("improt", 2, 5), ("ident_00001", 1, 10), ("zzz", 1, 3)]:
        dq = [
            (r["suggestion"], int(r["df"]), int(r["distance"]))
            for r in idx.suggest(term, dist, k).collect()
        ]
        assert dq == s.suggest(term, dist, k), term

    # brute vocabulary recompute pins ranking + df values
    vocab: dict[str, set] = {}
    for i, text in enumerate(small_corpus_pdf["content"]):
        for t in set(tokenize_text(text)):
            vocab.setdefault(t, set()).add(i)
    import difflib  # noqa: F401  (stdlib only in tests)

    def lev(a, b):
        m, n = len(a), len(b)
        prev = list(range(n + 1))
        for i in range(1, m + 1):
            cur = [i] + [0] * n
            for j in range(1, n + 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                             prev[j - 1] + (a[i - 1] != b[j - 1]))
            prev = cur
        return prev[n]

    term, dist, k = "improt", 2, 5
    cands = sorted(
        (lev(term, t), -len(docs), t)
        for t, docs in vocab.items()
        if abs(len(t) - len(term)) <= dist and lev(term, t) <= dist
    )[:k]
    exp = [(t, -ndf, d) for d, ndf, t in cands]
    assert s.suggest(term, dist, k) == exp


def test_suggest_rejects_multi_token(bm25_index_dir):
    s = LocalSearcher(bm25_index_dir)
    with pytest.raises(ValueError):
        s.suggest("two words")


@pytest.mark.spark
def test_search_after_rejects_swapped_cursor(bm25_index_dir):
    """A (doc_id, score) hit tuple passed as the cursor would silently
    return page 1 again — the magnitude guard catches it."""
    s = LocalSearcher(bm25_index_dir)
    hit = s.topk(Q, 1)[0]
    with pytest.raises(ValueError, match="sort-key order"):
        s.topk(Q, 5, after=hit)


@pytest.mark.spark
def test_histogram_facet_matches_pandas(spark):
    from koncorde_spark.fulltext.facets import histogram_facet
    from koncorde_spark.fulltext.tokenizer import tokenize_text

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "doc_id": range(120),
            "text": [
                ("spark shuffle" if i % 3 == 0 else "other words here")
                + f" tok_{i}"
                for i in range(120)
            ],
            "n_chars": rng.integers(0, 400, size=120),
        }
    )
    pdf.loc[5, "n_chars"] = None  # NULL excluded
    df = spark.createDataFrame(pdf)
    got = [
        (float(r["bucket"]), int(r["n_docs"]))
        for r in histogram_facet(df, ["spark"], "n_chars", 100.0).collect()
    ]
    m = pdf[
        pdf["text"].map(lambda t: "spark" in tokenize_text(t))
        & pdf["n_chars"].notna()
    ]
    exp = (
        (np.floor(m["n_chars"].astype(float) / 100.0) * 100.0)
        .value_counts()
        .sort_index()
    )
    assert got == [(float(b), int(c)) for b, c in exp.items()]


@pytest.mark.spark
def test_rescore_matches_pandas_and_reorders(spark, small_corpus_pdf, bm25_index_dir):
    """Window-bounded rescoring: top-window by BM25, + weight*boost,
    re-ranked — checked against a pandas recompute; the signal must
    actually be able to reorder (weight chosen above the score spread)."""
    from koncorde_spark.fulltext.query import Bm25Index
    from pyspark.sql import functions as F

    idx = Bm25Index(spark, bm25_index_dir)
    boosts = idx.docs.select(
        "doc_id", F.log(F.lit(1.0) + F.col("dl")).alias("boost")
    )
    window, k, weight = 30, 10, 0.5
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in idx.topk_rescored(Q, boosts, k, window, weight).collect()
    ]
    base = bm25_oracle_topk(small_corpus_pdf, Q, window)
    dl_of = {
        int(r["doc_id"]): float(r["dl"])
        for r in idx.docs.select("doc_id", "dl").collect()
    }
    rescored = sorted(
        (
            (-(s + weight * np.log(1.0 + dl_of[int(d)])), int(d))
            for d, s in zip(base["doc_id"], base["score"])
        ),
    )[:k]
    exp = [(d, -negs) for negs, d in rescored]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert np.allclose([s for _, s in got], [s for _, s in exp], atol=1e-12)
    plain = [int(r["doc_id"]) for r in idx.topk(Q, k).collect()]
    assert [d for d, _ in got] != plain  # the signal reordered the page

    with pytest.raises(ValueError, match="window"):
        idx.topk_rescored(Q, boosts, k=10, window=5)


@pytest.mark.spark
def test_matching_ids_filter_context(spark, small_corpus_pdf, bm25_index_dir):
    """matching_ids == brute token-set filter, both modes; deletes drop
    out (filter context respects tombstones)."""
    import shutil

    from koncorde_spark.fulltext.indexer import delete_docs, doc_id_of
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.tokenizer import tokenize_text

    idx = Bm25Index(spark, bm25_index_dir)
    id_of = {
        i: doc_id_of(r, p, c)
        for i, (r, p, c) in enumerate(
            zip(small_corpus_pdf["repo"], small_corpus_pdf["path"],
                small_corpus_pdf["commit"])
        )
    }
    toksets = [set(tokenize_text(t)) for t in small_corpus_pdf["content"]]
    q = {"import", "return"}
    exp_any = {id_of[i] for i, ts in enumerate(toksets) if ts & q}
    exp_all = {id_of[i] for i, ts in enumerate(toksets) if q <= ts}
    got_any = {int(r["doc_id"]) for r in idx.matching_ids("import return").collect()}
    got_all = {
        int(r["doc_id"])
        for r in idx.matching_ids("import return", mode="all").collect()
    }
    assert got_any == exp_any and got_all == exp_all
    assert got_all < got_any  # strictly smaller on this fixture
    assert idx.matching_ids("zzz_absent", mode="all").count() == 0

    # tombstoned docs leave the matching set
    d = str(spark._jvm.java.io.File(bm25_index_dir).getPath())
    import tempfile

    cp = tempfile.mkdtemp() + "/idx"
    shutil.copytree(d, cp)
    victims = sorted(exp_all)[:3]
    delete_docs(spark, cp, victims)
    idx2 = Bm25Index(spark, cp)
    got2 = {
        int(r["doc_id"])
        for r in idx2.matching_ids("import return", mode="all").collect()
    }
    assert got2 == exp_all - set(victims)


@pytest.mark.spark
def test_search_after_fuzz_duplicate_heavy(spark, tmp_path):
    """Property fuzz over one duplicate-heavy index: for random (query,
    k), walking pages via cursors always tiles the oracle ranking with no
    dropped or repeated docs — ties everywhere, so the cursor's exact
    equality rule is exercised constantly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from koncorde_spark.fulltext.indexer import IndexConfig, build_index

    vocab = ["red", "blue", "green", "tok"]
    rng = np.random.default_rng(17)
    rows = []
    for i in range(90):
        # heavy duplication: only 12 distinct texts across 90 docs
        tpl = rng.integers(0, 12)
        words = [vocab[(tpl + j) % len(vocab)] for j in range(3 + tpl % 4)]
        rows.append(
            {"repo": "r", "path": f"p{i:03d}", "commit": f"c{i:03d}",
             "lang": "py", "content": " ".join(words)}
        )
    pdf = pd.DataFrame(rows)
    out = str(tmp_path / "fuzzidx")
    build_index(spark, spark.createDataFrame(pdf).repartition(4), out,
                IndexConfig(n_shards=4), resume=False)
    s = LocalSearcher(out)

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.sampled_from(vocab), min_size=1, max_size=3),
        st.integers(min_value=1, max_value=9),
    )
    def run(qterms, k):
        q = " ".join(qterms)
        full = bm25_oracle_topk(pdf, q, 90)
        flat, after = [], None
        for _ in range(90 // k + 2):  # enough pages to exhaust all matches
            page = s.topk(q, k, after=after)
            if not page:
                break
            flat.extend(page)
            after = (page[-1][1], page[-1][0])
        assert [d for d, _ in flat] == list(full["doc_id"])
        assert np.allclose([x for _, x in flat], full["score"], atol=0)

    run()


def test_disjunctive_stats_and_after_pages_exact_at_scale():
    """On a large skewed union (one common low-score term of 300k entries
    + two rare high-idf terms) the disjunctive kernel's top-k and its
    search_after pages equal the brute score_union ranking exactly, and
    its stats count every entry as scored."""
    rng = np.random.default_rng(23)
    n_docs = 600_000
    common = _mk_postings(rng, n_docs, 300_000)
    common.scores *= 0.05  # low per-entry score
    terms = [common, _mk_postings(rng, n_docs, 3_000), _mk_postings(rng, n_docs, 2_000)]
    total = sum(len(t.doc_ids) for t in terms)

    bids, bacc = score_union(terms)
    order = np.lexsort((bids, -bacc))
    brute = list(zip(bids[order].tolist(), bacc[order].tolist()))
    stats: dict = {}
    ids, scores = topk_disjunctive(terms, 10, stats=stats)
    assert list(zip(ids.tolist(), scores.tolist())) == brute[:10]
    assert stats["entries_total"] == total
    assert stats["entries_scored"] == stats["entries_total"]

    got, after = [], None
    for _ in range(3):
        ids, scores = topk_disjunctive(terms, 10, after=after)
        got.extend(zip(ids.tolist(), scores.tolist()))
        after = (float(scores[-1]), int(ids[-1]))
    assert got == brute[:30]
    deep = brute[250_000]
    ids, scores = topk_disjunctive(terms, 10, after=(deep[1], deep[0]))
    assert list(zip(ids.tolist(), scores.tolist())) == brute[250_001:250_011]


@pytest.mark.spark
def test_profile_topk_counters(bm25_index_dir):
    s = LocalSearcher(bm25_index_dir)
    hits, stats = s.profile_topk(Q, 5)
    assert hits == s.topk(Q, 5)
    assert stats["entries_total"] > 0
    assert stats["entries_scored"] == stats["entries_total"]
