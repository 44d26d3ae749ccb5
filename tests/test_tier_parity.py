"""Both search tiers agree on an appended, tombstoned positional index.

The Spark tier (Bm25Index) and the serve tier (LocalSearcher) run the same
per-shard bodies (fulltext/serve.py), so every operator must return the
same (doc_id, score[, snippet]) tuples, bit for bit — also when terms own
several segments (an append generation) and tombstones filter entries at
decode.
"""

import pandas as pd
import pytest

from koncorde_spark.fulltext.tokenizer import tokenize_text


@pytest.fixture(scope="module")
def parity_index(spark, small_corpus_pdf, tmp_path_factory):
    """Positional index over the first 200 docs, the last 100 appended
    (so terms own two segments per shard), then the top hits of two
    queries deleted. Returns (index_dir, a phrase that survives)."""
    from koncorde_spark.fulltext.indexer import (
        IndexConfig, append_index, build_index, delete_docs,
    )
    from koncorde_spark.fulltext.query import Bm25Index

    d = str(tmp_path_factory.mktemp("parityidx"))
    build_index(
        spark, spark.createDataFrame(small_corpus_pdf.iloc[:200]), d,
        IndexConfig(n_shards=3, positions=True), resume=False,
    )
    append_index(spark, spark.createDataFrame(small_corpus_pdf.iloc[200:]), d)
    idx = Bm25Index(spark, d)
    victims = [int(x) for x in idx.topk("import return", 3).toPandas()["doc_id"]]
    victims += [int(x) for x in idx.topk("def function", 2).toPandas()["doc_id"]]
    idx.close()
    assert delete_docs(spark, d, victims) == len(victims)
    toks = tokenize_text(small_corpus_pdf["content"].iloc[250])
    return d, " ".join(toks[2:4])


def _rows(df, cols=("doc_id", "score")):
    pdf = df.toPandas()
    return [
        tuple(int(v) if c != "score" else float(v) for c, v in zip(cols, r))
        for r in pdf[list(cols)].itertuples(index=False)
    ]


@pytest.mark.spark
def test_index_shape(spark, parity_index):
    """The fixture really has multi-segment terms and tombstones."""
    from koncorde_spark.fulltext.serve import LocalSearcher

    d, _ = parity_index
    post = pd.read_parquet(f"{d}/postings", columns=["term", "shard"])
    assert post.duplicated(["term", "shard"]).any()  # two segments somewhere
    assert len(LocalSearcher(d).tombstones) == 5


@pytest.mark.spark
def test_tiers_bit_identical(spark, parity_index):
    from koncorde_spark.fulltext.multifield import MultiFieldSearch
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.serve import LocalSearcher

    d, phrase = parity_index
    idx, loc = Bm25Index(spark, d), LocalSearcher(d)
    checked = 0

    def same(dist, local):
        nonlocal checked
        assert local == dist
        checked += bool(local)

    for mode in ("any", "all"):
        for q in ("import return", "def ident_00000 function", "import ident_00001"):
            page1 = loc.topk(q, 7, mode=mode)
            same(_rows(idx.topk(q, 7, mode=mode)), page1)
            if len(page1) == 7:
                after = (page1[-1][1], page1[-1][0])
                same(_rows(idx.topk(q, 7, mode=mode, after=after)),
                     loc.topk(q, 7, mode=mode, after=after))
            assert idx.count(q, mode=mode) == loc.count(q, mode=mode)

    bool_args = dict(
        must=["import"], should=["return ident_00000", "def"],
        must_not=["function"], boosts={"def": 2.5, "return": 0.5},
    )
    same(_rows(idx.topk_boolean(**bool_args, k=9)), loc.topk_boolean(**bool_args, k=9))

    for ph in (phrase, "import ident_00000"):
        for slop in (0, 1):
            same(_rows(idx.topk_phrase(ph, 8, slop=slop)), loc.phrase(ph, 8, slop=slop))

    hl_cols = ("doc_id", "score", "snip_start", "snip_hits")
    same(_rows(idx.topk_highlight("import return def", 8, window=6), hl_cols),
         loc.highlight("import return def", 8, window=6))

    same(_rows(idx.topk_prefix("ident_0000* return", 8)), loc.topk_prefix("ident_0000* return", 8))
    same(_rows(idx.topk_fuzzy("imprt~ retur~", 8)), loc.topk_fuzzy("imprt~ retur~", 8))

    weights = {"a": 1.0, "b": 2.5}
    mf_dist = MultiFieldSearch({"a": idx, "b": idx}, weights)
    mf_loc = MultiFieldSearch({"a": loc, "b": loc}, weights)
    for q in ("import return", "def ident_00000 function"):
        same(_rows(mf_dist.topk(q, 9)), mf_loc.topk(q, 9))
    assert checked >= 17  # the comparisons above saw hits, not empty lists


@pytest.mark.spark
def test_shard_rows_equal_term_filter_scan(spark, parity_index):
    """LocalSearcher._shard_rows (a searchsorted lookup into the postings
    held in memory) returns exactly the rows of a pyarrow
    ``term IN (terms)`` scan of the postings dataset, per shard and per
    column kind — also for absent, duplicated, unsorted and empty term
    lists, and for terms owning several segments per shard."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    from koncorde_spark.fulltext.serve import LocalSearcher, postings_columns

    d, _ = parity_index
    loc = LocalSearcher(d)
    postings = ds.dataset(f"{d}/postings", format="parquet", partitioning="hive")
    post = pd.read_parquet(f"{d}/postings", columns=["term", "shard"])
    multi = sorted(set(post.loc[post.duplicated(["term", "shard"]), "term"]))[:5]
    vocab = loc._vocab.terms.tolist()
    term_lists = [
        [],
        ["missingterm_zzz"],
        ["import", "import", "return"],
        ["return", "def", "import"],
        ["zzz_absent", "import", "aaa_absent", "import"],
        vocab[:1] + vocab[-1:],
        multi + ["missingterm_zzz"] + multi[:2],
        vocab[::7],
    ]

    def canon(by_shard, cols):
        return {
            int(s): sorted(zip(*(rows[c] for c in cols)), key=lambda r: (r[0], r[2]))
            for s, rows in by_shard.items()
        }

    for kind in ("match", "tf", "pos"):
        cols = postings_columns(kind)
        for terms in term_lists:
            tbl = postings.to_table(
                filter=ds.field("term").isin(pa.array(terms, pa.string())),
                columns=["shard", *cols],
            ).to_pandas()
            want = canon({s: g.to_dict("list") for s, g in tbl.groupby("shard")}, cols)
            got = loc._shard_rows(terms, kind)
            assert all(list(rows) == cols for rows in got.values())
            assert canon(got, cols) == want, (kind, terms)
    assert multi  # the lists above reach terms with several segments per shard


def test_tiers_share_one_operator_surface():
    """Both tiers answer every shared operator under the same name,
    signature and defaults, and neither defines its own copy: the plans
    (and the one-member ``_scan`` over each tier's ``_scan_members``, and
    the vocabulary operators over each tier's ``_vocab``) live once, in
    serve.SearchOperators."""
    import inspect

    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.serve import LocalSearcher

    ops = (
        "topk", "count", "topk_prefix", "topk_fuzzy", "topk_boolean", "topk_phrase",
        "phrase", "topk_highlight", "highlight", "_shard_topk", "_scan",
        "_df_for", "expand_prefix", "expand_fuzzy", "suggest",
    )
    for name in ops:
        spark_sig = inspect.signature(getattr(Bm25Index, name))
        serve_sig = inspect.signature(getattr(LocalSearcher, name))
        assert spark_sig.parameters == serve_sig.parameters, name
        assert name not in vars(Bm25Index) and name not in vars(LocalSearcher), name


@pytest.mark.spark
def test_distributed_vocabulary_matches_driver_dict(spark, parity_index, monkeypatch):
    """A vocabulary above TERMS_LOCAL_MAX keeps df lookups and expansions
    in Spark (SparkVocabulary: the term-filter job and the Catalyst
    prefix and fuzzy scans). Every answer equals the driver-side
    Vocabulary's and LocalSearcher's; expand_fuzzy takes its term as
    given. suggest's DataFrame has one schema on both Spark paths."""
    from koncorde_spark.fulltext.query import Bm25Index, SparkVocabulary
    from koncorde_spark.fulltext.serve import LocalSearcher, Vocabulary

    d, _ = parity_index
    dist, local, loc = Bm25Index(spark, d), Bm25Index(spark, d), LocalSearcher(d)
    monkeypatch.setattr(dist, "TERMS_LOCAL_MAX", 0)
    assert isinstance(dist._vocab, SparkVocabulary) and isinstance(local._vocab, Vocabulary)

    def agree(run, conv=_rows):
        want = run(loc)
        assert want, "the comparison saw an empty answer"
        assert conv(run(dist)) == conv(run(local)) == want

    for q in ("import return", "def ident_00000 function", "zzz_absent import"):
        for mode in ("any", "all"):
            if mode == "any" or "zzz" not in q:
                agree(lambda s: s.topk(q, 9, mode=mode))
    agree(lambda s: s.topk_prefix("ident_0000* return", 8))
    agree(lambda s: s.topk_prefix("ident_000* impor*", 8, mode="all"))
    agree(lambda s: s.topk_fuzzy("imprt~ retur~", 8))
    agree(lambda s: s.topk_fuzzy("ident_0001~ def", 8, max_distance=2, max_expansions=5))
    same = lambda x: x  # noqa: E731
    agree(lambda s: s.expand_prefix("ident_00", 20), same)
    agree(lambda s: s.expand_fuzzy("ident_00012", 2, 30), same)
    agree(lambda s: s.expand_fuzzy("Imprt", 2, 30), same)
    agree(
        lambda s: s.suggest("ident_0001", 2, 7),
        lambda r: r if isinstance(r, list) else [tuple(x) for x in r.collect()],
    )
    for s in (dist, local):
        for k in (7, 0):
            fields = s.suggest("ident_0001", 2, k).schema.fields
            assert [(f.name, f.dataType.simpleString()) for f in fields] == [
                ("suggestion", "string"), ("df", "bigint"), ("distance", "int"),
            ]
    dist.close()
    local.close()


@pytest.mark.spark
def test_vocabulary_operators_reject_negative_caps(spark, parity_index, monkeypatch):
    """A negative max_expansions / k raises one ValueError on both tiers
    and both Bm25Index vocabulary paths — not a silent ``hits[:-1]`` on
    one path and a Spark AnalysisException on another."""
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.serve import LocalSearcher

    d, _ = parity_index
    dist, local = Bm25Index(spark, d), Bm25Index(spark, d)
    monkeypatch.setattr(dist, "TERMS_LOCAL_MAX", 0)
    for s in (LocalSearcher(d), local, dist):
        with pytest.raises(ValueError, match=r"max_expansions must be >= 0, got -1"):
            s.expand_prefix("ident_00", -1)
        with pytest.raises(ValueError, match=r"max_expansions must be >= 0, got -1"):
            s.expand_fuzzy("ident_00012", 2, -1)
        with pytest.raises(ValueError, match=r"k must be >= 0, got -1"):
            s.suggest("ident_0001", 2, -1)
        with pytest.raises(ValueError, match=r"max_expansions must be >= 0, got -2"):
            s.topk_prefix("ident_0000* return", 8, max_expansions=-2)
        assert s.expand_prefix("ident_00", 0) == [] and s.expand_fuzzy("import", 1, 0) == []
    dist.close()
    local.close()
