"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an implemented operator from SURVEY.md §2 (or a
north-rule / pipeline addition); ``oracle_sql()`` returns the DuckDB twin
where the operator is SQL-expressible. Percolation oracles are *generated*
from the same canonical DNF the engine executes (koncorde_spark.engine.
to_sql), so filter IDs and match semantics stay in lockstep by construction.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koncorde_spark import Koncorde
from koncorde_spark.engine.to_sql import percolation_oracle_sql
from koncorde_spark.geo.oracle import geo_percolation_oracle_sql
from koncorde_spark.spark.percolate import percolate
from koncorde_spark.fulltext.brute import (
    bm25_boolean_sql,
    bm25_brute_sql,
    bm25_brute_topk,
    bm25_collapse_sql,
    bm25_fields_sql,
    bm25_fuzzy_sql,
    bm25_highlight_sql,
    bm25_phrase_sql,
    bm25_prefix_sql,
    bm25_suggest_sql,
)
from koncorde_spark.fulltext.facets import (
    histogram_facet_sql,
    search_facets_sql,
    significant_terms_sql,
    stats_facet_sql,
)
from koncorde_spark.fulltext.mlt import more_like_this_sql
from koncorde_spark.fulltext.hybrid import hybrid_rrf_sql
from koncorde_spark.pipeline import chunking, dedup, sampling, similarity, text
from koncorde_spark.rounding import round_away as _round_away


# ---------------------------------------------------------------------------
# fixed filter sets (deterministic: fixed seed → stable filter IDs)
# ---------------------------------------------------------------------------

EVENTS_FILTERS = [
    {"equals": {"event_type": "click"}},
    {"in": {"event_type": ["view", "signup"]}},
    {"range": {"value": {"gte": 25, "lt": 75}}},
    {"not": {"range": {"value": {"gt": 10, "lte": 90}}}},
    {"exists": "value_n"},
    {"missing": "value_n"},
    {"not": {"equals": {"event_type": "error"}}},
    {"regexp": {"event_type": "^(cl|vi)"}},
    {"not": {"regexp": {"event_type": "e$"}}},
    {
        "bool": {
            "must": [{"equals": {"event_type": "purchase"}}],
            "should": [
                {"range": {"value": {"gt": 50}}},
                {"range": {"value": {"lt": 10}}},
            ],
        }
    },
    {
        "and": [
            {"range": {"user_id": {"gte": 0, "lt": 50}}},
            {
                "or": [
                    {"equals": {"event_type": "click"}},
                    {"equals": {"event_type": "error"}},
                ]
            },
        ]
    },
]

LINEITEM_FILTERS = [
    {"equals": {"l_returnflag": "R"}},
    {"in": {"l_returnflag": ["A", "N"]}},
    {"range": {"l_quantity": {"gte": 25, "lte": 50}}},
    {
        "and": [
            {"equals": {"l_linestatus": "F"}},
            {"range": {"l_discount": {"gt": 0.05}}},
        ]
    },
    {"not": {"range": {"l_extendedprice": {"lt": 10000}}}},
    {
        "or": [
            {"range": {"l_tax": {"lte": 0.01}}},
            {"and": [{"equals": {"l_returnflag": "N"}}, {"range": {"l_quantity": {"lt": 5}}}]},
        ]
    },
]

DOCUMENTS_FILTERS = [
    {"equals": {"lang": "en"}},
    {"in": {"lang": ["de", "fr"]}},
    {"not": {"equals": {"lang": "zh"}}},
    {"range": {"n_chars": {"gte": 200, "lt": 900}}},
    {"regexp": {"text": "vector"}},
    {"regexp": {"source": {"value": "^SRC1", "flags": "i"}}},
    {
        "bool": {
            "must": [{"range": {"n_chars": {"gt": 100}}}],
            "must_not": [{"equals": {"lang": "es"}}],
            "should": [{"equals": {"lang": "en"}}, {"equals": {"lang": "de"}}],
        }
    },
]

GEO_BBOX_FILTERS = [
    {"geoBoundingBox": {"pos": {"top": 45.0, "left": -10.0, "bottom": 35.0, "right": 15.0}}},
    {"geoBoundingBox": {"pos": {"top": 0.0, "left": 100.0, "bottom": -40.0, "right": 160.0}}},
    {"not": {"geoBoundingBox": {"pos": {"top": 60.0, "left": -180.0, "bottom": -60.0, "right": 180.0}}}},
]

GEO_SHAPE_FILTERS = [
    {"geoDistance": {"pos": {"lat": 43.6073913, "lon": 3.9109057}, "distance": "500km"}},
    {"geoDistanceRange": {"pos": [40.0, 0.0], "from": "100km", "to": "2000km"}},
    {
        "geoPolygon": {
            "pos": {
                "points": [[30.0, -20.0], [50.0, -20.0], [55.0, 10.0], [40.0, 25.0], [25.0, 5.0]]
            }
        }
    },
]

SPECIAL_FILTERS = [
    {},  # everything — matches every document
    {"nothing": True},  # never matches
    {"equals": {"value_n": None}},
    {"not": {"equals": {"value_n": None}}},
    {"regexp": {"event_type": {"value": "^CL", "flags": "i"}}},
    {"not": {"regexp": {"event_type": {"value": "^ERR", "flags": "i"}}}},
    # two negative conditions of one keyword on ONE field in one subfilter:
    # the countdown needs one hit per condition, not one per deduplicated
    # blanket (review r2 finding — silently never matched before the fix)
    {"and": [{"not": {"equals": {"event_type": "click"}}},
             {"not": {"equals": {"event_type": "error"}}}]},
    {"and": [{"not": {"range": {"value": {"gte": 0, "lt": 10}}}},
             {"not": {"range": {"value": {"gte": 90, "lt": 100}}}}]},
    {"and": [{"not": {"regexp": {"event_type": "^cl"}}},
             {"not": {"regexp": {"event_type": "or$"}}}]},
]

BM25_QUERY_TERMS = ["spark", "join", "merge"]
BM25_K = 20

_rng = np.random.default_rng(7)
ANN_QUERY_VEC = [round(float(x), 6) for x in _rng.standard_normal(64)]
ANN_K = 15


def _build(filters: list[dict]) -> Koncorde:
    k = Koncorde()
    for f in filters:
        k.register(f)
    return k


def _events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("value_n", F.when(F.col("value") >= 20, F.col("value")))
    )


_EVENTS_ORACLE_TABLE = (
    "(SELECT *, CASE WHEN value >= 20 THEN value ELSE NULL END AS value_n FROM events)"
)


def _lineitem_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
        "line_id", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )


_LINEITEM_ORACLE_TABLE = "(SELECT *, l_orderkey * 10 + l_linenumber AS line_id FROM lineitem)"


def _geo_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic synthetic positions derived from events columns
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        F.struct(
            (F.pmod(F.col("value") * 1.7, F.lit(170.0)) - 85.0).alias("lat"),
            (F.pmod(F.col("event_id") * 37.77, F.lit(360.0)) - 180.0).alias("lon"),
        ).alias("pos"),
    )


def _geo_oracle_where_table() -> str:
    return (
        "(SELECT event_id,"
        " (fmod(value * 1.7, 170.0) + CASE WHEN fmod(value * 1.7, 170.0) < 0 THEN 170.0 ELSE 0 END) - 85.0 AS lat,"
        " (fmod(event_id * 37.77, 360.0) + CASE WHEN fmod(event_id * 37.77, 360.0) < 0 THEN 360.0 ELSE 0 END) - 180.0 AS lon"
        " FROM events)"
    )


def _bm25_index_dir(sf_dir: str) -> str:
    import hashlib

    return "/tmp/koncorde_bm25_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_perc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _build(EVENTS_FILTERS)
    return percolate(_events_df(spark, sf_dir), k.compiled(), id_col="event_id")


def _q_perc_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schemaless path: the SAME events rows serialized to raw JSON and
    percolated with percolate_json (match_docs kernel, no schema). The
    oracle is the SAME SQL as perc_events — the two paths must agree
    pair-for-pair."""
    from koncorde_spark.spark.percolate import percolate_json

    k = _build(EVENTS_FILTERS)
    ev = _events_df(spark, sf_dir)
    jdf = ev.select("event_id", F.to_json(F.struct(*ev.columns)).alias("json"))
    return percolate_json(jdf, k.compiled(), json_col="json", id_col="event_id")


def _q_perc_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _build(LINEITEM_FILTERS)
    return percolate(_lineitem_df(spark, sf_dir), k.compiled(), id_col="line_id")


def _q_perc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _build(DOCUMENTS_FILTERS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return percolate(docs, k.compiled(), id_col="doc_id")


def _q_perc_geo_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _build(GEO_BBOX_FILTERS)
    return percolate(_geo_df(spark, sf_dir), k.compiled(), id_col="event_id")


def _q_perc_geo_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _build(GEO_SHAPE_FILTERS)
    return percolate(_geo_df(spark, sf_dir), k.compiled(), id_col="event_id")


def _q_perc_special(spark: SparkSession, sf_dir: str) -> DataFrame:
    """everything / nothing / equals-null / notequals-null / flagged regexp
    — the edge keywords, each with a generated DuckDB oracle twin."""
    k = _build(SPECIAL_FILTERS)
    return percolate(_events_df(spark, sf_dir), k.compiled(), id_col="event_id")


ADVANCED_FILTERS = [
    {"match": {"lang": "en"}},
    {"match": {"tags": ["the"]}},
    {"select": {"field": "tags", "index": 0, "query": {"equals": {"value": "the"}}}},
    {"select": {"field": "tags", "index": -1, "query": {"regexp": {"value": "^s"}}}},
    {"ids": {"values": ["doc-1", "doc-2", "doc-3"]}},
    {"exists": 'tags["data"]'},
    {"missing": 'tags["the"]'},
    {"not": {"match": {"lang": "zh"}}},
]


def _q_perc_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match / select / ids / array-value exists over a derived table with
    array columns; oracle generated via the DuckDB list functions
    (list_contains / list_extract / list_slice)."""
    k = _build(ADVANCED_FILTERS)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("_id"),
        "lang",
        F.slice(F.split(F.col("text"), " "), 1, 5).alias("tags"),
    )
    return percolate(docs, k.compiled(), id_col="doc_id")


_ADVANCED_ORACLE_TABLE = (
    "(SELECT doc_id,"
    " 'doc-' || CAST(doc_id AS VARCHAR) AS _id,"
    " lang,"
    " list_slice(string_split(text, ' '), 1, 5) AS tags"
    " FROM documents)"
)


def _q_bm25_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_brute_topk(docs, BM25_QUERY_TERMS, BM25_K)


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed path: build (or reuse) the sharded posting index over the
    documents-derived corpus, run the exhaustive per-shard BM25 top-k,
    map back to doc_id."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk(" ".join(BM25_QUERY_TERMS), BM25_K)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_PHRASE = "spark batch"


def _q_bm25_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over a POSITIONAL index (token offsets stored
    per posting entry, delta+varint): consecutive-offset adjacency chained
    vectorized in the shared phrase kernel; classic phrase-query scoring
    (phrase tf + summed member idfs). Oracle: bm25_phrase_sql — a DuckDB
    list lambda counts the same occurrences over the same tokens."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir) + "_pos"
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(
        spark, corpus, idx_dir, IndexConfig(n_shards=8, positions=True), resume=True
    )
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_phrase(BM25_PHRASE, BM25_K)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_NEAR_PHRASE = "sort merge join"
BM25_NEAR_SLOP = 4


def _q_bm25_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity search (slop=4) over the same positional index
    as bm25_phrase: docs where the three tokens appear in phrase order
    within len-1+slop offsets, counted by the greedy-chain rule
    (phrase.proximity_freqs) and scored like a phrase pseudo-term.
    Oracle: bm25_phrase_sql(slop=4) — nested list_min/list_filter
    lambdas transcribe the same greedy chain in SQL."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir) + "_pos"
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(
        spark, corpus, idx_dir, IndexConfig(n_shards=8, positions=True), resume=True
    )
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_phrase(BM25_NEAR_PHRASE, BM25_K, slop=BM25_NEAR_SLOP)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


def _q_bm25_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match counting (the searcher's totalHits): live docs containing
    ANY vs ALL of the query terms, no scoring, no top-k cut. Oracle:
    two scalar EXISTS-style counts over the same tokens."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    q = " ".join(BM25_QUERY_TERMS)
    n_any, n_all = idx.count(q, "any"), idx.count(q, "all")
    return spark.createDataFrame(
        [(n_any, n_all)], "n_any: bigint, n_all: bigint"
    )


GREP_PATTERN = "spark batch"


def _q_substring_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-index substring search (the code-search recipe): unique
    byte trigrams of each doc indexed through the standard BM25 build,
    pattern trigrams AND-intersected per shard for candidates, exact
    contains() verification over candidates only. Oracle: a plain
    strpos scan — the trigram path must be indistinguishable from grep."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.substring import substring_search, trigram_corpus
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir) + "_tri"
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(
        spark, trigram_corpus(corpus), idx_dir, IndexConfig(n_shards=8),
        resume=True,
    )
    idx = Bm25Index(spark, idx_dir)
    hits = substring_search(corpus, idx, GREP_PATTERN)
    mapped = hits.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id")
    )
    return mapped.orderBy("doc_id")


REGEX_PATTERN = "batch [a-z]+ merge"


def _q_regex_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex search via required-literal trigram pruning (Cox 2012): the
    literals every match must contain ('batch ', ' merge') pool their
    trigrams into one all-required candidate set; a vectorized regex
    pass over candidates only decides. Oracle: a full regexp_matches
    scan — the pruned path must be indistinguishable from it (the
    pattern sits in the documented Python-re ∩ RE2 common subset)."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.substring import regex_search, trigram_corpus
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir) + "_tri"
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(
        spark, trigram_corpus(corpus), idx_dir, IndexConfig(n_shards=8),
        resume=True,
    )
    idx = Bm25Index(spark, idx_dir)
    hits = regex_search(corpus, idx, REGEX_PATTERN)
    mapped = hits.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id")
    )
    return mapped.orderBy("doc_id")


BM25_BOOL = {
    "must": ["spark"],
    "should": ["merge", "sort"],
    "must_not": ["batch"],
    "boosts": {"spark": 1.5},
}


def _q_bm25_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured boolean search: docs MUST contain spark, MUST NOT
    contain batch, scored over spark(×1.5 boost)+merge+sort. Oracle:
    bm25_boolean_sql gates the same brute scores with a HAVING-all-must
    join and an anti-join on the exclusion set."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_boolean(
        must=BM25_BOOL["must"], should=BM25_BOOL["should"],
        must_not=BM25_BOOL["must_not"], boosts=BM25_BOOL["boosts"], k=BM25_K,
    )
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


# query-string form of a boolean query: parser must produce
# must=[spark], should=[merge, sort], must_not=[hive], boosts={merge: 2}
BM25_QS_QUERY = '+spark -hive merge^2 sort'


def _q_bm25_qs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-style query-string end-to-end: one string parsed into
    modifiers/boosts and dispatched onto the boolean engine
    (querystring.execute_query_string). Oracle: bm25_boolean_sql with
    the clause lists the parser must produce — so the gate checks the
    PARSER output, not just the engine."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.querystring import execute_query_string
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = execute_query_string(idx, BM25_QS_QUERY, k=BM25_K)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


# query-time synonym expansion: 'sort^2' expands to the OR of
# {sort, merge, shuffle}, every alternate inheriting the ^2 boost
FILTER_SORT_K = 25


def _q_bm25_filter_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-context search with a FIELD sort: all docs containing every
    query term (no scoring), ordered by a metadata column — the
    match-then-sort-by-anything shape (ES filter context + sort). The
    index supplies the matching-id set; one join attaches the sort key."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    ids = idx.matching_ids(" ".join(BM25_QUERY_TERMS), mode="all")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mapped = (
        ids.join(idx.docs.select("doc_id", "path"), "doc_id")
        .select(
            F.regexp_extract("path", r"doc_(\d+)\.txt", 1)
            .cast("long")
            .alias("doc_id")
        )
        .join(docs.select("doc_id", "n_chars"), "doc_id")
    )
    return mapped.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(FILTER_SORT_K)


BM25_SYN_QUERY = "spark sort^2"
BM25_SYNONYMS = {"sort": ["merge", "shuffle"]}


def _q_bm25_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synonym-expanded query string; oracle = the boolean query the
    expansion must produce (should = union, boosts inherited), so the
    gate checks the expansion rule itself."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.querystring import execute_query_string
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = execute_query_string(
        idx, BM25_SYN_QUERY, k=BM25_K, synonyms=BM25_SYNONYMS
    )
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


def _q_bm25_after(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_after deep pagination: page 1 = topk(k), cursor = its last
    (raw score, internal doc_id), page 2 = topk(k, after=cursor). The
    result must be EXACTLY ranks k+1..2k of the unfiltered ranking, so
    the oracle is the same brute ordering with OFFSET k — checking both
    the cursor acceptance rule and that per-shard heaps stay k-deep."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    q = " ".join(BM25_QUERY_TERMS)
    page1 = idx.topk(q, BM25_K).collect()
    cursor = (float(page1[-1]["score"]), int(page1[-1]["doc_id"]))
    page2 = idx.topk(q, BM25_K, after=cursor)
    mapped = page2.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_RESCORE_WINDOW, BM25_RESCORE_WEIGHT = 50, 0.05


def _q_bm25_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-bounded function-score rescoring: top-50 by BM25, then
    score + 0.05 * ln(1 + dl) re-ranked to top-k. The boost signal is
    the index's own doc length, so the oracle derives it from the same
    tokenizer (len(toks))."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    boosts = idx.docs.select(
        "doc_id", F.log(F.lit(1.0) + F.col("dl")).alias("boost")
    )
    top = idx.topk_rescored(
        " ".join(BM25_QUERY_TERMS), boosts, BM25_K,
        window=BM25_RESCORE_WINDOW, weight=BM25_RESCORE_WEIGHT,
    )
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_COLLAPSE_K = 10


def _q_bm25_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field collapsing: best-scoring doc per source, top groups by that
    score (one result per domain). Group values come from the index's own
    docs table (repo = 'testdata/' || source), so the whole query runs on
    index artifacts."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    groups = idx.docs.select(
        "doc_id", F.expr("substring(repo, 10)").alias("source")
    )
    best = idx.collapse_topk(
        " ".join(BM25_QUERY_TERMS), groups, BM25_COLLAPSE_K, group_col="source"
    )
    mapped = best.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        "source",
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


# distance 3 on the synthetic vocabulary yields a multi-row result whose
# distance-3 group (scan/stream/sort) exercises the df-desc tie order
BM25_SUGGEST_TERM = "sprak"
BM25_SUGGEST_DIST = 3
BM25_SUGGEST_K = 8


def _q_bm25_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did-you-mean suggester over the index vocabulary; df in the terms
    table equals corpus document frequency by construction, so the oracle
    recomputes the vocabulary from the raw documents."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    return idx.suggest(BM25_SUGGEST_TERM, BM25_SUGGEST_DIST, BM25_SUGGEST_K)


def _q_bm25_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Federated search over two disjoint member indexes (docs split by
    doc_id parity — the time-partitioned-indices shape) under COMBINED
    statistics: idf from global (N, df), dl normalized by each member's
    own avgdl. The oracle recomputes exactly that rule in SQL, so a
    local-idf federation (the naive merge) would hash-mismatch."""
    from koncorde_spark.fulltext.federate import federated_topk
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    corpus = corpus_from_documents(spark, sf_dir)
    orig_id = F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long")
    members = []
    for par in (0, 1):
        d = _bm25_index_dir(sf_dir) + f"_fed{par}"
        build_index(
            spark, corpus.where(orig_id % 2 == par), d,
            IndexConfig(n_shards=4), resume=True,
        )
        members.append(Bm25Index(spark, d))
    top = federated_topk(members, " ".join(BM25_QUERY_TERMS), BM25_K)
    docs_all = members[0].docs.select("doc_id", "path").unionByName(
        members[1].docs.select("doc_id", "path")
    )
    mapped = top.join(docs_all, "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


def _q_facet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES stats aggregation: n/min/max/sum/avg of n_chars over the
    matching set — one scan, one global agg."""
    from koncorde_spark.fulltext.facets import stats_facet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stats_facet(docs, BM25_QUERY_TERMS, "n_chars")


SIGTERMS_TOP_N, SIGTERMS_MIN_DC = 15, 3


def _q_search_sigterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_terms: JLH-scored terms over-represented in the
    matching set vs the corpus — one tokenize, one term-keyed hash-agg
    carrying foreground and background counts together."""
    from koncorde_spark.fulltext.facets import significant_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return significant_terms(
        docs, BM25_QUERY_TERMS, SIGTERMS_TOP_N, SIGTERMS_MIN_DC
    )


FACET_HIST_INTERVAL = 50.0


def _q_facet_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram aggregation over the matching set: fixed-width n_chars
    buckets with exact counts (one scan + one bucket-keyed hash-agg)."""
    from koncorde_spark.fulltext.facets import histogram_facet

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return histogram_facet(
        docs, BM25_QUERY_TERMS, "n_chars", FACET_HIST_INTERVAL
    )


BM25_FUZZY_QUERY = "table sprak~ jion~"
BM25_FUZZY_DIST = 2
BM25_FUZZY_MAX_EXP = 4


def _q_bm25_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy search: each trailing-~ term expands to vocabulary terms
    within 2 Levenshtein edits, closest-first then highest-df, capped at
    4 (cap + both orderings exercised), then standard multi-term BM25.
    Oracle: bm25_fuzzy_sql re-derives the expansion from corpus df with
    DuckDB's levenshtein()."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_fuzzy(
        BM25_FUZZY_QUERY, BM25_K,
        max_distance=BM25_FUZZY_DIST, max_expansions=BM25_FUZZY_MAX_EXP,
    )
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_FIELDS_TERMS = ["spark", "merge", "doc_42"]
BM25_FIELDS_PATH_WEIGHT = 2.5


def _q_bm25_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field weighted search: the text corpus and a path-derived
    field each indexed separately (same doc identity → same doc_id and
    shard), ranked by 1.0·BM25_text + 2.5·BM25_path computed exactly in
    one shard-cogrouped pass. The doc_42 query term only exists in the
    path field — the weighting visibly reorders the cut. Oracle:
    bm25_fields_sql sums the same per-field brute scores."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.multifield import MultiFieldSearch
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    corpus = corpus_from_documents(spark, sf_dir)
    text_dir = _bm25_index_dir(sf_dir)
    build_index(spark, corpus, text_dir, IndexConfig(n_shards=8), resume=True)
    path_dir = _bm25_index_dir(sf_dir) + "_path"
    path_corpus = corpus.withColumn("content", F.col("path"))
    build_index(spark, path_corpus, path_dir, IndexConfig(n_shards=8), resume=True)

    text_idx = Bm25Index(spark, text_dir)
    mf = MultiFieldSearch(
        {"content": text_idx, "path": Bm25Index(spark, path_dir)},
        weights={"content": 1.0, "path": BM25_FIELDS_PATH_WEIGHT},
    )
    top = mf.topk(" ".join(BM25_FIELDS_TERMS), BM25_K)
    mapped = top.join(text_idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_HL_WINDOW = 12


def _q_bm25_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with snippet selection over the positional index: for each
    winner, the 12-token window holding the most query-term occurrences
    (ties → smallest start). Oracle: bm25_highlight_sql anchors the same
    windows with list lambdas over the same canonical tokens."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir) + "_pos"
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(
        spark, corpus, idx_dir, IndexConfig(n_shards=8, positions=True), resume=True
    )
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_highlight(" ".join(BM25_QUERY_TERMS), BM25_K, window=BM25_HL_WINDOW)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
        F.col("snip_start"),
        F.col("snip_hits"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_PREFIX_QUERY = "table sp* jo*"
BM25_PREFIX_MAX_EXP = 3


def _q_bm25_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard-prefix search: each trailing-* token expands to its 3
    highest-df vocabulary terms (ties by ascending term — max_expansions
    deliberately tiny so the cap contract is exercised), then standard
    multi-term BM25 over literals + expansions. Oracle: bm25_prefix_sql
    derives the same expansion from the corpus df and scores with the
    brute formula."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_prefix(BM25_PREFIX_QUERY, BM25_K, max_expansions=BM25_PREFIX_MAX_EXP)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


def _q_bm25_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-then-compact lifecycle end-to-end: build a fresh index,
    tombstone every doc with external id % 7 == 3, compact_index (drops
    the tombstoned entries, merges segments, shrinks N/avgdl/df to the
    survivors — no corpus access), then run the standard top-k. Oracle:
    brute BM25 over the documents table WITH the same rows excluded —
    compaction must be indistinguishable from never having indexed them."""
    from koncorde_spark.fulltext.indexer import (
        IndexConfig,
        build_index,
        compact_index,
        delete_docs,
    )
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir) + "_cmp"
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=False)
    idx = Bm25Index(spark, idx_dir)
    doomed = idx.docs.where(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long") % 7 == 3
    ).select("doc_id")
    delete_docs(spark, idx_dir, doomed)
    compact_index(spark, idx_dir)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk(" ".join(BM25_QUERY_TERMS), BM25_K)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


def _q_bm25_topk_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND-semantics) top-k: only docs containing EVERY query
    term qualify; scores are mode-independent (identical to the "any"
    path for qualifying docs). Oracle: brute SQL + HAVING all-terms test
    with the internal-sha tie-break."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk(" ".join(BM25_QUERY_TERMS), BM25_K, mode="all")
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


# filtered-search slice for bm25_topk_filtered: metadata filter over the
# index's docs table (lang via `in`, token-length dl via `range`) — the
# oracle twin re-derives the same predicate over the raw documents table
# (dl == len(tokens) by the 4-place tokenizer invariant)
BM25_FILTER = {"and": [{"in": {"lang": ["en", "de"]}}, {"range": {"dl": {"gt": 60}}}]}


def _q_bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-within-a-slice: BM25 top-k restricted to docs whose metadata
    matches a koncorde filter (the SAME compiled-matcher kernel as
    percolation), with GLOBAL corpus statistics — the filter gates
    eligibility, never scores. Oracle: brute SQL with an eligibility CTE
    over the raw documents table and the internal-sha tie-break."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_filtered(" ".join(BM25_QUERY_TERMS), BM25_FILTER, BM25_K)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy(F.desc("score"), F.asc("doc_id"))


BM25_MANY_QUERIES = {
    "qa": "spark join merge",
    "qb": "filter window hash",
    "qc": "sort batch",
    "qd": "zzz_unknown_term",
}


def _q_bm25_topk_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched indexed path: ONE job answers a query batch (shared postings
    scan + per-(term,shard) decode reuse). Oracle: UNION ALL of per-query
    brute SQL with the same internal-sha tie-break as bm25_topk."""
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.sources import corpus_from_documents

    idx_dir = _bm25_index_dir(sf_dir)
    corpus = corpus_from_documents(spark, sf_dir)
    build_index(spark, corpus, idx_dir, IndexConfig(n_shards=8), resume=True)
    idx = Bm25Index(spark, idx_dir)
    top = idx.topk_many(BM25_MANY_QUERIES, BM25_K)
    mapped = top.join(idx.docs.select("doc_id", "path"), "doc_id").select(
        "query_id",
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        _round_away(F.col("score"), 6).alias("score"),
    )
    return mapped.orderBy("query_id", F.desc("score"), F.asc("doc_id"))


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over the documents-derived media table (one
    row per sampled frame index + content lineage). Oracle:
    multimodal.frame_sample_sql — identical explosion and sha."""
    from koncorde_spark.pipeline import multimodal

    media = multimodal.media_from_documents(spark, sf_dir)
    fs = multimodal.frame_sample(media, every_n=10)
    return fs.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "content_sha",
    )


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.exact_groups(docs)


def _q_minhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.minhash_signatures(docs, num_perm=16)


def _q_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash(docs)


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-banded candidate pairs (capped buckets). Oracle:
    simhash_pairs_sql — identical signatures, banding, cap, bit_count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = dedup.simhash(docs)
    return dedup.simhash_candidate_pairs(sigs)


def _q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, num_perm=16)
    pairs = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4)
    return dedup.jaccard_pairs(docs, pairs)


def _q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidates → Jaccard ≥ 0.5 → connected
    components (iterative min-label propagation). Oracle: DuckDB
    recursive-CTE transitive closure over the same verified pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = dedup.minhash_signatures(docs, num_perm=16)
    cand = dedup.lsh_candidate_pairs(sigs, num_perm=16, bands=4)
    verified = dedup.jaccard_pairs(docs, cand).where(F.col("jaccard") >= 0.5)
    return dedup.cluster_pairs(verified.select("id_a", "id_b")).select(
        F.col("id").alias("id"), F.col("cluster_id").alias("cluster_id")
    )


def _q_tokstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.text_features(docs).select(
        "doc_id", "n_tokens", "n_unique_tokens", "n_chars", "n_ws_tokens"
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.text_features(docs).select(
        "doc_id", "n_chars", "n_tokens",
        "punct_ratio", "stopword_ratio", "lexical_diversity",
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.text_features(docs).select(
        "doc_id", *[f"score_{g}" for g in text.FEATURE_LANGS], "pred_lang"
    )


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.text_features(docs).select("doc_id", "fp_md5", "fp_int")


def _q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused one-pass featurizer (the 100-TB scale path): every token-
    derived feature from a single Arrow tokenize per batch."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.text_features(docs)


def _q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: pure function of
    (seed, id) — stable across reruns and repartitions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.deterministic_split(docs).select("doc_id", "split")


def _q_crossdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span exposure (Lee et al. 2022): per-doc
    fraction of distinct 8-token shingles shared with ANY other doc.
    One explode → shingle-df hash-agg → co-partitioned join → per-doc agg.
    Oracle: cross_doc_dup_stats_sql (same shingle ids, exact division)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.cross_doc_dup_stats(docs)


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source frequency cap: md5(seed:id)-ranked keep
    set, one partitioned window. Oracle: cap_per_source_sql."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.cap_per_source(docs, cap=15)


def _q_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language (zero-shuffle
    scan→filter; pure (seed,id) function). Oracle: stratified_sample_sql
    with identical thresholds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.stratified_sample(
        docs, rates=STRAT_RATES, stratum_col="lang", default_rate=0.10
    )


STRAT_RATES = {"en": 0.5, "zh": 1.0, "fr": 0.25}


def _q_vocab_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 corpus bigrams with counts + doc frequency (tokenizer-
    training prep). Oracle: vocab_topk_sql, same tie-break."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.vocab_topk(docs, k=30, ngram=2)


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-line / top-bigram /
    dup-trigram fractions) — one fused Arrow pass, zero shuffle.
    Oracle: repetition_stats_sql (same tokenizer, same line rule, exact
    int/int double divisions)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.repetition_stats(docs)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped span redaction (emails / IPv4 / phone runs): one Arrow
    mapInPandas pass, re2 count_substring_regex + replace_substring_regex
    over shared RE2/Java-safe patterns. Oracle: pii_scrub_sql."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.pii_scrub(docs)


def _q_pii_scrub_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pii_scrub query under its older name (text.pii_scrub_arrow is an
    alias of text.pii_scrub). Oracle: pii_scrub_sql."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.pii_scrub_arrow(docs)


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style composite corpus cleaning with auditable per-rule
    reasons from the text_features metrics. Oracle: quality_filter_sql,
    same metric SQL (text_features_sql) + rule order."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.quality_filter(docs)


def _q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-budget sequence packing, PARTITIONED default
    (md5-bucketed windows, no single-partition WindowExec). Oracle:
    pack_sequences_sql — same tokenizer rule, same md5 bucket, same
    (n_tokens desc, id) running-sum window per bucket."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.pack_sequences(docs, capacity=512)


def _q_seq_pack_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-sequence reference packing semantics (n_partitions=None —
    ONE global window; kept as the reference form, not the scale path).
    Oracle: the global-window pack_sequences_sql."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.pack_sequences(docs, capacity=512, n_partitions=None)


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: eval = every 25th document, train = the
    full table; shingle-overlap pairs above 50%."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 25 == 0)
    return sampling.contamination_pairs(docs, ev)


CHUNK_TOKENS, CHUNK_OVERLAP = 32, 8


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: overlapping token windows with stable
    (doc_id, chunk_idx) identities, pure Catalyst (no shuffle/UDF)."""
    from koncorde_spark.pipeline.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, CHUNK_TOKENS, CHUNK_OVERLAP).orderBy(
        "doc_id", "chunk_idx"
    )


def _q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf keywords per document (tagging/routing surface)."""
    from koncorde_spark.pipeline.chunking import doc_keywords

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_keywords(docs, 5)


# budgets that bite at both scales: src2's cut lands mid-source, src3's
# budget exceeds the whole source (kept = all)
MIX_BUDGETS = {"src1": 600, "src2": 300, "src3": 50000}


def _q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: per-source token budgets, md5-ordered
    prefix kept (inclusive cumsum <= budget), undeclared sources
    dropped."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sampling.mix_by_token_budget(docs, MIX_BUDGETS).orderBy(
        "source", "cum_tokens"
    )


def _q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination query under its older name (the query set keeps
    it). It runs contamination_pairs itself: a Bloom pre-filter in front
    of the exact join cannot save work, since that join still broadcasts
    the full eval shingle set. Oracle: contamination_pairs_sql."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 25 == 0)
    return sampling.contamination_pairs(docs, ev)


def _q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: Arrow LSH bucket kernel (frozen
    literal hyperplanes, bit-identical to the DuckDB twin) -> capped
    bucket join -> exact cosine >= threshold."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.embedding_near_dup_pairs(emb)


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.cosine_topk(emb, ANN_QUERY_VEC, ANN_K)


MLT_DOC_ID = 42
MLT_K = 15
MLT_MAX_TERMS = 12


def _q_bm25_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this (Lucene MLT recipe): seed doc's top tf·idf terms
    (bounded driver collect ≤ max_query_terms) feed a distributed BM25
    search that excludes the seed from candidates but keeps it in the
    corpus statistics. Oracle: more_like_this_sql (identical selection
    rounding/ties + identical BM25 formula)."""
    from koncorde_spark.fulltext.mlt import more_like_this

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return more_like_this(
        docs, MLT_DOC_ID, k=MLT_K, max_query_terms=MLT_MAX_TERMS
    )


FACET_COLS = ["lang", "source"]
FACET_TOP_N = 8


def _q_search_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faceted search (Elasticsearch terms-agg shape): top-N values of
    each facet column over ALL docs matching the query terms — one scan,
    one melted hash-agg, per-facet window over value counts only.
    Oracle: search_facets_sql (same tokenizer + melt + cut)."""
    from koncorde_spark.fulltext.facets import search_facets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return search_facets(
        docs, BM25_QUERY_TERMS, FACET_COLS, top_n=FACET_TOP_N
    )


HYBRID_DEPTH = 50   # per-leg retrieval depth fed into the fusion
HYBRID_K = 15
HYBRID_RRF_K = 60


def _q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of
    a lexical BM25 top-depth leg over documents and a semantic cosine
    top-depth leg over embeddings (vec_id ≡ doc_id in the fixture).
    Fusion touches only the legs' top-depth rows; the fold order of the
    per-leg 1/(rrf_k+rank) contributions is fixed, so the double sum is
    bit-reproducible. Oracle: hybrid_rrf_sql over the same two brute
    leg SQLs (identical rounded leg scores → identical ranks)."""
    from koncorde_spark.fulltext.hybrid import rrf_fuse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lex = bm25_brute_topk(docs, BM25_QUERY_TERMS, HYBRID_DEPTH)
    sem = similarity.cosine_topk(emb, ANN_QUERY_VEC, HYBRID_DEPTH).select(
        F.col("vec_id").alias("doc_id"), "cosine"
    )
    return rrf_fuse(
        [(lex, "score"), (sem, "cosine")], k=HYBRID_K, rrf_k=HYBRID_RRF_K
    )


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN: Arrow bucket kernel (frozen literal planes,
    sequential float64 fold) → query bucket + Hamming-1 probes → exact
    cosine top-k. Oracle: ann_topk_sql (same planes, same fold, so the
    buckets are bit-identical)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.ann_topk(emb, ANN_QUERY_VEC, ANN_K, bits=6)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: seeded-centroid coarse quantizer → probe top-4 lists →
    exact cosine rescore. Oracle: ivf_topk_sql (identical centroid
    literals, bit-identical sequential-fold dots → identical argmax
    assignment, identical probe set and rounded cosine)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.ivf_topk(emb, ANN_QUERY_VEC, ANN_K, nprobe=4)


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from koncorde_spark.pipeline.multimodal import feature_extract, media_from_documents

    media = media_from_documents(spark, sf_dir)
    return feature_extract(media).select("media_id", "kind", "content_sha", "n_bytes")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: percolate the events table (sf0.001) against the full
    mixed filter set — the reverse-matching identity of the engine."""
    return _q_perc_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NEWEST-FIRST dict order (VERDICT r5 Next #1a): the driver's
    # CORRECTNESS artifact caps at the first 50 rows in dict order, so the
    # round-5 search surface + ANN/media rows — which have never appeared
    # in a driver artifact — lead; the legacy rows (green in the r04/r05
    # artifacts) follow. The SET of queries and every oracle twin are
    # unchanged.
    return {
        "bm25_mlt": _q_bm25_mlt,
        "bm25_qs": _q_bm25_qs,
        "bm25_synonyms": _q_bm25_synonyms,
        "bm25_after": _q_bm25_after,
        "bm25_rescore": _q_bm25_rescore,
        "bm25_collapse": _q_bm25_collapse,
        "bm25_suggest": _q_bm25_suggest,
        "bm25_federated": _q_bm25_federated,
        "bm25_filter_sort": _q_bm25_filter_sort,
        "hybrid_rrf": _q_hybrid_rrf,
        "search_facets": _q_search_facets,
        "facet_histogram": _q_facet_histogram,
        "facet_stats": _q_facet_stats,
        "search_sigterms": _q_search_sigterms,
        "pii_scrub_arrow": _q_pii_scrub_arrow,
        "emb_near_dup": _q_emb_near_dup,
        "ann_cosine": _q_ann_cosine,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "media_features": _q_media_features,
        "frame_sample": _q_frame_sample,
        "perc_events": _q_perc_events,
        "perc_events_json": _q_perc_events_json,
        "perc_lineitem": _q_perc_lineitem,
        "perc_documents": _q_perc_documents,
        "perc_geo_bbox": _q_perc_geo_bbox,
        "perc_geo_shapes": _q_perc_geo_shapes,
        "perc_advanced": _q_perc_advanced,
        "perc_special": _q_perc_special,
        "bm25_brute": _q_bm25_brute,
        "bm25_topk": _q_bm25_topk,
        "bm25_compacted": _q_bm25_compacted,
        "bm25_prefix": _q_bm25_prefix,
        "bm25_highlight": _q_bm25_highlight,
        "bm25_fields": _q_bm25_fields,
        "bm25_fuzzy": _q_bm25_fuzzy,
        "bm25_boolean": _q_bm25_boolean,
        "substring_grep": _q_substring_grep,
        "regex_grep": _q_regex_grep,
        "bm25_counts": _q_bm25_counts,
        "bm25_topk_all": _q_bm25_topk_all,
        "bm25_phrase": _q_bm25_phrase,
        "bm25_near": _q_bm25_near,
        "bm25_topk_filtered": _q_bm25_topk_filtered,
        "bm25_topk_many": _q_bm25_topk_many,
        "dedup_exact": _q_dedup_exact,
        "minhash16": _q_minhash16,
        "simhash64": _q_simhash64,
        "simhash_pairs": _q_simhash_pairs,
        "lsh_pairs": _q_lsh_pairs,
        "dedup_near": _q_dedup_near,
        "tokstats": _q_tokstats,
        "quality": _q_quality,
        "langid": _q_langid,
        "fingerprint": _q_fingerprint,
        "text_features": _q_text_features,
        "doc_split": _q_doc_split,
        "contamination": _q_contamination,
        "bloom_contamination": _q_bloom_contamination,
        "mix_budget": _q_mix_budget,
        "doc_chunks": _q_doc_chunks,
        "doc_keywords": _q_doc_keywords,
        "crossdup": _q_crossdup,
        "source_cap": _q_source_cap,
        "strat_sample": _q_strat_sample,
        "seq_pack": _q_seq_pack,
        "seq_pack_global": _q_seq_pack_global,
        "vocab_bigrams": _q_vocab_bigrams,
        "quality_filter": _q_quality_filter,
        "repetition": _q_repetition,
        "pii_scrub": _q_pii_scrub,
    }


def oracle_sql() -> dict[str, str]:
    bm25 = bm25_brute_sql("documents", BM25_QUERY_TERMS, BM25_K)
    # the indexed path cuts its top-k ordered by the INTERNAL sha-derived
    # doc id (indexer.doc_id_of over the corpus identity columns) — its
    # oracle must break score ties the same way, or a tie group straddling
    # rank K picks different doc sets per engine (duplicate texts in the
    # documents fixture score identically). Verified bit-identical to
    # doc_id_of: first 63 bits of sha256(repo \x00 path \x00 commit).
    internal_id = (
        "((('0x' || substr(sha256("
        "'testdata/' || source || chr(0) || "
        "'docs/doc_' || CAST(doc_id AS VARCHAR) || '.txt' || chr(0) || "
        "substr(sha256(text), 1, 40)"
        "), 1, 16))::UBIGINT >> 1))::BIGINT"
    )
    bm25_indexed = bm25_brute_sql(
        "documents", BM25_QUERY_TERMS, BM25_K, tie_sql=internal_id
    )
    grep_pat = GREP_PATTERN.replace("'", "''")
    substring_grep = (
        f"SELECT doc_id FROM documents WHERE strpos(text, '{grep_pat}') > 0 "
        "ORDER BY doc_id"
    )
    _cnt_terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    bm25_counts = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
                         t -> t <> '') AS tk
      FROM documents
    ), per AS (
      SELECT doc_id, count(DISTINCT term) AS hit
      FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
      WHERE term IN ({_cnt_terms})
      GROUP BY doc_id
    )
    SELECT count(*)::BIGINT AS n_any,
           count(*) FILTER (hit = {len(BM25_QUERY_TERMS)})::BIGINT AS n_all
    FROM per
    """
    regex_pat = REGEX_PATTERN.replace("'", "''")
    regex_grep = (
        f"SELECT doc_id FROM documents WHERE regexp_matches(text, '{regex_pat}') "
        "ORDER BY doc_id"
    )
    bm25_boolean = bm25_boolean_sql(
        "documents", BM25_BOOL["must"], BM25_BOOL["should"],
        BM25_BOOL["must_not"], BM25_BOOL["boosts"], BM25_K,
        tie_sql=internal_id,
    )
    bm25_qs = bm25_boolean_sql(
        "documents", ["spark"], ["merge", "sort"], ["hive"],
        {"merge": 2.0}, BM25_K, tie_sql=internal_id,
    )
    bm25_synonyms = bm25_boolean_sql(
        "documents", [], ["spark", "sort", "merge", "shuffle"], [],
        {"sort": 2.0, "merge": 2.0, "shuffle": 2.0}, BM25_K,
        tie_sql=internal_id,
    )
    _fs_terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY_TERMS)))
    bm25_filter_sort = f"""
    SELECT doc_id, n_chars FROM documents
    WHERE len(list_filter(
            list_distinct(list_filter(
              regexp_split_to_array(lower(text), '[^a-z0-9_]+'), t -> t <> '')),
            t -> t IN ({_fs_terms}))) = {len(set(BM25_QUERY_TERMS))}
    ORDER BY n_chars DESC, doc_id ASC
    LIMIT {FILTER_SORT_K}
    """
    # search_after page 2 == ranks k+1..2k of the same total order
    bm25_after = bm25_brute_sql(
        "documents", BM25_QUERY_TERMS, BM25_K, tie_sql=internal_id,
        offset=BM25_K,
    )
    bm25_collapse = bm25_collapse_sql(
        "documents", BM25_QUERY_TERMS, "source", BM25_COLLAPSE_K,
        tie_sql=internal_id,
    )
    from koncorde_spark.fulltext.brute import bm25_rescore_sql
    from koncorde_spark.fulltext.federate import bm25_federated_sql

    bm25_rescore = bm25_rescore_sql(
        "documents", BM25_QUERY_TERMS, "ln(1 + dl)", BM25_K,
        window=BM25_RESCORE_WINDOW, weight=BM25_RESCORE_WEIGHT,
        tie_sql=internal_id,
    )

    bm25_federated = bm25_federated_sql(
        "documents", BM25_QUERY_TERMS, "doc_id % 2", BM25_K,
        tie_sql=internal_id,
    )
    bm25_suggest = bm25_suggest_sql(
        "documents", BM25_SUGGEST_TERM, BM25_SUGGEST_DIST, BM25_SUGGEST_K
    )
    _fz_lits = [t for t in BM25_FUZZY_QUERY.split() if not t.endswith("~")]
    _fz_fz = [t[:-1] for t in BM25_FUZZY_QUERY.split() if t.endswith("~")]
    bm25_fuzzy = bm25_fuzzy_sql(
        "documents", _fz_lits, _fz_fz, BM25_K,
        max_distance=BM25_FUZZY_DIST, max_expansions=BM25_FUZZY_MAX_EXP,
        tie_sql=internal_id,
    )
    bm25_fields = bm25_fields_sql(
        "documents",
        [
            ("text", 1.0),
            ("'docs/doc_' || CAST(doc_id AS VARCHAR) || '.txt'",
             BM25_FIELDS_PATH_WEIGHT),
        ],
        BM25_FIELDS_TERMS,
        BM25_K,
        tie_sql=internal_id,
    )
    bm25_highlight = bm25_highlight_sql(
        "documents", BM25_QUERY_TERMS, BM25_K, window=BM25_HL_WINDOW,
        tie_sql=internal_id,
    )
    _pfx_lits = [t for t in BM25_PREFIX_QUERY.split() if not t.endswith("*")]
    _pfx_pfx = [t[:-1] for t in BM25_PREFIX_QUERY.split() if t.endswith("*")]
    bm25_prefix = bm25_prefix_sql(
        "documents", _pfx_lits, _pfx_pfx, BM25_K,
        max_expansions=BM25_PREFIX_MAX_EXP, tie_sql=internal_id,
    )
    # compaction oracle: the same brute scan over the documents table with
    # the tombstoned-then-compacted rows excluded at the source
    bm25_compacted = bm25_brute_sql(
        "(SELECT * FROM documents WHERE doc_id % 7 <> 3) AS documents",
        BM25_QUERY_TERMS,
        BM25_K,
        tie_sql=internal_id,
    )
    # BM25_FILTER re-derived over the raw documents table: lang is carried
    # through corpus_from_documents verbatim; dl (index token count) equals
    # len(tokens) here by the 4-place tokenizer invariant
    from koncorde_spark.pipeline.text import tokens_sql as _toks_sql

    bm25_phrase = bm25_phrase_sql(
        "documents", BM25_PHRASE.split(), BM25_K, tie_sql=internal_id
    )
    bm25_near = bm25_phrase_sql(
        "documents", BM25_NEAR_PHRASE.split(), BM25_K, tie_sql=internal_id,
        slop=BM25_NEAR_SLOP,
    )
    bm25_all = bm25_brute_sql(
        "documents", BM25_QUERY_TERMS, BM25_K, tie_sql=internal_id,
        conjunctive=True,
    )
    bm25_filtered = bm25_brute_sql(
        "documents",
        BM25_QUERY_TERMS,
        BM25_K,
        tie_sql=internal_id,
        filter_where=(
            f"lang IN ('en', 'de') AND len({_toks_sql('text')}) > 60"
        ),
    )
    from koncorde_spark.fulltext.tokenizer import tokenize_text as _tok

    bm25_many = "\nUNION ALL\n".join(
        f"SELECT '{qid}' AS query_id, doc_id, score FROM ("
        + bm25_brute_sql(
            "documents", sorted(set(_tok(q))), BM25_K, tie_sql=internal_id
        )
        + ")"
        for qid, q in BM25_MANY_QUERIES.items()
        if sorted(set(_tok(q)))
    )
    out = {
        "perc_events": percolation_oracle_sql(
            _dnfs(EVENTS_FILTERS), _EVENTS_ORACLE_TABLE, "event_id"
        ),
        "perc_events_json": percolation_oracle_sql(
            _dnfs(EVENTS_FILTERS), _EVENTS_ORACLE_TABLE, "event_id"
        ),
        "perc_lineitem": percolation_oracle_sql(
            _dnfs(LINEITEM_FILTERS), _LINEITEM_ORACLE_TABLE, "line_id"
        ),
        "perc_documents": percolation_oracle_sql(_dnfs(DOCUMENTS_FILTERS), "documents", "doc_id"),
        "perc_special": percolation_oracle_sql(
            _dnfs(SPECIAL_FILTERS), _EVENTS_ORACLE_TABLE, "event_id"
        ),
        "perc_advanced": percolation_oracle_sql(
            _dnfs(ADVANCED_FILTERS), _ADVANCED_ORACLE_TABLE, "doc_id"
        ),
        "perc_geo_bbox": _geo_bbox_oracle(),
        "perc_geo_shapes": geo_percolation_oracle_sql(
            _dnfs(GEO_SHAPE_FILTERS), _geo_oracle_where_table(), "event_id"
        ),
        "bm25_brute": bm25,
        "bm25_topk": bm25_indexed,
        "bm25_compacted": bm25_compacted,
        "bm25_prefix": bm25_prefix,
        "bm25_highlight": bm25_highlight,
        "bm25_fields": bm25_fields,
        "bm25_fuzzy": bm25_fuzzy,
        "bm25_boolean": bm25_boolean,
        "bm25_qs": bm25_qs,
        "bm25_synonyms": bm25_synonyms,
        "bm25_filter_sort": bm25_filter_sort,
        "bm25_after": bm25_after,
        "bm25_rescore": bm25_rescore,
        "bm25_federated": bm25_federated,
        "bm25_collapse": bm25_collapse,
        "bm25_suggest": bm25_suggest,
        "facet_histogram": histogram_facet_sql(
            "documents", BM25_QUERY_TERMS, "n_chars", FACET_HIST_INTERVAL
        ),
        "search_sigterms": significant_terms_sql(
            "documents", BM25_QUERY_TERMS, SIGTERMS_TOP_N, SIGTERMS_MIN_DC
        ),
        "facet_stats": stats_facet_sql("documents", BM25_QUERY_TERMS, "n_chars"),
        "substring_grep": substring_grep,
        "regex_grep": regex_grep,
        "bm25_counts": bm25_counts,
        "bm25_topk_all": bm25_all,
        "bm25_phrase": bm25_phrase,
        "bm25_near": bm25_near,
        "bm25_topk_filtered": bm25_filtered,
        "bm25_topk_many": bm25_many,
        "dedup_exact": dedup.exact_groups_sql("documents"),
        "minhash16": dedup.minhash_signatures_sql("documents", num_perm=16),
        "simhash64": dedup.simhash_sql("documents"),
        "simhash_pairs": dedup.simhash_pairs_sql("documents"),
        "lsh_pairs": dedup.lsh_pairs_sql("documents"),
        "dedup_near": dedup.near_clusters_sql("documents"),
        "tokstats": text.token_stats_sql("documents"),
        "quality": text.quality_score_sql("documents"),
        "langid": text.language_id_sql("documents"),
        "fingerprint": text.fingerprint_sql("documents"),
        "text_features": text.text_features_sql("documents"),
        "doc_split": "SELECT doc_id, split FROM ("
        + sampling.deterministic_split_sql("documents")
        + ")",
        "seq_pack": sampling.pack_sequences_sql("documents", capacity=512),
        "seq_pack_global": sampling.pack_sequences_sql(
            "documents", capacity=512, n_partitions=None
        ),
        "vocab_bigrams": text.vocab_topk_sql("documents", k=30, ngram=2),
        "quality_filter": text.quality_filter_sql("documents"),
        "repetition": text.repetition_stats_sql("documents"),
        "pii_scrub": text.pii_scrub_sql("documents"),
        "pii_scrub_arrow": text.pii_scrub_sql("documents"),
        "contamination": sampling.contamination_pairs_sql(
            "documents", "(SELECT * FROM documents WHERE doc_id % 25 = 0)"
        ),
        # the contamination query under its older name
        "bloom_contamination": sampling.contamination_pairs_sql(
            "documents", "(SELECT * FROM documents WHERE doc_id % 25 = 0)"
        ),
        "mix_budget": sampling.mix_by_token_budget_sql(
            "documents", MIX_BUDGETS
        ),
        "doc_chunks": chunking.chunk_documents_sql(
            "documents", CHUNK_TOKENS, CHUNK_OVERLAP
        ),
        "doc_keywords": chunking.doc_keywords_sql("documents", 5),
        "crossdup": dedup.cross_doc_dup_stats_sql("documents"),
        "source_cap": sampling.cap_per_source_sql("documents", cap=15),
        "strat_sample": sampling.stratified_sample_sql(
            "documents", rates=STRAT_RATES, stratum_col="lang",
            default_rate=0.10
        ),
        "emb_near_dup": similarity.embedding_near_dup_pairs_sql("embeddings"),
        "ann_cosine": similarity.cosine_topk_sql("embeddings", ANN_QUERY_VEC, ANN_K),
        "bm25_mlt": more_like_this_sql(
            "documents", MLT_DOC_ID, k=MLT_K, max_query_terms=MLT_MAX_TERMS
        ),
        "search_facets": search_facets_sql(
            "documents", BM25_QUERY_TERMS, FACET_COLS, top_n=FACET_TOP_N
        ),
        "hybrid_rrf": hybrid_rrf_sql(
            [
                (
                    bm25_brute_sql("documents", BM25_QUERY_TERMS, HYBRID_DEPTH),
                    "doc_id",
                    "score",
                ),
                (
                    similarity.cosine_topk_sql(
                        "embeddings", ANN_QUERY_VEC, HYBRID_DEPTH
                    ),
                    "vec_id",
                    "cosine",
                ),
            ],
            k=HYBRID_K,
            rrf_k=HYBRID_RRF_K,
        ),
        "ann_ivf": similarity.ivf_topk_sql("embeddings", ANN_QUERY_VEC, ANN_K, nprobe=4),
        "ann_lsh": similarity.ann_topk_sql(
            "embeddings", ANN_QUERY_VEC, ANN_K, bits=6
        ),
        "media_features": _media_features_sql(),
        "frame_sample": _frame_sample_sql(),
    }
    return out


def _media_features_sql() -> str:
    from koncorde_spark.pipeline.multimodal import media_features_sql

    return media_features_sql("documents")


def _frame_sample_sql() -> str:
    from koncorde_spark.pipeline.multimodal import frame_sample_sql

    return frame_sample_sql("documents", every_n=10)


def _dnfs(filters: list[dict]) -> dict[str, list[list[dict]]]:
    k = _build(filters)
    eng = k.engines[None]
    return dict(eng.filters)


def _geo_bbox_oracle() -> str:
    """bbox percolation is pure comparisons — exact in SQL."""
    k = _build(GEO_BBOX_FILTERS)
    eng = k.engines[None]
    selects = []
    table = _geo_oracle_where_table()
    for fid in sorted(eng.filters):
        dnf = eng.filters[fid]
        ors = []
        for clause in dnf:
            ands = []
            for cond in clause:
                spec = cond["geospatial"]["geoBoundingBox"]["pos"]
                inside = (
                    f"(lat <= {spec['top']!r} AND lat >= {spec['bottom']!r}"
                    f" AND lon >= {spec['left']!r} AND lon <= {spec['right']!r})"
                )
                ands.append(f"NOT {inside}" if cond.get("not") else inside)
            ors.append("(" + " AND ".join(ands) + ")")
        selects.append(
            f"SELECT event_id, '{fid}' AS filter_id FROM {table} WHERE {' OR '.join(ors)}"
        )
    return "\nUNION ALL\n".join(selects)
