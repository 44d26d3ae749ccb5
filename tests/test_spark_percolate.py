"""Spark percolation parity: mapInPandas path == local matcher on the
same documents, including nested structs, arrays, geo and null-heavy docs."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import types as T

from koncorde_spark import Koncorde
from koncorde_spark.spark.percolate import percolate

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("_id", T.StringType()),
        T.StructField("str_a", T.StringType()),
        T.StructField("num_a", T.DoubleType()),
        T.StructField("int_a", T.LongType()),
        T.StructField("bool_a", T.BooleanType()),
        T.StructField(
            "nested",
            T.StructType(
                [
                    T.StructField(
                        "bar", T.StructType([T.StructField("baz", T.StringType())])
                    ),
                    T.StructField("qux", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField(
            "position",
            T.StructType(
                [T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType())]
            ),
        ),
    ]
)


def gen_docs(n=400, seed=11):
    rng = np.random.default_rng(seed)
    vocab = ["alpha", "beta", "gamma", "delta", None]
    docs = []
    for i in range(n):
        nested = None
        if rng.random() > 0.4:
            nested = {
                "bar": {"baz": str(rng.choice(["x", "y", "z"]))} if rng.random() > 0.4 else None,
                "qux": float(rng.uniform(-10, 10)) if rng.random() > 0.3 else None,
            }
        pos = None
        if rng.random() > 0.4:
            if rng.random() > 0.4:  # Montpellier box
                pos = {
                    "lat": float(rng.uniform(43.55, 43.65)),
                    "lon": float(rng.uniform(3.80, 3.95)),
                }
            else:
                pos = {"lat": float(rng.uniform(-90, 90)), "lon": float(rng.uniform(-180, 180))}
        docs.append(
            {
                "doc_id": i,
                "_id": f"doc-{i}",
                "str_a": vocab[int(rng.integers(0, 5))],
                "num_a": float(rng.uniform(-10000, 10000)) if rng.random() > 0.2 else None,
                "int_a": int(rng.integers(-10000, 10000)) if rng.random() > 0.2 else None,
                "bool_a": bool(rng.random() > 0.5) if rng.random() > 0.3 else None,
                "nested": nested,
                "tags": [str(x) for x in rng.choice(["a", "b", "42", "null"], rng.integers(0, 5))]
                if rng.random() > 0.3
                else None,
                "position": pos,
            }
        )
    return docs


FILTERS = [
    {"equals": {"str_a": "alpha"}},
    {"in": {"str_a": ["beta", "gamma"]}},
    {"not": {"equals": {"str_a": "alpha"}}},
    {"ids": {"values": ["doc-1", "doc-7", "doc-300"]}},
    {"exists": "nested.bar.baz"},
    {"missing": "nested.bar.baz"},
    {"equals": {"nested.bar.baz": "x"}},
    {"exists": 'tags["42"]'},
    {"missing": 'tags["a"]'},
    {"range": {"num_a": {"gte": 0, "lt": 5000}}},
    {"not": {"range": {"int_a": {"gt": -100, "lt": 100}}}},
    {"regexp": {"str_a": "^(al|be)"}},
    {"not": {"regexp": {"str_a": "a$"}}},
    {"equals": {"bool_a": True}},
    {"and": [{"equals": {"str_a": "alpha"}}, {"range": {"num_a": {"gt": 0}}}]},
    {"or": [{"equals": {"str_a": "delta"}}, {"missing": "num_a"}]},
    {"bool": {"must": [{"exists": "position"}],
              "should": [{"equals": {"str_a": "alpha"}}, {"equals": {"str_a": "beta"}}]}},
    {"geoBoundingBox": {"position": {"top": 43.6331979, "left": 3.8433703,
                                     "bottom": 43.5810609, "right": 3.9282093}}},
    {"geoDistance": {"position": {"lat": 43.6073913, "lon": 3.9109057}, "distance": "5km"}},
    {"not": {"geoDistance": {"position": {"lat": 43.6073913, "lon": 3.9109057},
                             "distance": "5km"}}},
    {"geoPolygon": {"position": {"points": [[43.55, 3.80], [43.65, 3.80], [43.65, 3.95],
                                            [43.55, 3.95]]}}},
    {"match": {"nested": {"bar": {"baz": "y"}}}},
    {"select": {"field": "tags", "index": 0, "query": {"equals": {"value": "a"}}}},
    {},
    {"nothing": True},
]


@pytest.mark.spark
def test_spark_equals_local(spark):
    docs = gen_docs()
    k = Koncorde()
    for f in FILTERS:
        k.register(f)

    df = spark.createDataFrame(docs, SCHEMA).repartition(4)
    got = percolate(df, k.compiled(), id_col="doc_id").toPandas()
    spark_pairs = {(int(r.doc_id), r.filter_id) for r in got.itertuples()}

    local = k.test_many(docs)
    local_pairs = {(d["doc_id"], fid) for d, fl in zip(docs, local) for fid in fl}

    missing = local_pairs - spark_pairs
    extra = spark_pairs - local_pairs
    assert not missing and not extra, (len(missing), len(extra),
                                       list(missing)[:3], list(extra)[:3])
    # sanity: the everything-filter matches all docs
    everything = [fid for fid, f in zip(k.get_filter_ids(), []) ]
    assert len(spark_pairs) > len(docs)  # at least everything + others


@pytest.mark.spark
def test_missing_column_becomes_null(spark):
    """Filters referencing absent columns behave as missing fields."""
    k = Koncorde()
    f_missing = k.register({"missing": "no_such_col"})
    f_exists = k.register({"exists": "no_such_col"})
    f_noteq = k.register({"not": {"equals": {"no_such_col": "v"}}})
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2]}))
    got = percolate(df, k.compiled(), id_col="doc_id").toPandas()
    by_doc = got.groupby("doc_id")["filter_id"].apply(set).to_dict()
    assert by_doc[1] == {f_missing, f_noteq}
    assert by_doc[2] == {f_missing, f_noteq}


@pytest.mark.spark
def test_quoted_and_nested_field_names(spark):
    """Field names that need SQL quoting (hyphen, space, backtick) and a
    three-level ``a.b.c`` path project correctly: Spark pairs equal the
    local matcher's (no DuckDB twin: the SQL oracle accepts plain names
    only)."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("my-field", T.StringType()),
        T.StructField("with space", T.DoubleType()),
        T.StructField("odd`name", T.StringType()),
        T.StructField("a", T.StructType([
            T.StructField("b", T.StructType([T.StructField("c", T.StringType())])),
        ])),
        T.StructField("geo-pos", T.StructType([
            T.StructField("lat", T.DoubleType()), T.StructField("lon", T.DoubleType()),
        ])),
    ])
    docs = []
    for i in range(40):
        docs.append({
            "doc_id": i,
            "my-field": ["v1", "v2", None][i % 3],
            "with space": float(i) if i % 5 else None,
            "odd`name": ["p", "q"][i % 2],
            "a": {"b": {"c": ["x", "y", None][(i // 3) % 3]}} if i % 4 else None,
            "geo-pos": {"lat": 43.60 + (i % 2) * 10, "lon": 3.90} if i % 6 else None,
        })
    k = Koncorde()
    fids = [
        k.register({"equals": {"my-field": "v1"}}),
        k.register({"range": {"with space": {"gte": 10, "lt": 30}}}),
        k.register({"not": {"equals": {"odd`name": "p"}}}),
        k.register({"equals": {"a.b.c": "x"}}),
        k.register({"and": [{"exists": "a.b.c"}, {"missing": "my-field"}]}),
        k.register({"geoBoundingBox": {"geo-pos": {
            "top": 43.7, "left": 3.8, "bottom": 43.5, "right": 4.0}}}),
        k.register({"match": {"my-field": "v2"}}),
    ]
    df = spark.createDataFrame(docs, schema)
    got = percolate(df, k.compiled(), id_col="doc_id").toPandas()
    spark_pairs = {(int(d), f) for d, f in got.itertuples(index=False)}
    local_pairs = {
        (d["doc_id"], fid)
        for d, fl in zip(docs, k.test_many(docs))
        for fid in fl
    }
    assert spark_pairs == local_pairs
    # every filter matches some document, so no field silently read as NULL
    assert {f for _, f in spark_pairs} == set(fids)


@pytest.mark.spark
class TestPercolateJson:
    def test_matches_typed_percolation(self, spark):
        """percolate_json over to_json(rows) must produce the identical
        pair set as typed percolate over the same rows (the JSON path
        reuses the oracled matcher kernel)."""
        from pyspark.sql import functions as F

        from koncorde_spark import Koncorde
        from koncorde_spark.spark.percolate import percolate, percolate_json

        k = Koncorde()
        k.register({"equals": {"event_type": "click"}})
        k.register({"range": {"value": {"gte": 50, "lt": 100}}})
        k.register({"and": [{"exists": "user.name"}, {"range": {"value": {"gt": 0}}}]})

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(2000)
        typed = percolate(ev, k.compiled(), id_col="event_id").toPandas()
        jdf = ev.select(
            "event_id", F.to_json(F.struct(*ev.columns)).alias("json")
        )
        viajson = percolate_json(
            jdf, k.compiled(), json_col="json", id_col="event_id"
        ).toPandas()
        key = lambda d: sorted(map(tuple, d.itertuples(index=False)))
        assert key(typed) == key(viajson)
        assert len(typed) > 0

    def test_schemaless_nested_and_arrays(self, spark):
        """Arbitrary nested JSON with no schema: match/select/array
        semantics flow through (no DataFrame schema exists to project)."""
        import pandas as pd

        from koncorde_spark import Koncorde
        from koncorde_spark.spark.percolate import percolate_json

        k = Koncorde()
        f_match = k.register({"match": {"meta": {"env": "prod"}}})
        f_sel = k.register(
            {"select": {"field": "tags", "index": 0, "query": {"equals": {"value": "hot"}}}}
        )
        rows = pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "json": [
                    '{"meta": {"env": "prod", "extra": 1}, "tags": ["cold"]}',
                    '{"tags": ["hot", "x"], "other": [1, 2]}',
                    '{"meta": {"env": "dev"}}',
                ],
            }
        )
        got = percolate_json(spark.createDataFrame(rows), k.compiled(), json_col="json",
                             id_col="doc_id").toPandas()
        pairs = {(a, b) for a, b in got.itertuples(index=False)}
        assert pairs == {(1, f_match), (2, f_sel)}

    def test_malformed_skip_and_raise(self, spark):
        import pandas as pd

        from koncorde_spark import Koncorde
        from koncorde_spark.spark.percolate import percolate_json

        k = Koncorde()
        fid = k.register({"equals": {"a": 1}})
        rows = pd.DataFrame(
            {"doc_id": [1, 2, 3, 4], "json": ['{"a": 1}', "{not json", "[1,2]", None]}
        )
        df = spark.createDataFrame(rows)
        got = percolate_json(df, k.compiled(), json_col="json", id_col="doc_id").toPandas()
        assert {(a, b) for a, b in got.itertuples(index=False)} == {(1, fid)}
        with pytest.raises(Exception, match="malformed JSON"):
            percolate_json(
                df, k.compiled(), json_col="json", id_col="doc_id", malformed="raise"
            ).collect()
