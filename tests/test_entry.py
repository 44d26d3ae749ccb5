"""Driver-contract sanity: entry() runs, queries()/oracle_sql() keys are
consistent, and one representative oracle matches via DuckDB in-process."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_contract_keys():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 15
    # every oracle is syntactically valid SQL for DuckDB (EXPLAIN only)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name, sql in oracles.items():
        con.execute(f"EXPLAIN {sql}")


@pytest.mark.spark
def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.limit(5).collect()
    assert {"event_id", "filter_id"} <= set(df.columns)
    assert len(rows) > 0


@pytest.mark.spark
def test_one_oracle_end_to_end(spark):
    got = E.queries()["perc_documents"](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    exp = con.execute(E.oracle_sql()["perc_documents"]).fetchdf()
    g = {(int(a), b) for a, b in zip(got["doc_id"], got["filter_id"])}
    e = {(int(a), b) for a, b in zip(exp["doc_id"], exp["filter_id"])}
    assert g == e


@pytest.mark.spark
def test_bm25_topk_oracle_tiebreak_on_duplicates(spark, tmp_path):
    """The indexed path cuts its top-k by INTERNAL sha-derived doc id; on
    a duplicate-heavy corpus (all dupes tie exactly) the oracle must
    reproduce that tie-break or the k-cut picks different doc sets
    (review r2 — the plain id-ordered brute oracle diverges here)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as E

    docs = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": ["spark join merge pipeline"] * 30
            + [f"filler text {i}" for i in range(10)],
            "lang": ["en"] * 40,
            "source": ["src1"] * 40,
            "n_chars": [25] * 40,
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(docs).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = set(E._q_bm25_topk(spark, d).toPandas()["doc_id"])
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from parquet_scan('{d}/documents.parquet/*.parquet')"
    )
    want = set(con.sql(E.oracle_sql()["bm25_topk"]).df()["doc_id"])
    assert got == want and len(got) == 20
    # the id-ordered brute oracle picks a DIFFERENT set here — proving the
    # dedicated tie-break oracle is load-bearing, not cosmetic
    brute_set = set(con.sql(E.oracle_sql()["bm25_brute"]).df()["doc_id"])
    assert got != brute_set


@pytest.mark.spark
@pytest.mark.parametrize(
    "name",
    ["tokstats", "quality", "langid", "fingerprint", "quality_filter",
     "pii_scrub", "pii_scrub_arrow"],
)
def test_text_query_matches_oracle(spark, name):
    """The text queries served by text_features / pii_scrub match their
    oracle_sql() twins row for row, after the gate's normalization."""
    from tools.verify_oracles import normalize

    got = E.queries()[name](spark, SF).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    exp = con.execute(E.oracle_sql()[name]).fetchdf()
    g, e = normalize(got), normalize(exp)
    assert len(g) == len(e) == 500
    assert g == e
