"""Round-2 regression tests for the ADVICE.md findings.

Each test pins a bug verified by the round-1 advisor:
1. factorize hash-collision between bool and num in one batch column
   (engine/compiled.py _equal_pairs — true !== 1 strict contract);
2. notequals blanket-matching NA rows including the notequals-null cond;
3. regexp/notregexp on a non-string Spark column dtype crashing mapInPandas;
4. tokenize_arrow rendering null content as the phantom token 'none';
5. bench.py importability (the round-1 driver bench crashed on an
   UnboundLocalError nothing in tests/ exercised).
"""

import numpy as np
import pandas as pd
import pytest

from koncorde_spark import Koncorde


def _match_ids(k, docs):
    ci = k.compiled()
    return ci.match_docs(docs)


class TestMixedTypeBatch:
    def test_bool_and_num_in_one_batch(self):
        k = Koncorde()
        fid_true = k.register({"equals": {"f": True}})
        fid_one = k.register({"equals": {"f": 1}})
        out = _match_ids(k, [{"f": 1}, {"f": True}, {"f": 1.0}, {"f": False}, {"f": 0}])
        assert out[0] == [fid_one]
        assert out[1] == [fid_true]
        assert out[2] == [fid_one]
        assert out[3] == []  # False !== 0, and no equals-False filter
        assert out[4] == []
        # order-reversed batch must give identical per-doc results
        out2 = _match_ids(k, [{"f": True}, {"f": 1}])
        assert out2[0] == [fid_true] and out2[1] == [fid_one]

    def test_bool_zero_one_only_batch(self):
        k = Koncorde()
        fid = k.register({"equals": {"f": False}})
        out = _match_ids(k, [{"f": 0}, {"f": False}])
        assert out[0] == [] and out[1] == [fid]

    def test_notequals_mixed_batch(self):
        k = Koncorde()
        fid = k.register({"not": {"equals": {"f": 1}}})
        out = _match_ids(k, [{"f": 1}, {"f": True}])
        # strict: True !== 1, so the bool doc matches notequals-1
        assert out[0] == [] and out[1] == [fid]


class TestNotEqualsNull:
    def test_null_doc_does_not_match_notequals_null(self):
        k = Koncorde()
        fid = k.register({"not": {"equals": {"f": None}}})
        out = _match_ids(k, [{"f": None}, {"f": 1}, {}])
        assert out[0] == []        # explicit null: document[key] !== null fails
        assert out[1] == [fid]     # present non-null value matches
        assert out[2] == []        # missing collapses to null in columnar form
                                   # (matches the IS NOT NULL oracle SQL)

    def test_notequals_null_and_value_share_field(self):
        k = Koncorde()
        fid_null = k.register({"not": {"equals": {"f": None}}})
        fid_foo = k.register({"not": {"equals": {"f": "foo"}}})
        out = _match_ids(k, [{"f": None}, {"f": "foo"}, {"f": "bar"}])
        assert out[0] == [fid_foo]                    # null matches only ne-foo
        assert sorted(out[1]) == sorted([fid_null])   # foo matches only ne-null
        assert sorted(out[2]) == sorted([fid_null, fid_foo])


class TestRegexpNonStringColumn:
    def test_regexp_on_double_column_spark(self, spark):
        from koncorde_spark.spark.percolate import percolate

        k = Koncorde()
        k.register({"regexp": {"price": "^1.*"}})
        fid_not = k.register({"not": {"regexp": {"price": "^1.*"}}})
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [1, 2, 3], "price": [1.5, 2.5, 11.0]})
        )
        rows = percolate(df, k.compiled(), id_col="doc_id").collect()
        got = sorted((r["doc_id"], r["filter_id"]) for r in rows)
        # regexp on a non-string column never matches; notregexp matches all
        assert got == [(1, fid_not), (2, fid_not), (3, fid_not)]

    def test_regexp_on_long_column_spark(self, spark):
        from koncorde_spark.spark.percolate import percolate

        k = Koncorde()
        fid = k.register({"regexp": {"n": "x"}})
        df = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "n": [7]}))
        assert percolate(df, k.compiled(), id_col="doc_id").count() == 0


class TestTokenizerNullContent:
    def test_null_content_yields_empty(self):
        from koncorde_spark.fulltext.tokenizer import tokenize_arrow

        s = pd.Series(["foo bar", None, "none"], dtype=object)
        codes, rows, vocab, dls = tokenize_arrow(s)
        assert dls.tolist() == [2, 0, 1]
        # the only 'none' occurrence is the real one in row 2
        none_code = [i for i, v in enumerate(vocab) if v == "none"]
        assert len(none_code) == 1
        occ_rows = rows[codes == none_code[0]]
        assert occ_rows.tolist() == [2]


class TestRe2Engine:
    """regexp_engine='re2' must honor the linear-time contract, never
    silently downgrade to backtracking `re` (VERDICT r1 missing #1;
    reference lib/index.ts:86-95, regexpCondition.js:37)."""

    GOOD = ["^foo.*bar$", "a{2,}b*", "(foo|bar)+baz", "^(cl|vi)", "v[0-9]+\\.[0-9]+"]
    BAD = ["(a+)+$", "(a|a)*b", "(a|ab)*c", "back(.)\\1", "(?=x)y", "((x*)*)$"]

    def test_re2_accepts_linear_patterns(self):
        k = Koncorde(regexp_engine="re2")
        for p in self.GOOD:
            assert k.register({"regexp": {"f": p}})

    @pytest.mark.parametrize("pat", BAD)
    def test_re2_rejects_catastrophic_or_unsupported(self, pat):
        from koncorde_spark.errors import KoncordeParseError

        k = Koncorde(regexp_engine="re2")
        with pytest.raises(KoncordeParseError):
            k.register({"regexp": {"f": pat}})

    def test_js_engine_keeps_backtracking_semantics(self):
        k = Koncorde(regexp_engine="js")
        fid = k.register({"regexp": {"f": "(a+)+$"}})
        assert fid in k.test({"f": "aaa"})
        fid2 = k.register({"regexp": {"f": "back(.)\\1"}})
        assert fid2 in k.test({"f": "backxx"})


class TestBenchImportable:
    def test_bench_module_compiles_and_imports(self):
        import importlib.util
        import os

        path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
        spec = importlib.util.spec_from_file_location("bench_smoke", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)  # must not execute main() on import
        assert callable(mod.main)


class TestSelectNullOracleParity:
    """select with an equals-null child: the engine skips NULL / non-list /
    out-of-range rows, but DuckDB's list indexing returns NULL for those,
    so an unguarded `elem IS NULL` oracle would over-match (review r2)."""

    def test_oracle_guards_null_and_short_lists(self):
        import duckdb
        import pandas as pd

        from koncorde_spark.engine.to_sql import dnf_to_sql

        k = Koncorde()
        fid = k.register({"select": {"field": "tags", "index": 0, "query": {"equals": {"value": None}}}})

        rows = [
            {"doc_id": 0, "tags": None},          # NULL list: no match
            {"doc_id": 1, "tags": []},            # out of range: no match
            {"doc_id": 2, "tags": [None, "x"]},   # in-range null: match
            {"doc_id": 3, "tags": ["a"]},         # in-range non-null: no match
        ]
        engine_hits = {
            r["doc_id"] for r, fids in zip(rows, k.test_many(rows)) if fid in fids
        }
        assert engine_hits == {2}

        sql_where = dnf_to_sql(
            [[{"select": {"field": "tags", "index": 0, "query": {"equals": {"value": None}}}, "not": False}]]
        )
        con = duckdb.connect()
        con.register("t", pd.DataFrame({"doc_id": [0, 1, 2, 3], "tags": [None, [], [None, "x"], ["a"]]}))
        oracle_hits = set(con.sql(f"SELECT doc_id FROM t WHERE {sql_where}").df()["doc_id"])
        assert oracle_hits == engine_hits

    def test_negative_index_guarded(self):
        import duckdb
        import pandas as pd

        from koncorde_spark.engine.to_sql import dnf_to_sql

        sql_where = dnf_to_sql(
            [[{"select": {"field": "tags", "index": -2, "query": {"equals": {"value": "x"}}}, "not": False}]]
        )
        con = duckdb.connect()
        con.register(
            "t",
            pd.DataFrame({"doc_id": [0, 1, 2], "tags": [["x"], ["x", "y"], None]}),
        )
        got = set(con.sql(f"SELECT doc_id FROM t WHERE {sql_where}").df()["doc_id"])
        # only doc 1 has >= 2 elements with tags[-2] == 'x'
        assert got == {1}


class TestMultiNegativeConditionsOneField:
    """A subfilter with >= 2 negative conditions of one keyword on one
    field: the countdown requires one hit PER CONDITION, so the blanket
    emits must be multisets, not deduplicated unions (review r2)."""

    def test_two_notequals(self):
        k = Koncorde()
        fid = k.register(
            {"and": [{"not": {"equals": {"a": 1}}}, {"not": {"equals": {"a": 2}}}]}
        )
        out = k.test_many([{"a": 3}, {"a": 1}, {"a": 2}, {}, {"a": None}])
        assert out == [[fid], [], [], [fid], [fid]]

    def test_two_notranges(self):
        k = Koncorde()
        fid = k.register(
            {"and": [{"not": {"range": {"x": {"gt": 10, "lt": 20}}}},
                     {"not": {"range": {"x": {"gt": 30, "lt": 40}}}}]}
        )
        out = k.test_many([{"y": 1}, {"x": 25}, {"x": 15}, {"x": 35}, {"x": 5}])
        assert out == [[fid], [fid], [], [], [fid]]

    def test_two_notexists_array_values(self):
        k = Koncorde()
        fid = k.register({"and": [{"missing": 'tags["a"]'}, {"missing": 'tags["b"]'}]})
        out = k.test_many(
            [{"z": 1}, {"tags": ["a"]}, {"tags": ["c"]}, {"tags": ["a", "b"]}]
        )
        assert out == [[fid], [], [fid], []]

    def test_two_notregexps(self):
        k = Koncorde()
        fid = k.register(
            {"and": [{"not": {"regexp": {"s": "^a"}}}, {"not": {"regexp": {"s": "z$"}}}]}
        )
        out = k.test_many([{"s": "hello"}, {"s": "abc"}, {"s": "xyz"}, {"q": 0}])
        assert out == [[fid], [], [], [fid]]

    def test_two_notgeo_shapes(self):
        k = Koncorde()
        fid = k.register({"and": [
            {"not": {"geoBoundingBox": {"pt": {"top": 10, "left": 0, "bottom": 0, "right": 10}}}},
            {"not": {"geoBoundingBox": {"pt": {"top": 50, "left": 40, "bottom": 40, "right": 50}}}},
        ]})
        out = k.test_many(
            [{"q": 1}, {"pt": {"lat": 5, "lon": 5}}, {"pt": {"lat": 25, "lon": 25}}]
        )
        assert out == [[fid], [], [fid]]

    def test_notequals_null_plus_value_in_one_subfilter(self):
        """Mixed null + value notequals on one field: null doc matches only
        the value cond -> countdown 1/2 -> no match; present other value
        matches both."""
        k = Koncorde()
        fid = k.register(
            {"and": [{"not": {"equals": {"f": None}}}, {"not": {"equals": {"f": "x"}}}]}
        )
        out = k.test_many([{"f": None}, {"f": "x"}, {"f": "y"}, {}])
        assert out == [[], [], [fid], []]


class TestFlatItemsArrayMatcher:
    """The vectorized list-membership probe (one flatten + one factorize
    per column, per-unique typed checks) must keep strict typed
    containment: a list matches only an item of the same type tag
    (True is not 1, "1" is not 1) and equal value."""

    def test_typed_collisions_and_null_in_arrays(self):
        k = Koncorde()
        f_num = k.register({"exists": "tags[1]"})
        f_bool = k.register({"exists": "tags[true]"})
        f_null = k.register({"exists": "tags[null]"})
        f_str = k.register({"exists": 'tags["1"]'})
        docs = [
            {"tags": [1, 2]},            # num 1 only (not bool True, not "1")
            {"tags": [True]},            # bool True only
            {"tags": [None]},            # null only
            {"tags": ["1"]},             # str only
            {"tags": [False, 0, None]},  # null only (0 is not 1)
            {"tags": "1"},               # scalar, not an array: nothing
            {"tags": [float("nan")]},    # nan matches nothing
            {},                          # absent: nothing
        ]
        out = k.test_many(docs)
        assert out == [
            [f_num], [f_bool], [f_null], [f_str], [f_null], [], [], []
        ]

    def test_missing_array_value_typed(self):
        k = Koncorde()
        fid = k.register({"missing": "tags[1]"})
        docs = [
            {"tags": [1]},          # contains num 1 -> no match
            {"tags": [True]},       # bool True is not num 1 -> match
            {"tags": ["x"]},        # match
            {"tags": 5},            # non-array present value -> match
            {},                     # absent column -> match
            {"tags": None},         # null -> match
        ]
        assert k.test_many(docs) == [[], [fid], [fid], [fid], [fid], [fid]]

    def test_unhashable_items_fallback(self):
        """Lists nested inside arrays are unhashable — factorize falls
        back to per-item probes without changing results."""
        k = Koncorde()
        fid = k.register({"exists": 'tags["a"]'})
        docs = [
            {"tags": [["x"], "a"]},
            {"tags": [["a"]]},      # nested list is not the string "a"
            {"tags": ["b"]},
        ]
        assert k.test_many(docs) == [[fid], [], []]

    def test_array_heavy_microbench(self):
        """Array-heavy fixture: vectorized probe must stay well under the
        old per-row apply cost (~0.5s for this shape); generous ceiling
        so shared-vCPU noise never flakes."""
        import time

        rng = np.random.default_rng(7)
        n = 40_000
        docs = [
            {"tags": rng.choice(["a", "b", "c", "d", "e"], size=8).tolist()}
            for _ in range(n)
        ]
        k = Koncorde()
        fids = [
            k.register({"exists": f'tags["{v}"]'}) for v in ("a", "b", "zz")
        ]
        t = time.time()
        out = k.test_many(docs)
        took = time.time() - t
        hits_a = sum(fids[0] in o for o in out)
        assert hits_a == sum("a" in d["tags"] for d in docs)
        assert all(fids[2] not in o for o in out)
        assert took < 5.0, f"array matcher too slow: {took:.2f}s"
