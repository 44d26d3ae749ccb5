"""Per-keyword removal-cascade matrix.

The reference removes filters by cascading deletes through the
field-operand structures per keyword
(/root/reference/lib/engine/removeOperands.js:34-419: each keyword
handler prunes its values/fields and deletes emptied containers). Our
removal is recompile-based (engine/builder.py FilterEngine.remove) —
semantically equivalent — so the cascade is asserted through compiled-
index introspection: for every keyword, register A and B sharing a
condition, remove A, and require that

1. documents matching only A stop matching entirely,
2. B keeps matching (the shared condition survives),
3. the compiled structures strictly SHRANK (A-specific entries gone),
4. removing B too cascades to completely empty structures (the
   reference's delete-containers-when-empty behavior).
"""

import pytest

from koncorde_spark import Koncorde

BOX = {"top": 43.6331979, "left": 3.8433703, "bottom": 43.5810609, "right": 3.9282093}
INSIDE = {"lat": 43.6073913, "lon": 3.9109057}

SHARED = {"equals": {"shared": "x"}}


def struct_size(ci) -> int:
    """Total entry count across every per-keyword compiled structure."""
    n = 0
    for d in (ci.equals, ci.notequals, ci.exists_values, ci.notexists_values):
        n += sum(len(v) for v in d.values())
    n += len(ci.exists_conds) + len(ci.notexists_conds)
    n += len(ci.ranges) + len(ci.notranges)
    n += len(ci.regexps) + len(ci.notregexps)
    n += len(ci.geo) + len(ci.notgeo)
    n += len(ci.match_patterns) + len(ci.notmatch_patterns) + len(ci.selects)
    n += len(ci.everything_conds)
    return n


# name -> (a_extra, b_extra, doc_ab, doc_a)
#   A = and(SHARED, a_extra), B = and(SHARED, b_extra)
#   doc_ab matches both; doc_a matches A only
CASES = {
    "equals": (
        {"equals": {"a": 1}},
        {"equals": {"b": 2}},
        {"shared": "x", "a": 1, "b": 2},
        {"shared": "x", "a": 1},
    ),
    "notequals": (
        {"not": {"equals": {"a": 1}}},
        {"not": {"equals": {"b": 2}}},
        {"shared": "x"},
        {"shared": "x", "b": 2},
    ),
    "exists": (
        {"exists": "a"},
        {"exists": "b"},
        {"shared": "x", "a": 1, "b": 1},
        {"shared": "x", "a": 1},
    ),
    "notexists": (
        {"not": {"exists": "a"}},
        {"not": {"exists": "b"}},
        {"shared": "x"},
        {"shared": "x", "b": 1},
    ),
    "exists_array_value": (
        {"exists": 'a["v"]'},
        {"exists": 'b["w"]'},
        {"shared": "x", "a": ["v"], "b": ["w"]},
        {"shared": "x", "a": ["v"]},
    ),
    "range": (
        {"range": {"a": {"gt": 0, "lt": 10}}},
        {"range": {"b": {"gt": 0, "lt": 10}}},
        {"shared": "x", "a": 5, "b": 5},
        {"shared": "x", "a": 5},
    ),
    "notrange": (
        {"not": {"range": {"a": {"gt": 0, "lt": 10}}}},
        {"not": {"range": {"b": {"gt": 0, "lt": 10}}}},
        {"shared": "x"},
        {"shared": "x", "b": 5},
    ),
    "regexp": (
        {"regexp": {"a": {"value": "^fo+"}}},
        {"regexp": {"b": {"value": "^ba+r"}}},
        {"shared": "x", "a": "foo", "b": "baar"},
        {"shared": "x", "a": "foo"},
    ),
    "notregexp": (
        {"not": {"regexp": {"a": {"value": "^fo+"}}}},
        {"not": {"regexp": {"b": {"value": "^ba+r"}}}},
        {"shared": "x"},
        {"shared": "x", "b": "baar"},
    ),
    "geoBoundingBox": (
        {"geoBoundingBox": {"pa": BOX}},
        {"geoBoundingBox": {"pb": BOX}},
        {"shared": "x", "pa": INSIDE, "pb": INSIDE},
        {"shared": "x", "pa": INSIDE},
    ),
    "notgeospatial": (
        {"not": {"geoBoundingBox": {"pa": BOX}}},
        {"not": {"geoBoundingBox": {"pb": BOX}}},
        {"shared": "x"},
        {"shared": "x", "pb": INSIDE},
    ),
    "match": (
        {"match": {"ma": 1}},
        {"match": {"mb": 1}},
        {"shared": "x", "ma": 1, "mb": 1},
        {"shared": "x", "ma": 1},
    ),
    "notmatch": (
        {"not": {"match": {"ma": 1}}},
        {"not": {"match": {"mb": 1}}},
        {"shared": "x"},
        {"shared": "x", "mb": 1},
    ),
    "select": (
        {"select": {"field": "aa", "index": 0, "query": {"equals": {"value": "v"}}}},
        {"select": {"field": "bb", "index": 0, "query": {"equals": {"value": "v"}}}},
        {"shared": "x", "aa": ["v"], "bb": ["v"]},
        {"shared": "x", "aa": ["v"]},
    ),
    "ids": (
        {"ids": {"values": ["d1", "da"]}},
        {"ids": {"values": ["d1", "db"]}},
        {"shared": "x", "_id": "d1"},
        {"shared": "x", "_id": "da"},
    ),
    "in": (
        {"in": {"f": ["x", "ya"]}},
        {"in": {"f": ["x", "yb"]}},
        {"shared": "x", "f": "x"},
        {"shared": "x", "f": "ya"},
    ),
    "bool": (
        {
            "bool": {
                "must": [{"equals": {"a": 1}}],
                "must_not": [{"exists": "na"}],
            }
        },
        {
            "bool": {
                "must": [{"equals": {"b": 2}}],
                "must_not": [{"exists": "nb"}],
            }
        },
        {"shared": "x", "a": 1, "b": 2},
        {"shared": "x", "a": 1, "nb": 1},
    ),
}


class TestRemovalCascade:
    @pytest.mark.parametrize("name", sorted(CASES))
    def test_keyword_cascade(self, name):
        a_extra, b_extra, doc_ab, doc_a = CASES[name]
        k = Koncorde()
        fa = k.register({"and": [SHARED, a_extra]})
        fb = k.register({"and": [SHARED, b_extra]})
        assert fa != fb

        assert set(k.test(doc_ab)) == {fa, fb}
        assert k.test(doc_a) == [fa]
        full = k.compiled()
        full_size, full_sf = struct_size(full), full.n_sf

        k.remove(fa)
        # 1-2. matching: A gone, B intact via the shared condition
        assert k.test(doc_a) == []
        assert k.test(doc_ab) == [fb]
        ci = k.compiled()
        # 3. structures shrank and the shared condition survived
        assert ci.n_sf < full_sf
        assert struct_size(ci) < full_size
        assert "shared" in ci.equals  # the shared equals field must persist

        # 4. removing B cascades to empty structures
        k.remove(fb)
        assert k.test(doc_ab) == []
        # engine dropped entirely or compiled to the empty index
        ci2 = k.compiled()
        if ci2 is not None:
            assert ci2.n_sf == 0
            assert struct_size(ci2) == 0

    def test_everything_cascade(self):
        k = Koncorde()
        fa = k.register({})  # everything
        fb = k.register({"equals": {"b": 2}})
        assert set(k.test({"b": 2})) == {fa, fb}
        assert k.test({"c": 3}) == [fa]
        assert len(k.compiled().everything_conds) == 1

        k.remove(fa)
        assert k.test({"c": 3}) == []
        assert k.test({"b": 2}) == [fb]
        assert len(k.compiled().everything_conds) == 0

    def test_nothing_removal(self):
        k = Koncorde()
        fa = k.register({"nothing": True})
        fb = k.register({"equals": {"b": 2}})
        assert k.test({"b": 2}) == [fb]  # nothing never matches
        assert k.has_filter_id(fa)
        k.remove(fa)
        assert not k.has_filter_id(fa)
        assert k.test({"b": 2}) == [fb]

    def test_remove_unknown_id_is_noop(self):
        k = Koncorde()
        fb = k.register({"equals": {"b": 2}})
        before = struct_size(k.compiled())
        k.remove("0" * 64)
        assert k.test({"b": 2}) == [fb]
        assert struct_size(k.compiled()) == before

    def test_shared_subfilter_refcount(self):
        """Two filters with the IDENTICAL subfilter: removing one must not
        disturb the other's matching (subfilter dedup by content hash,
        reference lib/engine/index.js:175-192)."""
        k = Koncorde()
        fa = k.register({"or": [{"equals": {"a": 1}}, {"equals": {"c": 3}}]})
        fb = k.register({"equals": {"a": 1}})
        assert set(k.test({"a": 1})) == {fa, fb}
        k.remove(fa)
        assert k.test({"a": 1}) == [fb]
        assert k.test({"c": 3}) == []
