"""Property-based engine-vs-oracle fuzz: random filters × random docs.

For any filter the DSL accepts whose DNF is SQL-expressible, the match
set computed by the vectorized engine must equal the match set of the
DuckDB SQL generated from the SAME canonical DNF (engine/to_sql). This
is exactly the class of check that exposed the multi-negative-condition
countdown bug — the driver gate runs a fixed filter list, this explores
the combinatorial space around it.

Derandomized (fixed seed) so CI runs are reproducible, deadline disabled
(DuckDB startup jitter).
"""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from koncorde_spark import Koncorde
from koncorde_spark.engine.to_sql import NotSqlExpressible, percolation_oracle_sql

NUM_FIELDS = ["na", "nb"]
STR_FIELDS = ["sa", "sb"]
NUM_VALUES = [0, 1, 2.5, 10, -3]
STR_VALUES = ["x", "y", "zz", ""]


def num_leaf():
    field = st.sampled_from(NUM_FIELDS)
    return st.one_of(
        st.tuples(field, st.sampled_from(NUM_VALUES)).map(
            lambda t: {"equals": {t[0]: t[1]}}
        ),
        st.tuples(
            field,
            st.sampled_from(NUM_VALUES),
            st.sampled_from(NUM_VALUES),
            st.booleans(),
            st.booleans(),
        ).map(
            lambda t: {
                "range": {
                    t[0]: {
                        ("gt" if t[3] else "gte"): min(t[1], t[2]),
                        ("lt" if t[4] else "lte"): max(t[1], t[2]) + 1,
                    }
                }
            }
        ),
    )


def str_leaf():
    field = st.sampled_from(STR_FIELDS)
    return st.one_of(
        st.tuples(field, st.sampled_from(STR_VALUES + [None])).map(
            lambda t: {"equals": {t[0]: t[1]}}
        ),
        st.tuples(field, st.sampled_from(["^x", "y$", "z"])).map(
            lambda t: {"regexp": {t[0]: t[1]}}
        ),
        st.tuples(
            field, st.sampled_from([["x", "y"], ["zz"], ["", "x"]])
        ).map(lambda t: {"in": {t[0]: t[1]}}),
        field.map(lambda f: {"exists": f}),
        field.map(lambda f: {"missing": f}),
    )


def leaf():
    return st.one_of(num_leaf(), str_leaf())


def maybe_not(s):
    return st.one_of(s, s.map(lambda f: {"not": f}))


def same_field_negatives():
    """Adversarial branch: several negated conditions on ONE field inside
    one operand — the exact shape of the countdown multiset bug (a
    uniform random draw almost never collides fields, so bias for it)."""
    neg_num = st.tuples(
        st.sampled_from(NUM_FIELDS),
        st.lists(st.sampled_from(NUM_VALUES), min_size=2, max_size=3, unique=True),
        st.sampled_from(["and", "or"]),
    ).map(lambda t: {t[2]: [{"not": {"equals": {t[0]: v}}} for v in t[1]]})
    neg_range = st.tuples(
        st.sampled_from(NUM_FIELDS),
        st.sampled_from([(0, 1), (2, 5), (-3, 0)]),
        st.sampled_from([(5, 10), (1, 2)]),
    ).map(
        lambda t: {
            "and": [
                {"not": {"range": {t[0]: {"gte": t[1][0], "lt": t[1][1]}}}},
                {"not": {"range": {t[0]: {"gte": t[2][0], "lt": t[2][1]}}}},
            ]
        }
    )
    neg_str = st.tuples(
        st.sampled_from(STR_FIELDS),
        st.lists(st.sampled_from(STR_VALUES + [None]), min_size=2, max_size=3, unique=True),
    ).map(lambda t: {"and": [{"not": {"equals": {t[0]: v}}} for v in t[1]]})
    return st.one_of(neg_num, neg_range, neg_str)


def filters():
    l = maybe_not(leaf())
    combo = st.one_of(
        st.lists(l, min_size=1, max_size=3).map(lambda fs: {"and": fs}),
        st.lists(l, min_size=1, max_size=3).map(lambda fs: {"or": fs}),
    )
    nested = st.one_of(
        st.tuples(combo, l).map(lambda t: {"and": [t[0], t[1]]}),
        st.tuples(combo, combo).map(lambda t: {"or": [t[0], t[1]]}),
    )
    bool_op = st.tuples(
        st.lists(leaf(), min_size=1, max_size=2),
        st.lists(leaf(), min_size=1, max_size=2),
        st.lists(leaf(), min_size=1, max_size=2),
    ).map(
        lambda t: {"bool": {"must": t[0], "must_not": t[1], "should": t[2]}}
    )
    return st.one_of(l, maybe_not(combo), maybe_not(nested), bool_op, same_field_negatives())


def _oracle_table(rows):
    """DuckDB connection holding ``rows`` as table ``t``: numeric fields
    typed float64 (None -> NaN -> SQL NULL), string fields object."""
    pdf = pd.DataFrame(rows)
    for f in NUM_FIELDS:
        pdf[f] = pd.to_numeric(pdf[f])
    con = duckdb.connect()
    con.register("t", pdf)
    return con


def docs_frame(draw, min_rows=4, max_rows=16):
    n = draw(st.integers(min_value=min_rows, max_value=max_rows))
    rows = []
    for i in range(n):
        row = {"doc_id": i}
        for f in NUM_FIELDS:
            row[f] = draw(st.sampled_from(NUM_VALUES + [None]))
        for f in STR_FIELDS:
            row[f] = draw(st.sampled_from(STR_VALUES + [None]))
        rows.append(row)
    return rows


@settings(
    max_examples=500,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data(), filt=filters())
def test_engine_matches_generated_oracle(data, filt):
    rows = docs_frame(data.draw)

    k = Koncorde()
    fid = k.register(filt)
    dnf = k.engines[None].filters[fid]
    try:
        sql = percolation_oracle_sql({fid: dnf}, "t", "doc_id")
    except NotSqlExpressible:
        return  # rows-only territory, out of scope for this fuzz

    engine_hits = {
        r["doc_id"]
        for r, fids in zip(rows, k.test_many([{k2: v for k2, v in r.items() if k2 != "doc_id"} for r in rows]))
        if fid in fids
    }

    con = _oracle_table(rows)
    oracle_hits = set(con.sql(sql).df()["doc_id"])

    assert engine_hits == oracle_hits, (
        f"filter={filt}\nsql={sql}\nengine={sorted(engine_hits)} "
        f"oracle={sorted(oracle_hits)}\nrows={rows}"
    )


@settings(
    max_examples=150,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(data=st.data(), filts=st.lists(filters(), min_size=2, max_size=12))
def test_many_filters_share_conditions(data, filts):
    """Several filters in ONE engine, so conditions and subfilters are
    shared across filters and the countdown picks a per-batch anchor.
    Each filter's hits equal its oracle; batch matching equals per-doc
    matching and matching the batch in two halves (other row counts,
    other anchors)."""
    rows = docs_frame(data.draw, min_rows=4, max_rows=64)
    docs = [{k2: v for k2, v in r.items() if k2 != "doc_id"} for r in rows]

    k = Koncorde()
    fids = sorted({k.register(f) for f in filts})
    many = k.test_many(docs)
    assert many == [k.test(d) for d in docs]
    half = len(docs) // 2
    assert many == k.test_many(docs[:half]) + k.test_many(docs[half:])

    con = _oracle_table(rows)
    for fid in fids:
        try:
            sql = percolation_oracle_sql({fid: k.engines[None].filters[fid]}, "t", "doc_id")
        except NotSqlExpressible:
            continue
        engine_hits = {r["doc_id"] for r, got in zip(rows, many) if fid in got}
        oracle_hits = set(con.sql(sql).df()["doc_id"])
        assert engine_hits == oracle_hits, (
            f"filter={fid}\nsql={sql}\nengine={sorted(engine_hits)} "
            f"oracle={sorted(oracle_hits)}\nrows={rows}"
        )
