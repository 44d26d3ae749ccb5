"""Builds a CompiledIndex from normalized filters.

Reproduces the link-table construction of the reference engine —
subfilter/condition dedup by seeded content hash
(/root/reference/lib/engine/index.js:175-235), negation folded into the
stored keyword name (`'not' + keyword`, engine/index.js:225) — then compiles
per-keyword probe structures (storeOperands.ts equivalents) into the
broadcast-friendly numpy layout of :mod:`.compiled`.

Each deduplicated condition gets an ordinal. Subfilters store their
condition ordinals (grouped by arity), and every probe structure maps a
probed value to the condition ordinals it satisfies — never to subfilter
lists, so a condition shared by many subfilters is probed and emitted once.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from ..geo.shapes import Annulus, BBox, Circle, Polygon
from ..normalize import NormalizedFilter, Transformer, seeded_hash
from ..normalize.standardize import NormalizedExists
from .compiled import (
    CompiledIndex,
    GeoSet,
    MatchPattern,
    RangeSet,
    RegexpSet,
    SelectEntry,
    vkey,
)


class FilterEngine:
    """One filter namespace: authoritative filter registry + compiler."""

    def __init__(self, transformer: Transformer, index_name: str | None = None):
        self.transformer = transformer
        self.index_name = index_name
        self.filters: dict[str, list[list[dict]]] = {}  # fid → DNF
        self._compiled: CompiledIndex | None = None

    def store(self, normalized: NormalizedFilter) -> str:
        if normalized.filter_id not in self.filters:
            self.filters[normalized.filter_id] = normalized.dnf
            self._compiled = None
        return normalized.filter_id

    def remove(self, filter_id: str) -> bool:
        if filter_id in self.filters:
            del self.filters[filter_id]
            self._compiled = None
            return True
        return False

    @property
    def compiled(self) -> CompiledIndex:
        if self._compiled is None:
            self._compiled = compile_index(
                self.filters, self.transformer, self.index_name
            )
        return self._compiled


def compile_index(
    filters: dict[str, list[list[dict]]],
    transformer: Transformer,
    index_name: str | None = None,
) -> CompiledIndex:
    seed = transformer.seed
    ci = CompiledIndex()
    ci.filter_ids = sorted(filters)

    sf_ord_by_hash: dict[str, int] = {}
    sf_filters: list[list[int]] = []  # sf ordinal → filter ordinals
    sf_conds: list[list[int]] = []  # sf ordinal → condition ordinals
    cond_ord_by_hash: dict[str, int] = {}
    conds: list[tuple[str, Any]] = []  # condition ordinal → (keyword, spec)

    for f_ord, fid in enumerate(ci.filter_ids):
        for clause in filters[fid]:
            sf_hash = seeded_hash(seed, clause)
            ord_ = sf_ord_by_hash.get(sf_hash)
            if ord_ is None:
                ord_ = sf_ord_by_hash[sf_hash] = len(sf_conds)
                sf_filters.append([])
                clause_conds = set()
                for cond in clause:
                    cond_hash = seeded_hash(seed, cond)
                    c = cond_ord_by_hash.get(cond_hash)
                    if c is None:
                        c = cond_ord_by_hash[cond_hash] = len(conds)
                        keyword = next(k for k in cond if k != "not")
                        stored_kw = ("not" + keyword) if cond.get("not") else keyword
                        conds.append((stored_kw, cond[keyword]))
                    clause_conds.add(c)
                sf_conds.append(sorted(clause_conds))
            if not sf_filters[ord_] or sf_filters[ord_][-1] != f_ord:
                sf_filters[ord_].append(f_ord)

    ci.n_sf = len(sf_conds)
    ci.n_cond = len(conds)

    # CSR: sf ordinal → filter ordinals (ascending: filters are visited in order)
    ci.sf_filter_offsets = np.zeros(ci.n_sf + 1, dtype=np.int64)
    ci.sf_filter_offsets[1:] = np.cumsum([len(f) for f in sf_filters])
    ci.sf_filter_ord = np.asarray(
        [f for fs in sf_filters for f in fs], dtype=np.int64
    )

    # subfilters grouped by arity: (sf ordinals, their condition ordinals);
    # a subfilter without conditions never matches
    by_arity: dict[int, list[int]] = {}
    for sf, cs in enumerate(sf_conds):
        if cs:
            by_arity.setdefault(len(cs), []).append(sf)
    ci.sf_groups = [
        (
            np.asarray(sfs, dtype=np.int64),
            np.asarray([sf_conds[sf] for sf in sfs], dtype=np.int64).reshape(len(sfs), arity),
        )
        for arity, sfs in sorted(by_arity.items())
    ]

    # ---- per-keyword probe structures, keyed by condition ordinal ------

    range_acc: dict[str, list] = {}
    notrange_acc: dict[str, list] = {}
    regexp_acc: dict[str, list] = {}
    notregexp_acc: dict[str, list] = {}
    geo_acc: dict[str, list] = {}
    notgeo_acc: dict[str, list] = {}
    # (field, index) → {child filter id: (child dnf, condition ordinals)}
    select_acc: dict[tuple[str, int], dict[str, tuple[list, list[int]]]] = {}

    for c, (kw, spec) in enumerate(conds):
        if kw == "equals":
            field = next(iter(spec))
            ci.equals.setdefault(field, {}).setdefault(vkey(spec[field]), []).append(c)
            ci.fields_needed.add(field)
        elif kw == "notequals":
            field = next(iter(spec))
            ci.notequals.setdefault(field, {}).setdefault(vkey(spec[field]), []).append(c)
            ci.fields_needed.add(field)
        elif kw == "exists":
            ne: NormalizedExists = spec
            if ne.array:
                ci.exists_values.setdefault(ne.path, {}).setdefault(vkey(ne.value), []).append(c)
            else:
                ci.exists_conds.setdefault(ne.path, []).append(c)
            ci.fields_needed.add(ne.path)
        elif kw == "notexists":
            ne = spec
            if ne.array:
                ci.notexists_values.setdefault(ne.path, {}).setdefault(vkey(ne.value), []).append(c)
            else:
                ci.notexists_conds.setdefault(ne.path, []).append(c)
            ci.fields_needed.add(ne.path)
        elif kw == "range":
            field = next(iter(spec))
            range_acc.setdefault(field, []).append((*_bounds(spec[field]), c))
            ci.fields_needed.add(field)
        elif kw == "notrange":
            field = next(iter(spec))
            low, high, lo_strict, hi_strict = _bounds(spec[field])
            # complement intervals with flipped openness (storeOperands.ts:295-333),
            # both under the one condition ordinal
            acc = notrange_acc.setdefault(field, [])
            if low != -np.inf:
                acc.append((-np.inf, low, False, not lo_strict, c))
            if high != np.inf:
                acc.append((high, np.inf, not hi_strict, False, c))
            ci.notrange_all.setdefault(field, []).append(c)
            ci.fields_needed.add(field)
        elif kw in ("regexp", "notregexp"):
            field = next(iter(spec))
            acc = regexp_acc if kw == "regexp" else notregexp_acc
            acc.setdefault(field, []).append(
                ((spec[field]["value"], spec[field].get("flags")), c)
            )
            ci.fields_needed.add(field)
        elif kw in ("geospatial", "notgeospatial"):
            shape_kw = next(iter(spec))
            field = next(iter(spec[shape_kw]))
            shape = _build_shape(shape_kw, spec[shape_kw][field])
            acc = geo_acc if kw == "geospatial" else notgeo_acc
            acc.setdefault(field, []).append((shape, c))
            ci.geo_fields.add(field)
        elif kw == "match":
            ci.match_patterns.append(MatchPattern(pattern=spec, cond=c))
            ci.needs_docs = True
        elif kw == "notmatch":
            ci.notmatch_patterns.append(MatchPattern(pattern=spec, cond=c))
            ci.needs_docs = True
        elif kw == "select":
            field, idx, query = spec["field"], int(spec["index"]), spec["query"]
            child_norm = transformer.normalize(query, f"{field}[{idx}]")
            children = select_acc.setdefault((field, idx), {})
            children.setdefault(child_norm.filter_id, (child_norm.dnf, []))[1].append(c)
            ci.needs_docs = True
            ci.fields_needed.add(field)
        elif kw == "everything":
            ci.everything_conds.append(c)
        elif kw == "nothing" or kw.startswith("not"):
            # `nothing` and unmatched negated keywords (e.g. notselect,
            # notnothing) never match — same as the reference matcher
            # registry, which has no entry for them.
            pass

    for field, items in range_acc.items():
        ci.ranges[field] = _build_rangeset(items)
    for field, items in notrange_acc.items():
        ci.notranges[field] = _build_rangeset(items)
    for accs, out in ((regexp_acc, ci.regexps), (notregexp_acc, ci.notregexps)):
        for field, items in accs.items():
            out[field] = RegexpSet(
                patterns=[p for p, _ in items], conds=[c for _, c in items]
            )
    for accs, out in ((geo_acc, ci.geo), (notgeo_acc, ci.notgeo)):
        for field, items in accs.items():
            gs = GeoSet(shapes=[sh for sh, _ in items], conds=[c for _, c in items])
            gs.build_cells()
            out[field] = gs
    for (field, idx), children in select_acc.items():
        ci.selects.append(
            SelectEntry(
                field=field,
                index=idx,
                child=compile_index(
                    {fid: dnf for fid, (dnf, _) in children.items()},
                    transformer,
                    f"{field}[{idx}]",
                ),
                filters={fid: cs for fid, (_, cs) in children.items()},
            )
        )

    return ci


def _bounds(spec: dict) -> tuple[float, float, bool, bool]:
    low, high = -np.inf, np.inf
    lo_strict = hi_strict = True  # infinite bounds are never reached anyway
    if "gt" in spec:
        low, lo_strict = float(spec["gt"]), True
    if "gte" in spec:
        low, lo_strict = float(spec["gte"]), False
    if "lt" in spec:
        high, hi_strict = float(spec["lt"]), True
    if "lte" in spec:
        high, hi_strict = float(spec["lte"]), False
    return low, high, lo_strict, hi_strict


def _build_rangeset(items: list) -> RangeSet:
    lows, highs, lo_strict, hi_strict, conds = zip(*items)
    return RangeSet(
        lows=np.asarray(lows, dtype=np.float64),
        highs=np.asarray(highs, dtype=np.float64),
        low_strict=np.asarray(lo_strict, dtype=bool),
        high_strict=np.asarray(hi_strict, dtype=bool),
        conds=np.asarray(conds, dtype=np.int64),
    )


def _build_shape(shape_kw: str, spec):
    if shape_kw == "geoBoundingBox":
        return BBox.make(spec["top"], spec["left"], spec["bottom"], spec["right"])
    if shape_kw == "geoDistance":
        return Circle.make(spec["lat"], spec["lon"], spec["distance"])
    if shape_kw == "geoDistanceRange":
        return Annulus.make(spec["lat"], spec["lon"], spec["from"], spec["to"])
    if shape_kw == "geoPolygon":
        return Polygon.make(spec)
    raise ValueError(f"unknown geospatial shape keyword: {shape_kw}")
