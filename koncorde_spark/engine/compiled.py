"""Compiled percolation index: link tables + per-keyword probe structures.

Spark-first re-expression of the reference engine
(/root/reference/lib/engine/index.js:51-235 and storeOperands.ts): the
filter → subfilter → condition link tables are the same conceptual shape,
but the probe structures are immutable, picklable, numpy-backed objects
designed to be ``spark.sparkContext.broadcast`` to executors and probed
**vectorized over whole Arrow batches** instead of one document at a time.

Matching a batch has two phases. Every probe structure is keyed by
condition ordinal, so each keyword section probes a condition once and
emits (row, condition ordinal) hits. The countdown then anchors each
subfilter on its rarest condition in the batch and verifies the others by
membership in the sorted hits (``CompiledIndex.match_batch``).

Removal (/root/reference/lib/engine/removeOperands.js) is handled the
Spark-idiomatic way: the authoritative state is the registered-filters dict;
``compile()`` derives a fresh CompiledIndex, so "remove" is just re-derive
without the filter — no in-place surgical teardown.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field as dc_field
from itertools import chain
from typing import Any

import numpy as np
import pandas as pd
from pandas.api.types import infer_dtype

from ..geo.geopoint import convert_geopoint
from ..geo.shapes import Annulus, BBox, Circle, GeoShape, Polygon, cells_hash_for_points
from ..normalize import NormalizedFilter, compile_js_regex, seeded_hash
from ..normalize.standardize import NormalizedExists

# ---------------------------------------------------------------------------
# typed value keys (strict JS equality: 1 !== '1', true !== 1)
# ---------------------------------------------------------------------------


def vkey(v: Any):
    """Type-tagged key for strict-equality dictionaries."""
    if v is None:
        return ("null", None)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, (int, float)):
        return ("num", float(v))
    if isinstance(v, str):
        return ("str", v)
    return ("other", repr(v))


def _item_matches(item: Any, tag: str, value: Any) -> bool:
    """One typed-scalar equality check (the strict true!==1 contract)."""
    if tag == "null":
        return item is None
    if tag == "bool":
        return isinstance(item, (bool, np.bool_)) and bool(item) == value
    if tag == "num":
        return (
            isinstance(item, (int, float, np.integer, np.floating))
            and not isinstance(item, (bool, np.bool_))
            and float(item) == value
        )
    if tag == "str":
        return isinstance(item, str) and item == value
    return False


def _flatten_object_lists(vals: np.ndarray):
    """One-pass decomposition of an object array's list entries.

    Returns ``(is_arr, items, parents)``: ``is_arr`` marks the list-typed
    entries; ``items`` is the flat object array of every list element;
    ``parents[i]`` is the source row of ``items[i]``. The single Python
    pass here replaces one FULL ``Series.apply`` pass PER CONDITION —
    every condition on the column then probes the same flattened view."""
    n = len(vals)
    is_arr = np.fromiter(
        (isinstance(v, (list, tuple, np.ndarray)) for v in vals),
        dtype=bool,
        count=n,
    )
    arr_pos = np.nonzero(is_arr)[0]
    if len(arr_pos) == 0:
        return is_arr, np.empty(0, dtype=object), np.empty(0, dtype=np.int64)
    lens = np.fromiter(
        (len(vals[i]) for i in arr_pos), dtype=np.int64, count=len(arr_pos)
    )
    parents = np.repeat(arr_pos, lens)
    items = np.empty(int(lens.sum()), dtype=object)
    pos = 0
    for i, ln in zip(arr_pos, lens):
        if ln:
            v = vals[i]
            # list() guard: slice-assigning a 2-D ndarray into an object
            # slice would broadcast-fail; a list of its rows assigns
            items[pos : pos + ln] = v if type(v) is list else list(v)
        pos += ln
    return is_arr, items, parents


class _FlatItems:
    """Factorized view of a flattened list column: typed containment per
    condition costs O(uniques) Python + O(items) numpy gathers instead of
    a per-row Python ``apply``. Bool items factorize apart from the rest
    (True/1 Python-hash equality — same guard as ``_equal_pairs``);
    None/NaN items carry factorize's -1 sentinel, so ``null`` containment
    is answered from a dedicated identity-is-None mask."""

    def __init__(self, items: np.ndarray, parents: np.ndarray, n_rows: int):
        self.items = items
        self.parents = parents
        self.n_rows = n_rows
        self.is_none = (
            np.fromiter((x is None for x in items), dtype=bool, count=len(items))
            if len(items)
            else np.empty(0, dtype=bool)
        )
        # parts: (positions, codes, uniques); codes None → unhashable
        # items in that partition, probed per-item instead
        self.parts: list[tuple[np.ndarray, Any, Any]] = []
        if len(items) == 0:
            return
        bmask = np.fromiter(
            (isinstance(x, (bool, np.bool_)) for x in items),
            dtype=bool,
            count=len(items),
        )
        if bmask.any() and not bmask.all():
            groups = [np.nonzero(bmask)[0], np.nonzero(~bmask)[0]]
        else:
            groups = [np.arange(len(items), dtype=np.int64)]
        for pos in groups:
            try:
                codes, uniques = pd.factorize(
                    pd.Series(items[pos], dtype=object)
                )
            except TypeError:
                self.parts.append((pos, None, None))
                continue
            self.parts.append((pos, codes, np.asarray(uniques, dtype=object)))

    def row_mask(self, tag: str, value: Any) -> np.ndarray:
        """Bool mask over source rows: list contains the typed value."""
        out = np.zeros(self.n_rows, dtype=bool)
        if len(self.items) == 0:
            return out
        if tag == "null":
            out[self.parents[self.is_none]] = True
            return out
        for pos, codes, uniques in self.parts:
            if codes is None:
                im = np.fromiter(
                    (_item_matches(self.items[i], tag, value) for i in pos),
                    dtype=bool,
                    count=len(pos),
                )
            else:
                uf = np.fromiter(
                    (_item_matches(u, tag, value) for u in uniques),
                    dtype=bool,
                    count=len(uniques),
                )
                im = np.zeros(len(pos), dtype=bool)
                valid = codes >= 0  # -1 = factorize NA sentinel (None/NaN)
                im[valid] = uf[codes[valid]]
            out[self.parents[pos[im]]] = True
        return out

    def rows_containing(self, tag: str, value: Any) -> np.ndarray:
        return np.nonzero(self.row_mask(tag, value))[0]


# ---------------------------------------------------------------------------
# probe structures
# ---------------------------------------------------------------------------


@dataclass
class RangeSet:
    """All range intervals on one field, SoA layout; ``conds[i]`` is the
    condition ordinal interval ``i`` belongs to.

    ``notrange`` complements are inserted at build time as the two
    complement intervals with flipped bound openness, exactly like the
    reference (lib/engine/storeOperands.ts:295-333); both
    carry the notrange condition's one ordinal.
    """

    lows: np.ndarray  # float64
    highs: np.ndarray  # float64
    low_strict: np.ndarray  # bool (True = open bound)
    high_strict: np.ndarray  # bool
    conds: np.ndarray  # int64 condition ordinals

    def probe(self, values: np.ndarray, valid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Return (row_idx, condition ordinal) hit pairs for numeric values:
        the valid values are sorted once and every interval bound is
        located by binary search, the side set by the bound's strictness."""
        vi = np.nonzero(valid)[0]
        if len(self.lows) == 0 or len(vi) == 0:
            return _EMPTY_PAIRS
        order = vi[np.argsort(values[vi], kind="stable")]
        sv = values[order]
        lo = np.where(
            self.low_strict,
            np.searchsorted(sv, self.lows, side="right"),
            np.searchsorted(sv, self.lows, side="left"),
        )
        hi = np.where(
            self.high_strict,
            np.searchsorted(sv, self.highs, side="left"),
            np.searchsorted(sv, self.highs, side="right"),
        )
        lens = np.maximum(hi - lo, 0)
        return order[_ranges(lo, lens)], np.repeat(self.conds, lens)


@dataclass
class RegexpSet:
    """Regex conditions on one field; compiled lazily per process."""

    patterns: list[tuple[str, str | None]]  # (pattern, flags)
    conds: list[int]  # condition ordinal per pattern
    _compiled: list = dc_field(default_factory=list, repr=False)

    def compiled(self):
        if len(self._compiled) != len(self.patterns):
            self._compiled = [compile_js_regex(p, f) for p, f in self.patterns]
        return self._compiled


@dataclass
class GeoSet:
    """Geo shapes on one field + cell → candidate-shape prefilter maps."""

    shapes: list[GeoShape]
    conds: list[int]  # condition ordinal per shape
    # precision → {cell_int: np.ndarray(shape indices)}
    cell_maps: dict[int, dict[int, np.ndarray]] = dc_field(default_factory=dict)

    def build_cells(self):
        per_precision: dict[int, dict[int, list[int]]] = {}
        for si, shape in enumerate(self.shapes):
            pp = per_precision.setdefault(shape.precision, {})
            for cell in shape.cells:
                pp.setdefault(cell, []).append(si)
        self.cell_maps = {
            p: {c: np.asarray(v, dtype=np.int32) for c, v in m.items()}
            for p, m in per_precision.items()
        }

    def candidates(self, lat: np.ndarray, lon: np.ndarray, valid: np.ndarray):
        """Geohash-cell pre-filter: (row, shape_idx) candidate pairs."""
        vi = np.nonzero(valid)[0]
        if len(vi) == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
        rows_out = []
        shapes_out = []
        for precision, cmap in self.cell_maps.items():
            cells = cells_hash_for_points(lat[vi], lon[vi], precision)
            # probe the dict per distinct cell (few distinct cells per batch)
            uniq, inv = np.unique(cells, return_inverse=True)
            for ui, cell in enumerate(uniq):
                cand = cmap.get(int(cell))
                if cand is None:
                    continue
                rr = vi[inv == ui]
                rows_out.append(np.repeat(rr, len(cand)))
                shapes_out.append(np.tile(cand, len(rr)))
        if not rows_out:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int32)
        return np.concatenate(rows_out), np.concatenate(shapes_out)

    def inside(self, lat: np.ndarray, lon: np.ndarray, valid: np.ndarray):
        """Yield (shape_idx, rows inside that shape) per candidate shape."""
        rows, shape_idx = self.candidates(lat, lon, valid)
        for si in np.unique(shape_idx):
            rr = rows[shape_idx == si]
            yield int(si), rr[self.shapes[si].contains(lat[rr], lon[rr])]


_EMPTY_PAIRS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + l)`` for every (start, length) pair."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(lens)
    return np.arange(total, dtype=np.int64) + np.repeat(starts - (ends - lens), lens)


class _Hits:
    """The (row, condition ordinal) hits of one batch: each keyword section
    adds one hit per row on which a condition holds."""

    def __init__(self):
        self.rows: list[np.ndarray] = []
        self.conds: list[np.ndarray] = []

    def add(self, rows: np.ndarray, conds: np.ndarray):
        """Aligned pairs: ``conds[i]`` holds on ``rows[i]``."""
        if len(rows):
            self.rows.append(rows)
            self.conds.append(conds)

    def cross(self, rows, conds):
        """Every condition in ``conds`` holds on every row in ``rows``."""
        if len(rows) and len(conds):
            rows = np.asarray(rows, dtype=np.int64)
            self.rows.append(np.tile(rows, len(conds)))
            self.conds.append(np.repeat(np.asarray(conds, dtype=np.int64), len(rows)))

    def sorted_keys(self, n: int) -> np.ndarray:
        """The hits as sorted ``cond * n + row`` keys."""
        if not self.rows:
            return np.empty(0, dtype=np.int64)
        keys = np.concatenate(self.conds) * n + np.concatenate(self.rows)
        keys.sort()
        return keys


# ---------------------------------------------------------------------------
# document batches
# ---------------------------------------------------------------------------


@dataclass
class DocBatch:
    """A batch of documents in columnar form for the matcher."""

    n: int
    cols: dict[str, pd.Series]  # dot-path → values
    docs: pd.Series | None = None  # original documents (dicts) for match/select

    _geo_cache: dict = dc_field(default_factory=dict, repr=False)

    def col(self, path: str) -> pd.Series | None:
        return self.cols.get(path)

    def geo(self, path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(lat, lon, valid) arrays for a geopoint field."""
        cached = self._geo_cache.get(path)
        if cached is not None:
            return cached
        lat_s = self.cols.get(f"{path}.lat")
        lon_s = self.cols.get(f"{path}.lon")
        if lat_s is not None and lon_s is not None:
            lat = pd.to_numeric(lat_s, errors="coerce").to_numpy(dtype=np.float64, na_value=np.nan)
            lon = pd.to_numeric(lon_s, errors="coerce").to_numpy(dtype=np.float64, na_value=np.nan)
            valid = ~(np.isnan(lat) | np.isnan(lon))
        else:
            s = self.cols.get(path)
            lat = np.full(self.n, np.nan)
            lon = np.full(self.n, np.nan)
            if s is not None:
                for i, v in enumerate(s):
                    if v is None or (isinstance(v, float) and math.isnan(v)):
                        continue
                    pt = convert_geopoint(_unwrap(v))
                    if pt is not None:
                        lat[i], lon[i] = pt
            valid = ~(np.isnan(lat) | np.isnan(lon))
        out = (lat, lon, valid)
        self._geo_cache[path] = out
        return out


def _unwrap(v):
    """Arrow → python: structs arrive as dicts already; Rows → dict."""
    if hasattr(v, "asDict"):
        return v.asDict(recursive=True)
    return v


def extract_path(doc: Any, path: str):
    """Dot-path extraction mirroring reference flatten semantics
    (/root/reference/lib/util/Flatten.ts:21-46): intermediate object nodes
    are addressable; arrays are leaves (no descent)."""
    cur = doc
    for part in path.split("."):
        if isinstance(cur, dict):
            if part not in cur:
                return _MISSING
            cur = cur[part]
        else:
            return _MISSING
    return cur


class _Missing:
    _inst = None

    def __new__(cls):
        if cls._inst is None:
            cls._inst = super().__new__(cls)
        return cls._inst

    def __repr__(self):
        return "<missing>"


_MISSING = _Missing()


# ---------------------------------------------------------------------------
# compiled index
# ---------------------------------------------------------------------------


@dataclass
class MatchPattern:
    """A `match` keyword pattern (recursive subset semantics)."""

    pattern: dict
    cond: int


@dataclass
class SelectEntry:
    """A `select` keyword: child index per (field, index)."""

    field: str
    index: int
    child: "CompiledIndex"
    # child filter_id → parent condition ordinals
    filters: dict[str, list[int]]


_NULL_KEY = ("null", None)
# infer_dtype kinds that cannot mix booleans with numbers (True == 1)
_NO_BOOL_MIX = frozenset({"string", "boolean", "integer", "floating", "mixed-integer-float"})


class CompiledIndex:
    """Immutable, picklable probe structures for one filter namespace."""

    def __getstate__(self):
        # never pickle the cached Spark broadcast handle (spark/percolate
        # attaches it driver-side for reuse; it must not ride to executors)
        state = dict(self.__dict__)
        state.pop("_percolate_bc", None)
        return state

    def __init__(self):
        self.n_sf = 0
        self.n_cond = 0
        # per arity: (sf ordinals (m,), their condition ordinals (m, arity))
        self.sf_groups: list[tuple[np.ndarray, np.ndarray]] = []
        self.sf_filter_offsets = np.zeros(1, dtype=np.int64)  # CSR by sf ordinal
        self.sf_filter_ord = np.empty(0, dtype=np.int64)
        self.filter_ids: list[str] = []
        self.fields_needed: set[str] = set()
        self.geo_fields: set[str] = set()
        self.needs_docs = False

        # every probe maps to condition ordinals
        self.equals: dict[str, dict[tuple, list[int]]] = {}
        self.notequals: dict[str, dict[tuple, list[int]]] = {}
        self.exists_conds: dict[str, list[int]] = {}
        self.exists_values: dict[str, dict[tuple, list[int]]] = {}
        self.notexists_conds: dict[str, list[int]] = {}
        self.notexists_values: dict[str, dict[tuple, list[int]]] = {}
        self.ranges: dict[str, RangeSet] = {}
        self.notranges: dict[str, RangeSet] = {}
        self.notrange_all: dict[str, list[int]] = {}
        self.regexps: dict[str, RegexpSet] = {}
        self.notregexps: dict[str, RegexpSet] = {}
        self.geo: dict[str, GeoSet] = {}
        self.notgeo: dict[str, GeoSet] = {}
        self.match_patterns: list[MatchPattern] = []
        self.notmatch_patterns: list[MatchPattern] = []
        self.selects: list[SelectEntry] = []
        self.everything_conds: list[int] = []

    # -- matching ---------------------------------------------------------

    def match_batch(self, batch: DocBatch) -> tuple[np.ndarray, np.ndarray]:
        """Match a batch; returns deduplicated (row, filter-ordinal) pairs.

        Every keyword section emits (row, condition ordinal) hits, one per
        row on which the condition holds. A subfilter matches a row iff
        every one of its condition ordinals holds on that row — the
        condition countdown of the reference
        (reference lib/engine/matcher/testTables.js:53-66), run as an
        anchor-and-verify pass over the sorted hits (``_countdown``), so
        the work grows with condition hits, not with the number of
        subfilters that share a condition.
        """
        n = batch.n
        hits = _Hits()
        hits.cross(np.arange(n, dtype=np.int64), self.everything_conds)
        self._match_equals(batch, hits)
        self._match_exists(batch, hits)
        self._match_ranges(batch, hits)
        self._match_regexps(batch, hits)
        self._match_geo(batch, hits)
        self._match_match(batch, hits)
        self._match_select(batch, hits)

        keys = hits.sorted_keys(n)
        if len(keys) == 0:
            return _EMPTY_PAIRS
        m_rows, m_sfs = self._countdown(keys, n)
        # resolve sf → filters (CSR), then dedup (row, filter)
        off = self.sf_filter_offsets
        lens = off[m_sfs + 1] - off[m_sfs]
        fords = self.sf_filter_ord[_ranges(off[m_sfs], lens)]
        nf = len(self.filter_ids)
        pair = np.unique(np.repeat(m_rows, lens) * nf + fords)
        return pair // nf, pair % nf

    def _countdown(self, keys: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
        """(row, sf ordinal) pairs whose every condition holds.

        ``keys`` are the batch's sorted ``cond * n + row`` hits. Each
        subfilter is anchored on its condition with the fewest rows in this
        batch; only the anchor's rows become candidates, and every other
        condition is checked, rarest first, by binary-search membership of
        its key. Memory is O(hits + candidates).
        """
        bounds = np.searchsorted(keys, np.arange(self.n_cond + 1, dtype=np.int64) * n)
        counts = np.diff(bounds)
        last = len(keys) - 1
        out_rows: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
        out_sfs: list[np.ndarray] = [np.empty(0, dtype=np.int64)]
        for sfs, conds in self.sf_groups:
            # each subfilter's conditions, rarest first: column 0 anchors
            conds = np.take_along_axis(
                conds, np.argsort(counts[conds], axis=1, kind="stable"), axis=1
            )
            live = counts[conds[:, 0]] > 0
            sfs, conds = sfs[live], conds[live]
            lens = counts[conds[:, 0]]
            cand = np.repeat(np.arange(len(sfs)), lens)
            rows = keys[_ranges(bounds[conds[:, 0]], lens)] % n
            for col in range(1, conds.shape[1]):
                probe = conds[cand, col] * n + rows
                ok = keys[np.minimum(np.searchsorted(keys, probe), last)] == probe
                cand, rows = cand[ok], rows[ok]
            out_rows.append(rows)
            out_sfs.append(sfs[cand])
        return np.concatenate(out_rows), np.concatenate(out_sfs)

    def match_docs(self, docs: list[dict]) -> list[list[str]]:
        """Local (driver-side) matching of Python dict documents — the
        ``Koncorde.test`` compatibility path used by ported reference tests."""
        batch = batch_from_docs(docs, self)
        rows, fords = self.match_batch(batch)
        out: list[list[str]] = [[] for _ in range(len(docs))]
        for r, f in zip(rows.tolist(), fords.tolist()):
            out[r].append(self.filter_ids[f])
        return out

    # -- keyword sections ---------------------------------------------------

    def _equal_pairs(
        self, s: pd.Series, isna: np.ndarray, cond_map: dict[tuple, list[int]]
    ) -> tuple[np.ndarray, np.ndarray]:
        """Aligned (row, condition) pairs: the present value of ``rows[i]``
        strictly equals the value of condition ``conds[i]``.

        O(n log n): factorize to distinct values, dict-probe the distinct
        values against the condition map, then expand every row through
        its value's condition list — the batch analogue of the reference's
        O(1)-per-doc Map.get
        (/root/reference/lib/engine/matcher/matchEquals.js:30-38).
        """
        nn = np.nonzero(~isna)[0]
        if len(nn) == 0:
            return _EMPTY_PAIRS
        sub = s.iloc[nn]
        if sub.dtype == object and infer_dtype(sub, skipna=True) not in _NO_BOOL_MIX:
            # Strict typing: Python hashes True==1 and False==0, so a batch
            # mixing booleans and numbers in one field would factorize them
            # into ONE code and the first-seen value's vkey would decide the
            # whole group (true !== 1 contract, reference matchEquals.js
            # strict Map keys). Split on the bool/non-bool boundary so each
            # factorize partition is type-pure w.r.t. that hash collision.
            bmask = np.fromiter(
                (isinstance(x, (bool, np.bool_)) for x in sub.to_numpy()),
                dtype=bool, count=len(sub),
            )
            if bmask.any() and not bmask.all():
                parts = [
                    self._factorized_pairs(nn[m], sub[m], cond_map) for m in (bmask, ~bmask)
                ]
                return np.concatenate([r for r, _ in parts]), np.concatenate([c for _, c in parts])
        return self._factorized_pairs(nn, sub, cond_map)

    @staticmethod
    def _factorized_pairs(nn, sub, cond_map):
        try:
            codes, uniques = pd.factorize(sub)
        except TypeError:
            # unhashable values (lists/structs) → every row is its own value
            codes, uniques = np.arange(len(sub)), list(sub)
        per_value = [cond_map.get(vkey(_coerce_np(u)), ()) for u in uniques]
        lens = np.fromiter(map(len, per_value), dtype=np.int64, count=len(per_value))
        if not lens.any():
            return _EMPTY_PAIRS
        flat = np.fromiter(chain.from_iterable(per_value), dtype=np.int64, count=int(lens.sum()))
        starts = np.cumsum(lens) - lens
        # -1 = factorize NA sentinel: never a hit
        row_lens = np.where(codes >= 0, lens[codes], 0)
        return np.repeat(nn, row_lens), flat[_ranges(starts[codes], row_lens)]

    def _match_equals(self, batch, hits: _Hits):
        for field, cond_map in self.equals.items():
            s = batch.col(field)
            if s is None:
                continue
            isna = s.isna().to_numpy()
            hits.cross(np.nonzero(isna)[0], cond_map.get(_NULL_KEY, ()))
            hits.add(*self._equal_pairs(s, isna, cond_map))
        for field, cond_map in self.notequals.items():
            s = batch.col(field)
            value_conds = np.asarray(
                sorted(c for k, cs in cond_map.items() if k != _NULL_KEY for c in cs),
                dtype=np.int64,
            )
            if s is None:
                # absent column ≡ null: matches every notequals except
                # the notequals-null condition itself. Deliberate divergence
                # from the reference (where undefined !== null is TRUE, so a
                # MISSING field matches notequals-null): a tabular engine
                # conflates missing/null, and we follow the SQL-twin
                # semantics (to_sql: IS NOT NULL) on both sides.
                hits.cross(np.arange(batch.n, dtype=np.int64), value_conds)
                continue
            isna = s.isna().to_numpy()
            hits.cross(np.nonzero(isna)[0], value_conds)
            # a present value !== null, always
            hits.cross(np.nonzero(~isna)[0], cond_map.get(_NULL_KEY, ()))
            if len(value_conds) == 0 or isna.all():
                continue
            # every present row, except where the value equals the condition's
            holds = np.tile(~isna, (len(value_conds), 1))
            eq_rows, eq_conds = self._equal_pairs(s, isna, cond_map)
            holds[np.searchsorted(value_conds, eq_conds), eq_rows] = False
            cond_idx, rows = np.nonzero(holds)
            hits.add(rows, value_conds[cond_idx])

    def _match_exists(self, batch, hits: _Hits):
        for path, conds in self.exists_conds.items():
            s = batch.col(path)
            if s is None:
                continue
            hits.cross(np.nonzero(s.notna().to_numpy())[0], conds)
        for path, vmap in self.exists_values.items():
            s = batch.col(path)
            if s is None:
                continue
            if s.dtype != object:
                continue  # scalar-typed column: no entry can be an array
            is_arr, items, parents = _flatten_object_lists(
                s.to_numpy(dtype=object)
            )
            if not is_arr.any():
                continue
            flat = _FlatItems(items, parents, batch.n)
            for (tag, value), conds in vmap.items():
                hits.cross(flat.rows_containing(tag, value), conds)
        for path, conds in self.notexists_conds.items():
            s = batch.col(path)
            if s is None:
                rows = np.arange(batch.n, dtype=np.int64)
            else:
                rows = np.nonzero(s.isna().to_numpy())[0]
            hits.cross(rows, conds)
        for path, vmap in self.notexists_values.items():
            s = batch.col(path)
            all_conds = [c for conds in vmap.values() for c in conds]
            if s is None:
                hits.cross(np.arange(batch.n, dtype=np.int64), all_conds)
                continue
            isna = s.isna().to_numpy()
            hits.cross(np.nonzero(isna)[0], all_conds)
            nn = np.nonzero(~isna)[0]
            if len(nn) == 0:
                continue
            if s.dtype != object:
                # scalar-typed column: no entry is an array, every
                # array-value cond matches every present row
                hits.cross(nn, all_conds)
                continue
            is_arr, items, parents = _flatten_object_lists(
                s.to_numpy(dtype=object)
            )
            # non-array present value: every array-value cond matches
            hits.cross(nn[~is_arr[nn]], all_conds)
            arr_rows = np.nonzero(is_arr)[0]  # arrays are never NA rows
            if len(arr_rows) == 0:
                continue
            flat = _FlatItems(items, parents, batch.n)
            for (tag, value), conds in vmap.items():
                contains = flat.row_mask(tag, value)
                hits.cross(arr_rows[~contains[arr_rows]], conds)

    def _numeric_col(self, batch, field):
        s = batch.col(field)
        if s is None:
            return None, None
        if pd.api.types.is_bool_dtype(s.dtype):
            return None, None
        if pd.api.types.is_numeric_dtype(s.dtype):
            vals = s.to_numpy(dtype=np.float64, na_value=np.nan)
            return vals, ~np.isnan(vals)
        # object column: extract numbers only (strict typing: strings don't match range)
        vals = np.full(batch.n, np.nan)
        for i, v in enumerate(s):
            if isinstance(v, (int, float, np.integer, np.floating)) and not isinstance(
                v, (bool, np.bool_)
            ):
                vals[i] = float(v)
        return vals, ~np.isnan(vals)

    def _match_ranges(self, batch, hits: _Hits):
        for field, rset in self.ranges.items():
            vals, valid = self._numeric_col(batch, field)
            if vals is not None:
                hits.add(*rset.probe(vals, valid))
        for field, rset in self.notranges.items():
            all_conds = self.notrange_all[field]
            vals, valid = self._numeric_col(batch, field)
            if vals is None:
                # column entirely absent → non-number → all notrange match
                hits.cross(np.arange(batch.n, dtype=np.int64), all_conds)
                continue
            # non-number value ⇒ matches all notrange conds on the field
            hits.cross(np.nonzero(~valid)[0], all_conds)
            # complement intervals already encode the negation — hits are matches
            hits.add(*rset.probe(vals, valid))

    @staticmethod
    def _string_codes(s: pd.Series) -> "tuple[np.ndarray, np.ndarray] | None":
        """Factorized string-only view of a column for regexp probes:
        ``(codes, uniques)`` with code -1 for every non-string value.

        A column whose dtype can't hold strings at all (numeric/bool from
        a Spark schema) returns None — regexp on a non-string simply
        doesn't match (reference regexpCondition).
        """
        if pd.api.types.is_object_dtype(s.dtype):
            vals = s.to_numpy()
            is_str = np.fromiter(
                (isinstance(v, str) for v in vals), dtype=bool, count=len(vals)
            )
            codes = np.full(len(vals), -1, dtype=np.int64)
            if not is_str.any():
                return codes, np.empty(0, dtype=object)
            codes[is_str], uniques = pd.factorize(vals[is_str])
            return codes, np.asarray(uniques, dtype=object)
        if pd.api.types.is_string_dtype(s.dtype):
            codes, uniques = pd.factorize(s)
            return codes, np.asarray(uniques, dtype=object)
        return None

    @staticmethod
    def _regexp_mask(creg, codes: np.ndarray, uniques: np.ndarray) -> np.ndarray:
        """Row mask of ``creg.search``, run once per distinct string."""
        hit = np.zeros(len(uniques) + 1, dtype=bool)  # [-1]: not a string
        hit[:-1] = np.fromiter(
            map(bool, map(creg.search, uniques)), dtype=bool, count=len(uniques)
        )
        return hit[codes]

    def _match_regexps(self, batch, hits: _Hits):
        for field, rx in self.regexps.items():
            s = batch.col(field)
            strs = None if s is None else self._string_codes(s)
            if strs is None:
                continue  # absent or non-string column ⇒ zero regexp hits
            for creg, c in zip(rx.compiled(), rx.conds):
                hits.cross(np.nonzero(self._regexp_mask(creg, *strs))[0], (c,))
        for field, rx in self.notregexps.items():
            s = batch.col(field)
            strs = None if s is None else self._string_codes(s)
            if strs is None:
                # absent or non-string column ⇒ every notregexp cond matches all rows
                hits.cross(np.arange(batch.n, dtype=np.int64), rx.conds)
                continue
            for creg, c in zip(rx.compiled(), rx.conds):
                # missing or non-matching values ⇒ match
                hits.cross(np.nonzero(~self._regexp_mask(creg, *strs))[0], (c,))

    def _match_geo(self, batch, hits: _Hits):
        for field, gset in self.geo.items():
            lat, lon, valid = batch.geo(field)
            for si, rows in gset.inside(lat, lon, valid):
                hits.cross(rows, (gset.conds[si],))
        for field, gset in self.notgeo.items():
            lat, lon, valid = batch.geo(field)
            # no/invalid geopoint ⇒ all notgeospatial conds on the field match
            hits.cross(np.nonzero(~valid)[0], gset.conds)
            inside = dict(gset.inside(lat, lon, valid))
            for si, c in enumerate(gset.conds):
                outside = valid.copy()
                outside[inside.get(si, _EMPTY_PAIRS[0])] = False
                hits.cross(np.nonzero(outside)[0], (c,))

    def _match_match(self, batch, hits: _Hits):
        if not self.match_patterns and not self.notmatch_patterns:
            return
        docs = batch.docs
        if docs is None:
            return
        from .objectmatcher import match_document

        for mp in self.match_patterns:
            rows = [
                i for i, d in enumerate(docs)
                if isinstance(d, dict) and match_document(d, mp.pattern)
            ]
            hits.cross(rows, (mp.cond,))
        for mp in self.notmatch_patterns:
            rows = [
                i for i, d in enumerate(docs)
                if not (isinstance(d, dict) and match_document(d, mp.pattern))
            ]
            hits.cross(rows, (mp.cond,))

    def _match_select(self, batch, hits: _Hits):
        if not self.selects:
            return
        docs = batch.docs
        for se in self.selects:
            # collect the selected element per row, then match them as a
            # child batch in one vectorized pass
            elems: list = []
            rows: list[int] = []
            if docs is not None:
                values = [
                    extract_path(d, se.field) if isinstance(d, dict) else _MISSING for d in docs
                ]
            else:
                s = batch.col(se.field)
                if s is None:
                    continue
                values = list(s)
            for i, arr in enumerate(values):
                if not isinstance(arr, (list, tuple, np.ndarray)):
                    continue
                idx = se.index if se.index >= 0 else len(arr) + se.index
                if idx < 0 or idx >= len(arr):
                    continue
                elems.append({"value": _coerce_np(arr[idx])})
                rows.append(i)
            if not rows:
                continue
            child_batch = batch_from_docs(elems, se.child)
            c_rows, c_fords = se.child.match_batch(child_batch)
            for cr, cf in zip(c_rows.tolist(), c_fords.tolist()):
                conds = se.filters.get(se.child.filter_ids[cf])
                if conds is not None:
                    hits.cross((rows[cr],), conds)


def _coerce_np(v):
    """numpy scalar → python scalar (Arrow lists arrive as np arrays)."""
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.ndarray):
        return [_coerce_np(x) for x in v.tolist()]
    return v


def batch_from_docs(docs: list[dict], index: "CompiledIndex") -> DocBatch:
    """Build a DocBatch from Python dict documents (driver-side test path)."""
    n = len(docs)
    cols: dict[str, pd.Series] = {}
    for path in index.fields_needed:
        vals = []
        for d in docs:
            v = extract_path(d, path) if isinstance(d, dict) else _MISSING
            vals.append(None if v is _MISSING else v)
        cols[path] = pd.Series(vals, dtype=object)
    for gf in index.geo_fields:
        # geo fields are parsed per row from the raw value by DocBatch.geo
        if gf not in cols:
            vals = []
            for d in docs:
                v = extract_path(d, gf) if isinstance(d, dict) else _MISSING
                vals.append(None if v is _MISSING else v)
            cols[gf] = pd.Series(vals, dtype=object)
    return DocBatch(n=n, cols=cols, docs=pd.Series(docs, dtype=object))
