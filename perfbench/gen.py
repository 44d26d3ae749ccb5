"""Seeded input generators for every workload.

Everything the program receives is made from the run's seed: here the
event-shaped document table, the percolation filter set, the churn op
stream and the search query log; the search corpus and the ingest batches
come from the program's own seeded ``sources.synthetic_corpus_df``. The
same seed gives the same inputs; ``describe_filters`` records the keyword
mix so a later change that alters the work (rather than the speed) shows.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

EVENT_TYPES = np.array(
    ["view", "click", "search", "login", "logout", "purchase", "share",
     "upload", "download", "signup", "refund", "error"], dtype=object)
EVENT_P = np.array([30, 20, 12, 8, 6, 6, 4, 4, 4, 2, 2, 2], dtype=float)
COUNTRIES = np.array(
    ["us", "fr", "de", "gb", "es", "it", "nl", "be", "ch", "at",
     "pl", "se", "no", "dk", "fi", "pt", "ie", "ca", "br", "jp"], dtype=object)
STATUSES = np.array(["ok", "warn", "fail", "retry", "timeout"], dtype=object)
STATUS_P = np.array([70, 12, 8, 6, 4], dtype=float)
METHODS = np.array(["GET", "POST", "PUT", "DELETE"], dtype=object)
RESOURCES = np.array(["items", "orders", "users", "carts", "reviews", "tags"], dtype=object)
N_USERS = 4000
N_DEVICES = 1500
N_MSG_IDS = 40
# geo points fall in a 10°×10° box so the geo filters (small boxes and
# circles inside it) have a few hits each
LAT0, LON0, GEO_SPAN = 40.0, -5.0, 10.0


def _zipf_index(rng: np.random.Generator, n: int, size: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


# ---------------------------------------------------------------------------
# percolation: documents and filters
# ---------------------------------------------------------------------------


def event_docs(seed: int, n: int, id_base: int = 0) -> pd.DataFrame:
    """Event-shaped documents; ~5% of ``status`` and ``latency_ms`` are
    null so the negated keywords' missing-field rule is exercised."""
    rng = np.random.default_rng([seed, 1, id_base])
    users = np.array([f"u{i:05d}" for i in range(N_USERS)], dtype=object)
    devices = np.array([f"d{i:04d}" for i in range(N_DEVICES)], dtype=object)
    method = METHODS[rng.integers(0, len(METHODS), n)]
    res = RESOURCES[rng.integers(0, len(RESOURCES), n)]
    ver = rng.integers(1, 3, n)
    mid = rng.integers(0, N_MSG_IDS, n)
    code = np.where(rng.random(n) < 0.9, 200, rng.choice([404, 500], n))
    message = [f"{m} /api/v{v}/{r}/{i} {c}" for m, v, r, i, c in zip(method, ver, res, mid, code)]
    status = STATUSES[rng.choice(len(STATUSES), n, p=STATUS_P / STATUS_P.sum())].copy()
    status[rng.random(n) < 0.05] = None
    latency = np.round(rng.lognormal(3.0, 1.0, n), 3)
    latency[rng.random(n) < 0.05] = np.nan
    return pd.DataFrame({
        "doc_id": np.arange(id_base, id_base + n, dtype=np.int64),
        "user_id": users[_zipf_index(rng, N_USERS, n, 0.8)],
        "device": devices[rng.integers(0, N_DEVICES, n)],
        "event_type": EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_P / EVENT_P.sum())],
        "country": COUNTRIES[_zipf_index(rng, len(COUNTRIES), n, 0.7)],
        "status": status,
        "level": rng.integers(0, 10, n).astype(np.int64),
        "value": np.round(rng.random(n) * 1000.0, 2),
        "latency_ms": latency,
        "message": message,
        "lat": np.round(LAT0 + rng.random(n) * GEO_SPAN, 5),
        "lon": np.round(LON0 + rng.random(n) * GEO_SPAN, 5),
    })


def event_dicts(df: pd.DataFrame) -> list[dict]:
    """Row dicts for the driver-side ``test_many`` path: nulls become
    missing fields, the geo point becomes a ``pos`` object."""
    out = []
    for rec in df.to_dict("records"):
        d = {}
        for k, v in rec.items():
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            d[k] = v
        d["pos"] = {"lat": d.pop("lat"), "lon": d.pop("lon")}
        out.append(d)
    return out


# keyword mix of a filter set (share of filters per template); the
# templates are chosen to be selective, so pairs_per_doc stays ~1-3
FILTER_MIX = {
    "equals_id": 0.30,      # equals on an id-like field
    "in_ids": 0.12,         # in on an id-like field
    "in_enum_range": 0.12,  # in on enum fields + narrow range
    "range": 0.14,          # narrow range on a number
    "regexp": 0.04,         # regexp on the message, and-ed with an enum
    "bool_not": 0.16,       # bool must / must_not
    "not_and": 0.06,        # and with a negated equals / missing
    "exists": 0.03,         # equals + exists
    "geo": 0.002,           # bounding box or distance, geo only
}
# compiling a geo shape costs ~0.1 s (geohash cover), and every churn op
# recompiles the whole live set, so the churn stream registers no geo
# filters; geo compile cost shows in percolate_scan's setup_s instead
CHURN_MIX = {k: v for k, v in FILTER_MIX.items() if k != "geo"}


def _one_filter(rng: np.random.Generator, kind: str) -> dict:
    def user():
        return f"u{int(rng.integers(0, N_USERS)):05d}"

    def device():
        return f"d{int(rng.integers(0, N_DEVICES)):04d}"

    def pick(arr):
        return str(arr[int(rng.integers(0, len(arr)))])

    if kind == "equals_id":
        if rng.random() < 0.5:
            return {"equals": {"user_id": user()}}
        return {"equals": {"device": device()}}
    if kind == "in_ids":
        return {"in": {"user_id": sorted({user() for _ in range(int(rng.integers(2, 6)))})}}
    if kind == "in_enum_range":
        lo = round(float(rng.random() * 990.0), 2)
        return {"and": [
            {"in": {"country": sorted({pick(COUNTRIES) for _ in range(3)})}},
            {"range": {"value": {"gte": lo, "lt": round(lo + 5.0, 2)}}},
        ]}
    if kind == "range":
        lo = round(float(rng.random() * 998.0), 2)
        if rng.random() < 0.5:
            return {"range": {"value": {"gt": lo, "lte": round(lo + 1.5, 2)}}}
        return {"and": [
            {"equals": {"level": int(rng.integers(0, 10))}},
            {"range": {"value": {"gte": lo, "lt": round(lo + 10.0, 2)}}},
        ]}
    if kind == "regexp":
        pat = f"^{pick(METHODS)} /api/v[12]/{pick(RESOURCES)}/{int(rng.integers(1, 4))}[0-9] "
        return {"and": [
            {"regexp": {"message": {"value": pat, "flags": "i" if rng.random() < 0.3 else ""}}},
            {"equals": {"country": pick(COUNTRIES)}},
        ]}
    if kind == "bool_not":
        return {"bool": {
            "must": [{"equals": {"device": device()}}],
            "should": [{"equals": {"event_type": pick(EVENT_TYPES)}},
                       {"range": {"latency_ms": {"gt": round(float(rng.random() * 50.0), 3)}}}],
            "must_not": [{"equals": {"status": pick(STATUSES)}}],
        }}
    if kind == "not_and":
        if rng.random() < 0.5:
            return {"and": [{"equals": {"user_id": user()}},
                            {"not": {"equals": {"country": pick(COUNTRIES)}}}]}
        return {"and": [{"equals": {"device": device()}}, {"missing": {"field": "latency_ms"}}]}
    if kind == "exists":
        return {"and": [{"equals": {"user_id": user()}}, {"exists": {"field": "status"}}]}
    if kind == "geo":
        lat = round(LAT0 + float(rng.random()) * (GEO_SPAN - 0.2), 4)
        lon = round(LON0 + float(rng.random()) * (GEO_SPAN - 0.2), 4)
        if rng.random() < 0.5:
            return {"geoBoundingBox": {"pos": {"top": round(lat + 0.1, 4), "left": lon,
                                               "bottom": lat, "right": round(lon + 0.1, 4)}}}
        return {"geoDistance": {"pos": {"lat": lat, "lon": lon}, "distance": "6km"}}
    raise ValueError(kind)


def filter_kind_stream(rng: np.random.Generator, n: int, mix: dict = FILTER_MIX) -> list[str]:
    """``n`` filter kinds in exact ``mix`` proportions (largest remainder),
    shuffled: the keyword mix, and so the work, is the same for every seed."""
    kinds = list(mix)
    p = np.array([mix[k] for k in kinds]) / sum(mix.values())
    counts = np.floor(p * n).astype(int)
    for i in np.argsort(-(p * n - counts))[: n - counts.sum()]:
        counts[i] += 1
    out = [k for k, c in zip(kinds, counts) for _ in range(c)]
    return [out[i] for i in rng.permutation(n)]


def filter_set(seed: int, n: int, mix: dict = FILTER_MIX, stream: int = 2) -> list[tuple[str, dict]]:
    """``n`` (kind, filter) pairs following ``mix``."""
    rng = np.random.default_rng([seed, stream])
    return [(k, _one_filter(rng, k)) for k in filter_kind_stream(rng, n, mix)]


def describe_filters(filters: list[tuple[str, dict]]) -> dict:
    c = Counter(k for k, _ in filters)
    return {k: c.get(k, 0) for k in FILTER_MIX}


# ---------------------------------------------------------------------------
# filter churn: register / remove op stream
# ---------------------------------------------------------------------------


def churn_stream(seed: int):
    """Endless op inputs: (filter to register, uniform draw in [0, 1) that
    picks which live filter a remove op removes)."""
    rng = np.random.default_rng([seed, 3])
    while True:
        for k in filter_kind_stream(rng, 256, CHURN_MIX):
            yield _one_filter(rng, k), float(rng.random())


# ---------------------------------------------------------------------------
# search: query log and ingest batches
# ---------------------------------------------------------------------------

HOT_TERMS = ("import", "return", "def", "function")
VOCAB_SIZE = 10_000  # the synthetic corpus's identifier vocabulary


def query_log(seed: int, n: int, zipf_s: float = 0.7) -> list[tuple[str, str]]:
    """(kind, query) pairs: 1-3 terms drawn Zipf over the corpus's
    identifier vocabulary, ~30% with a hot term; kinds are ``any``
    (topk), ``all`` (topk mode="all") and ``prefix`` (topk_prefix)."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for _ in range(n):
        n_terms = int(rng.choice([1, 2, 3], p=[0.3, 0.45, 0.25]))
        terms = [f"ident_{int(i):05d}" for i in _zipf_index(rng, VOCAB_SIZE, n_terms, zipf_s)]
        if rng.random() < 0.3:
            terms[int(rng.integers(0, n_terms))] = HOT_TERMS[int(rng.integers(0, len(HOT_TERMS)))]
        u = rng.random()
        if u < 0.1:
            # prefix of a mid-frequency identifier: ident_0NNN* expands to
            # up to 10 terms
            out.append(("prefix", f"ident_0{int(rng.integers(100, 1000)):03d}*"))
        elif u < 0.25 and n_terms > 1:
            out.append(("all", " ".join(terms)))
        else:
            out.append(("any", " ".join(terms)))
    return out


def query_terms(kind: str, query: str) -> set[str]:
    return set() if kind == "prefix" else set(query.split())
