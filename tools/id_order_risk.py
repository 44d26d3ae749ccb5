"""Quantify cross-engine filter-ID OR-order migration risk (SURVEY §8).

The reference hashes its filter ID over the DNF subfilter LIST in
espresso's output order (/root/reference/lib/transform/canonical.ts:77-120
iterates espresso.minimize() output; lib/index.ts hashes the array); this
repo sorts cube strings (normalize/espresso.py espresso_minimize). The
cube SET is provably identical in the unique-cover regime and follows
espresso's documented heuristics in the cyclic regime — so the only
byte-divergence channel for migrated IDs is the ORDER of a MULTI-cube DNF.
The native addon cannot be compiled offline, so espresso's actual qsort
order is unobservable here; this tool measures the size of the exposed
population instead, on a seeded 1k-filter corpus shaped like the oracle
fuzz corpus (tests/test_fuzz_oracle.py):

- single-cube DNF (or single-condition filter): ID provably identical —
  order cannot differ on one element;
- multi-cube, unique cover (no minterms left after essential primes):
  cube set identical; ID at risk ONLY if espresso's emit order differs
  from sorted order (upper bound: assume it always does);
- multi-cube, cyclic cover: cube set heuristic-matched by construction,
  order risk as above.

Usage: python tools/id_order_risk.py [n_filters] [seed]
"""

from __future__ import annotations

import os
import random
import sys

# the checkout this script belongs to, so a copy of the repo measures itself
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# exported too, so Spark's Python workers and child processes import it
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

from koncorde_spark.normalize import Transformer
from koncorde_spark.normalize import espresso as esp
from koncorde_spark.normalize.canonical import (
    _eval_filter,
    _extract_conditions,
)

NUM_FIELDS = ["a", "b", "c"]
STR_FIELDS = ["s", "t"]
NUM_VALUES = [-3, 0, 1, 2, 5, 10]
STR_VALUES = ["x", "y", "zz", ""]


def _leaf(rng: random.Random) -> dict:
    kind = rng.randrange(7)
    if kind == 0:
        return {"equals": {rng.choice(NUM_FIELDS): rng.choice(NUM_VALUES)}}
    if kind == 1:
        return {"equals": {rng.choice(STR_FIELDS): rng.choice(STR_VALUES)}}
    if kind == 2:
        lo, hi = sorted(rng.sample(NUM_VALUES, 2))
        return {"range": {rng.choice(NUM_FIELDS): {"gte": lo, "lt": hi}}}
    if kind == 3:
        return {"regexp": {rng.choice(STR_FIELDS): rng.choice(["^x", "y$", "z"])}}
    if kind == 4:
        return {"in": {rng.choice(STR_FIELDS): rng.sample(STR_VALUES, 2)}}
    if kind == 5:
        return {"exists": rng.choice(NUM_FIELDS + STR_FIELDS)}
    return {"missing": rng.choice(NUM_FIELDS + STR_FIELDS)}


def _maybe_not(rng: random.Random, f: dict) -> dict:
    return {"not": f} if rng.random() < 0.3 else f


def random_filter(rng: random.Random) -> dict:
    """Same shape family as tests/test_fuzz_oracle.py filters() —
    combos, nesting, bool operands, same-field negatives."""
    shape = rng.randrange(5)
    if shape == 0:
        return _maybe_not(rng, _leaf(rng))
    if shape == 1:
        op = rng.choice(["and", "or"])
        return {op: [_maybe_not(rng, _leaf(rng)) for _ in range(rng.randint(2, 4))]}
    if shape == 2:
        inner = {
            rng.choice(["and", "or"]): [
                _maybe_not(rng, _leaf(rng)) for _ in range(rng.randint(2, 3))
            ]
        }
        return {rng.choice(["and", "or"]): [inner, _maybe_not(rng, _leaf(rng))]}
    if shape == 3:
        return {
            "bool": {
                "must": [_leaf(rng) for _ in range(rng.randint(1, 2))],
                "must_not": [_leaf(rng) for _ in range(rng.randint(1, 2))],
                "should": [_leaf(rng) for _ in range(rng.randint(1, 2))],
            }
        }
    f = rng.choice(NUM_FIELDS)
    vals = rng.sample(NUM_VALUES, rng.randint(2, 3))
    return {rng.choice(["and", "or"]): [{"not": {"equals": {f: v}}} for v in vals]}


def classify(filters: dict, tr: Transformer) -> str:
    std = tr.standardize(filters)
    conditions = _extract_conditions(std)
    n = len(conditions)
    if n == 1:
        return "single_cube"
    minterms = set()
    for row in range(1 << n):
        bits = [(row >> i) & 1 for i in range(n)]
        if _eval_filter(std, bits, [0]):
            minterms.add(row)
    cubes = esp.espresso_minimize(set(minterms), n)
    if len(cubes) <= 1:
        return "single_cube"
    # replicate the pipeline head to see whether essentials covered the
    # ON-set (unique cover) or the cyclic REDUCE/LAST_GASP loop engaged
    onset = frozenset(minterms)
    F = esp._expand([(m, 0) for m in sorted(minterms)], onset, n)
    F = esp._irredundant(F, onset, n)
    E = esp._essentials(F, onset, n)
    covered = {m for c in E for m in esp._cube_minterms(c)}
    required = [m for m in onset if m not in covered]
    return "multi_cube_cyclic" if required else "multi_cube_unique"


def main() -> None:
    n_filters = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    rng = random.Random(seed)
    tr = Transformer()
    counts = {"single_cube": 0, "multi_cube_unique": 0, "multi_cube_cyclic": 0}
    for _ in range(n_filters):
        counts[classify(random_filter(rng), tr)] += 1
    total = sum(counts.values())
    at_risk = counts["multi_cube_unique"] + counts["multi_cube_cyclic"]
    print(f"filters: {total} (seed {seed})")
    for k, v in counts.items():
        print(f"  {k}: {v} ({100 * v / total:.1f}%)")
    print(
        f"ID order-divergence exposure (upper bound): {at_risk}/{total} "
        f"= {100 * at_risk / total:.1f}% "
        "(multi-cube DNFs; single-cube IDs are provably byte-identical)"
    )


if __name__ == "__main__":
    main()
