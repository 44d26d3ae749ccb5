"""koncorde_spark — a PySpark-native percolation + full-text analytics engine.

Re-implements, from scratch and Spark-first, the capabilities of the
Koncorde reverse-matching engine (reference at /root/reference: register
JSON filters, stream documents through them, get matched filter IDs) and
extends it with a distributed inverted-index / BM25 top-k track and
training-data pipeline operators (dedup, similarity, text analysis).

Public surface:

- :class:`Koncorde` — API-compatible facade (register/test/remove/validate,
  named indexes, seeded filter IDs) evaluating locally via the same
  vectorized matcher that runs inside Spark executors.
- :func:`koncorde_spark.spark.percolate.percolate` — DataFrame percolation:
  one zero-shuffle ``mapInPandas`` pass over any documents DataFrame.
- :mod:`koncorde_spark.fulltext` — posting-list indexer + exhaustive
  per-shard BM25 top-k.
- :mod:`koncorde_spark.pipeline` — dedup / similarity / text-analysis ops.
"""

from __future__ import annotations

import sys

from .engine.builder import FilterEngine
from .errors import KoncordeError, KoncordeParseError
from .geo.geopoint import convert_distance, convert_geopoint
from .normalize import DEFAULT_SEED, NormalizedFilter, Transformer

__version__ = "0.1.0"

__all__ = [
    "DEFAULT_SEED",
    "Koncorde",
    "KoncordeError",
    "KoncordeParseError",
    "NormalizedFilter",
    "Transformer",
    "convert_distance",
    "convert_geopoint",
]


class Koncorde:
    """Reference-compatible facade (/root/reference/lib/index.ts).

    ``register`` = ``normalize`` + ``store``; ``test`` percolates one
    document; named indexes isolate filter sets. The same compiled index
    objects are broadcast by the Spark percolation path.
    """

    def __init__(self, *, max_conditions: int = 50, seed: bytes = DEFAULT_SEED,
                 regexp_engine: str = "js"):
        if not isinstance(max_conditions, int) or max_conditions < 0:
            raise KoncordeError(
                "Invalid maxConditions configuration: positive or nul integer expected"
            )
        if regexp_engine not in ("re2", "js"):
            raise KoncordeError(
                'Invalid configuration value for "regExpEngine". Supported: re2, js'
            )
        self.transformer = Transformer(max_conditions, seed, regexp_engine)
        self.engines: dict[str | None, FilterEngine] = {}

    # -- registration ------------------------------------------------------

    def validate(self, filters: dict) -> None:
        self.transformer.standardize(filters)

    def normalize(self, filters: dict, index: str | None = None) -> NormalizedFilter:
        return self.transformer.normalize(filters, index)

    def store(self, normalized: NormalizedFilter) -> str:
        engine = self.engines.get(normalized.index)
        if engine is None:
            engine = FilterEngine(self.transformer, normalized.index)
            self.engines[normalized.index] = engine
        return engine.store(normalized)

    def register(self, filters: dict, index: str | None = None) -> str:
        return self.store(self.normalize(filters, index))

    def remove(self, filter_id: str, index: str | None = None) -> None:
        engine = self.engines.get(index)
        if engine is None:
            return
        engine.remove(filter_id)
        if index is not None and not engine.filters:
            del self.engines[index]

    # -- introspection -----------------------------------------------------

    def get_filter_ids(self, index: str | None = None) -> list[str]:
        engine = self.engines.get(index)
        return sorted(engine.filters) if engine else []

    def get_indexes(self) -> list[str]:
        return [i if i is not None else "(default)" for i in self.engines]

    def has_filter_id(self, filter_id: str, index: str | None = None) -> bool:
        engine = self.engines.get(index)
        return bool(engine and filter_id in engine.filters)

    # -- matching ----------------------------------------------------------

    def test(self, data: dict, index: str | None = None) -> list[str]:
        engine = self.engines.get(index)
        if engine is None:
            return []
        return engine.compiled.match_docs([data])[0]

    def test_many(self, docs: list[dict], index: str | None = None) -> list[list[str]]:
        engine = self.engines.get(index)
        if engine is None:
            return [[] for _ in docs]
        return engine.compiled.match_docs(docs)

    def compiled(self, index: str | None = None):
        engine = self.engines.get(index)
        return engine.compiled if engine else None

    # -- static helpers (reference lib/index.ts:299-312) --------------------

    convert_distance = staticmethod(convert_distance)
    convert_geopoint = staticmethod(convert_geopoint)


# In a PySpark worker process only (its task set-up marks SparkFiles before
# any task imports this package; the driver keeps stock imports): stop each
# task from re-reading the worker's zip archive directories — see
# spark/_worker_imports.py.
_spark_files = sys.modules.get("pyspark.core.files")
if _spark_files is not None and _spark_files.SparkFiles._is_running_on_worker:
    from .spark._worker_imports import install as _install_worker_imports

    _install_worker_imports()
