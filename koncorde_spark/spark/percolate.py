"""DataFrame percolation: match every row against all registered filters.

Spark-first design (SURVEY.md §3.2): the compiled filter index — the
condition→filter reverse index — is small (thousands of filters) and the
document side is huge, so the index is **broadcast** and matching is ONE
zero-shuffle ``mapInPandas`` pass:

    docs → project(needed fields only) → mapInPandas(vectorized matcher)
         → (doc_id, filter_id) pairs

Catalyst sees a narrow projection (column pruning reaches the parquet
scan) followed by a Python map; there is no join and no shuffle, so the
stage scales linearly with input splits — the property the reference gets
per-document (test() is O(matching conditions)) we get per-batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.compiled import CompiledIndex, DocBatch


def _resolve_path(schema: T.StructType, path: str) -> tuple[bool, T.DataType | None]:
    """Walk a dot path through the schema; returns (exists, leaf type)."""
    parts = path.split(".")
    cur: T.DataType = schema
    for p in parts:
        if not isinstance(cur, T.StructType):
            return False, None
        field = next((f for f in cur.fields if f.name == p), None)
        if field is None:
            return False, None
        cur = field.dataType
    return True, cur


def _quote_name(name: str) -> str:
    """Backtick-quoted SQL identifier; a backtick inside it is doubled."""
    return "`" + name.replace("`", "``") + "`"


def _quote(path: str) -> str:
    """SQL reference to a dot path, every segment quoted."""
    return ".".join(_quote_name(part) for part in path.split("."))


def _field_exprs(df: DataFrame, ci: CompiledIndex) -> tuple[list[str], dict[str, str]]:
    """Build projection expressions for every field the filters reference.

    Returns (``selectExpr`` strings, alias→path map). Missing fields become
    NULL (a DataFrame has a schema, so "missing field" collapses to null —
    the one documented divergence from the schemaless reference). Plain
    SQL strings keep the projection to one ``selectExpr`` call instead of
    a py4j round trip per column.
    """
    exprs: list[str] = []
    alias_to_path: dict[str, str] = {}

    def add(path: str, expr: str):
        alias = f"__kf{len(exprs)}"
        exprs.append(f"{expr} AS {alias}")
        alias_to_path[alias] = path

    for path in sorted(ci.fields_needed):
        exists, _ = _resolve_path(df.schema, path)
        add(path, _quote(path) if exists else "NULL")

    for path in sorted(ci.geo_fields):
        exists, dtype = _resolve_path(df.schema, path)
        if not exists:
            add(path, "NULL")
            continue
        if isinstance(dtype, T.StructType):
            names = {f.name for f in dtype.fields}
            if {"lat", "lon"} <= names:
                add(f"{path}.lat", _quote(f"{path}.lat"))
                add(f"{path}.lon", _quote(f"{path}.lon"))
                continue
        add(path, _quote(path))  # string / array forms parsed in the matcher

    return exprs, alias_to_path


def percolate(
    df: DataFrame,
    index: CompiledIndex,
    id_col: str = "doc_id",
    result_col: str = "filter_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Return a DataFrame of (id_col, filter_id[, keep_cols...]) match pairs.

    ``keep_cols`` are passed through to the output unchanged (one value per
    match pair) — used by streaming windowed aggregations to carry the
    event-time column through the matcher without a post-hoc join.
    """
    spark = df.sparkSession
    keep_cols = list(keep_cols or [])
    exprs, alias_to_path = _field_exprs(df, index)

    projection = [f"{_quote_name(id_col)} AS __kid"]
    projection += [f"{_quote_name(c)} AS __kp{j}" for j, c in enumerate(keep_cols)]
    projection += exprs
    if index.needs_docs:
        columns = ", ".join(_quote_name(c) for c in df.columns)
        projection.append(f"struct({columns}) AS __kdoc")
    narrow = df.selectExpr(*projection)

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField(result_col, T.StringType())]
        + [T.StructField(c, df.schema[c].dataType) for c in keep_cols]
    )

    # reuse one broadcast per (SparkContext, index): re-broadcasting the
    # full compiled index on every percolate() call accumulates executor
    # block-manager memory across a long-lived session. The handle is
    # attached AFTER broadcasting (the payload is serialized at creation),
    # so it never rides inside its own broadcast.
    bc = _index_broadcast(index, spark)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ci: CompiledIndex = bc.value
        fid_arr = np.asarray(ci.filter_ids, dtype=object)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            colmap = {path: pdf[alias] for alias, path in alias_to_path.items()}
            docs = pdf["__kdoc"] if "__kdoc" in pdf.columns else None
            batch = DocBatch(n=n, cols=colmap, docs=docs)
            rows, fords = ci.match_batch(batch)
            if len(rows) == 0:
                continue
            out = {
                id_col: pdf["__kid"].to_numpy()[rows],
                result_col: fid_arr[fords],
            }
            for j, c in enumerate(keep_cols):
                out[c] = pdf[f"__kp{j}"].iloc[rows].reset_index(drop=True)
            yield pd.DataFrame(out)

    return narrow.mapInPandas(run, schema=out_schema)


def _index_broadcast(index: CompiledIndex, spark):
    """One broadcast per (SparkContext, index) — see percolate()."""
    cached = getattr(index, "_percolate_bc", None)
    if cached is not None and cached[0] is spark.sparkContext:
        return cached[1]
    bc = spark.sparkContext.broadcast(index)
    index._percolate_bc = (spark.sparkContext, bc)
    return bc


def percolate_json(
    df: DataFrame,
    index: CompiledIndex,
    json_col: str = "json",
    id_col: str = "doc_id",
    result_col: str = "filter_id",
    malformed: str = "skip",
) -> DataFrame:
    """Percolate documents carried as raw JSON strings — the reference's
    native input shape (arbitrary schemaless JSON, e.g. a Kafka topic of
    events), no DataFrame schema required.

    Each Arrow batch parses its JSON rows to dicts and runs the SAME
    vectorized matcher the local ``Koncorde.test`` path uses
    (``CompiledIndex.match_docs``): flatten / nested / array / match /
    select / geo semantics are identical by construction, and that kernel
    is transitively covered by the typed-percolation DuckDB oracles plus
    the ported reference fixtures. Works unchanged on streaming
    DataFrames (stateless map).

    ``malformed``: "skip" (default) drops rows that are not valid JSON
    objects — the right behavior for a crawl firehose; "raise" fails the
    task for strict pipelines.
    """
    import json as _json

    if malformed not in ("skip", "raise"):
        raise ValueError("malformed must be 'skip' or 'raise'")
    spark = df.sparkSession
    bc = _index_broadcast(index, spark)
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField(result_col, T.StringType())]
    )
    narrow = df.select(F.col(id_col).alias("__kid"), F.col(json_col).alias("__kjson"))
    strict = malformed == "raise"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ci: CompiledIndex = bc.value
        for pdf in batches:
            docs: list[dict] = []
            keep: list[int] = []
            for i, s in enumerate(pdf["__kjson"]):
                try:
                    d = _json.loads(s)
                    if not isinstance(d, dict):
                        raise ValueError("JSON document must be an object")
                except (TypeError, ValueError) as e:
                    if strict:
                        raise ValueError(f"malformed JSON document: {e}") from e
                    continue
                docs.append(d)
                keep.append(i)
            if not docs:
                continue
            matches = ci.match_docs(docs)
            ids = pdf["__kid"].to_numpy()[keep]
            out_ids, out_fids = [], []
            for j, fids in enumerate(matches):
                out_ids.extend([ids[j]] * len(fids))
                out_fids.extend(fids)
            if out_ids:
                yield pd.DataFrame({id_col: out_ids, result_col: out_fids})

    return narrow.mapInPandas(run, schema=out_schema)
