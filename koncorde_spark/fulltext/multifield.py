"""Multi-field weighted search across per-field indexes.

The "fields" recipe (Lucene multi-field / simple BM25F): index each field
of a document as its own corpus (same identity columns → the SAME
sha-derived doc_id and therefore the SAME shard in every field index),
score a query against each field with that field's own statistics
(n_docs, avgdl, df), and rank by the weighted SUM of per-field scores:

    score(d) = Σ_f  w_f · BM25_f(q, d)

Because doc_id → shard is identical across the field indexes (id %
n_shards with a shared n_shards), one cogroup per shard sees every
field's postings AND doc-length packs for the same document set, so the
combined score is computed EXACTLY in a single pass — no per-field top-k
approximation, no cross-field shuffle of candidates.

Plan shape: union of the fields' pruned postings (parquet term pushdown
per index) cogrouped with the union of their dlpacks by shard. This
module only builds that plan; the per-shard body is
serve.multifield_shard (shared with LocalMultiFieldSearcher): each field
scores exactly as topk does (decode_segments + score_union, additive over
segment rows, so appended indexes work unchanged, rows summed in
canonical term order), contributions are weight-scaled and summed per doc
by score_union in field order, and each shard emits its top-k. Global
sort-limit over ≤ shards·k rows.

Per-field tombstones apply to that field's contributions only (delete
from every field index to remove a document entirely — the same
discipline as maintaining the indexes individually).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .indexer import _decode_dlpack
from .query import TOPK_SCHEMA, Bm25Index, _cogroup, _top
from .serve import field_constants, idf_for, multifield_shard, postings_columns
from .tokenizer import tokenize_text


class MultiFieldSearch:
    """Weighted-sum search over ``{field_name: Bm25Index}``.

    All field indexes must share n_shards (the shard co-location
    invariant) and k1/b (one scoring family): serve.field_constants."""

    def __init__(
        self,
        spark: SparkSession,
        indexes: dict[str, Bm25Index],
        weights: dict[str, float] | None = None,
    ):
        self.spark = spark
        self.indexes = dict(sorted(indexes.items()))
        self.weights = {
            f: float((weights or {}).get(f, 1.0)) for f in self.indexes
        }
        self.k1, self.b = field_constants([idx.meta for idx in self.indexes.values()])

    def topk(self, query: str, k: int = 10) -> DataFrame:
        toks = sorted(set(tokenize_text(query)))
        if not toks:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        params: dict[str, tuple] = {}
        posts_parts, pack_parts = [], []
        for f, idx in self.indexes.items():
            idf = idf_for(idx._df_for, toks, idx.meta["n_docs"])
            if not idf:
                continue
            params[f] = (idf, float(idx.meta["avgdl"]), self.weights[f], idx.tombstones)
            posts_parts.append(
                idx.postings.where(F.col("term").isin(sorted(idf))).select(
                    F.lit(f).alias("field"), "shard",
                    *postings_columns("tf"),
                )
            )
            pack_parts.append(
                idx.dlpack.select(
                    F.lit(f).alias("field"), "shard", "n", "doc_ids", "dls"
                )
            )
        if not params:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        posts = reduce(DataFrame.unionByName, posts_parts)
        packs = reduce(DataFrame.unionByName, pack_parts)
        k1, b = self.k1, self.b

        def fields(rows: pd.DataFrame, pack: pd.DataFrame):
            for f, (idf, avgdl, weight, tombs) in params.items():
                pp, pk = rows[rows["field"] == f], pack[pack["field"] == f]
                if len(pp) and len(pk):
                    yield pp, _decode_dlpack(pk, None), idf, avgdl, weight, tombs

        return _top(_cogroup(
            posts, packs, TOPK_SCHEMA,
            lambda rows, pack: multifield_shard(fields(rows, pack), k1, b, k),
        ), k)
