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
per index) cogrouped with the union of their dlpacks by shard; inside
the task each field scores with the brute multi-term kernel
(highlight.multiterm_scores — additive over segment rows, so appended
indexes work unchanged), contributions are weight-scaled and summed per
doc with one np.unique/bincount, and each shard emits its top-k.
Global sort-limit over ≤ shards·k rows.

Per-field tombstones apply to that field's contributions only (delete
from every field index to remove a document entirely — the same
discipline as maintaining the indexes individually).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codecs import delta_decode, varint_decode
from .highlight import multiterm_scores
from .phrase import TermOccurrences
from .indexer import _decode_dlpack
from .query import TOPK_SCHEMA, Bm25Index
from .tokenizer import tokenize_text
from .wand import bm25_idf

_NO_POS = np.empty(0, dtype=np.int64)


class MultiFieldSearch:
    """Weighted-sum search over ``{field_name: Bm25Index}``.

    All field indexes must share n_shards (the shard co-location
    invariant) and k1/b (one scoring family)."""

    def __init__(
        self,
        spark: SparkSession,
        indexes: dict[str, Bm25Index],
        weights: dict[str, float] | None = None,
    ):
        if not indexes:
            raise ValueError("at least one field index is required")
        self.spark = spark
        self.indexes = dict(sorted(indexes.items()))
        self.weights = {
            f: float((weights or {}).get(f, 1.0)) for f in self.indexes
        }
        shards = {idx.meta["n_shards"] for idx in self.indexes.values()}
        if len(shards) != 1:
            raise ValueError(
                f"field indexes disagree on n_shards ({sorted(shards)}) — "
                "doc→shard co-location requires one shared value"
            )
        kb = {(idx.meta["k1"], idx.meta["b"]) for idx in self.indexes.values()}
        if len(kb) != 1:
            raise ValueError(f"field indexes disagree on (k1, b): {sorted(kb)}")
        (self.k1, self.b), = kb

    def topk(self, query: str, k: int = 10) -> DataFrame:
        toks = sorted(set(tokenize_text(query)))
        if not toks:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        params: dict[str, dict] = {}
        posts_parts, pack_parts = [], []
        for f, idx in self.indexes.items():
            dfs = idx._df_for(toks)
            if not dfs:
                continue
            params[f] = {
                "idf": {
                    t: float(bm25_idf(idx.meta["n_docs"], d))
                    for t, d in dfs.items()
                },
                "avgdl": float(idx.meta["avgdl"]),
                "weight": self.weights[f],
                "tombs": idx.tombstones,
            }
            posts_parts.append(
                idx.postings.where(F.col("term").isin(sorted(dfs))).select(
                    F.lit(f).alias("field"), "term", "shard", "df",
                    "doc_ids", "tfs",
                )
            )
            pack_parts.append(
                idx.dlpack.select(
                    F.lit(f).alias("field"), "shard", "n", "doc_ids", "dls"
                )
            )
        if not params:
            return self.spark.createDataFrame([], TOPK_SCHEMA)

        posts = posts_parts[0]
        for p in posts_parts[1:]:
            posts = posts.unionByName(p)
        packs = pack_parts[0]
        for p in pack_parts[1:]:
            packs = packs.unionByName(p)

        k_, k1_, b_ = k, self.k1, self.b
        params_ = params

        def cogrouped(post_pdf: pd.DataFrame, pack_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"),
                 "score": pd.Series(dtype="float64")}
            )
            if len(post_pdf) == 0 or len(pack_pdf) == 0:
                return empty
            id_parts, sc_parts = [], []
            for f, prm in params_.items():
                pp = post_pdf[post_pdf["field"] == f]
                pk = pack_pdf[pack_pdf["field"] == f]
                if len(pp) == 0 or len(pk) == 0:
                    continue
                dl_ids, dl_vals = _decode_dlpack(pk, None)
                per_term, idfs = [], []
                for _, row in pp.iterrows():
                    n = int(row["df"])
                    ids = delta_decode(bytes(row["doc_ids"]), n).astype(np.int64)
                    tfs = varint_decode(bytes(row["tfs"]), n).astype(np.int64)
                    occ_off = np.concatenate(([0], np.cumsum(tfs))).astype(np.int64)
                    per_term.append(TermOccurrences(ids, occ_off, _NO_POS))
                    idfs.append(prm["idf"][row["term"]])
                cand, sc = multiterm_scores(
                    per_term, idfs, k1_, b_, prm["avgdl"],
                    dl_ids, dl_vals, prm["tombs"],
                )
                if len(cand):
                    id_parts.append(cand)
                    sc_parts.append(prm["weight"] * sc)
            if not id_parts:
                return empty
            all_ids = np.concatenate(id_parts)
            all_sc = np.concatenate(sc_parts)
            uids, inv = np.unique(all_ids, return_inverse=True)
            tot = np.bincount(inv, weights=all_sc)
            order = np.lexsort((uids, -tot))[:k_]
            return pd.DataFrame({"doc_id": uids[order], "score": tot[order]})

        per_shard = (
            posts.groupBy("shard")
            .cogroup(packs.groupBy("shard"))
            .applyInPandas(lambda pl, pr: cogrouped(pl, pr), schema=TOPK_SCHEMA)
        )
        return per_shard.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
