"""Full-text track: sharded BM25 inverted index on Spark.

Lazy imports below keep pyspark-importing modules out of the package
import path (the serve tier must stay importable without a JVM).
"""

from .codecs import varint_decode, varint_encode, delta_encode, delta_decode
from .tokenizer import TOKEN_PATTERN, tokenize_series

__all__ = [
    "TOKEN_PATTERN",
    "delta_decode",
    "delta_encode",
    "tokenize_series",
    "varint_decode",
    "varint_encode",
    # heavier entry points live in their modules:
    # indexer.build_index / append_index / delete_docs / compact_index /
    #   maybe_compact
    # query.Bm25Index  serve.LocalSearcher  multifield.MultiFieldSearch (over
    #   either tier's handles)
    # substring.trigram_corpus / substring_search / regex_search
]
