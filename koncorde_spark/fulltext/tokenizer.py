"""Code-aware tokenization — one canonical rule shared by every path.

The token rule must be IDENTICAL in four places for correctness gates to
hold: (1) the pandas/Arrow UDF used by the indexer, (2) the pure-Spark SQL
brute-force BM25, (3) the DuckDB oracle SQL, (4) the pandas oracle. The
rule: lowercase, then maximal runs of ``[a-z0-9_]`` are tokens. This splits
code punctuation (``foo.bar(baz)`` → ``foo bar baz``) while keeping
identifiers with underscores whole.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# the one canonical rule
TOKEN_PATTERN = r"[a-z0-9_]+"
SPLIT_PATTERN = r"[^a-z0-9_]+"  # for split-style engines (Spark split / DuckDB)

_TOKEN_RE = re.compile(TOKEN_PATTERN)


def tokenize_text(text: str) -> list[str]:
    return _TOKEN_RE.findall(text.lower())


def tokenize_series(texts: pd.Series) -> pd.Series:
    """Vectorized tokenization of a string Series → Series of token lists.

    Uses pandas' vectorized ``str`` ops (C-level loop over the Arrow
    buffer) rather than a per-row Python lambda.
    """
    return texts.str.lower().str.findall(TOKEN_PATTERN)


def tokenize_arrow(texts: pd.Series):
    """Arrow-native tokenization for the indexer hot path.

    Returns ``(term_codes, row_ids, vocab, dls)``:

    - ``term_codes``: int64 numpy array, one entry per token occurrence,
      dictionary code into ``vocab``;
    - ``row_ids``: int64 numpy array, the source row of each occurrence;
    - ``vocab``: numpy object array of the distinct terms (small);
    - ``dls``: int64 numpy array, token count per input row.

    Everything stays in Arrow/C++ until the (small) vocabulary — no
    per-token Python objects. (A numpy byte-LUT ASCII fast path was
    measured at 2.3x SLOWER than Arrow's re2 split on this corpus —
    ~12 full-buffer passes vs one streaming C++ pass — and removed.)
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    # null content must tokenize to [] — astype(str) would render None as
    # the literal string 'None' and pollute postings with a phantom token.
    # Explicit string type: an empty batch would otherwise infer null-typed.
    arr = pa.array(texts.fillna("").astype(str), type=pa.string())
    toks = pc.split_pattern_regex(pc.utf8_lower(arr), SPLIT_PATTERN)
    flat = pc.list_flatten(toks)
    parents = pc.list_parent_indices(toks).to_numpy(zero_copy_only=False).astype(np.int64)
    enc = pc.dictionary_encode(flat)
    codes = np.asarray(enc.indices, dtype=np.int64)
    vocab = np.asarray(enc.dictionary.to_pandas(), dtype=object)
    # drop the empty-string tokens produced by split at boundaries
    empty_code = None
    for i, v in enumerate(vocab):
        if v == "":
            empty_code = i
            break
    if empty_code is not None:
        keep = codes != empty_code
        codes = codes[keep]
        parents = parents[keep]
    dls = np.bincount(parents, minlength=len(texts)).astype(np.int64)
    return codes, parents, vocab, dls


def flat_tokens_arrow(texts: pd.Series):
    """The canonical tokenizer's FLAT split stream for one batch:
    ``(flat, parents)`` where ``flat`` is the Arrow string array of
    lowercased split pieces (INCLUDING the '' boundary tokens split
    emits — callers pruning by a query-term set drop them for free via
    ``is_in``) and ``parents`` the int64 source-row index per piece.
    Null text contributes nothing. This is the one shared Arrow core of
    every query-term matching kernel (brute __qt pruning, MLT seed-df
    counts, facet match predicate) so the 4-place tokenizer rule has a
    single Arrow spelling."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts.fillna("").astype(str), type=pa.string())
    toks = pc.split_pattern_regex(pc.utf8_lower(arr), SPLIT_PATTERN)
    flat = pc.list_flatten(toks)
    parents = pc.list_parent_indices(toks).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    return flat, parents


def count_tokens_arrow(texts: pd.Series) -> np.ndarray:
    """Token count per row WITHOUT materializing tokens.

    ``count_substring_regex`` over the same canonical rule counts the
    maximal [a-z0-9_]+ runs directly — identical to len(tokenize) by
    construction, ~2× faster, and allocation-free compared to the full
    split+flatten+dictionary-encode path. Used where only doc lengths are
    needed (the indexer docs stage)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts.fillna("").astype(str), type=pa.string())
    return pc.count_substring_regex(pc.utf8_lower(arr), TOKEN_PATTERN).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)

