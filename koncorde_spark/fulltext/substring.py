"""Trigram-index substring search over a source-code corpus.

The Google-Code-Search recipe (Cox, "Regular Expression Matching with a
Trigram Index", 2012 — public design): index every document's distinct
byte trigrams; a substring query of length ≥ 3 can only match documents
containing EVERY trigram of the pattern, so the index answers a small
candidate set and one exact ``contains`` verification pass over just
those documents makes the result exact. Patterns shorter than 3 bytes
fall back to the full verification scan (documented cost).

Everything reuses the BM25 machinery: ``trigram_corpus`` rewrites each
document's content into its unique trigrams hex-encoded as canonical
tokens (``g`` + 6+ hex chars — pure [a-z0-9_], so the 4-place tokenizer
passes them through unchanged), identity columns stay untouched (same
sha-derived doc_id, same shard), and ``build_index`` builds the trigram
postings exactly like a text index. UTF-8 BYTE trigrams, so matching is
case-sensitive and encoding-exact — the right contract for code.

Scale shape: candidates come from one term-pruned postings scan
(PushedFilters on the pattern's trigrams) + per-shard vectorized doc-set
intersection; verification touches only candidate rows (a broadcast-able
semi-join against the corpus at realistic selectivities).
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .indexer import sql_doc_id_col
from .serve import match_ids

# pandas warns when str.contains gets a pattern with groups; matching
# intent here is a plain boolean test, groups are incidental
warnings.filterwarnings(
    "ignore", message="This pattern is interpreted as a regular expression"
)

_IDENTITY_COLS = ("repo", "path", "commit", "lang")

CANDIDATES_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


def _unique_trigram_tokens(text: str) -> str:
    """Space-joined hex tokens of the DISTINCT utf-8 byte trigrams.

    Token construction is fully vectorized: a per-trigram f-string loop
    (`f"g{k:06x}"` × ~thousands of unique trigrams per code file × every
    document, run TWICE per build — the docs and partials stages each
    execute the trigram_corpus map) dominated trigram index builds.
    hexlify of the big-endian uint32 buffer gives '00xxxxxx' per key
    (keys < 2^24, lowercase hex — exactly %06x), and one char-matrix
    assembly adds the 'g' prefix and space separators."""
    import binascii

    data = text.encode("utf-8")
    if len(data) < 3:
        return ""
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint32)
    keys = np.unique((arr[:-2] << 16) | (arr[1:-1] << 8) | arr[2:])
    hexed = np.frombuffer(
        binascii.hexlify(keys.astype(">u4").tobytes()), dtype="S1"
    ).reshape(-1, 8)
    out = np.empty((len(keys), 8), dtype="S1")
    out[:, 0] = b"g"
    out[:, 1:7] = hexed[:, 2:8]
    out[:, 7] = b" "
    return out.tobytes()[:-1].decode()


def pattern_trigram_tokens(pattern: str) -> list[str]:
    """The (deduped, sorted) trigram tokens a match must contain."""
    data = pattern.encode("utf-8")
    if len(data) < 3:
        return []
    arr = np.frombuffer(data, dtype=np.uint8).astype(np.uint32)
    keys = (arr[:-2] << 16) | (arr[1:-1] << 8) | arr[2:]
    return [f"g{k:06x}" for k in np.unique(keys)]


def trigram_corpus(corpus: DataFrame) -> DataFrame:
    """Rewrite ``content`` into its unique-trigram token stream (identity
    columns untouched → identical doc_ids/shards to a text index over the
    same corpus). Feed the result to ``build_index``."""

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[list(_IDENTITY_COLS)].copy()
            out["content"] = [
                _unique_trigram_tokens(t) for t in pdf["content"]
            ]
            yield out

    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in _IDENTITY_COLS]
        + [T.StructField("content", T.StringType())]
    )
    return corpus.mapInPandas(run, schema=schema)


# Intersect only the rarest K pattern trigrams (Cox 2012's query planner):
# any SUBSET of the required trigrams yields a SUPERSET candidate set, and
# the verification pass stays exact — so dropping the common trigrams (the
# `def `/`ret `/` th` of code corpora) bounds the decode cost at the sum of
# the K smallest dfs instead of the sum of ALL pattern-trigram dfs.
RAREST_K = 12


def _rarest(toks: list[str], dfs: dict[str, int], k: int = RAREST_K) -> list[str]:
    """The k lowest-df tokens (df then token ties — deterministic)."""
    if len(toks) <= k:
        return list(toks)
    return sorted(toks, key=lambda t: (dfs[t], t))[:k]


def candidates(index, pattern: str) -> DataFrame:
    """doc_ids of documents containing EVERY trigram of ``pattern`` —
    the superset the verification pass narrows (exact for len ≥ 3).

    ``index`` is a Bm25Index over ``trigram_corpus(...)``. One pruned
    postings scan over the RAREST_K lowest-df pattern trigrams, per-shard
    vectorized doc-set intersections, no scoring."""
    toks = pattern_trigram_tokens(pattern)
    if not toks:
        raise ValueError(
            "pattern shorter than 3 bytes has no trigrams — use "
            "substring_search (it falls back to a full scan)"
        )
    dfs = index._df_for(toks)
    if len(dfs) < len(toks):
        return index.spark.createDataFrame([], CANDIDATES_SCHEMA)
    return _candidates_for_tokens(index, _rarest(toks, dfs))


def _candidates_for_tokens(index, toks: list[str]) -> DataFrame:
    """All-required doc-set intersection for an explicit trigram-token
    set (every token must already exist in the vocabulary): one "match"
    scan, serve.match_ids per shard. Tombstones are not applied — the
    verification pass reads the corpus, not the index."""
    need, no_tombstones = len(toks), np.empty(0, np.int64)
    return index._scan(
        toks, "match",
        lambda rows, _: (match_ids(rows, "all", need, no_tombstones),), "ids",
    )


def substring_search(
    corpus: DataFrame, index, pattern: str
) -> DataFrame:
    """Exact substring match: doc_ids of corpus documents whose content
    contains ``pattern`` (case-sensitive, byte-exact).

    len(pattern) ≥ 3: trigram candidates semi-join the corpus, then one
    ``contains`` verification over candidates only. Shorter patterns:
    full verification scan (no trigram can prune them)."""
    with_id = corpus.withColumn("__doc_id", sql_doc_id_col())
    if len(pattern.encode("utf-8")) >= 3:
        cand = candidates(index, pattern)
        with_id = with_id.join(
            cand, with_id["__doc_id"] == cand["doc_id"], "left_semi"
        )
    return (
        with_id.where(F.instr(F.col("content"), F.lit(pattern)) > 0)
        .select(F.col("__doc_id").alias("doc_id"))
    )


# --------------------------------------------------------------------------
# regex search (required-literal trigram pruning — Cox 2012 §"index-based
# matching": any match of the regex must contain every literal that appears
# unconditionally in it, so those literals' trigrams prune candidates)
# --------------------------------------------------------------------------


def required_literals(pattern: str) -> list[str]:
    """Literal strings EVERY match of ``pattern`` must contain.

    Conservative walk of the stdlib regex parse tree: literal runs at the
    top-level concatenation, inside groups, and inside min>=1 repeats (one
    iteration) are required; anything under an alternation, optional
    repeat, or lookaround is not. IGNORECASE defeats byte-literal pruning:
    a global flag → [], a group-scoped ``(?i:...)``/``(?L:...)`` → that
    subtree is skipped (its literals match caselessly, so they are not
    byte-required). An empty result means "no pruning, fall back to the
    full scan" — never an incorrect prune."""
    import re as _re

    try:
        parser = _re._parser  # py3.11 home of sre_parse
        parsed = parser.parse(pattern)
    except Exception:  # noqa: BLE001 — unparseable: no pruning
        return []
    if parsed.state.flags & _re.IGNORECASE:
        return []
    LITERAL = parser.LITERAL
    SUBPATTERN = parser.SUBPATTERN
    MAX_REPEAT, MIN_REPEAT = parser.MAX_REPEAT, parser.MIN_REPEAT
    AT = parser.AT

    out: list[str] = []

    def walk(seq) -> None:
        cur: list[str] = []

        def flush():
            if cur:
                out.append("".join(cur))
                cur.clear()

        for op, av in seq:
            if op is LITERAL:
                cur.append(chr(av))
            elif op is AT:  # anchors don't break a literal run's presence,
                flush()     # but the run isn't contiguous across them
            elif op is SUBPATTERN:
                flush()
                # av = (group, add_flags, del_flags, subseq): a scoped
                # (?i:...)/(?L:...) makes the subtree's literals caseless
                # — skip it, its runs are not byte-required
                if av[1] & (_re.IGNORECASE | _re.LOCALE):
                    continue
                walk(av[3])
            elif op in (MAX_REPEAT, MIN_REPEAT) and av[0] >= 1:
                flush()
                walk(av[2])  # at least one iteration is required
            else:
                flush()
        flush()

    walk(parsed)
    return [s for s in out if s]


def regex_search(corpus: DataFrame, index, pattern: str) -> DataFrame:
    """doc_ids of corpus documents whose content MATCHES ``pattern``
    (Python ``re.search`` semantics — the verification pass runs pandas
    ``str.contains(regex=True)`` over Arrow batches).

    Required literals with ≥ 3 bytes prune via the trigram index (their
    trigrams are pooled into ONE all-required candidate set, capped at the
    RAREST_K lowest-df trigrams — verification keeps the result exact); a
    pattern yielding none runs the honest full verification scan."""
    toks: list[str] = []
    for lit in required_literals(pattern):
        toks.extend(pattern_trigram_tokens(lit))
    toks = sorted(set(toks))
    with_id = corpus.withColumn("__doc_id", sql_doc_id_col())
    if toks:
        dfs = index._df_for(toks)
        if len(dfs) < len(toks):
            # a required trigram is absent from the corpus: no match exists
            return index.spark.createDataFrame([], CANDIDATES_SCHEMA)
        cand = _candidates_for_tokens(index, _rarest(toks, dfs))
        with_id = with_id.join(
            cand, with_id["__doc_id"] == cand["doc_id"], "left_semi"
        )

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            hit = pdf["content"].str.contains(pattern, regex=True, na=False)
            yield pdf.loc[hit, ["__doc_id"]].rename(columns={"__doc_id": "doc_id"})

    return with_id.select("__doc_id", "content").mapInPandas(
        verify, schema=CANDIDATES_SCHEMA
    )
