"""Text-analysis operators for training-data pipelines.

Each operator has one Spark implementation and one DuckDB-SQL twin, the
spec its ``oracle_sql()`` check compares it against. The per-document
featurizers (``text_features``, ``repetition_stats``, ``pii_scrub``) are
narrow ``mapInPandas`` passes over Arrow batches (re2 regexes, numpy
counts); corpus-level statistics (``vocab_topk``) stay Catalyst
aggregates. The constants and token rule are shared so every engine
computes identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fulltext.tokenizer import SPLIT_PATTERN

# Frozen stopword lists (lowercase) for the n-gram/stopword language-ID
# heuristic. Deliberately small + embedded as literals so the same lists
# appear verbatim in the DuckDB oracle SQL.
# One whitespace class shared VERBATIM by RE2 (Arrow, DuckDB) and any
# Java regex (Spark): Java \s lacks Unicode but includes \x0B, RE2's \s
# excludes \x0B — an explicit class is the only spelling all three
# engines agree on (a vertical tab in a document otherwise flips
# n_ws_tokens / punct_ratio / fingerprints across engines).
WS_RUN = r"[ \t\n\x0B\f\r]+"
NONPUNCT_CLASS = r"[a-zA-Z0-9_ \t\n\x0B\f\r]"
PUNCT_CLASS = r"[^a-zA-Z0-9_ \t\n\x0B\f\r]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "it", "that", "for", "was",
           "on", "are", "with", "as", "his", "they", "be", "at", "have", "this",
           "from", "or", "had", "by", "not", "but", "what", "were", "when", "we"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu",
           "den", "im", "sich", "auf", "es", "auch", "an", "werden", "aus", "er",
           "hat", "dass", "sie", "nach", "wird", "bei", "einer", "um", "am", "sind"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour",
           "dans", "en", "du", "des", "il", "qui", "ne", "sur", "se", "pas",
           "plus", "par", "avec", "tout", "son", "mais", "nous", "comme", "ou", "si"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "es", "por",
           "las", "del", "se", "con", "para", "una", "su", "al", "lo", "como",
           "mas", "pero", "sus", "le", "ya", "o", "este", "ha", "cuando", "todo"],
    "it": ["il", "di", "che", "e", "la", "per", "un", "in", "sono", "non",
           "una", "le", "si", "con", "del", "da", "al", "come", "piu", "anche"],
    "pt": ["de", "a", "o", "que", "e", "do", "da", "em", "um", "para",
           "com", "nao", "uma", "os", "no", "se", "na", "por", "mais", "as"],
    "nl": ["de", "het", "een", "van", "en", "in", "is", "dat", "op", "te",
           "zijn", "met", "voor", "niet", "aan", "er", "om", "ook", "als", "dan"],
}


def tokens_col(text_col: str):
    """The canonical tokenizer as a Catalyst expression (JVM-side)."""
    return F.array_remove(F.split(F.lower(F.col(text_col)), SPLIT_PATTERN), "")


def tokens_sql(text_col: str) -> str:
    """Same tokenizer in DuckDB SQL."""
    return (
        f"list_filter(regexp_split_to_array(lower({text_col}), '[^a-z0-9_]+'),"
        f" t -> t <> '')"
    )


# DuckDB specs of the column subsets of text_features that the tokstats /
# quality / langid / fingerprint queries select. Unlike text_features,
# they propagate NULL text instead of reading it as ''.


def token_stats_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
    SELECT {id_col},
           len({tokens_sql(text_col)})::BIGINT AS n_tokens,
           len(list_distinct({tokens_sql(text_col)}))::BIGINT AS n_unique_tokens,
           length({text_col})::BIGINT AS n_chars,
           len(string_split_regex({text_col}, '{WS_RUN}'))::BIGINT AS n_ws_tokens
    FROM {table}
    """


def quality_score_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    t = tokens_sql(text_col)
    return f"""
    SELECT {id_col},
           length({text_col})::BIGINT AS n_chars,
           len({t})::BIGINT AS n_tokens,
           round(length(regexp_replace({text_col}, '{NONPUNCT_CLASS}', '', 'g'))
                 / greatest(length({text_col}), 1), 6) AS punct_ratio,
           round(len(list_filter({t}, x -> list_contains([{stop}], x)))
                 / greatest(len({t}), 1), 6) AS stopword_ratio,
           round(len(list_distinct({t})) / greatest(len({t}), 1), 6) AS lexical_diversity
    FROM {table}
    """


def language_id_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    t = tokens_sql(text_col)
    langs = sorted(STOPWORDS)
    score_exprs = []
    for g in langs:
        stop = ", ".join(f"'{w}'" for w in STOPWORDS[g])
        score_exprs.append(
            f"len(list_filter({t}, x -> list_contains([{stop}], x)))::BIGINT AS score_{g}"
        )
    best = "greatest(" + ", ".join(f"score_{g}" for g in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' "
    for g in langs:
        case += f"WHEN score_{g} = {best} THEN '{g}' "
    case += "END"
    return f"""
    WITH s AS (SELECT {id_col}, {', '.join(score_exprs)} FROM {table})
    SELECT {id_col}, {', '.join('score_' + g for g in langs)}, {case} AS pred_lang
    FROM s
    """


def fingerprint_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    norm = f"trim(regexp_replace(lower({text_col}), '{WS_RUN}', ' ', 'g'))"
    return f"""
    SELECT {id_col},
           md5({norm}) AS fp_md5,
           ('0x' || substr(md5({norm}), 1, 15))::BIGINT AS fp_int
    FROM {table}
    """


# ---------------------------------------------------------------------------
# Fused one-pass featurizer
# ---------------------------------------------------------------------------

FEATURE_LANGS = sorted(STOPWORDS)

# BPE-ish pretokenizer pieces: letter runs / digit runs / punctuation runs
# (re2-safe — no lookahead — so the SAME pattern runs in Arrow, Spark, and
# DuckDB; a practical LLM-token-count estimator for budget filtering).
BPE_PIECE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"

_FEATURES_SCHEMA_TAIL = (
    "n_tokens long, n_unique_tokens long, n_chars long, n_ws_tokens long, "
    "n_bpe_tokens long, "
    "punct_ratio double, stopword_ratio double, lexical_diversity double, "
    + ", ".join(f"score_{g} long" for g in FEATURE_LANGS)
    + ", pred_lang string, fp_md5 string, fp_int long"
)


def _round6_half_up(x: "np.ndarray") -> "np.ndarray":
    """round(x, 6) half away from zero on the FP product — what DuckDB's
    round() does for doubles (inputs here are non-negative ratios, so the
    plain floor form suffices). Spark's F.round is HALF_UP on the decimal
    string and diverges (see koncorde_spark/rounding.py); numpy's own
    round is half-even."""
    import numpy as np

    return np.floor(x * 1e6 + 0.5) / 1e6


def _text_features_batch(texts, id_vals):
    """All token-derived features from ONE Arrow tokenize of the batch.

    Everything is numpy/Arrow over whole columns; md5 fingerprints are the
    only per-row C calls (hashlib over the normalized bytes — the same
    per-row digest cost as the content-sha lineage stage). Null text is
    treated as '' (documented contract; the SQL twin coalesces)."""
    import hashlib

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..fulltext.tokenizer import tokenize_arrow

    n = len(texts)
    arr = pa.array(texts.fillna("").astype(str), type=pa.string())
    low = pc.utf8_lower(arr)
    n_chars = pc.utf8_length(arr).to_numpy(zero_copy_only=False).astype(np.int64)
    n_ws = (
        pc.list_value_length(pc.split_pattern_regex(arr, WS_RUN))
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    n_punct = (
        pc.count_substring_regex(arr, PUNCT_CLASS)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )
    n_bpe = (
        pc.count_substring_regex(arr, BPE_PIECE_PATTERN)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )

    codes, rows, vocab, dls = tokenize_arrow(texts)
    V = max(len(vocab), 1)
    if len(codes):
        uk = np.unique(rows * V + codes)
        n_unique = np.bincount(uk // V, minlength=n).astype(np.int64)
    else:
        n_unique = np.zeros(n, dtype=np.int64)

    scores = {}
    for g in FEATURE_LANGS:
        mask = np.isin(vocab, np.asarray(STOPWORDS[g], dtype=object)).astype(np.float64)
        if len(codes):
            scores[g] = np.bincount(rows, weights=mask[codes], minlength=n).astype(
                np.int64
            )
        else:
            scores[g] = np.zeros(n, dtype=np.int64)
    smat = np.stack([scores[g] for g in FEATURE_LANGS], axis=1)
    best = smat.max(axis=1)
    # first (alphabetical) language attaining the max; 'und' when best <= 0
    pred = np.array(FEATURE_LANGS, dtype=object)[smat.argmax(axis=1)]
    pred[best <= 0] = "und"

    norm = pc.utf8_trim(pc.replace_substring_regex(low, WS_RUN, " "), " ")
    fp_md5 = np.empty(n, dtype=object)
    fp_int = np.empty(n, dtype=np.int64)
    for i, s in enumerate(norm.to_pylist()):
        h = hashlib.md5(s.encode()).hexdigest()
        fp_md5[i] = h
        fp_int[i] = int(h[:15], 16)

    tok_den = np.maximum(dls, 1)
    return pd.DataFrame(
        {
            "__id": id_vals,
            "n_tokens": dls,
            "n_unique_tokens": n_unique,
            "n_chars": n_chars,
            "n_ws_tokens": n_ws,
            "n_bpe_tokens": n_bpe,
            "punct_ratio": _round6_half_up(n_punct / np.maximum(n_chars, 1)),
            "stopword_ratio": _round6_half_up(scores["en"] / tok_den),
            "lexical_diversity": _round6_half_up(n_unique / tok_den),
            **{f"score_{g}": scores[g] for g in FEATURE_LANGS},
            "pred_lang": pred,
            "fp_md5": fp_md5,
            "fp_int": fp_int,
        }
    )


def text_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass fused featurizer: token stats + quality ratios + language
    scores + fingerprints from a SINGLE tokenize of each Arrow batch.

    The only Spark implementation of these per-document features: callers
    that need a subset (the tokstats / quality / langid / fingerprint
    queries, quality_filter) select columns from it. A narrow
    ``mapInPandas`` tokenizes once with Arrow's re2 and computes every
    column from that pass (zero shuffle, one scan, one tokenize); Spark's
    regex ``split`` measured ~100× the cost of the cached scan (25.6 s vs
    0.22 s for 20k code docs at local[32]). Null text is treated as ''.
    Spec: text_features_sql, and token_stats_sql / quality_score_sql /
    language_id_sql / fingerprint_sql for the column subsets."""
    schema = f"{id_col} {dict(df.dtypes)[id_col]}, " + _FEATURES_SCHEMA_TAIL

    def fn(batches):
        for pdf in batches:
            out = _text_features_batch(pdf[text_col], pdf[id_col].to_numpy())
            yield out.rename(columns={"__id": id_col})

    return df.select(id_col, text_col).mapInPandas(fn, schema)


def text_features_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of the fused featurizer (null text coalesced to '')."""
    x = f"coalesce({text_col}, '')"
    t = tokens_sql(x)
    langs = FEATURE_LANGS
    score_exprs = []
    for g in langs:
        stop = ", ".join(f"'{w}'" for w in STOPWORDS[g])
        score_exprs.append(
            f"len(list_filter(t, tok -> list_contains([{stop}], tok)))::BIGINT AS score_{g}"
        )
    best = "greatest(" + ", ".join(f"score_{g}" for g in langs) + ")"
    case = "CASE WHEN " + best + " <= 0 THEN 'und' "
    for g in langs:
        case += f"WHEN score_{g} = {best} THEN '{g}' "
    case += "END"
    norm = f"trim(regexp_replace(lower(x), '{WS_RUN}', ' ', 'g'))"
    return f"""
    WITH toks AS (SELECT {id_col}, {x} AS x, {t} AS t FROM {table}),
    s AS (
      SELECT {id_col}, x, t,
             len(t)::BIGINT AS n_tokens,
             len(list_distinct(t))::BIGINT AS n_unique_tokens,
             length(x)::BIGINT AS n_chars,
             len(string_split_regex(x, '{WS_RUN}'))::BIGINT AS n_ws_tokens,
             len(regexp_extract_all(x, '{BPE_PIECE_PATTERN}'))::BIGINT AS n_bpe_tokens,
             length(regexp_replace(x, '{NONPUNCT_CLASS}', '', 'g'))::BIGINT AS n_punct,
             {', '.join(score_exprs)}
      FROM toks
    )
    SELECT {id_col}, n_tokens, n_unique_tokens, n_chars, n_ws_tokens, n_bpe_tokens,
           round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
           round(score_en / greatest(n_tokens, 1), 6) AS stopword_ratio,
           round(n_unique_tokens / greatest(n_tokens, 1), 6) AS lexical_diversity,
           {', '.join('score_' + g for g in langs)},
           {case} AS pred_lang,
           md5({norm}) AS fp_md5,
           ('0x' || substr(md5({norm}), 1, 15))::BIGINT AS fp_int
    FROM s
    """


# ---------------------------------------------------------------------------
# vocabulary statistics (tokenizer-training prep)
# ---------------------------------------------------------------------------


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    ngram: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k corpus n-grams by total count: (ngram, count, doc_freq).

    The BPE/tokenizer-training prep statistic. Shape at 100 TB: tokenize →
    explode → ONE hash aggregate (map-side partial combine handles the
    zipf head; the shuffle carries (ngram, partial-count) pairs, not
    tokens) → a tiny global top-k sort-limit. Ties break by ngram
    ascending for cross-engine determinism.
    """
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("__t"))
    if ngram > 1:
        grams = F.expr(
            f"CASE WHEN size(__t) >= {ngram} THEN transform("
            f"sequence(1, size(__t) - {ngram - 1}),"
            f" i -> concat_ws(' ', slice(__t, i, {ngram}))) "
            f"ELSE array() END"
        )
        toks = toks.select(id_col, grams.alias("__t"))
    exploded = toks.select(id_col, F.explode("__t").alias("ngram"))
    return (
        exploded.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.countDistinct(id_col).alias("doc_freq"),
        )
        .orderBy(F.desc("count"), F.asc("ngram"))
        .limit(k)
    )


def vocab_topk_sql(
    table: str, k: int = 100, ngram: int = 1,
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    t = tokens_sql(text_col)
    if ngram == 1:
        grams = f"unnest({t})"
        src = f"SELECT {id_col}, {grams} AS ngram FROM {table}"
    else:
        src = f"""
        SELECT {id_col},
               unnest(CASE WHEN len(toks) >= {ngram} THEN
                 list_transform(range(1, len(toks) - {ngram - 1} + 1),
                   i -> array_to_string(toks[i:i+{ngram - 1}], ' '))
                 ELSE [] END) AS ngram
        FROM (SELECT {id_col}, {t} AS toks FROM {table})
        """
    return f"""
    SELECT ngram, count(*)::BIGINT AS count,
           count(DISTINCT {id_col})::BIGINT AS doc_freq
    FROM ({src})
    GROUP BY ngram
    ORDER BY count DESC, ngram ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# composite quality filter (C4-style corpus cleaning)
# ---------------------------------------------------------------------------

QUALITY_DEFAULTS = {
    "min_tokens": 5,
    "max_punct_ratio": 0.3,
    "min_stopword_ratio": 0.0,
    "min_lexical_diversity": 0.2,
}


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **thresholds,
) -> DataFrame:
    """C4-style corpus cleaning: (id, kept, reason) per document.

    Rules compose from the text_features metrics (null text reads as '',
    so it fails on too_few_tokens); the FIRST failing rule (fixed order:
    tokens → punct → stopword → diversity) names the reason, 'ok' when
    kept — so the filter is auditable (per-reason drop counts are one
    groupBy away). Thresholds override QUALITY_DEFAULTS."""
    th = {**QUALITY_DEFAULTS, **thresholds}
    q = text_features(df, text_col, id_col)
    reason = (
        F.when(F.col("n_tokens") < th["min_tokens"], "too_few_tokens")
        .when(F.col("punct_ratio") > th["max_punct_ratio"], "too_much_punct")
        .when(F.col("stopword_ratio") < th["min_stopword_ratio"], "too_few_stopwords")
        .when(F.col("lexical_diversity") < th["min_lexical_diversity"], "low_diversity")
        .otherwise("ok")
    )
    return q.select(
        id_col,
        reason.alias("reason"),
        (reason == "ok").alias("kept"),
    )


def quality_filter_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", **thresholds
) -> str:
    """DuckDB twin of quality_filter (same metrics SQL, same rule order)."""
    th = {**QUALITY_DEFAULTS, **thresholds}
    qs = text_features_sql(table, text_col, id_col)
    return f"""
    SELECT {id_col},
           CASE
             WHEN n_tokens < {th["min_tokens"]} THEN 'too_few_tokens'
             WHEN punct_ratio > {th["max_punct_ratio"]!r} THEN 'too_much_punct'
             WHEN stopword_ratio < {th["min_stopword_ratio"]!r} THEN 'too_few_stopwords'
             WHEN lexical_diversity < {th["min_lexical_diversity"]!r} THEN 'low_diversity'
             ELSE 'ok'
           END AS reason,
           CASE
             WHEN n_tokens < {th["min_tokens"]} THEN false
             WHEN punct_ratio > {th["max_punct_ratio"]!r} THEN false
             WHEN stopword_ratio < {th["min_stopword_ratio"]!r} THEN false
             WHEN lexical_diversity < {th["min_lexical_diversity"]!r} THEN false
             ELSE true
           END AS kept
    FROM ({qs})
    """


# ---------------------------------------------------------------------------
# repetition statistics (Gopher-style repetition signals)
# ---------------------------------------------------------------------------


def _repetition_batch(texts, id_vals):
    """Per-doc repetition signals from ONE Arrow tokenize of the batch.

    Gopher-style corpus-cleaning statistics (Rae et al. 2021 §A1.1):
    documents dominated by repeated lines or n-grams are boilerplate /
    spam. Everything is vectorized: bigram ids are composed from the
    dictionary codes of ADJACENT flat positions (the flat token stream is
    row-major and order-preserving), trigram ids from factorized bigram
    ids — no per-row python loops, no per-token objects.

    All ratios are exact int/int double divisions — bit-identical in the
    DuckDB twin with no rounding step (same contract as
    contamination_pairs)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..fulltext.tokenizer import tokenize_arrow

    n = len(texts)
    arr = pa.array(texts.fillna("").astype(str), type=pa.string())

    # line stats: split on \n only (both engines agree; '' has ONE line)
    lines = pc.split_pattern(arr, "\n")
    n_lines = pc.list_value_length(lines).to_numpy(zero_copy_only=False).astype(np.int64)
    flat_lines = pc.dictionary_encode(pc.list_flatten(lines))
    line_codes = np.asarray(flat_lines.indices, dtype=np.int64)
    line_rows = pc.list_parent_indices(lines).to_numpy(zero_copy_only=False).astype(np.int64)
    # distinct lines per row: unique (row, line_code) pairs
    n_line_vocab = max(len(flat_lines.dictionary), 1)
    uniq_rl = np.unique(line_rows * n_line_vocab + line_codes)
    n_distinct_lines = np.bincount(uniq_rl // n_line_vocab, minlength=n).astype(np.int64)

    codes, rows, vocab, dls = tokenize_arrow(texts)
    V = max(len(vocab), 1)

    def gram_stats(gram_ids, gram_rows):
        """(n_grams, n_distinct_grams, top_gram_count) per row."""
        n_grams = np.bincount(gram_rows, minlength=n).astype(np.int64)
        if len(gram_ids) == 0:
            z = np.zeros(n, dtype=np.int64)
            return n_grams, z, z
        bcodes, _ = pd.factorize(gram_ids)
        # count per distinct (row, gram); rows ride inside gram_ids already
        cnt = np.bincount(bcodes)
        first_row = np.full(len(cnt), -1, dtype=np.int64)
        first_row[bcodes] = gram_rows  # any occurrence's row (all equal)
        n_distinct = np.bincount(first_row, minlength=n).astype(np.int64)
        top = np.zeros(n, dtype=np.int64)
        np.maximum.at(top, first_row, cnt)
        return n_grams, n_distinct, top

    # bigrams: adjacent flat positions within the same row
    if len(codes) >= 2:
        adj = rows[:-1] == rows[1:]
        bi_ids = (rows[:-1] * V + codes[:-1])[adj] * V + codes[1:][adj]
        bi_rows = rows[:-1][adj]
    else:
        bi_ids = np.empty(0, dtype=np.int64)
        bi_rows = np.empty(0, dtype=np.int64)
    n_bi, _, top_bi = gram_stats(bi_ids, bi_rows)

    # trigrams: factorized bigram id (row-scoped) + following token code
    if len(bi_ids) >= 1 and len(codes) >= 3:
        bi_codes, _ = pd.factorize(bi_ids)
        # position in the original stream of each bigram's FIRST token
        bi_pos = np.nonzero(adj)[0]
        has_next = bi_pos + 2 < len(codes)
        same_row = np.zeros(len(bi_pos), dtype=bool)
        same_row[has_next] = rows[bi_pos[has_next] + 2] == bi_rows[has_next]
        tri_ids = bi_codes[same_row].astype(np.int64) * V + codes[bi_pos[same_row] + 2]
        tri_rows = bi_rows[same_row]
    else:
        tri_ids = np.empty(0, dtype=np.int64)
        tri_rows = np.empty(0, dtype=np.int64)
    n_tri, d_tri, _ = gram_stats(tri_ids, tri_rows)

    def frac(num, den):
        return np.where(den > 0, num / np.maximum(den, 1), 0.0)

    return pd.DataFrame(
        {
            "__id": id_vals,
            "n_lines": n_lines,
            "n_tokens": dls,
            "dup_line_frac": frac(n_lines - n_distinct_lines, n_lines),
            "top_bigram_frac": frac(top_bi, n_bi),
            "dup_trigram_frac": frac(n_tri - d_tri, n_tri),
        }
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document: (id, n_lines,
    n_tokens, dup_line_frac, top_bigram_frac, dup_trigram_frac).

    - dup_line_frac: fraction of lines that repeat another line
    - top_bigram_frac: occurrences of the most frequent token bigram over
      all bigram occurrences
    - dup_trigram_frac: fraction of trigram occurrences that repeat

    Scale shape: narrow ``mapInPandas`` (one Arrow tokenize per batch,
    zero shuffle, no per-doc python loops) — identical posture to
    ``text_features``. Null text ≡ ''."""
    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, n_lines long, n_tokens long, "
        "dup_line_frac double, top_bigram_frac double, dup_trigram_frac double"
    )

    def fn(batches):
        for pdf in batches:
            out = _repetition_batch(pdf[text_col], pdf[id_col].to_numpy())
            yield out.rename(columns={"__id": id_col})

    return df.select(id_col, text_col).mapInPandas(fn, schema)


def repetition_stats_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of repetition_stats (same tokenizer, same '\\n' line
    rule, exact int/int divisions — list-local O(n_distinct · n) per doc,
    fine at oracle scale)."""
    x = f"coalesce({text_col}, '')"
    t = tokens_sql(x)
    return f"""
    WITH base AS (
      SELECT {id_col},
             string_split({x}, chr(10)) AS lines,
             {t} AS toks
      FROM {table}
    ),
    grams AS (
      SELECT {id_col}, lines, toks,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)), i ->
                 toks[i] || chr(1) || toks[i+1])
             ELSE [] END AS bigrams,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1), i ->
                 toks[i] || chr(1) || toks[i+1] || chr(1) || toks[i+2])
             ELSE [] END AS trigrams
      FROM base
    )
    SELECT {id_col},
           len(lines)::BIGINT AS n_lines,
           len(toks)::BIGINT AS n_tokens,
           (len(lines) - len(list_distinct(lines))) / len(lines)
             AS dup_line_frac,
           CASE WHEN len(bigrams) > 0 THEN
             list_max(list_transform(list_distinct(bigrams),
               g -> len(list_filter(bigrams, y -> y = g)))) / len(bigrams)
           ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN len(trigrams) > 0 THEN
             (len(trigrams) - len(list_distinct(trigrams))) / len(trigrams)
           ELSE 0.0 END AS dup_trigram_frac
    FROM grams
    """


# ---------------------------------------------------------------------------
# PII scrubbing (Arrow re2, shared RE2/Java-safe patterns)
# ---------------------------------------------------------------------------

# Patterns deliberately restricted to constructs with IDENTICAL semantics
# in RE2 (Arrow, DuckDB) and java.util.regex: explicit character classes
# only — no \\s (Java includes \\x0B, RE2 does not), no alternation under
# repeats, no backreferences/lookarounds. Match order is fixed:
# emails → ipv4 → phone-like digit runs.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_IPV4 = r"[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?\.[0-9][0-9]?[0-9]?"
PII_PHONE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact PII-shaped spans: (id, n_emails, n_ipv4, n_phones, scrubbed).

    Counts are over the ORIGINAL text per category (independent, so they
    do not depend on replacement interactions); the scrubbed text applies
    the replacements in fixed order (emails → IPv4 → phone runs) with
    <EMAIL> / <IP> / <PHONE> markers. Null text is treated as ''.

    One narrow ``mapInPandas`` pass: the whole batch stays in Arrow —
    ``count_substring_regex`` for the per-category counts,
    ``replace_substring_regex`` chained in the fixed order. Not Spark's
    regexp_count / regexp_replace: chained java.util.regex projections
    measured ~5× this pass on code text. Spec: pii_scrub_sql (DuckDB is
    RE2 too).

    100-TB shape: column-pruned scan → narrow mapInPandas → write; no
    shuffle, no driver traffic."""
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("n_emails", T.LongType()),
            T.StructField("n_ipv4", T.LongType()),
            T.StructField("n_phones", T.LongType()),
            T.StructField("scrubbed", T.StringType()),
        ]
    )

    def run(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        for pdf in batches:
            if len(pdf) == 0:
                continue
            arr = pa.array(pdf[text_col].fillna("").astype(str), type=pa.string())
            out = pd.DataFrame({id_col: pdf[id_col]})
            for name, pat in (
                ("n_emails", PII_EMAIL),
                ("n_ipv4", PII_IPV4),
                ("n_phones", PII_PHONE),
            ):
                out[name] = (
                    pc.count_substring_regex(arr, pat)
                    .to_numpy(zero_copy_only=False)
                    .astype("int64")
                )
            scrub = pc.replace_substring_regex(arr, PII_EMAIL, "<EMAIL>")
            scrub = pc.replace_substring_regex(scrub, PII_IPV4, "<IP>")
            scrub = pc.replace_substring_regex(scrub, PII_PHONE, "<PHONE>")
            out["scrubbed"] = scrub.to_pandas()
            yield out

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


pii_scrub_arrow = pii_scrub


def pii_scrub_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of pii_scrub (same patterns, same replacement order)."""
    x = f"coalesce({text_col}, '')"
    return f"""
    SELECT {id_col},
           len(regexp_extract_all({x}, '{PII_EMAIL}'))::BIGINT AS n_emails,
           len(regexp_extract_all({x}, '{PII_IPV4}'))::BIGINT AS n_ipv4,
           len(regexp_extract_all({x}, '{PII_PHONE}'))::BIGINT AS n_phones,
           regexp_replace(regexp_replace(regexp_replace({x},
             '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_IPV4}', '<IP>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g') AS scrubbed
    FROM {table}
    """
