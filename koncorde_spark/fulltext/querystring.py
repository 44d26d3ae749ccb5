"""Lucene-style query-string parsing + execution over a BM25 index.

One string drives the whole search surface (the Elasticsearch
`query_string` / Lucene classic QueryParser shape):

    +spark -hive "exactly this"~2 merg* fuzz~1 join^2.5

* bare word          → should-term (default operator OR)
* ``+word``          → must, ``-word`` → must_not
* ``"a b c"``        → phrase; optional ``~N`` slop suffix
* ``word*``          → prefix wildcard (df-capped expansion)
* ``word~`` / ``~N`` → fuzzy (Levenshtein ≤ N, default 1)
* ``clause^F``       → boost factor on the clause's terms

Execution maps onto the existing exact engines — WAND ``topk`` for a
pure OR of plain terms (the fast path), ``topk_phrase`` for a lone
phrase, and ``topk_boolean`` otherwise, with prefix/fuzzy clauses
expanded through the index's deterministic df-capped expanders. Both
the Spark job tier (Bm25Index) and the Spark-free serving tier
(LocalSearcher) are supported — they share kernels, so a parsed query
ranks identically on either.

Documented degradations (the same ones Lucene applies on a field
without the needed data):

* a phrase combined with other clauses — or with a modifier — degrades
  to a conjunctive MUST of its terms (Lucene's behaviour when positions
  are unavailable); a lone unmodified phrase stays an exact positional
  phrase when the index stores positions (``meta['positions']``) and
  degrades the same way when it does not; a boost on a lone positional
  phrase scales its scores (rank-preserving).
* ``+prefix*`` / ``+fuzzy~`` (a must-quantified expansion is an
  OR-group inside a conjunction, which the boolean engine does not
  express) raises ``KoncordeParseError`` — ``-prefix*`` is fine
  (NOT of every expansion IS a conjunction).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from koncorde_spark.errors import KoncordeParseError

from .tokenizer import tokenize_text

# one clause: optional +/- modifier, then a quoted phrase or a bare
# token run, then optional ~N (slop/fuzz) and optional ^F (boost)
_CLAUSE_RE = re.compile(
    r"""
    (?P<mod>[+-])?
    (?:
        "(?P<phrase>[^"]*)"
      | (?P<word>[^\s"~^]+)
    )
    (?:~(?P<tilde>\d*))?
    (?:\^(?P<boost>\d+(?:\.\d+)?))?
    """,
    re.VERBOSE,
)


@dataclass
class Clause:
    kind: str               # 'term' | 'prefix' | 'fuzzy' | 'phrase'
    text: str               # raw payload (phrase body / word sans '*')
    modifier: str = ""      # '' | '+' | '-'
    boost: float = 1.0
    slop: int = 0           # phrase slop
    max_distance: int = 1   # fuzzy edit budget
    terms: list[str] = field(default_factory=list)  # canonical tokens


def parse_query_string(qs: str) -> list[Clause]:
    """Parse ``qs`` into clauses. Raises KoncordeParseError on an empty
    or unparseable query (unbalanced quote, bare modifier, empty
    phrase)."""
    if qs is None or not qs.strip():
        raise KoncordeParseError("empty query string")
    if qs.count('"') % 2 == 1:
        raise KoncordeParseError(f"unbalanced quote in query: {qs!r}")
    clauses: list[Clause] = []
    pos = 0
    s = qs.strip()
    while pos < len(s):
        if s[pos].isspace():
            pos += 1
            continue
        m = _CLAUSE_RE.match(s, pos)
        if not m or m.end() == pos:
            raise KoncordeParseError(
                f"cannot parse query at offset {pos}: {s[pos:pos + 20]!r}"
            )
        pos = m.end()
        mod = m.group("mod") or ""
        boost = float(m.group("boost")) if m.group("boost") else 1.0
        tilde = m.group("tilde")
        if m.group("phrase") is not None:
            body = m.group("phrase")
            terms = tokenize_text(body)
            if not terms:
                raise KoncordeParseError(f"empty phrase in query: {qs!r}")
            slop = int(tilde) if tilde else 0
            clauses.append(
                Clause("phrase", body, mod, boost, slop=slop, terms=terms)
            )
            continue
        word = m.group("word")
        is_prefix = word.endswith("*") and len(word) > 1
        if is_prefix:
            word = word[:-1]
        toks = tokenize_text(word)
        if not toks:
            raise KoncordeParseError(
                f"clause {word!r} contains no indexable token"
            )
        if is_prefix:
            if len(toks) != 1:
                raise KoncordeParseError(
                    f"prefix clause {word!r}* must be a single token"
                )
            clauses.append(Clause("prefix", toks[0], mod, boost, terms=toks))
        elif tilde is not None:
            if len(toks) != 1:
                raise KoncordeParseError(
                    f"fuzzy clause {word!r}~ must be a single token"
                )
            dist = int(tilde) if tilde else 1
            clauses.append(
                Clause(
                    "fuzzy", toks[0], mod, boost,
                    max_distance=dist, terms=toks,
                )
            )
        else:
            clauses.append(Clause("term", word, mod, boost, terms=toks))
    if not clauses:
        raise KoncordeParseError(f"no clauses in query: {qs!r}")
    return clauses


def _expand(searcher, clause: Clause, max_expansions: int) -> list[str]:
    if clause.kind == "prefix":
        return searcher.expand_prefix(clause.text, max_expansions)
    return searcher.expand_fuzzy(
        clause.text, clause.max_distance, max_expansions
    )


def execute_query_string(
    searcher, qs: str, k: int = 10, max_expansions: int = 50,
    synonyms: dict[str, list[str]] | None = None,
):
    """Parse and run ``qs`` against ``searcher`` (Bm25Index or
    LocalSearcher). Returns whatever the underlying engine returns
    (DataFrame for the job tier, list of (doc_id, score) for the
    serving tier).

    ``synonyms``: optional query-time expansion map {term: [alternates]}
    (Elasticsearch synonym filter, query side). A should-term expands to
    the OR of itself and its alternates, each inheriting the clause's
    boost; a must_not term excludes every alternate too (NOT of a group
    IS a conjunction). A must-quantified term with synonyms raises — an
    OR-group inside a conjunction is not expressible in the boolean
    engine (same rule as ``+prefix*``). Keys and values are canonical
    tokens; entries are applied to plain term clauses only (phrases,
    prefix and fuzzy expansions stay literal, matching Lucene's
    behaviour of running synonym filters on TermQuery paths)."""
    clauses = parse_query_string(qs)
    if synonyms:
        for c in clauses:
            if c.kind != "term":
                continue
            alts = [
                a for t in c.terms for a in synonyms.get(t, []) if a not in c.terms
            ]
            if not alts:
                continue
            if c.modifier == "+":
                raise KoncordeParseError(
                    f"must-quantified term +{c.text!r} has synonyms — an "
                    "OR-group inside a conjunction is not expressible"
                )
            seen = set(c.terms)
            for a in alts:
                if a not in seen:
                    seen.add(a)
                    c.terms.append(a)

    # fast path 1: lone unmodified phrase → exact positional phrase —
    # but only when the index actually stores positions; otherwise fall
    # through to the documented conjunctive degradation (what Lucene does
    # on a field without the needed data) instead of raising mid-query
    positional = bool(getattr(searcher, "meta", {"positions": True}).get("positions"))
    if (
        len(clauses) == 1
        and clauses[0].kind == "phrase"
        and not clauses[0].modifier
        and positional
    ):
        c = clauses[0]
        hits = searcher.topk_phrase(c.text, k, slop=c.slop)
        if c.boost == 1.0:
            return hits
        # a boosted lone phrase keeps its positional exactness; the boost
        # scales the scores (rank-preserving), matching the boost every
        # other clause shape carries into the engine
        if isinstance(hits, list):
            return [(d, s * c.boost) for d, s in hits]
        from pyspark.sql import functions as F

        return hits.withColumn("score", F.col("score") * F.lit(c.boost))

    must: list[str] = []
    should: list[str] = []
    must_not: list[str] = []
    boosts: dict[str, float] = {}

    def add(bucket: list[str], terms: list[str], boost: float) -> None:
        for t in terms:
            bucket.append(t)
            if boost != 1.0:
                # repeated boosted terms: keep the largest boost (Lucene
                # dedups clauses; max is the deterministic choice)
                boosts[t] = max(boosts.get(t, 1.0), boost)

    for c in clauses:
        if c.kind == "phrase":
            # combined/modified phrase: conjunctive degradation
            if c.modifier == "-":
                add(must_not, c.terms, 1.0)
            else:
                add(must, c.terms, c.boost)
        elif c.kind in ("prefix", "fuzzy"):
            if c.modifier == "+":
                raise KoncordeParseError(
                    f"must-quantified {c.kind} clause +{c.text!r} is not "
                    "expressible as a term conjunction"
                )
            exp = _expand(searcher, c, max_expansions)
            if c.modifier == "-":
                add(must_not, exp, 1.0)
            else:
                add(should, exp, c.boost)
        else:
            target = {"": should, "+": must, "-": must_not}[c.modifier]
            add(target, c.terms, 1.0 if c.modifier == "-" else c.boost)

    # fast path 2: pure unboosted OR of plain terms → WAND topk
    if not must and not must_not and not boosts and should:
        return searcher.topk(" ".join(should), k)
    return searcher.topk_boolean(
        must=must or None,
        should=should or None,
        must_not=must_not or None,
        boosts=boosts or None,
        k=k,
    )
