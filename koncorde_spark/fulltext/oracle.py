"""Brute-force single-node BM25 oracle (pure pandas/numpy).

Independent implementation used by tests to verify that the distributed
index + top-k path is rank-identical (doc IDs and float64 scores) on the
frozen query set. Same canonical tokenizer, same frozen constants.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .indexer import doc_id_of
from .tokenizer import tokenize_text
from .wand import bm25_idf


def bm25_oracle_topk(
    corpus: pd.DataFrame,
    query: str,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    eligible: "pd.Series | None" = None,
    require_all: bool = False,
) -> pd.DataFrame:
    """corpus: pandas DF with (repo, path, commit, content). Returns
    (doc_id, score) sorted by score desc, doc_id asc, head k.

    ``eligible``: optional boolean mask aligned to ``corpus`` rows — the
    filtered-search contract (topk_filtered): statistics (n_docs, avgdl,
    df) come from the FULL corpus, the mask only gates which docs may
    enter the top-k.

    ``require_all``: AND-semantics (topk(mode="all") twin) — only docs
    containing every query term qualify; scores stay mode-independent."""
    doc_ids = np.array(
        [doc_id_of(r, p, c) for r, p, c in zip(corpus["repo"], corpus["path"], corpus["commit"])],
        dtype=np.int64,
    )
    toks = [tokenize_text(t) for t in corpus["content"]]
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    n_docs = len(corpus)
    avgdl = dls.mean() if n_docs else 1.0

    q_terms = sorted(set(tokenize_text(query)))
    scores = np.zeros(n_docs, dtype=np.float64)
    has_all = np.ones(n_docs, dtype=bool)
    for term in q_terms:
        tf = np.array([t.count(term) for t in toks], dtype=np.float64)
        has_all &= tf > 0
        df = int((tf > 0).sum())
        if df == 0:
            continue
        idf = bm25_idf(n_docs, df)
        tfpart = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dls / avgdl))
        scores += np.where(tf > 0, idf * tfpart, 0.0)

    hit = scores > 0
    if require_all:
        hit &= has_all
    if eligible is not None:
        hit &= np.asarray(eligible, dtype=bool)
    out = pd.DataFrame({"doc_id": doc_ids[hit], "score": scores[hit]})
    out = out.sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
    return out.head(k).reset_index(drop=True)


def bm25_oracle_phrase(
    corpus: pd.DataFrame,
    phrase: str,
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    slop: int = 0,
) -> pd.DataFrame:
    """Pure-python twin of Bm25Index.topk_phrase / LocalSearcher.phrase:
    exact consecutive-offset phrase tf (or, with ``slop>0``, the ordered
    greedy-chain proximity count — each later token to its smallest
    strictly-greater position, span-thresholded), idf = sum of
    member-term idfs (repeats counted per repetition), stats over the
    full corpus."""
    from .tokenizer import tokenize_text as _tok

    doc_ids = np.array(
        [doc_id_of(r, p, c) for r, p, c in zip(corpus["repo"], corpus["path"], corpus["commit"])],
        dtype=np.int64,
    )
    toks = [_tok(t) for t in corpus["content"]]
    dls = np.array([len(t) for t in toks], dtype=np.float64)
    n_docs = len(corpus)
    avgdl = dls.mean() if n_docs else 1.0

    q = _tok(phrase)
    if not q:
        return pd.DataFrame({"doc_id": [], "score": []})
    dfs = {}
    for term in set(q):
        dfs[term] = sum(1 for t in toks if term in t)
        if dfs[term] == 0:
            return pd.DataFrame({"doc_id": [], "score": []})
    idf_sum = float(sum(bm25_idf(n_docs, dfs[t]) for t in q))

    m = len(q)
    if slop > 0:

        def _near_count(t: list[str]) -> int:
            cnt = 0
            for p0 in (i for i, x in enumerate(t) if x == q[0]):
                cur, ok = p0, True
                for term in q[1:]:
                    nxt = next(
                        (i for i in range(cur + 1, len(t)) if t[i] == term), None
                    )
                    if nxt is None:
                        ok = False
                        break
                    cur = nxt
                if ok and cur - p0 - (m - 1) <= slop:
                    cnt += 1
            return cnt

        ptf = np.array([_near_count(t) for t in toks], dtype=np.float64)
    else:
        ptf = np.array(
            [sum(1 for i in range(len(t) - m + 1) if t[i : i + m] == q) for t in toks],
            dtype=np.float64,
        )
    score = idf_sum * ptf * (k1 + 1.0) / (ptf + k1 * (1.0 - b + b * dls / avgdl))
    hit = ptf > 0
    out = pd.DataFrame({"doc_id": doc_ids[hit], "score": score[hit]})
    out = out.sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
    return out.head(k).reset_index(drop=True)
