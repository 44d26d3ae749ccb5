"""search_serve: the Spark-free serve tier on a Zipf query log.

Set-up: Spark session, ``build_index`` over ``synthetic_corpus_df``
(``n_shards`` = cores), Spark closed, ``LocalSearcher`` opened and its
segment cache filled with the head of the query log's terms. Timed phase: one client in a closed loop
sending the rest of the log (``topk`` any / all, ``topk_prefix``). The
log's term working set is larger than the searcher's 1024-term segment
cache, so decode and eviction stay in the steady state. Answer check:
sampled queries equal ``fulltext.oracle.bm25_oracle_topk``.
"""

from __future__ import annotations

import contextlib
import os
import time

import numpy as np

import gen
from common import median, percentile, start_spark, stop_spark

N_CORPUS = 1_000
LOG_LEN = 6_000
ZIPF_S = 0.5
# the searcher caches decoded segments for 1024 terms; the warm-up sends
# the log's first WARM_TERMS distinct terms, WARM_BATCH per query, so the
# timed phase starts with a full cache that evicts (otherwise a slower run
# sends fewer queries, sees a colder cache and reads slower still)
WARM_TERMS = 1_100
WARM_BATCH = 16
K = 10
N_CHECKS = 4
WORK_UNIT = "queries/s"


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def build(ctx, spark, out: str, n_rows: int, seed: int) -> dict:
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index
    from koncorde_spark.sources import synthetic_corpus_df

    with ctx.tracer.span("fulltext.indexer:build"):
        corpus = synthetic_corpus_df(spark, n_rows, seed, partitions=ctx.cpus)
        return build_index(spark, corpus, out, IndexConfig(n_shards=ctx.cpus))


def build_layers(ctx, meta: dict, index_dir: str, input_bytes: int) -> None:
    import report

    ctx.layers.update({
        "fulltext.indexer.build_s": ctx.tracer.total("fulltext.indexer:build"),
        "fulltext.indexer.jobs_per_build": report.jobs_per(ctx, "fulltext.indexer:build"),
        "fulltext.indexer.shuffle_write_mb": report.shuffle_write_mb(ctx, "fulltext.indexer:build"),
        "fulltext.indexer.index_bytes_per_input_byte": dir_bytes(index_dir) / input_bytes,
    })
    for k, v in meta.get("metrics", {}).items():
        ctx.layers[f"fulltext.indexer.meta.{k}"] = v


class DecodeTimer:
    """Times the serve tier's calls into the public codecs functions
    (traced run only): wraps the names ``fulltext.serve`` imported."""

    def __init__(self):
        import koncorde_spark.fulltext.serve as serve

        self.serve = serve
        self.seconds = 0.0
        self.orig = {n: getattr(serve, n) for n in ("delta_decode", "varint_decode")}

    def _wrap(self, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t0
        return timed

    def __enter__(self):
        for n, fn in self.orig.items():
            setattr(self.serve, n, self._wrap(fn))
        return self

    def __exit__(self, *exc):
        for n, fn in self.orig.items():
            setattr(self.serve, n, fn)


def warm_plan(log) -> tuple[list[str], int]:
    """The first WARM_TERMS distinct terms of the log, in log order, and
    the log position where the timed phase starts (just past them)."""
    seen: dict[str, None] = {}
    for i, (kind, q) in enumerate(log):
        seen.update(dict.fromkeys(sorted(gen.query_terms(kind, q))))
        if len(seen) >= WARM_TERMS:
            return list(seen), i + 1
    raise ValueError("query log too short for the warm-up")


def ask(ctx, ls, kind: str, q: str, wand: dict | None = None):
    with ctx.tracer.span("fulltext.serve:topk"):
        if kind == "prefix":
            return ls.topk_prefix(q, K)
        if kind == "all":
            return ls.topk(q, K, mode="all")
        if wand is not None:
            hits, stats = ls.profile_topk(q, K)
            # a query took the pruning path on some shard iff it has segments
            stats["queries"] = 1
            stats["queries_pruned"] = int(bool(stats.get("segments_scored", 0)
                                               + stats.get("segments_skipped", 0)))
            for key, v in stats.items():
                wand[key] = wand.get(key, 0) + v
            wand["max_query_entries"] = max(wand.get("max_query_entries", 0),
                                            stats.get("entries_total", 0))
            return hits
        return ls.topk(q, K)


def oracle_ok(corpus_pdf, kind: str, q: str, hits) -> bool:
    from koncorde_spark.fulltext.oracle import bm25_oracle_topk

    want = bm25_oracle_topk(corpus_pdf, q, K, require_all=(kind == "all"))
    return ([d for d, _ in hits] == want["doc_id"].tolist()
            and np.allclose([s for _, s in hits], want["score"].to_numpy(), rtol=1e-12, atol=0))


def run(ctx) -> dict:
    from koncorde_spark.fulltext.serve import LocalSearcher
    from koncorde_spark.sources import synthetic_corpus_pandas

    tr = ctx.tracer
    index_dir = os.path.join(ctx.work, "index")
    t_setup = time.perf_counter()
    spark, start_s = start_spark(ctx)
    try:
        meta = build(ctx, spark, index_dir, N_CORPUS, ctx.seed)
    finally:
        stop_spark(ctx, spark)
    log = gen.query_log(ctx.seed, LOG_LEN, ZIPF_S)
    with tr.span("fulltext.serve:open"):
        ls = LocalSearcher(index_dir)
    warm_terms, start = warm_plan(log)
    for j in range(0, len(warm_terms), WARM_BATCH):
        ls.topk(" ".join(warm_terms[j:j + WARM_BATCH]), K)
    setup_s = time.perf_counter() - t_setup

    wand = {} if tr.enabled else None
    lat, answers = [], []
    i = start
    with DecodeTimer() if tr.enabled else contextlib.nullcontext() as decode:
        ctx.begin_timed()
        t_run = time.perf_counter()
        while time.perf_counter() - t_run < ctx.seconds and i < LOG_LEN:
            kind, q = log[i]
            tr.op = i
            t0 = time.perf_counter()
            hits = ask(ctx, ls, kind, q, wand)
            lat.append(time.perf_counter() - t0)
            answers.append((kind, q, hits))
            i += 1
        elapsed = time.perf_counter() - t_run
    tr.op = None
    ctx.end_timed()
    n = len(lat)

    corpus_pdf = synthetic_corpus_pandas(N_CORPUS, ctx.seed)
    checkable = [a for a in answers if a[0] != "prefix"]
    step = max(1, len(checkable) // N_CHECKS)
    for kind, q, hits in checkable[::step][:N_CHECKS]:
        ctx.check(f"oracle {kind} {q!r}", oracle_ok(corpus_pdf, kind, q, hits))
    ctx.attempted += n

    sent = set()
    for kind, q in log[:i]:
        sent |= gen.query_terms(kind, q)
    ctx.shape.update({
        "corpus_docs": meta["n_docs"], "index_terms": meta["n_terms"], "shards": meta["n_shards"],
        "queries": n, "query_mix": {k: sum(1 for a in answers if a[0] == k)
                                    for k in ("any", "all", "prefix")},
        "query_terms_working_set": len(sent), "seg_cache_cap_terms": 1024,
        "index_bytes": dir_bytes(index_dir),
    })
    if tr.enabled:
        import maintain

        serve_layers = {
            "fulltext.serve.topk_ms": median(lat) * 1e3,
            "fulltext.serve.seg_cache_terms": len(getattr(ls, "_seg_cache", ())),
        }
        # the write path runs after the timed phase, on the same index;
        # it reads the event log last, so it must come before build_layers
        maintain.run_cycles(ctx, index_dir, N_CORPUS)
        input_bytes = int(corpus_pdf["content"].str.len().sum())
        build_layers(ctx, meta, index_dir, input_bytes)
        total = wand.get("entries_total", 0)
        segs = wand.get("segments_scored", 0) + wand.get("segments_skipped", 0)
        ctx.layers.update(serve_layers)
        # the kernel scores a shard exhaustively while the query's postings
        # union there is at most 2^17 entries; this corpus stays below that
        ctx.shape.update({
            "wand_pruned_query_share": wand.get("queries_pruned", 0) / max(wand.get("queries", 0), 1),
            "wand_max_query_entries": wand.get("max_query_entries", 0),
        })
        ctx.layers.update({
            "spark.session.start_s": start_s,
            "fulltext.wand.entries_scored_frac": wand.get("entries_scored", 0) / total if total else 1.0,
            "fulltext.wand.segments_skipped_frac": wand.get("segments_skipped", 0) / segs if segs else 0.0,
            "fulltext.codecs.decode_ms": decode.seconds * 1e3 / n,
        })
    return {
        "setup_s": setup_s,
        "work_per_s": n / elapsed,
        "latency_ms": median(lat) * 1e3,
        "latency_p90_ms": percentile(lat, 90) * 1e3,
    }
