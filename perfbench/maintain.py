"""Index maintenance phase of the traced ``search_serve`` run.

The search engine's write path with reads in between, run on the index
the workload built, after its timed serve phase. Two ingest cycles, each
``append_index`` (a batch of new files) → ``delete_docs`` (~1% of live
docs) → reopen ``Bm25Index`` + ``topk_many`` → reopen ``LocalSearcher`` +
its first (cold-cache) queries → ``maybe_compact(every_appends=2)`` (fires
on the second cycle). Answer checks: after each write both tiers return
identical ranks, and ``n_docs`` after the compaction equals the survivor
count.

This is not a workload of its own: a run of it costs ~60 s on a 4-vCPU
box (Spark start, base build, two cycles at ~7-14 s each), which does not
fit the benchmark's time budget beside the other workloads. Its layers
(``fulltext.indexer`` append / delete / compact, ``fulltext.query``,
the cold ``fulltext.serve`` path) are measured here instead.
"""

from __future__ import annotations

import os

import numpy as np

import gen
import report
from common import median, start_spark, stop_spark

BATCH = 100
CYCLES = 2
DELETE_FRAC = 0.01
N_QUERIES = 8  # topk_many batch; the serve tier answers the first COLD_QUERIES
COLD_QUERIES = 3
K = 10


def run_cycles(ctx, index_dir: str, n_base: int) -> None:
    from pyspark.sql import functions as F

    from koncorde_spark.fulltext.indexer import (
        append_index, delete_docs, doc_id_of, maybe_compact)
    from koncorde_spark.fulltext.query import Bm25Index
    from koncorde_spark.fulltext.serve import LocalSearcher
    from koncorde_spark.sources import synthetic_corpus_df

    tr = ctx.tracer
    rng = np.random.default_rng([ctx.seed, 5])
    log = gen.query_log(ctx.seed + 1, CYCLES * N_QUERIES)
    batches_path = os.path.join(ctx.work, "ingest")
    spark, _ = start_spark(ctx)
    try:
        # the ingest batches are the corpus generator's rows after the base
        # ones; the generator names row i "…/file_<i>.<ext>"
        row = F.regexp_extract("path", r"file_(\d+)\.", 1).cast("long")
        synthetic_corpus_df(spark, n_base + CYCLES * BATCH, ctx.seed, partitions=ctx.cpus) \
            .withColumn("row", row).where(F.col("row") >= n_base).write.parquet(batches_path)
        new = spark.read.parquet(batches_path)
        rows = new.select("row", "repo", "path", "commit",
                          F.length("content").alias("chars")).toPandas().set_index("row").sort_index()
        rows["doc_id"] = [doc_id_of(r, p, c) for r, p, c in zip(rows.repo, rows.path, rows.commit)]
        live = set(_base_doc_ids(spark, index_dir))

        written_bytes, cycles = 0, []
        for c in range(CYCLES):
            tr.op = c
            lo = n_base + c * BATCH
            batch = new.where((F.col("row") >= lo) & (F.col("row") < lo + BATCH)).drop("row")
            victims = sorted(rng.choice(sorted(live), max(1, int(len(live) * DELETE_FRAC)),
                                        replace=False).tolist())
            queries = {f"q{j}": q for j, (kind, q) in
                       enumerate(log[c * N_QUERIES:(c + 1) * N_QUERIES]) if kind != "prefix"}
            with tr.span("fulltext.indexer:append"):
                append_index(spark, batch, index_dir)
            with tr.span("fulltext.indexer:delete"):
                delete_docs(spark, index_dir, victims)
            with tr.span("fulltext.query:open"):
                bi = Bm25Index(spark, index_dir)
            with tr.span("fulltext.query:topk_many"):
                spark_hits = bi.topk_many(queries, K).toPandas()
            bi.close()
            with tr.span("fulltext.serve:open"):
                ls = LocalSearcher(index_dir)
            serve_hits = {}
            for qid in list(queries)[:COLD_QUERIES]:
                with tr.span("fulltext.serve:first_query"):
                    serve_hits[qid] = ls.topk(queries[qid], K)
            with tr.span("fulltext.indexer:compact"):
                compacted = maybe_compact(spark, index_dir, every_appends=2)
            written_bytes += int(rows["chars"].loc[lo:lo + BATCH - 1].sum())
            live |= set(rows["doc_id"].loc[lo:lo + BATCH - 1].tolist())
            live -= set(victims)
            cycles.append((spark_hits, serve_hits, compacted, len(live)))
        tr.op = None
    finally:
        stop_spark(ctx, spark)

    for i, (spark_hits, serve_hits, compacted, survivors) in enumerate(cycles):
        for qid, hits in serve_hits.items():
            sh = spark_hits[spark_hits.query_id == qid].sort_values(
                ["score", "doc_id"], ascending=[False, True])
            ok = (sh["doc_id"].tolist() == [d for d, _ in hits]
                  and sh["score"].tolist() == [s for _, s in hits])
            ctx.check(f"maintain cycle {i} {qid}: Bm25Index ranks == LocalSearcher", ok)
        if compacted is not None:
            ctx.check(f"maintain cycle {i}: n_docs after compaction == survivors",
                      compacted["n_docs"] == survivors,
                      f"{compacted['n_docs']} vs {survivors}")

    def durs(name, keep=lambda i: True):
        return [s.dur for i, s in enumerate(tr.spans) if s.name == name and keep(i)]

    fired = {i for i, s in enumerate(tr.spans)
             if s.name == "fulltext.indexer:compact" and cycles[s.op][2] is not None}
    ctx.shape["maintain"] = {"batch_docs": BATCH, "cycles": CYCLES, "delete_frac": DELETE_FRAC,
                             "compactions": len(fired), "queries_per_cycle": N_QUERIES}
    ctx.layers.update({
        "fulltext.indexer.append_s": median(durs("fulltext.indexer:append")),
        "fulltext.indexer.delete_s": median(durs("fulltext.indexer:delete")),
        "fulltext.indexer.compact_s": median(durs("fulltext.indexer:compact", fired.__contains__)),
        "fulltext.indexer.jobs_per_append": report.jobs_per(ctx, "fulltext.indexer:append"),
        "fulltext.indexer.jobs_per_compact": report.jobs_per(ctx, "fulltext.indexer:compact", fired),
        "fulltext.indexer.bytes_written_per_input_byte":
            report.output_bytes(ctx, "fulltext.indexer:append") / written_bytes,
        "fulltext.query.open_s": median(durs("fulltext.query:open")),
        "fulltext.query.topk_many_ms": median(durs("fulltext.query:topk_many")) * 1e3,
        "fulltext.query.jobs_per_query": report.jobs_per(ctx, "fulltext.query:topk_many"),
        "fulltext.serve.open_ms": median(durs("fulltext.serve:open")) * 1e3,
        "fulltext.serve.first_query_ms": median(durs("fulltext.serve:first_query")) * 1e3,
    })


def _base_doc_ids(spark, index_dir: str) -> list[int]:
    return [int(r[0]) for r in spark.read.parquet(os.path.join(index_dir, "docs"))
            .select("doc_id").collect()]
