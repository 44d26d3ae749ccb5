"""filter_churn: Kuzzle-style live subscriptions, driver only (no Spark).

Set-up (repeated, median taken): generate the live filter set and the doc
batches, register the set on a fresh ``Koncorde`` and force the first
compile. Timed phase: one client in a closed loop; each op is one mutation
(register a new filter or remove a live one, alternating) followed by
``test_many`` on a 64-doc batch. The match is part of the op because
``FilterEngine.compiled`` is lazy: a loop that never matched would never
recompile. Answer check: sampled ops' ``test_many`` results equal the
DuckDB twin over the live set of that moment.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

import gen
from common import median, percentile, percolation_twin

N_LIVE = 1_000
BATCH = 64
N_BATCHES = 40
SETUP_REPS = 9
SAMPLE_EVERY = 24  # ops whose answers are checked against the twin
WORK_UNIT = "ops/s"


def _setup(seed: int):
    """A fresh Koncorde holding the live set, compiled, and the doc batches
    (as frames for the twin and as row dicts for ``test_many``)."""
    from koncorde_spark import Koncorde

    k = Koncorde()
    for _, f in gen.filter_set(seed, N_LIVE, gen.CHURN_MIX):
        k.register(f)
    k.compiled()
    frames = [gen.event_docs(seed, BATCH, id_base=i * BATCH) for i in range(N_BATCHES)]
    return k, frames, [gen.event_dicts(f) for f in frames]


def _twin(docs_df, dnfs: dict, cpus: int) -> list[list[str]]:
    import duckdb

    con = duckdb.connect(config={"threads": cpus})
    try:
        con.execute("SET enable_progress_bar = false")
        # via arrow: NaN latencies become NULL, as in the parquet path
        con.register("docs", pa.Table.from_pandas(docs_df.drop(columns=["lat", "lon"]),
                                                  preserve_index=False))
        rows = percolation_twin(con, dnfs, "docs")
    finally:
        con.close()
    base = int(docs_df["doc_id"].iloc[0])
    out: list[list[str]] = [[] for _ in range(len(docs_df))]
    for d, f in rows:
        out[int(d) - base].append(f)
    return [sorted(x) for x in out]


def run(ctx) -> dict:
    tr = ctx.tracer
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        k, frames, batches = _setup(ctx.seed)
        reps.append(time.perf_counter() - t0)
    setup_s = median(reps)
    stream = gen.churn_stream(ctx.seed)

    engine = k.engines[None]
    lat, samples = [], []
    compile_s, test_s, compiles, n_pairs = 0.0, 0.0, 0, 0
    compiled = k.compiled()
    ctx.begin_timed()
    t_run = time.perf_counter()
    op = 0
    while time.perf_counter() - t_run < ctx.seconds:
        tr.op = op
        docs = batches[op % N_BATCHES]
        new_filter, draw = next(stream)
        if op % 2:
            live = sorted(engine.filters)
            victim = live[int(draw * len(live))]
        t0 = time.perf_counter()
        if op % 2 == 0:
            with tr.span("normalize"):
                nf = k.normalize(new_filter)
            with tr.span("engine.builder:store"):
                k.store(nf)
        else:
            with tr.span("engine.builder:remove"):
                k.remove(victim)
        # test_many would compile lazily; calling compiled() first times it
        with tr.span("engine.builder:compile"):
            tc = time.perf_counter()
            ci = k.compiled()
            if ci is not compiled:
                compiles += 1
                compile_s += time.perf_counter() - tc
            compiled = ci
        with tr.span("engine.compiled"):
            tt = time.perf_counter()
            res = k.test_many(docs)
            test_s += time.perf_counter() - tt
        lat.append(time.perf_counter() - t0)
        if op % SAMPLE_EVERY == 0:
            samples.append((op % N_BATCHES, dict(engine.filters), res))
        n_pairs += sum(map(len, res))
        op += 1
    elapsed = time.perf_counter() - t_run
    tr.op = None
    ctx.end_timed()

    for bi, dnfs, res in samples:
        want = _twin(frames[bi], dnfs, ctx.cpus)
        ok = [sorted(r) for r in res] == want
        ctx.check(f"sampled test_many (batch {bi}, {len(dnfs)} live)", ok)
    ctx.attempted += op  # every op returned; wrong answers are the checks above

    ctx.shape.update({
        "live_filters": len(engine.filters), "batch_docs": BATCH, "ops": op,
        "keyword_mix": gen.describe_filters(gen.filter_set(ctx.seed, N_LIVE, gen.CHURN_MIX)),
        "pairs_per_doc": round(n_pairs / (op * BATCH), 4), "checked_ops": len(samples),
    })
    if tr.enabled:
        norm = tr.by_name("normalize")
        dnfs = engine.filters.values()
        op_s = sum(lat)
        ctx.layers.update({
            "normalize.ms_per_filter": median([s.dur for s in norm]) * 1e3,
            "normalize.subfilters_per_filter": float(np.mean([len(d) for d in dnfs])),
            "normalize.conditions_per_filter": float(np.mean([sum(map(len, d)) for d in dnfs])),
            "engine.builder.compile_ms": compile_s * 1e3 / max(compiles, 1),
            "engine.builder.compiles_per_op": compiles / op,
            "engine.builder.share_of_op": compile_s / op_s,
            "engine.compiled.match_ms_per_kdoc": test_s * 1e6 / (op * BATCH),
            "engine.compiled.pairs_per_doc": n_pairs / (op * BATCH),
        })
    return {
        "setup_s": setup_s,
        "work_per_s": op / elapsed,
        "latency_ms": median(lat) * 1e3,
        "latency_p90_ms": percentile(lat, 90) * 1e3,
    }
