"""Per-layer table of a traced run.

Turns the tracer's spans and the Spark event log into the per-layer
metrics named in BENCHMARK.json, prints self time per layer, the event-log
table per span name, and the tracing overhead against the last untraced
run of the same workload in this checkout.
"""

from __future__ import annotations

import json
import os

import eventlog
from common import median

# span names are "<layer>" or "<layer>:<call>"
LAYERS = ("spark.session", "normalize", "engine.builder", "engine.compiled",
          "spark.percolate", "fulltext.indexer", "fulltext.query", "fulltext.serve")


def _span_usage(ctx, usage, pred) -> list:
    """Event-log usage of each span matching ``pred``, in span order."""
    return [(s, eventlog.span_usage(usage, [i]))
            for i, s in enumerate(ctx.tracer.spans) if pred(s)]


def percolate_layers(ctx, kernel_s: float) -> None:
    """spark.percolate.* from the timed passes' jobs; ``kernel_s`` is the
    driver-side kernel time of one pass's batches."""
    usage = spark_usage(ctx)
    passes = _span_usage(ctx, usage, lambda s: s.name == "spark.percolate" and s.op is not None)
    cores = ctx.cpus
    ctx.layers.update({
        "spark.percolate.tasks_per_pass": median([u.tasks for _, u in passes]),
        "spark.percolate.core_util": sum(u.run_s for _, u in passes)
        / (sum(s.dur for s, _ in passes) * cores),
        "spark.percolate.python_run_s": median([u.py_run_s for _, u in passes]),
        "spark.percolate.bytes_to_python": median([u.py_sent_b for _, u in passes]),
        "spark.percolate.bytes_from_python": median([u.py_recv_b for _, u in passes]),
        "spark.percolate.jvm_gc_s": median([u.gc_s for _, u in passes]),
        "spark.percolate.task_time_max_over_median":
            median([max(u.stage_skew, default=1.0) for _, u in passes]),
        "spark.percolate.overhead_s": median([s.dur for s, _ in passes]) - kernel_s / cores,
    })


def spark_usage(ctx) -> dict:
    usage = getattr(ctx, "usage", None)
    if usage is None:
        usage = ctx.usage = eventlog.parse(ctx.events_dir)
    return usage


def jobs_per(ctx, name: str, only: set | None = None) -> float:
    """Median Spark jobs started under each span called ``name`` (or,
    given ``only``, under those of its spans whose index is in it)."""
    usage = spark_usage(ctx)
    return median([eventlog.span_usage(usage, [i]).jobs for i, s in enumerate(ctx.tracer.spans)
                   if s.name == name and (only is None or i in only)])


def shuffle_write_mb(ctx, name: str) -> float:
    usage = spark_usage(ctx)
    return median([u.shuffle_write_b / 2**20
                   for _, u in _span_usage(ctx, usage, lambda s: s.name == name)])


def output_bytes(ctx, name: str) -> int:
    """Bytes Spark tasks wrote under all spans called ``name``."""
    usage = spark_usage(ctx)
    return sum(u.output_b for _, u in _span_usage(ctx, usage, lambda s: s.name == name))


def self_time_by_layer(ctx) -> dict[str, float]:
    out = {layer: 0.0 for layer in LAYERS}
    for name, t in ctx.tracer.self_times().items():
        layer = name.split(":")[0]
        out[layer] = out.get(layer, 0.0) + t
    return out


def print_layers(ctx, e2e: dict, last_path: str, units: dict) -> None:
    print("# --- per-layer self time (s, summed over spans) ---")
    for layer, t in self_time_by_layer(ctx).items():
        ctx.layers.setdefault(f"{layer}.self_s", t)
        print(f"# {layer:24s} {t:10.3f}")
    if ctx.events_dir and os.path.isdir(ctx.events_dir):
        usage = spark_usage(ctx)
        names = {f"span-{i}": s.name for i, s in enumerate(ctx.tracer.spans)}
        # one row per span name: sum the usage of its spans
        by_name: dict[str, eventlog.Usage] = {}
        for g, u in usage.items():
            by_name.setdefault(names.get(g, g), eventlog.Usage()).add(u)
        print("# --- Spark jobs / stages / tasks by span ---")
        eventlog.print_table(by_name)
    print("# --- per-layer metrics ---")
    for k in sorted(ctx.layers):
        print(f"# {k:48s} {ctx.layers[k]:16.6f}")
    print("# --- tracing overhead (traced vs last untraced run of this workload) ---")
    base = None
    if os.path.exists(last_path):
        with open(last_path) as f:
            base = json.load(f)
    for k, v in e2e.items():
        if base and k in base["e2e"]:
            b = base["e2e"][k]
            ratio = f"ratio {v / b:7.3f}" if b else "ratio     n/a"
            print(f"# {k:16s} traced {v:12.4f} untraced {b:12.4f} {units[k]:9s} "
                  f"{ratio} (untraced seed {base['seed']})")
        else:
            print(f"# {k:16s} traced {v:12.4f} {units[k]} (no untraced run recorded)")
