"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints a readable summary, then, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Exits non-zero
without a result when the program cannot be imported or a workload
raises. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("percolate_scan", "filter_churn", "search_serve")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _prepare_env(cpus: int, work: str) -> None:
    # the program and Spark's Python workers import koncorde_spark from
    # this checkout; scratch files stay inside the checkout
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in ("TMPDIR", "TEMP", "TMP"):
        os.environ[k] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _load_spec()
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _prepare_env(cpus, work)
        try:
            import koncorde_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
            return 2
        return _run(args, spec, cpus, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, cpus, base, work) -> int:
    import importlib

    from common import Ctx, Tracer

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(seed=args.seed, seconds=args.seconds, work=work, tracer=tracer, cpus=cpus,
              events_dir=os.path.join(work, "events") if args.trace else None)
    mod = importlib.import_module(f"w_{args.workload}")
    t0 = time.perf_counter()
    e2e = mod.run(ctx)
    if not ctx.peak_rss_mb:
        raise RuntimeError(f"w_{args.workload} never called ctx.end_timed()")
    e2e["peak_rss_mb"] = ctx.peak_rss_mb
    e2e["error_rate"] = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    wall = time.perf_counter() - t0
    correct = ctx.attempted > 0 and ctx.failed == 0

    # summary units: BENCHMARK.json's, with work_per_s named per workload
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    units.update(work_per_s=mod.WORK_UNIT, latency_p90_ms=units["latency_ms"],
                 error_rate="ratio")
    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace} cpus {cpus} wall {wall:.1f}s")
    print("# input shape: " + json.dumps(ctx.shape, sort_keys=True))
    for name, ok, detail in ctx.checks:
        if not ok:
            print(f"# CHECK FAILED {name}: {detail}")
    print(f"# checks: {ctx.attempted - ctx.failed}/{ctx.attempted} passed")
    for k in ("setup_s", "work_per_s", "latency_ms", "latency_p90_ms", "peak_rss_mb", "error_rate"):
        if k in e2e:
            print(f"# {k:16s} {e2e[k]:14.4f} {units[k]}")

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    last = os.path.join(results, f"{args.workload}.json")
    if args.trace:
        import report

        report.print_layers(ctx, e2e, last, units)
        metrics = {m["name"]: {"value": float(ctx.layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        with open(last, "w") as f:
            json.dump({"seed": args.seed, "e2e": e2e}, f)
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
