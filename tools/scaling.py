"""Scaling-efficiency evidence for BENCH/BASELINE.md.

BASELINE.json demands throughput scaling efficiency >= 0.8 from N to 4N
executors; no real cluster exists in this sandbox, so per the driver's
instruction we run the SAME index-build job at two parallelism levels on
the SAME input and report throughput at both plus the efficiency
((files_sec_4N / files_sec_N) / 4).

Methodology notes (all deliberate):
- **CPU pinning (opt-in via --pinned)**: pinned runs execute under
  `taskset -c 0..N-1`, making "N" mean N physical cores like a real
  N-core executor. The DEFAULT (driver-methodology) run is UNPINNED:
  local[8]'s 8 JVM task threads and 8 python workers can spread over
  all host cores — both readings are reported in BENCH/BASELINE.md.
- **Warm-up build** per session: python-worker fork + numpy import is a
  per-executor one-time cost, zero on a long-lived cluster.
- **Interleaved best-of-2** (8,32,8,32) with cool-downs: this VM's
  shared vCPUs drift; interleaving decorrelates the drift from the
  config, min-of-runs estimates the machine-limited throughput.

Usage: python tools/scaling.py [n_rows] [N]      (default 240000, N=8 → N vs 4N)
       python tools/scaling.py --single N n_rows (internal, pinned child)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

# the checkout this script belongs to, so a copy of the repo measures itself
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# exported too, so Spark's Python workers and child processes import it
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def run_single(cpus: int, n_rows: int) -> dict:
    from koncorde_spark.spark import get_spark
    from koncorde_spark.sources import synthetic_corpus_df
    from koncorde_spark.fulltext.indexer import IndexConfig, build_index

    spark = get_spark(
        app_name=f"koncorde-scaling-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # 64 input splits for BOTH configs: identical data, identical splits
    corpus = synthetic_corpus_df(spark, n_rows=n_rows, seed=42, partitions=64).cache()
    corpus.count()
    out = f"/tmp/koncorde_scaling_{cpus}"
    shutil.rmtree(out + "_warm", ignore_errors=True)
    warm = synthetic_corpus_df(spark, n_rows=512, seed=1, partitions=64)
    build_index(spark, warm, out + "_warm", IndexConfig(n_shards=32), resume=False)

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    # n_shards fixed at 32 for both (a data-layout property of the index)
    build_index(spark, corpus, out, IndexConfig(n_shards=32), resume=False)
    dt = time.time() - t0
    spark.stop()
    metrics = {}
    try:
        with open(os.path.join(out, "meta.json")) as f:
            metrics = {k: round(v, 1) for k, v in json.load(f)["metrics"].items()}
    except OSError:
        pass
    return {"cpus": cpus, "sec": round(dt, 2),
            "files_per_sec": round(n_rows / dt, 1), "stages": metrics}


def run_subprocess(cpus: int, n_rows: int, pinned: bool) -> dict:
    from bwprobe import cpu_window, read_cpu_stat

    cmd = []
    if pinned:
        cmd += ["taskset", "-c", f"0-{cpus - 1}"]
    cmd += [sys.executable, os.path.abspath(__file__), "--single", str(cpus), str(n_rows)]
    stat0 = read_cpu_stat()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=3600)
    window = cpu_window(stat0, read_cpu_stat())
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"child run (cpus={cpus}) failed rc={proc.returncode}:\n"
            + proc.stderr[-4000:]
        )
    out = json.loads(lines[-1])
    # hypervisor steal fraction observed across this exact run window —
    # a high value explains a slow run as box theft, not a plan defect
    out["cpu_window"] = window
    return out


def run_protocol(
    n_rows: int,
    base_n: int = 8,
    repeats: int = 2,
    pinned: bool = False,
    with_probe: bool = True,
) -> dict:
    """Full hardened protocol (VERDICT r2 'Next round' #2).

    - Spark-free memory-bandwidth probes (tools/bwprobe.py) run BEFORE and
      AFTER the Spark runs at base_n/2N/4N concurrency, so every efficiency
      number ships with the box health observed in the same session. The
      probe is the scaling CEILING of this shared-bandwidth VM: a Spark job
      cannot scale better than concurrent plain-Python processes do.
    - N→2N is reported alongside N→4N (less bandwidth-coupled).
    - Per-stage timings (docs/postings/terms) surfaced per config.
    - Raw efficiency AND the probe-normalized ratio (raw / box ceiling)
      are both reported; the raw number is what a calm box would gate on,
      the normalized one detects box degradation rather than job defects.
    """
    from bwprobe import probe, single_baseline  # tools/ sibling

    mid_n, hi_n = base_n * 2, base_n * 4
    out: dict = {"n_rows": n_rows, "pinned": pinned}
    baseline = None
    if with_probe:
        # ONE per-rep single-process baseline (min-of-3) for the whole
        # session: every window's efficiency is scored against the same
        # scale, so a stalled single leg cannot invert any ratio
        baseline = single_baseline()
        out["probe_baseline_rep_sec"] = round(baseline, 4)
        out["bandwidth_probe_before"] = {
            f"p{n}": probe(n, baseline=baseline) for n in (base_n, mid_n, hi_n)
        }
    order = (base_n, mid_n, hi_n) * repeats  # interleaved best-of-k
    results: dict[int, dict] = {}
    all_runs: list[dict] = []
    for cpus in order:
        time.sleep(10)
        r = run_subprocess(cpus, n_rows, pinned)
        if with_probe:
            # box-health snapshot in the SAME window as this run, at this
            # run's concurrency — the normalization source below
            r["probe"] = probe(cpus, reps=15, baseline=baseline)
        all_runs.append(
            {"cpus": cpus, "sec": r["sec"], "cpu_window": r.get("cpu_window"),
             "stages": r.get("stages")}
        )
        if cpus not in results or r["sec"] < results[cpus]["sec"]:
            results[cpus] = r
    # every repeat, in execution order, with its steal window — the 32-way
    # legs are BIMODAL on this VM (identical work: ~27 s or 68-96 s);
    # best-of-k picks the machine-limited number, this list shows why
    out["all_runs"] = all_runs
    if with_probe:
        out["bandwidth_probe_after"] = {
            f"p{n}": probe(n, baseline=baseline) for n in (base_n, hi_n)
        }
    r_lo, r_mid, r_hi = results[base_n], results[mid_n], results[hi_n]
    out[f"local{base_n}"] = r_lo
    out[f"local{mid_n}"] = r_mid
    out[f"local{hi_n}"] = r_hi
    out["stage_timings"] = {
        f"local{n}": results[n].get("stages", {}) for n in (base_n, mid_n, hi_n)
    }
    eff4 = (r_hi["files_per_sec"] / r_lo["files_per_sec"]) / 4.0
    eff2 = (r_mid["files_per_sec"] / r_lo["files_per_sec"]) / 2.0
    out["scaling_efficiency_N_to_4N"] = round(eff4, 3)
    out["scaling_efficiency_N_to_2N"] = round(eff2, 3)
    if with_probe:
        # box ceiling: max throughput ratio perfectly-parallel work could
        # reach between the two concurrency levels, using the probe taken
        # in the SAME window as the best run of each config (falls back to
        # the protocol-level before-probe if a run carries none)
        def _eff(n):
            p = results[n].get("probe") or out["bandwidth_probe_before"][f"p{n}"]
            return p["efficiency"]

        e_lo, e_mid, e_hi = (_eff(n) for n in (base_n, mid_n, hi_n))
        ceil4 = (hi_n * e_hi) / (base_n * e_lo) / 4.0
        ceil2 = (mid_n * e_mid) / (base_n * e_lo) / 2.0
        out["box_ceiling_N_to_4N"] = round(ceil4, 3)
        out["box_ceiling_N_to_2N"] = round(ceil2, 3)
        out["normalized_efficiency_N_to_4N"] = round(eff4 / ceil4, 3) if ceil4 else None
        out["normalized_efficiency_N_to_2N"] = round(eff2 / ceil2, 3) if ceil2 else None
    return out


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "--single":
        print(json.dumps(run_single(int(sys.argv[2]), int(sys.argv[3]))))
        return
    args = [a for a in sys.argv[1:] if a != "--pinned"]
    # default (driver methodology): UNPINNED local[8] vs local[16]/local[32].
    # --pinned restricts each run to exactly N physical cores — stricter,
    # but couples both configs to ONE memory bus, which a real N→4N
    # cluster doesn't have; see BENCH/BASELINE.md for both readings.
    pinned = "--pinned" in sys.argv
    n_rows = int(args[0]) if args else 240000
    base_n = int(args[1]) if len(args) > 1 else 8
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    print(json.dumps(run_protocol(n_rows, base_n, repeats=2, pinned=pinned)))


if __name__ == "__main__":
    main()
