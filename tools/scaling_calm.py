"""Calm-window scaling protocol (VERDICT r4 #2).

tools/scaling.py interleaves repeats and explains noisy legs post-hoc via
per-run /proc/stat steal windows; this tool inverts the logic: it only
ATTEMPTS a run when a short pre-check window shows the box is calm, and
only KEEPS repeats whose own full-run window had steal below the clean
threshold (default 0.02 — the r4 artifacts showed clean 32-way legs at
0.016 steal vs pathological ones at 0.148/0.156). The result is the
steal-clean pinned reading the r4 verdict asked for: either a clean
local[32] repeat reaches >=0.8 of the same-session probe ceiling, or the
box demonstrably cannot express 4N for any workload.

Runs are pinned (taskset 0..N-1) so "N" means N physical cores; all
levels share one probe baseline (bwprobe.single_baseline) per session.

Usage: python tools/scaling_calm.py [n_rows] [max_minutes]
Env:   CALM_TARGET_CLEAN (default 2) clean repeats wanted per level
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
# the checkout this script belongs to, so a copy of the repo measures itself
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# exported too, so Spark's Python workers and child processes import it
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

from bwprobe import cpu_window, probe, read_cpu_stat, single_baseline
from scaling import run_subprocess

LEVELS = (8, 16, 32)
CLEAN_THRESH = 0.02
PRE_THRESH = 0.03


def steal_now(window_s: float = 4.0) -> dict:
    a = read_cpu_stat()
    time.sleep(window_s)
    return cpu_window(a, read_cpu_stat())


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 240000
    max_minutes = float(sys.argv[2]) if len(sys.argv) > 2 else 45.0
    target_clean = int(os.environ.get("CALM_TARGET_CLEAN", "2"))
    deadline = time.time() + max_minutes * 60

    baseline = single_baseline()
    out: dict = {
        "protocol": "calm-window (r5)",
        "n_rows": n_rows,
        "pinned": True,
        "clean_thresh": CLEAN_THRESH,
        "pre_thresh": PRE_THRESH,
        "probe_baseline_rep_sec": round(baseline, 4),
        "all_runs": [],
        "skipped_windows": 0,
    }
    clean: dict[int, list[dict]] = {n: [] for n in LEVELS}

    while time.time() < deadline and any(
        len(clean[n]) < target_clean for n in LEVELS
    ):
        # neediest level first; ties → smallest (cheapest to retry)
        n = min(LEVELS, key=lambda x: (len(clean[x]), x))
        w = steal_now()
        if w["steal_frac"] is None or w["steal_frac"] >= PRE_THRESH:
            out["skipped_windows"] += 1
            print(f"# skip: pre-window steal {w['steal_frac']}", file=sys.stderr)
            time.sleep(20)
            continue
        r = run_subprocess(n, n_rows, pinned=True)
        sf = (r.get("cpu_window") or {}).get("steal_frac")
        is_clean = sf is not None and sf < CLEAN_THRESH
        out["all_runs"].append(
            {
                "cpus": n,
                "sec": r["sec"],
                "files_per_sec": r["files_per_sec"],
                "steal_frac": sf,
                "clean": is_clean,
                "stages": r.get("stages"),
            }
        )
        print(
            f"# run cpus={n} sec={r['sec']} steal={sf} clean={is_clean}",
            file=sys.stderr,
        )
        if is_clean:
            clean[n].append(r)
        time.sleep(10)

    out["clean_counts"] = {str(n): len(clean[n]) for n in LEVELS}
    # probe ceilings measured now, against the same session baseline
    out["probe"] = {f"p{n}": probe(n, baseline=baseline) for n in LEVELS}

    best = {
        n: max((r["files_per_sec"] for r in clean[n]), default=None)
        for n in LEVELS
    }
    out["best_clean_files_per_sec"] = {str(n): best[n] for n in LEVELS}
    lo, mid, hi = LEVELS
    if best[lo] and best[mid]:
        out["scaling_efficiency_N_to_2N"] = round(best[mid] / best[lo] / 2.0, 3)
    if best[lo] and best[hi]:
        out["scaling_efficiency_N_to_4N"] = round(best[hi] / best[lo] / 4.0, 3)
    eff = {n: out["probe"][f"p{n}"]["efficiency"] for n in LEVELS}
    if eff[lo] and eff[hi]:
        ceil4 = (hi * eff[hi]) / (lo * eff[lo]) / 4.0
        out["box_ceiling_N_to_4N"] = round(ceil4, 3)
        if out.get("scaling_efficiency_N_to_4N") is not None:
            out["normalized_efficiency_N_to_4N"] = round(
                out["scaling_efficiency_N_to_4N"] / ceil4, 3
            )
    if eff[lo] and eff[mid]:
        ceil2 = (mid * eff[mid]) / (lo * eff[lo]) / 2.0
        out["box_ceiling_N_to_2N"] = round(ceil2, 3)
        if out.get("scaling_efficiency_N_to_2N") is not None:
            out["normalized_efficiency_N_to_2N"] = round(
                out["scaling_efficiency_N_to_2N"] / ceil2, 3
            )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
