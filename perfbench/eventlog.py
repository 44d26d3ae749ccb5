"""Spark event log → per-span job / stage / task table.

Reads the uncompressed event log a traced run writes
(``spark.eventLog.compress=false``; Spark 4 writes a directory of rolling
``events_*`` files) and attributes every job to the span that was open
when it started, through the ``spark.jobGroup.id`` the tracer sets
(``span-<index>``).

    python3 perfbench/eventlog.py <event-log-dir>   # prints the table
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from dataclasses import dataclass, field

# task-level SQL metrics of the Arrow boundary (mapInPandas / applyInPandas)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"  # ms
PY_START = "time to start Python workers"  # ms


@dataclass
class Usage:
    """Totals over the tasks of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    input_b: int = 0
    output_b: int = 0
    py_sent_b: int = 0
    py_recv_b: int = 0
    py_run_s: float = 0.0
    py_start_s: float = 0.0
    stage_skew: list = field(default_factory=list)  # max/median task time per stage

    def add(self, o: "Usage") -> None:
        for k, v in vars(o).items():
            if k == "stage_skew":
                self.stage_skew.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def _apps(path: str) -> list[list[str]]:
    """Event files grouped by application: Spark 4 writes one directory of
    rolling ``events_*`` files per application (an older layout writes
    one file per application)."""
    apps = []
    for entry in sorted(os.listdir(path)):
        p = os.path.join(path, entry)
        if os.path.isdir(p):
            apps.append(sorted(os.path.join(p, f) for f in os.listdir(p)
                               if f.startswith("events_")))
        elif not entry.startswith("."):
            apps.append([p])
    return apps


def _app_tasks(files: list[str]):
    """(job → group, stage → job, stage → per-task tuples) of one app."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[tuple]] = {}
    for fn in files:
        with open(fn) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    job_group[e["Job ID"]] = props.get("spark.jobGroup.id") or "-"
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    ti = e["Task Info"]
                    acc = {a["Name"]: a.get("Update") for a in ti.get("Accumulables", [])}
                    sr = tm.get("Shuffle Read Metrics", {})
                    tasks.setdefault(e["Stage ID"], []).append((
                        tm.get("Executor Run Time", 0) / 1e3,
                        tm.get("Executor CPU Time", 0) / 1e9,
                        tm.get("JVM GC Time", 0) / 1e3,
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                        tm.get("Input Metrics", {}).get("Bytes Read", 0),
                        tm.get("Output Metrics", {}).get("Bytes Written", 0),
                        int(acc.get(PY_SENT) or 0),
                        int(acc.get(PY_RECV) or 0),
                        int(acc.get(PY_RUN) or 0) / 1e3,
                        int(acc.get(PY_START) or 0) / 1e3,
                        (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                    ))
    return job_group, stage_job, tasks


def parse(path: str) -> dict[str, Usage]:
    """Job group → Usage, plus ``"*"`` for every job. Span job groups are
    unique across the applications of one run, so they are summed."""
    out: dict[str, Usage] = {"*": Usage()}
    for files in _apps(path):
        job_group, stage_job, tasks = _app_tasks(files)
        seen_jobs: dict[str, set] = {}
        for stage, ts in tasks.items():
            job = stage_job.get(stage)
            group = job_group.get(job, "-")
            u = Usage(stages=1, tasks=len(ts))
            (u.run_s, u.cpu_s, u.gc_s, u.shuffle_write_b, u.shuffle_read_b, u.spill_b,
             u.input_b, u.output_b, u.py_sent_b, u.py_recv_b, u.py_run_s, u.py_start_s) = (
                sum(t[i] for t in ts) for i in range(12))
            durs = [t[12] for t in ts]
            med = statistics.median(durs)
            u.stage_skew.append(max(durs) / med if med > 0 else 1.0)
            for g in (group, "*"):
                out.setdefault(g, Usage()).add(u)
        # jobs that ran no task (e.g. answered from metadata) still count
        for job, group in job_group.items():
            for g in (group, "*"):
                seen_jobs.setdefault(g, set()).add(job)
        for g, jobs in seen_jobs.items():
            out.setdefault(g, Usage()).jobs += len(jobs)
    return out


def span_usage(usage: dict[str, Usage], span_ids) -> Usage:
    """Sum of the jobs started under any of the given span indexes."""
    total = Usage()
    for sid in span_ids:
        u = usage.get(f"span-{sid}")
        if u is not None:
            total.add(u)
    return total


def print_table(usage: dict[str, Usage], file=sys.stdout) -> None:
    cols = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shufW_MB", "shufR_MB",
            "spill_MB", "py_sent_MB", "py_recv_MB", "py_run_s", "py_start_s", "skew_max")
    print("# " + f"{'job group':28s}" + "".join(f"{c:>11s}" for c in cols), file=file)
    for g, u in sorted(usage.items()):
        mb = 2**20
        vals = (u.jobs, u.stages, u.tasks, u.run_s, u.cpu_s, u.gc_s, u.shuffle_write_b / mb,
                u.shuffle_read_b / mb, u.spill_b / mb, u.py_sent_b / mb, u.py_recv_b / mb,
                u.py_run_s, u.py_start_s, max(u.stage_skew, default=0.0))
        print("# " + f"{g[:28]:28s}" + "".join(
            f"{v:11d}" if isinstance(v, int) else f"{v:11.3f}" for v in vals), file=file)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: eventlog.py <event-log-dir>")
    print_table(parse(sys.argv[1]))
