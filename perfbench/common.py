"""Shared pieces of the benchmark: the run context, the process-tree RSS
sampler, the in-memory span tracer and the Spark session helpers.

Nothing here changes the program: spans are taken around calls into its
public functions, and Spark is configured only through
``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


# ---------------------------------------------------------------------------
# peak RSS of the whole process tree (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name
        rest = stat[stat.rindex(b")") + 2:].split()
        pid, ppid = int(name), int(rest[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(rest[21]) * _PAGE
    total, stack = 0, [root_pid]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, ()))
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the maximum.
    One sample walks /proc in ~2 ms of Python that holds the GIL, so the
    interval stays long enough not to slow the driver-side workloads."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program's public functions.

    Disabled (the untraced run), ``span`` costs one branch. Enabled, each
    span also sets a Spark job group named after its index, so the event
    log parser can attribute jobs, stages and tasks to it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.spark = None  # set once a session exists
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(sp)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(f"span-{sid}", name)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]].name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.by_name(name))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


@dataclass
class Ctx:
    """What a workload gets: its seed, the timed-phase length, a private
    work directory inside the checkout, the tracer and the core count."""

    seed: int
    seconds: float
    work: str
    tracer: Tracer
    cpus: int
    events_dir: str | None = None  # Spark event log dir (traced run only)
    shape: dict = field(default_factory=dict)  # recorded input shape
    layers: dict = field(default_factory=dict)  # per-layer metrics
    checks: list = field(default_factory=list)  # (name, ok, detail)
    attempted: int = 0
    failed: int = 0
    rss: RssSampler | None = None
    peak_rss_mb: float = 0.0

    def begin_timed(self):
        """A workload calls this when its timed phase starts and
        ``end_timed`` when it ends, before its answer checks. ``peak_rss_mb``
        is the peak between the two: what the process tree holds while it
        does the measured work, without set-up's transient memory (the
        index build's JVM in search_serve) or the checks' (DuckDB twin,
        BM25 oracle)."""
        self.rss = RssSampler()
        self.rss.start()

    def end_timed(self):
        self.rss.stop()
        self.peak_rss_mb = self.rss.peak_mb

    def check(self, name: str, ok: bool, detail: str = ""):
        self.checks.append((name, bool(ok), detail))
        self.attempted += 1
        self.failed += 0 if ok else 1


def percolation_twin(con, dnfs: dict, table: str, id_col: str = "doc_id") -> set:
    """(id, filter_id) pairs the DuckDB twins give for ``dnfs`` over
    ``table``: ``percolation_oracle_sql`` for plain filters,
    ``geo_percolation_oracle_sql`` for geo-only ones (the table exposes
    ``lat`` / ``lon``), in chunks that stay under DuckDB's expression
    depth limit."""
    from koncorde_spark.engine.to_sql import percolation_oracle_sql
    from koncorde_spark.geo.oracle import geo_percolation_oracle_sql

    geo = {f for f, d in dnfs.items() if any("geospatial" in c for cl in d for c in cl)}
    fids = sorted(dnfs)
    out: set = set()
    for i in range(0, len(fids), 200):
        chunk = fids[i:i + 200]
        parts = []
        plain = {f: dnfs[f] for f in chunk if f not in geo}
        if plain:
            parts.append(percolation_oracle_sql(plain, table, id_col))
        geo_part = {f: dnfs[f] for f in chunk if f in geo}
        if geo_part:
            parts.append(geo_percolation_oracle_sql(geo_part, table, id_col))
        out.update(map(tuple, con.execute("\nUNION ALL\n".join(parts)).fetchall()))
    return out


def start_spark(ctx: Ctx):
    """One fresh session per run: local[nproc], shuffle partitions = nproc,
    everything else at get_spark's defaults. Scratch space goes to the
    run's work directory; the traced run also writes an uncompressed event
    log. Returns (session, start seconds)."""
    from koncorde_spark.spark.session import get_spark

    local = os.path.join(ctx.work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # SPARK_LOCAL_DIRS (set by run.py) places Spark's scratch space; the
    # JVM's own temp files and perf-data file would otherwise go to /tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    if ctx.events_dir:
        os.makedirs(ctx.events_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.events_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    with ctx.tracer.span("spark.session"):
        spark = get_spark(
            app_name="perfbench", master=f"local[{ctx.cpus}]",
            shuffle_partitions=ctx.cpus, extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
    dt = time.perf_counter() - t0
    ctx.tracer.spark = spark
    return spark, dt


def warm_workers(spark, cpus: int) -> None:
    """Start one Python worker per core before the timed phase (the ~1 s
    per-worker cold start belongs to set-up, not to the first timed op)."""
    import pandas as pd

    def touch(it):
        import koncorde_spark.engine.compiled  # noqa: F401 — warm the import
        for pdf in it:
            yield pd.DataFrame({"id": pdf["id"]})

    spark.range(0, cpus * 8, numPartitions=cpus).mapInPandas(touch, "id long").count()


def stop_spark(ctx: Ctx, spark) -> None:
    """Stop the session and its JVM and wait until the JVM has exited: no
    process outlives the run, the serve tier's memory is its own, and a
    later session starts a fresh JVM. The JVM (and the Python workers it
    forked) exits when its stdin closes."""
    import subprocess

    from pyspark import SparkContext

    ctx.tracer.spark = None
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
