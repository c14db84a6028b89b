"""Shared machinery of the benchmark: statistics, host contention, the
Spark session's life cycle, and the traced run's spans and Spark counters.

Nothing here imports the program at module load, so the helpers can be
tested without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

# ------------------------------------------------------------- statistics
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(len(s), p) - 1]


def _rank(n: int, p: float) -> int:
    # rounded first so 99.9 % of 10,000 is rank 9,990, not 9,991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile's rank."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile that leaves at least MIN_BEYOND of
    n samples beyond it, or None when even the lowest does not."""
    for p in sorted(TAIL_CANDIDATES, reverse=True):
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def geomean(values: list[float]) -> float:
    """Geometric mean: every operation kind moves it in proportion to its
    share, without a median's jumps between the modes of a mixed set."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(statistics.fmean(math.log(v) for v in values))


def latency_summary(ms: list[float]) -> dict:
    """p50, the tail percentile the sample count allows, and the count."""
    out = {"n": len(ms)}
    if not ms:
        return out
    out["p50_ms"] = statistics.median(ms)
    p = tail_percentile(len(ms))
    if p is not None:
        out["tail_p"] = p
        out["tail_ms"] = percentile(ms, p)
        out["beyond_tail"] = samples_beyond(len(ms), p)
    return out


# ------------------------------------------------------- host contention
def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostSampler:
    """Host contention over an interval, from /proc/stat deltas and the
    load average: ``busy`` is the non-idle share of all CPU time, ``steal``
    the share the hypervisor gave to other guests.  A run whose steal is
    high measured a shared machine, not the program."""

    def __init__(self):
        self.t0 = _cpu_times()

    def read(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d) or 1
        idle = d[3] + (d[4] if len(d) > 4 else 0)
        steal = d[7] if len(d) > 7 else 0
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "busy_frac": round((total - idle) / total, 4),
            "steal_frac": round(steal / total, 4),
            "loadavg_1m": load1,
            "ncpu": os.cpu_count(),
        }


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by a process and all its
    descendants, children already reaped included, from /proc.  Time the
    hypervisor gives to other guests is not charged to a process, so this
    cost moves far less than wall time on a shared host."""
    stat: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # the process exited meanwhile
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] is ppid; fields[11:15] utime, stime, cutime, cstime
        stat[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        ticks += stat.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, []))
    return ticks / CLK_TCK


# The JVM's own service threads in ``thread_cpu_s`` (comm is cut at 15
# characters): the JIT compilers and the code-cache sweeper, and the
# garbage collector's workers, concurrent markers, refiners and VM thread.
# How much of their work lands in a short measured phase depends on timing
# -- when a method gets hot, when a concurrent cycle starts -- more than on
# the work the program asks for; together they were up to half of a run's
# JVM time and most of its run-to-run spread.  Their time can be told apart
# only because ``prepare_env`` keeps them alive as long as the JVM: a
# thread that exits takes its own figure with it.
SERVICE_THREADS = (
    "C CompilerThre", "Sweeper thread",
    "GC Thread", "G Conc", "G Refine", "G Main Marker", "G Service", "VM Thread",
)


def service_cpu_s(threads: dict[str, float]) -> float:
    """The part of a ``thread_cpu_s`` result spent in SERVICE_THREADS."""
    return sum(threads.get(name, 0.0) for name in SERVICE_THREADS)


def thread_cpu_s(pid: int) -> dict[str, float]:
    """CPU seconds per thread name (digits dropped, so a pool is one
    entry) of one process's live threads."""
    out: dict[str, float] = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name = "".join(c for c in raw[raw.index("(") + 1 : raw.rindex(")")] if not c.isdigit()).strip("#- ")
        fields = raw[raw.rindex(")") + 2 :].split()
        out[name] = out.get(name, 0.0) + (int(fields[11]) + int(fields[12])) / CLK_TCK
    return out


# ----------------------------------------------------------- host speed
# A shared host's speed moves: on the 4-CPU machine the benchmark was tuned
# on, the CPU time of every JVM thread for the same work doubled for
# minutes at a time, and moved 10-15 % within a minute, with little or no
# steal reported (neighbours on the same cores and memory).  So the bounded
# figures are scaled to a reference speed, measured over the same seconds
# by a probe: a JVM of its own (Calibrate.java) that runs a fixed round of
# Java work -- hash-map inserts of fresh strings, a sort, SHA-256 -- every
# PROBE_INTERVAL_MS for the whole run, timing each round on its thread's
# CPU clock.  It takes under 10 % of one CPU, and neither the program nor
# the state of the Spark JVM can change how fast it runs.
PROBE_JAVA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "Calibrate.java")
PROBE_INTERVAL_MS = 250
PROBE_WARM_ROUNDS = 10  # rounds the probe's own JIT warm-up may slow
PROBE_REF_S = 0.022  # CPU seconds of one round on that host, quiet and busy spells alike


class HostProbe:
    """The host-speed probe's process, from start to ``stop``."""

    def __init__(self):
        import subprocess

        home = os.environ.get("JAVA_HOME")
        java = os.path.join(home, "bin", "java") if home else "java"
        self.proc = subprocess.Popen(
            [java, "-Xmx128m", PROBE_JAVA, str(PROBE_INTERVAL_MS)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        self.rounds: list[tuple[float, float]] = []

    def stop(self) -> None:
        """End the probe, wait for it, and keep its (end time, CPU s) rounds."""
        if self.proc.poll() is None:
            self.proc.stdin.close()  # the probe exits when its stdin closes
        try:
            out = self.proc.stdout.read()
            self.proc.wait(timeout=30)
        except Exception:
            self.proc.kill()
            self.proc.wait(timeout=30)
            raise
        rows = [line.split() for line in out.splitlines()][PROBE_WARM_ROUNDS:]
        self.rounds = [(int(t) / 1000.0, int(ns) / 1e9) for t, ns in rows]

    def speed(self, t0: float, t1: float) -> tuple[float, int]:
        """The host's speed over wall-clock times [t0, t1] relative to the
        reference (above 1: faster), and the rounds it rests on."""
        return probe_speed(self.rounds, t0, t1)


def probe_speed(rounds: list[tuple[float, float]], t0: float, t1: float) -> tuple[float, int]:
    """PROBE_REF_S over the median CPU time of the rounds that ended in
    [t0, t1] -- or, when fewer than 5 did, of the 5 ending nearest it."""
    inside = [c for t, c in rounds if t0 <= t <= t1]
    if len(inside) < 5:
        mid = (t0 + t1) / 2
        inside = [c for _, c in sorted(rounds, key=lambda r: abs(r[0] - mid))[:5]]
    if not inside:
        raise RuntimeError("the host-speed probe reported no rounds")
    return PROBE_REF_S / statistics.median(inside), len(inside)


# --------------------------------------------------------------- session
def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``: Python temp files,
    the JVMs' temp dirs and Spark's local dirs.  Must run before the
    first ``tempfile`` use and before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the launcher starts: no /tmp/hsperfdata files, temp files
    # here, and JIT and GC threads that never exit, so their CPU time can
    # be told apart from the program's (see ``SERVICE_THREADS``)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        f" -XX:-UseDynamicNumberOfGCThreads -Djava.io.tmpdir={tmp}"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host_cpus()))
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, traced: bool):
    """``get_spark`` as the program ships it, plus settings that only keep
    files inside the checkout and the console quiet.  The traced run also
    keeps every job and stage in the status store.  Returns the session,
    its start time and the JVM's pid."""
    from pyspark import SparkContext

    from time_series_databse_engine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    # the session's first job pays one-off class loading; keep it in set-up
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t, SparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans: (id, name, start, end, parent, op).  Spans nest on
    a stack, so a span's parent is the innermost open span; ``op`` is the
    benchmark operation the span belongs to."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: str | None = None
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "start": self.clock(),
            "end": None,
        }
        s.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = self.clock()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (children may overlap each other; overlap is counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def _wrap(tracer: Tracer, owner, attr: str, name: str, before=None, after=None) -> None:
    orig = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            if before is not None:
                before(s, args)
            out = orig(*args, **kwargs)
            if after is not None:
                after(s, args, out)
            return out

    traced.__wrapped__ = orig
    setattr(owner, attr, traced)


def _plan_first(tracer: Tracer):
    """Split a Spark action into planning and execution: force the
    DataFrame's ``executedPlan()`` (cached by the QueryExecution, so the
    action reuses it) inside a ``spark.plan`` span."""

    def before(_s, args):
        df = args[0]
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()

    return before


def install_wrappers(tracer: Tracer) -> None:
    """Wrap, at run time, the program's public calls the benchmark
    attributes time to, plus the Spark actions under them.  No program
    file is edited; the wrappers live only in this process."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from time_series_databse_engine_spark import api
    from time_series_databse_engine_spark.tsdb import TimeSeriesStore

    last_points: dict[int, object] = {}

    def points_after(s, args, out):
        store = args[0]
        s["hit"] = last_points.get(id(store)) is out
        last_points[id(store)] = out

    _wrap(tracer, api, "query_points", "api.query_points")
    _wrap(tracer, api, "ingest_points", "api.ingest_points")
    _wrap(tracer, TimeSeriesStore, "points", "tsdb.points", after=points_after)
    _wrap(tracer, TimeSeriesStore, "query_range", "tsdb.query_range")
    _wrap(tracer, TimeSeriesStore, "ingest", "tsdb.ingest")
    _wrap(tracer, TimeSeriesStore, "ingest_epoch", "tsdb.ingest_epoch")
    # collect and toPandas run the DataFrame's own QueryExecution, so its
    # plan can be timed apart; the other actions and writes plan anew
    for action in ("collect", "toPandas"):
        _wrap(tracer, DataFrame, action, "spark.exec", before=_plan_first(tracer))
    for action in ("count", "isEmpty", "toLocalIterator", "checkpoint", "localCheckpoint"):
        _wrap(tracer, DataFrame, action, "spark.exec")
    for action in ("save", "parquet"):
        _wrap(tracer, DataFrameWriter, action, "spark.exec")

    orig_fb = DataStreamWriter.foreachBatch

    def foreach_batch(self, func):
        def traced_batch(batch_df, epoch_id):
            with tracer.span("streaming.batch", epoch=int(epoch_id)):
                return func(batch_df, epoch_id)

        return orig_fb(self, traced_batch)

    foreach_batch.__wrapped__ = orig_fb
    DataStreamWriter.foreachBatch = foreach_batch


# ----------------------------------------------------- Spark status store
STAGE_FIELDS = (
    "tasks", "task_run_ms", "task_cpu_ms", "shuffle_bytes", "spill_bytes", "input_rows",
)


class SparkStats:
    """Per-job-group totals read from the status store (works with the UI
    off).  The benchmark sets one job group per operation; stream queries
    run their jobs under the query's ``runId``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every finished job."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0}
        out.update({k: 0 for k in STAGE_FIELDS})
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = self.store.job(job_id).stageIds().iterator()
            while it.hasNext():
                attempts = self.store.stageData(it.next(), False, None, False, None)
                ait = attempts.iterator()
                while ait.hasNext():
                    sd = ait.next()
                    if sd.status().toString() == "SKIPPED" or sd.numCompleteTasks() == 0:
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["task_run_ms"] += sd.executorRunTime()
                    out["task_cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["shuffle_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["input_rows"] += sd.inputRecords()
        return out


def add_into(total: dict, part: dict) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
