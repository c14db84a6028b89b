"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Every metric is printed as a
``name value unit`` line, then the last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Details, spans and host contention go to
``perfbench/out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402

# each workload is one or more parts, set up in turn and then measured
# back to back in one measured phase; BENCHMARK.json lists serve_mixed and
# batch_stream, and each part of batch_stream can also run alone
WORKLOADS = {
    "serve_mixed": ("serve_mixed",),
    "batch_stream": ("analytics_pass", "stream_epochs"),
    "analytics_pass": ("analytics_pass",),
    "stream_epochs": ("stream_epochs",),
}
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
# wall-clock figures of the measured phase: printed and recorded, not
# bounded, because other guests' load on a shared host moves them by more
# than any useful bound (see README.md)
WALL = {"ops_per_s": "1/s", "op_geomean_ms": "ms"}
PER_LAYER = {
    "session.start_ms": "ms",
    "entry.self_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.shuffle_bytes": "B",
    "spark.input_rows_per_row_returned": "ratio",
    "spark.core_busy_frac": "fraction",
    "trace.overhead_ms": "ms",
}
# the program's entry call each workload makes, whose self time is
# ``entry.self_ms``
ENTRY_SPANS = ("api.query_points", "api.ingest_points", "registry.build", "streaming.batch")


class Context:
    """What a workload gets: the session, its inputs' seed and run length,
    a work directory inside the checkout, and the hooks that count
    operations and, in the traced run, record spans and Spark counters."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.root = ROOT
        self.work = work
        self.cache = os.path.join(HERE, "work", "cache")
        self.spark = None
        self.jvm_pid = None
        self.session_s = 0.0
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.n_ops = 0
        self.rows_out = 0
        self.detail: dict = {}
        self.layer_extra: dict = {}
        self.contention: dict = {}
        self.tracer = harness.Tracer() if self.traced else None
        self.stats = None
        self.measured_ops: set[str] = set()
        self.spark_total: dict = {}
        self.spark_by_kind: dict[str, dict] = {}
        self._op_seq = 0
        self._sampler = None
        self._jvm_cpu0 = 0.0
        self._threads0: dict[str, float] = {}
        self.py_cpu_s = 0.0
        self.cpu_s = 0.0
        # wall-clock (time.time()) spans of set-up and of the measured
        # phase, over which the host-speed probe's rounds are taken
        self.windows: dict[str, list[float]] = {"setup": [time.time(), 0.0]}

    def log(self, msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)

    def span(self, name: str):
        return self.tracer.span(name) if self.traced else nullcontext()

    def begin_measure(self) -> None:
        """Open the measured phase.  Both heaps are collected first, so the
        phase starts from the same heap state whatever set-up left behind
        and a garbage-collection cycle falls in it only if the phase's own
        allocations call for one."""
        self.windows["setup"][1] = time.time()
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()
        self._sampler = harness.HostSampler()
        self._threads0 = harness.thread_cpu_s(self.jvm_pid)
        self._jvm_cpu0 = harness.tree_cpu_s(self.jvm_pid)
        self.windows["measured"] = [time.time(), 0.0]

    def end_measure(self) -> None:
        """Close the measured phase: its host contention, and the CPU time
        the program spent in it -- the JVM and its Python workers over the
        whole phase, less the JVM's own JIT and GC threads, plus this process
        inside the operations."""
        self.windows["measured"][1] = time.time()
        jvm = harness.tree_cpu_s(self.jvm_pid) - self._jvm_cpu0
        threads = harness.thread_cpu_s(self.jvm_pid)
        service = harness.service_cpu_s(threads) - harness.service_cpu_s(self._threads0)
        self.cpu_s = jvm - service + self.py_cpu_s
        self.contention["measured"] = self._sampler.read()
        self.detail["cpu_s"] = {
            "jvm_and_workers": jvm,
            "jvm_service_threads": service,
            "client_in_ops": self.py_cpu_s,
            # live JVM threads by name; threads that ended are not listed
            "jvm_threads": {
                k: d for k, v in sorted(threads.items(), key=lambda kv: -kv[1])
                if (d := v - self._threads0.get(k, 0.0)) > 0.05
            },
        }

    def _account(self, op_id: str, kind: str, group: str, measured: bool, rows: int) -> None:
        if measured:
            self.n_ops += 1
            self.rows_out += rows
        if not self.traced:
            return
        t = time.perf_counter()
        self.stats.settle()
        g = self.stats.group(group)
        self.tracer.overhead_s += time.perf_counter() - t
        if measured:
            self.measured_ops.add(op_id)
            harness.add_into(self.spark_total, g)
            harness.add_into(self.spark_by_kind.setdefault(kind, {}), g)

    @contextmanager
    def operation(self, kind: str, measured: bool):
        """One client operation.  The traced run gives it its own Spark job
        group and reads the group's stage counters after it ends."""
        rec = {"kind": kind, "rows": 0}
        self._op_seq += 1
        op_id = f"{kind}#{self._op_seq}"
        cpu0 = time.process_time()
        if self.traced:
            self.tracer.op = op_id
            self.spark.sparkContext.setJobGroup(op_id, kind)
            with self.tracer.span("op", kind=kind):
                yield rec
            self.tracer.op = None
        else:
            yield rec
        if measured:
            self.py_cpu_s += time.process_time() - cpu0
        self._account(op_id, kind, op_id, measured, rec["rows"])

    @contextmanager
    def stream_leg(self, leg: str):
        """One stream drain; its jobs run under the query's runId group."""
        rec = {"run_id": None}
        cpu0 = time.process_time()
        if self.traced:
            self.tracer.op = leg
            with self.tracer.span("op", kind=leg):
                yield rec
            self.tracer.op = None
            t = time.perf_counter()
            self.stats.settle()
            g = self.stats.group(rec["run_id"])
            self.tracer.overhead_s += time.perf_counter() - t
            self.measured_ops.add(leg)
            harness.add_into(self.spark_total, g)
            self.spark_by_kind[leg] = g
        else:
            yield rec
        self.py_cpu_s += time.process_time() - cpu0


def run_parts(ctx: Context, parts: list) -> dict:
    """Set up every part, measure them back to back, then check them all;
    returns the measured phase's wall-clock figures."""
    states = [part.prepare(ctx) for part in parts]
    ctx.setup_s = ctx.session_s + sum(st["setup_s"] for st in states)
    ctx.detail["setup_parts_s"]["session"] = ctx.session_s
    ctx.begin_measure()
    for part, st in zip(parts, states):
        part.measure(ctx, st)
    ctx.end_measure()
    ms, busy_s = [], 0.0
    for part, st in zip(parts, states):
        part_ms, part_s = part.check(ctx, st)
        ms += part_ms
        busy_s += part_s
    return {"ops_per_s": len(ms) / busy_s, "op_geomean_ms": harness.geomean(ms)}


def layer_metrics(ctx: Context) -> tuple[dict, dict]:
    """Per-layer metrics of the measured operations, per operation, from
    the spans' self times and the Spark counters; plus the per-module
    breakdown the detail file keeps."""
    spans = [s for s in ctx.tracer.spans if s["op"] in ctx.measured_ops and s["end"] is not None]
    own = harness.self_times(ctx.tracer.spans)
    n = max(ctx.n_ops, 1)

    def total(pred) -> float:
        """Summed self time, in seconds, of the spans whose name passes."""
        return sum(own[s["id"]] for s in spans if pred(s["name"]))

    exec_iv = [(s["start"], s["end"]) for s in spans if s["name"] == "spark.exec"]
    lo = min((a for a, _ in exec_iv), default=0.0)
    hi = max((b for _, b in exec_iv), default=0.0)
    exec_wall_ms = harness.covered(exec_iv, lo, hi) * 1000
    sp = ctx.spark_total
    cores = harness.host_cpus()
    per_layer = {
        "session.start_ms": ctx.session_s * 1000,
        "entry.self_ms": total(lambda x: x in ENTRY_SPANS) * 1000 / n,
        "spark.plan_ms": total(lambda x: x == "spark.plan") * 1000 / n,
        "spark.exec_ms": total(lambda x: x == "spark.exec") * 1000 / n,
        "spark.jobs": sp.get("jobs", 0) / n,
        "spark.stages": sp.get("stages", 0) / n,
        "spark.tasks": sp.get("tasks", 0) / n,
        "spark.task_run_ms": sp.get("task_run_ms", 0) / n,
        "spark.task_cpu_ms": sp.get("task_cpu_ms", 0) / n,
        "spark.shuffle_bytes": sp.get("shuffle_bytes", 0) / n,
        "spark.input_rows_per_row_returned": sp.get("input_rows", 0) / max(ctx.rows_out, 1),
        "spark.core_busy_frac": sp.get("task_run_ms", 0) / (cores * exec_wall_ms) if exec_wall_ms else 0.0,
        "trace.overhead_ms": ctx.tracer.overhead_s * 1000 / n,
    }

    # per-module detail, named as the program names its calls
    def named(name):
        xs = [s for s in spans if s["name"] == name]
        if not xs:
            return None
        return {
            "calls": len(xs),
            "mean_ms": 1000 * statistics.mean(s["end"] - s["start"] for s in xs),
            "self_mean_ms": 1000 * statistics.mean(own[s["id"]] for s in xs),
        }

    detail = {"tsdb.self_ms": total(lambda x: x.startswith("tsdb.")) * 1000 / n}
    for name in ("api.query_points", "api.ingest_points", "tsdb.query_range", "tsdb.ingest",
                 "tsdb.ingest_epoch", "registry.build", "streaming.batch"):
        if (v := named(name)) is not None:
            detail[name] = v
    pts = [s for s in spans if s["name"] == "tsdb.points"]
    if pts:
        misses = [s for s in pts if not s.get("hit")]
        detail["tsdb.points"] = {
            "calls": len(pts),
            "hit_ratio": 1 - len(misses) / len(pts),
            "miss_ms": 1000 * statistics.mean(s["end"] - s["start"] for s in misses) if misses else 0.0,
        }
    by_kind = {}
    for kind, g in ctx.spark_by_kind.items():
        ops = [s for s in spans if s["name"] == "op" and s.get("kind") == kind]
        ids = {s["op"] for s in ops}
        plan = sum(own[s["id"]] for s in spans if s["name"] == "spark.plan" and s["op"] in ids)
        wall = sum(s["end"] - s["start"] for s in ops)
        k = max(len(ops), 1)
        by_kind[kind] = {f"spark.{f}": v / k for f, v in g.items()}
        by_kind[kind]["spark.plan_ms"] = plan * 1000 / k
        by_kind[kind]["spark.core_busy_frac"] = g.get("task_run_ms", 0) / (cores * wall * 1000) if wall else 0.0
        by_kind[kind]["ops"] = len(ops)
        if kind in ("to_store", "decayed_topk"):
            epochs = ctx.detail.get("streaming", {}).get(kind, {})
            epochs["stages_per_epoch"] = g.get("stages", 0) / max(epochs.get("epochs", 0), 1)
    detail["spark_by_op_kind"] = by_kind
    detail.update(ctx.layer_extra)
    return per_layer, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import time_series_databse_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import importlib

    parts = [importlib.import_module(name) for name in WORKLOADS[args.workload]]
    run_host = harness.HostSampler()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_env(work)
    ctx = Context(args, work)
    if ctx.traced:
        harness.install_wrappers(ctx.tracer)
    probe = harness.HostProbe()
    try:
        ctx.spark, ctx.session_s, ctx.jvm_pid = harness.start_session(work, ctx.traced)
        if ctx.traced:
            ctx.stats = harness.SparkStats(ctx.spark)
        wall = run_parts(ctx, parts)
        per_layer, layer_detail = layer_metrics(ctx) if ctx.traced else ({}, {})
    finally:
        try:
            if ctx.spark is not None:
                harness.stop_session(ctx.spark)
        finally:
            probe.stop()
            shutil.rmtree(work, ignore_errors=True)
    ctx.contention["run"] = run_host.read()
    # the bounded figures at the reference host speed (see harness.HostProbe)
    speed = {k: probe.speed(*w) for k, w in ctx.windows.items()}
    ctx.contention["speed"] = {k: {"speed": v, "probe_rounds": n} for k, (v, n) in speed.items()}
    e2e = {
        "setup_s": ctx.setup_s * speed["setup"][0],
        "cpu_ms_per_op": 1000 * ctx.cpu_s * speed["measured"][0] / ctx.n_ops,
    }

    tag = f"{args.workload}-seed{args.seed}" + ("-trace" if ctx.traced else "")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failed_frac": ctx.failed / max(ctx.attempted, 1),
        "end_to_end": e2e,
        "wall": wall,
        "detail": ctx.detail,
        "host": ctx.contention,
    }
    if ctx.traced:
        record["per_layer"] = per_layer
        record["layers"] = layer_detail
        ctx.tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            base = {**base["end_to_end"], **base.get("wall", {})}
            now = {**e2e, **wall}
            record["trace_overhead"] = {k: now[k] / base[k] - 1 for k in base if base[k]}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for name, unit in END_TO_END.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    for name, unit in WALL.items():
        print(f"{name} {wall[name]:.6g} {unit} (wall clock, not bounded)")
    print(f"failed_frac {record['failed_frac']:.6g} fraction ({ctx.failed}/{ctx.attempted})")
    print(f"host {json.dumps(ctx.contention)}")
    print(f"detail {json.dumps(ctx.detail, default=str)}")
    if ctx.traced:
        for name, unit in PER_LAYER.items():
            print(f"{name} {per_layer[name]:.6g} {unit}")
        print(f"layers {json.dumps(layer_detail, default=str)}")
        if "trace_overhead" in record:
            print(f"trace_overhead {json.dumps(record['trace_overhead'])}")

    metrics = (
        {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
        if ctx.traced
        else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    )
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
