"""serve_mixed: the paper's serving path through ``api`` as a closed loop
with one client.  Set-up builds a 1M-point store through
``TimeSeriesStore.ingest``; the loop then runs whole cycles of 6 hot and
2 cold reads, one 1,000-point write and the fresh read of the hour just
written.  The number of cycles is fixed by the run length, one per
CYCLE_NOMINAL_S seconds, so every run does the same work however busy the
host is."""

from __future__ import annotations

import os
import statistics
import time

import checks
import gen
from harness import latency_summary

N_BUILDS = 3
CYCLE_NOMINAL_S = 4.0  # one cycle's wall time on a 4-CPU host, rounded down


def prepare(ctx) -> dict:
    """Set-up: the point table, N_BUILDS store builds (the median timed;
    the last one is served) and one operation of each kind."""
    from time_series_databse_engine_spark import api
    from time_series_databse_engine_spark.tsdb import TimeSeriesStore

    spark, seed = ctx.spark, ctx.seed
    t = time.perf_counter()
    ts, values = gen.base_points(seed)
    src = os.path.join(ctx.work, "points.parquet")
    gen.write_points_table(src, ts, values)
    gen_s = time.perf_counter() - t

    builds = []
    for i in range(N_BUILDS):
        store = TimeSeriesStore(spark, os.path.join(ctx.work, f"store{i}"))
        t = time.perf_counter()
        store.ingest(spark.read.parquet(src))
        builds.append(time.perf_counter() - t)
    stored_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(store.path)
        for f in files
        if f.endswith(".parquet")
    )

    # warm-up: one op of each kind, answers checked like measured ones; the
    # last, a fresh read, leaves the store's reader cached as later reads
    # find it
    t = time.perf_counter()
    client = _Client(api, store, values, seed, ctx)
    client.warm_up()
    warm_s = time.perf_counter() - t
    ctx.detail.setdefault("setup_parts_s", {})["serve"] = {
        "generate": gen_s, "store_builds": builds, "warm_up": warm_s,
    }
    ctx.detail["storage_bytes_per_point"] = stored_bytes / gen.N_POINTS
    return {"setup_s": gen_s + statistics.median(builds) + warm_s, "store": store, "client": client}


def measure(ctx, st: dict) -> None:
    """Whole cycles, one per CYCLE_NOMINAL_S seconds of the run length."""
    for _ in range(max(1, round(ctx.seconds / CYCLE_NOMINAL_S))):
        st["client"].cycle(record=True)


def check(ctx, st: dict) -> tuple[list[float], float]:
    """The final store count (each answer was checked as it came); returns
    the API calls' latencies and the time spent in them."""
    client = st["client"]
    after = st["store"].stats()
    client.attempted += 1
    errs = checks.check_store_count(after["rows"], client.model)
    if errs:
        client.fail("final count", errs)

    lat = client.lat
    all_ms = [x for v in lat.values() for x in v]
    busy_s = sum(all_ms) / 1000.0
    ctx.detail.update(
        {
            "ops": {k: latency_summary(v) for k, v in lat.items()},
            "latencies_ms": lat,
            "serve_ops_per_s": len(all_ms) / busy_s,
            "serve_rows_per_s": client.rows / busy_s,
            "store_after": after,
        }
    )
    ctx.attempted += client.attempted
    ctx.failed += client.failed
    ctx.layer_extra["tsdb.files_per_partition"] = after["files_per_partition"]
    return all_ms, busy_s


class _Client:
    """One closed-loop client: sends ops, times each API call alone, and
    checks every answer against the point model outside the timer."""

    def __init__(self, api, store, base_values, seed, ctx):
        self.api, self.store, self.seed, self.ctx = api, store, seed, ctx
        self.ops = gen.ServeOps(seed)
        self.model = checks.PointModel(base_values)
        self.lat: dict[str, list[float]] = {"hot": [], "cold": [], "write": [], "fresh": []}
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.last_batch = None

    def fail(self, what, errs):
        self.failed += 1
        self.ctx.log(f"FAILED {what}: {'; '.join(errs)}")

    def warm_up(self) -> None:
        """The first cycle's first hot and first cold read, its write and
        its fresh read."""
        seen = set()
        for _ in range(gen.CYCLE_HOT + gen.CYCLE_COLD + 2):
            op = self.ops.next()
            if op[0] not in seen:
                seen.add(op[0])
                self.one(op, record=False)

    def cycle(self, record: bool) -> None:
        for _ in range(gen.CYCLE_HOT + gen.CYCLE_COLD + 2):
            self.one(self.ops.next(), record)

    def one(self, op, record: bool) -> None:
        kind, a, b = op
        self.attempted += 1
        body = None
        if kind == "write":
            ts, vals = gen.write_batch(self.seed, b, a)
            body = [
                {"metric": gen.METRIC, "timestamp": t, "value": v}
                for t, v in zip(ts.tolist(), vals.tolist())
            ]
        with self.ctx.operation(kind, measured=record) as op_rec:
            t = time.perf_counter()
            try:
                if kind == "write":
                    resp = self.api.ingest_points(self.store, body)
                else:
                    resp = self.api.query_points(self.store, a, b)
            except Exception as e:  # a failed request is counted, not fatal
                self.fail(f"{kind} {a}..{b}", [repr(e)])
                return
            ms = (time.perf_counter() - t) * 1000.0
            op_rec["rows"] = len(body) if body is not None else len(resp["points"])
        if record:
            self.lat[kind].append(ms)
            self.rows += op_rec["rows"]
        if kind == "write":
            if resp.get("points_ingested") != len(body):
                self.fail("write", [f"ingested {resp.get('points_ingested')}"])
            self.model.append(vals)
            self.last_batch = ts
            return
        errs = checks.check_read(self.model, a, b, resp)
        if kind == "fresh":
            errs += checks.check_fresh(resp, self.last_batch)
        if errs:
            self.fail(f"{kind} {a}..{b}", errs)
