"""stream_epochs: two ``availableNow`` drains in one process over a
seeded source of one-file epochs read with ``maxFilesPerTrigger=1`` --
``stream_to_store`` (the exactly-once ``ingest_epoch`` commit), then
``stream_decayed_topk`` (a sink that re-reads every earlier epoch's
state).  An operation is one source epoch carried through both sinks."""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np

import checks
import gen
from harness import latency_summary

N_GENERATES = 3
EPOCHS = 6
ROWS_PER_EPOCH = 5_000
HALF_LIFE_MS = 86_400_000
TOP_K = 20
PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch", "latestOffset")


def _drain(ctx, leg: str, query, measured: bool) -> tuple[float, list[dict]]:
    """Start a built stream query, wait until it has drained the source,
    and return its wall time and per-batch progress."""
    t = time.perf_counter()
    with ctx.stream_leg(leg) if measured else nullcontext({}) as rec:
        q = query.start()
        rec["run_id"] = str(q.runId)
        q.awaitTermination()
    wall = time.perf_counter() - t
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    if q.exception() is not None:
        raise RuntimeError(f"{leg} stream failed: {q.exception()}")
    return wall, progress


def _drain_both(ctx, src_dir: str, root: str, measured: bool):
    """Both legs over one source: the store sink, then the top-k sink."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.streaming.ingest import (
        EVENT_SCHEMA,
        stream_decayed_topk,
        stream_to_store,
    )
    from time_series_databse_engine_spark.tsdb import TimeSeriesStore

    spark = ctx.spark

    def source():
        return spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(src_dir)

    store = TimeSeriesStore(spark, os.path.join(root, "stream_store"))
    to_store = _drain(
        ctx, "to_store", stream_to_store(source(), store, os.path.join(root, "ckpt_store")), measured
    )
    top = _drain(
        ctx,
        "decayed_topk",
        stream_decayed_topk(
            source().withColumn("ts_ms", F.unix_millis("ts")),
            os.path.join(root, "leaderboard"),
            os.path.join(root, "ckpt_topk"),
            half_life_ms=HALF_LIFE_MS,
            k=TOP_K,
        ),
        measured,
    )
    return store, to_store, top


def prepare(ctx) -> dict:
    """Set-up: the source epochs (written N_GENERATES times, the median
    timed) and a one-epoch warm-up through both sinks in a directory of
    its own."""
    root = os.path.join(ctx.work, "stream")
    src = os.path.join(root, "source")
    gens = []
    for _ in range(N_GENERATES):
        shutil.rmtree(src, ignore_errors=True)
        t = time.perf_counter()
        gen.write_stream_epochs(src, ctx.seed, EPOCHS, ROWS_PER_EPOCH)
        gens.append(time.perf_counter() - t)
    t = time.perf_counter()
    warm_src = os.path.join(ctx.work, "stream-warm", "source")
    gen.write_stream_epochs(warm_src, ctx.seed, 1, ROWS_PER_EPOCH)
    _drain_both(ctx, warm_src, os.path.join(ctx.work, "stream-warm"), measured=False)
    warm_s = time.perf_counter() - t
    ctx.detail.setdefault("setup_parts_s", {})["stream"] = {"generate": gens, "warm_up": warm_s}
    return {"setup_s": statistics.median(gens) + warm_s, "root": root, "src": src}


def measure(ctx, st: dict) -> None:
    """Both drains over the measured source."""
    st["store"], st["to_store"], st["decayed_topk"] = _drain_both(ctx, st["src"], st["root"], measured=True)
    ctx.n_ops += EPOCHS
    ctx.rows_out += 2 * EPOCHS * ROWS_PER_EPOCH


def check(ctx, st: dict) -> tuple[list[float], float]:
    """Each source row once in the store, and the last leaderboard equal
    to the batch operator over every row; returns the epochs' latencies
    (both sinks' trigger times) and the drains' wall time."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.timeseries import decayed_topk
    from time_series_databse_engine_spark.streaming.ingest import EVENT_SCHEMA

    spark, store = ctx.spark, st["store"]
    (wall_store, prog_store), (wall_top, prog_top) = st["to_store"], st["decayed_topk"]
    board = os.path.join(st["root"], "leaderboard")
    failed = 0
    all_src = spark.read.schema(EVENT_SCHEMA).parquet(st["src"]).withColumn("ts_ms", F.unix_millis("ts"))
    want_rows = all_src.select(F.col("event_type").alias("metric"), "ts_ms", "value").toPandas()
    got_rows = store.points().select("metric", "ts_ms", "value").toPandas()
    errs = checks.check_exactly_once(got_rows, want_rows)
    if errs:
        failed += EPOCHS
        ctx.log(f"FAILED to_store: {'; '.join(errs)}")
    last = max(int(d.rsplit("=", 1)[1]) for d in glob.glob(os.path.join(board, "topk", "epoch=*")))
    live = [
        (r["user_id"], r["decayed_score"], r["n_events"])
        for r in spark.read.parquet(os.path.join(board, "topk", f"epoch={last}"))
        .orderBy(F.desc("decayed_score"), "user_id")
        .collect()
    ]
    want = [
        (r["user_id"], r["decayed_score"], r["n_events"])
        for r in decayed_topk(all_src, ["user_id"], half_life_ms=HALF_LIFE_MS, k=TOP_K).collect()
    ]
    errs = checks.check_leaderboard(live, want)
    if errs:
        failed += EPOCHS
        ctx.log(f"FAILED decayed_topk: {'; '.join(errs)}")
    for leg, prog in (("to_store", prog_store), ("decayed_topk", prog_top)):
        if len(prog) != EPOCHS:
            failed += abs(EPOCHS - len(prog))
            ctx.log(f"FAILED {leg}: {len(prog)} non-empty batches, want {EPOCHS}")

    store_ms = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in prog_store}
    top_ms = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in prog_top}
    epoch_ms = [float(store_ms[b] + top_ms[b]) for b in sorted(store_ms) if b in top_ms]
    wall = wall_store + wall_top
    ctx.attempted += 2 * EPOCHS
    ctx.failed += failed
    s = store.stats()
    ctx.detail.update(
        {
            "stream_rows_per_s": 2 * EPOCHS * ROWS_PER_EPOCH / wall,
            "drain_wall_s": {"to_store": wall_store, "decayed_topk": wall_top},
            "epoch_ms": epoch_ms,
            "ingest_epoch": latency_summary([float(v) for v in store_ms.values()]),
            "state_epoch": latency_summary([float(v) for v in top_ms.values()]),
            "stream_storage_bytes_per_point": s["bytes"] / s["rows"] if s["rows"] else None,
            "streaming": {
                leg: _leg_stats(prog) for leg, prog in (("to_store", prog_store), ("decayed_topk", prog_top))
            },
        }
    )
    ctx.layer_extra["tsdb.files_per_partition"] = s["files_per_partition"]
    return epoch_ms, wall


def _leg_stats(progress: list[dict]) -> dict:
    """Per-leg phase medians and how epoch time grows with stream age:
    mean trigger time of the last quarter of epochs over the second."""
    out = {}
    for phase in PHASES:
        vals = [p["durationMs"].get(phase, 0) for p in progress]
        out[f"{phase}_p50_ms"] = float(statistics.median(vals)) if vals else 0.0
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    out["epochs"] = len(trig)
    q = len(trig) // 4
    if q:
        out["epoch_growth"] = float(np.mean(trig[-q:]) / np.mean(trig[q : 2 * q]))
    return out
