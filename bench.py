"""Benchmark harness — one compact JSON line to stdout, full detail to a file.

Mirrors the reference benchmark (benchmark.py: 1 M sinusoid points, hot
1-hour / cold 24-hour range queries, storage efficiency — BASELINE.md)
plus this engine's headline analytical queries at $SPARK_GRAFT_SF_DIR:
``BENCH_QUERIES``, the ``__spark_entry__.REGISTRY`` rows flagged ``bench``
plus the bench-only overrides, each resolved by ``lookup()``.

Driver contract (VERDICT r6 "Next round" #1): the grading driver captures
only the FINAL ~2,000 characters of stdout, so the last line printed is a
compact summary — suite total, all extras, and the top-10 slowest queries —
hard-capped below 2,000 chars.  The complete per-query map goes to
$SPARK_GRAFT_BENCH_DETAIL (default BENCH_DETAIL.json beside this file),
whose path the summary carries:

  {"metric": "suite_sec", "value": <total>, "unit": "sec",
   "queries": {...top-10 slowest...}, "n_queries": N, "sf": <dir>,
   "extra": {...}, "detail": "BENCH_DETAIL.json"}

Isolated-timing mode (VERDICT r6 "Next round" #7): in-suite session-state
position tax distorts per-query comparisons by up to ~1 s at sf0.1
(SCALE.md).  ``python bench.py --isolate q1,q2`` re-times each named query
in a FRESH subprocess+SparkSession (warm-up at sf0.001 first, same as the
suite) and prints one JSON line of isolated seconds — the mechanical way to
triage a >30% round-over-round mover.  ``--one NAME`` is the per-subprocess
worker entry point.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from time_series_databse_engine_spark import TimeSeriesStore, get_spark
from time_series_databse_engine_spark.api import ingest_points, query_points
from time_series_databse_engine_spark.operators import similarity as _sim
from time_series_databse_engine_spark.operators._util import memo

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_POINTS = 1_000_000  # reference workload size (benchmark.py:11)
START_MS = 1_700_000_000_000

# Production twins timed in place of a registry builder, plus the one
# bench-only name (column_profile_fast).  The two Σ|bucket|² ops run with
# auto-sized bucket spaces here — the production path, which holds average
# occupancy constant as data grows (similarity.auto_num_planes /
# auto_n_cells; fixed sizes are kept in queries() for oracle parity, where
# the SQL carries plane/cell literals).  This is what turned 13.7× / 7.4×
# at 10× data into ~linear (SCALE.md "10× scale-up").
def _near_dup_auto(spark, sf_dir):
    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    return _sim.cosine_near_dup_lsh(emb, threshold=0.4, num_planes="auto", dim=64)


def _semantic_dedup_auto(spark, sf_dir):
    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    return _sim.semantic_dedup(emb, threshold=0.3, n_cells="auto")


def _column_profile_fast(spark, sf_dir):
    # the PRODUCTION profiler config: same one-scan HLL plan,
    # Spark-native xxhash64 instead of the oracle's replayable
    # md5 (profile.profile_registers docstring) — the
    # column_profile row times the md5 oracle twin
    from time_series_databse_engine_spark.operators.profile import (
        profile_table,
    )

    o = spark.read.parquet(sf_dir + "/orders.parquet")
    return profile_table(o, entry_mod._PROFILE_COLS, hash_fn="xxhash64")


def _hilbert_key_fast(spark, sf_dir):
    # production layout path: Arrow-batched numpy walk
    # (layout.hilbert_key_pandas) — BIT-IDENTICAL to the
    # expression form queries() keeps for the oracle (pinned by
    # test_plans); the expression fold is interpreted-HOF-bound
    from time_series_databse_engine_spark.operators import (
        layout as layout_ops,
    )
    from time_series_databse_engine_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    mm = F.broadcast(
        ev.agg(
            F.min("ts_ms").alias("tlo"),
            F.max("ts_ms").alias("thi"),
            F.min("value").alias("vlo"),
            F.max("value").alias("vhi"),
        )
    )
    q = ev.crossJoin(mm).select(
        "event_id",
        layout_ops.quantize(F.col("ts_ms"), F.col("tlo"), F.col("thi"), 16).alias("qa"),
        layout_ops.quantize(F.col("value"), F.col("vlo"), F.col("vhi"), 16).alias("qb"),
    )
    return q.select(
        "event_id",
        layout_ops.hilbert_key_pandas(F.col("qa"), F.col("qb"), 16).alias("hkey"),
    )


OVERRIDES = {
    "cosine_near_dup_lsh": _near_dup_auto,
    "semantic_dedup": _semantic_dedup_auto,
    "column_profile_fast": _column_profile_fast,
    "hilbert_key": _hilbert_key_fast,
}

# The timed queries: every registry row flagged ``bench``, in registry
# order, then the overrides the registry does not know.
BENCH_QUERIES = [q.name for q in entry_mod.REGISTRY if q.bench] + [
    n for n in OVERRIDES if n not in entry_mod.queries()
]


def lookup(name: str):
    """The one name -> builder lookup, the override first, then the
    registry; the suite's warm-up, index builds and timed loop and
    ``--one`` all time what it returns."""
    return OVERRIDES[name] if name in OVERRIDES else entry_mod.queries()[name]

# repeated-run latency distribution for the reference's hot/cold point
# queries (benchmark.py:98-124 reports p99 over 100 runs; 40/20 runs keep
# the suite under its time budget while still pinning the tail)
HOT_RUNS = 40
COLD_RUNS = 20
INGEST_RUNS = 20


def _pctl(xs: list[float], q: float) -> float:
    s = sorted(xs)
    idx = min(len(s) - 1, max(0, int(math.ceil(q * len(s))) - 1))
    return s[idx]


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _cpu_jiffies() -> tuple[int, int, int] | None:
    """(busy, total, steal) jiffies from the aggregate /proc/stat cpu
    line.  Steal is recorded separately (r13, VERDICT #6): the random
    in-suite 5-9 s stall was chased with full GC logging and exonerated
    (0 full GCs, max young pause 458 ms, 8.2 s total over an 8-min run)
    — the remaining mechanism is hypervisor steal bursts on this shared
    box, so each record now carries its own steal fraction as evidence."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        if parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
        steal = vals[7] if len(vals) > 7 else 0
        total = sum(vals)
        return total - idle, total, steal
    except (OSError, ValueError, IndexError):
        return None


def machine_context(start: tuple[int, int, int] | None) -> dict[str, float]:
    """Self-describing run conditions (VERDICT r7 "Next round" #2): the
    headline throughput extras have swung 15-30% across identically
    planned runs for three rounds because the box is shared; recording
    loadavg + the whole-machine CPU-busy fraction over the run lets a
    reader separate contention from regression without forensics."""
    ctx: dict[str, float] = {}
    try:
        la1, la5, la15 = os.getloadavg()
        ctx["loadavg_1m"] = round(la1, 2)
        ctx["loadavg_5m"] = round(la5, 2)
        ctx["loadavg_15m"] = round(la15, 2)
    except OSError:
        pass
    end = _cpu_jiffies()
    if start is not None and end is not None and end[1] > start[1]:
        ctx["machine_cpu_busy_frac"] = round(
            (end[0] - start[0]) / (end[1] - start[1]), 3
        )
        ctx["steal_frac"] = round((end[2] - start[2]) / (end[1] - start[1]), 4)
    ncpu = os.cpu_count()
    if ncpu:
        ctx["n_cpus"] = ncpu
    return ctx


def session_context(spark) -> dict[str, object]:
    """The LIVE session's core count and master (VERDICT r12 "Next
    round" #2): ``ctx_n_cpus`` is the machine's ``os.cpu_count()`` (32
    regardless of ``$SPARK_GRAFT_CPUS``), which made the driver's
    core-scaling probe read as if the contract were ignored.  The
    session honors it (session.py: master ``local[$SPARK_GRAFT_CPUS]``,
    shuffle partitions likewise); report that from the SparkContext
    itself so an 8-core run *shows* 8."""
    sc = spark.sparkContext
    return {
        "session_cores": sc.defaultParallelism,
        "session_master": sc.master,
    }


def main():
    cpu_start = _cpu_jiffies()
    spark = get_spark(app_name="bench")
    queries = {name: lookup(name) for name in BENCH_QUERIES}
    times: dict[str, float] = {}
    extra: dict[str, float] = {}
    warmup_errors: dict[str, str] = {}

    tmp = tempfile.mkdtemp(prefix="bench_store_")
    try:
        # --- warm-up at the smallest SF: pay one-time JVM codegen +
        # Python-worker spawn outside every timing (the reference's numbers
        # are likewise warm steady state, README.md:100)
        warm = TimeSeriesStore(spark, tmp + "/warm")
        warm.ingest(spark.range(1000).select(
            F.lit("w").alias("metric"),
            (F.lit(START_MS) + F.col("id") * 1000).alias("ts_ms"),
            F.rand(1).alias("value"),
        ))
        for name in queries:
            try:
                queries[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:
                warmup_errors[name] = repr(e)

        # --- ingest: 1M-point sinusoid batch (reference: 5,500 pts/s FFI
        # loop, warm steady state per its README).  Three full ingests into
        # fresh stores, best time kept: measured cold→steady convergence
        # takes ~3 runs at this size (3.6 → 2.4 → 1.3 s — JIT, shuffle
        # writers, page cache); two runs under-reported steady state by
        # ~30% (BENCH_r02's 1.73 s vs the true ~1.3 s floor).
        pts = spark.range(N_POINTS).select(
            F.lit("cpu.load.avg").alias("metric"),
            (F.lit(START_MS) + F.col("id") * 1000).alias("ts_ms"),
            (
                50.0
                + 20.0 * F.sin(F.col("id") / 100.0)
                + (F.rand(42) * 2.0 - 1.0)
            ).alias("value"),
        )
        store = TimeSeriesStore(spark, tmp + "/points")
        ingest_ts = []
        for target in (tmp + "/points_cold", tmp + "/points_warm", tmp + "/points"):
            t, _ = timed(lambda: TimeSeriesStore(spark, target).ingest(pts))
            ingest_ts.append(t)
        t = min(ingest_ts)
        times["ingest_1m_points"] = round(t, 3)
        extra["ingest_points_per_sec"] = round(N_POINTS / t)
        extra["ingest_cold_sec"] = round(ingest_ts[0], 3)

        # --- streaming ingest: the same 1M points through the
        # foreachBatch micro-batch path (readStream → stream_to_store),
        # 4 micro-batches via maxFilesPerTrigger — the only tier that had
        # no perf number.  Measures end-to-end drain wall-clock of an
        # availableNow run, checkpoint included.
        from time_series_databse_engine_spark.streaming.ingest import stream_to_store

        sdir = tmp + "/stream_src"
        (
            pts.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
            .select("metric", "ts", "value")
            .repartition(8)
            .write.mode("overwrite")
            .parquet(sdir)
        )
        sstore = TimeSeriesStore(spark, tmp + "/stream_store")
        stream = (
            spark.readStream.schema("metric string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 2)
            .parquet(sdir)
        )
        writer = stream_to_store(stream, sstore, tmp + "/stream_ckpt", metric_col="metric")
        t0 = time.perf_counter()
        sq = writer.start()
        sq.awaitTermination()
        stream_dt = time.perf_counter() - t0
        extra["stream_ingest_rows_per_sec"] = round(N_POINTS / stream_dt)
        extra["stream_ingest_sec"] = round(stream_dt, 3)

        # --- stateful streaming op throughput: the same 1M rows through
        # applyInPandasWithState Misra–Gries heavy hitters (Arrow state
        # round-trips per micro-batch — the cost profile of every custom
        # stateful operator here)
        from time_series_databse_engine_spark.streaming.stateful import (
            heavy_hitters_stream,
        )

        hh_stream = (
            spark.readStream.schema("metric string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 2)
            .parquet(sdir)
        )
        t0 = time.perf_counter()
        hq = (
            heavy_hitters_stream(hh_stream, item_col="metric", k=8, n_buckets=8)
            .writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", tmp + "/hh_ckpt")
            .start()
        )
        hq.processAllAvailable()
        hq.stop()
        hh_dt = time.perf_counter() - t0
        extra["stream_stateful_rows_per_sec"] = round(N_POINTS / hh_dt)

        # --- streaming index/corpus maintenance throughput (VERDICT r9
        # #6): the three foreachBatch maintenance paths have
        # exactly-once tests but had no recorded rows/sec.  Each drains
        # an availableNow run of ~4 micro-batches against a PRE-BUILT
        # index (build paid outside the timing), so the number is the
        # steady-state maintenance cost — epoch-keyed appends +
        # checkpoint commits — not a build.  Sizes are the sf tables'
        # own (small at sf0.1, so these are fixed-cost-per-epoch floors;
        # per-row work is O(batch) by construction, see the operators'
        # docstrings).
        from time_series_databse_engine_spark.operators import (
            similarity as _sim_m,
        )
        from time_series_databse_engine_spark.operators.text import (
            maxsim_index_write as _ms_write,
        )
        from time_series_databse_engine_spark.streaming.ingest import (
            maintain_ann_index,
            maintain_maxsim_index,
            stream_clean_crawl,
        )

        def _drain(writer) -> float:
            t0 = time.perf_counter()
            sq = writer.start()
            sq.awaitTermination()
            return time.perf_counter() - t0

        emb_all = spark.read.parquet(SF_DIR + "/embeddings.parquet")
        ann_base = emb_all.filter(F.col("vec_id") % 2 == 0)
        ann_batch = emb_all.filter(F.col("vec_id") % 2 == 1)
        n_ann = ann_batch.count()
        _sim_m.ivf_index_write(ann_base, tmp + "/maint_ann", n_cells=16)
        ann_batch.repartition(4).write.parquet(tmp + "/maint_ann_src")
        dt = _drain(
            maintain_ann_index(
                spark.readStream.schema(ann_batch.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/maint_ann_src"),
                tmp + "/maint_ann",
                tmp + "/maint_ann_ckpt",
            )
        )
        extra["stream_maintain_ann_rows_per_sec"] = round(n_ann / dt)

        docs_all = spark.read.parquet(SF_DIR + "/documents.parquet")
        ms_base = docs_all.filter(F.col("doc_id") % 2 == 0)
        ms_batch = docs_all.filter(F.col("doc_id") % 2 == 1)
        n_ms = ms_batch.count()
        _ms_write(ms_base, tmp + "/maint_ms", dim=64, chunk_size=30)
        ms_batch.repartition(4).write.parquet(tmp + "/maint_ms_src")
        dt = _drain(
            maintain_maxsim_index(
                spark.readStream.schema(ms_batch.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/maint_ms_src"),
                tmp + "/maint_ms",
                tmp + "/maint_ms_ckpt",
            )
        )
        extra["stream_maintain_maxsim_rows_per_sec"] = round(n_ms / dt)

        # crawl cascade: the q_clean_crawl planted-page synthesis, as a
        # 4-epoch stream (each epoch dedups against the accumulated
        # fingerprint table — the steady-state crawl shape)
        pages = docs_all.select(
            "doc_id", F.expr(entry_mod._CRAWL_PLANT).alias("html")
        )
        n_pages = pages.count()
        pages.repartition(4).write.parquet(tmp + "/maint_crawl_src")
        dt = _drain(
            stream_clean_crawl(
                spark.readStream.schema(pages.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/maint_crawl_src"),
                tmp + "/maint_crawl_out",
                tmp + "/maint_crawl_ckpt",
                min_visible_ppm=350_000,
                quality_threshold=0.5,
            )
        )
        extra["stream_clean_crawl_pages_per_sec"] = round(n_pages / dt)

        # trending leaderboard maintenance: events as a 4-epoch stream,
        # each epoch merging strictly-prior decayed state (steady-state
        # leaderboard serving; the number is epoch merge + commit cost)
        from time_series_databse_engine_spark.sources import load_table
        from time_series_databse_engine_spark.streaming.ingest import (
            stream_decayed_topk,
        )

        ev_src = load_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "ts_ms"
        )
        n_ev = ev_src.count()
        ev_src.repartition(4).write.parquet(tmp + "/trend_src")
        dt = _drain(
            stream_decayed_topk(
                spark.readStream.schema(ev_src.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/trend_src"),
                tmp + "/trend_out",
                tmp + "/trend_ckpt",
                keys=["user_id"],
                half_life_ms=86_400_000,
                k=20,
            )
        )
        extra["stream_decayed_topk_rows_per_sec"] = round(n_ev / dt)

        # live SLO burn monitoring: the same events as a 4-epoch stream,
        # each epoch merging strictly-prior per-bucket counts and
        # re-pricing burn (steady-state alerting cost)
        from time_series_databse_engine_spark.streaming.ingest import (
            stream_burn_rate,
        )

        burn_src = load_table(spark, SF_DIR, "events").select(
            "ts_ms", (F.col("event_type") == "error").alias("is_err")
        )
        burn_src.repartition(4).write.parquet(tmp + "/burn_src")
        dt = _drain(
            stream_burn_rate(
                spark.readStream.schema(burn_src.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/burn_src"),
                tmp + "/burn_out",
                tmp + "/burn_ckpt",
            )
        )
        extra["stream_burn_rate_rows_per_sec"] = round(n_ev / dt)

        # live SCD2 dimension maintenance (VERDICT r10 #3 done-bar):
        # epoch 0 builds the full dimension, epoch 1 touches ~1/64 of
        # the keys — with the hash-partitioned snapshot the epoch-1
        # bytes written must scale with TOUCHED partitions, not
        # dimension size (the committed ratio is the proof)
        from time_series_databse_engine_spark.streaming.ingest import (
            stream_scd2,
        )

        scd_src = load_table(spark, SF_DIR, "events").select(
            "user_id", "event_type", "ts_ms", "event_id"
        )
        n_scd = scd_src.count()
        scd_src.coalesce(4).write.parquet(tmp + "/scd_src/b1")
        time.sleep(1.1)  # distinct mtimes pin micro-batch order
        # epoch 1: one key's CDC update — the steady-state trickle shape
        uid = scd_src.agg(F.min("user_id")).collect()[0][0]
        scd_src.where(F.col("user_id") == uid).limit(1).withColumn(
            "ts_ms", F.col("ts_ms") + F.lit(40 * 86_400_000)
        ).withColumn(
            "event_type", F.lit("cdc_update")
        ).coalesce(1).write.parquet(tmp + "/scd_src/b2")
        dt = _drain(
            stream_scd2(
                spark.readStream.schema(scd_src.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/scd_src/*"),
                tmp + "/scd_out",
                tmp + "/scd_ckpt",
                order=["ts_ms", "event_id"],
                n_parts=32,
            )
        )
        extra["stream_scd2_rows_per_sec"] = round(n_scd / dt)

        # live KS drift: first-week reference pinned as a distinct-count
        # artifact, the rest of the month as a 4-epoch stream — each
        # epoch re-prices the running KS from mergeable counts
        from time_series_databse_engine_spark.streaming.ingest import (
            stream_ks_drift,
        )

        ks_ev = load_table(spark, SF_DIR, "events").select(
            "event_type", "ts_ms", "value"
        )
        ks_cut = ks_ev.agg(F.min("ts_ms")).collect()[0][0] + 7 * 86_400_000
        ks_ref_vc = (
            ks_ev.where(F.col("ts_ms") < ks_cut)
            .select("event_type", F.col("value").alias("v"))
            .where(F.col("v").isNotNull())
            .groupBy("event_type", "v")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint()
        )
        ks_cur = ks_ev.where(F.col("ts_ms") >= ks_cut)
        n_ks = ks_cur.count()
        ks_cur.repartition(4).write.parquet(tmp + "/ks_src")
        dt = _drain(
            stream_ks_drift(
                spark.readStream.schema(ks_cur.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/ks_src"),
                ks_ref_vc,
                tmp + "/ks_out",
                tmp + "/ks_ckpt",
            )
        )
        extra["stream_ks_drift_rows_per_sec"] = round(n_ks / dt)

        # live conformal threshold: the same events stream re-used as a
        # 4-epoch calibration-score feed — each epoch re-picks every
        # group's ceil((n+1)(1-alpha)) cutoff from mergeable counts
        from time_series_databse_engine_spark.streaming.ingest import (
            stream_conformal,
        )

        dt = _drain(
            stream_conformal(
                spark.readStream.schema(ks_cur.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/ks_src"),
                tmp + "/conf_out",
                tmp + "/conf_ckpt",
                alpha=0.1,
            )
        )
        extra["stream_conformal_rows_per_sec"] = round(n_ks / dt)

        # live embedding drift: even-id half pinned as per-dim centroid
        # artifact, odd-id half streamed in 4 epochs — each epoch
        # re-prices running centroid cosine/norm vs the pin from
        # (group x dim)-sized mergeable moments
        from time_series_databse_engine_spark.streaming.ingest import (
            stream_embedding_drift,
        )

        ed_emb = load_table(spark, SF_DIR, "embeddings")
        ed_ref_cent = (
            ed_emb.where(F.col("vec_id") % 2 == 0)
            .select("label", F.posexplode("embedding").alias("d", "_x"))
            .groupBy("label", "d")
            .agg(F.round(F.avg(F.col("_x").cast("double")), 6).alias("mr"))
            .localCheckpoint()
        )
        ed_cur = ed_emb.where(F.col("vec_id") % 2 == 1)
        n_ed = ed_cur.count()
        ed_cur.repartition(4).write.parquet(tmp + "/ed_src")
        dt = _drain(
            stream_embedding_drift(
                spark.readStream.schema(ed_cur.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(tmp + "/ed_src"),
                ed_ref_cent,
                tmp + "/ed_out",
                tmp + "/ed_ckpt",
                group_col="label",
            )
        )
        extra["stream_embedding_drift_rows_per_sec"] = round(n_ed / dt)

        def _ep_bytes(ep: int) -> int:
            import glob as _g

            return sum(
                os.path.getsize(os.path.join(dp, f))
                for d in _g.glob(tmp + f"/scd_out/current/part=*/epoch={ep}")
                for dp, _, fs in os.walk(d)
                for f in fs
            )

        e0, e1 = _ep_bytes(0), _ep_bytes(1)
        extra["stream_scd2_epoch0_snapshot_bytes"] = e0
        extra["stream_scd2_epoch1_write_bytes"] = e1
        extra["stream_scd2_epoch1_write_share"] = round(e1 / max(e0, 1), 4)

        # --- storage efficiency (reference: ~8.2 B/pt)
        nbytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(tmp + "/points")
            for f in fs
            if f.endswith(".parquet")
        )
        extra["storage_bytes_per_point"] = round(nbytes / N_POINTS, 2)

        # --- hot / cold range queries (reference: 1h newest-10% / 24h oldest-50%)
        # the reference's "hot" p99 is a warm-page-cache number (README.md:100);
        # warm the file-listing equivalently so hot vs cold measures data
        # volume (1 h vs 24 h), not first-touch directory listing
        end_ms = START_MS + (N_POINTS - 1) * 1000
        store.query_range(end_ms - 1000, end_ms).count()
        hot_lo = end_ms - int(0.05 * N_POINTS) * 1000
        hot_ts = []
        for _ in range(HOT_RUNS):
            t, n = timed(lambda: store.query_range(hot_lo, hot_lo + 3_600_000).count())
            hot_ts.append(t)
        times["query_hot_1h"] = round(hot_ts[0], 3)
        extra["query_hot_1h_p50"] = round(_pctl(hot_ts, 0.50), 4)
        extra["query_hot_1h_p99"] = round(_pctl(hot_ts, 0.99), 4)
        cold_ts = []
        for _ in range(COLD_RUNS):
            t, n = timed(lambda: store.query_range(START_MS, START_MS + 86_400_000).count())
            cold_ts.append(t)
        times["query_cold_24h"] = round(cold_ts[0], 3)
        extra["query_cold_24h_p50"] = round(_pctl(cold_ts, 0.50), 4)
        extra["query_cold_24h_p99"] = round(_pctl(cold_ts, 0.99), 4)
        # the same ranges through the serving path the reference measures
        # (api.query_points: Arrow read, 10,000-point cap); the rows above
        # stay the Spark DataFrame path
        api_hot = [
            timed(lambda: query_points(store, hot_lo, hot_lo + 3_600_000))[0]
            for _ in range(HOT_RUNS)
        ]
        extra["api_hot_1h_p50"] = round(_pctl(api_hot, 0.50), 4)
        extra["api_hot_1h_p99"] = round(_pctl(api_hot, 0.99), 4)
        api_cold = [
            timed(lambda: query_points(store, START_MS, START_MS + 86_400_000))[0]
            for _ in range(COLD_RUNS)
        ]
        extra["api_cold_24h_p99"] = round(_pctl(api_cold, 0.99), 4)
        # the serving write: 1,000-point batches after the last point
        # through api.ingest_points (Arrow append), into a copy of the
        # store so every other row keeps reading the store it always read
        api_store = TimeSeriesStore(spark, tmp + "/points_api")
        shutil.copytree(store.path, api_store.path)
        api_ingest = []
        for k in range(INGEST_RUNS):
            first = N_POINTS + k * 1_000
            batch = [
                {"metric": "cpu.load.avg", "timestamp": START_MS + i * 1000,
                 "value": 50.0 + 20.0 * math.sin(i / 100.0)}
                for i in range(first, first + 1_000)
            ]
            api_ingest.append(timed(lambda: ingest_points(api_store, batch))[0])
        extra["api_ingest_1k_p50"] = round(_pctl(api_ingest, 0.50), 4)

        # --- concurrent hot queries: the multi-tenant dashboard shape.
        # Spark's scheduler interleaves independent actions from multiple
        # driver threads (FIFO pools), so QPS should exceed 1/p50 — this
        # measures scheduler headroom, the regime the reference's
        # single-threaded FFI loop cannot enter at all.
        from concurrent.futures import ThreadPoolExecutor

        def _one_hot(i):
            lo = START_MS + (i % 24) * 3_600_000
            return store.query_range(lo, lo + 3_600_000).count()

        n_conc = 24
        t0 = time.time()
        with ThreadPoolExecutor(max_workers=8) as ex:
            list(ex.map(_one_hot, range(n_conc)))
        conc_dt = time.time() - t0
        extra["concurrent_hot_qps"] = round(n_conc / conc_dt, 1)

        # --- headline analytical queries at SF_DIR (warmed above)
        # persisted-ANN-index build is a maintenance job (the ingest
        # precedent: stores are built outside the query timings); pay it
        # here once — recorded as build + first probe — so the timed
        # ann_index_probe row is the serving path: a probe against the
        # existing index
        def _index_file_count(prefix):
            # the query has just built its index, so the memo holds its dir
            def unbuilt():
                raise LookupError(f"no {prefix} index for {SF_DIR}")

            root = os.path.join(memo(spark, (SF_DIR, prefix), unbuilt), "index")
            return sum(1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))

        for nm, prefix in (
            ("ann_index_probe", "ann_index_"),
            ("ann_index_append", "ann_index_app_"),
            ("ann_index_compacted", "ann_index_cpt_"),
            # bucket-partitioned MaxSim inverted index: same build-once
            # discipline — pay the build here so the timed row is the
            # pruned serving probe
            ("maxsim_index_probe", "maxsim_index_"),
            ("maxsim_index_append", "maxsim_index_app_"),
            ("maxsim_index_compacted", "maxsim_index_cpt_"),
        ):
            if nm not in queries:
                continue
            t, _ = timed(
                lambda: queries[nm](spark, SF_DIR)
                .write.format("noop").mode("overwrite").save()
            )
            extra[f"{nm}_build_first_probe_sec"] = round(t, 3)
            extra[f"{nm}_files"] = _index_file_count(prefix)
        # the append index is the compacted index's pre-compaction state
        # (same build + same epoch batch), so files(append) vs
        # files(compacted) IS the before/after compaction file count the
        # probe-latency rows below are measured against
        for name, fn in queries.items():
            t, _ = timed(lambda: fn(spark, SF_DIR).write.format("noop").mode("overwrite").save())
            times[name] = round(t, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    extra.update({f"ctx_{k}": v for k, v in machine_context(cpu_start).items()})
    extra.update({f"ctx_{k}": v for k, v in session_context(spark).items()})
    emit(times, extra, warmup_errors)


DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_DETAIL",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
)
SUMMARY_LIMIT = 2000  # driver stdout capture window


def emit(times: dict[str, float], extra: dict[str, float], warmup_errors: dict[str, str]) -> None:
    """Full detail to DETAIL_PATH, with ``warmup_errors`` ({query: repr of
    the exception} of the warm-up runs); a <=2,000-char summary as the FINAL
    stdout line (the only part the driver reliably captures)."""
    total = round(sum(times.values()), 3)
    detail = {
        "metric": "suite_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": SF_DIR,
        "extra": extra,
    }
    with open(DETAIL_PATH, "w") as fh:
        json.dump({**detail, "warmup_errors": warmup_errors}, fh, indent=1, sort_keys=True)
    slowest = dict(
        sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    summary = dict(detail)
    summary["queries"] = slowest
    summary["n_queries"] = len(times)
    summary["detail"] = os.path.basename(DETAIL_PATH)
    line = json.dumps(summary)
    while len(line) > SUMMARY_LIMIT and summary["queries"]:
        # hard cap: shed the cheapest of the listed queries first
        summary["queries"].pop(min(summary["queries"], key=summary["queries"].get))
        line = json.dumps(summary)
    print(line)


def run_one(name: str) -> None:
    """Worker for --isolate: time NAME alone in this fresh session
    (one sf0.001 warm-up run outside the timing, like the suite)."""
    spark = get_spark(app_name=f"bench-iso-{name}")
    fn = lookup(name)
    warmup_errors = {}
    try:
        fn(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as e:
        warmup_errors[name] = repr(e)
    t, _ = timed(
        lambda: fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    )
    print(json.dumps({"query": name, "isolated_sec": round(t, 3), "warmup_errors": warmup_errors}))


def run_isolated(names: list[str]) -> None:
    """One fresh subprocess (and so one fresh JVM + SparkSession) per
    query: no shared session state, no position tax."""
    import subprocess

    out: dict[str, float] = {}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True,
            text=True,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            out[name] = json.loads(last)["isolated_sec"]
        except (json.JSONDecodeError, KeyError):
            out[name] = -1.0
            sys.stderr.write(f"--isolate {name} failed:\n{proc.stderr[-2000:]}\n")
    print(
        json.dumps(
            {
                "metric": "isolated_sec",
                "sf": SF_DIR,
                "queries": out,
                "ctx": machine_context(None),
            }
        )
    )


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--one":
        run_one(sys.argv[2])
    elif len(sys.argv) >= 3 and sys.argv[1] == "--isolate":
        run_isolated([n for n in sys.argv[2].split(",") if n])
    else:
        main()
