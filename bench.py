"""Benchmark harness — one compact JSON line to stdout, full detail to a file.

Mirrors the reference benchmark (benchmark.py: 1 M sinusoid points, hot
1-hour / cold 24-hour range queries, storage efficiency — BASELINE.md)
plus this engine's headline analytical queries at $SPARK_GRAFT_SF_DIR:
``BENCH_QUERIES``, the ``__spark_entry__.REGISTRY`` rows flagged ``bench``.
The warm-up, the timed loop and ``--one`` all build a query through
``__spark_entry__.queries()[name]``, so bench.py times exactly the code
the oracle gate checks, and keeps no builders of its own.

It measures through ``perfbench/harness.py`` and keeps no copy of it:
nearest-rank ``percentile`` for the hot/cold rows, ``HostSampler`` for
the host's contention (the ``ctx_*`` extras, and each query's steal
fraction) and ``SparkStats`` for each timed query's Spark counters.

Driver contract (VERDICT r6 "Next round" #1): the grading driver captures
only the FINAL ~2,000 characters of stdout, so the last line printed is a
compact summary — suite total, the extras, and the slowest queries —
hard-capped at ``SUMMARY_LIMIT`` characters (it sheds the cheapest listed
queries first, then extras).  The complete record goes to
$SPARK_GRAFT_BENCH_DETAIL (default BENCH_DETAIL.json beside this file),
whose path the summary carries:

  {"metric": "suite_sec", "value": <total>, "unit": "sec", "sf": <dir>,
   "queries": {...slowest...}, "extra": {...}, "n_queries": N,
   "detail": "BENCH_DETAIL.json"}

The detail file adds every query time, ``warmup_errors`` ({query: repr of
the warm-up's exception}) and ``layers``: per timed query, which runs
under its own Spark job group, ``build_ms`` (the Python builder) plus
``run_ms`` (the noop-sink run), the host's ``steal_frac`` over those two,
and the group's ``jobs``, ``stages``, ``tasks``, ``task_run_ms``,
``task_cpu_ms``, ``shuffle_bytes``, ``spill_bytes`` and ``input_rows``.
A row's ``steal_frac`` is tick-quantized: ``/proc/stat`` counts 100 ticks
per CPU-second, so on 4 CPUs one tick is 0.008 of a 300 ms query, and a
sub-second query reads 0 or a multiple of that.  It is not a per-query
gate; a steal gate needs the run's ``ctx_steal_frac`` or a sum over
queries.

Isolated-timing mode (VERDICT r6 "Next round" #7): in-suite session-state
position tax distorts per-query comparisons by up to ~1 s at sf0.1
(SCALE.md).  ``python bench.py --isolate q1,q2`` re-times each named query
in a FRESH subprocess+SparkSession (warmed up at the smallest scale first,
like the suite) and prints one JSON line: ``queries`` holds the isolated
seconds of the queries that ran, ``errors`` the stderr tail of each that
failed, and ``layers`` each one's row as above.  ``--one NAME`` is the
per-subprocess worker entry point.
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

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from perfbench.harness import HostSampler, SparkStats, percentile
from time_series_databse_engine_spark import TimeSeriesStore, get_spark
from time_series_databse_engine_spark.api import ingest_points, query_points
from time_series_databse_engine_spark.operators._util import memo

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# the warm-up's scale: the smallest one beside SF_DIR
WARM_SF_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")
N_POINTS = 1_000_000  # reference workload size (benchmark.py:11)
START_MS = 1_700_000_000_000


# The timed queries: every registry row flagged ``bench``, in registry
# order.  A production variant worth timing is a registry row of its own
# (as column_profile_fast is), never a builder kept here.
BENCH_QUERIES = [q.name for q in entry_mod.REGISTRY if q.bench]

# repeated-run latency distribution for the reference's hot/cold point
# queries (benchmark.py:98-124 reports p99 over 100 runs; 40/20 runs keep
# the suite under its time budget while still pinning the tail)
HOT_RUNS = 40
COLD_RUNS = 20
INGEST_RUNS = 20


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def timed_calls(fn, n: int) -> tuple[list[float], list[float]]:
    """Wall and process-CPU seconds of each of ``fn(0)`` .. ``fn(n - 1)``.
    On a shared host wall time moves with steal; CPU time is what the
    serving benchmark bounds."""
    wall, cpu = [], []
    for k in range(n):
        t0, c0 = time.perf_counter(), time.process_time()
        fn(k)
        cpu.append(time.process_time() - c0)
        wall.append(time.perf_counter() - t0)
    return wall, cpu


def pct_extras(prefix: str, secs: list[float], ps=(50, 99)) -> dict[str, float]:
    """``{prefix}_p50``, ``{prefix}_p99``: nearest-rank percentiles of
    ``secs``, in seconds to 0.1 ms."""
    return {f"{prefix}_p{p}": round(percentile(secs, p), 4) for p in ps}


def run_noop(df) -> None:
    """Run ``df`` to its last row through the noop sink, which keeps none."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, names) -> dict[str, str]:
    """Run each query once at WARM_SF_DIR, so one-time JVM codegen and
    Python-worker spawn stay out of every timing (the reference's numbers
    are likewise warm steady state, README.md:100).  Returns {query: repr
    of the exception} of the runs that failed."""
    errors = {}
    for name in names:
        try:
            run_noop(entry_mod.queries()[name](spark, WARM_SF_DIR))
        except Exception as e:
            errors[name] = repr(e)
    return errors


def time_query(spark, stats: SparkStats, name: str) -> tuple[float, dict]:
    """Build and run query ``name`` at SF_DIR under job group ``name``;
    return its seconds and its ``layers`` row.  The group's counters are
    read right after the run, because the status store keeps only the
    last 1,000 jobs."""
    spark.sparkContext.setJobGroup(name, name)
    host = HostSampler()
    t0 = time.perf_counter()
    df = entry_mod.queries()[name](spark, SF_DIR)
    t1 = time.perf_counter()
    run_noop(df)
    t2 = time.perf_counter()
    steal = host.read()["steal_frac"]
    stats.settle()
    counters = stats.group(name)
    counters["task_cpu_ms"] = round(counters["task_cpu_ms"], 1)
    row = {"build_ms": round((t1 - t0) * 1e3, 1), "run_ms": round((t2 - t1) * 1e3, 1)}
    return round(t2 - t0, 3), {**row, "steal_frac": steal, **counters}


def _parquet_rows(path: str) -> int:
    """Rows of the parquet files in ``path``, from their footers."""
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def stream_legs(spark, tmp: str, pts) -> dict[str, float]:
    """The streaming extras.  Each leg stages its source as parquet files
    under ``tmp``, opens a ``readStream`` over them with a
    ``maxFilesPerTrigger`` cap, and drains it through one sink; its extra
    is the source's rows over the drain's wall-clock, checkpoint commits
    included.  The maintenance legs run against state built before the
    drain (an index, a reference artifact), so the number is the
    steady-state per-epoch cost, not a build.  Sizes are the sf tables'
    own: small at sf0.1, so these are fixed-cost-per-epoch floors."""
    from time_series_databse_engine_spark.operators.similarity import ivf_index_write
    from time_series_databse_engine_spark.operators.text import maxsim_index_write
    from time_series_databse_engine_spark.sources import load_table
    from time_series_databse_engine_spark.streaming import ingest as si
    from time_series_databse_engine_spark.streaming.stateful import heavy_hitters_stream

    ev = load_table(spark, SF_DIR, "events")
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")
    ivf_index_write(emb.filter(F.col("vec_id") % 2 == 0), tmp + "/maint_ann", n_cells=16)
    maxsim_index_write(
        docs.filter(F.col("doc_id") % 2 == 0), tmp + "/maint_ms", dim=64, chunk_size=30
    )
    # KS drift pins the first week as a distinct-count reference and
    # streams the rest of the month; embedding drift pins the even-id
    # half's per-dim centroids and streams the odd-id half
    ks_cut = ev.agg(F.min("ts_ms")).collect()[0][0] + 7 * 86_400_000
    ks_ref = (
        ev.where(F.col("ts_ms") < ks_cut)
        .select("event_type", F.col("value").alias("v"))
        .where(F.col("v").isNotNull())
        .groupBy("event_type", "v")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint()
    )
    ed_ref = (
        emb.where(F.col("vec_id") % 2 == 0)
        .select("label", F.posexplode("embedding").alias("d", "_x"))
        .groupBy("label", "d")
        .agg(F.round(F.avg(F.col("_x").cast("double")), 6).alias("mr"))
        .localCheckpoint()
    )
    # SCD2: epoch 0 builds the full dimension, epoch 1 is one key's CDC
    # update, the steady-state trickle shape
    scd = ev.select("user_id", "event_type", "ts_ms", "event_id")
    uid = scd.agg(F.min("user_id")).collect()[0][0]
    cdc = (
        scd.where(F.col("user_id") == uid)
        .limit(1)
        .withColumn("ts_ms", F.col("ts_ms") + F.lit(40 * 86_400_000))
        .withColumn("event_type", F.lit("cdc_update"))
    )
    # name: batches, written in turn as parquet files; a source of more
    # than one batch is read as one dir per batch, in mtime order
    sources = {
        "points": [pts.select("metric", F.timestamp_millis("ts_ms").alias("ts"), "value").repartition(8)],
        "emb_odd": [emb.filter(F.col("vec_id") % 2 == 1).repartition(4)],
        "docs_odd": [docs.filter(F.col("doc_id") % 2 == 1).repartition(4)],
        "pages": [docs.select("doc_id", F.expr(entry_mod._CRAWL_PLANT).alias("html")).repartition(4)],
        "trend": [ev.select("event_id", "user_id", "ts_ms").repartition(4)],
        "burn": [ev.select("ts_ms", (F.col("event_type") == "error").alias("is_err")).repartition(4)],
        "scd": [scd.coalesce(4), cdc.coalesce(1)],
        "ks": [ev.select("event_type", "ts_ms", "value").where(F.col("ts_ms") >= ks_cut).repartition(4)],
    }
    staged = {}  # name: (read path, schema, rows of the first batch)
    for name, batches in sources.items():
        path = f"{tmp}/src_{name}"
        dirs = [path] if len(batches) == 1 else [f"{path}/b{i}" for i in range(len(batches))]
        for i, (df, d) in enumerate(zip(batches, dirs)):
            if i:
                time.sleep(1.1)  # distinct mtimes pin the micro-batch order
            df.write.parquet(d)
        staged[name] = (path if len(batches) == 1 else path + "/*", batches[0].schema, _parquet_rows(dirs[0]))

    legs = [  # (extra key, source, files per trigger, sink(stream, out dir) -> writer)
        ("stream_ingest_rows_per_sec", "points", 2, lambda s, o: si.stream_to_store(
            s, TimeSeriesStore(spark, o), o + "_ckpt", metric_col="metric")),
        # applyInPandasWithState Misra-Gries heavy hitters: Arrow state
        # round-trips per micro-batch, the cost of every custom stateful op
        ("stream_stateful_rows_per_sec", "points", 2, lambda s, o: heavy_hitters_stream(
            s, item_col="metric", k=8, n_buckets=8).writeStream.outputMode("update")
            .format("noop").option("checkpointLocation", o + "_ckpt")),
        ("stream_maintain_ann_rows_per_sec", "emb_odd", 1, lambda s, o: si.maintain_ann_index(
            s, tmp + "/maint_ann", o + "_ckpt")),
        ("stream_maintain_maxsim_rows_per_sec", "docs_odd", 1, lambda s, o: si.maintain_maxsim_index(
            s, tmp + "/maint_ms", o + "_ckpt")),
        ("stream_clean_crawl_pages_per_sec", "pages", 1, lambda s, o: si.stream_clean_crawl(
            s, o, o + "_ckpt", min_visible_ppm=350_000, quality_threshold=0.5)),
        ("stream_decayed_topk_rows_per_sec", "trend", 1, lambda s, o: si.stream_decayed_topk(
            s, o, o + "_ckpt", keys=["user_id"], half_life_ms=86_400_000, k=20)),
        ("stream_burn_rate_rows_per_sec", "burn", 1, lambda s, o: si.stream_burn_rate(
            s, o, o + "_ckpt")),
        ("stream_scd2_rows_per_sec", "scd", 1, lambda s, o: si.stream_scd2(
            s, o, o + "_ckpt", order=["ts_ms", "event_id"], n_parts=32)),
        ("stream_ks_drift_rows_per_sec", "ks", 1, lambda s, o: si.stream_ks_drift(
            s, ks_ref, o, o + "_ckpt")),
        ("stream_conformal_rows_per_sec", "ks", 1, lambda s, o: si.stream_conformal(
            s, o, o + "_ckpt", alpha=0.1)),
        ("stream_embedding_drift_rows_per_sec", "emb_odd", 1, lambda s, o: si.stream_embedding_drift(
            s, ed_ref, o, o + "_ckpt", group_col="label")),
    ]
    extra = {}
    for key, name, per_trigger, sink in legs:
        path, schema, rows = staged[name]
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", per_trigger).parquet(path)
        writer = sink(stream, f"{tmp}/{key}")
        t0 = time.perf_counter()
        sq = writer.start()
        # drains the default trigger of the heavy-hitters leg as well as
        # the available-now trigger of the others, which end by themselves
        sq.processAllAvailable()
        sq.stop()
        dt = time.perf_counter() - t0
        extra[key] = round(rows / dt)
        if key == "stream_ingest_rows_per_sec":
            extra["stream_ingest_sec"] = round(dt, 3)

    # SCD2 with the hash-partitioned snapshot: epoch 1's bytes written
    # must scale with the partitions it touches, not the dimension
    def epoch_bytes(ep: int) -> int:
        import glob

        return sum(
            os.path.getsize(os.path.join(dp, f))
            for d in glob.glob(f"{tmp}/stream_scd2_rows_per_sec/current/part=*/epoch={ep}")
            for dp, _, fs in os.walk(d)
            for f in fs
        )

    e0, e1 = epoch_bytes(0), epoch_bytes(1)
    extra["stream_scd2_epoch0_snapshot_bytes"] = e0
    extra["stream_scd2_epoch1_write_bytes"] = e1
    extra["stream_scd2_epoch1_write_share"] = round(e1 / max(e0, 1), 4)
    return extra


def session_context(spark) -> dict[str, object]:
    """The LIVE session's core count and master (VERDICT r12 "Next
    round" #2): the machine's CPU count is 32 regardless of
    ``$SPARK_GRAFT_CPUS``, which made the driver's core-scaling probe
    read as if the contract were ignored.  The session honors it
    (session.py: master ``local[$SPARK_GRAFT_CPUS]``, shuffle partitions
    likewise); report that from the SparkContext itself so an 8-core run
    *shows* 8."""
    sc = spark.sparkContext
    return {
        "session_cores": sc.defaultParallelism,
        "session_master": sc.master,
    }


def main():
    host = HostSampler()
    spark = get_spark(app_name="bench")
    stats = SparkStats(spark)
    times: dict[str, float] = {}
    extra: dict[str, float] = {}
    layers: dict[str, dict] = {}

    tmp = tempfile.mkdtemp(prefix="bench_store_")
    try:
        warm = TimeSeriesStore(spark, tmp + "/warm")
        warm.ingest(spark.range(1000).select(
            F.lit("w").alias("metric"),
            (F.lit(START_MS) + F.col("id") * 1000).alias("ts_ms"),
            F.rand(1).alias("value"),
        ))
        warmup_errors = warm_up(spark, BENCH_QUERIES)

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

        extra.update(stream_legs(spark, tmp, pts))

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
        hot_ts = [
            timed(lambda: store.query_range(hot_lo, hot_lo + 3_600_000).count())[0]
            for _ in range(HOT_RUNS)
        ]
        times["query_hot_1h"] = round(hot_ts[0], 3)
        extra.update(pct_extras("query_hot_1h", hot_ts))
        cold_ts = [
            timed(lambda: store.query_range(START_MS, START_MS + 86_400_000).count())[0]
            for _ in range(COLD_RUNS)
        ]
        times["query_cold_24h"] = round(cold_ts[0], 3)
        extra.update(pct_extras("query_cold_24h", cold_ts))
        # the same ranges through the serving path the reference measures
        # (api.query_points: Arrow read, 10,000-point cap); the rows above
        # stay the Spark DataFrame path.  api_*_cpu: the same calls'
        # process CPU time
        api_hot, api_hot_cpu = timed_calls(
            lambda _: query_points(store, hot_lo, hot_lo + 3_600_000), HOT_RUNS
        )
        extra.update(pct_extras("api_hot_1h", api_hot))
        extra.update(pct_extras("api_hot_1h_cpu", api_hot_cpu))
        api_cold, api_cold_cpu = timed_calls(
            lambda _: query_points(store, START_MS, START_MS + 86_400_000), COLD_RUNS
        )
        extra.update(pct_extras("api_cold_24h", api_cold, ps=(99,)))
        extra.update(pct_extras("api_cold_24h_cpu", api_cold_cpu, ps=(99,)))
        # the serving write: 1,000-point batches after the last point
        # through api.ingest_points (Arrow append), into a copy of the
        # store so every other row keeps reading the store it always read
        api_store = TimeSeriesStore(spark, tmp + "/points_api")
        shutil.copytree(store.path, api_store.path)
        batches = [
            [
                {"metric": "cpu.load.avg", "timestamp": START_MS + i * 1000,
                 "value": 50.0 + 20.0 * math.sin(i / 100.0)}
                for i in range(first, first + 1_000)
            ]
            for first in range(N_POINTS, N_POINTS + INGEST_RUNS * 1_000, 1_000)
        ]
        api_ingest, api_ingest_cpu = timed_calls(
            lambda k: ingest_points(api_store, batches[k]), INGEST_RUNS
        )
        extra.update(pct_extras("api_ingest_1k", api_ingest, ps=(50,)))
        extra.update(pct_extras("api_ingest_1k_cpu", api_ingest_cpu, ps=(50,)))

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
            if nm not in BENCH_QUERIES:
                continue
            t, _ = timed(lambda: run_noop(entry_mod.queries()[nm](spark, SF_DIR)))
            extra[f"{nm}_build_first_probe_sec"] = round(t, 3)
            extra[f"{nm}_files"] = _index_file_count(prefix)
        # the append index is the compacted index's pre-compaction state
        # (same build + same epoch batch), so files(append) vs
        # files(compacted) IS the before/after compaction file count the
        # probe-latency rows below are measured against
        for name in BENCH_QUERIES:
            times[name], layers[name] = time_query(spark, stats, name)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    _, la5, la15 = os.getloadavg()
    ctx = {**host.read(), "loadavg_5m": round(la5, 2), "loadavg_15m": round(la15, 2)}
    extra.update({f"ctx_{k}": v for k, v in {**ctx, **session_context(spark)}.items()})
    emit(times, extra, warmup_errors, layers)


DETAIL_PATH = os.environ.get(
    "SPARK_GRAFT_BENCH_DETAIL",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"),
)
SUMMARY_LIMIT = 2000  # driver stdout capture window


def emit(
    times: dict[str, float],
    extra: dict[str, object],
    warmup_errors: dict[str, str],
    layers: dict[str, dict],
) -> None:
    """Everything to DETAIL_PATH; a summary of at most SUMMARY_LIMIT
    characters as the FINAL stdout line (the only part the driver reliably
    captures).  The summary lists the ten slowest queries and sheds, while
    it is too long, the cheapest listed query and then the last extra."""
    head = {
        "metric": "suite_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": SF_DIR,
    }
    detail = {**head, "queries": times, "extra": extra, "warmup_errors": warmup_errors,
              "layers": layers}
    with open(DETAIL_PATH, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    shown = dict(sorted(times.items(), key=lambda kv: kv[1], reverse=True)[:10])
    kept = dict(extra)
    summary = {**head, "queries": shown, "extra": kept, "n_queries": len(times),
               "detail": os.path.basename(DETAIL_PATH)}
    line = json.dumps(summary)
    while len(line) > SUMMARY_LIMIT and (shown or kept):
        if shown:
            shown.pop(min(shown, key=shown.get))
        else:
            kept.popitem()
        line = json.dumps(summary)
    print(line)


def run_one(name: str) -> None:
    """Worker for --isolate: warm NAME up and time it alone in this fresh
    session, as the suite does."""
    spark = get_spark(app_name=f"bench-iso-{name}")
    warmup_errors = warm_up(spark, [name])
    t, row = time_query(spark, SparkStats(spark), name)
    print(json.dumps({"query": name, "isolated_sec": t, "layers": row, "warmup_errors": warmup_errors}))


def run_isolated(names: list[str]) -> None:
    """One fresh subprocess (and so one fresh JVM + SparkSession) per
    query: no shared session state, no position tax."""
    import subprocess

    host = HostSampler()
    out = {"metric": "isolated_sec", "sf": SF_DIR, "queries": {}, "errors": {}, "layers": {},
           "warmup_errors": {}}
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name],
            capture_output=True,
            text=True,
        )
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        try:
            rec = json.loads(last)
            out["queries"][name] = rec["isolated_sec"]
        except (json.JSONDecodeError, KeyError):
            out["errors"][name] = proc.stderr[-2000:]
            continue
        out["layers"][name] = rec["layers"]
        out["warmup_errors"].update(rec["warmup_errors"])
    print(json.dumps({**out, "ctx": host.read()}))


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--one":
        run_one(sys.argv[2])
    elif len(sys.argv) >= 3 and sys.argv[1] == "--isolate":
        run_isolated([n for n in sys.argv[2].split(",") if n])
    else:
        main()
