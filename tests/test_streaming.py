"""Structured Streaming: file source → watermark → windows → sinks,
driven synchronously with processAllAvailable/availableNow."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from time_series_databse_engine_spark import TimeSeriesStore
from time_series_databse_engine_spark.sources import load_table
from time_series_databse_engine_spark.streaming import (
    sessionized_counts,
    stream_events,
    stream_to_store,
    windowed_counts,
)


@pytest.fixture(scope="module")
def staged_events(spark, sf_dir):
    d = tempfile.mkdtemp()
    load_table(spark, sf_dir, "events").drop("ts_ns", "ts_ms").coalesce(2).write.mode(
        "overwrite"
    ).parquet(d + "/src")
    yield d + "/src"
    shutil.rmtree(d)


def test_windowed_counts(spark, staged_events, sf_dir):
    stream = stream_events(spark, staged_events)
    q = (
        windowed_counts(stream, "1 hour", "10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT sum(n) AS n FROM win_counts").collect()[0].n
    batch = load_table(spark, sf_dir, "events")
    # append mode emits only watermark-closed windows; the final (max-ts)
    # window may be withheld, so compare against the closable prefix
    total = batch.count()
    assert got is not None and 0 < got <= total
    assert got >= total * 0.9


def test_sessionized_counts(spark, staged_events):
    stream = stream_events(spark, staged_events)
    q = (
        sessionized_counts(stream, "30 minutes", "10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_counts")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_counts").collect()
    assert rows and all(r.session_end_ms > r.session_start_ms for r in rows)


def test_stream_to_store(spark, staged_events):
    d = tempfile.mkdtemp()
    try:
        store = TimeSeriesStore(spark, d + "/points")
        stream = stream_events(spark, staged_events)
        q = stream_to_store(stream, store, d + "/ckpt").start()
        q.awaitTermination(120)
        n = store.points().count()
        src = spark.read.parquet(staged_events).count()
        assert n == src
    finally:
        shutil.rmtree(d)


def test_stream_to_store_refreshes_rollup(spark, tmp_path, staged_events):
    store = TimeSeriesStore(spark, str(tmp_path / "store"))
    q = stream_to_store(
        stream_events(spark, staged_events),
        store,
        str(tmp_path / "ckpt"),
        rollup_bucket="1 hour",
    ).start()
    q.awaitTermination(120)
    live = sorted(tuple(r) for r in store.downsample("1 hour").collect())
    mat = sorted(tuple(r) for r in store.rollup("1 hour").collect())
    assert live and mat == live


def test_ingest_epoch_replay_is_exactly_once(spark, tmp_path):
    """The idempotent-writer contract, attacked three ways: a clean
    re-run of the same epoch converges to one copy; leftover files from
    a simulated crashed attempt are swept; a DIFFERENT epoch of the same
    data appends (epoch keying, not content dedup)."""
    import glob
    import os
    import shutil

    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "points"))
    pts = spark.createDataFrame(
        [("cpu", 1_700_000_000_000 + i * 1000, float(i)) for i in range(100)],
        "metric string, ts_ms long, value double",
    )
    store.ingest_epoch(pts, epoch_id=7, target_partitions=2)
    assert store.points().count() == 100
    # replay after the checkpoint-commit hole: same epoch, same data
    store.ingest_epoch(pts, epoch_id=7, target_partitions=2)
    assert store.points().count() == 100  # converged, not duplicated
    # simulated crash mid-move: a stray partial file from an old attempt
    victim = glob.glob(str(tmp_path / "points" / "hour_bucket=*" / "epoch7-*"))[0]
    shutil.copy(victim, victim.replace("epoch7-part", "epoch7-aaaa"))
    store._invalidate()
    assert store.points().count() > 100  # the partial duplicate is visible
    store.ingest_epoch(pts, epoch_id=7, target_partitions=2)
    assert store.points().count() == 100  # replay swept it
    # a different epoch is an append, not a dedup
    store.ingest_epoch(pts, epoch_id=8, target_partitions=2)
    assert store.points().count() == 200


def test_stream_to_store_checkpointless_replay_no_duplicates(
    spark, tmp_path, staged_events
):
    """Full-stream replay (checkpoint wiped — every epoch re-fires with
    the same ids): the exactly-once sink converges to the source count
    instead of doubling it."""
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "points"))
    src = spark.read.parquet(staged_events).count()
    for _ in range(2):
        q = stream_to_store(
            stream_events(spark, staged_events), store, str(tmp_path / "ckpt")
        ).start()
        q.awaitTermination(120)
        shutil.rmtree(str(tmp_path / "ckpt"))
        assert store.points().count() == src


def test_stream_to_store_writes_one_file_per_hour_per_epoch(spark, tmp_path):
    """Three one-file epochs, each spanning two hours and five metrics:
    every hour partition holds exactly one data file per epoch that
    touched it, also after a checkpoint-wiped replay.  A fixed shuffle
    count would spread an hour's five metrics over several files."""
    import datetime as dt
    import glob
    import os
    import time
    from collections import Counter

    from time_series_databse_engine_spark.streaming.ingest import EVENT_SCHEMA

    H = 3_600
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    src = str(tmp_path / "src")
    now = time.time()
    for e in range(3):
        rows = [
            (e * 1_000 + i, dt.datetime.fromtimestamp(t0 + (e + i % 2) * H + i, dt.timezone.utc),
             i % 7, f"m{i % 5}", float(i), None)
            for i in range(200)
        ]
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(f"{src}/b{e}")
        for f in glob.glob(f"{src}/b{e}/*.parquet"):
            os.utime(f, (now - 30 + 10 * e, now - 30 + 10 * e))
    store = TimeSeriesStore(spark, str(tmp_path / "points"))

    def files_per_hour_and_epoch():
        names = glob.glob(str(tmp_path / "points" / "hour_bucket=*" / "epoch*.parquet"))
        return Counter(
            (os.path.basename(os.path.dirname(f)), os.path.basename(f).split("-", 1)[0])
            for f in names
        )

    for _ in range(2):
        stream = spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 1).parquet(
            src + "/*"
        )
        q = stream_to_store(stream, store, str(tmp_path / "ckpt")).start()
        q.awaitTermination(120)
        q.stop()
        counts = files_per_hour_and_epoch()
        # epoch e touches hours e and e + 1, so 6 (hour, epoch) pairs
        assert len(counts) == 6 and set(counts.values()) == {1}, counts
        assert store.points().count() == 600
        shutil.rmtree(str(tmp_path / "ckpt"))


def test_stream_stream_join_matches_batch(spark, staged_events, sf_dir):
    from time_series_databse_engine_spark.streaming import stream_stream_join

    clicks = stream_events(spark, staged_events).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, staged_events).filter(
        F.col("event_type") == "purchase"
    )
    q = (
        stream_stream_join(clicks, purchases, by="user_id", max_delay="1 hour")
        .select("event_id", "l_ts", "ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n FROM ssj").collect()[0].n

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase")
    batch = p.join(
        c,
        (F.col("cu") == F.col("user_id"))
        & (F.col("cts") <= F.col("ts"))
        & (F.col("cts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
    ).count()
    # watermark may withhold pairs near the stream tail; everything emitted
    # must be a real pair, and coverage should be near-complete
    assert 0 < got <= batch
    assert got >= batch * 0.8


def test_replayed_batch_dedupes_via_compact(spark, tmp_path):
    """The documented at-least-once recovery path: a replayed micro-batch
    duplicates its appended points; compact(dedupe=True) restores
    exactly-once counts without touching distinct values."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "replay"))
    batch = spark.range(100).select(
        F.lit("m").alias("metric"),
        (F.col("id") * 1000).alias("ts_ms"),
        F.col("id").cast("double").alias("value"),
    )
    store.ingest(batch, target_partitions=2)
    store.ingest(batch, target_partitions=2)  # simulated epoch replay
    assert store.query_range(0, 10**12).count() == 200
    store.compact(dedupe=True)
    out = store.query_range(0, 10**12)
    assert out.count() == 100
    assert out.select("ts_ms").distinct().count() == 100


def test_windowed_distinct_users_tracks_batch_distinct(spark, staged_events, sf_dir):
    """Streaming per-window approx distinct users lands within HLL error
    of the batch exact distinct for the closable windows."""
    from time_series_databse_engine_spark.streaming import (
        stream_events,
        windowed_distinct_users,
    )

    stream = stream_events(spark, staged_events)
    q = (
        windowed_distinct_users(stream, "1 hour", "10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("win_distinct")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.bucket_ms, r.event_type): r.approx_users
        for r in spark.sql("SELECT * FROM win_distinct").collect()
    }
    assert got, "no closed windows emitted"
    e = load_table(spark, sf_dir, "events")
    exact = {
        (r.bucket_ms, r.event_type): r.exact
        for r in e.groupBy(
            (F.col("ts_ms") - F.col("ts_ms") % 3_600_000).alias("bucket_ms"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    for k, approx in got.items():
        assert k in exact
        assert abs(approx - exact[k]) <= max(2, 0.15 * exact[k]), (k, approx, exact[k])


def test_enrich_stream_static_broadcast_join(spark):
    import shutil
    import tempfile

    from time_series_databse_engine_spark.streaming.ingest import enrich_stream

    d = tempfile.mkdtemp()
    try:
        schema = "metric string, ts_ms long, value double"
        spark.createDataFrame(
            [("cpu", 1000, 1.0), ("mem", 2000, 2.0), ("unknown", 3000, 9.0)], schema
        ).coalesce(1).write.parquet(d + "/src/b1")
        dim = spark.createDataFrame(
            [("cpu", "infra"), ("mem", "infra"), ("orders", "business")],
            "metric string, team string",
        )
        stream = spark.readStream.schema(schema).parquet(d + "/src/*")
        q = (
            enrich_stream(stream, dim, on="metric")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("enriched")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = {r.metric: r.team for r in spark.sql("SELECT * FROM enriched").collect()}
        # left enrichment: matches tagged, misses survive with null team
        assert rows == {"cpu": "infra", "mem": "infra", "unknown": None}
    finally:
        shutil.rmtree(d)
