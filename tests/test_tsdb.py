"""Reference-parity tests: the fixtures and assertions of the reference's
own suites (engine/test_engine.cpp:28-62, tests/test_api.py:37-66) run
against the Parquet-backed store."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from time_series_databse_engine_spark import TimeSeriesStore
from time_series_databse_engine_spark.tsdb import BUCKET_COL

CPP_FIXTURE = [  # engine/test_engine.cpp:28-35 — 5 points across 3 hour-shards
    ("cpu.load.avg", 1000, 10.0),
    ("cpu.load.avg", 2000, 20.0),
    ("cpu.load.avg", 3_600_000, 30.0),
    ("cpu.load.avg", 4_000_000, 40.0),
    ("cpu.load.avg", 8_000_000, 50.0),
]


@pytest.fixture(scope="module")
def store(spark):
    d = tempfile.mkdtemp()
    s = TimeSeriesStore(spark, d + "/points")
    s.ingest(
        spark.createDataFrame(CPP_FIXTURE, "metric string, ts_ms long, value double"),
        target_partitions=2,
    )
    yield s
    shutil.rmtree(d)


def test_single_shard_range(store):
    rows = store.query_range(0, 3000).collect()  # test_engine.cpp:45-48
    assert [(r.ts_ms, r.value) for r in rows] == [(1000, 10.0), (2000, 20.0)]


def test_cross_shard_range(store):
    rows = store.query_range(1500, 3_700_000).collect()  # test_engine.cpp:51-54
    assert [(r.ts_ms, r.value) for r in rows] == [(2000, 20.0), (3_600_000, 30.0)]


def test_full_range_count(store):
    assert store.query_range(0, 9_000_000).count() == 5  # test_engine.cpp:57-58


def test_empty_range(store):
    assert store.query_range(12_000_000, 13_000_000).count() == 0  # :61-62


def test_inclusive_bounds_api_fixture(spark):
    # tests/test_api.py:37-57 — query [100,250] over 4 points excludes 300
    d = tempfile.mkdtemp()
    try:
        s = TimeSeriesStore(spark, d + "/points")
        pts = [("m", 100, 10.0), ("m", 150, 15.0), ("m", 200, 20.0), ("m", 300, 30.0)]
        s.ingest(spark.createDataFrame(pts, "metric string, ts_ms long, value double"))
        rows = s.query_range(100, 250).collect()
        assert [(r.ts_ms, r.value) for r in rows] == [(100, 10.0), (150, 15.0), (200, 20.0)]
    finally:
        shutil.rmtree(d)


def test_limit_truncation(store):
    # api/main.py:85 caps at 10k; semantics = top-n in ts order
    assert store.query_range(0, 9_000_000, limit=3).count() == 3


def test_metric_filter(spark):
    d = tempfile.mkdtemp()
    try:
        s = TimeSeriesStore(spark, d + "/points")
        pts = [("a", 1000, 1.0), ("b", 1000, 2.0), ("a", 2000, 3.0)]
        s.ingest(spark.createDataFrame(pts, "metric string, ts_ms long, value double"))
        rows = s.query_range(0, 10_000, metrics=["a"]).collect()
        assert [r.value for r in rows] == [1.0, 3.0]
    finally:
        shutil.rmtree(d)


def test_partition_pruning_in_plan(store):
    plan = store.query_range(0, 3000)._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate must reach the scan as a partition filter
    assert BUCKET_COL in plan


def test_downsample(store):
    rows = {r.bucket_ms: r.n for r in store.downsample("1 hour").collect()}
    assert rows == {0: 2, 3_600_000: 2, 7_200_000: 1}


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    import glob

    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "c"))
    # two appends into the same hours -> at least 2 files per touched bucket
    for batch in range(2):
        store.ingest(
            spark.createDataFrame(
                [("m", t * 1000 + batch, float(t)) for t in range(0, 7200, 60)],
                "metric string, ts_ms long, value double",
            ),
            target_partitions=4,
        )
    before_files = glob.glob(str(tmp_path / "c" / "hour_bucket=*" / "*.parquet"))
    before_data = sorted(tuple(r) for r in store.points().select("metric", "ts_ms", "value").collect())
    store.compact(target_partitions=2)
    after_files = glob.glob(str(tmp_path / "c" / "hour_bucket=*" / "*.parquet"))
    after_data = sorted(tuple(r) for r in store.points().select("metric", "ts_ms", "value").collect())
    assert len(after_files) < len(before_files)
    assert after_data == before_data


def test_expire_drops_only_old_partitions(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "e"))
    store.ingest(
        spark.createDataFrame(
            [("m", 1000, 1.0), ("m", 3_600_500, 2.0), ("m", 7_300_000, 3.0)],
            "metric string, ts_ms long, value double",
        )
    )
    # cutoff mid-bucket-1: only bucket 0 (ends 3.6e6) is fully expired
    assert store.expire(5_000_000) == 1
    left = sorted(r.ts_ms for r in store.points().collect())
    assert left == [3_600_500, 7_300_000]
    # exact-boundary cutoff expires bucket 1 (ends exactly 7.2e6)
    assert store.expire(7_200_000) == 1
    assert [r.ts_ms for r in store.points().collect()] == [7_300_000]
    assert store.expire(2_000_000) == 0


def test_compact_empty_store_is_noop(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "nope"))
    store.compact()
    assert store.expire(10**15) == 0


def test_compact_dedupe_collapses_retried_batch(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "d"))
    batch = spark.createDataFrame(
        [("m", 1000, 1.0), ("m", 2000, 2.0), ("n", 1000, 9.0)],
        "metric string, ts_ms long, value double",
    )
    store.ingest(batch)
    store.ingest(batch)  # retried batch -> exact duplicates
    assert store.points().count() == 6
    store.compact(dedupe=True)
    pts = sorted(tuple(r) for r in store.points().select("metric", "ts_ms", "value").collect())
    assert pts == [("m", 1000, 1.0), ("m", 2000, 2.0), ("n", 1000, 9.0)]


def test_rollup_matches_on_the_fly_downsample(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "r"))
    store.ingest(
        spark.createDataFrame(
            [("m", t * 60_000, float(t % 7)) for t in range(0, 26 * 60)],  # 26h of minutes
            "metric string, ts_ms long, value double",
        )
    )
    store.materialize_rollup("1 hour")
    live = sorted(tuple(r) for r in store.downsample("1 hour").collect())
    mat = sorted(tuple(r) for r in store.rollup("1 hour").collect())
    assert mat == live

    # incremental refresh: new points in the last day only
    store.ingest(
        spark.createDataFrame(
            [("m", 25 * 3_600_000 + 30_000, 99.0)], "metric string, ts_ms long, value double"
        )
    )
    store.materialize_rollup("1 hour", since_ms=25 * 3_600_000)
    live2 = sorted(tuple(r) for r in store.downsample("1 hour").collect())
    mat2 = sorted(tuple(r) for r in store.rollup("1 hour").collect())
    assert mat2 == live2
    assert mat2 != mat


def test_rollup_range_serves_pruned_window(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "r2"))
    store.ingest(
        spark.createDataFrame(
            [("m", h * 3_600_000, float(h)) for h in range(50)],
            "metric string, ts_ms long, value double",
        )
    )
    store.materialize_rollup("1 hour")
    got = store.rollup("1 hour", start_ms=0, end_ms=10 * 3_600_000 - 1)
    assert got.count() == 10
    # fallback path when no materialization exists for the bucket
    assert store.rollup("5 minutes").count() == 50


def test_ingest_layouts_equivalent(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    batch = spark.createDataFrame(
        [(f"m{i % 3}", i * 120_000, float(i)) for i in range(200)],
        "metric string, ts_ms long, value double",
    )
    a = TimeSeriesStore(spark, str(tmp_path / "hash"))
    a.ingest(batch, layout="hash")
    b = TimeSeriesStore(spark, str(tmp_path / "range"))
    b.ingest(batch, layout="range")
    pa = sorted(tuple(r) for r in a.points().select("metric", "ts_ms", "value").collect())
    pb = sorted(tuple(r) for r in b.points().select("metric", "ts_ms", "value").collect())
    assert pa == pb and len(pa) == 200


def test_tier_and_expire_keeps_rollup_coverage(spark, tmp_path):
    """Retention with tiering: after tier_and_expire, raw partitions older
    than the cutoff are gone, recent raw points remain, and the expired
    range is still answerable from the rollup at bucket resolution."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark import TimeSeriesStore

    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "tier"))
    pts = spark.range(6 * 60).select(
        F.lit("m").alias("metric"),
        (F.col("id") * 60_000).alias("ts_ms"),   # one point/min over 6 hours
        F.col("id").cast("double").alias("value"),
    )
    store.ingest(pts, target_partitions=4)
    dropped = store.tier_and_expire(before_ms=3 * H)
    assert dropped == 3                               # hours 0,1,2 gone
    assert store.query_range(0, 3 * H - 1).count() == 0       # raw expired
    assert store.query_range(3 * H, 6 * H).count() == 3 * 60  # raw kept
    # expired range still served at rollup resolution with exact aggregates
    r = {row.bucket_ms: row for row in store.rollup("1 hour", 0, 3 * H - 1).collect()}
    assert set(r) == {0, H, 2 * H}
    assert r[0].n == 60 and r[0].sum_value == sum(range(60))


def test_purge_deletes_only_matches_and_scopes_rewrite(spark, tmp_path):
    import os

    from time_series_databse_engine_spark import TimeSeriesStore

    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "p"))
    rows = (
        [("keep", i * 1000, 1.0) for i in range(5)]            # bucket 0
        + [("gone", i * 1000, 2.0) for i in range(5)]          # bucket 0
        + [("keep", H + i * 1000, 3.0) for i in range(5)]      # bucket 1 (no match)
        + [("solo", 2 * H + i * 1000, 4.0) for i in range(5)]  # bucket 2, only metric
    )
    store.ingest(
        spark.createDataFrame(rows, "metric string, ts_ms long, value double")
    )
    untouched = os.path.join(str(tmp_path / "p"), "hour_bucket=1")
    mtime_before = os.path.getmtime(untouched)

    assert store.purge("gone") == 5
    got = {(r.metric, r.ts_ms) for r in store.points().collect()}
    assert all(m != "gone" for m, _ in got)
    assert len(got) == 15
    # partition with no matches was never rewritten
    assert os.path.getmtime(untouched) == mtime_before

    # purging the only metric of a bucket removes the partition dir
    assert store.purge("solo") == 5
    assert not os.path.isdir(os.path.join(str(tmp_path / "p"), "hour_bucket=2"))
    assert store.points().count() == 10

    # time-bounded purge is inclusive on both ends; misses return 0
    assert store.purge("keep", start_ms=1000, end_ms=2000) == 2
    assert store.purge("nosuch") == 0
    assert store.query_range(0, 10 * H).count() == 8


def test_vacuum_removes_only_stale_staging_dirs(spark, tmp_path):
    import os

    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "p"))
    store.ingest(
        spark.createDataFrame(
            [("m", 1000, 1.0)], "metric string, ts_ms long, value double"
        )
    )
    # simulate crashed rewrites + an unrelated sibling that must survive
    for d in ("p.compact-tmp", "p.purge-tmp", "p.epoch-7-tmp", "p-other"):
        os.makedirs(tmp_path / d)
    assert store.vacuum() == 3
    assert not os.path.isdir(tmp_path / "p.compact-tmp")
    assert os.path.isdir(tmp_path / "p-other")
    assert store.points().count() == 1  # table untouched
    assert store.vacuum() == 0


def test_ingest_checked_publishes_good_and_rejects_bad(spark, tmp_path):
    import os

    import pytest

    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "p"))
    good = spark.createDataFrame(
        [("m", 1000, 1.0), ("m", 2000, 2.0)], "metric string, ts_ms long, value double"
    )
    m = store.ingest_checked(good, ts_bounds_ms=(0, 10_000))
    assert m["published"] and m["rows"] == 2 and m["null_values"] == 0
    assert store.points().count() == 2

    # a batch with nulls fails the audit and must leave the table untouched
    bad = spark.createDataFrame(
        [("m", 3000, None), ("m", 4000, 4.0)], "metric string, ts_ms long, value double"
    )
    with pytest.raises(ValueError, match="null fraction"):
        store.ingest_checked(bad, max_null_frac=0.0)
    assert store.points().count() == 2
    assert not os.path.isdir(str(tmp_path / "p") + ".wap-tmp")

    # out-of-bounds timestamps are the late/future-clock guard
    skew = spark.createDataFrame(
        [("m", 99_999_999, 1.0)], "metric string, ts_ms long, value double"
    )
    with pytest.raises(ValueError, match="ts range"):
        store.ingest_checked(skew, ts_bounds_ms=(0, 10_000))
    assert store.points().count() == 2


def test_stats_reports_table_health(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "p"))
    assert store.stats() == {
        "partitions": 0, "files": 0, "bytes": 0, "rows": 0,
        "bytes_per_row": 0.0, "files_per_partition": 0.0,
    }
    store.ingest(
        spark.createDataFrame(
            [("m", i * 1000, float(i)) for i in range(100)]
            + [("m", 3_600_000 + i, 1.0) for i in range(5)],
            "metric string, ts_ms long, value double",
        )
    )
    s = store.stats()
    assert s["partitions"] == 2 and s["rows"] == 105
    assert s["files"] >= 2 and s["bytes"] > 0
    assert s["bytes_per_row"] > 0


@pytest.mark.parametrize("op", ["compact", "upsert"])
def test_swap_crash_then_vacuum_keeps_every_row(spark, tmp_path, monkeypatch, op):
    """A rewrite whose process dies inside the partition swap — the
    second partition's move-in fails — then ``vacuum()``: every row is
    still readable.  The interrupted partition lives only in its
    move-aside (or, without one, only in the staging dir vacuum sweeps),
    so recovery must restore it before the sweep."""
    import os

    H = 3_600_000
    schema = "metric string, ts_ms long, value double"
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    store.ingest(
        spark.createDataFrame(
            [("m", h * H + i, float(i)) for h in range(3) for i in range(5)], schema
        ),
        target_partitions=2,
    )

    def keys():
        return sorted((r.metric, r.ts_ms) for r in store.points().collect())

    before = keys()

    real_move, calls = shutil.move, []

    def crash_on_second_move(src, dst, *a, **k):
        calls.append(src)
        if len(calls) == 2:
            raise OSError("simulated crash mid-swap")
        return real_move(src, dst, *a, **k)

    monkeypatch.setattr(shutil, "move", crash_on_second_move)
    with pytest.raises(OSError, match="simulated crash"):
        if op == "compact":
            store.compact(target_partitions=2)
        else:  # corrects one existing point in every hour
            store.upsert(
                spark.createDataFrame([("m", h * H + 1, 99.0) for h in range(3)], schema)
            )
    monkeypatch.setattr(shutil, "move", real_move)

    store.vacuum()
    assert keys() == before
    assert not [e for e in os.listdir(store.path) if e.startswith(".compact-old-")]
    store.compact()  # the healed table rewrites normally
    assert keys() == before


def test_unreadable_store_raises_instead_of_reading_as_empty(spark, tmp_path):
    """Only a missing path means "no data": a store whose only data file
    is garbage makes compact() raise, where a swallowed error would
    return as if the store were empty."""
    part = tmp_path / "bad" / "hour_bucket=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"not a parquet file" * 8)
    store = TimeSeriesStore(spark, str(tmp_path / "bad"))
    with pytest.raises(Exception, match="(?i)parquet"):
        store.compact()
    assert (part / "part-00000.parquet").exists()


def test_corrupt_rollup_raises_instead_of_falling_back(spark, tmp_path):
    import glob

    store = TimeSeriesStore(spark, str(tmp_path / "r"))
    store.ingest(
        spark.createDataFrame(
            [("m", t * 60_000, 1.0) for t in range(120)], "metric string, ts_ms long, value double"
        )
    )
    store.materialize_rollup("1 hour")
    for f in glob.glob(store._rollup_path("1 hour") + "/day_bucket=*/*.parquet"):
        with open(f, "r+b") as fh:  # clobber the footer and its magic bytes
            fh.seek(-12, 2)
            fh.write(b"\0" * 12)
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        store.rollup("1 hour").collect()
