"""The API's Arrow append (``TimeSeriesStore.append_points`` behind
``api.ingest_points``) against the Spark write it replaces
(``TimeSeriesStore.ingest``): the same rows in the same partitions, files
Spark reads back, the rewrites working on top, and the commit's failure
and concurrency behaviour."""

import math
import os
import random
import sys
import threading
from collections import Counter

import pyarrow.parquet as pq
import pytest

from time_series_databse_engine_spark import TimeSeriesStore, commit, tsdb
from time_series_databse_engine_spark.api import ingest_points, query_points

SCHEMA = "metric string, ts_ms long, value double"
COL = tsdb.BUCKET_COL


def _df(spark, pts):
    return spark.createDataFrame(pts, SCHEMA)


def _api(store, pts):
    return ingest_points(store, [{"metric": m, "timestamp": t, "value": v} for m, t, v in pts])


def _stored(store):
    """Every stored (metric, ts_ms, value, bucket) row, as a multiset."""
    rows = store.points().select("metric", "ts_ms", "value", COL).collect()
    return Counter(tuple(r) for r in rows)


def _read(store, start, end, limit=None):
    t = store.read_points(start, end, limit=limit)
    return list(zip(*(t.column(c).to_pylist() for c in ("metric", "ts_ms", "value"))))


def _part_dirs(store):
    return sorted(e for e in os.listdir(store.path) if e.startswith(COL + "="))


def _data_files(store):
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(store.path)
        for f in fs
        if f.endswith(".parquet")
    }


def _snapshot(store):
    """Path → bytes of every file in the store and its sibling dirs."""
    parent = os.path.dirname(store.path)
    out = {}
    for d, _, fs in os.walk(parent):
        for f in fs:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), parent)] = fh.read()
    return out


# ------------------------------------------------------- bucket formula
def _trap_points(width):
    """Timestamps whose double quotient ts / width rounds onto the next
    bucket boundary (above 2^53 doubles are 2 apart), beside plain ones,
    negative ones and bucket edges."""
    k = -(-(2**53) // width)  # first bucket boundary above 2^53
    big = [k * width - 1, -(k * width + 1)]
    for t in big:
        assert math.floor(float(t) / float(width)) != t // width
    plain = [0, 5, width - 1, width, -1, -width, -width - 1, -3 * width + 7]
    return [("m", t, float(i)) for i, t in enumerate(big + plain)]


def test_bucket_is_exact_floor_division_on_both_writers(spark, tmp_path):
    width = tsdb.SHARD_DURATION_MS
    pts = _trap_points(width)
    spark_store = TimeSeriesStore(spark, str(tmp_path / "spark" / "s"))
    spark_store.ingest(_df(spark, pts), target_partitions=2)
    api_store = TimeSeriesStore(spark, str(tmp_path / "api" / "s"))
    _api(api_store, pts)
    want_dirs = sorted({f"{COL}={t // width}" for _, t, _ in pts})
    for store in (spark_store, api_store):
        assert _part_dirs(store) == want_dirs
        for m, t, v in pts:
            assert _read(store, t, t) == [(m, t, v)], t
            got = store.query_range(t, t).select("metric", "ts_ms", "value").collect()
            assert [tuple(r) for r in got] == [(m, t, v)], t


# ------------------------------------------------------ write-path parity
def _batch(rng, width, n):
    offsets = [0, 1, width - 1, rng.randrange(width)]
    pts = [
        (rng.choice("abc"), rng.randrange(-2, 3) * width + rng.choice(offsets), rng.uniform(-5, 5))
        for _ in range(n)
    ]
    return pts + pts[: n // 5]  # exact duplicates, as a retried request sends


def test_api_writes_match_spark_ingest(spark, tmp_path):
    width = tsdb.SHARD_DURATION_MS
    rng = random.Random("hour")
    spark_store = TimeSeriesStore(spark, str(tmp_path / "spark" / "s"))
    api_store = TimeSeriesStore(spark, str(tmp_path / "api" / "s"))
    for n in (1, 40, 300):
        pts = _batch(rng, width, n)
        spark_store.ingest(_df(spark, pts), target_partitions=3)
        before = _data_files(api_store) if os.path.isdir(api_store.path) else set()
        assert _api(api_store, pts) == {"status": "success", "points_ingested": len(pts)}

        # one file per touched bucket, sorted by (metric, ts_ms), every row
        # in its own bucket, read by Spark with the store's fixed schema
        new = _data_files(api_store) - before
        bucket_of = {f: int(os.path.basename(os.path.dirname(f)).split("=")[1]) for f in new}
        assert sorted(bucket_of.values()) == sorted({t // width for _, t, _ in pts})
        for f in new:
            t = pq.read_table(f)
            rows = list(zip(*(t.column(c).to_pylist() for c in ("metric", "ts_ms", "value"))))
            assert [(m, ts) for m, ts, _ in rows] == sorted((m, ts) for m, ts, _ in rows)
            assert {ts // width for _, ts, _ in rows} == {bucket_of[f]}
            by_spark = spark.read.schema(tsdb.POINT_SCHEMA).parquet(f).collect()
            assert [tuple(r) for r in by_spark] == rows

        assert _stored(api_store) == _stored(spark_store)
        assert _part_dirs(api_store) == _part_dirs(spark_store)
        ranges = [(-3 * width, 4 * width, None), (-width, width - 1, 7), (1, 1, None)]
        for start, end, limit in ranges:
            got, want = _read(api_store, start, end, limit), _read(spark_store, start, end, limit)
            assert [(m, t) for m, t, _ in got] == [(m, t) for m, t, _ in want]
            if limit is None:
                assert sorted(got) == sorted(want)


def test_null_timestamp_is_filed_as_spark_files_it(spark, tmp_path):
    """A null ``ts_ms`` goes under ``__HIVE_DEFAULT_PARTITION__`` on both
    writers, so it hides none of its batch's valid points."""
    width = tsdb.SHARD_DURATION_MS
    batches = [
        [("m", None, 1.0), ("m", 5, 2.0)],
        [("m", None, 3.0), ("n", None, 4.0), ("m", width + 1, 5.0), (None, 6, None)],
        [("m", None, 6.0)],
    ]
    spark_store = TimeSeriesStore(spark, str(tmp_path / "spark" / "s"))
    api_store = TimeSeriesStore(spark, str(tmp_path / "api" / "s"))
    for pts in batches:
        spark_store.ingest(_df(spark, pts), target_partitions=2)
        m, t, v = zip(*pts)
        api_store.append_points(list(m), list(t), list(v))
        assert _part_dirs(api_store) == _part_dirs(spark_store)
        assert _stored(api_store) == _stored(spark_store)
    assert _part_dirs(api_store) == [f"{COL}=0", f"{COL}=1", f"{COL}=__HIVE_DEFAULT_PARTITION__"]
    want = [("m", 5, 2.0), (None, 6, None), ("m", width + 1, 5.0)]
    for store in (api_store, spark_store):
        assert _read(store, 0, 2 * width) == want
        assert _read(store, 0, 10) == want[:2]
        got = store.query_range(0, 2 * width).select("metric", "ts_ms", "value").collect()
        assert [tuple(r) for r in got] == want
    assert api_store.points().count() == sum(map(len, batches))


def test_arrow_file_is_no_larger_than_spark_file(spark, tmp_path):
    """A 1,000-point single-hour API batch, the serving benchmark's write."""
    rng = random.Random(7)
    t0 = 1_704_067_200_000
    pts = [("cpu.load.avg", t0 + 1_000 * i, 50.0 + 20.0 * math.sin(i / 100.0) + rng.uniform(-1, 1))
           for i in range(1_000)]
    spark_store = TimeSeriesStore(spark, str(tmp_path / "spark" / "s"))
    spark_store.ingest(_df(spark, pts))
    api_store = TimeSeriesStore(spark, str(tmp_path / "api" / "s"))
    _api(api_store, pts)
    (arrow_file,), spark_files = _data_files(api_store), _data_files(spark_store)
    assert len(spark_files) == 1
    assert os.path.getsize(arrow_file) <= os.path.getsize(spark_files.pop())


def test_rewrites_and_stats_on_a_store_built_by_the_api(spark, tmp_path):
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    model = Counter()
    batches = [
        [("a", h * H + i, float(i)) for h in range(3) for i in range(0, 50, 5)],
        [("b", h * H + i, -float(i)) for h in (1, 2) for i in range(10)],
        [("a", 5, 1.0), ("a", 5, 1.0)],  # a duplicate pair
    ]
    for pts in batches:
        _api(store, pts)
        model.update(pts)

    def check():
        assert Counter((m, t, v) for m, t, v, _ in _stored(store).elements()) == model
        got = _read(store, -H, 4 * H)
        assert sorted(got) == sorted(model.elements())

    check()
    stats = store.stats()
    assert stats["rows"] == sum(model.values())
    assert stats["partitions"] == 3
    assert stats["files"] == 3 + 2 + 1  # one per touched hour per batch

    new = [("a", 5, 9.0), ("b", 2 * H + 3, 7.0)]
    store.upsert(_df(spark, new), target_partitions=2)
    model = Counter({k: c for k, c in model.items() if k[:2] not in {p[:2] for p in new}})
    model.update(new)
    check()

    n = sum(c for (m, t, _), c in model.items() if m == "b" and H <= t <= H + 4)
    assert store.purge("b", H, H + 4) == n == 5
    model = Counter({k: c for k, c in model.items() if not (k[0] == "b" and H <= k[1] <= H + 4)})
    check()

    _api(store, [("a", 5, 9.0), ("c", 3 * H, 1.0)])  # append after the rewrites
    model.update([("a", 5, 9.0), ("c", 3 * H, 1.0)])
    check()
    store.compact(target_partitions=2, dedupe=True)
    model = Counter({k: 1 for k in model})
    check()
    assert store.stats()["rows"] == len(model)


# ------------------------------------------------------------ robustness
@pytest.mark.parametrize(
    "bad",
    [
        {"metric": "m", "timestamp": 7, "value": "not-a-number"},
        {"metric": "m", "timestamp": "noon", "value": 1.0},
        {"metric": "m", "timestamp": 2**63, "value": 1.0},  # beyond int64
    ],
)
def test_bad_point_raises_and_leaves_the_store_unchanged(spark, tmp_path, bad):
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    _api(store, [("m", 1, 1.0), ("m", 3_600_001, 2.0)])
    before = _snapshot(store)
    good = [{"metric": "m", "timestamp": 10 + i, "value": float(i)} for i in range(5)]
    with pytest.raises((ValueError, OverflowError)):
        ingest_points(store, good[:2] + [bad] + good[2:])
    assert _snapshot(store) == before
    fresh = TimeSeriesStore(spark, str(tmp_path / "fresh" / "s"))
    with pytest.raises((ValueError, OverflowError)):
        ingest_points(fresh, [bad])
    assert not os.path.exists(os.path.dirname(fresh.path))


def test_concurrent_api_writes_all_land(spark, tmp_path):
    """More writers than cores, released together, each batch spanning the
    same three hours: every batch lands whole, no staging is left."""
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    metrics, rounds, n = "uvwxyz", 2, 300
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for r in range(rounds):
            barrier = threading.Barrier(len(metrics))
            errors = []

            def write(metric, r=r, barrier=barrier, errors=errors):
                try:
                    barrier.wait(timeout=60)
                    _api(store, [(metric, r * 10 + i * (H // 100), float(i)) for i in range(n)])
                except Exception as e:  # surfaced below
                    errors.append(e)

            threads = [threading.Thread(target=write, args=(m,)) for m in metrics]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
                assert not t.is_alive()
            assert errors == []
    finally:
        sys.setswitchinterval(switch)
    for metric in metrics:
        got = query_points(store, -H, 10 * H, metric=metric, limit=10**6)["points"]
        assert len(got) == rounds * n
    assert store.points().count() == len(metrics) * rounds * n
    assert os.listdir(tmp_path) == ["s"]


def test_leftover_append_staging_is_never_read_and_vacuumed(spark, tmp_path, monkeypatch):
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    _api(store, [("m", h * H + 1, float(h)) for h in range(3)])

    # a crash between staging and the move-in leaves the staged files
    def crash(*a, **k):
        raise OSError("crash before the move-in")

    monkeypatch.setattr(commit, "move_in", crash)
    with pytest.raises(OSError, match="crash"):
        _api(store, [("m", h * H + 2, 10.0 + h) for h in range(3)])
    monkeypatch.undo()
    (leftover,) = [e for e in os.listdir(tmp_path) if e.startswith("s.append-")]
    assert leftover.endswith("-tmp")
    assert sorted(os.listdir(tmp_path / leftover)) == [f"hour_bucket={h}" for h in range(3)]

    want = [("m", h * H + 1, float(h)) for h in range(3)]
    assert _read(store, 0, 3 * H) == want
    by_spark = store.query_range(0, 3 * H).select("metric", "ts_ms", "value").collect()
    assert [tuple(r) for r in by_spark] == want
    assert store.vacuum() == 1
    assert [e for e in os.listdir(tmp_path)] == ["s"]
    assert _read(store, 0, 3 * H) == want


def test_api_write_starts_no_spark_job(spark, tmp_path):
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    sc = spark.sparkContext
    sc.setJobGroup("append-no-job", "api write")
    try:
        _api(store, [("m", i * 1_000_000, float(i)) for i in range(20)])
        query_points(store, 0, 10**9)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("append-no-job")) == []
    assert store.points().count() == 20
