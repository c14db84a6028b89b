"""The API's Arrow read (``TimeSeriesStore.read_points``) against the
Spark read it replaces: the same rows as ``query_range(...).collect()``,
the same files visible, the same errors."""

import itertools
import os
import shutil
from collections import Counter

import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from time_series_databse_engine_spark import TimeSeriesStore, tsdb
from time_series_databse_engine_spark.api import ingest_points, query_points

SCHEMA = "metric string, ts_ms long, value double"
METRICS = ["a", "b", "c"]


def _rows(table: pa.Table) -> list[tuple]:
    return list(zip(*(table.column(c).to_pylist() for c in ("metric", "ts_ms", "value"))))


def assert_parity(store, start, end, metrics=None, limit=None):
    """``read_points`` equals ``query_range`` + collect row for row.  Rows
    that share (metric, ts_ms) have no defined order, so each such group
    compares as a multiset; a group the limit cuts may keep any of its
    rows, so there both sides must be drawn from the uncut group."""
    got = _rows(store.read_points(start, end, metrics, limit))
    spark_rows = store.query_range(start, end, metrics, limit).select("metric", "ts_ms", "value")
    want = [tuple(r) for r in spark_rows.collect()]
    assert [(m, t) for m, t, _ in got] == [(m, t) for m, t, _ in want]

    def groups(rows):
        out: dict[tuple, Counter] = {}
        for m, t, v in rows:
            out.setdefault((m, t), Counter())[v] += 1
        return out

    g_got, g_want = groups(got), groups(want)
    cut = (got[-1][0], got[-1][1]) if limit is not None and got and len(got) == limit else None
    for key, values in g_want.items():
        if key != cut:
            assert g_got[key] == values, key
    if cut is not None:
        full = groups(_rows(store.read_points(start, end, metrics)))[cut]
        assert not g_got[cut] - full and not g_want[cut] - full


def _df(spark, pts):
    return spark.createDataFrame(pts, SCHEMA)


# ----------------------------------------------------------- property test
def _points(width):
    offset = st.one_of(st.sampled_from([0, 1, width - 1]), st.integers(0, width - 1))
    ts = st.builds(lambda b, o: b * width + o, st.integers(-1, 3), offset)
    value = st.floats(allow_nan=False, allow_infinity=False, width=32)
    return st.lists(st.tuples(st.sampled_from(METRICS), ts, value), min_size=1, max_size=25)


def _ops(width):
    pts = _points(width)
    bound = st.none() | st.integers(-width, 4 * width)
    return st.lists(
        st.one_of(
            st.tuples(st.just("ingest"), pts),
            st.tuples(st.just("epoch"), pts, st.integers(0, 2)),
            st.tuples(st.just("upsert"), pts),
            st.tuples(st.just("purge"), st.sampled_from(METRICS), bound, bound),
            st.tuples(st.just("compact")),
            st.tuples(st.just("expire"), st.integers(-width, 4 * width)),
        ),
        max_size=3,
    )


def _apply(spark, store, op):
    kind = op[0]
    if kind == "ingest":
        store.ingest(_df(spark, op[1]), target_partitions=2)
    elif kind == "epoch":
        store.ingest_epoch(_df(spark, op[1]), op[2], target_partitions=2)
    elif kind == "upsert":
        store.upsert(_df(spark, op[1]), target_partitions=2)
    elif kind == "purge":
        store.purge(op[1], op[2], op[3], target_partitions=2)
    elif kind == "compact":
        store.compact(target_partitions=2, dedupe=True)
    else:
        store.expire(op[1])


@pytest.mark.parametrize("layout", ["hour", "date"])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_read_points_matches_query_range(spark, tmp_path_factory, layout, data):
    width = TimeSeriesStore.LAYOUTS[layout][1]
    store = TimeSeriesStore(spark, str(tmp_path_factory.mktemp("p") / "s"), bucket=layout)
    base = data.draw(_points(width), label="base")
    store.ingest(_df(spark, base), target_partitions=2)
    for op in data.draw(_ops(width), label="ops"):
        _apply(spark, store, op)
    # bounds on points, next to them, on bucket edges, at 0 and below it
    edges = [t + d for _, t, _ in base for d in (-1, 0, 1)]
    edges += [b * width + d for b in range(-1, 5) for d in (-1, 0)] + [0, -5]
    bound = st.one_of(st.sampled_from(edges), st.integers(-2 * width, 5 * width))
    metrics = st.none() | st.lists(st.sampled_from(METRICS + ["zz"]), min_size=1, max_size=2)
    limit = st.none() | st.sampled_from([0, 1]) | st.integers(2, 30)
    for _ in range(4):
        assert_parity(
            store,
            data.draw(bound, label="start"),
            data.draw(bound, label="end"),
            data.draw(metrics, label="metrics"),
            data.draw(limit, label="limit"),
        )


QUERY_SHAPES = [(None, None), (["a"], None), (["a", "c"], 3), (None, 0), (None, 1), (None, 5)]


@pytest.mark.parametrize("layout", ["hour", "date"])
def test_read_points_parity_after_every_write(spark, tmp_path, layout):
    """One store taken through every write path; after each, a grid of
    ranges (empty, inverted, on points, across bucket edges, negative
    start) × metrics × limits must match Spark."""
    W = TimeSeriesStore.LAYOUTS[layout][1]
    store = TimeSeriesStore(spark, str(tmp_path / "s"), bucket=layout)
    grid = itertools.product("ab", range(3), (0, 1, 7, W - 1))
    base = [(m, b * W + o, float(i)) for i, (m, b, o) in enumerate(grid)]
    base += [("a", 0, 99.0), ("a", 0, 99.0), ("b", 7, -1.0)]  # duplicates, ts 0
    ranges = [
        (5, 4), (2, 6), (0, 0), (-W, 0), (-3, W), (1, W - 1), (W - 1, W),
        (W - 1, 2 * W), (0, 3 * W), (-W, 10 * W), (7, 7),
    ]
    steps = [
        ("ingest", lambda: store.ingest(_df(spark, base), target_partitions=2)),
        ("ingest_epoch", lambda: store.ingest_epoch(
            _df(spark, [("c", W + 3, 1.5), ("a", 1, 2.5), ("a", 1, 2.5)]), 4, target_partitions=2
        )),
        ("upsert", lambda: store.upsert(
            _df(spark, [("a", 1, -7.0), ("b", 2 * W, 8.0)]), target_partitions=2
        )),
        ("purge", lambda: store.purge("b", W, 2 * W)),
        ("compact", lambda: store.compact(target_partitions=2, dedupe=True)),
        ("expire", lambda: store.expire(W)),
    ]
    for k, (name, write) in enumerate(steps):
        write()
        if name == "ingest_epoch":
            assert any(f.startswith("epoch4-") for _, _, fs in os.walk(store.path) for f in fs)
        # two query shapes per range, rotated so every pairing comes up
        for i, (start, end) in enumerate(ranges):
            for j in (i + k, i + k + 3):
                assert_parity(store, start, end, *QUERY_SHAPES[j % len(QUERY_SHAPES)])


# ------------------------------------------------------ visibility, errors
@pytest.fixture()
def three_hours(spark, tmp_path):
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    store.ingest(
        _df(spark, [("m", h * H + i, float(h * 10 + i)) for h in range(3) for i in range(5)]),
        target_partitions=2,
    )
    return store


def test_read_ignores_hidden_files_asides_and_staging(spark, three_hours):
    store, H = three_hours, 3_600_000
    before = _rows(store.read_points(0, 3 * H))
    part = os.path.join(store.path, "hour_bucket=1")
    data_file = next(f for f in os.listdir(part) if f.endswith(".parquet"))
    # garbage under every name the file index skips: a read of any would raise
    for name in ("_SUCCESS", ".x.crc", "_common_metadata", data_file + "._COPYING_"):
        with open(os.path.join(part, name), "wb") as f:
            f.write(b"not parquet" * 4)
    # an interrupted swap's aside and a sibling staging dir hold real data
    aside = os.path.join(store.path, ".compact-old-hour_bucket=1")
    shutil.copytree(part, aside)
    staging = store.path + ".compact-tmp/hour_bucket=1"
    os.makedirs(os.path.dirname(staging))
    shutil.copytree(part, staging)
    assert _rows(store.read_points(0, 3 * H)) == before
    assert_parity(store, 0, 3 * H)
    out = query_points(store, 0, 3 * H)
    assert [p["timestamp"] for p in out["points"]] == [t for _, t, _ in before]
    # stray names under the bucket column, each a copy of hour 1: a bucket
    # dir is spelled str(b), as every writer spells it, so none is read
    strays = ["01", "+1", " 1", "1_0", "1.0", "", "abc", "__HIVE_DEFAULT_PARTITION__"]
    for stray in strays:
        shutil.copytree(part, os.path.join(store.path, "hour_bucket=" + stray))
    n_listed = len(os.listdir(store.path))
    # a range of no more buckets than the root has subdirectories opens
    # each bucket dir by name; a wider one parses the listing: both read
    # hours 0-2 only
    assert 4 < n_listed < 21
    for start, end in [(0, 3 * H), (-1, 3 * H - 1), (-H, 20 * H), (-100 * H, 100 * H)]:
        assert _rows(store.read_points(start, end)) == before, (start, end)


def test_garbage_data_file_in_queried_hour_raises(three_hours):
    store, H = three_hours, 3_600_000
    with open(os.path.join(store.path, "hour_bucket=2", "part-garbage.parquet"), "wb") as f:
        f.write(b"not a parquet file" * 8)
    assert len(query_points(store, 0, H - 1)["points"]) == 5  # hour 2 not read
    with pytest.raises(pa.ArrowInvalid, match="(?i)parquet"):
        query_points(store, 0, 3 * H)


def test_missing_store_reads_empty_and_negative_limit_raises(spark, tmp_path):
    store = TimeSeriesStore(spark, str(tmp_path / "never-written"))
    assert query_points(store, 0, 10_000) == {"metric": "cpu.load.avg", "points": []}
    assert store.read_points(0, 10).schema == tsdb.ARROW_SCHEMA
    with pytest.raises(ValueError, match="limit"):
        query_points(store, 0, 10, limit=-1)


# ------------------------------------------------------------------ writes
def test_empty_ingest_touches_neither_spark_nor_disk(spark, tmp_path, monkeypatch):
    store = TimeSeriesStore(spark, str(tmp_path / "s"))

    def no_write(*a, **k):
        raise AssertionError("empty batch reached the writer")

    monkeypatch.setattr(store, "ingest", no_write)
    monkeypatch.setattr(spark, "createDataFrame", no_write)
    assert ingest_points(store, []) == {"status": "success", "points_ingested": 0}
    assert not os.path.exists(store.path)


def test_ingest_into_fresh_path_then_read(spark, tmp_path):
    """The first write creates the store; refreshing the reader for the
    new path must not fail, and both read paths see the rows."""
    store = TimeSeriesStore(spark, str(tmp_path / "new" / "deeper" / "s"))
    resp = ingest_points(store, [{"metric": "m", "timestamp": 5, "value": 1.0}])
    assert resp["points_ingested"] == 1
    assert query_points(store, 0, 10)["points"] == [{"timestamp": 5, "value": 1.0}]
    assert store.query_range(0, 10).count() == 1


def test_null_timestamp_dir_is_skipped_by_reads_and_expire(spark, tmp_path):
    """Spark files a null ``ts_ms`` under ``hour_bucket=__HIVE_DEFAULT_PARTITION__``:
    it lies in no range and has no age, so the Arrow read and ``expire``
    pass it by, while ``stats`` counts it as ``points()`` does."""
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    store.ingest(_df(spark, [("m", 5, 1.0), ("m", None, 2.0)]), target_partitions=2)
    assert os.path.isdir(os.path.join(store.path, "hour_bucket=__HIVE_DEFAULT_PARTITION__"))
    for start, end in [(0, H), (-10 * H, 10 * H), (0, 0)]:
        assert_parity(store, start, end)
    assert query_points(store, 0, H)["points"] == [{"timestamp": 5, "value": 1.0}]
    stats = store.stats()
    assert (stats["partitions"], stats["files"], stats["rows"]) == (2, 2, 2)
    assert store.expire(2 * H) == 1
    assert store.points().count() == 1
    assert _rows(store.read_points(-10 * H, 10 * H)) == []


def _stat_with_nlink(store, nlink):
    """``os.stat`` reporting ``nlink`` links for the store's root."""
    real = os.stat

    def stat(path, *a, **k):
        st = real(path, *a, **k)
        if os.fspath(path) != store.path:
            return st
        return os.stat_result((st.st_mode, st.st_ino, st.st_dev, nlink, *st[4:10]))

    return stat


def test_bucket_dirs_by_name_and_by_listing_read_the_same(spark, three_hours, monkeypatch):
    """A range of no more buckets than the root has subdirectories opens
    its bucket dirs by name and never lists the root; with a link count
    that counts no subdirectories (btrfs reports 1) every read lists it.
    Both return the rows Spark returns."""
    store, H = three_hours, 3_600_000
    ingest_points(store, [{"metric": "m", "timestamp": 7 * H + 3, "value": 1.0}])  # a gap
    narrow = [(0, 3 * H), (H, H + 2), (-H, 0), (3 * H, 8 * H - 1), (4 * H, 5 * H), (5, 4)]
    wide = [(-H, 8 * H), (-100 * H, 100 * H)]
    for r in narrow + wide:
        assert_parity(store, *r)
    want = {r: _rows(store.read_points(*r)) for r in narrow + wide}
    # subdirectories that hold no bucket: a stray spelling and an aside
    part = os.path.join(store.path, "hour_bucket=1")
    shutil.copytree(part, os.path.join(store.path, "hour_bucket=01"))
    shutil.copytree(part, os.path.join(store.path, ".compact-old-hour_bucket=1"))
    n_dirs = sum(e.is_dir() for e in os.scandir(store.path))
    assert os.stat(store.path).st_nlink - 2 == n_dirs == 6

    listed = []
    real_listdir = os.listdir
    monkeypatch.setattr(os, "listdir", lambda p=".": listed.append(p) or real_listdir(p))
    for r in narrow:
        assert _rows(store.read_points(*r)) == want[r], r
    assert listed == []
    for r in wide:
        assert _rows(store.read_points(*r)) == want[r], r
    assert listed == [store.path] * len(wide)

    listed.clear()
    monkeypatch.setattr(os, "stat", _stat_with_nlink(store, 1))
    for r in narrow + wide:
        assert _rows(store.read_points(*r)) == want[r], r
    assert listed == [store.path] * len(narrow + wide)
    missing = TimeSeriesStore(spark, str(store.path) + "-missing")
    assert _rows(missing.read_points(0, H)) == []
