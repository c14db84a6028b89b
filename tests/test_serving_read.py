"""The serving read's two halves checked against what they replace:
``query_points`` builds exactly the response ``to_pylist()`` built
(value for value, type for type, ``None`` for nulls), and
``read_points`` skips only row groups that hold no row of the range,
decodes ``metric`` only where it holds more than one value, and sorts
only rows that need it.  Neither API call enters the JVM."""

import gc
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from test_read_points import METRICS, _apply, _df, _ops, _points, assert_parity

from time_series_databse_engine_spark import TimeSeriesStore, tsdb
from time_series_databse_engine_spark.api import ingest_points, query_points


def _old_response(store, start, end, metric=None, limit=10_000):
    """``query_points`` as it was built before: one Arrow scalar per value."""
    t = store.read_points(start, end, metrics=[metric] if metric else None, limit=limit)
    ts, values = t.column("ts_ms").to_pylist(), t.column("value").to_pylist()
    return {
        "metric": metric or (t.column("metric")[0].as_py() if t.num_rows else "cpu.load.avg"),
        "points": [{"timestamp": a, "value": v} for a, v in zip(ts, values)],
    }


def assert_same_response(store, start, end, metric=None, limit=10_000):
    got = query_points(store, start, end, metric, limit)
    want = _old_response(store, start, end, metric, limit)
    assert got == want
    # == lets 1 == 1.0 and a numpy scalar pass; repr and type() do not
    def key(out):
        return [
            (repr(p["timestamp"]), type(p["timestamp"]), repr(p["value"]), type(p["value"]))
            for p in out["points"]
        ]

    assert key(got) == key(want)
    assert all(type(p["timestamp"]) is int for p in got["points"])
    assert all(type(p["value"]) in (float, type(None)) for p in got["points"])


@pytest.mark.parametrize("layout", ["hour", "date"])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_response_matches_to_pylist_on_random_stores(spark, tmp_path_factory, layout, data):
    width = TimeSeriesStore.LAYOUTS[layout][1]
    store = TimeSeriesStore(spark, str(tmp_path_factory.mktemp("p") / "s"), bucket=layout)
    base = data.draw(_points(width), label="base")
    store.ingest(_df(spark, base), target_partitions=2)
    for op in data.draw(_ops(width), label="ops"):
        _apply(spark, store, op)
    bound = st.sampled_from([t for _, t, _ in base]) | st.integers(-2 * width, 5 * width)
    for _ in range(4):
        assert_same_response(
            store,
            data.draw(bound, label="start"),
            data.draw(bound, label="end"),
            data.draw(st.none() | st.sampled_from(METRICS), label="metric"),
            data.draw(st.sampled_from([0, 1, 3, 10_000]), label="limit"),
        )


def test_null_values_and_metric_come_back_as_none(spark, tmp_path):
    """``ingest(df)`` stores nulls; a plain ``to_numpy()`` would turn a
    null value into NaN."""
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    pts = [("m", 5, None), ("m", 6, 1.5), (None, 7, 2.5), (None, 8, None), ("m", H + 1, None)]
    pts += [("m", 10 + i, -0.0 if i % 2 else float(i)) for i in range(20)]
    store.ingest(_df(spark, pts), target_partitions=2)
    out = query_points(store, 0, 2 * H)
    assert [p["value"] for p in out["points"][:4]] == [None, 1.5, 2.5, None]
    assert out["points"][-1] == {"timestamp": H + 1, "value": None}
    for start, end, metric, limit in [
        (0, 2 * H, None, 10_000), (0, 2 * H, "m", 10_000), (5, 8, None, 10_000),
        (8, 8, None, 10_000), (0, H, None, 2), (H, 2 * H, "m", 10_000),
    ]:
        assert_same_response(store, start, end, metric, limit)


# ------------------------------------------------------ row-group pruning
ROW_GROUP = 7


def _write_store(root, layout):
    """A store written straight with Arrow, ``ROW_GROUP`` rows per row
    group: per bucket one file sorted by (metric, ts_ms) — the writers'
    order — and, in the first bucket, a second file in shuffled order,
    whose row groups' ts ranges overlap.  The last bucket has a second
    file in ts order whose timestamps repeat across metrics, in
    descending metric order, with a null metric and null values: its
    ``ts_ms`` never decreases, yet its rows still need the sort.  Its
    last row has a null ``ts_ms``, which its row group's statistics
    count."""
    col, width = TimeSeriesStore.LAYOUTS[layout]
    step = width // 40
    files = {}
    for b in range(-1, 2):
        files[(b, "sorted")] = sorted(
            (m, b * width + i * step + (m == "b"), float(b * 100 + i))
            for m in "ab"
            for i in range(0, 40, 2)
        )
    rows = [("a", 3 + 5 * i, float(-i)) for i in range(30)]
    files[(0, "shuffled")] = rows[::3] + rows[1::3] + rows[2::3]
    files[(1, "ties")] = [
        (m, width + (2 * j + 1) * step, v)
        for j in range(5)
        for m, v in (("b", float(j)), (None, None), ("a", -float(j) if j % 2 else None))
    ] + [("a", None, 7.0)]  # a null timestamp: in no range, so never read
    for (b, name), rows in files.items():
        part = os.path.join(root, f"{col}={b}")
        os.makedirs(part, exist_ok=True)
        m, t, v = zip(*rows)
        pq.write_table(
            pa.table({"metric": pa.array(m, pa.string()), "ts_ms": pa.array(t, pa.int64()),
                      "value": pa.array(v, pa.float64())}),
            os.path.join(part, f"part-{name}.parquet"),
            row_group_size=ROW_GROUP,
        )
    return [r for rows in files.values() for r in rows]


def _row_group_ranges(root):
    out = []
    for d, _, fs in os.walk(root):
        for f in fs:
            meta = pq.ParquetFile(os.path.join(d, f)).metadata
            assert meta.num_row_groups > 1
            for g in range(meta.num_row_groups):
                st_ = meta.row_group(g).column(1).statistics
                out.append((st_.min, st_.max))
    return out


@pytest.mark.parametrize("layout", ["hour", "date"])
def test_row_group_pruning_keeps_every_row_in_range(spark, tmp_path, layout, monkeypatch):
    root = str(tmp_path / "s")
    rows = _write_store(root, layout)
    store = TimeSeriesStore(spark, root, bucket=layout)
    groups = _row_group_ranges(root)
    edges = sorted({x for lo, hi in groups for x in (lo - 1, lo, lo + 1, hi - 1, hi, hi + 1)})
    ranges = [(lo, hi) for lo, hi in groups]  # exactly one group
    ranges += [(lo + 1, hi - 1) for lo, hi in groups]  # inside one group
    ranges += [(a, b) for a, b in zip(edges[::5], edges[7::5])]  # across edges
    ranges += [(hi, lo2) for (_, hi), (lo2, _) in zip(groups, groups[1:])]  # group to group
    # one group wholly inside, the next only partly
    ranges += [(lo, hi2 - 1) for (lo, _), (_, hi2) in zip(groups, groups[1:])]
    ranges += [(min(edges), max(edges))]
    # only the rows of one timestamp shared by three metrics
    ranges += sorted({(t, t) for m, t, _ in rows if m is None})
    shapes = [(None, None), (["a"], None), (["b", "zz"], None), (None, 1), (None, 3),
              (["a"], ROW_GROUP + 2), (None, 2 * ROW_GROUP - 1)]
    for i, (start, end) in enumerate(ranges):
        for metrics, limit in (shapes[i % len(shapes)], shapes[(i + 3) % len(shapes)]):
            assert_parity(store, start, end, metrics, limit)
    # the pruning is in effect: two adjacent points of the first bucket
    # (one sorted file) decode only some of that file's row groups
    read = []
    real = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(
        pq.ParquetFile,
        "read_row_groups",
        lambda self, g, **k: read.append((len(g), self.metadata.num_row_groups)) or real(self, g, **k),
    )
    lo, hi = sorted(t for m, t, _ in rows if m == "b")[1:3]
    assert store.read_points(lo, hi, ["b"]).column("ts_ms").to_pylist() == [lo, hi]
    [(decoded, in_file)] = read
    assert 0 < decoded < in_file


# ------------------------------------------------------- one-value metric
def _write(path, cols, **kw):
    m, t, v = cols
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"metric": pa.array(m, pa.string()), "ts_ms": pa.array(t, pa.int64()),
                  "value": pa.array(v, pa.float64())}),
        path,
        **kw,
    )


def test_one_value_metric_is_rebuilt_only_where_statistics_prove_it(spark, tmp_path, monkeypatch):
    """``metric`` is left undecoded only when every row group read shows
    one and the same value with no null; two groups of different metrics,
    a file without ``metric`` statistics, a null metric and a metric
    filter all decode it, and every read equals Spark's."""
    H = 3_600_000
    root = str(tmp_path / "s")
    n = 2 * ROW_GROUP
    ts = [10 * i for i in range(n)]
    files = {
        # hour 0: each group one metric, the two groups different ones
        "hour_bucket=0/part-two.parquet": (["a"] * ROW_GROUP + ["b"] * ROW_GROUP, ts),
        # hour 1: one metric, and the same one with no metric statistics
        "hour_bucket=1/part-one.parquet": (["a"] * n, [H + t for t in ts]),
        "hour_bucket=1/part-nostats.parquet": (["a"] * n, [H + 5 + t for t in ts]),
        # hour 2: one metric beside a null
        "hour_bucket=2/part-null.parquet": (["a"] * (n - 1) + [None], [2 * H + t for t in ts]),
    }
    for name, (m, t) in files.items():
        stats = ["ts_ms", "value"] if "nostats" in name else True
        _write(os.path.join(root, name), (m, t, [float(x) for x in t]),
               row_group_size=ROW_GROUP, write_statistics=stats)
    store = TimeSeriesStore(spark, root)
    for b in range(3):
        for start, end in [(b * H, (b + 1) * H - 1), (b * H + 15, b * H + 75), (b * H + 5,) * 2]:
            for metrics in (None, ["a"], ["b", "zz"]):
                assert_parity(store, start, end, metrics)

    # which reads decode metric, files in name order
    decodes = []
    real_read, real_scandir = pq.ParquetFile.read_row_groups, os.scandir
    monkeypatch.setattr(
        pq.ParquetFile,
        "read_row_groups",
        lambda self, g, columns=None, **k: decodes.append("metric" in columns)
        or real_read(self, g, columns=columns, **k),
    )
    monkeypatch.setattr(os, "scandir", lambda p: iter(sorted(real_scandir(p), key=lambda e: e.name)))
    for (start, end), metrics, want in [
        ((0, H - 1), None, [True]),  # two metrics
        ((H, 2 * H - 1), None, [True, False]),  # no statistics, then one metric
        ((H + 15, H + 75), None, [True, False]),
        ((H, 2 * H - 1), ["a"], [True, True]),  # a metric filter
        ((2 * H, 3 * H - 1), None, [True]),  # a null metric
        ((2 * H, 2 * H + 20), None, [False]),  # the null's group is not read
    ]:
        decodes.clear()
        store.read_points(start, end, metrics)
        assert decodes == want, (start, end, metrics)


# ------------------------------------------------------------ row order
def _count_sorts(monkeypatch):
    calls = []
    real = tsdb._spark_order
    monkeypatch.setattr(tsdb, "_spark_order", lambda t: calls.append(t.num_rows) or real(t))
    return calls


def _list_newest_first(monkeypatch):
    """List each bucket dir's files newest first, against time order."""
    real = os.scandir

    def first_ts(e):
        return pq.ParquetFile(e.path).metadata.row_group(0).column(1).statistics.min

    monkeypatch.setattr(os, "scandir", lambda p: iter(sorted(real(p), key=first_ts, reverse=True)))


def test_appended_hour_reads_in_time_order_without_the_sort(spark, tmp_path, monkeypatch):
    """API batches of one metric over disjoint times leave several files
    per hour, listed in no particular order: a bucket's files are taken
    in the order of their first timestamp, so the rows need no sort."""
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    for k in range(6):  # three files in hour 0, three in hour 1
        first = H - 3_000 + 1_000 * k
        ingest_points(
            store, [{"metric": "m", "timestamp": first + i, "value": float(k)} for i in range(0, 1_000, 100)]
        )
    _list_newest_first(monkeypatch)
    sorts = _count_sorts(monkeypatch)
    for start, end, limit in [(0, 2 * H, None), (H - 2_500, H + 1_550, None), (H - 1, H, None), (0, 2 * H, 25)]:
        got = store.read_points(start, end, limit=limit)
        ts = got.column("ts_ms").to_pylist()
        assert ts == sorted(ts) and ts, (start, end)
        assert_parity(store, start, end, None, limit)
    assert sorts == []


def test_tie_across_metrics_still_sorts(spark, tmp_path, monkeypatch):
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    ingest_points(store, [{"metric": "b", "timestamp": t, "value": 1.0} for t in (10, 20)])
    ingest_points(store, [{"metric": "a", "timestamp": t, "value": 2.0} for t in (20, 30)])
    _list_newest_first(monkeypatch)
    sorts = _count_sorts(monkeypatch)
    got = store.read_points(0, H)
    assert list(zip(got.column("metric").to_pylist(), got.column("ts_ms").to_pylist())) == [
        ("b", 10), ("a", 20), ("b", 20), ("a", 30)
    ]
    assert sorts == [4]
    assert_parity(store, 0, H)


# ----------------------------------------------------------------- JVM
def test_api_calls_never_enter_the_jvm(spark, tmp_path, monkeypatch):
    """``ingest_points`` and ``query_points`` make no py4j call at all; the
    refresh an append owes Spark runs at the next Spark read, so that
    read, and a plan cached over the store, see the new points."""
    H = 3_600_000
    store = TimeSeriesStore(spark, str(tmp_path / "s"))
    store.ingest(_df(spark, [("m", 1, 1.0)]), target_partitions=1)
    cached = store.points().cache()
    assert cached.count() == 1

    def no_jvm(*a, **k):
        raise AssertionError("an API call entered the JVM")

    client = spark.sparkContext._gateway._gateway_client
    with monkeypatch.context() as m:
        m.setattr(spark.catalog, "refreshByPath", no_jvm)
        m.setattr(client, "send_command", no_jvm)
        gc.collect()
        gc.disable()  # no py4j finalizer may run inside the window
        try:
            ingest_points(store, [{"metric": "m", "timestamp": t, "value": 2.0} for t in (2, H + 2)])
            out = query_points(store, 0, 2 * H)
        finally:
            gc.enable()
    assert [p["timestamp"] for p in out["points"]] == [1, 2, H + 2]
    try:
        assert store.query_range(0, 2 * H).count() == 3
        assert store.points().count() == 3
    finally:
        cached.unpersist()
