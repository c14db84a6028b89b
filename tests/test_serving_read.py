"""The serving read's two halves checked against what they replace:
``query_points`` builds exactly the response ``to_pylist()`` built
(value for value, type for type, ``None`` for nulls), and
``read_points`` skips only row groups that hold no row of the range."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from test_read_points import METRICS, _apply, _df, _ops, _points, assert_parity

from time_series_databse_engine_spark import TimeSeriesStore
from time_series_databse_engine_spark.api import query_points


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
