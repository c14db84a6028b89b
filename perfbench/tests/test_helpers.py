"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402


# ------------------------------------------------------------ tail rule
@pytest.mark.parametrize(
    "n, want",
    [
        (9, None),  # not even p75 leaves ten beyond
        (40, 75.0),  # p75 leaves exactly 10 beyond
        (49, 75.0),
        (100, 90.0),  # p90 leaves 10, p95 only 5
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, want):
    assert harness.tail_percentile(n) == want
    if want is not None:
        assert harness.samples_beyond(n, want) >= 10
        higher = [p for p in harness.TAIL_CANDIDATES if p > want]
        assert all(harness.samples_beyond(n, p) < 10 for p in higher)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 50) == 50
    assert harness.percentile(xs, 90) == 90
    assert harness.percentile(xs, 99.9) == 100
    summ = harness.latency_summary([float(x) for x in xs])
    assert summ["tail_p"] == 90.0 and summ["tail_ms"] == 90.0 and summ["beyond_tail"] == 10


def test_geomean():
    assert harness.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert harness.geomean([5.0] * 7) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        harness.geomean([1.0, 0.0])


def test_tree_cpu_counts_reaped_children():
    busy = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5:\n    pass\n"
    before = harness.tree_cpu_s(os.getpid())
    subprocess.run([sys.executable, "-c", busy], check=True, timeout=60)
    assert harness.tree_cpu_s(os.getpid()) - before >= 0.4


def test_service_threads_are_set_apart():
    threads = {"C CompilerThre": 3.0, "GC Thread": 1.0, "G Conc": 0.5, "Executor task l": 7.0, "Thread": 2.0}
    assert harness.service_cpu_s(threads) == pytest.approx(4.5)
    assert harness.service_cpu_s({"Executor task l": 7.0}) == 0.0


# ----------------------------------------------------------- host speed
def test_probe_speed_takes_the_median_round_inside_the_window():
    ref = harness.PROBE_REF_S
    rounds = [(float(t), ref * 2) for t in range(10)] + [(10.0 + t, ref / 2) for t in range(7)]
    rounds.append((12.5, ref * 50))  # one slow round inside moves a median little
    speed, n = harness.probe_speed(rounds, 10.0, 16.0)
    assert n == 8 and speed == pytest.approx(2.0)
    speed, n = harness.probe_speed(rounds, 0.0, 9.0)
    assert n == 10 and speed == pytest.approx(0.5)


def test_probe_speed_falls_back_to_the_nearest_rounds():
    ref = harness.PROBE_REF_S
    rounds = [(0.0, ref), (1.0, ref), (2.0, ref), (3.0, ref), (4.0, ref), (50.0, ref * 4)]
    speed, n = harness.probe_speed(rounds, 2.2, 2.4)  # a window shorter than a round
    assert n == 5 and speed == pytest.approx(1.0)
    with pytest.raises(RuntimeError):
        harness.probe_speed([], 0.0, 1.0)


@pytest.mark.skipif(not os.path.exists(harness.PROBE_JAVA), reason="probe source missing")
def test_probe_runs_and_stops():
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    if shutil.which(java) is None:
        pytest.skip("no java")
    probe = harness.HostProbe()
    time.sleep(0.2)
    probe.stop()
    assert probe.proc.returncode == 0  # exited on its own when stdin closed
    assert all(ns > 0 for _, ns in probe.rounds)


def test_run_parts_sets_up_all_then_measures_then_checks(monkeypatch):
    import run

    calls = []

    def part(name, ms):
        return SimpleNamespace(
            prepare=lambda ctx: calls.append(f"prepare {name}") or {"setup_s": 1.5},
            measure=lambda ctx, st: calls.append(f"measure {name}"),
            check=lambda ctx, st: calls.append(f"check {name}") or (ms, sum(ms) / 1000),
        )

    ctx = SimpleNamespace(
        session_s=2.0,
        detail={"setup_parts_s": {}},
        begin_measure=lambda: calls.append("begin"),
        end_measure=lambda: calls.append("end"),
    )
    wall = run.run_parts(ctx, [part("a", [100.0, 400.0]), part("b", [200.0])])
    assert calls == ["prepare a", "prepare b", "begin", "measure a", "measure b", "end", "check a", "check b"]
    assert ctx.setup_s == pytest.approx(5.0)
    assert wall["ops_per_s"] == pytest.approx(3 / 0.7)
    assert wall["op_geomean_ms"] == pytest.approx(200.0)


# ------------------------------------------------------------ self time
def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "op": "x", "start": start, "end": end}


def test_self_time_nested_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 1, 1.5, 2.5),  # grandchild: counts against span 1 only
        _span(3, 0, 5.0, 9.0),
    ]
    st = harness.self_times(spans)
    assert st[0] == pytest.approx(10 - 2 - 4)
    assert st[1] == pytest.approx(2 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(4)


def test_self_time_overlapping_children_counted_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),  # overlaps span 1 over [4, 6]
        _span(3, 0, 7.0, 12.0),  # runs past the parent's end
    ]
    st = harness.self_times(spans)
    # children cover [2, 10] of the parent's [0, 10]
    assert st[0] == pytest.approx(2.0)


def test_tracer_parents_and_ops():
    ticks = iter(range(100))
    tr = harness.Tracer(clock=lambda: float(next(ticks)))
    tr.op = "hot#1"
    with tr.span("api.query_points"):
        with tr.span("tsdb.query_range"):
            pass
        with tr.span("spark.exec"):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["tsdb.query_range"]["parent"] == names["api.query_points"]["id"]
    assert names["spark.exec"]["parent"] == names["api.query_points"]["id"]
    assert all(s["op"] == "hot#1" for s in tr.spans)
    st = harness.self_times(tr.spans)
    assert st[names["api.query_points"]["id"]] == pytest.approx(5 - 2)


# ------------------------------------------------------------- checkers
def _answer(model, lo, hi, cap=gen.READ_CAP):
    first, last = model.index_range(lo, hi)
    n = max(0, min(cap, last - first + 1))
    ts = gen.point_ts(first, n)
    vals = model.flat()[first : first + n]
    return {"metric": gen.METRIC, "points": [{"timestamp": int(t), "value": float(v)} for t, v in zip(ts, vals)]}


@pytest.fixture(scope="module")
def model():
    _, values = gen.base_points(7)
    return checks.PointModel(values)


def test_checker_accepts_right_answers(model):
    ops = gen.ServeOps(7)
    for _ in range(20):
        kind, lo, hi = ops.next()
        if kind in ("hot", "cold"):
            assert checks.check_read(model, lo, hi, _answer(model, lo, hi)) == []


def test_checker_flags_truncated_answer(model):
    lo = gen.T0_MS + 3_600_000
    hi = lo + 3_600_000
    resp = _answer(model, lo, hi)
    resp["points"] = resp["points"][:-1]
    assert checks.check_read(model, lo, hi, resp)


def test_checker_flags_off_by_one_bound(model):
    lo = gen.T0_MS + 3_600_000
    hi = lo + 3_600_000  # exactly on a point: inclusive bound keeps it
    exclusive = _answer(model, lo, hi - 1)  # what an exclusive upper bound returns
    assert checks.check_read(model, lo, hi, exclusive)
    shifted = _answer(model, lo + gen.STEP_MS, hi + gen.STEP_MS)  # one point late
    assert checks.check_read(model, lo, hi, shifted)


def test_checker_flags_wrong_value_and_cap(model):
    lo = gen.T0_MS
    hi = lo + gen.DAY_MS
    resp = _answer(model, lo, hi)
    assert len(resp["points"]) == gen.READ_CAP  # 86,401 in range, capped
    resp["points"][5]["value"] += 1e-3
    assert checks.check_read(model, lo, hi, resp)
    assert checks.check_read(model, lo, hi, _answer(model, lo, hi, cap=gen.READ_CAP + 1))


def test_fresh_read_must_hold_the_batch():
    batch = gen.point_ts(100, 5)
    resp = {"points": [{"timestamp": int(t), "value": 0.0} for t in batch[:-1]]}
    assert checks.check_fresh(resp, batch)
    resp["points"].append({"timestamp": int(batch[-1]), "value": 0.0})
    assert checks.check_fresh(resp, batch) == []


def test_oracle_compare_flags_wrong_answers():
    duckdb = pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    from check_correctness import norm_rows, type_mismatches

    want = duckdb.connect().execute("SELECT k::BIGINT AS k, v::DOUBLE AS v FROM (VALUES (1, 0.5), (2, 1.5)) t(k, v)").arrow()
    field = lambda name, t: SimpleNamespace(name=name, dataType=SimpleNamespace(simpleString=lambda: t))
    sdf = SimpleNamespace(columns=["k", "v"], schema=SimpleNamespace(fields=[field("k", "bigint"), field("v", "double")]))

    def cmp(rows, df=sdf):
        return checks.compare_to_oracle(df, rows, want, norm_rows, type_mismatches)

    assert cmp([(2, 1.5), (1, 0.5)]) == []  # order does not matter
    assert cmp([(1, 0.5)])  # truncated
    assert cmp([(1, 0.5), (2, 1.501)])  # wrong value
    wrong_type = SimpleNamespace(columns=["k", "v"], schema=SimpleNamespace(fields=[field("k", "string"), field("v", "double")]))
    assert cmp([(1, 0.5), (2, 1.5)], wrong_type)


def test_exactly_once_flags_duplicate_and_loss():
    src = pd.DataFrame({"metric": ["a", "b", "c"], "ts_ms": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
    assert checks.check_exactly_once(src.iloc[::-1], src) == []
    dup = pd.concat([src.iloc[:2], src.iloc[:1]])
    assert checks.check_exactly_once(dup, src)
    assert checks.check_exactly_once(src.iloc[:2], src)


def test_leaderboard_tolerance():
    want = [(1, 3.0, 5), (2, 2.0, 4)]
    assert checks.check_leaderboard([(1, 3.0 + 5e-7, 5), (2, 2.0, 4)], want) == []
    assert checks.check_leaderboard([(2, 2.0, 4), (1, 3.0, 5)], want)
    assert checks.check_leaderboard([(1, 3.1, 5), (2, 2.0, 4)], want)


# ------------------------------------------------------- seeded inputs
def _digest_inputs(tmp, seed):
    """Every generated input of every workload, hashed."""
    h = hashlib.sha256()
    os.makedirs(tmp)
    ts, vals = gen.base_points(seed)
    path = os.path.join(tmp, f"points-{seed}.parquet")
    gen.write_points_table(path, ts[:5000], vals[:5000])
    ops = gen.ServeOps(seed)
    for _ in range(30):
        kind, a, b = ops.next()
        h.update(f"{kind},{a},{b};".encode())
        if kind == "write":
            h.update(gen.write_batch(seed, b, a)[1].tobytes())
    src = os.path.join(tmp, f"stream-{seed}")
    gen.write_stream_epochs(src, seed, 3, 200)
    files = [path] + [os.path.join(src, f) for f in sorted(os.listdir(src))]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(",".join(gen.query_order(seed)).encode())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a1 = _digest_inputs(str(tmp_path / "a"), 3)
    a2 = _digest_inputs(str(tmp_path / "b"), 3)
    b = _digest_inputs(str(tmp_path / "c"), 4)
    assert a1 == a2
    assert a1 != b


def test_analytics_tables_are_byte_stable(tmp_path):
    small = {"events": 300, "documents": 40, "embeddings": 20}
    gen.write_analytics_tables(str(tmp_path / "x"), small)
    gen.write_analytics_tables(str(tmp_path / "y"), small)
    for t in small:
        assert (tmp_path / "x" / f"{t}.parquet").read_bytes() == (tmp_path / "y" / f"{t}.parquet").read_bytes()
    assert gen.query_order(1) != gen.query_order(2)


def test_serve_ops_mix_and_ranges():
    ops = gen.ServeOps(11)
    kinds = [ops.next() for _ in range(50)]
    counts = {k: sum(1 for o in kinds if o[0] == k) for k in ("hot", "cold", "write", "fresh")}
    assert counts == {"hot": 30, "cold": 10, "write": 5, "fresh": 5}
    for kind, lo, hi in kinds:
        if kind == "cold":
            assert hi - lo == gen.DAY_MS and hi < gen.T0_MS + gen.STEP_MS * gen.N_POINTS // 2
        if kind == "hot":
            assert hi - lo == gen.HOUR_MS and lo >= gen.T0_MS + gen.STEP_MS * int(gen.N_POINTS * 0.9)
    assert np.all(np.diff([o[1] for o in kinds if o[0] == "write"]) == gen.WRITE_BATCH)
