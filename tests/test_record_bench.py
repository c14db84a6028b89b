"""The take gates of ``tools/record_bench.py`` over synthetic detail
files; no Spark, no bench run."""

from __future__ import annotations

import importlib.util
import json
import os

_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "record_bench.py")
_spec = importlib.util.spec_from_file_location("record_bench", _PATH)
record_bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(record_bench)


def _detail(tmp_path, layers, ctx_steal=0.001):
    """A detail file as ``bench.py`` writes it, read back as the tool does."""
    d = {
        "value": 100.0,
        "queries": {q: 1.0 for q in layers},
        "extra": {
            "ingest_points_per_sec": 900_000,
            "ctx_loadavg_5m": 2.0,
            "ctx_steal_frac": ctx_steal,
        },
        "layers": layers,
    }
    path = tmp_path / "detail.json"
    path.write_text(json.dumps(d))
    return json.loads(path.read_text())


def _row(build_ms, run_ms, steal):
    return {"build_ms": build_ms, "run_ms": run_ms, "steal_frac": steal, "jobs": 1}


def test_query_steal_weights_each_row_by_its_time():
    layers = {"a": _row(100, 900, 0.01), "b": _row(0, 3000, 0.0), "c": _row(50, 950, 0.03)}
    frac, top = record_bench.query_steal(layers)
    # (0.01 * 1000 + 0 + 0.03 * 1000) / 5000
    assert abs(frac - 0.008) < 1e-12
    assert top == [("c", 30.0), ("a", 10.0), ("b", 0.0)]
    assert record_bench.query_steal({}) == (0.0, [])


def test_take_with_query_time_steal_over_the_gate_is_refused(tmp_path):
    """The run-wide steal passes, but a burst on the timed queries does
    not: the take is refused and the report names the five queries with
    the most stolen ms."""
    layers = {f"q{i}": _row(100, 900, 0.0) for i in range(20)}
    for i, steal in enumerate((0.05, 0.04, 0.03, 0.02, 0.016, 0.008)):
        layers[f"q{i}"]["steal_frac"] = steal
    args = record_bench.parse_args(["out.json"])
    report = record_bench.judge(_detail(tmp_path, layers, ctx_steal=0.002), args)
    assert report["ctx_steal_frac"] <= args.max_steal
    assert report["query_steal_frac"] > args.max_steal
    assert not report["accepted"]
    assert [q for q, _ in report["top_steal_ms"]] == ["q0", "q1", "q2", "q3", "q4"]
    assert report["top_steal_ms"][0] == ("q0", 50.0)


def test_clean_take_is_accepted_and_a_looser_gate_admits_the_burst(tmp_path):
    clean = {f"q{i}": _row(100, 900, 0.0) for i in range(20)}
    clean["q0"]["steal_frac"] = 0.008  # one tick on one query
    args = record_bench.parse_args(["out.json"])
    report = record_bench.judge(_detail(tmp_path, clean), args)
    assert report["accepted"] and "top_steal_ms" not in report
    assert report["query_steal_frac"] == 0.0004

    burst = {f"q{i}": _row(100, 900, 0.1) for i in range(20)}
    assert not record_bench.judge(_detail(tmp_path, burst), args)["accepted"]
    loose = record_bench.parse_args(["out.json", "--max-steal", "0.2"])
    assert record_bench.judge(_detail(tmp_path, burst), loose)["accepted"]
