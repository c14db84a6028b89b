"""Answer checks.  Every check returns a list of problems; an empty list
means the answer is right.  They run outside the timed regions."""

from __future__ import annotations

import math

import numpy as np

import gen


class PointModel:
    """What the serving store must hold: points 0..n-1 at T0 + i*STEP with
    the generator's values, base set first and each write batch after."""

    def __init__(self, values: np.ndarray):
        self.values = [values]
        self.n = len(values)
        self._flat: np.ndarray | None = None

    def append(self, values: np.ndarray) -> None:
        self.values.append(values)
        self.n += len(values)
        self._flat = None

    def flat(self) -> np.ndarray:
        if self._flat is None:
            self._flat = np.concatenate(self.values)
        return self._flat

    def index_range(self, lo_ms: int, hi_ms: int) -> tuple[int, int]:
        """[first, last] point indexes with lo <= ts <= hi (may be empty)."""
        first = max(0, -(-(lo_ms - gen.T0_MS) // gen.STEP_MS))
        last = min(self.n - 1, (hi_ms - gen.T0_MS) // gen.STEP_MS)
        return first, last


def check_read(model: PointModel, lo_ms: int, hi_ms: int, resp: dict, cap: int = gen.READ_CAP) -> list[str]:
    """A ``query_points`` answer against the closed form: count =
    min(cap, points in range), the first points in ts order, strictly
    increasing ts inside the inclusive bounds, and the value sum to 1e-9
    relative."""
    errs = []
    pts = resp.get("points", [])
    first, last = model.index_range(lo_ms, hi_ms)
    want_n = max(0, min(cap, last - first + 1))
    if len(pts) != want_n:
        errs.append(f"count {len(pts)} != {want_n}")
        return errs
    if resp.get("metric") != gen.METRIC:
        errs.append(f"metric {resp.get('metric')!r}")
    if not want_n:
        return errs
    ts = np.fromiter((p["timestamp"] for p in pts), np.int64, len(pts))
    if ts[0] < lo_ms or ts[-1] > hi_ms:
        errs.append(f"bounds [{ts[0]}, {ts[-1]}] outside [{lo_ms}, {hi_ms}]")
    if len(ts) > 1 and not np.all(np.diff(ts) > 0):
        errs.append("ts not strictly increasing")
    want_ts = gen.point_ts(first, want_n)
    if not np.array_equal(ts, want_ts):
        errs.append(f"ts differ from points {first}..{first + want_n - 1}")
    got = math.fsum(p["value"] for p in pts)
    want = math.fsum(model.flat()[first : first + want_n])
    if abs(got - want) > 1e-9 * max(1.0, abs(want)):
        errs.append(f"value sum {got!r} != {want!r}")
    return errs


def check_fresh(resp: dict, batch_ts: np.ndarray) -> list[str]:
    """Read-your-writes: the batch just written is in the answer."""
    got = {p["timestamp"] for p in resp.get("points", [])}
    missing = sum(1 for t in batch_ts.tolist() if t not in got)
    return [f"{missing} of {len(batch_ts)} just-written points missing"] if missing else []


def check_store_count(rows: int, model: PointModel) -> list[str]:
    return [] if rows == model.n else [f"store holds {rows} points, want {model.n}"]


# ------------------------------------------------------------- analytics
def compare_to_oracle(sdf, spark_rows, duck_table, norm_rows, type_mismatches) -> list[str]:
    """The correctness gate's comparison, with its helpers passed in from
    tools/check_correctness.py: arrow-level column types, column names,
    row count and order-insensitive normalized values of a collected
    Spark DataFrame against DuckDB's Arrow answer."""
    d_cols = duck_table.schema.names
    d_rows = (
        [tuple(d) for d in zip(*(duck_table.column(i).to_pylist() for i in range(duck_table.num_columns)))]
        if duck_table.num_columns
        else []
    )
    tmm = type_mismatches(sdf, duck_table.schema)
    if tmm:
        return [f"type mismatch {tmm}"]
    sc, sr = norm_rows(sdf.columns, spark_rows)
    dc, dr = norm_rows(d_cols, d_rows)
    if sc != dc:
        return [f"columns differ spark={sc} duck={dc}"]
    if len(sr) != len(dr):
        return [f"rowcount spark={len(sr)} duck={len(dr)}"]
    if sr != dr:
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:2]
        return [f"values differ, first diffs {diffs}"]
    return []


# ------------------------------------------------------------- streaming
def check_exactly_once(store_rows, source_rows) -> list[str]:
    """The store holds each source row exactly once: equal multisets of
    (metric, ts_ms, value) rows, given as pandas frames."""
    if len(store_rows) != len(source_rows):
        return [f"store holds {len(store_rows)} rows, source has {len(source_rows)}"]
    key = ["metric", "ts_ms", "value"]
    a = store_rows[key].sort_values(key).reset_index(drop=True)
    b = source_rows[key].sort_values(key).reset_index(drop=True)
    if not a.equals(b):
        return [f"{int((a != b).any(axis=1).sum())} rows differ between store and source"]
    return []


def check_leaderboard(live: list[tuple], want: list[tuple], tol: float = 1e-6) -> list[str]:
    """(key, decayed_score, n_events) rows in rank order: same keys and
    counts, scores within ``tol`` (the sink and the batch operator sum in
    different orders before rounding to 6 dp)."""
    if [r[0] for r in live] != [r[0] for r in want]:
        return [f"leaderboard keys {[r[0] for r in live][:5]} != {[r[0] for r in want][:5]}"]
    if [r[2] for r in live] != [r[2] for r in want]:
        return ["leaderboard n_events differ"]
    bad = [(a, b) for a, b in zip(live, want) if abs(a[1] - b[1]) > tol]
    return [f"leaderboard scores differ: {bad[:2]}"] if bad else []
