"""HTTP façade with the reference's endpoint shapes (api/main.py:47-102),
backed by the Spark engine.

Endpoint parity:
  * ``POST /api/ingest`` accepts one ``{metric, timestamp, value}`` point
    and returns ``{"status": "success", "points_ingested": 1}`` (reference
    api/main.py:67-73).  Divergence done on purpose: ``metric`` is kept
    (the reference drops it, api/main.py:70).  The in-process
    ``ingest_points`` takes a list of points and writes it as one batch —
    per-point synchronous writes are the reference's documented
    bottleneck (README.md:102); the route passes a one-point list.
  * ``GET /api/query?start_ts&end_ts[&metric][&limit]`` returns
    ``{"metric": ..., "points": [{"timestamp": ms, "value": v}, ...]}``
    with the same inclusive bounds and 10,000-point cap
    (api/main.py:85-102); ``metric`` echoes the queried series instead of
    the reference's hard-coded ``"cpu.load.avg"``.

Read and write paths — neither enters the JVM, so neither starts a
Spark job: ``query_points`` reads in-process through Arrow
(:meth:`TimeSeriesStore.read_points` — the queried hour dirs, opened by
name, and the row groups of their files that overlap the range; nothing
cached, so a read sees every earlier write) and builds the response
lists from numpy arrays, not an Arrow scalar per value; a null stays
``None``.  ``ingest_points`` writes in-process through Arrow
(:meth:`TimeSeriesStore.append_points` — one sorted Parquet file per
touched bucket, staged and moved in) and leaves Spark's refresh of the
store path to the next Spark read; an empty batch writes nothing.
DataFrames go through :meth:`TimeSeriesStore.ingest` and the other Spark
write paths.  The app serves both calls on a threadpool without a lock,
so a query that runs while an ingest commits may return only part of
that batch.

FastAPI is optional in this container: the handler logic lives in plain
functions (`ingest_points`, `query_points`) so it is fully testable
in-process; ``create_app()`` wires them to routes only when fastapi is
importable.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession

from time_series_databse_engine_spark.tsdb import TimeSeriesStore

BUFFER_CAPACITY = 10_000  # reference api/main.py:85


def ingest_points(store: TimeSeriesStore, points: list[dict[str, Any]]) -> dict[str, Any]:
    """Batch ingest; each point is {metric, timestamp(ms), value}.  Every
    point converts before anything is written, so a bad one raises and
    the store is left as it was.  A null metric is stored null, as
    :meth:`TimeSeriesStore.ingest` stores it."""
    metrics = [None if p["metric"] is None else str(p["metric"]) for p in points]
    ts_ms = [int(p["timestamp"]) for p in points]
    values = [float(p["value"]) for p in points]
    store.append_points(metrics, ts_ms, values)
    return {"status": "success", "points_ingested": len(points)}


def query_points(
    store: TimeSeriesStore,
    start_ts: int,
    end_ts: int,
    metric: str | None = None,
    limit: int = BUFFER_CAPACITY,
) -> dict[str, Any]:
    """Inclusive range query capped at ``limit`` points (reference cap:
    10,000 with silent truncation — here truncation is still silent but
    deterministic: first ``limit`` points in ts order)."""
    t = store.read_points(start_ts, end_ts, metrics=[metric] if metric else None, limit=limit)
    ts, values = _pylist(t.column("ts_ms")), _pylist(t.column("value"))
    return {
        "metric": metric or (t.column("metric")[0].as_py() if t.num_rows else "cpu.load.avg"),
        "points": [{"timestamp": a, "value": v} for a, v in zip(ts, values)],
    }


def _pylist(col: pa.ChunkedArray) -> list:
    """``col.to_pylist()``, value for value and type for type, built from
    one numpy array instead of an Arrow scalar per value.  A column with
    no nulls converts as it is; in one with nulls they are filled with 0
    for the conversion (so an int column stays ``int`` and no NaN
    appears), then set back to ``None``."""
    if not col.null_count:
        return col.to_numpy().tolist()
    out = col.fill_null(0).to_numpy().tolist()
    for i in np.flatnonzero(col.is_null().to_numpy()):
        out[i] = None
    return out


def create_app(spark: SparkSession, data_path: str):
    """Build the FastAPI app if fastapi is available (optional dep)."""
    try:
        from fastapi import FastAPI, HTTPException, Query
        from pydantic import BaseModel, Field
    except ImportError as e:  # pragma: no cover - container has no fastapi
        raise ImportError("fastapi/pydantic not installed; use the in-process functions") from e

    store = TimeSeriesStore(spark, data_path)
    app = FastAPI(title="time_series_databse_engine_spark", version="1.0.0")

    class IngestRequest(BaseModel):
        metric: str = Field(..., examples=["cpu.load.avg"])
        timestamp: int = Field(..., examples=[1664632800000])
        value: float = Field(..., examples=[42.5])

    @app.post("/api/ingest")
    def ingest(point: IngestRequest):
        try:
            return ingest_points(store, [point.model_dump()])
        except Exception as e:  # pragma: no cover
            raise HTTPException(status_code=500, detail=f"engine error: {e}")

    @app.get("/api/query")
    def query(
        start_ts: int = Query(...),
        end_ts: int = Query(...),
        metric: str | None = Query(None),
    ):
        return query_points(store, start_ts, end_ts, metric)

    return app
