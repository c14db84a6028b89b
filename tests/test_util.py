"""Focused tests for operators._util (r13: the `_parallelize` guard must
not round-robin-shuffle a table whose few files already SPLIT into enough
scan tasks — VERDICT r12 #7 — and `_shuffle_width` must survive
non-numeric vendor conf values; the session memo's rollover, prefix
forget and failed-build rules)."""

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from time_series_databse_engine_spark.operators import _util
from time_series_databse_engine_spark.operators._util import (
    _estimated_scan_splits,
    _parallelize,
    _shuffle_width,
    forget,
    memo,
)


def _has_round_robin(df) -> bool:
    plan = df._jdf.queryExecution().logical().toString()
    return "Repartition" in plan


def test_parallelize_noop_on_wide_enough_split(spark, tmp_path):
    """One file larger than maxPartitionBytes estimates >= parallelism
    splits — the guard must leave the scan alone (no repartition node)."""
    p = str(tmp_path / "big.parquet")
    spark.range(200_000).select(
        F.col("id"), F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # force the size/maxPartitionBytes estimate above the target
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        assert (
            _estimated_scan_splits(spark, list(df.inputFiles()))
            >= spark.sparkContext.defaultParallelism
        )
        out = _parallelize(df)
        assert out is df, "few-huge-files table must not be reshuffled"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_parallelize_spreads_single_small_file(spark, tmp_path):
    """The original purpose stays: a single small file (fewer estimated
    splits than cores) is round-robin spread."""
    p = str(tmp_path / "small.parquet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    out = _parallelize(df)
    assert out is not df and _has_round_robin(out)
    assert out.count() == 100


def test_estimated_scan_splits_fallback_counts_files(spark):
    # unstat-able URIs fall back to one split per file (old behaviour)
    assert _estimated_scan_splits(spark, ["hdfs://nn/a.parquet", "hdfs://nn/b.parquet"]) == 2


def test_shuffle_width_numeric_and_fallback(spark):
    assert _shuffle_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    # vanilla Spark rejects a non-numeric value at set() time, but vendor
    # runtimes ship e.g. "auto" — exercise the fallback through a stub
    class _Conf:
        def get(self, key):
            return "auto"

    class _Stub:
        conf = _Conf()
        sparkContext = spark.sparkContext

    assert _shuffle_width(_Stub()) == spark.sparkContext.defaultParallelism


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_memo_rollover_forget_and_failed_build(monkeypatch):
    """Spark-free: the memo caches per (applicationId, key); the first
    access under a new applicationId drops every entry of the old one;
    ``forget`` drops only the keys under its path prefix; a ``build``
    that raises stores nothing."""
    monkeypatch.setattr(_util, "_MEMO", {})
    builds = []

    def build(value):
        def run():
            builds.append(value)
            return value

        return run

    old, new = _session("app-old"), _session("app-new")
    a_cells, a_cb, b_cells = (
        ("/idx/a/cells", "sidecar"), ("/idx/a/codebook", "sidecar"), ("/idx/b/cells", "sidecar"),
    )
    assert memo(old, a_cells, build("a1")) == "a1"
    assert memo(old, b_cells, build("b1")) == "b1"
    assert memo(old, a_cells, build("a2")) == "a1"  # a hit builds nothing
    assert builds == ["a1", "b1"]

    # rollover: the first access under the new id drops the old entries
    assert memo(new, a_cells, build("a3")) == "a3"
    assert set(_util._MEMO) == {("app-new", a_cells)}
    assert memo(new, b_cells, build("b3")) == "b3"
    assert memo(new, a_cb, build("cb3")) == "cb3"

    forget("/idx/a")
    assert set(_util._MEMO) == {("app-new", b_cells)}
    assert memo(new, b_cells, build("b4")) == "b3"

    def fails():
        raise OSError("index missing")

    with pytest.raises(OSError):
        memo(new, a_cells, fails)
    assert ("app-new", a_cells) not in _util._MEMO
    assert memo(new, a_cells, build("a5")) == "a5"
    assert builds == ["a1", "b1", "a3", "b3", "cb3", "a5"]


def test_memo_rollover_drops_the_old_sessions_values(monkeypatch):
    """Spark-free: the rollover calls ``drop`` on each dropped entry that
    was stored with one (a fixture's temp dir), and a hit calls nothing."""
    monkeypatch.setattr(_util, "_MEMO", {})
    dropped = []
    old, new = _session("app-old"), _session("app-new")
    assert memo(old, ("/a", "dir"), lambda: "a-old", drop=dropped.append) == "a-old"
    assert memo(old, ("/b", "table"), lambda: "b-old") == "b-old"
    assert memo(old, ("/a", "dir"), lambda: "a2", drop=dropped.append) == "a-old"
    assert dropped == []
    assert memo(new, ("/a", "dir"), lambda: "a-new", drop=dropped.append) == "a-new"
    assert dropped == ["a-old"]


def test_memo_threads_get_one_value_per_key(monkeypatch):
    """Eight threads memoizing five keys at once, with a short switch
    interval: every thread gets the same object for a key, even when
    two of them built it concurrently."""
    import sys
    import threading
    import time

    monkeypatch.setattr(_util, "_MEMO", {})
    spark = _session("app")
    got = [[] for _ in range(8)]

    def slow_build():
        time.sleep(0.005)  # keeps the other threads missing the same key
        return object()

    def worker(out):
        for i in range(200):
            key = (f"/k{i % 5}", "x")
            out.append((key, memo(spark, key, slow_build)))

    threads = [threading.Thread(target=worker, args=(out,)) for out in got]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    first = {}
    for out in got:
        assert len(out) == 200
        for key, value in out:
            assert first.setdefault(key, value) is value
