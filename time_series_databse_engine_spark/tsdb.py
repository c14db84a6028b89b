"""Core time-series store: the reference's entire public surface, Spark-first.

Reference semantics being reproduced (citations into /root/reference):
  * point schema ``(timestamp ms, double value)`` — engine/shard.h:9-12;
    we keep the ``metric`` field the reference's API accepts then drops
    (api/main.py:48, api/main.py:70) as a first-class series column.
  * hour-bucket partitioning ``floor(ts_ms / 3600000)`` — engine/insight.cpp:9-14
    → a Parquet partition column, so Catalyst partition pruning replaces the
    reference's manual shard enumeration (engine/insight.cpp:28-35).
  * inclusive range scan ``start <= ts <= end`` — engine/insight.cpp:42.
  * limit/truncation at a caller cap (HTTP layer: 10,000) — api/main.py:85.
  * delta + XOR compression — engine/shard.cpp:107-126 → Parquet v2 encodings
    (DELTA_BINARY_PACKED for int64 ts, PLAIN/ZSTD for doubles — Spark's
    reader rejects BYTE_STREAM_SPLIT); no user-space codec.

Deliberate divergences (SURVEY.md §1.4): results are ordered by ``ts_ms``
(the reference returns shard-then-insertion order, unreproducible and
undesirable); ``ts_ms == 0`` is a legal value (the reference reserves it as
a codec sentinel); `metric` is preserved per point.

Scale posture (100 TB): ingest shuffles once on ``(hour_bucket, metric)``
(hash by default — no sampling pass; range with ``ts_ms`` in the key as the
hot-series split option) so each task writes whole bucket×metric groups in
sorted runs; queries express bucket + ts predicates declaratively so
partition pruning and row-group min/max pushdown bound I/O to the queried
window regardless of total table size.  DataFrame data is never looped
over in Python; the serving path's small batches, which are Python
values already, are read and written in-process with Arrow
(``read_points``, ``append_points``).
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import commit

SHARD_DURATION_MS = 3_600_000  # one-hour buckets, reference engine/insight.cpp:6

POINT_SCHEMA = T.StructType(
    [
        T.StructField("metric", T.StringType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

#: :meth:`TimeSeriesStore.read_points`' result schema
ARROW_SCHEMA = pa.schema([("metric", pa.string()), ("ts_ms", pa.int64()), ("value", pa.float64())])
#: the columns :func:`_read_file` decodes when ``metric`` holds one value
_TS_VALUE = pa.schema([ARROW_SCHEMA.field("ts_ms"), ARROW_SCHEMA.field("value")])


class TimeSeriesStore:
    """Hour-partitioned Parquet time-series table with the reference's two
    operations (ingest, inclusive range scan) plus the aggregation surface a
    real TSDB needs (downsample etc.)."""

    #: bucket layouts: partition-column name + bucket width.  ``hour`` is
    #: the reference's shard duration (engine/insight.cpp:6); ``date``
    #: coarsens the partition grid 24× for extreme-retention stores where
    #: hour-level dirs would mean millions of partitions (SCALE.md §tsdb)
    #: — hour-level pruning is preserved by the (bucket, metric, ts_ms)
    #: row-group sort: min/max stats on ts_ms skip row groups inside a day.
    LAYOUTS = {"hour": ("hour_bucket", 3_600_000), "date": ("date_bucket", 86_400_000)}

    def __init__(self, spark: SparkSession, path: str, bucket: str = "hour"):
        if bucket not in self.LAYOUTS:
            raise ValueError(f"bucket must be hour|date, got {bucket!r}")
        self.spark = spark
        self.path = path
        self.bucket_col, self.bucket_ms = self.LAYOUTS[bucket]
        # a store's layout is a property of its FILES: opening an existing
        # store with the other layout would write a second partition scheme
        # into the same directory — sniff and refuse
        if os.path.isdir(path):
            for other_col, _ in self.LAYOUTS.values():
                if other_col != self.bucket_col and any(
                    e.startswith(other_col + "=") for e in os.listdir(path)
                ):
                    raise ValueError(
                        f"store at {path} is partitioned by {other_col}; "
                        f"open it with the matching bucket= layout"
                    )
        # cached lazy handle over the table; see points()
        self._points_cache: DataFrame | None = None
        # an API append since the last refreshByPath; see _read()
        self._refresh_pending = False

    def _invalidate(self) -> None:
        """Drop the cached reader after a Spark write: the cached DataFrame
        pins a file listing (InMemoryFileIndex), which would serve stale
        partition/file sets after ingest/compact/upsert/expire.
        ``refreshByPath`` also drops any other cached plan over the store
        path in this SparkSession.  The API's Arrow append does not call
        this: it drops the cached reader and leaves the refresh to the next
        Spark read (:meth:`_read`), so the serving write never enters the
        JVM.  :meth:`points` does not see a writer in another process until
        this store writes again; :meth:`read_points` reads the directories
        on every call."""
        self._points_cache = None
        self._refresh_pending = False
        self.spark.catalog.refreshByPath(self.path)

    def _project(self, df: DataFrame) -> DataFrame:
        """The store's point projection from any df with (metric, ts_ms,
        value) or (metric, ts, value): typed columns plus the derived
        bucket partition column."""
        if "ts_ms" not in df.columns:
            df = df.withColumn("ts_ms", F.unix_millis(F.col("ts")))
        ts = F.col("ts_ms").cast("long")
        # floor(ts / bucket_ms) in exact long arithmetic, the readers' `//`:
        # `div` truncates toward zero, so a negative remainder steps down
        # one.  A double division rounds above 2^53 and would file a point
        # in the next bucket, where no read looks for it.
        quotient = F.expr(f"CAST(ts_ms AS BIGINT) div {self.bucket_ms}")
        return df.select(
            F.col("metric").cast("string"),
            ts.alias("ts_ms"),
            F.col("value").cast("double"),
            (quotient - (ts % self.bucket_ms < 0).cast("long")).alias(self.bucket_col),
        )

    def _hashed(self, pts: DataFrame, n: int | None) -> DataFrame:
        """One hash shuffle on (bucket, metric): each task owns whole
        bucket×metric groups, so no sampling pass is needed.  With no
        count ``n`` the shuffle has ``spark.sql.shuffle.partitions``
        buckets and AQE coalesces them to its size target: a 5,000-row
        stream epoch is one write task and one file per hour, where a
        fixed count wrote up to ``n`` files per hour; a batch big enough
        to fill every partition keeps all of them."""
        if not n:
            return pts.repartition(self.bucket_col, "metric")
        return pts.repartition(n, self.bucket_col, "metric")

    def _write(self, pts: DataFrame, path: str, mode: str = "overwrite") -> None:
        """The store's one writer: files sorted by (bucket, metric, ts_ms)
        for row-group min/max pruning, partitioned by bucket."""
        (
            pts.sortWithinPartitions(self.bucket_col, "metric", "ts_ms")
            .write.mode(mode)
            # parquet v2 data pages: DELTA_BINARY_PACKED on the sorted ts_ms
            # column ≈ the reference's delta-of-delta codec (shard.cpp:107-126)
            # at the format layer — measured 7.78 B/pt vs the reference's 8.2
            .option("parquet.writer.version", "v2")
            .partitionBy(self.bucket_col)
            .parquet(path)
        )

    def _staging(self, kind: str) -> str:
        """Sibling staging dir ``<store>.<kind>-tmp`` (swept by :meth:`vacuum`)."""
        return self.path.rstrip("/") + f".{kind}-tmp"

    def _listing(self) -> list[str]:
        """The names in the table's root dir; none for a missing store."""
        try:
            return os.listdir(self.path)
        except (FileNotFoundError, NotADirectoryError):
            return []

    def _partitions(self) -> list[tuple[int, str]]:
        """(bucket, dir name) of every bucket dir in the table's listing,
        unordered.  A bucket dir is named
        ``<bucket_col>=<b>`` with ``b`` spelled as ``str(b)``, the name every
        writer gives it.  Any other ``<bucket_col>=`` name holds no bucket
        and is skipped: Spark files a null timestamp under
        ``__HIVE_DEFAULT_PARTITION__``, and such a point lies in no range
        and has no age."""
        prefix = self.bucket_col + "="
        out = []
        for entry in self._listing():
            if entry.startswith(prefix):
                b = _canonical_int(entry[len(prefix):])
                if b is not None:
                    out.append((b, entry))
        return out

    def _swap(self, tmp: str, touched=()) -> None:
        commit.swap_partitions(tmp, self.path, self.bucket_col, touched)
        self._invalidate()

    def _recover(self) -> None:
        """Heal an interrupted partition swap before a rewrite reads the
        table (a partition still moved aside would be read as absent)."""
        if commit.recover_compact(self.path, self.bucket_col):
            self._invalidate()

    def _read(self) -> DataFrame | None:
        """The table with its fixed schema given explicitly (skips the
        schema-inference footer reads — measured 1.5 s → 0.6 s first-query
        latency on a 278-partition store); None when the store path does
        not exist yet.  Any other read error propagates.  Every Spark read
        and rewrite of the store builds its plan here, so the
        ``refreshByPath`` an API append left pending runs first: a plan
        cached over the store is not served stale."""
        if self._refresh_pending:
            self._refresh_pending = False
            self.spark.catalog.refreshByPath(self.path)
        schema = T.StructType(
            list(POINT_SCHEMA.fields) + [T.StructField(self.bucket_col, T.LongType(), True)]
        )
        return _parquet_or_none(self.spark.read.schema(schema), self.path)

    # ------------------------------------------------------------------ write
    def ingest(
        self,
        df: DataFrame,
        target_partitions: int | None = None,
        layout: str = "hash",
        observe: bool = False,
    ) -> dict | None:
        """Batch ingest: the Spark-native replacement for the reference's
        per-point ``ingest_point`` FFI loop (engine/insight.cpp:18-23), which
        re-decoded a whole shard per appended point.  One immutable sorted
        Parquet append per batch.

        Accepts any df with (metric, ts_ms, value) or (metric, ts, value);
        derives the hour bucket, shuffles once, writes files internally
        sorted by (hour_bucket, metric, ts_ms) for row-group min/max pruning.

        ``layout``:
        - ``hash`` (default): one hash shuffle on (hour_bucket, metric) —
          each task owns whole bucket×metric groups, so file count stays
          ≤ owned groups and NO sampling pass is needed.  The range
          partitioner's sampling pass re-evaluates the input (5.5 s vs
          1.0 s for 1 M generated points).
        - ``range``: ``repartitionByRange(hour_bucket, metric, ts_ms)`` —
          ``ts_ms`` in the key SPLITS a pathological hot series×hour
          across tasks; costs the sampling pass (persist expensive inputs
          first).  Use for known-skewed batches at scale.

        ``observe=True`` returns ingestion-quality metrics (rows,
        null-value count, min/max ts) via Spark's Observation API:
        the counters piggyback the WRITE job's own pass over the data —
        zero extra scan, unlike a count()/agg() audit query, which at
        100 TB would double the ingest cost.
        """
        if layout not in ("hash", "range"):
            raise ValueError(f"layout must be hash|range, got {layout!r}")
        pts = self._project(df)
        if layout == "hash":
            pts = self._hashed(pts, target_partitions)
        else:
            n = target_partitions or self.spark.sparkContext.defaultParallelism
            pts = pts.repartitionByRange(n, self.bucket_col, "metric", "ts_ms")
        obs = None
        if observe:
            from pyspark.sql import Observation

            obs = Observation("ingest")
            pts = pts.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
                F.min("ts_ms").alias("min_ts_ms"),
                F.max("ts_ms").alias("max_ts_ms"),
            )
        self._write(pts, self.path, mode="append")
        self._invalidate()
        return obs.get if obs is not None else None

    def append_points(self, metrics: list[str], ts_ms: list[int], values: list[float]) -> None:
        """Append a batch of Python values — the API's write —
        with no Spark job: the points are bucketed with :meth:`_project`'s
        floor division, sorted by (bucket, metric, ts_ms) and written as
        one zstd, v2-page Parquet file per touched bucket, the layout
        :meth:`ingest` writes.  The files stage under a sibling
        ``<store>.append-<uuid>-tmp`` dir (one per call, so concurrent
        appends never share one; :meth:`vacuum` sweeps a crashed one) and
        are published by :func:`commit.move_in`.  A batch that does not
        convert to the point schema raises before anything is written.
        Points with a null ``ts_ms`` go where :meth:`ingest` files them,
        under ``<bucket_col>=__HIVE_DEFAULT_PARTITION__``, which reads skip
        and :meth:`points` reads.

        No JVM call: the store's cached reader is dropped and the
        ``refreshByPath`` a Spark write makes is left pending for the next
        Spark read of the store (:meth:`_read`).  Spark keys its file
        status cache by file index, so that read lists the new files."""
        t = pa.table([metrics, ts_ms, values], schema=ARROW_SCHEMA)
        if not t.num_rows:
            return
        ts = t.column("ts_ms")
        n_null = ts.null_count
        null = ts.is_null().to_numpy(zero_copy_only=False) if n_null else None
        buckets = np.floor_divide(ts.fill_null(0).to_numpy(), self.bucket_ms)
        t = t.append_column(self.bucket_col, pa.array(buckets, mask=null)).sort_by(
            [(self.bucket_col, "ascending"), ("metric", "ascending"), ("ts_ms", "ascending")]
        )
        # a null bucket sorts last: the non-null rows come first
        n = t.num_rows - n_null
        buckets, starts = np.unique(t.column(self.bucket_col)[:n].to_numpy(), return_index=True)
        groups = list(zip(buckets, starts, [*starts[1:], n]))
        if n_null:
            groups.append(("__HIVE_DEFAULT_PARTITION__", n, t.num_rows))
        t = t.drop_columns(self.bucket_col)
        uid = uuid.uuid4().hex
        tmp = self._staging(f"append-{uid}")
        for b, lo, hi in groups:
            part = os.path.join(tmp, f"{self.bucket_col}={b}")
            os.makedirs(part)
            pq.write_table(
                t.slice(lo, hi - lo),
                os.path.join(part, f"part-{uid}.zstd.parquet"),
                compression="zstd",
                data_page_version="2.0",
                # Spark's v2 writer's encodings: dictionary metric,
                # delta-packed sorted ts_ms (see _write), plain value
                # (Spark's reader rejects BYTE_STREAM_SPLIT); no Arrow
                # schema blob in the footer, which readers are given
                use_dictionary=["metric"],
                column_encoding={"ts_ms": "DELTA_BINARY_PACKED", "value": "PLAIN"},
                store_schema=False,
            )
        commit.move_in(tmp, self.path, self.bucket_col)
        self._refresh_pending = True
        self._points_cache = None

    def ingest_epoch(
        self,
        df: DataFrame,
        epoch_id: int,
        target_partitions: int | None = None,
    ) -> None:
        """Idempotent epoch-keyed ingest — the exactly-once building block
        for a streaming ``foreachBatch`` sink.

        Same write shape as :meth:`ingest` (one hash-shuffled, sorted,
        hour-partitioned Parquet append), but the batch stages to a
        sibling dir and every data file moves into its partition directory
        under an ``epoch{id}-`` file-name prefix; the move-in FIRST
        deletes any files carrying that prefix — the leftovers of a
        previous attempt of the same epoch that crashed between the
        append and the streaming checkpoint's commit.  Replaying an epoch
        therefore converges to exactly one copy of its rows, at any crash
        point:

        * crash before any move   → nothing visible, replay writes fresh;
        * crash mid-move          → partial epoch files visible, replay
          deletes them all and re-moves a complete set;
        * crash after the move but before the checkpoint commit — the
          at-least-once hole in a blind append — → replay deletes the
          complete previous copy and writes an identical one.

        Cost vs :meth:`ingest`: identical distributed write work plus
        O(touched partitions) driver-side renames (:func:`commit.move_in`:
        per-epoch files are moved in, never replacing existing data).
        Without ``target_partitions`` AQE sizes the shuffle
        (:meth:`_hashed`), so a small epoch adds one file per hour it
        touches; a given count is kept.
        """
        tmp = self._staging(f"epoch-{int(epoch_id)}")
        self._write(self._hashed(self._project(df), target_partitions), tmp)
        commit.move_in(tmp, self.path, self.bucket_col, prefix=f"epoch{int(epoch_id)}-")
        self._invalidate()

    def ingest_checked(
        self,
        df: DataFrame,
        max_null_frac: float = 0.0,
        min_rows: int = 1,
        ts_bounds_ms: tuple[int, int] | None = None,
        target_partitions: int | None = None,
    ) -> dict:
        """Write-audit-publish ingest (the Iceberg WAP / Delta-constraint
        pattern): the batch is WRITTEN to an invisible staging dir,
        AUDITED against data-quality gates using metrics that piggyback
        that same write pass (the :meth:`ingest` ``observe`` trick — no
        second scan), and PUBLISHED by O(touched partitions) file moves
        only if every check passes.  A failing batch leaves the table
        bit-for-bit untouched — the property a blind append cannot give
        (half-ingested garbage needs a purge).

        Checks: row count ≥ ``min_rows``; null-value fraction ≤
        ``max_null_frac``; all timestamps inside ``ts_bounds_ms``
        (inclusive) when given — the late/future-clock guard.  Returns
        the metrics dict (with ``published: True``); raises ValueError
        carrying the metrics when a gate fails.
        """
        from pyspark.sql import Observation

        obs = Observation("wap")
        pts = self._hashed(self._project(df), target_partitions).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("value").isNull().cast("long")).alias("null_values"),
            F.min("ts_ms").alias("min_ts_ms"),
            F.max("ts_ms").alias("max_ts_ms"),
        )
        tmp = self._staging("wap")
        self._write(pts, tmp)
        m = dict(obs.get)
        problems = []
        if m["rows"] < min_rows:
            problems.append(f"rows {m['rows']} < {min_rows}")
        if m["rows"] and m["null_values"] / m["rows"] > max_null_frac:
            problems.append(
                f"null fraction {m['null_values'] / m['rows']:.4f} > {max_null_frac}"
            )
        if ts_bounds_ms is not None and m["rows"]:
            lo, hi = ts_bounds_ms
            if m["min_ts_ms"] < lo or m["max_ts_ms"] > hi:
                problems.append(
                    f"ts range [{m['min_ts_ms']}, {m['max_ts_ms']}] outside [{lo}, {hi}]"
                )
        if problems:
            shutil.rmtree(tmp, ignore_errors=True)
            raise ValueError(f"WAP audit failed: {'; '.join(problems)} | metrics={m}")
        commit.move_in(tmp, self.path, self.bucket_col)  # publish (append)
        self._invalidate()
        m["published"] = True
        return m

    def compact(self, target_partitions: int | None = None, dedupe: bool = False) -> None:
        """Rewrite the table into large, sorted files — the maintenance op
        that keeps a 100 TB table healthy after many small appends (each
        micro-batch/streaming append adds files per touched hour; scan cost
        grows with file count, not data size).

        Rewrites into a temp location then swaps partition directories, since
        Spark refuses to overwrite a path it is reading.  The swap
        (:func:`commit.swap_partitions`) is the driver-side metadata commit
        step (same shape as Iceberg/Delta rewrite-commit); data movement is
        fully distributed.  Idempotent — a crash before the swap leaves the
        table untouched, a crash inside it is healed by :meth:`vacuum` or
        the next rewrite.

        ``dedupe=True`` additionally drops exact-duplicate points — the
        cleanup for retried ingest batches (append-only storage makes
        re-ingestion duplicate rather than corrupt, unlike the reference's
        append-to-shard path); identical rows collapse deterministically,
        conflicting values for the same (metric, ts) are both kept.
        """
        self._recover()
        df = self._read()
        if df is None:
            return  # empty store — nothing to compact
        if dedupe:
            df = df.dropDuplicates(["metric", "ts_ms", "value", self.bucket_col])
        tmp = self._staging("compact")
        n = target_partitions or self.spark.sparkContext.defaultParallelism
        self._write(df.repartitionByRange(n, self.bucket_col, "metric", "ts_ms"), tmp)
        self._swap(tmp)

    def upsert(self, df: DataFrame, target_partitions: int | None = None) -> None:
        """Backfill/correction merge: new points REPLACE existing points with
        the same ``(metric, ts_ms)``; everything else in the touched hour
        partitions is carried over, and untouched partitions never move.

        The reference had no update path at all (append corrupts nothing but
        duplicates, engine/shard.cpp:79-105); this is the missing op done the
        only way that scales: rewrite O(touched hour partitions), not the
        table.  Duplicate keys *within the incoming batch* collapse to the
        max value (deterministic regardless of partitioning).
        """
        self._recover()
        new = (
            self._project(df)
            .groupBy(self.bucket_col, "metric", "ts_ms")
            .agg(F.max("value").alias("value"))
            .withColumn("pri", F.lit(1))
        )
        # touched-partition list: O(hours in the batch) driver-side metadata,
        # same cost class as expire(); NOT a data collect
        buckets = [r[0] for r in new.select(self.bucket_col).distinct().collect()]
        if not buckets:
            return
        existing = (
            self.points()
            .filter(F.col(self.bucket_col).isin(buckets))
            .select(self.bucket_col, "metric", "ts_ms", "value")
            .withColumn("pri", F.lit(0))
        )
        merged = (
            existing.unionByName(new)
            .groupBy(self.bucket_col, "metric", "ts_ms")
            .agg(F.max_by("value", "pri").alias("value"))
        )
        tmp = self._staging("upsert")
        n = target_partitions or max(
            2, min(len(buckets), self.spark.sparkContext.defaultParallelism)
        )
        self._write(self._hashed(merged, n), tmp)
        self._swap(tmp)

    def purge(
        self,
        metrics: str | list[str],
        start_ms: int | None = None,
        end_ms: int | None = None,
        target_partitions: int | None = None,
    ) -> int:
        """Targeted delete — the right-to-be-forgotten / bad-sensor-recall
        op: remove every point of ``metrics`` (optionally bounded to
        [start_ms, end_ms], inclusive like :meth:`query_range`), touching
        ONLY the hour partitions that actually contain matches.

        Parquet is immutable, so deletion is a rewrite — the scaling
        question is how much.  Shape: one column-pruned scan finds the
        affected buckets (O(hours-with-matches) driver metadata, the
        :meth:`upsert` discipline), those partitions are rewritten with
        the anti-filter to a staging dir and atomically swapped in, and
        partitions left EMPTY by the purge are dropped like
        :meth:`expire` drops expired ones.  Untouched partitions never
        move — at 100 TB a metric confined to a few hours costs a few
        partition rewrites, not a table scan-and-rewrite.

        Returns the number of points deleted.
        """
        self._recover()
        ms = [metrics] if isinstance(metrics, str) else list(metrics)
        cond = F.col("metric").isin(ms)
        if start_ms is not None:
            cond = cond & (F.col("ts_ms") >= start_ms)
        if end_ms is not None:
            cond = cond & (F.col("ts_ms") <= end_ms)
        pts = self.points()
        buckets = [
            r[0] for r in pts.filter(cond).select(self.bucket_col).distinct().collect()
        ]
        if not buckets:
            return 0
        affected = pts.filter(F.col(self.bucket_col).isin(buckets))
        n_deleted = affected.filter(cond).count()
        keep = affected.filter(~cond).select("metric", "ts_ms", "value", self.bucket_col)
        tmp = self._staging("purge")
        n = target_partitions or max(
            2, min(len(buckets), self.spark.sparkContext.defaultParallelism)
        )
        self._write(self._hashed(keep, n), tmp)
        # partitions whose every row matched the predicate produce no dir
        # in the staging write — the swap drops them from the table
        self._swap(tmp, touched=[f"{self.bucket_col}={b}" for b in buckets])
        return n_deleted

    def stats(self) -> dict:
        """Table health report — the numbers a maintenance schedule keys
        off: partition/file counts and bytes from ONE directory walk
        (O(metadata)), row count from parquet footer statistics (Spark's
        count(*) over parquet reads footers, not data).  A files/partition
        ratio creeping up says "compact"; bytes/row says how the encoding
        is doing.  Every ``<bucket_col>=`` dir counts, the null-timestamp
        dir that :meth:`_partitions` skips included, as its rows count in
        :meth:`points`."""
        n_parts = n_files = n_bytes = 0
        for entry in self._listing():
            if not entry.startswith(self.bucket_col + "="):
                continue
            n_parts += 1
            pdir = os.path.join(self.path, entry)
            for fname in os.listdir(pdir):
                if fname.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(pdir, fname))
        rows = self.points().count() if n_files else 0
        return {
            "partitions": n_parts,
            "files": n_files,
            "bytes": n_bytes,
            "rows": rows,
            "bytes_per_row": round(n_bytes / rows, 2) if rows else 0.0,
            "files_per_partition": round(n_files / n_parts, 2) if n_parts else 0.0,
        }

    def vacuum(self) -> int:
        """Remove crashed staging state.  First heals interrupted partition
        swaps INSIDE the table path: a :meth:`compact` / :meth:`upsert` /
        :meth:`purge` that dies mid-swap leaves ``.compact-old-`` move-aside
        dirs, and one whose live partition is missing holds that
        partition's only copy — it is moved back, the rest are removed
        (:func:`commit.recover_compact`).  Then removes the ``*-tmp``
        sibling dirs a rewrite, epoch ingest or API append that died
        mid-write leaves behind: with the asides recovered, data in them
        was never the only copy of anything visible.  A write still in
        flight stages the same way, so run this when none is.  Zero data
        read; returns the number of staging dirs removed."""
        self._recover()
        removed = 0
        base = self.path.rstrip("/")
        parent, name = os.path.dirname(base), os.path.basename(base)
        for entry in os.listdir(parent or "."):
            # compact/upsert/purge staging, the exactly-once sink's
            # per-epoch staging (".epoch-<id>-tmp") and the API append's
            # per-call staging (".append-<uuid>-tmp")
            if (
                entry.startswith(name + ".")
                and entry.endswith("-tmp")
                and os.path.isdir(os.path.join(parent, entry))
            ):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
                removed += 1
        return removed

    def expire(self, before_ms: int) -> int:
        """Retention: drop every hour partition that ends at or before
        ``before_ms``.  Pure partition-directory removal — O(expired
        partitions) metadata work, zero data scanned, exactly how TTL must
        work at 100 TB (a filtering rewrite would read the whole table).
        Returns the number of partitions dropped.  The null-timestamp dir
        has no age and is kept (:meth:`_partitions`)."""
        # bucket b covers [b·H, (b+1)·H): expired iff (b+1)·H <= before_ms
        cutoff_bucket = before_ms // self.bucket_ms - 1
        dropped = 0
        for b, entry in self._partitions():
            if b <= cutoff_bucket:
                shutil.rmtree(os.path.join(self.path, entry))
                dropped += 1
        if dropped:
            self._invalidate()
        return dropped

    def tier_and_expire(self, before_ms: int, bucket: str = "1 hour") -> int:
        """Retention with downsample tiering (the TimescaleDB
        retention-policy + continuous-aggregate composition): FIRST make
        sure the rollup covers every raw point about to be dropped, THEN
        drop the raw hour partitions older than ``before_ms``.  Old data
        stays queryable at ``bucket`` resolution through :meth:`rollup`
        while raw storage is reclaimed.

        Ordering is the safety property: the rollup refresh runs strictly
        before any partition delete, so a crash between the two steps
        leaves BOTH raw and rolled-up data present (re-running is
        idempotent), never neither.  Cost: one aggregation over the
        expiring window (day-partition dynamic overwrite, same as any
        incremental refresh) + O(expired partitions) metadata deletes.
        Returns the number of raw partitions dropped.
        """
        # full refresh: guarantees coverage of the expiring days without a
        # coverage watermark.  In steady state the rollup is maintained
        # incrementally on ingest (stream_to_store's rollup_bucket), so
        # production would track the covered-through watermark and skip
        # this when it already passes the cutoff.
        self.materialize_rollup(bucket)
        return self.expire(before_ms)

    # ------------------------------------------------------------------- read
    def points(self) -> DataFrame:
        """Every stored point as a lazy DataFrame (metric, ts_ms, value,
        bucket, ``ts``): the Spark path's one reader, which query_range,
        downsample, the rewrites and the analytics tier all build on.  The
        handle is cached until the next write.  After an API append it is
        rebuilt through :meth:`_read`, which first runs the
        ``refreshByPath`` the append left pending, so Spark sees every API
        write."""
        if self._points_cache is not None:
            return self._points_cache
        df = self._read()
        if df is None:
            # empty database → empty result, matching the reference's
            # query-on-empty behaviour (tests/test_api.py:59-66), not an error
            empty = self.spark.createDataFrame([], POINT_SCHEMA)
            df = empty.withColumn(self.bucket_col, F.lit(0).cast("long"))
        out = df.withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
        # cache the lazy handle for DataFrame consumers (query_range,
        # downsample, rewrites, the analytics tier): re-creating the reader
        # re-lists every partition directory, a Spark listing job on an
        # hour-partitioned store.  The cached plan keeps the file index and
        # is dropped on every write, the API's Arrow appends
        # (append_points) included.  The API's reads never use it: they
        # read the bucket dirs themselves (read_points).
        self._points_cache = out
        return out

    def query_range(
        self,
        start_ms: int,
        end_ms: int,
        metrics: list[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Inclusive time-range scan (reference engine/insight.cpp:26-49).

        The ``hour_bucket`` predicate hits the Parquet partition column →
        Catalyst prunes to the buckets intersecting [start, end] at plan
        time, exactly the reference's shard loop but O(matching partitions)
        on any cluster size; the ``ts_ms`` predicate additionally prunes row
        groups via min/max stats (which the reference lacked — SURVEY §4.2).
        """
        lo = start_ms // self.bucket_ms
        hi = end_ms // self.bucket_ms
        df = (
            self.points()
            .filter(F.col(self.bucket_col).between(lo, hi))
            .filter(F.col("ts_ms").between(start_ms, end_ms))
        )
        if metrics:
            df = df.filter(F.col("metric").isin(metrics))
        df = df.orderBy("ts_ms", "metric")
        if limit is not None:
            # reference truncates at buffer capacity (api/main.py:85); here the
            # limit composes with the sort → TakeOrderedAndProject (top-k),
            # which short-circuits instead of scanning on (SURVEY §4.2).
            df = df.limit(limit)
        return df

    def read_points(
        self,
        start_ms: int,
        end_ms: int,
        metrics: list[str] | None = None,
        limit: int | None = None,
    ) -> pa.Table:
        """The (metric, ts_ms, value) rows of :meth:`query_range`, read
        in-process with Arrow — the reference's read shape (decode the few
        shard files in range, engine/insight.cpp:26-49) without a Spark
        job per call.

        Reads the files Spark's file index would: the bucket dirs
        (:meth:`_partitions`) in [start, end]'s buckets, ascending, minus
        hidden names (``_*``, ``.*``, ``*._COPYING_``).  The root is not
        listed when the range spans no more buckets than the root has
        subdirectories (its link count less 2, one ``stat``): each bucket's
        dir is opened by name, and a missing one is an empty bucket.  A
        wider range, or a file system whose directory link count is not a
        subdirectory count (btrfs reports 1), lists the root and parses
        every name.  Both select the same dirs, because a bucket dir has
        one spelling.  Each file is opened with ``pq.ParquetFile``; only
        its row groups whose ``ts_ms`` min/max overlaps [start, end] are
        decoded (:func:`_read_file`).  A bucket holds exactly the
        timestamps [b·bucket_ms, (b+1)·bucket_ms), so the walk stops after
        the bucket that fills ``limit``.  The rows come back in Spark's
        ``orderBy("ts_ms", "metric")`` order, nulls first.  A bucket's
        files are concatenated in the order of their first timestamp read,
        and the rows are sorted only when their ``ts_ms`` is not then
        strictly increasing (no row read has a null ``ts_ms``), as sorted
        files of one metric over disjoint times read, an hour with
        appended files included: with no two timestamps equal, the metric
        order cannot matter.  No cache: every call reads the directories
        again, so a read sees every earlier write.  A read is not isolated
        from a write it overlaps: it may return part of a batch that is
        still committing, and an hour a rewrite is swapping may fail the
        read, or, when its dir is opened by name, read as empty.  A missing
        store reads as empty; an unreadable file raises."""
        if limit is not None and limit < 0:
            raise ValueError(f"limit must be >= 0, got {limit}")
        lo, hi = start_ms // self.bucket_ms, end_ms // self.bucket_ms
        try:
            n_dirs = os.stat(self.path).st_nlink - 2
        except FileNotFoundError:
            n_dirs = -1
        by_name = hi - lo + 1 <= n_dirs
        if by_name:
            dirs = [f"{self.bucket_col}={b}" for b in range(lo, hi + 1)]
        else:
            dirs = [n for b, n in sorted(self._partitions()) if lo <= b <= hi]
        wanted = pa.array(metrics, pa.string()) if metrics else None
        parts, rows = [], 0
        for name in dirs:
            if limit is not None and rows >= limit:
                break
            try:
                entries = os.scandir(os.path.join(self.path, name))
            except FileNotFoundError:
                if by_name:
                    continue
                raise
            bucket = []
            for e in entries:
                if _is_data(e):
                    t, metric = _read_file(e.path, start_ms, end_ms, wanted)
                    if t.num_rows:
                        bucket.append((t, metric))
                        rows += t.num_rows
            if len(bucket) > 1:
                bucket.sort(key=lambda p: p[0].column("ts_ms")[0].as_py())
            parts += bucket
        # when every file read holds one and the same metric, its column
        # is built once, for the rows returned
        one = {m for _, m in parts}
        metric = one.pop() if len(one) == 1 else None
        if metric is None:
            tables = [t if m is None else _with_metric(t, m) for t, m in parts]
        else:
            tables = [t for t, _ in parts]
        out = pa.concat_tables(tables) if tables else ARROW_SCHEMA.empty_table()
        ts = out.column("ts_ms").to_numpy()
        if not (ts[1:] > ts[:-1]).all():
            if metric is not None:
                out, metric = _with_metric(out, metric), None
            out = _spark_order(out)
        out = out if limit is None else out.slice(0, limit)
        return out if metric is None else _with_metric(out, metric)

    # --------------------------------------------------------------- rollups
    DAY_MS = 86_400_000

    def _rollup_path(self, bucket: str) -> str:
        return self.path.rstrip("/") + "_rollup_" + bucket.replace(" ", "_")

    def materialize_rollup(self, bucket: str = "1 hour", since_ms: int | None = None) -> None:
        """Materialized continuous aggregate (the hypertable-rollup pattern):
        persist :meth:`downsample`'s output partitioned by day so dashboards
        read the small rollup table instead of re-aggregating raw points.

        ``since_ms`` makes the refresh incremental: only day partitions at or
        after it are recomputed and swapped in via dynamic partition
        overwrite — at 100 TB a full rebuild is a once-ever event, the
        steady state is "refresh the days the last ingest touched".
        """
        agg = self.downsample(bucket)
        if since_ms is not None:
            lo_day = since_ms // self.DAY_MS
            agg = agg.filter(F.col("bucket_ms") >= lo_day * self.DAY_MS)
        out = agg.withColumn(
            "day_bucket", F.floor(F.col("bucket_ms") / self.DAY_MS).cast("long")
        )
        (
            # hash, not range: the range sampler would re-run the whole
            # downsample aggregation a second time just to pick boundaries
            out.repartition(
                max(2, self.spark.sparkContext.defaultParallelism // 4),
                "day_bucket", "metric",
            )
            .sortWithinPartitions("day_bucket", "metric", "bucket_ms")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day_bucket")
            .parquet(self._rollup_path(bucket))
        )

    def rollup(
        self,
        bucket: str = "1 hour",
        start_ms: int | None = None,
        end_ms: int | None = None,
    ) -> DataFrame:
        """Serve a downsample from the materialized rollup when one exists
        (day-partition pruning bounds the read to the queried window),
        falling back to on-the-fly aggregation of raw points."""
        df = _parquet_or_none(self.spark.read, self._rollup_path(bucket))
        if df is None:
            return self.downsample(bucket, start_ms, end_ms)
        if start_ms is not None and end_ms is not None:
            df = df.filter(
                F.col("day_bucket").between(start_ms // self.DAY_MS, end_ms // self.DAY_MS)
            ).filter(F.col("bucket_ms").between(start_ms, end_ms))
        return df.drop("day_bucket")

    def downsample(
        self,
        bucket: str = "1 hour",
        start_ms: int | None = None,
        end_ms: int | None = None,
    ) -> DataFrame:
        """Time-bucketed aggregation per metric — the canonical TSDB op the
        reference lacks (SURVEY §2.2).  Tumbling window → single shuffle on
        (window, metric); partial aggregation is map-side (HashAggregateExec).
        """
        df = self.points()
        if start_ms is not None and end_ms is not None:
            df = self.query_range(start_ms, end_ms)
        return (
            df.groupBy(F.window("ts", bucket).alias("w"), "metric")
            .agg(
                F.count("*").alias("n"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
                F.avg("value").alias("avg_value"),
                F.sum("value").alias("sum_value"),
            )
            .select(
                F.unix_millis(F.col("w.start")).alias("bucket_ms"),
                "metric",
                "n",
                "min_value",
                "max_value",
                "avg_value",
                "sum_value",
            )
        )


def _is_data(entry: os.DirEntry) -> bool:
    """Spark's file-index rule for a partition dir's files: ``_*`` and
    ``.*`` names (``_SUCCESS``, ``.crc``) and in-flight ``*._COPYING_``
    copies are not data."""
    name = entry.name
    return entry.is_file() and not name.startswith(("_", ".")) and not name.endswith("._COPYING_")


def _spark_order(t: pa.Table) -> pa.Table:
    """``t`` in Spark's ``orderBy("ts_ms", "metric")`` order: ascending,
    nulls first."""
    return t.sort_by([("ts_ms", "ascending"), ("metric", "ascending")], null_placement="at_start")


def _read_file(
    path: str, start_ms: int, end_ms: int, metrics: pa.Array | None
) -> tuple[pa.Table, str | None]:
    """One data file's rows with ``start_ms <= ts_ms <= end_ms`` (and
    ``metric`` in ``metrics``, when given), as :data:`ARROW_SCHEMA` and
    None; or, when ``metric`` holds one value (below), as ``(ts_ms,
    value)`` and that value, which :func:`_with_metric` puts back.  Row
    groups whose ``ts_ms`` min/max lies outside the range are not read; a
    group without min/max statistics is read and filtered.

    The row groups are decoded on the calling thread, and the rest of the
    work each file needs is read off its metadata and its ``ts_ms``:

    - a file already in :data:`ARROW_SCHEMA`'s types is not cast;
    - when no metric was asked for and every row group read has
      ``metric`` statistics showing one value (min == max, a null count
      of 0, the same value in every group), ``metric`` is not decoded.
      Parquet truncates only a long string's statistics, and a truncated
      min and max are never equal;
    - when no metric was asked for and every row group read has
      statistics that put its ``ts_ms`` min and max inside the range and
      count no null ``ts_ms``, every row read is kept;
    - otherwise, when no metric was asked for and the ``ts_ms`` read holds
      no null and never decreases, the range is cut out with a binary
      search and a zero-copy slice;
    - otherwise the rows are filtered, with a ``ts_ms`` mask built with
      numpy on the column's values, or with Arrow when the column holds a
      null (a null timestamp is in no range)."""
    with pa.OSFile(path) as source, pq.ParquetFile(source) as f:
        meta, schema = f.metadata, f.schema_arrow
        ts_col = schema.get_field_index("ts_ms")
        m_col = schema.get_field_index("metric")
        one_value = metrics is None and m_col >= 0 and schema.field(m_col).type == pa.string()
        groups, inside, metric_values = [], True, set()
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            st = rg.column(ts_col).statistics
            if st is None or not st.has_min_max:
                inside = False
            elif st.min <= end_ms and st.max >= start_ms:
                inside = (
                    inside
                    and start_ms <= st.min
                    and st.max <= end_ms
                    and st.has_null_count
                    and st.null_count == 0
                )
            else:
                continue
            groups.append(g)
            if one_value:
                ms = rg.column(m_col).statistics
                one_value = (
                    ms is not None
                    and ms.has_min_max
                    and ms.has_null_count
                    and ms.null_count == 0
                    and ms.min == ms.max
                )
                if one_value:
                    metric_values.add(ms.min)
        one_value = one_value and len(metric_values) == 1
        schema = _TS_VALUE if one_value else ARROW_SCHEMA
        # one thread: a file holds a few row groups in range, where
        # handing its column chunks to Arrow's pool costs more CPU than the
        # decode it spreads
        t = f.read_row_groups(groups, columns=schema.names, use_threads=False)
    if not t.schema.equals(schema):
        t = t.select(schema.names).cast(schema)
    if not inside or metrics is not None:
        t = _cut(t, start_ms, end_ms, metrics)
    return t, metric_values.pop() if one_value else None


def _with_metric(t: pa.Table, metric: str) -> pa.Table:
    """``t``'s (ts_ms, value) rows as :data:`ARROW_SCHEMA`, every one of
    ``metric``."""
    column = pa.repeat(pa.scalar(metric, pa.string()), t.num_rows)
    return pa.table([column, t.column("ts_ms"), t.column("value")], schema=ARROW_SCHEMA)


def _cut(t: pa.Table, start_ms: int, end_ms: int, metrics: pa.Array | None) -> pa.Table:
    """The rows of ``t`` in [start_ms, end_ms] with ``metric`` in
    ``metrics`` (when given), by :func:`_read_file`'s rules."""
    ts = t.column("ts_ms")
    if ts.null_count:
        keep = pc.and_(pc.greater_equal(ts, start_ms), pc.less_equal(ts, end_ms))
    else:
        a = ts.to_numpy()
        if metrics is None and (a[1:] >= a[:-1]).all():
            i = np.searchsorted(a, start_ms, side="left")
            j = np.searchsorted(a, end_ms, side="right")
            return t.slice(i, max(j - i, 0))
        keep = pa.array((a >= start_ms) & (a <= end_ms))
    if metrics is not None:
        keep = pc.and_(keep, pc.is_in(t.column("metric"), value_set=metrics))
    return t.filter(keep)


def _canonical_int(s: str) -> int | None:
    """``int(s)`` when ``s`` is spelled as ``str(int(s))``; None for any
    other string (``01``, ``+1``, ``1_0``, `` 1``, ``__HIVE_DEFAULT_PARTITION__``)."""
    try:
        b = int(s)
    except ValueError:
        return None
    return b if str(b) == s else None


def _parquet_or_none(reader, path: str) -> DataFrame | None:
    """``reader.parquet(path)``, or None when ``path`` does not exist (an
    empty store, a rollup never materialized).  Every other error — an
    unreadable or corrupt file — propagates rather than reading as "no
    data"."""
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return None
