"""Seeded inputs for the benchmark's three parts (serving, analytics, stream).

Everything a workload feeds the program is a function of the workload seed
alone: the point store, the serving operation sequence (range starts and
write batches), the analytics tables and query order, and the stream's
epoch files.  Files are written with pyarrow, whose output is byte-stable
for equal inputs, so the same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- serving
METRIC = "cpu.load.avg"
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
STEP_MS = 1_000
N_POINTS = 1_000_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
READ_CAP = 10_000  # api.BUFFER_CAPACITY
WRITE_BATCH = 1_000

# one serving cycle: 6 hot and 2 cold reads in seeded order, then a write
# and the fresh read of the hour it landed in (8 steady reads + 1 fresh per
# write, hot:cold 3:1)
CYCLE_HOT, CYCLE_COLD = 6, 2


def point_values(rng: np.random.Generator, first: int, n: int) -> np.ndarray:
    """Values of points ``first .. first+n-1``: 50 + 20 sin(i/100) + U(-1, 1)."""
    i = np.arange(first, first + n, dtype=np.float64)
    return 50.0 + 20.0 * np.sin(i / 100.0) + rng.uniform(-1.0, 1.0, n)


def point_ts(first: int, n: int) -> np.ndarray:
    return T0_MS + STEP_MS * np.arange(first, first + n, dtype=np.int64)


def base_points(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The reference workload: N_POINTS points at 1 s spacing, one metric."""
    rng = np.random.default_rng([seed, 0])
    return point_ts(0, N_POINTS), point_values(rng, 0, N_POINTS)


def write_batch(seed: int, k: int, first: int) -> tuple[np.ndarray, np.ndarray]:
    """The k-th write: WRITE_BATCH new points starting at point ``first``."""
    rng = np.random.default_rng([seed, 1, k])
    return point_ts(first, WRITE_BATCH), point_values(rng, first, WRITE_BATCH)


def write_points_table(path: str, ts: np.ndarray, values: np.ndarray) -> None:
    table = pa.table(
        {
            "metric": pa.array([METRIC] * len(ts), pa.string()),
            "ts_ms": pa.array(ts, pa.int64()),
            "value": pa.array(values, pa.float64()),
        }
    )
    pq.write_table(table, path)


class ServeOps:
    """The serving client's operation sequence.

    Op ``j`` is a pure function of (seed, j) and of how many points the
    store holds when it runs, which the sequence itself determines, so the
    same seed always sends the same requests.  Each op is
    ``(kind, start_ms, end_ms)``; for a write, ``start_ms`` is the first
    point index of the batch and ``end_ms`` the batch number.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 2])
        self.n_points = N_POINTS
        self.n_writes = 0
        self._pending: list[tuple[str, int, int]] = []

    def _cycle(self) -> list[tuple[str, int, int]]:
        kinds = ["hot"] * CYCLE_HOT + ["cold"] * CYCLE_COLD
        self.rng.shuffle(kinds)
        ops = []
        for kind in kinds:
            if kind == "hot":
                # a 1 h range inside the newest 10 % of the store
                lo_i = int(self.n_points * 0.9)
                hi_i = self.n_points - HOUR_MS // STEP_MS
            else:
                # a 24 h range inside the oldest 50 %
                lo_i = 0
                hi_i = self.n_points // 2 - DAY_MS // STEP_MS
            width = HOUR_MS if kind == "hot" else DAY_MS
            start = T0_MS + STEP_MS * int(self.rng.integers(lo_i, hi_i))
            # a random sub-second offset so bounds are not always on a point
            start += int(self.rng.integers(0, STEP_MS))
            ops.append((kind, start, start + width))
        first = self.n_points
        ops.append(("write", first, self.n_writes))
        last_ts = T0_MS + STEP_MS * (first + WRITE_BATCH - 1)
        ops.append(("fresh", last_ts - HOUR_MS + 1, last_ts))
        self.n_points += WRITE_BATCH
        self.n_writes += 1
        return ops

    def next(self) -> tuple[str, int, int]:
        if not self._pending:
            self._pending = self._cycle()
        return self._pending.pop(0)


# -------------------------------------------------------------- analytics
ANALYTICS_QUERIES = (
    "downsample_1h", "moving_avg", "ohlc_1h", "asof_join", "sessionize",
    "gapfill_locf", "clean_corpus", "dedup_clusters", "minhash_lsh",
    "cosine_topk", "semantic_dedup", "tfidf_top_terms", "quality_score",
    "pagerank", "k_core",
)

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
EVENTS_T0_US = T0_MS * 1_000
EVENTS_SPAN_US = 30 * DAY_MS * 1_000
N_USERS = 1_500
DUP_FRAC = 0.05  # share of documents that near-duplicate an earlier one
EMBED_DIM = 64


def events_table(
    rng: np.random.Generator,
    n: int,
    first_id: int = 0,
    t0_us: int = EVENTS_T0_US,
    span_us: int = EVENTS_SPAN_US,
    tz: str | None = None,
) -> pa.Table:
    """Event rows shaped like the test tables' ``events`` table: sorted
    timestamps over ``span_us`` (30 days by default), five event types,
    2-decimal values and a small JSON prop."""
    ts = np.sort(rng.integers(0, span_us, n)) + t0_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz=tz)),
            "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)], pa.string()),
            "value": pa.array(np.round(rng.gamma(2.0, 25.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; a DUP_FRAC share
    are near-duplicates (an earlier document's text plus ``dup``),
    which gives the LSH, dedup and graph queries clusters to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm float32 vectors with a 0..9 label."""
    x = rng.standard_normal((n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


# the tables are fixed, like the correctness gate's seed-42 data at its
# sf0.01 sizes; the workload seed permutes the query order
ANALYTICS_ROWS = {"events": 10_000, "documents": 500, "embeddings": 500}
TABLES_SEED = 42


def write_analytics_tables(out_dir: str, rows: dict[str, int] = ANALYTICS_ROWS) -> None:
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": events_table, "documents": documents_table, "embeddings": embeddings_table}
    for i, (name, make) in enumerate(makers.items()):
        table = make(np.random.default_rng([TABLES_SEED, 3, i]), rows[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def query_order(seed: int) -> list[str]:
    """The seeded order of the analytics queries."""
    order = list(ANALYTICS_QUERIES)
    np.random.default_rng([seed, 4]).shuffle(order)
    return order


# -------------------------------------------------------------- streaming
STREAM_EPOCH_US = HOUR_MS * 1_000


def write_stream_epochs(src_dir: str, seed: int, n_epochs: int, rows: int) -> None:
    """One parquet file per epoch, each the next hour of events in time
    order.  File names sort in epoch order, so a ``maxFilesPerTrigger=1``
    file source reads epoch k in micro-batch k."""
    os.makedirs(src_dir, exist_ok=True)
    for e in range(n_epochs):
        table = events_table(
            np.random.default_rng([seed, 5, e]),
            rows,
            first_id=e * rows,
            t0_us=EVENTS_T0_US + e * STREAM_EPOCH_US,
            span_us=STREAM_EPOCH_US,
            tz="UTC",
        )
        pq.write_table(table, os.path.join(src_dir, f"epoch-{e:04d}.parquet"))
