"""Driver contract: ``entry(spark)``, ``queries()`` and ``oracle_sql()``.

Every operator from SURVEY.md §2 (reference surface + tier-2 north-star
ops) is a ``q_*`` builder with one row in ``REGISTRY``: its name, the
builder, and whether ``bench.py`` times it.  ``queries()`` is that table
in row order; ``oracle_sql()`` holds the DuckDB-ANSI-SQL oracle of
each name that has one.  Float aggregates are rounded identically on
both sides; event-time keys are integer epoch-ms (``epoch_ms(ts)`` ↔
``ts_ms``) so no engine-specific timestamp semantics leak into the hash.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from time_series_databse_engine_spark import TimeSeriesStore
from time_series_databse_engine_spark.operators import (
    asof as asof_ops,
    dedup as dedup_ops,
    packing as packing_ops,
    sketches as sketch_ops,
    similarity as sim_ops,
    skew as skew_ops,
    text as text_ops,
    timeseries as ts_ops,
)
from time_series_databse_engine_spark.operators._util import _parallelize, _shuffle_width, memo
from time_series_databse_engine_spark.sources import load_table

# fixed query window: 2024-01-02 .. 2024-01-03 UTC (events span Jan 1-30)
T1 = 1_704_153_600_000
T2 = 1_704_240_000_000
WEEK_END = 1_704_758_400_000
MS_H = 3_600_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A driver table's lazy plan; ``sf_dir`` is never written to."""
    return memo(spark, (f"{sf_dir}/{name}", "table"), lambda: load_table(spark, sf_dir, name))


def _fixture_dir(spark, sf_dir: str, prefix: str, build: Callable[[str], None]) -> str:
    """The temp dir of a fixture built once per session and ``sf_dir``:
    ``build(path)`` fills a fresh ``mkdtemp(prefix=prefix)`` dir on first
    use.  The fixtures are the store, the ANN and MaxSim indexes and the
    corpus's LSH pair table (:func:`_scaled_banded_pairs`); each is
    derived from the ``sf_dir`` tables alone, and reusing it for the whole
    session relies on the rule that ``sf_dir`` is never written to.  The
    dir is removed when the memo drops a stopped session's entries, on
    the next session's first miss, or at process exit."""

    def remove(path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def make() -> str:
        path = tempfile.mkdtemp(prefix=prefix)
        atexit.register(remove, path)
        build(path)
        return path

    return memo(spark, (sf_dir, prefix), make, drop=remove)


# --------------------------------------------------------------------------
# reference-parity queries (SURVEY.md §2.1): inclusive range scan, pruned
# partitions, limit, empty range, per-metric namespace
# --------------------------------------------------------------------------

def q_range_scan(spark, sf_dir):
    """O3-O5: inclusive time-range scan (engine/insight.cpp:26-49)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts_ms").between(T1, T2))
        .select("event_id", "ts_ms", "event_type", "value")
    )


def q_range_scan_empty(spark, sf_dir):
    """Empty-range behaviour (reference test_engine.cpp:61-62): 0 rows."""
    lo = 1_900_000_000_000  # 2030 — beyond the data
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts_ms").between(lo, lo + MS_H))
        .select("event_id", "ts_ms", "value")
    )


def q_range_scan_metric(spark, sf_dir):
    """Per-series range scan — fixes the reference's dropped ``metric``
    (api/main.py:70); series column = event_type."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts_ms").between(T1, WEEK_END) & (F.col("event_type") == "click"))
        .select("event_id", "ts_ms", "event_type", "value")
    )


def q_range_limit(spark, sf_dir):
    """O6 limit/truncation (api/main.py:85) made deterministic: top-100 by
    (ts, id) — Spark plans TakeOrderedAndProject (true top-k)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts_ms") >= T1)
        .orderBy("ts_ms", "event_id")
        .limit(100)
        .select("event_id", "ts_ms", "event_type", "value")
    )


def q_tsdb_roundtrip(spark, sf_dir):
    """End-to-end O1→O5: ingest events into the hour-partitioned Parquet
    store, then inclusive range scan back out (must equal a direct scan of
    the source — proving the storage layer is lossless)."""
    store = _get_store(spark, sf_dir)
    return (
        store.query_range(T1, T2)
        .select("metric", "ts_ms", "value")
    )


def _get_store(spark, sf_dir) -> TimeSeriesStore:
    def build(path: str) -> None:
        ev = _t(spark, sf_dir, "events").select(
            F.col("event_type").alias("metric"), "ts_ms", "value"
        )
        TimeSeriesStore(spark, path + "/points").ingest(ev)

    return TimeSeriesStore(spark, _fixture_dir(spark, sf_dir, "tsdb_store_", build) + "/points")


# --------------------------------------------------------------------------
# time-bucketed aggregation / per-series stats (SURVEY.md §2.2)
# --------------------------------------------------------------------------

def q_downsample_1h(spark, sf_dir):
    """The canonical TSDB downsample: 1h tumbling buckets per series."""
    return ts_ops.downsample(_t(spark, sf_dir, "events"), MS_H, ["event_type"])


def q_downsample_5m(spark, sf_dir):
    return ts_ops.downsample(
        _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2)),
        300_000,
        ["event_type"],
    )


def q_metric_stats(spark, sf_dir):
    """Whole-series profile per metric (count/distinct/extremes/moments)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.stddev("value"), 4).alias("std_value"),
        )
    )


# --------------------------------------------------------------------------
# relational surface over the TPC-H-ish tables (SURVEY.md §7.2 step 2)
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates; Catalyst does
    partial (map-side) aggregation before the 6-group shuffle."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf_dir):
    """3-way join with broadcast dims: orders ⋈ customer ⋈ nation ⋈ region.
    Only the orders↔customer join shuffles; nation/region broadcast."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_top_customers(spark, sf_dir):
    """Top-10 by revenue: aggregate then global top-k (TakeOrderedAndProject)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
        .select(F.col("c_custkey").alias("custkey"), "c_name", "revenue")
    )


def q_customers_no_orders(spark, sf_dir):
    """Anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_customer_order_counts_semi(spark, sf_dir):
    """Semi join (EXISTS) + per-segment count of active customers."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active_customers"))
    )


def q_order_rollup(spark, sf_dir):
    """ROLLUP (status, priority): hierarchical subtotals in one pass."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q_part_cube(spark, sf_dir):
    """CUBE (brand, type-prefix): all subtotal combinations."""
    p = _t(spark, sf_dir, "part").withColumn(
        "p_type_head", F.split(F.col("p_type"), " ").getItem(0)
    )
    return p.cube("p_brand", "p_type_head").agg(
        F.count("*").alias("n"), F.round(F.avg("p_retailprice"), 4).alias("avg_price")
    )


def q_users_intersect(spark, sf_dir):
    """Set op: users who both purchased and errored."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


def q_users_except(spark, sf_dir):
    """Set op: users who clicked but never purchased."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.exceptAll(b).distinct()


def q_json_props(spark, sf_dir):
    """JSON extraction over events.props (scalar function surface)."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select(k.alias("k"), "value")
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_range_join(spark, sf_dir):
    """Equi + range (interval) join: lineitems shipped within 120 days of
    their order date."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cond = (
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate >= o.o_orderdate)
        & (l.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 120 DAYS"))
    )
    return (
        l.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
    )


# --------------------------------------------------------------------------
# window-function operators (SURVEY.md §7.2 step 3)
# --------------------------------------------------------------------------

def q_moving_avg(spark, sf_dir):
    df = ts_ops.moving_avg(
        _t(spark, sf_dir, "events"), ["event_type"], ["ts_ms", "event_id"], preceding=5
    )
    return df.select("event_id", "event_type", "mov_avg")


def q_value_deltas(spark, sf_dir):
    """lag/delta per series — the reference codec's delta chain
    (engine/shard.cpp:114-117) as a query-level operator."""
    df = ts_ops.deltas(_t(spark, sf_dir, "events"), ["event_type"], ["ts_ms", "event_id"])
    return df.select("event_id", "event_type", "delta_value", "delta_ms")


def q_gap_detect(spark, sf_dir):
    """Gaps > 1h per series — the 'missing hour shard' condition as data."""
    df = ts_ops.detect_gaps(_t(spark, sf_dir, "events"), ["event_type"], min_gap_ms=MS_H)
    return df.select("event_id", "event_type", "gap_ms")


def q_sessionize(spark, sf_dir):
    """Sessions per user (30-min inactivity gap): lag + running sum."""
    df = ts_ops.sessionize(_t(spark, sf_dir, "events"), ["user_id"], gap_ms=1_800_000)
    return df.groupBy("user_id").agg(
        (F.max("session_id") + 1).alias("n_sessions"), F.count("*").alias("n_events")
    )


def q_topk_per_series(spark, sf_dir):
    """Top-3 by value per series via row_number window."""
    df = ts_ops.topk_per_group(
        _t(spark, sf_dir, "events"), ["event_type"], "value", 3, tiebreak=["event_id"]
    )
    return df.select("event_type", "event_id", "value", "rn")


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent click at
    or before it (union + window carry — scales without a join explosion)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts_ms", "value")
    joined = asof_ops.asof_join(
        purchases, clicks, on="ts_ms", by=["user_id"], right_cols=["value"], suffix="_click"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("ts_ms_click").alias("click_ts_ms"),
        F.col("value_click").alias("click_value"),
    )


def q_dsir_sample(spark, sf_dir):
    """DSIR end-to-end: importance weights (lang='en' target) →
    derandomized Gumbel-top-50 resampling (sampling.importance_sample);
    oracle composes the dsir CTE with the identical hash-Gumbel rank."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    w = text_ops.dsir_importance_weights(
        _t(spark, sf_dir, "documents"), F.col("lang") == "en"
    )
    return samp_ops.importance_sample(w, k=50)


def q_funnel_rates(spark, sf_dir):
    """Funnel rollup: per-step completion counts and median
    time-to-convert (seconds) over the view→click→purchase funnel —
    the dashboard summary composed on q_funnel's operator."""
    f = ts_ops.funnel(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"], within_ms=86_400_000
    )
    return f.agg(
        F.count("*").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
        F.round(F.count("t2") / F.count("*"), 6).alias("rate_step2"),
        F.round(F.count("t3") / F.count("*"), 6).alias("rate_step3"),
        F.round(F.expr("percentile((t2 - t1) / 1000.0, 0.5)"), 6).alias("median_s_to_click"),
        F.round(F.expr("percentile((t3 - t1) / 1000.0, 0.5)"), 6).alias("median_s_to_purchase"),
    )


def q_fuzzy_join(spark, sf_dir):
    """Entity resolution: a dirty-name table fuzzy-joins the distinct
    event types within 2 edits (text.fuzzy_match_join — blocking +
    levenshtein, never all-pairs).  The oracle is the DIRECT
    cross-join + levenshtein cut: on this input the blocking provably
    loses nothing, so the hash-match doubles as a recall=1 witness."""
    types = _t(spark, sf_dir, "events").select("event_type").distinct()
    dirty = spark.createDataFrame(
        [("clik",), ("vew",), ("purchace",), ("signupp",), ("errror",), ("zzz",)],
        "dirty string",
    )
    return text_ops.fuzzy_match_join(dirty, types, "dirty", "event_type", max_dist=2)


def q_cusum(spark, sf_dir):
    """Two-sided CUSUM change-point statistic per series (κ=0.5, h=5.0,
    μ = quantized series mean) via the exact prefix-sum/running-min
    closed form in integer micro-units — pure JVM window aggregates; the
    oracle replays the identical fixed-point window identity."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.cusum_changepoints(
        e, "event_type", k=0.5, h=5.0, tiebreak="event_id"
    )


def q_rolling_median(spark, sf_dir):
    """Trailing-100-point exact median per series (robust smoother);
    oracle: DuckDB median over the identical ROWS frame."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.rolling_median(
        e, ["event_type"], lookback=100, tiebreak="event_id"
    )


def q_rolling_median_sketch(spark, sf_dir):
    """Sketch-backed trailing-100 median (O(rows×bins) running-sum/lag
    histogram, not a sliding-frame re-aggregation); oracle replays the
    estimator via a sorted frame-bin list — bin of the lower-median
    order statistic, midpoint reported."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.rolling_median_sketch(
        e, ["event_type"], lo=0.0, hi=600.0, lookback=100, bins=60,
        tiebreak="event_id",
    )


def q_cap_events(spark, sf_dir):
    """Rate capping: at most 2 earliest events per (user, day) —
    deterministic survivors via (ts, event_id) rank; drops ~31% of rows
    at every SF so the cap path is genuinely exercised; oracle replays
    the rank window."""
    e = _t(spark, sf_dir, "events")
    return ts_ops.cap_events_per_key(
        e, ["user_id"], bucket_ms=86_400_000, cap=2, tiebreak="event_id"
    ).select("user_id", "bucket_ms", "event_id", "ts_ms", "event_type", "value")


def q_bm25(spark, sf_dir):
    """Okapi BM25 top-10 for a fixed query over the documents table
    (text.bm25_search, k1=1.2, b=0.75) — inverted-index join shape;
    oracle replays postings, idf, and the length-normalized tf part."""
    return text_ops.bm25_search(
        _t(spark, sf_dir, "documents"), "the quick data model", k=10
    )


def q_bm25_many(spark, sf_dir):
    """Batch BM25 over a two-query table (text.bm25_search_many) — the
    N-queries retrieval shape: postings built once, query terms broadcast
    into the join; oracle replays postings/idf per (query, doc)."""
    qs = spark.createDataFrame(
        [(1, "the quick data model"), (2, "hash join scan filter")],
        "query_id long, query string",
    )
    return text_ops.bm25_search_many(_t(spark, sf_dir, "documents"), qs, k=10)


def q_asof_join_tolerance(spark, sf_dir):
    """Backward as-of join with a 10-minute staleness cap: matches older
    than tolerance_ms are nulled, the left row is kept (asof.asof_join
    tolerance path); oracle = ASOF LEFT JOIN + CASE on the staleness."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts_ms", "value")
    joined = asof_ops.asof_join(
        purchases,
        clicks,
        on="ts_ms",
        by=["user_id"],
        right_cols=["value"],
        suffix="_click",
        tolerance_ms=600_000,
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("ts_ms_click").alias("click_ts_ms"),
        F.col("value_click").alias("click_value"),
    )


def q_first_last_per_series(spark, sf_dir):
    """first/last value per series by event time (min_by/max_by)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.min("ts_ms").alias("first_ts_ms"),
        F.max("ts_ms").alias("last_ts_ms"),
        F.round(F.min_by("value", "ts_ms"), 6).alias("first_value"),
        F.round(F.max_by("value", "ts_ms"), 6).alias("last_value"),
    )


# --------------------------------------------------------------------------
# LLM-pipeline operators (north star): dedup, similarity, text analysis
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup_ops.exact_dedup(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    return text_ops.doc_fingerprint(_t(spark, sf_dir, "documents"))


def q_jaccard_pairs(spark, sf_dir):
    """Near-dup pairs by token-set Jaccard ≥ 0.8 on a bounded id range
    (inverted-index join, no cross join)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup_ops.jaccard_pairs(docs, threshold=0.8)


def _docs_count(docs) -> int:
    """Memoized ``docs.count()`` — every LSH entry that derives its
    banding from corpus size (the shared pair fixture and the queries
    that band on their own) reads it here, so the footer-metadata count
    job runs once per corpus and session, not once per entry.

    The key is the scan's RESOLVED INPUT FILES (plus the plan string),
    NOT the logical plan alone: the logical plan of ``read.parquet(dir)``
    prints identically for different directories, so a plan-string key
    collides across scale factors — a session that first counted the
    sf0.001 warm-up corpus then served 500 for the sf1 corpus, silently
    reverting LSH banding to base parameters at 100× the data (52,850
    candidate pairs instead of 2,561; the round-7 bench regression)."""
    files = ",".join(sorted(docs.inputFiles()))
    plan = docs._jdf.queryExecution().logical().toString()
    return memo(docs.sparkSession, (files, plan), docs.count)


def _scaled_banded_pairs(spark, sf_dir: str) -> DataFrame:
    """The documents' MinHash+LSH candidate pairs (id1 < id2) with
    corpus-derived banding (``dedup.lsh_params_for``): the base (8
    hashes, 4 bands × 2 rows) at every oracle-checked SF, +2 rows/band
    per 10× docs beyond — keeps chance band collisions from growing ~n²
    (SCALE.md round-6 scale-up section; measured 67× candidates at 10×
    data with fixed params vs ~true-near-dups-only with the rule).

    Built once per session and ``sf_dir`` into a Parquet fixture
    (:func:`_fixture_dir`) that every pair consumer scans, with the
    known schema so no inference job runs: the first consumer pays for
    signatures, banding and the write, and the rest read a pair-sized
    file.  ``sf_dir`` is never written to, so the pairs cannot go
    stale."""

    def scan() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        p = dedup_ops.lsh_params_for(_docs_count(docs))
        sigs = dedup_ops.minhash_signatures(docs, num_hashes=p["num_hashes"], shingle_n=3)
        pairs = dedup_ops.lsh_candidate_pairs(
            sigs, bands=p["bands"], rows_per_band=p["rows_per_band"]
        )
        path = _fixture_dir(
            spark, sf_dir, "lsh_pairs_", lambda d: pairs.write.parquet(d + "/pairs")
        )
        return spark.read.schema(pairs.schema).parquet(path + "/pairs")

    return memo(spark, (sf_dir, "lsh_pairs"), scan)


def q_minhash_lsh(spark, sf_dir):
    """MinHash(8) + LSH(4 bands × 2) candidate pairs over all documents —
    the raw banding primitive at its named fixed parameters (the
    pipeline entries derive parameters from corpus size and share one
    pair table via `_scaled_banded_pairs`); it computes its own pairs
    from documents, so every pass measures the LSH kernel."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, num_hashes=8, shingle_n=3)
    return dedup_ops.lsh_candidate_pairs(sigs, bands=4, rows_per_band=2)


def q_dedup_incremental(spark, sf_dir):
    """Exact incremental dedup — new batch (doc_id ≥ 250) vs existing
    corpus (doc_id < 250): left-anti on the content hash (the corpus side
    is its 16-byte/doc fingerprint table at scale) + min-id canonical
    within the batch."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.dedup_incremental(
        docs.filter(F.col("doc_id") >= 250), docs.filter(F.col("doc_id") < 250)
    )


def q_neardup_incremental(spark, sf_dir):
    """Near-dup screening of the new batch (doc_id ≥ 250) against the
    corpus's materialized LSH band table (doc_id < 250): any-band
    collision flags the doc; corpus text is never re-read."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.neardup_incremental(
        docs.filter(F.col("doc_id") >= 250), docs.filter(F.col("doc_id") < 250)
    )


def q_leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/val/test split: the md5 first-hex-digit rule
    applied to the doc's LSH duplicate-cluster id (own id when
    unclustered), so paraphrase pairs never straddle the train/test
    boundary; oracle composes the recursive-reachability cluster CTE with
    the same digit rule.  Banding is corpus-derived (lsh_params_for —
    base params at every oracle-checked SF, +2 rows/band per 10× beyond,
    so the internal candidate graph stays ~linear)."""
    docs = _t(spark, sf_dir, "documents")
    p = dedup_ops.lsh_params_for(_docs_count(docs))
    return dedup_ops.leakage_safe_split(
        docs,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        rows_per_band=p["rows_per_band"],
    )


def q_minhash_signatures(spark, sf_dir):
    """Raw MinHash signatures for a bounded id range (oracle-checkable)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return dedup_ops.minhash_signatures(docs, num_hashes=4, shingle_n=3)


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for 5 query vectors (broadcast queries)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def q_hamming_bits(spark, sf_dir):
    """Binary embedding compaction (SimHash on raw coordinates): sign vs
    the 6-dp-quantized per-dimension corpus mean, packed into two 32-bit
    words — exposed as separate word columns so the oracle replays the
    exact packing arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    bits = sim_ops.binarize_embeddings(emb, dim=64)
    return bits.select(
        "vec_id", F.col("bits")[0].alias("w0"), F.col("bits")[1].alias("w1")
    )


def q_hamming_topk(spark, sf_dir):
    """Exact Hamming top-5 for 5 query vectors over bit-packed binary
    embeddings — XOR + bit_count integer distances, association-free, the
    ALU-bound 100 TB brute-force path (1 bit/dim vs 32)."""
    emb = _t(spark, sf_dir, "embeddings")
    bits = sim_ops.binarize_embeddings(emb, dim=64)
    return sim_ops.hamming_topk(bits, bits.filter(F.col("vec_id") < 5), k=5)


def q_mmr_topk(spark, sf_dir):
    """MMR-diversified top-5 for 3 query vectors (λ=0.7, relevance pool
    15): greedy λ·rel − (1−λ)·max-sim-to-selected over 6dp-quantized
    cosines; the recursive-CTE oracle replays the greedy argmax (cand_id
    tiebreak) step by step."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.mmr_topk(emb, emb.filter(F.col("vec_id") < 3), k=5, pool=15, lam=0.7)


def _recall_vs_exact(spark, sf_dir, approx_df):
    """Shared recall@5 shape: per-query (k, hits, recall) of an
    approximate top-k against exact cosine_topk — same single-exact-
    division discipline as q_ivf_recall."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = sim_ops.cosine_topk(emb, qs, k=5).select("query_id", "cand_id")
    approx = approx_df.select("query_id", "cand_id")
    hits = (
        exact.join(approx, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.round(F.coalesce("hits", F.lit(0)) / F.col("k"), 6).alias("recall"),
        )
    )


def q_hamming_recall(spark, sf_dir):
    """recall@5 of the 1-bit Hamming scan vs exact cosine — the
    compression-quality number a binary-embedding deployment is judged
    by, as a first-class oracle-checked query."""
    emb = _t(spark, sf_dir, "embeddings")
    bits = sim_ops.binarize_embeddings(emb, dim=64)
    approx = sim_ops.hamming_topk(bits, bits.filter(F.col("vec_id") < 5), k=5)
    return _recall_vs_exact(spark, sf_dir, approx)


def q_sq8_recall(spark, sf_dir):
    """recall@5 of the 8-bit asymmetric scan vs exact cosine (inner
    product vs cosine over near-unit-norm vectors: quantization is the
    noise being measured, exactly as deployed)."""
    emb = _t(spark, sf_dir, "embeddings")
    approx = sim_ops.sq8_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64)
    return _recall_vs_exact(spark, sf_dir, approx)


def q_sq8_codes(spark, sf_dir):
    """8-bit scalar quantization codes (global per-dimension min/max
    calibration; code = round((x−lo)·255/(hi−lo))) — returned as the code
    sum + first/last code per vector so the oracle compares the whole code
    array without 64 columns."""
    emb = _t(spark, sf_dir, "embeddings")
    codes = sim_ops.sq8_quantize(emb, dim=64)
    return codes.select(
        "vec_id",
        F.aggregate("codes", F.lit(0), lambda a, x: a + x).alias("code_sum"),
        F.col("codes")[0].alias("c0"),
        F.col("codes")[63].alias("c63"),
    )


def q_sq8_topk(spark, sf_dir):
    """Asymmetric inner-product top-5 for 5 float queries over 8-bit
    scalar-quantized candidates (dequantize once per candidate, same dot
    fold and rank determinism as cosine_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.sq8_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, dim=64)


def q_embedding_norms(spark, sf_dir):
    """Per-label embedding count + mean L2 norm."""
    emb = _t(spark, sf_dir, "embeddings")
    v = sim_ops.as_double("embedding")
    return (
        emb.select("label", sim_ops.norm(v).alias("_n"))
        .groupBy("label")
        .agg(F.count("*").alias("n"), F.round(F.avg("_n"), 6).alias("avg_norm"))
    )


def q_text_stats(spark, sf_dir):
    return text_ops.text_stats(_t(spark, sf_dir, "documents"))


def q_token_counts_by_lang(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    counts = text_ops.token_count(docs)
    return (
        docs.join(counts, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def q_lang_id(spark, sf_dir):
    return text_ops.lang_id(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    return text_ops.quality_score(_t(spark, sf_dir, "documents"))


def q_lang_id_ngram(spark, sf_dir):
    """Char-bigram language ID (n-gram heuristic variant of lang_id)."""
    return text_ops.lang_id_ngram(_t(spark, sf_dir, "documents"))


def q_sql_supplier_revenue(spark, sf_dir):
    """Pure spark.sql() path (the engine's second query API beside the
    DataFrame builders): per-supplier revenue, broadcast hint on the dim,
    deterministic top-10."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    return spark.sql(
        """
        SELECT /*+ BROADCAST(s) */
               s.s_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM v_lineitem l JOIN v_supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY s.s_name
        ORDER BY revenue DESC, s.s_name
        LIMIT 10
        """
    )


def q_asof_join_forward(spark, sf_dir):
    """Forward as-of join: each purchase matched to the user's NEXT click at
    or after it (same one-shuffle union+window plan as backward)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    clicks = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click").select(
        "user_id", "ts_ms", "value"
    )
    joined = asof_ops.asof_join(
        purchases,
        clicks,
        on="ts_ms",
        by=["user_id"],
        right_cols=["value"],
        suffix="_click",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("ts_ms_click").alias("click_ts_ms"),
        F.round("value_click", 6).alias("click_value"),
    )


def q_asof_join_nearest(spark, sf_dir):
    """Nearest as-of join: each purchase matched to the user's CLOSEST
    click on either side (tie prefers backward) — completes the direction
    trilogy; still one exchange, two in-partition window sorts."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ms"
    )
    clicks = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click").select(
        "user_id", "ts_ms", "value"
    )
    joined = asof_ops.asof_join(
        purchases,
        clicks,
        on="ts_ms",
        by=["user_id"],
        right_cols=["value"],
        suffix="_click",
        direction="nearest",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts_ms",
        F.col("ts_ms_click").alias("click_ts_ms"),
        F.round("value_click", 6).alias("click_value"),
    )


def q_doc_chunks(spark, sf_dir):
    """Fixed-size token chunking for LLM context windows."""
    return text_ops.chunk_documents(_t(spark, sf_dir, "documents"), chunk_size=50)


def q_series_trend(spark, sf_dir):
    """Per-series linear trend (OLS slope/intercept over hours) — built-in
    regr_* aggregates, exact in both engines."""
    e = _t(spark, sf_dir, "events")
    x = F.col("ts_ms") / 3600000.0
    return e.groupBy("event_type").agg(
        F.round(F.regr_slope("value", x), 6).alias("slope_per_hour"),
        F.round(F.regr_intercept("value", x), 4).alias("intercept"),
        F.count("*").alias("n"),
    )


def q_redact_pii(spark, sf_dir):
    """PII redaction pass (emails/URLs/phones → placeholders).  The synthetic
    corpus contains no PII, so the pass is observably a no-op here — the
    regex machinery still runs and is hash-compared; planted-fixture tests
    in test_text cover the positive cases."""
    return text_ops.redact_pii(_t(spark, sf_dir, "documents"))


def q_deterministic_sample(spark, sf_dir):
    """Reproducible 1/16 hash-gated sample of documents."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    return samp_ops.deterministic_sample(
        _t(spark, sf_dir, "documents"), rate_16ths=1
    ).select("doc_id", "lang", "n_chars")


def q_stratified_sample(spark, sf_dir):
    """Deterministic 10-per-language stratified sample."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    return samp_ops.stratified_sample(
        _t(spark, sf_dir, "documents"), "lang", n_per_stratum=10
    ).select("doc_id", "lang", "source")


def q_winnow_fingerprint(spark, sf_dir):
    """Rolling-hash (winnowing) document fingerprint — Schleimer et al. 2003,
    through the one Arrow-batched implementation (text.winnow_fingerprint);
    hash-checked against the DuckDB oracle, which test_text also replays on
    planted edge-case docs."""
    return text_ops.winnow_fingerprint(_t(spark, sf_dir, "documents"))


def q_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact baseline; LSH-bucketed
    variant is the 100 TB path — see similarity.cosine_near_dup docstring)."""
    return sim_ops.cosine_near_dup(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing end-to-end over real testdata: documents become
    binary media payloads (utf-8 encode stands in for image bytes), features
    come from the mapInPandas extractor (deterministic fake decoder — the
    container has no codec libs; SURVEY §2.2 multimodal).  Rows-only: binary
    + mapInPandas has no SQL oracle."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.length("text").cast("int").alias("width"),
            F.lit(1).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = mm_ops.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "kind",
        F.size("features").alias("n_features"),
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 6).alias("f_sum"),
    )


def q_ivf_ann_topk(spark, sf_dir):
    """IVF-style ANN: coarse cells + probe — the scale path beside the LSH
    variant (rows-only; exactness is covered by cosine_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.ivf_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


def q_approx_stats(spark, sf_dir):
    """Sketch aggregates (HLL++ distinct, approximate percentile) under a
    BOUNDS ORACLE (VERDICT r9 "What's missing" #3): the engine sketches
    themselves are engine-private, so instead of emitting raw estimates
    the query emits each estimate's EXACT twin plus a boolean asserting
    the estimate sits inside its guarantee band — Spark computes the
    real sketch and checks it; the oracle recomputes the exact values
    and asserts TRUE.  A sketch regression (estimate drifting outside
    ±10% of exact distinct ≈ 2 rsd at the default 0.05, or approx-p50
    leaving the exact [q45, q55] value band — generous vs its 1e-4 rank
    guarantee) flips a boolean and fails the hash gate, making this a
    values-level check, not rows-only."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("_au"),
            F.percentile_approx("value", 0.5).alias("_ap50"),
            F.countDistinct("user_id").alias("exact_users"),
            F.expr("percentile(value, 0.45)").alias("_q45"),
            F.expr("percentile(value, 0.55)").alias("_q55"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_au") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).alias("users_ok"),
            F.col("_ap50").between(F.col("_q45"), F.col("_q55")).alias("p50_ok"),
        )
    )


# --------------------------------------------------------------------------
# batch 2: percentiles, pivot, ranking, scalar functions, subqueries,
# sliding windows, grouping sets, embedding centroids, rows-only ops
# --------------------------------------------------------------------------

def q_value_percentiles(spark, sf_dir):
    """Exact continuous percentiles per series (Spark SQL `percentile` ↔
    DuckDB `quantile_cont`)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


def q_unpivot(spark, sf_dir):
    """Unpivot/melt (the inverse of q_event_pivot): lineitem's four
    measure columns stacked into (measure, value) long form via the
    native ``unpivot`` — wide→long without a union of four scans; per-
    measure aggregate proves the reshape (oracle: UNION ALL of typed
    selects)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 800)
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.round(F.avg("value"), 6).alias("mean"),
    )


def q_event_pivot(spark, sf_dir):
    """Pivot: user-decile × event_type count matrix."""
    e = _t(spark, sf_dir, "events").withColumn("user_mod", F.col("user_id") % 10)
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        e.groupBy("user_mod")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


def q_rank_family(spark, sf_dir):
    """rank / dense_rank / ntile over values per series."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return e.select(
        "event_id",
        "event_type",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


def q_string_funcs(spark, sf_dir):
    """Scalar string surface: upper/substring/length/replace/LIKE."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_u"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
    )


def q_date_parts(spark, sf_dir):
    """Scalar date surface: year/quarter/month/weekday extraction + agg.
    weekday is normalized to 0=Monday on both engines."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.month("o_orderdate").alias("mo"),
            F.weekday("o_orderdate").alias("dow"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q_orders_above_avg(spark, sf_dir):
    """Correlated-subquery shape: orders > 1.5× their customer's average
    (decorrelated to an aggregate + equi-join — what Catalyst does anyway)."""
    o = _t(spark, sf_dir, "orders")
    avg = o.groupBy("o_custkey").agg(F.avg("o_totalprice").alias("cust_avg"))
    return (
        o.join(avg, "o_custkey")
        .filter(F.col("o_totalprice") > 1.5 * F.col("cust_avg"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q_sliding_downsample(spark, sf_dir):
    """Sliding window (10 min window, 5 min slide): each event lands in
    exactly two overlapping buckets."""
    e = _t(spark, sf_dir, "events").filter(
        (F.col("ts_ms") >= T1) & (F.col("ts_ms") < T2)
    )
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("bucket_ms"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS: per-status, per-priority, and grand total."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_embedding_centroids(spark, sf_dir):
    """Per-label centroid, one row per (label, dimension): posexplode +
    groupBy — elementwise mean without collecting vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(sim_ops.as_double("embedding")).alias("pos", "x"))
        .withColumn("dim", F.col("pos") + 1)
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("centroid"))
    )


def q_full_outer_join(spark, sf_dir):
    """Full outer join: every customer with their order count, plus any
    orders whose customer is missing (coalesced key)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return joined.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
        F.col("c_mktsegment").alias("mktsegment"),
    )


def q_union_all_scans(spark, sf_dir):
    """UNION ALL of two overlapping range scans — duplicates preserved."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("ts_ms").between(T1, T2))
    b = e.filter(F.col("ts_ms").between(T1 + 43_200_000, WEEK_END))
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_distinct_aggs(spark, sf_dir):
    """DISTINCT aggregates: exact distinct counts + sum over distinct values."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum_distinct(F.floor(F.col("value"))).alias("sum_distinct_floor"),
    )


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]


def q_column_profile(spark, sf_dir):
    """Table profiling, 100 TB default — per-column row count, null count,
    DETERMINISTIC-HLL distinct estimate, min/max.  One scan, two-level
    aggregate whose shuffle is n_cols×(m+1) register rows; no Catalyst
    Expand, no distinct-value shuffle (the exact variant's plan inflates
    every row ×6 through Expand — see ``column_profile_exact``).  The HLL
    is integer-register/md5-hash so the DuckDB oracle replays the
    ESTIMATE bit-for-bit — an approximate operator under the hash gate."""
    from time_series_databse_engine_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


def q_profile_incremental(spark, sf_dir):
    """Incremental profiling — the 100 TB steady state: profile each
    ingest increment into a mergeable HLL-register table, then the
    whole-corpus profile is a merge over n_cols×(m+1) rows per increment,
    never a rescan of raw data.  Here orders is split into two disjoint
    halves, each profiled to registers independently, unioned and merged;
    the oracle is the FULL-SCAN profile — the hash match proves the merge
    is exact (every register component is a semigroup: max/sum/min/max)."""
    from time_series_databse_engine_spark.operators.profile import (
        merge_profiles,
        profile_registers,
    )

    o = _t(spark, sf_dir, "orders")
    inc_a = profile_registers(o.filter(F.col("o_orderkey") % 2 == 0), _PROFILE_COLS)
    inc_b = profile_registers(o.filter(F.col("o_orderkey") % 2 != 0), _PROFILE_COLS)
    return merge_profiles(inc_a.unionByName(inc_b))


def q_column_profile_fast(spark, sf_dir):
    """The production profiler config: column_profile's one-scan HLL plan
    with Spark-native ``xxhash64`` in place of the replayable md5
    (profile.profile_registers docstring).  Rows-only: DuckDB has no
    xxhash64, so column_profile is its oracle-checked twin."""
    from time_series_databse_engine_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "orders"), _PROFILE_COLS, hash_fn="xxhash64")


def q_column_profile_exact(spark, sf_dir):
    """Exact profiling twin (oracle/cross-check variant): n_cols
    ``countDistinct`` in one wide aggregate — Catalyst Expand ×6, exact
    answers; the right cross-check at test scale, the wrong default at
    100 TB."""
    from time_series_databse_engine_spark.operators.profile import profile_table_exact

    return profile_table_exact(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


def q_window_first_last(spark, sf_dir):
    """first_value / last_value / nth_value over the whole series frame."""
    e = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        e.select(
            "event_type",
            F.round(F.first_value("value").over(w), 6).alias("first_v"),
            F.round(F.last_value("value").over(w), 6).alias("last_v"),
            F.round(F.nth_value("value", 2).over(w), 6).alias("second_v"),
        )
        .distinct()
    )


def q_value_histogram(spark, sf_dir):
    """Equi-width histogram per series (integer bucket arithmetic)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.floor(F.col("value") / 10).cast("long").alias("bucket"))
        .agg(F.count("*").alias("n"))
    )


def q_corr_stats(spark, sf_dir):
    """Bivariate aggregates: correlation / covariance per series."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.corr("value", "user_id"), 6).alias("corr_vu"),
        F.round(F.covar_samp("value", "user_id"), 4).alias("covar_vu"),
    )


def q_event_sequences(spark, sf_dir):
    """Ordered list aggregation: each user's first-10 event-type journey as
    a string (collect_list over a sorted window ↔ list(... ORDER BY ...))."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    ranked = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 10)
    return (
        ranked.groupBy("user_id")
        .agg(
            F.concat_ws(">", F.array_sort(F.collect_list(F.struct("rn", "event_type")))
                        .getField("event_type")).alias("journey"),
            F.count("*").alias("n"),
        )
    )


def q_resample_1m(spark, sf_dir):
    """Gap-fill/interpolate to a 1-min grid per series over one day
    (applyInPandas + numpy.interp).  Same-timestamp samples are collapsed
    to min(value) first so the sample axis is strictly increasing — that
    makes np.interp's neighbour choice deterministic AND lets a pure-SQL
    ASOF-join + lerp oracle reproduce it exactly."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    dedup = (
        e.groupBy("event_type", "ts_ms").agg(F.min("value").alias("value"))
    )
    return ts_ops.resample_interpolate(dedup, "event_type", 60_000)


def q_simhash(spark, sf_dir):
    """64-bit SimHash per doc, one-digest-per-token construction
    (dedup.simhash64_md5_sliced): all 64 bits sliced from a single md5,
    so the entry is ORACLE-BACKED (hash-compare of every signature)
    while keeping the production one-hash-per-token structure of
    dedup.simhash64 — whose xxhash64 form stays the at-scale choice,
    pytest-anchored against this twin (the profile_registers
    md5/xxhash64 twin policy).  `simhash_md5` remains the independent
    64-streams construction."""
    return dedup_ops.simhash64_md5_sliced(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )


def q_simhash_md5(spark, sf_dir):
    """64-bit SimHash with md5-derived bits — same fold and sign-collapse as
    `simhash`, but every bit is reproducible in ANSI SQL, so this one gets
    the exact typed hash-compare (dedup.simhash64_md5 docstring)."""
    return dedup_ops.simhash64_md5(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))


def q_lsh_ann_topk(spark, sf_dir):
    """Approximate NN via random-hyperplane LSH buckets (rows-only check;
    exactness covered by cosine_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, num_planes=4, dim=64
    )


def q_lsh_ann_topk_multi(spark, sf_dir):
    """Multi-table sign-LSH ANN: OR of 8 independent 4-plane bucket
    tables — the measured-recall mitigation for isotropic embeddings
    (SCALE.md "Measured recall"); candidate dedup is a pair-keyed
    max-agg, exact cosine re-score inside the bucket join."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.lsh_bucket_topk_multi(
        emb, emb.filter(F.col("vec_id") < 5), k=5, num_planes=4, num_tables=8, dim=64
    )


def q_cosine_near_dup_lsh(spark, sf_dir):
    """Embedding near-dup pairs via sign-LSH buckets + exact re-score — the
    100 TB plan shape (bucket equi-join, no broadcast-nested-loop over all
    pairs).  Oracle reproduces the bucket function from the same seed-42
    hyperplanes as SQL literals; `cosine_near_dup` (the exact n² form)
    doubles as its recall reference.  Plane count comes from
    ``ann_params_for(corpus size)`` (+log2(growth) planes keeps expected
    bucket size constant — at the oracle SFs it resolves to the base 4
    the SQL replays; footer-metadata count, not a scan)."""
    emb = _t(spark, sf_dir, "embeddings")
    p = sim_ops.ann_params_for(emb.count())
    return sim_ops.cosine_near_dup_lsh(
        emb, threshold=0.4, num_planes=p["num_planes"], dim=64
    )


def q_dedup_clusters(spark, sf_dir):
    """Duplicate-cluster formation: connected components (min-label
    propagation) over the minhash_lsh candidate pairs — the purge-list step
    of a real dedup pipeline.  Oracle: recursive-CTE reachability."""
    pairs = _scaled_banded_pairs(spark, sf_dir)
    return dedup_ops.dedup_clusters(pairs)


def q_clean_corpus(spark, sf_dir):
    """End-to-end training-data pipeline composition: exact dedup → LSH
    near-dup cluster purge → quality gate → deterministic sample, all
    md5-keyed (pipeline.clean_corpus docstring).  One oracle re-derives
    all four gates in SQL — the composition itself is hash-verified.
    The near-dup step reads the session's shared pair table, whose
    banding is corpus-derived (lsh_params_for — base params at every
    oracle-checked SF, so the oracle's fixed 8/4×2 replay stays exact)."""
    from time_series_databse_engine_spark.pipeline import clean_corpus

    return clean_corpus(
        _t(spark, sf_dir, "documents"), pairs=_scaled_banded_pairs(spark, sf_dir)
    )


def q_seasonal_baseline(spark, sf_dir):
    """Seasonal decomposition: hour-of-day baseline per series + per-point
    residual (timeseries.seasonal_baseline docstring) — seasonal-naive
    forecasting / seasonal anomaly detection's first step."""
    df = ts_ops.seasonal_baseline(
        _t(spark, sf_dir, "events").select("event_type", "ts_ms", "value"),
        ["event_type"],
    )
    return df


def q_stl_decompose(spark, sf_dir):
    """Additive STL-style decomposition y = trend + seasonal + residual
    per series (timeseries.stl_decompose: hourly means, 25-bucket
    centered-MA trend, centered hour-of-day seasonal profile)."""
    return ts_ops.stl_decompose(
        _t(spark, sf_dir, "events").select("event_type", "ts_ms", "value"),
        ["event_type"],
    )


def q_minhash_jaccard_est(spark, sf_dir):
    """Jaccard estimate (fraction of agreeing MinHash components, Broder
    1997) for every LSH candidate pair — the banding→score→purge middle
    step (dedup.minhash_jaccard_estimates docstring).  Banding is
    corpus-derived (lsh_params_for — base params at every oracle-checked
    SF, candidate volume ~linear beyond)."""
    docs = _t(spark, sf_dir, "documents")
    p = dedup_ops.lsh_params_for(_docs_count(docs))
    return dedup_ops.minhash_jaccard_estimates(
        docs,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        rows_per_band=p["rows_per_band"],
    )


def q_revenue_concentration(spark, sf_dir):
    """Pareto/Lorenz concentration by user decile — 'the top 10% drive
    what share of revenue?': per-user purchase cents (exact integers),
    equal-population deciles via sampling.equidepth_bins, then
    per-decile share and top-down cumulative share (a 10-row window
    cumsum of exact integer sums; the only floats are final
    divisions).  Complements skew_profile's HHI with the full curve."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("cents")
        )
        .withColumn("monetary", F.round(F.col("cents") / F.lit(100.0), 2))
        .localCheckpoint(eager=False)  # lineage cut; materialized in-job
    )
    b = samp_ops.equidepth_bins(u, "monetary", n_bins=10, out="decile")
    per = b.groupBy("decile").agg(
        F.count("*").alias("n_users"), F.sum("cents").alias("_c")
    )
    tot = F.broadcast(per.agg(F.sum("_c").alias("_tot")))
    w = W.orderBy(F.col("decile").desc())  # 10 rows — global window is fine
    return (
        per.crossJoin(tot)
        .select(
            "decile",
            "n_users",
            F.round(F.col("_c") / F.col("_tot"), 6).alias("revenue_share"),
            F.round(F.sum("_c").over(w) / F.col("_tot"), 6).alias(
                "cum_share_from_top"
            ),
        )
    )


def q_interarrival_stats(spark, sf_dir):
    """Per-user inter-arrival burstiness: mean gap, gap coefficient of
    variation (CV > 1 ⇒ bursty, the Poisson diagnostic), and max gap —
    one user-keyed lag window then a users-sized aggregate; the
    behavioral features rate-limiters and bot detectors consume.
    Gaps stay exact integers; the only floats are three final
    divisions."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    gaps = (
        e.select(
            "user_id", (F.col("ts_ms") - F.lag("ts_ms").over(w)).alias("gap")
        )
        .filter(F.col("gap").isNotNull())
    )
    n = F.count("*")
    s1 = F.sum("gap")
    s2 = F.sum(F.col("gap") * F.col("gap"))
    mean = s1 / n
    # population variance from exact integer moments: E[g²] − E[g]²
    var = s2 / n - (s1 / n) * (s1 / n)
    return (
        gaps.groupBy("user_id")
        .agg(
            n.alias("n_gaps"),
            F.round(mean, 4).alias("mean_gap_ms"),
            F.round(F.sqrt(var) / mean, 6).alias("gap_cv"),
            F.max("gap").alias("max_gap_ms"),
        )
        .filter(F.col("n_gaps") >= 2)
    )


def q_markov_transitions(spark, sf_dir):
    """First-order behavioral Markov model: P(next event type | current)
    estimated from every user's event stream — one user-keyed lag window
    builds the transition pairs (no self-join), then a types²-sized
    count with per-source normalization.  The matrix behind journey
    simulation and next-action prediction baselines."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    pairs = (
        e.select(F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst"))
        .filter(F.col("src").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    tot = F.sum("n").over(W.partitionBy("src"))
    return counts.select(
        "src", "dst", "n", F.round(F.col("n") / tot, 6).alias("p")
    )


def q_skew_profile(spark, sf_dir):
    """Key-distribution diagnostics before a shuffle (skew.skew_profile):
    top-10 hottest event users with row share, distinct-key count, and
    the Herfindahl concentration index — Σcnt²/total² in exact integer
    arithmetic (a float Σshare² is summation-order dependent).  The
    table that tells you whether a key needs salting."""
    return skew_ops.skew_profile(_t(spark, sf_dir, "events"), "user_id", k=10)


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation — the classic CRM rollup: per-user
    recency (last event), frequency (event count), monetary (purchase
    revenue), each cut into population terciles with
    sampling.equidepth_bins (three broadcast boundary folds — the user
    table shuffles once for its aggregate and never again), then users
    per R•F•M cell with mean spend.  Oracle replays the three
    quantile_cont boundary sets and the fold assignments."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    # monetary rides as exact integer CENTS end-to-end (values are 2-dp):
    # float sums/averages are order-dependent and money famously lands
    # ON half-cent round boundaries (measured: 451.535 → .53 vs .54)
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max("ts_ms").alias("recency"),
            F.count("*").alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("cents"),
        )
        .withColumn("monetary", F.round(F.col("cents") / F.lit(100.0), 2))
        # materialize the |users|-sized aggregate ONCE: each boundary
        # percentile is its own aggregate subtree, and without this the
        # static plan re-derives the events scan+shuffle per dimension
        # (measured: 13 exchanges → 8, all remaining ones over the tiny
        # user table)
        .localCheckpoint(eager=False)
    )
    u = samp_ops.equidepth_bins(u, "recency", n_bins=3, out="rb")
    u = samp_ops.equidepth_bins(u, "frequency", n_bins=3, out="fb")
    u = samp_ops.equidepth_bins(u, "monetary", n_bins=3, out="mb")
    seg = F.concat(
        F.lit("R"), F.col("rb"), F.lit("F"), F.col("fb"), F.lit("M"), F.col("mb")
    )
    return (
        u.select(seg.alias("segment"), "cents")
        .groupBy("segment")
        .agg(
            F.count("*").alias("n_users"),
            F.round(F.sum("cents") / F.count("*") / F.lit(100.0), 2).alias(
                "avg_monetary"
            ),
        )
    )


def q_attribution(spark, sf_dir):
    """Last-touch conversion attribution — the marketing-analytics
    staple: each purchase is credited to the user's most recent
    non-purchase touchpoint within the preceding 24 h (ties impossible:
    (ts_ms, event_id) orders totally), purchases with no touchpoint in
    the lookback credit 'direct'.  One user-keyed window
    (``last(..., ignorenulls)`` over the interleaved event stream — no
    self-join), then a channels-sized rollup of conversions and
    attributed revenue."""
    ev = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_ms", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct("ts_ms", F.col("event_type").alias("t")),
        ),
        ignorenulls=True,
    ).over(w)
    conv = (
        ev.withColumn("_touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            "value",
            F.when(
                F.col("_touch").isNotNull()
                & (F.col("_touch.ts_ms") >= F.col("ts_ms") - 86_400_000),
                F.col("_touch.t"),
            )
            .otherwise("direct")
            .alias("channel"),
        )
    )
    return conv.groupBy("channel").agg(
        F.count("*").alias("conversions"),
        F.round(F.sum("value"), 2).alias("attributed_revenue"),
    )


def q_hashing_vectors(spark, sf_dir):
    """Feature-hashing document vectors (text.hashing_vectorize,
    Weinberger 2009): md5-bucketed token counts, L2-normalized from an
    exact integer Σn² — the model-free embedding that feeds this repo's
    vector operators on corpora without an embedding model.  Sparse
    (id, bucket, n, weight) output keeps the oracle comparison on
    scalar columns."""
    return text_ops.hashing_vectorize(_t(spark, sf_dir, "documents"), dim=64)


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: per near-dup cluster keep the
    member with the HIGHEST quality score (``max_by`` with doc-id
    tiebreak) — completing the who-survives trilogy: min-id
    (dedup_clusters), centrality (pagerank), quality (here; what
    production purges actually use: keep the cleanest copy).  Shapes:
    the cluster table is id-keyed, quality is a zero-shuffle scan, one
    clusters-sized aggregate."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _scaled_banded_pairs(spark, sf_dir)
    clusters = dedup_ops.dedup_clusters(pairs)
    q = text_ops.quality_score(docs).select("doc_id", "quality")
    return (
        clusters.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            # max_by tie rule: highest quality, then LOWEST doc_id — the
            # struct comparison (quality, -doc_id) makes it deterministic
            F.max_by(
                "doc_id", F.struct(F.col("quality"), (-F.col("doc_id")).alias("nid"))
            ).alias("keep_doc_id"),
            F.round(F.max("quality"), 6).alias("keep_quality"),
        )
    )


def q_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe sign-LSH top-5 (similarity.lsh_multiprobe_topk, Lv
    2007): probe the base bucket plus the 2 lowest-|margin| bit flips —
    recall of the multi-table OR at ONE table's memory (measured 0.35
    vs single-probe 0.14 at 4 planes, sf0.1; SCALE.md).  Probes
    multiply only the tiny query side."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.lsh_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 20), dim=64, k=5, num_planes=4, n_flip=2
    )


def q_ivf_recall(spark, sf_dir):
    """Oracle-checked ANN quality measurement: per-query recall@5 of
    ivf_topk against exact cosine_topk — the evaluation every
    approximate index ships with, here as a first-class query (the
    SCALE.md recall tables were scripted; this one the driver can
    verify).  Per-query rows (k, hits, recall) keep every float a
    single exact division — no cross-engine mean drift."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    exact = sim_ops.cosine_topk(emb, qs, k=5).select("query_id", "cand_id")
    approx = sim_ops.ivf_topk(emb, qs, k=5).select("query_id", "cand_id")
    hits = (
        exact.join(approx, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("k"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.round(F.coalesce("hits", F.lit(0)) / F.col("k"), 6).alias("recall"),
        )
    )


def q_edit_verify(spark, sf_dir):
    """Edit-distance VERIFICATION of LSH candidate pairs — the exact
    re-check stage a production dedup pipeline runs before purging
    (MinHash banding nominates, Levenshtein confirms: character-level
    distance catches the near-miss pairs token shingles blur).  The
    O(len²) DP runs ONLY on the candidate list (never all pairs) and
    text is fetched by two id-keyed joins, so corpus cost is the LSH
    pipeline's; similarity = 1 − d/max_len, 6-dp.

    Banding parameters come from ``lsh_params_for(corpus size)`` — the
    grow-with-corpus rule — because at FIXED parameters chance band
    collisions grow ~n² and the verify stage drowns (measured 67× the
    candidates at 10× docs; the scaled config cut that to ~true near-dups
    only, SCALE.md round-6 section).  The count() is a parquet
    footer-metadata pass, not a scan; at the driver's sf0.01 the rule
    resolves to the base (8, 4, 2) the oracle replays."""
    docs = _t(spark, sf_dir, "documents")
    # pin the candidate list's width before attaching text: the pair
    # table is tiny in BYTES so AQE coalesces it to one task, but each
    # row then pays an O(len²) Levenshtein DP — a per-row cost byte-based
    # coalescing cannot see (measured ~0.65 s serialized at sf0.1)
    width = _shuffle_width(spark)
    pairs = _scaled_banded_pairs(spark, sf_dir).repartition(width, "id1")
    a = docs.select(F.col("doc_id").alias("id1"), F.col("text").alias("_t1"))
    b = docs.select(F.col("doc_id").alias("id2"), F.col("text").alias("_t2"))
    d = F.levenshtein("_t1", "_t2")
    sim = F.lit(1.0) - d / F.greatest(F.length("_t1"), F.length("_t2"))
    return (
        pairs.join(a, "id1")
        .join(b, "id2")
        .select(
            "id1",
            "id2",
            d.alias("edit_dist"),
            F.round(sim, 6).alias("edit_sim"),
        )
    )


def q_pca_project(spark, sf_dir):
    """Apply a TRAINED PCA basis — the production serve shape (train
    once with similarity.pca_train, apply to every later corpus): the
    committed fixtures/pca_basis.py mean + 8×64 components, pinned as
    exact-repr float64 literals, projected as plain column arithmetic:
    value[j] = Σ_i (embedding[i] − mean[i])·comp[j][i], left-associated
    in i order so Spark and the SQL oracle run the identical fp64
    reduction — which is what lets an operator whose TRAINING step is a
    driver eigensolve (not SQL-replayable) still sit under the hash
    gate for its data-sized application.  Flattened to
    (vec_id, dim_idx, value) scalars — array outputs crash the driver's
    canonicalizer (CORRECTNESS_r06: unhashable list).  The dynamic
    train+apply lifecycle is pca_fit_project.

    Spark side is :func:`similarity.pca_project_expr` — one unrolled
    d-term SQL expression PER OUTPUT DIM (splitExpressions then gives
    each dim its own generated method, so whole-stage codegen compiles
    where the single 512-term tree overflowed janino and ran
    interpreted, VERDICT r9 #2), each dim built as one ``F.expr`` so
    plan construction is 8 JVM parses, not ~2,500 py4j round-trips; the
    oracle unrolls the same text for DuckDB (:func:`_pca_dim_exprs`),
    and the two reductions are bit-identical (same literal text, same
    term widening, same left-associated fp64 sum)."""
    from time_series_databse_engine_spark.fixtures.pca_basis import COMPS, MEAN

    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.pca_project_expr(emb, MEAN, COMPS)


def q_pca_fit_project(spark, sf_dir):
    """Full PCA lifecycle 64→8 over the embeddings table
    (similarity.pca_train + pca_project), ORACLE-BACKED since round 12
    via the invariant (bounds) oracle `similarity.pca_fit_invariants`
    (VERDICT r11 "Next round" #3): the eigensolve is driver-side numpy
    with no SQL twin, but a correct PCA's bookkeeping is checkable —
    one row of (exact corpus count, k) + booleans pinning component
    orthonormality, descending eigenvalues, zero projected means,
    per-dim E[proj²] == eigenvalue, and captured ≤ total variance
    (the approx_stats bounds-oracle pattern).  The oracle recomputes
    n_vecs exactly and asserts the booleans TRUE, so any train/apply
    regression fails the hash gate.  The data-sized application path
    stays separately hash-checked via the pinned-basis pca_project;
    planted-direction recovery and determinism stay pinned in
    test_similarity."""
    return sim_ops.pca_fit_invariants(_t(spark, sf_dir, "embeddings"), k=8)


def q_bpe_tokenize(spark, sf_dir):
    """Full BPE tokenizer round trip (text.bpe_learn + bpe_apply,
    Sennrich 2016): learn 16 merges from the corpus' vocab-sized
    word-frequency table (the one documented vocab collect), then
    encode every document by merge rank — per-doc true token counts,
    the statistic packing/budgeting actually needs.  Oracle-backed since
    round 10: _bpe_oracle_sql unrolls BOTH loops into generated
    MATERIALIZED CTE stages (doubled-separator replace for the merge
    scan; min-rank replace-all for the encode — equivalence arguments in
    its docstring); fixtures in test_text additionally pin the algorithm
    to the paper's worked example."""
    docs = _t(spark, sf_dir, "documents")
    merges = text_ops.bpe_learn(docs, num_merges=16)
    return text_ops.bpe_apply(docs, merges)


def q_semantic_outliers(spark, sf_dir):
    """Embedding-space outlier pruning (similarity.semantic_outliers):
    rows whose best cosine to any of the 16 coarse centroids is below
    0.2 — the off-distribution tail SemDeDup's near-centroid dedup never
    touches.  One zero-exchange broadcast-argmax scan; oracle reuses the
    IVF cell-assignment CTE keeping the winning similarity."""
    return sim_ops.semantic_outliers(
        _t(spark, sf_dir, "embeddings"), threshold=0.2, n_cells=16
    )


def q_quality_calibration(spark, sf_dir):
    """Equal-population quality-score deciles (sampling.equidepth_bins):
    ONE distributed exact-percentile aggregate yields the 9 boundaries
    (6-dp rounded for cross-engine equality), assignment is a broadcast
    fold — no global ntile window, the corpus never shuffles before the
    final 10-row aggregate.  The calibration table threshold-pickers
    read ('keep top-k deciles')."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    q = text_ops.quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "quality"
    )
    binned = samp_ops.equidepth_bins(q, "quality", n_bins=10)
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
    )


def q_source_curation(spark, sf_dir):
    """Per-source curation report — the table a corpus owner reads before
    deciding per-domain sampling weights: volume, exact-duplicate rate
    (corpus-wide md5 occurrence > 1), mean quality, mean length.  Two
    exchanges (text-hash window + id join), then a sources-sized
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    wd = W.partitionBy(F.md5("text"))
    flagged = docs.select(
        "doc_id", "source", (F.count("*").over(wd) > 1).alias("is_dup")
    )
    qs = text_ops.quality_score(docs).select("doc_id", "quality", "n_tokens")
    return (
        flagged.join(qs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("is_dup").cast("int")).alias("n_dup"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
        )
    )


def q_hw_backtest(spark, sf_dir):
    """Rolling-origin backtest of the Holt-Winters fit
    (timeseries.hw_backtest, Tashman 2000): per (event_type, horizon)
    MAE/RMSE of h-step-ahead forecasts scored from EVERY fitted origin
    via window lag/lead over the one-pass smoother state — no
    per-origin re-fit, zero extra shuffles.  Oracle wraps the
    holt_winters recursive CTE and replays the same window algebra."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", (F.col("ts_ms") / 3600000).cast("long").alias("bucket")
        )
        .agg(
            # exact-integer bucket mean (values are 2-dp): float avg is
            # sum-order dependent and cross-engine drift lands some 6-dp
            # rounds on boundaries at sf0.1 series lengths
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                / F.count("*")
                / F.lit(100.0),
                6,
            ).alias("y")
        )
    )
    return ts_ops.hw_backtest(
        hourly,
        "event_type",
        alpha=1 / 3,
        beta=1 / 6,
        gamma=1 / 7,
        period=24,
        horizons=(1, 3, 6, 12),
    )


def q_interval_join_bucketed(spark, sf_dir):
    """Keyless interval join at scale: 12 two-hour windows spaced 4 h
    from T1, matched to events by bucket-explode + equi-join + BETWEEN
    residual (asof.interval_bucket_join) — never a nested-loop.  The
    oracle is the plain theta join, so the hash-match doubles as an
    exactness proof for the bucket decomposition."""
    from time_series_databse_engine_spark.operators.asof import interval_bucket_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts_ms")
    windows = spark.range(12).select(
        F.col("id").alias("window_id"),
        (F.lit(T1) + F.col("id") * 14_400_000).alias("start_ms"),
        (F.lit(T1) + F.col("id") * 14_400_000 + 7_200_000 - 1).alias("end_ms"),
    )
    return interval_bucket_join(ev, windows).select(
        "event_id", "window_id", "ts_ms", "start_ms", "end_ms"
    )


def q_hilbert_key(spark, sf_dir):
    """Hilbert-curve clustering key over events' (ts_ms, value) — same
    quantization as q_zorder_key, then the continuous-curve walk
    (layout.hilbert_key: the Arrow-batched numpy xy→d walk, the one
    implementation production layout jobs use).  Tighter per-file
    rectangles than Morton at the quadrant seams; the comparative skip
    test quantifies it.  Oracle: recursive-CTE replay of the identical
    integer walk."""
    from time_series_databse_engine_spark.operators import layout as layout_ops

    ev = _t(spark, sf_dir, "events")
    mm = F.broadcast(
        ev.agg(
            F.min("ts_ms").alias("tlo"),
            F.max("ts_ms").alias("thi"),
            F.min("value").alias("vlo"),
            F.max("value").alias("vhi"),
        )
    )
    q = ev.crossJoin(mm).select(
        "event_id",
        layout_ops.quantize(F.col("ts_ms"), F.col("tlo"), F.col("thi"), 16).alias("qa"),
        layout_ops.quantize(F.col("value"), F.col("vlo"), F.col("vhi"), 16).alias("qb"),
    )
    return q.select(
        "event_id", layout_ops.hilbert_key(F.col("qa"), F.col("qb"), 16).alias("hkey")
    )


def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) clustering key over events' (ts_ms, value)
    (layout.zorder_key): quantize both dims to 16-bit buckets against
    the table min/max (broadcast one-row aggregate, no collect), then
    bit-interleave — the sort key that makes parquet footer min/max
    tight in BOTH dimensions at once (layout.zorder_write + the
    pruning test quantify the file-skip win).  Oracle replays the
    quantize + 32-term interleave with DuckDB bit operators."""
    from time_series_databse_engine_spark.operators import layout as layout_ops

    ev = _t(spark, sf_dir, "events")
    mm = F.broadcast(
        ev.agg(
            F.min("ts_ms").alias("tlo"),
            F.max("ts_ms").alias("thi"),
            F.min("value").alias("vlo"),
            F.max("value").alias("vhi"),
        )
    )
    q = ev.crossJoin(mm).select(
        "event_id",
        layout_ops.quantize(F.col("ts_ms"), F.col("tlo"), F.col("thi"), 16).alias("qa"),
        layout_ops.quantize(F.col("value"), F.col("vlo"), F.col("vhi"), 16).alias("qb"),
    )
    return q.select(
        "event_id", layout_ops.zorder_key(F.col("qa"), F.col("qb"), 16).alias("zkey")
    )


def q_ivfpq_topk(spark, sf_dir):
    """IVFADC (similarity.ivfpq_topk, Jégou 2011): IVF cell probing cuts
    candidate COUNT, PQ/ADC codes cut candidate WIDTH — the composed
    production-ANN shape.  One corpus pass computes cell id and codes
    together (assignment fold carried through pq_encode); the oracle
    replays both quantizers and the probe join."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=16, n_probe=4, m=4, ks=16
    )


def q_ann_index_probe(spark, sf_dir):
    """Persisted-ANN-index probe (similarity.ivf_index_write/ivf_index_probe):
    the build-once/probe-many production shape — IVFADC codes stored as a
    cell-partitioned Parquet table (codes only, ~250x compressed at rest),
    probes read ~n_probe/n_cells of the partitions via PartitionFilters
    and dequantize from the broadcast codebook at query time.  Result-
    identical to ivfpq_topk by construction (same quantizers, float-op
    order, tie rule), so the ivfpq oracle applies verbatim: the persisted
    layout must never change answers."""
    emb = _t(spark, sf_dir, "embeddings")
    path = _fixture_dir(
        spark, sf_dir, "ann_index_",
        lambda p: sim_ops.ivf_index_write(emb, p, n_cells=16, m=4, ks=16),
    )
    return sim_ops.ivf_index_probe(
        spark,
        path,
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=4,
        m=4,
    )


def q_ann_index_append(spark, sf_dir):
    """Incremental ANN index maintenance (similarity.ivf_index_append):
    index built on the base corpus (vec_id < 250), the new batch
    (vec_id >= 250) encoded with the index's PINNED sidecar quantizers
    and appended — O(batch) work, existing rows never re-read.  The
    oracle draws the quantizer sample from the BASE rows only (the
    parameterized ivfpq oracle), then probes the full corpus: the hash
    match proves append-encoded rows are bit-identical to build-encoded
    ones."""
    emb = _t(spark, sf_dir, "embeddings")

    def build(path):
        sim_ops.ivf_index_write(
            emb.filter(F.col("vec_id") < 250), path, n_cells=16, m=4, ks=16
        )
        sim_ops.ivf_index_append(spark, path, emb.filter(F.col("vec_id") >= 250), m=4)

    return sim_ops.ivf_index_probe(
        spark,
        _fixture_dir(spark, sf_dir, "ann_index_app_", build),
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=4,
        m=4,
    )


def q_token_budget_sample(spark, sf_dir):
    """Per-source token-budget fill (sampling.token_budget_sample): take
    docs in deterministic md5(id) order until each source's whitespace-
    token quota is full (greedy prefix, cumulative-≤ rule, exact integer
    arithmetic) — the data-mixing step as LLM pipelines specify it
    (token quotas), complementing mixture_sample's doc-count shares.
    Budgets exercise all three regimes: partial fill (src0), quota
    larger than the source (src1), and the default for unnamed
    sources."""
    from time_series_databse_engine_spark.operators import sampling as sampling_ops

    return sampling_ops.token_budget_sample(
        _t(spark, sf_dir, "documents"),
        {"src0": 500, "src1": 10_000_000},
        default_budget=200,
    )


def q_ann_index_compacted(spark, sf_dir):
    """Full persisted-index lifecycle under the hash gate: build on the
    base corpus, epoch-append the rest, COMPACT (one sorted file per
    cell; the epoch is committed, so committed_through absorbs it),
    then probe.  Result must equal the base-quantizer ivfpq oracle —
    the same oracle as ann_index_append — proving compaction
    result-invisible end-to-end, not just in unit tests."""
    emb = _t(spark, sf_dir, "embeddings")

    def build(path):
        sim_ops.ivf_index_write(
            emb.filter(F.col("vec_id") < 250), path, n_cells=16, m=4, ks=16
        )
        sim_ops.ivf_index_append(
            spark, path, emb.filter(F.col("vec_id") >= 250), m=4, epoch_id=0
        )
        sim_ops.ivf_index_compact(spark, path, committed_through=0)

    return sim_ops.ivf_index_probe(
        spark,
        _fixture_dir(spark, sf_dir, "ann_index_cpt_", build),
        emb.filter(F.col("vec_id") < 5),
        k=5,
        n_probe=4,
        m=4,
    )


def q_pagerank(spark, sf_dir):
    """PageRank centrality over the LSH near-dup candidate graph
    (graph.pagerank, Page 1999; d=0.85, 5 fixed iterations): pick the
    CANONICAL member of each dup cluster as the most-connected one —
    the template its near-dups derive from — instead of min-id.
    Oracle unrolls the five iterations as chained CTEs over the same
    pair list, with the 9-dp per-iteration rounding both engines
    share."""
    from time_series_databse_engine_spark.operators import graph as graph_ops

    pairs = _scaled_banded_pairs(spark, sf_dir)
    pr = graph_ops.pagerank(pairs, damping=0.85, iters=5)
    return pr.select(F.col("id").alias("doc_id"), "pagerank")


def q_label_propagation(spark, sf_dir):
    """Synchronous label-propagation communities over the LSH near-dup
    graph (graph.label_propagation, Raghavan 2007; 3 fixed rounds,
    min-label ties): the majority-rule refinement of dedup_clusters'
    connected components — weakly-bridged clumps keep distinct
    communities.  Oracle unrolls the rounds as chained CTEs with the
    identical (count DESC, label ASC) argmax."""
    from time_series_databse_engine_spark.operators import graph as graph_ops

    pairs = _scaled_banded_pairs(spark, sf_dir)
    lp = graph_ops.label_propagation(pairs, iters=3)
    return lp.select(F.col("id").alias("doc_id"), "community")


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (graph.adamic_adar): top non-edges by
    shared-neighbor evidence, 1/ln(deg) weighted so rare shared
    neighbors dominate.  The graph: users co-active in the same
    (event_type, hour) bucket during the first 48 h — open structure at
    every SF, unlike the LSH graph whose band collisions close into
    cliques (AA on it returns no non-edges at sf0.01; triangle_count's
    lcc=1 rows are that fact).  Bucket participants are capped at 20 in
    md5 order (co-occurrence graphs densify quadratically with bucket
    occupancy — the sf1 bench caught the uncapped form) and hub centers
    above degree 200 are dropped from evidence.  Oracle replays the
    capped edge derivation, wedge counting, the NOT EXISTS anti-join,
    and the deterministic top-k.

    Cost anatomy (measured r11, sf0.1): pairs derivation 1.4 s; the op
    itself is dominated by the HONEST wedge term — Σdeg² ≈ 15.5 M wedge
    rows over 1 367 nodes (max deg 265, so the 200-cap trims only 29
    centers here) — not fixed overhead; a localCheckpoint-partitioning
    experiment measured neutral (localCheckpoint does NOT preserve
    partitioning into LogicalRDD, probed r11)."""
    from time_series_databse_engine_spark.operators import graph as graph_ops

    from pyspark.sql import Window as _W

    ev = _t(spark, sf_dir, "events").where(
        F.col("ts_ms") < F.lit(T1 + 48 * MS_H)
    )
    ub = ev.select(
        "event_type",
        (F.col("ts_ms") - F.col("ts_ms") % F.lit(MS_H)).alias("bucket"),
        F.col("user_id").alias("u"),
    ).distinct()
    # Co-occurrence graphs densify with per-bucket occupancy (10x the
    # events at a fixed calendar = ~10x the users per bucket = ~100x
    # the pairs), so the bucket's participants are CAPPED at 20 in
    # deterministic md5(u) order before pair generation — the
    # cap_events/domain_cap recipe; pairs per bucket are then <= C(20,2)
    # whatever the corpus size, and the sampled-participant graph is
    # SF-reproducible for the oracle.
    wcap = _W.partitionBy("event_type", "bucket").orderBy(
        F.md5(F.col("u").cast("string")), F.col("u")
    )
    capped = ub.withColumn("_rn", F.row_number().over(wcap)).where(
        F.col("_rn") <= 20
    )
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), ["event_type", "bucket"])
        .where(F.col("a.u") < F.col("b.u"))
        .select(F.col("a.u").alias("id1"), F.col("b.u").alias("id2"))
        .distinct()
    )
    return graph_ops.adamic_adar(pairs, k=100, max_center_degree=200).select(
        F.col("v").alias("user_a"),
        F.col("w").alias("user_b"),
        "aa_score",
        "common_neighbors",
    )


def q_assoc_rules(spark, sf_dir):
    """Pairwise association rules over order baskets (baskets.assoc_rules,
    Agrawal 1994): which part brand's presence in an order predicts
    another's, priced as support/confidence/lift with the apriori
    frequent-item prune BEFORE pair generation (broadcast semi-join), so
    the basket self-join fans out only over frequent items.  Top-100 by
    lift with a full deterministic tiebreak.  max_basket_size=20 is the
    mega-basket cap (VERDICT r10 #4): a basket touching more than 20
    frequent brands is dropped from pair evidence before the self-join
    (the oracle replays the identical drop)."""
    from time_series_databse_engine_spark.operators import baskets as basket_ops

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    b = li.join(part, li.l_partkey == part.p_partkey)
    return basket_ops.assoc_rules(
        b, "l_orderkey", "p_brand", min_support=0.01, k=100,
        max_basket_size=20,
    )


def q_triangle_count(spark, sf_dir):
    """Per-node triangle count + local clustering coefficient over the
    LSH near-dup candidate graph (graph.triangle_count, Schank & Wagner
    2005 degree-ordered orientation): separates TIGHT template families
    (high lcc — every member near-dups every other, keep one canonical)
    from loose pairwise chains that connected components over-merge.
    Oracle is the brute-force symmetric triple-join per corner — exact
    on both engines, so counts match bit for bit."""
    from time_series_databse_engine_spark.operators import graph as graph_ops

    pairs = _scaled_banded_pairs(spark, sf_dir)
    tc = graph_ops.triangle_count(pairs)
    return tc.select(F.col("id").alias("doc_id"), "degree", "triangles", "lcc")


def q_minhash_containment(spark, sf_dir):
    """Asymmetric containment estimate C(A,B)=|A∩B|/|A| per LSH candidate
    pair — the quote/boilerplate-subset signal symmetric Jaccard hides
    (dedup.minhash_containment_estimates docstring): J from MinHash
    agreement, exact distinct-shingle counts, inclusion-exclusion for
    the intersection.  Banding is corpus-derived (lsh_params_for — base
    params at every oracle-checked SF, candidate volume ~linear
    beyond)."""
    docs = _t(spark, sf_dir, "documents")
    p = dedup_ops.lsh_params_for(_docs_count(docs))
    return dedup_ops.minhash_containment_estimates(
        docs,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        rows_per_band=p["rows_per_band"],
    )


def q_pruning_report(spark, sf_dir):
    """Parquet-footer pruning audit (layout.parquet_pruning_report):
    per-(file, column, row-group) min/max statistics + skippability for
    a probe predicate — read distributed through pyarrow footers only,
    replayed by DuckDB's parquet_metadata() on the SAME file, so the
    hash gate checks that both engines see identical pruning evidence.
    The audited file is keyed off sf_dir (ADVICE r11: a pinned literal
    made the sf1/sf3 HEADLINE rows time a constant gate-size footer
    read); at the sf0.01 gate the path equals the oracle SQL's literal.
    The operator itself takes any file list — its multi-file behavior
    over the hour-partitioned store is pinned in test_plans."""
    import os

    from time_series_databse_engine_spark.operators import layout as layout_ops

    return layout_ops.parquet_pruning_report(
        spark,
        [os.path.join(sf_dir, "events.parquet")],
        ["event_id", "user_id"],
        probe_lo=0,
        probe_hi=9,
    )


def q_lsh_recall(spark, sf_dir):
    """Measured banding recall/precision vs EXACT shingle-set Jaccard
    (dedup.lsh_recall) — the dedup twin of ivf_recall, and the evidence
    op behind lsh_params_for's escalation rule: ground truth is exact
    Jaccard over the same 3-token shingles MinHash samples, computed on
    a deterministic md5-gated 4/16 doc sample so the truth join stays
    bounded; candidates come from the production signature + banding
    operators unchanged.  One summary row."""
    return dedup_ops.lsh_recall(
        _t(spark, sf_dir, "documents"), threshold=0.5, sample_16ths=4
    )


def q_prefix_jaccard(spark, sf_dir):
    """Exact Jaccard similarity join ≥ 0.8 over the FULL documents table
    via prefix filtering (dedup.prefix_filter_jaccard, Bayardo 2007
    all-pairs): rows identical to jaccard_pairs (the oracle is the same
    exact inverted-index SQL), but only each doc's rarest
    s − ⌈t·s⌉ + 1 tokens are indexed, so the pair join never fans out
    on the frequent end of the vocabulary — the filter that makes exact
    similarity joins viable where jaccard_pairs needs a df cap."""
    return dedup_ops.prefix_filter_jaccard(
        _t(spark, sf_dir, "documents"), threshold=0.8
    )


def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift report (similarity.embedding_drift):
    per-label centroid cosine + norm ratio between the even-id and
    odd-id halves of the embeddings table — the representation-level
    monitor that catches an encoder change or re-embedding when every
    scalar column stays calm.  One (group, dim)-keyed exchange collapses
    both snapshots to the centroid table; cross-dim reductions fold over
    dim-sorted arrays so both engines reduce in the same order."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.embedding_drift(
        emb.where(F.col("vec_id") % 2 == 0),
        emb.where(F.col("vec_id") % 2 == 1),
        group_col="label",
    )


def q_label_agreement(spark, sf_dir):
    """Cohen's kappa between the stopword-profile language guess and the
    stored lang column (profile.cohen_kappa, Cohen 1960) — the label-QA
    gate a pipeline runs before trusting a heuristic labeler: po/pe/kappa
    over the lang_id × lang confusion table.  mutual_info's
    calibration-aware sibling: ONE joint-key exchange to the
    confusion-cell table, marginals and diagonal re-reduce from cells,
    finish is label-squared-sized."""
    from time_series_databse_engine_spark.operators import profile as profile_ops

    docs = _t(spark, sf_dir, "documents")
    pred = text_ops.lang_id(docs).select("doc_id", "lang_guess")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    return profile_ops.cohen_kappa(joined, "lang", "lang_guess")


def q_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B readout (experiment.cuped_readout,
    Deng et al. WSDM 2013): arms = user_id % 2, pre-period covariate =
    value-sum before Jan 15, metric = value-sum after; pooled
    θ = cov/var from exact integer-cent sums, per-arm raw vs adjusted
    mean/variance + the variance-reduction share.  ONE per-user
    exchange; θ and the finals are one-row closed forms."""
    from time_series_databse_engine_spark.operators import experiment as exp_ops

    return exp_ops.cuped_readout(
        _t(spark, sf_dir, "events"), split_ms=1705276800000
    )


def q_ab_ztest(spark, sf_dir):
    """Two-proportion conversion z-test (experiment.ab_ztest): did the
    odd-user arm purchase more?  Pooled standard error, exact integer
    counts until the one-row closed form, NULL z at degenerate pooled
    variance.  ONE per-user any-conversion reduce."""
    from time_series_databse_engine_spark.operators import experiment as exp_ops

    return exp_ops.ab_ztest(
        _t(spark, sf_dir, "events"), "event_type = 'purchase'"
    )


# shared by q_expect_rules and its oracle so both engines evaluate the
# IDENTICAL rule expressions (the quality_cte named-variable lesson)
_EXPECT_RULES = [
    ("totalprice_positive", "o_totalprice > 0"),
    ("status_known", "o_orderstatus IN ('O', 'F', 'P')"),
    ("orderdate_present", "o_orderdate IS NOT NULL"),
    ("custkey_positive", "o_custkey > 0"),
    ("priority_nonempty", "length(o_orderpriority) > 0"),
]


def q_expect_rules(spark, sf_dir):
    """Declarative data-quality rule audit (profile.expect_rules, the
    Great-Expectations/dbt-test shape engine-native): five rules over
    orders, each a SQL boolean; NULL verdicts count as violations.
    ONE scan, ZERO data shuffles — every rule folds into the same
    global aggregate and the long format is a stack() of the one
    result row."""
    from time_series_databse_engine_spark.operators import profile as profile_ops

    return profile_ops.expect_rules(_t(spark, sf_dir, "orders"), _EXPECT_RULES)


def q_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guardrail (experiment.srm_check): the
    chi-square goodness-of-fit check on the user_id % 2 arm split that
    validates randomization health BEFORE any experiment readout is
    trusted — missing cells still count against the expected share.
    ONE per-entity distinct reduce; the χ² is a k-row combine."""
    from time_series_databse_engine_spark.operators import experiment as exp_ops

    return exp_ops.srm_check(_t(spark, sf_dir, "events"))


def q_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum readout (experiment.mann_whitney, Mann &
    Whitney 1947): the nonparametric arm test on per-user revenue —
    zero-inflated heavy-tailed metrics where ab_ztest/cuped's normal
    theory is whale-dominated.  Midranks from the per-distinct-value
    count table carried in exact half-units, tie-corrected σ, no
    continuity correction.  ONE per-user exchange; the rank finish
    windows the distinct-cent-value table only (KS discipline)."""
    from time_series_databse_engine_spark.operators import experiment as exp_ops

    return exp_ops.mann_whitney(_t(spark, sf_dir, "events"))


def q_chi2_independence(spark, sf_dir):
    """Pearson χ² independence + Cramér's V (profile.chi2_independence)
    between a document's language and its source — the curation
    question "is the language mix uniform across crawl sources" with a
    sample-size-free effect size; mutual_info's significance-scaled
    sibling over the same cell-table shape.  Unobserved cells enter via
    the Σn²/e − n closure; critical value pinned at χ²₀.₀₅ for the
    fixture table's dof (the dof column reports it).  ONE joint-key
    exchange; marginals re-reduce from cells."""
    from time_series_databse_engine_spark.operators import profile as profile_ops

    return profile_ops.chi2_independence(
        _t(spark, sf_dir, "documents"), "lang", "source", chi2_crit=97.351
    )


def q_calibration_report(spark, sf_dir):
    """Reliability diagram + ECE decomposition (profile.calibration_report,
    Naeini 2015 / Brier 1950) of the pinned-weights quality classifier
    against the heuristic it was distilled from: score = served
    sigmoid prob, label = quality ≥ corpus median (exact percentile,
    6 dp).  Per occupied decile bin: mean score vs positive rate,
    |gap| (Σ weight·gap = ECE), bin Brier — the readout that decides
    whether the classifier's probabilities can budget tokens or only
    rank.  All sums exact micro-unit BIGINTs; the report adds one
    ≤ n_bins-row aggregate on top of the classifier's own plan."""
    from time_series_databse_engine_spark.fixtures.quality_weights import (
        BIAS,
        WEIGHTS,
    )
    from time_series_databse_engine_spark.operators import profile as profile_ops

    docs = _t(spark, sf_dir, "documents")
    scores = text_ops.classifier_score(docs, WEIGHTS, bias=BIAS).select(
        "doc_id", "prob"
    )
    # q feeds the median aggregate AND the label projection — cut it so
    # the quality heuristics run once, not once per consumer (r12 opt)
    q = (
        text_ops.quality_score(docs)
        .select("doc_id", "quality")
        .localCheckpoint(eager=False)
    )
    med = q.agg(F.round(F.expr("percentile(quality, 0.5)"), 6).alias("_med"))
    lab = q.crossJoin(F.broadcast(med)).select(
        "doc_id", (F.col("quality") >= F.col("_med")).cast("int").alias("label")
    )
    return profile_ops.calibration_report(
        scores.join(lab, "doc_id"), "prob", "label", n_bins=10
    )


def q_pareto_front(spark, sf_dir):
    """2-D data-selection skyline (sampling.pareto_front, Börzsönyi
    2001): documents not dominated under "maximize quality, minimize
    token cost" — the efficient frontier a budgeted curation pass
    selects from.  NO global sort: per-distinct-quality min-token
    reduce, one distinct-value-sized strict-prefix-min window,
    broadcast filter back; the corpus is scanned once.  Oracle is the
    literal NOT EXISTS pairwise-dominance definition, so the hash match
    proves the decomposition exact."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    # the skyline consumes q twice (value-group reduce + filter-back) —
    # cut after the heavy quality heuristics so they run once (r12 opt;
    # the cached table is 3 narrow columns, far cheaper than re-running
    # the regex passes at any scale)
    q = (
        text_ops.quality_score(_t(spark, sf_dir, "documents"))
        .select("doc_id", "quality", "n_tokens")
        .localCheckpoint(eager=False)
    )
    return samp_ops.pareto_front(q, "quality", "n_tokens")


def q_power_mde(spark, sf_dir):
    """MDE planning table (experiment.power_mde): per-arm sample sizes
    → minimum detectable effect at 5 %/80 % from the pilot window's
    per-user variance — the design half of the experimentation tier
    (size the NEXT test from THIS corpus).  ONE per-entity exchange;
    σ̂/mean are a one-row closed form and the grid is a 7-row literal
    broadcast."""
    from time_series_databse_engine_spark.operators import experiment as exp_ops

    return exp_ops.power_mde(_t(spark, sf_dir, "events"))


def q_benford_audit(spark, sf_dir):
    """First-digit Benford conformity per event_type
    (profile.benford_audit, Nigrini 2012 MAD cutoffs): the forensic
    tripwire for fabricated / capped / unit-mangled numeric feeds.
    Digits from exact integer cents (BIGINT→string never goes
    scientific — no float log₁₀ flooring for two engines to disagree
    on); never-seen digits charge their expected mass via the 9-row
    literal rectangle.  ONE (group, digit) exchange, ≤ 9·|groups|
    cells."""
    from time_series_databse_engine_spark.operators import profile as profile_ops

    return profile_ops.benford_audit(
        _t(spark, sf_dir, "events"), "value", "event_type"
    )


def q_did_readout(spark, sf_dir):
    """Difference-in-differences readout (experiment.did_readout, the
    Card-Krueger 1994 shape): the causal estimate under parallel
    trends when assignment is NOT randomized — per-entity pre/post
    integer-cent sums split at the cuped boundary, SE priced from the
    per-entity deltas (absorbing within-entity covariance), one-row
    closed form.  ONE per-entity exchange; corpus never sorts."""
    from time_series_databse_engine_spark.operators import experiment as exp_ops

    return exp_ops.did_readout(
        _t(spark, sf_dir, "events"), split_ms=1705276800000
    )


def q_modularity(spark, sf_dir):
    """Partition quality of the dedup components over the LSH near-dup
    graph (graph.modularity, Newman 2004): Q = Σ_c [m_c/m −
    (d_c/2m)²] — the number that says whether the cluster purge list
    carves the graph at its joints.  Labels ARE dedup_clusters'
    connected components, so the oracle composes the recursive-
    reachability CTE with the modularity aggregates.  Node-keyed
    degree/label joins, then community-sized finish."""
    from time_series_databse_engine_spark.operators import graph as graph_ops

    # the pair list feeds three plan branches (component labels, the
    # degree table, the within-community edge count); each re-scans the
    # pair fixture, which costs no job over a lineage-cutting checkpoint
    pairs = _scaled_banded_pairs(spark, sf_dir)
    labels = dedup_ops.dedup_clusters(pairs)
    return graph_ops.modularity(
        pairs, labels, id_col="doc_id", community_col="cluster_id"
    )


def q_conformal_threshold(spark, sf_dir):
    """Split-conformal auto-threshold (sampling.conformal_threshold,
    Vovk 2005): per event_type, the ⌈(n+1)(1−α)⌉-th smallest value at
    α = 0.1 — the distribution-free alarm cutoff guaranteeing ≤ 10 %
    false-alarm mass on exchangeable traffic, NULL (not clamped) when
    the group is too small to certify the level.  Exact order
    statistic, never an interpolating percentile; scores reduce to the
    per-(type, value) count table before the group-partitioned rank
    window (KS discipline)."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    return samp_ops.conformal_threshold(
        _t(spark, sf_dir, "events"), "value", group_col="event_type", alpha=0.1
    )


def q_ranking_eval(spark, sf_dir):
    """Rank-aware retrieval eval (similarity.ranking_eval, NDCG per
    Järvelin 2002): recall@5 / MRR / NDCG@5 of the 8-bit asymmetric
    quantized ranking against exact cosine truth — the eval-harness
    upgrade of sq8_recall from set overlap to list ORDER quality, run
    whenever an index or quantizer changes.  Both rankings are
    deterministic (cand-id tiebreaks); the eval joins two
    n_queries × k tables — no corpus scan of its own."""
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    truth = sim_ops.cosine_topk(emb, qs, k=5)
    cand = sim_ops.sq8_topk(emb, qs, k=5, dim=64)
    return sim_ops.ranking_eval(truth, cand)


def q_survival_km(spark, sf_dir):
    """Kaplan-Meier survival over user lifetimes in events
    (timeseries.survival_km, Kaplan & Meier 1958): lifetime = whole days
    first→last event, right-censored when the last event is within 3
    days of the table's max timestamp — the churn curve that does NOT
    count still-active users as dead (cohort_retention's bias).  ONE
    per-user exchange; the KM product-limit finish windows only distinct
    lifetimes (≤ observation-span days at any corpus size)."""
    return ts_ops.survival_km(
        _t(spark, sf_dir, "events"), id_col="user_id", ts_col="ts", horizon_days=3
    )


def q_k_core(spark, sf_dir):
    """2-core of the LSH near-dup graph (graph.k_core, Seidman 1983):
    synchronous peeling rounds (at most 8, stopping at the fixpoint)
    drop every node that cannot keep >= 2 within-subgraph neighbors —
    separating genuinely clustered template families from the dangling
    one-off pairs connected components over-credit.  All-integer
    state; the oracle unrolls the SAME 8 rounds as chained CTEs, which
    a fixpoint reached earlier leaves unchanged.  Returns (doc_id,
    core_degree)."""
    from time_series_databse_engine_spark.operators import graph as graph_ops

    pairs = _scaled_banded_pairs(spark, sf_dir)
    return graph_ops.k_core(pairs, k=2, rounds=8).select(
        F.col("id").alias("doc_id"), "core_degree"
    )


def q_source_overlap(spark, sf_dir):
    """Cross-source content-overlap matrix (dedup.source_overlap): for
    every source pair, the count of distinct shared word 3-grams plus a
    containment-style coefficient — the "which feeds mirror each other"
    curation signal that sets dedup order and licensing-risk review
    priority.  Gram-keyed inverted-index join (fan-out bounded by
    sources-per-gram, never doc count); per-source totals broadcast."""
    return dedup_ops.source_overlap(_t(spark, sf_dir, "documents"), n=3)


def q_mutual_info(spark, sf_dir):
    """Exact categorical mutual information (profile.mutual_info):
    I(event_type; hour-of-day) in nats with marginal entropies and
    normalized MI — the dependence screen profiling adds on top of
    per-column entropy (is activity type time-of-day dependent?  an NMI
    near 1 flags a leaking feature, near 0 a useless stratifier).  ONE
    joint-key exchange; marginals re-reduce from the cell table."""
    from time_series_databse_engine_spark.operators import profile as profile_ops

    e = _t(spark, sf_dir, "events").select(
        "event_type", F.expr("(ts_ms div 3600000) % 24").alias("hour_of_day")
    )
    return profile_ops.mutual_info(e, "event_type", "hour_of_day")


def q_salted_join(spark, sf_dir):
    """Skew-scattered equi-join (skew.salted_join): lineitem ⋈ supplier
    on suppkey with 8-way deterministic key salting, then revenue per
    supplier nation.  Result is identical to the plain join (the oracle
    IS the plain join) — the salt only reshapes the shuffle so one hot
    key spreads over 8 reducers instead of pinning one task."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice", "l_discount"
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    return (
        skew_ops.salted_join(li, s, on="suppkey", salt=8)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-prefiltered exact semi join (skew.bloom_semijoin): lineitem
    rows of URGENT-priority orders, revenue per return flag.  The
    one-row 8 KiB bitmap broadcast kills non-matching rows BEFORE the
    semi join's exchange (the explicit runtime-filter pattern); the
    trailing exact semi join scrubs Bloom false positives, so the
    oracle is the plain ANSI semi join."""
    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        skew_ops.bloom_semijoin(li, urgent, on="l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


def q_dedup_clusters_star(spark, sf_dir):
    """Connected components via alternating large-star/small-star
    contraction (O(log n) rounds — the variant for long-chain components;
    dedup.dedup_clusters_star docstring).  Same output contract and the
    same recursive-CTE oracle as `dedup_clusters`."""
    pairs = _scaled_banded_pairs(spark, sf_dir)
    return dedup_ops.dedup_clusters_star(pairs)


def q_frame_sample(spark, sf_dir):
    """REAL video frame sampling end-to-end (multimodal.frame_sample):
    documents → 5-frame MJB motion-BMP containers (each 4×1 frame's
    pixels from a different text slice) via one mapInPandas encode
    stage, then seek-table parse + per-frame stdlib BMP decode samples
    every 2nd frame.  Rows-only: binary payloads have no SQL oracle;
    pixel-exact extraction is tested in test_multimodal."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = t.encode("utf-8")[:60]
                b = b + bytes(60 - len(b))
                frames = [
                    mm_ops.encode_bmp(4, 1, b[i * 12 : i * 12 + 12]) for i in range(5)
                ]
                payloads.append(mm_ops.encode_mjb(frames, frame_ms=40))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": "video", "payload": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    return mm_ops.frame_sample(media, every_n=2).select(
        "media_id", "frame_idx", "frame_ms", "width", "height"
    )


def q_multimodal_decode(spark, sf_dir):
    """REAL multimodal decode end-to-end: documents → 4×4 24-bit image
    payloads (first 48 utf-8 bytes as pixels, zero-padded) via one
    mapInPandas encode stage — doc_id mod 3 picks BMP / zlib PNG /
    baseline JPEG, so all THREE stdlib codecs run through the magic-byte
    dispatcher — then extract_features(fake=False) recovers dimensions +
    channel means.  Rows-only: binary construction has no SQL oracle; the
    codecs are exactness-tested in tests/test_multimodal.py +
    tests/test_jpeg.py."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops
    from time_series_databse_engine_spark.operators.jpeg import encode_jpeg

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                b = t.encode("utf-8")[:48]
                px = b + bytes(48 - len(b))
                m = int(i) % 3
                if m == 0:
                    payloads.append(mm_ops.encode_bmp(4, 4, px))
                elif m == 1:
                    payloads.append(mm_ops.encode_png(4, 4, px))
                else:
                    payloads.append(encode_jpeg(4, 4, px, quality=95))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": "image", "payload": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    feats = mm_ops.extract_features(media, fake=False)
    return feats.select(
        "media_id",
        F.col("features")[1].cast("int").alias("width"),
        F.col("features")[2].cast("int").alias("height"),
        F.round(F.col("features")[4], 4).alias("mean_b"),
        F.round(F.col("features")[5], 4).alias("mean_g"),
        F.round(F.col("features")[6], 4).alias("mean_r"),
    )


def q_image_neardup(spark, sf_dir):
    """Image near-duplicate detection end-to-end: documents → 16×16 gray
    PNGs (first 256 utf-8 bytes as pixels); every 4th doc ALSO emits a
    quality-85 JPEG twin of the same pixels under media_id + 100000 — a
    planted cross-codec near-dup, self-contained per row so the result is
    partition-independent.  pHash via one mapInPandas decode, pairing
    JVM-side with bit_count(xor) ≤ 6.  Rows-only: binary payloads; the
    hash's invariances are pinned in tests/test_multimodal.py."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops
    from time_series_databse_engine_spark.operators.dedup import hamming64
    from time_series_databse_engine_spark.operators.jpeg import encode_jpeg

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads, ids = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                b = t.encode("utf-8")[:256]
                px = b + bytes(256 - len(b))
                ids.append(int(i))
                payloads.append(mm_ops.encode_png(16, 16, px, channels=1))
                if int(i) % 4 == 3:
                    ids.append(int(i) + 100_000)
                    payloads.append(encode_jpeg(16, 16, px, quality=85, grayscale=True))
            yield pd.DataFrame({"media_id": ids, "kind": "image", "payload": payloads})

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    hashes = mm_ops.image_phash(media)
    a = hashes.select(F.col("media_id").alias("id1"), F.col("phash").alias("h1"))
    b = hashes.select(F.col("media_id").alias("id2"), F.col("phash").alias("h2"))
    return (
        a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
        .select("id1", "id2", hamming64("h1", "h2").alias("dist"))
        .filter(F.col("dist") <= 6)
    )


def q_audio_neardup(spark, sf_dir):
    """Audio near-duplicate detection end-to-end: documents → PCM-16 WAV
    clips (text bytes → samples ×100, 4096 per clip); every 4th doc also
    emits a half-volume twin under media_id + 100000 (halving is exact on
    ×100 samples, so the twin's fingerprint bits are identical).
    Haitsma–Kalker fingerprints via one mapInPandas pass, then the BER
    match rule computed JVM-side (bit_count over frame-aligned joins) —
    thresholded at 0.05 rather than the literature's 0.35 because
    byte-derived clips from same-vocabulary docs legitimately share
    spectra; the planted twins score exactly 0.  Rows-only: binary
    payloads."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                b = (t.encode("utf-8") * 64)[:4096]
                samples = [(x - 128) * 100 for x in b]
                ids.append(int(i))
                payloads.append(mm_ops.encode_wav(samples, 16_000))
                if int(i) % 4 == 3:
                    ids.append(int(i) + 100_000)
                    payloads.append(mm_ops.encode_wav([s // 2 for s in samples], 16_000))
            yield pd.DataFrame({"media_id": ids, "kind": "audio", "payload": payloads})

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    fps = mm_ops.audio_fingerprints(media)
    a = fps.select(F.col("media_id").alias("id1"), "frame_idx", F.col("fp").alias("f1"))
    b = fps.select(F.col("media_id").alias("id2"), "frame_idx", F.col("fp").alias("f2"))
    return (
        a.join(b, "frame_idx")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.round(
                F.sum(F.bit_count(F.col("f1").bitwiseXOR(F.col("f2")))) / (F.count("*") * 16), 6
            ).alias("ber")
        )
        .filter(F.col("ber") < 0.05)
    )


def q_video_neardup(spark, sf_dir):
    """Video near-duplicate detection: documents → 3-frame MJB clips of
    16×16 BMP frames (text bytes as pixels); every 4th doc also emits a
    brightness-shifted twin (+12 per channel, clamped) under
    media_id + 100000.  frame_sample → per-frame pHash in one Arrow pass;
    two videos match when EVERY aligned frame pair is within 6 bits —
    pHash's brightness invariance makes the planted twins exact.
    Rows-only: binary payloads."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops
    from time_series_databse_engine_spark.operators.dedup import hamming64

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            ids, payloads = [], []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                b0 = t.encode("utf-8") or b"x"
                b = (b0 * (768 * 3 // len(b0) + 1))[: 768 * 3]
                frames = [
                    mm_ops.encode_bmp(16, 16, b[j * 768 : (j + 1) * 768]) for j in range(3)
                ]
                ids.append(int(i))
                payloads.append(mm_ops.encode_mjb(frames, frame_ms=40))
                if int(i) % 4 == 3:
                    bright = bytes(min(255, x + 12) for x in b)
                    tframes = [
                        mm_ops.encode_bmp(16, 16, bright[j * 768 : (j + 1) * 768])
                        for j in range(3)
                    ]
                    ids.append(int(i) + 100_000)
                    payloads.append(mm_ops.encode_mjb(tframes, frame_ms=40))
            yield pd.DataFrame({"media_id": ids, "kind": "video", "payload": payloads})

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    frames = mm_ops.frame_sample(media, every_n=1).select(
        "media_id", "frame_idx", F.col("frame").alias("payload"), F.lit("image").alias("kind")
    )
    hashes = mm_ops.image_phash(
        frames.select("media_id", "kind", "payload", "frame_idx").withColumnRenamed(
            "media_id", "vid"
        ).withColumn("media_id", F.col("vid") * 1000 + F.col("frame_idx"))
    ).select(
        (F.col("media_id") / 1000).cast("long").alias("vid"),
        (F.col("media_id") % 1000).cast("int").alias("frame_idx"),
        "phash",
    )
    a = hashes.select(F.col("vid").alias("id1"), "frame_idx", F.col("phash").alias("h1"))
    b = hashes.select(F.col("vid").alias("id2"), "frame_idx", F.col("phash").alias("h2"))
    return (
        a.join(b, "frame_idx")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(
            F.count("*").alias("n_frames"),
            F.max(hamming64("h1", "h2")).alias("max_dist"),
        )
        .filter((F.col("n_frames") == 3) & (F.col("max_dist") <= 6))
    )


def q_multimodal_resize(spark, sf_dir):
    """Multimodal preprocessing chain: text → 4×4 BMP → REAL
    nearest-neighbour resize to 2×2 (multimodal.resize_bmp, pure numpy
    index arithmetic) → decode of the RESIZED payload.  Rows-only like
    multimodal_decode (binary payloads have no SQL oracle); pixel-exact
    resize behaviour is locked in tests/test_multimodal.py."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for t in pdf["text"]:
                b = t.encode("utf-8")[:48]
                payloads.append(mm_ops.encode_bmp(4, 4, b + bytes(48 - len(b))))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": "image", "payload": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    small = mm_ops.resize_images(media, 2, 2)
    feats = mm_ops.extract_features(small, fake=False)
    return feats.select(
        "media_id",
        F.col("features")[1].cast("int").alias("width"),
        F.col("features")[2].cast("int").alias("height"),
        F.round(F.col("features")[4], 4).alias("mean_b"),
        F.round(F.col("features")[5], 4).alias("mean_g"),
        F.round(F.col("features")[6], 4).alias("mean_r"),
    )


def q_kmeans(spark, sf_dir):
    """Spherical k-means (2 Lloyd rounds, k=8) over the embedding table —
    deterministic via first-k init, cosine-argmax with id tiebreak, and
    6-dp centroid quantization per round (similarity.kmeans_lloyd
    docstring).  Output: one row per (cluster_id, dim) centroid component
    plus cluster size."""
    return sim_ops.kmeans_lloyd(_t(spark, sf_dir, "embeddings"), k=8, iters=2)


def q_corpus_report(spark, sf_dir):
    """Per-source corpus data card (text.corpus_report): volume, exact-
    duplicate rate, dominant language — one row per source, the
    curator's first table on a new crawl; composes the profiling
    primitives in two grouped passes."""
    return text_ops.corpus_report(_t(spark, sf_dir, "documents"))


def q_quantile_normalize(spark, sf_dir):
    """Cross-source score calibration (sampling.quantile_normalize): each
    doc's n_chars becomes its percent-rank WITHIN its source — the step
    that makes per-source quality thresholds comparable.  Rank is
    computed on the (source, value) distinct-value table and joined
    back, so the row table never sorts; oracle is plain SQL
    percent_rank."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    return samp_ops.quantile_normalize(
        _t(spark, sf_dir, "documents"), "source", "n_chars"
    )


def q_temperature_mix(spark, sf_dir):
    """α-temperature source re-balancing (sampling.temperature_mix, the
    XLM-R multilingual sampling rule, α=0.3): sampling shares q ∝ p^0.3
    derived from the corpus itself lift low-resource sources toward
    uniform without per-source configuration.  Hash-gated membership;
    rate rounded 9 dp before the integer gate so pow() last-ulp noise
    can't flip a boundary doc.  Aggregated per source for the gate."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    kept = samp_ops.temperature_mix(
        _t(spark, sf_dir, "documents"), alpha=0.3, target_total=200
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("n_chars").alias("total_chars")
    )


def q_winsorize(spark, sf_dir):
    """Per-type winsorization of the event value column
    (sampling.winsorize): clip to the exact [p01, p99] group
    percentiles — the outlier-robust prep step before any mean-based
    metric.  Exact percentile ↔ quantile_cont, bounds broadcast back,
    rows never sort."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return samp_ops.winsorize(
        ev, "event_type", "value", p_lo=0.01, p_hi=0.99, id_col="event_id"
    )


def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift per event_type
    (profile.ks_drift): first-week values as the reference, the rest of
    the month as current — the exact sup-distance companion to the PSI
    monitors (catches within-bin shape drift, carries the classic
    1.358·sqrt((n+m)/nm) 5% threshold).  ECDFs computed on the
    (key, value) distinct-count table; raw rows never sort."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts_ms", "value")
    ref = ev.where(F.col("ts_ms") < F.lit(T1 + 7 * 24 * MS_H))
    cur = ev.where(F.col("ts_ms") >= F.lit(T1 + 7 * 24 * MS_H))
    from time_series_databse_engine_spark.operators import profile as profile_ops

    return profile_ops.ks_drift(ref, cur, "event_type", "value")


def q_kanon_suppress(spark, sf_dir):
    """k-anonymity release gate (profile.kanon_suppress, Sweeney 2002)
    over the per-(user, event_type) activity report: cells observed in
    fewer than 5 events collapse into one '*' residual row, so the
    published table isolates no small cohort while keeping the grand
    total invariant.  One group-keyed aggregate + a tiny re-aggregate
    of the suppressed side."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id"), "event_type", "value"
    )
    from time_series_databse_engine_spark.operators import profile as profile_ops

    return profile_ops.kanon_suppress(
        ev, ["user_id", "event_type"], k=5, agg_col="value"
    )


def q_rolling_corr(spark, sf_dir):
    """Trailing-24h correlation between the error and purchase series on
    hourly buckets (timeseries.rolling_corr) — the time-local coupling
    monitor; both series collapse map-side before the calendar-bounded
    RANGE finish window."""
    return ts_ops.rolling_corr(
        _t(spark, sf_dir, "events"),
        "event_type",
        "error",
        "purchase",
        MS_H,
        window_buckets=24,
        min_overlap=12,
    )


def q_token_entropy(spark, sf_dir):
    """Per-doc token-distribution Shannon entropy + type/token ratio
    (text.token_entropy): the repetitiveness quality feature — looping
    machine text scores low entropy for its length."""
    return text_ops.token_entropy(_t(spark, sf_dir, "documents"))


def q_pmi_collocations(spark, sf_dir):
    """Top bigram collocations by pointwise mutual information
    (text.pmi_collocations): the statistically-bound pairs raw frequency
    buries under stopword bigrams — tokenizer merge candidates and
    frozen-collocation boilerplate markers.  min_count=5 kills PMI's
    rare-pair explosion; ln of exact-integer ratios rounded 6 dp."""
    return text_ops.pmi_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=50
    )


def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM document quality score (perplexity-proxy filter): mean
    add-one-smoothed token log-probability under the corpus's own unigram
    model (text.unigram_logprob docstring)."""
    return text_ops.unigram_logprob(_t(spark, sf_dir, "documents"))


def q_bigram_logprob(spark, sf_dir):
    """Interpolated bigram-LM document score — the word-ORDER-aware rung
    above the unigram filter (text.bigram_logprob docstring: 0.7·P_bi +
    0.3·P_uni, both add-one-smoothed on the corpus itself)."""
    return text_ops.bigram_logprob(_t(spark, sf_dir, "documents"))


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-vocab OOV report per source (text.vocab_coverage,
    vocab_size=16 of the corpus's ~31 types so the OOV tail is real):
    token/type coverage of the deterministic top-k vocab — one corpus
    explode, k-heap vocab, broadcast tag join, source-keyed finish."""
    return text_ops.vocab_coverage(
        _t(spark, sf_dir, "documents"), vocab_size=16
    )


def q_quality_classifier(spark, sf_dir):
    """Model-based quality filter served from pinned weights
    (text.classifier_score + fixtures/quality_weights.py): a fastText-
    style linear classifier over 64-dim hashed BoW features — the
    GPT-3/LLaMA crawl-filtering step, in the train-once/serve-many shape
    of semantic_dedup_served.  Serving plan: hashing_vectorize's one
    explode + (id, bucket) count + norm window, then an array-LITERAL
    weight lookup (no join) and one id-keyed dot-product aggregate."""
    from time_series_databse_engine_spark.fixtures.quality_weights import (
        BIAS,
        WEIGHTS,
    )

    return text_ops.classifier_score(
        _t(spark, sf_dir, "documents"), WEIGHTS, bias=BIAS
    )


def q_kn_bigram_logprob(spark, sf_dir):
    """Kneser-Ney bigram-LM document score — the KenLM-grade smoothing
    rung above bigram_logprob's add-one mixture (text.kn_bigram_logprob
    docstring: absolute discount D=0.75, continuation-count backoff)."""
    return text_ops.kn_bigram_logprob(_t(spark, sf_dir, "documents"))


def q_chunk_dedup(spark, sf_dir):
    """Chunk-level exact dedup + reconstruction (dedup.chunk_dedup):
    20-token chunks, first corpus-wide occurrence survives, documents
    rebuilt from surviving chunks in order."""
    return dedup_ops.chunk_dedup(_t(spark, sf_dir, "documents"), chunk_size=20)


def q_mixture_sample(spark, sf_dir):
    """Domain-mixture rebalancing (sampling.mixture_sample): hash-gated
    downsampling of four sources toward a 30/30/20/20 mixture of a
    40-doc target; groups too small to fill their quota keep everything,
    unlisted sources drop.  Aggregated to per-source kept counts."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    docs = _t(spark, sf_dir, "documents")
    kept = samp_ops.mixture_sample(
        docs,
        {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.2},
        target_total=40,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("n_chars").alias("total_chars")
    )


def q_upsample_mixture(spark, sf_dir):
    """Epoch-repeat upsampling toward a target mixture
    (sampling.upsample_with_replacement): small high-value domains get
    ⌊rate⌋ copies + a hash-gated fractional copy; unlisted sources keep
    one copy.  Aggregated to per-source row/doc counts."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    docs = _t(spark, sf_dir, "documents")
    up = samp_ops.upsample_with_replacement(
        docs, {"src0": 0.5, "src1": 0.3}, target_total=300
    )
    return up.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def q_cms_topk(spark, sf_dir):
    """Heavy-hitter tokens via a count-min sketch (sketches.cms_topk:
    depth 4 x width 256 md5-hashed counter grid, estimate = min over
    rows, top-20 by estimate with the true count beside it).  width=256
    keeps the oracle's hex->int at a 2-hex-char strpos fold."""
    docs = _t(spark, sf_dir, "documents")
    # spread the doc scan BEFORE the token explode (cheap: doc rows) so
    # the counter build and the distinct-item count run wide — inside
    # cms_topk the stream is already exploded and a repartition there
    # would sort-shuffle every token row (measured slower)
    toks = _parallelize(docs).select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), "\\s+"), lambda t: t != "")
        ).alias("item")
    )
    return sketch_ops.cms_topk(toks, "item", k=20, depth=4, width=256)


def q_kmv_users_by_type(spark, sf_dir):
    """Distinct-user estimate per event type via a KMV/theta sketch
    (sketches.kmv_sketches + kmv_estimate: 64 smallest md5 hashes of the
    distinct users; estimate (k-1)/h_k, exact below k).  Deterministic
    hash family means the oracle replays the sketch EXACTLY — unlike
    HLL, whose binary state is engine-private (hll_distinct_daily is
    rows-only for that reason)."""
    ev = _t(spark, sf_dir, "events")
    sk = sketch_ops.kmv_sketches(ev, ["event_type"], "user_id", k=64)
    return sketch_ops.kmv_estimate(sk, ["event_type"], k=64)


def q_kmv_overlap(spark, sf_dir):
    """Audience overlap of view-vs-click users from two KMV sketches
    (sketches.kmv_set_ops, Beyer et al. 2007): union estimate from the
    combined k-min sketch, intersection = observed-overlap fraction x
    union — the set operation HLL cannot do.  The whole computation
    touches <=2k hashes however large the raw corpus; oracle rebuilds
    both sketches and the combined estimator in SQL."""
    ev = _t(spark, sf_dir, "events")
    va = sketch_ops.kmv_sketches(
        ev.filter(F.col("event_type") == "view"), [], "user_id", k=64
    )
    cb = sketch_ops.kmv_sketches(
        ev.filter(F.col("event_type") == "click"), [], "user_id", k=64
    )
    return sketch_ops.kmv_set_ops(va, cb, k=64)


def q_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-10 fused with embedding-cosine
    top-10 (query vector = vec_id 0) by reciprocal rank fusion
    (text.rrf_fuse, Cormack 2009, k=60).  documents and embeddings
    share the id space, so this is the RAG hybrid-search shape:
    rank-based fusion needs no score calibration; with two lists the
    fused sum is one IEEE addition, exactly oracle-reproducible."""
    from time_series_databse_engine_spark.operators.similarity import (
        as_double,
        cosine,
    )

    docs = _t(spark, sf_dir, "documents")
    lex = text_ops.bm25_search(docs, "the quick data model", k=10)
    wl = W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex_r = lex.withColumn("rank", F.row_number().over(wl))

    emb = _t(spark, sf_dir, "embeddings")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(as_double("embedding").alias("qv"))
    )
    sem = (
        emb.select(F.col("vec_id").alias("doc_id"), as_double("embedding").alias("v"))
        .crossJoin(qv)
        .select("doc_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos"))
    )
    # k-heap top-10 FIRST (TakeOrderedAndProject — no single-partition
    # corpus-wide window), then rank only the 10 survivors; ties broken
    # by doc_id so the limit and the rank agree deterministically.
    ws = W.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    sem_r = (
        sem.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn("rank", F.row_number().over(ws))
    )
    return text_ops.rrf_fuse([lex_r.select("doc_id", "rank"), sem_r.select("doc_id", "rank")])


def q_pq_ann_topk(spark, sf_dir):
    """ADC top-5 over product-quantized codes (similarity.pq_topk, Jégou
    2011): 4 subspaces x 16 hash-sampled centroids; candidates scanned
    as ~2-byte codes instead of 512-byte vectors (the PQ bandwidth
    claim), distance = exact-query-vs-reconstruction squared L2 via the
    order-fixed 3-dot identity.  Oracle replays codebook, encoding
    argmin, reconstruction, and ranking."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.pq_topk(emb, emb.filter(F.col("vec_id") < 5), k=5, m=4, ks=16)


def q_weighted_sample(spark, sf_dir):
    """50 documents sampled without replacement with P ∝ n_chars
    (sampling.weighted_sample, Efraimidis-Spirakis exponential race,
    hash-derandomized uniforms): one k-heap TakeOrderedAndProject,
    zero shuffles."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return samp_ops.weighted_sample(docs, k=50, weight_col="n_chars")


def q_stl_anomaly(spark, sf_dir):
    """Seasonal-aware anomalies (timeseries.stl_anomalies): MAD threshold
    on the STL residual, so periodic structure never alarms — the
    S-H-ESD composition of stl_decompose + mad_anomalies."""
    return ts_ops.stl_anomalies(
        _t(spark, sf_dir, "events").select("event_type", "ts_ms", "value"),
        ["event_type"],
    )


def q_c4_rules(spark, sf_dir):
    """C4-style per-rule quality flags + keep decision (text.c4_rule_filter,
    Raffel 2020 §2.2): min words, terminal punctuation, no brace, no
    boilerplate phrase, mean-word-length band.  One scan, zero shuffles;
    per-rule booleans make drop rates auditable."""
    return text_ops.c4_rule_filter(_t(spark, sf_dir, "documents"))


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention grid (timeseries.cohort_retention): users
    cohorted by first-event week, (cohort, offset) cells count active
    members / cohort size.  All exchanges are user- or cohort-keyed;
    the distinct(user, period) pre-dedup makes the cell count a plain
    count(*)."""
    return ts_ops.cohort_retention(
        _t(spark, sf_dir, "events"), period_ms=604_800_000
    )


def q_ohlc_1h(spark, sf_dir):
    """OHLC candlestick bars: 1h buckets per series (min_by/max_by on a
    row_number total order — deterministic under timestamp ties)."""
    return ts_ops.ohlc_bars(
        _t(spark, sf_dir, "events"), MS_H, ["event_type"], tiebreak=["event_id"]
    )


def q_counter_rate_1h(spark, sf_dir):
    """PromQL-style counter increase/rate per series per hour, with
    counter-reset detection (value < previous → restart from zero)."""
    return ts_ops.counter_rate(
        _t(spark, sf_dir, "events"), MS_H, ["event_type"], ["ts_ms", "event_id"]
    )


def q_decayed_topk(spark, sf_dir):
    """Exponentially time-decayed trending leaderboard: top-20 users by
    half-life-weighted event mass (timeseries.decayed_topk, 1-day half
    life anchored at the corpus max ts) — one map-side partial agg + a
    k-heap TakeOrderedAndProject on the rounded score."""
    return ts_ops.decayed_topk(
        _t(spark, sf_dir, "events"), ["user_id"], half_life_ms=86_400_000, k=20
    )


def q_xcorr_lagged(spark, sf_dir):
    """Lead/lag dependency probe (timeseries.xcorr_lagged): cross-
    correlation between every ordered pair of event_type series on
    hourly buckets at lags -3h..+3h — does one metric's spike lead
    another's?  Raw rows collapse to (series, hour) map-side FIRST, so
    the pair-lag fan-out runs on a table whose size is invariant to the
    raw row count.  Oracle replays bucket-avg -> lag-shifted equi-join
    -> corr in SQL, both engines rounding 6 dp."""
    return ts_ops.xcorr_lagged(
        _t(spark, sf_dir, "events"), "event_type", MS_H, max_lag=3, min_overlap=24
    )


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per series (timeseries.theil_sen_trend):
    median-of-pairwise-slopes on hourly bucket means — 29% breakdown
    point, so outlier bursts cannot swing the trend OLS-style.
    Quadratic in calendar buckets, never in raw rows."""
    return ts_ops.theil_sen_trend(
        _t(spark, sf_dir, "events"), ["event_type"], MS_H
    )


def q_burn_rate(spark, sf_dir):
    """Multi-window SLO burn-rate alerting (timeseries.slo_burn_rate, the
    SRE-workbook fast+slow window rule): hourly error-budget burn with a
    trailing-6h confirmation window, alert only when both exceed 1.2x —
    treating event_type='error' as the failed request marker against a
    75% SLO.  Raw rows collapse map-side to the hourly table before the
    (deliberately tiny) unpartitioned trailing window."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "is_err", F.col("event_type") == F.lit("error")
    )
    return ts_ops.slo_burn_rate(ev, "is_err", slo=0.75, long_buckets=6)


def q_scd2_build(spark, sf_dir):
    """Kimball SCD type-2 dimension build (timeseries.scd2_build): each
    user's event_type run history as [valid_from, valid_to) rows with
    is_current + version — the warehouse dimension pattern done as two
    key-partitioned window passes (boundary detect on the raw log,
    validity/version on change rows only) instead of MERGE loops."""
    return ts_ops.scd2_build(
        _t(spark, sf_dir, "events"), "user_id", "event_type", ["ts_ms", "event_id"]
    )


def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted (LOCF step-integration) average per series over the
    first week — the TimescaleDB time_weight('LOCF') semantics."""
    return ts_ops.time_weighted_avg(
        _t(spark, sf_dir, "events"), ["event_type"], T1, WEEK_END, tiebreak=["event_id"]
    )


def q_zscore_anomaly(spark, sf_dir):
    """Anomaly detection: rows > 3 sigma from the trailing-100-row mean of
    their series (baseline excludes the current row)."""
    df = ts_ops.zscore_anomalies(
        _t(spark, sf_dir, "events"), ["event_type"], ["ts_ms", "event_id"]
    )
    return df.select("event_id", "event_type", "zscore")


def q_moving_avg_chunked(spark, sf_dir):
    """Scale form of moving_avg_time — the RANGE-frame member of the
    chunk-parallel family (timeseries.moving_avg_time_chunked): rows in
    the target chunk's trailing window_ms strip copied forward as
    non-emitting context (≤ window/chunk fan-out, ~0.3% duplicates at
    the 5min/1day defaults), heavy window re-keyed to (key, day-chunk).
    Row-identical to moving_avg_time; oracle shared verbatim."""
    df = ts_ops.moving_avg_time_chunked(_t(spark, sf_dir, "events"), ["event_type"])
    return df.select("event_id", "event_type", "mov_avg_time", "n_in_window")


def q_zscore_chunked(spark, sf_dir):
    """Scale form of zscore_anomaly for LOW-CARDINALITY series keys
    (events has 5 event_types — the plain window sorts each on ONE task
    at 100 TB): timeseries.zscore_anomalies_chunked partitions the heavy
    window by (key, day-chunk) and feeds cross-boundary frames the
    previous chunks' tail rows as non-emitting context, exact for thin
    chunks.  Row-identical to zscore_anomaly by construction — the
    oracle is shared verbatim, result identity being the check (the
    ewma_chunked discipline)."""
    df = ts_ops.zscore_anomalies_chunked(
        _t(spark, sf_dir, "events"), ["event_type"], ["ts_ms", "event_id"]
    )
    return df.select("event_id", "event_type", "zscore")


def q_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation per series: corr(value, lag(value))."""
    return ts_ops.autocorrelation(
        _t(spark, sf_dir, "events"), ["event_type"], ["ts_ms", "event_id"], lag=1
    )


def q_moving_avg_time(spark, sf_dir):
    """Time-range (not row-count) trailing moving average: 5-minute RANGE
    frame on the ms axis per series."""
    df = ts_ops.moving_avg_time(
        _t(spark, sf_dir, "events"), ["event_type"], window_ms=300_000
    )
    return df.select("event_id", "event_type", "mov_avg_time", "n_in_window")


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join, date predicates both sides of the cutoff,
    revenue top-10 with full deterministic tiebreak."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(c), F.col("o_custkey") == F.col("c_custkey")
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    return (
        agg.orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_hll_distinct_daily(spark, sf_dir):
    """Mergeable HLL rollup: per-(day, series) user sketches unioned into a
    per-series distinct estimate — ORACLE-BACKED since r10 via the
    profiler's deterministic md5-register HLL
    (sketches.hll_register_daily/_estimate): every register is an
    integer DuckDB replays bit-for-bit, so the daily-rollup→range-union
    pattern sits under the value-hash gate instead of rows-only.  The
    DataSketches binary-sketch variant (hll_daily_sketches/hll_estimate,
    native mergeable state) remains the at-scale alternative,
    pytest-anchored at <5% error in test_sketches_upsert_bucketing; the
    xxhash64 register config is the production hash, same twin policy
    as column_profile."""
    ev = _t(spark, sf_dir, "events")
    sk = sketch_ops.hll_register_daily(ev, ["event_type"], "user_id")
    return sketch_ops.hll_register_estimate(sk, ["event_type"])


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals: duplicate-word / top-word /
    duplicate-bigram fractions per document."""
    return text_ops.repetition_stats(_t(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per doc (smoothed idf; rounded-score ranking)."""
    return text_ops.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: 5-gram overlap of training docs
    (doc_id % 20 != 0) against the held-out benchmark slice (% 20 == 0)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.contamination_overlap(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        n=5,
    )


def q_pack_sequences(spark, sf_dir):
    """First-fit-decreasing sequence packing into 512-token bins per hash
    group (greedy bin packing via applyInPandas).  md5 group hash + an
    explicit regexp token count make every step ANSI-SQL-reproducible, so
    the greedy placement hash-compares against a recursive-CTE oracle that
    replays first-fit doc by doc; capacity/determinism invariants in
    tests/test_packing.py."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tok", F.size(F.expr(r"regexp_extract_all(text, '[^\\s]+', 0)"))
    )
    return packing_ops.pack_sequences(
        docs, max_tokens=512, num_groups=8, token_col="n_tok", group_hash="md5"
    )


def q_ewma(spark, sf_dir):
    """Batch EWMA per series (pandas ewm recursion via applyInPandas —
    not SQL-expressible → rows-only check; exactness covered by
    tests/test_timeseries.py against the closed-form recursion)."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.ewma(e, "event_type", alpha=0.3, tiebreak="event_id")


def q_resample_1m_expr(spark, sf_dir):
    """resample_1m re-expressed as pure JVM expressions (grid union +
    bracketing-observation windows — no Python boundary, no per-series
    memory bound); same dedup pre-step and the same ASOF+lerp oracle as
    the applyInPandas form."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    dedup = e.groupBy("event_type", "ts_ms").agg(F.min("value").alias("value"))
    return ts_ops.resample_interpolate_expr(dedup, "event_type", 60_000)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup cluster-scoped embedding dedup (similarity.semantic_dedup,
    Abbas 2023): nearest-of-16 hash-sampled cells, within-cell cosine ≥
    0.3 (exercises the drop rule: ~30%/62% of rows dropped at
    sf0.01/sf0.1; at ≥0.5 the few true pairs all straddle cells), keep
    the min id of each duplicate chain.  Oracle replays the
    identical assignment (csim DESC, cell_id ASC rank-1) and pair rule.
    Cell count comes from ``ann_params_for(corpus size)`` (cells ∝ N
    keeps expected cell size constant; resolves to the oracle's 16 at
    the oracle SFs)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.semantic_dedup(
        emb, threshold=0.3, n_cells=sim_ops.ann_params_for(emb.count())["n_cells"]
    )


def q_semantic_dedup_trained(spark, sf_dir):
    """SemDeDup with TRAINED cells: kmeans_lloyd(k=8, 2 rounds) centroids
    flow through kmeans_centroids_as_cells into semantic_dedup's cell
    assignment — the end-to-end proof the kmeans→SemDeDup composition
    holds under the oracle (the SQL unrolls both Lloyd rounds, rebuilds
    the centroid lists from the long-form output, and replays the
    identical assignment and drop rule)."""
    emb = _t(spark, sf_dir, "embeddings")
    cells = sim_ops.kmeans_centroids_as_cells(sim_ops.kmeans_lloyd(emb, k=8, iters=2))
    # guard=False: the codebook is trained IN this query (no stale-pin
    # drift to catch) and counting `cells` for the guard would run the
    # whole Lloyd lineage a second time at plan-build; k=8 is pinned
    # because the oracle SQL unrolls exactly two k=8 Lloyd rounds.  The
    # served twin (q_semantic_dedup_served) keeps the guard on.
    return sim_ops.semantic_dedup(emb, threshold=0.3, cells=cells, guard=False)


def q_semantic_dedup_served(spark, sf_dir):
    """SemDeDup with PINNED trained cells — the production SERVE shape
    (VERDICT r7 #4, the pca_project trick applied to clustering): at
    100 TB you run Lloyd ONCE offline and pin the centroids;
    re-training inside every dedup query (the `semantic_dedup_trained`
    lifecycle demo) drags ~34 shuffles of training lineage through each
    run.  The committed fixtures/kmeans_cells.py codebook feeds
    semantic_dedup's assignment directly — zero training lineage, and
    because the centroids are literals the oracle replays the identical
    assignment + within-cell drop rule, making the served path
    HASH-GATED (the trained twin keeps the dynamic lifecycle).

    Sizing (VERDICT r9 #1 → re-scoped r10 #2): within-cell pair cost is
    quadratic in cell size, and NO single pinned k is right at every
    scale — so the fixture now carries ONE CODEBOOK PER SERVED CORPUS
    SIZE (k = auto_n_cells(|corpus|): 8 at the 500-row gate scale, 16
    at sf0.1, 157 at sf1, 469 at sf3), selected here by sf_dir.  Mean
    cell stays at the 128-row target everywhere, so the bench measures
    the CORRECT production recipe at each scale instead of a drifting
    pin.  semantic_dedup's guard counts the book, and past k=32 its
    assignment switches to the BLAS pandas_udf path (the interpreted
    fold is O(N·k·d)); the hash-gated scales keep the fold for
    bit-exact oracle parity.  The guard also checks the corpus size:
    a corpus outgrowing ANY pin past 4× the target warns with the
    auto_n_cells re-train k; past 16× it refuses."""
    from time_series_databse_engine_spark.fixtures.kmeans_cells import cells_for

    book = cells_for(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    cells = spark.createDataFrame(
        [(cid, c) for cid, c in book], "cell_id long, cent array<double>"
    ).withColumn("cent_n", sim_ops.norm(F.col("cent")))
    return sim_ops.semantic_dedup(emb, threshold=0.3, cells=cells)


def _semantic_dedup_served_oracle_sql() -> str:
    """Same assignment/drop CTEs as the semantic_dedup oracle, with the
    cents CTE built from the committed centroid literals (VALUES rows),
    so the SQL replays exactly what the pinned codebook serves.  The
    literals are the GATE-SCALE book (cells_for(sf0.01)) — the driver
    compares at sf0.01, where the Spark side selects the same book."""
    from time_series_databse_engine_spark.fixtures.kmeans_cells import cells_for

    rows = ",\n              ".join(
        "(%d, [%s]::DOUBLE[])" % (cid, ", ".join(repr(x) for x in c))
        for cid, c in cells_for("/root/testdata/sf0.01")
    )
    return f"""
        WITH cents(cell_id, cent) AS (VALUES
              {rows}),
        e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        a AS (SELECT id, v, cell_id FROM (
          SELECT id, v, cell_id,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY csim DESC, cell_id ASC) AS r
          FROM (SELECT id, v, cell_id,
                       list_dot_product(v, cent) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent, cent))) AS csim
                FROM e, cents)) WHERE r = 1),
        dropped AS (SELECT DISTINCT a2.id FROM a a1 JOIN a a2 USING (cell_id)
                    WHERE a1.id < a2.id
                      AND list_dot_product(a1.v, a2.v) /
                          (sqrt(list_dot_product(a1.v, a1.v)) *
                           sqrt(list_dot_product(a2.v, a2.v))) >= 0.3)
        SELECT a.id AS vec_id, a.cell_id FROM a
        WHERE a.id NOT IN (SELECT id FROM dropped)"""


def q_ewma_chunked(spark, sf_dir):
    """Chunk-and-chain EWMA — identical semantics to q_ewma with bounded
    per-worker memory (6 h chunks force multi-chunk series at every SF);
    shares the ewma recursive-CTE oracle verbatim."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.ewma_chunked(
        e, "event_type", alpha=0.3, chunk_ms=21_600_000, tiebreak="event_id"
    )


def q_holt_chunked(spark, sf_dir):
    """Chunk-and-chain Holt smoothing — 2-dim state chained via 2×2
    matrix powers, identical semantics to q_holt with bounded per-worker
    memory (6 h chunks); shares the holt_smoothing recursive-CTE oracle."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.holt_chunked(
        e, "event_type", alpha=0.5, beta=0.2, chunk_ms=21_600_000, tiebreak="event_id"
    )


def q_gapfill_locf(spark, sf_dir):
    """LOCF gap-fill onto a 5-minute grid per event_type (TimescaleDB
    time_bucket_gapfill+locf parity) — pure built-in ops: sequence/explode
    grid + last(ignorenulls) window; oracle is a DuckDB ASOF LEFT JOIN."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.gapfill_locf(e, "event_type", step_ms=300_000)


def q_lttb(spark, sf_dir):
    """LTTB visualization downsampling to 50 points per series
    (TimescaleDB lttb hyperfunction parity; Steinarsson 2013).  The
    sequential per-bucket pick recursion is replayed exactly by a DuckDB
    recursive CTE, so this hash-compares despite being applyInPandas."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.lttb(e, "event_type", n_out=50)


def q_lttb_chunked(spark, sf_dir):
    """Bounded-memory LTTB: 6-hour chunks picked independently with
    proportional quotas (per-chunk re-anchoring) — the billion-point
    mitigation for exact lttb's whole-series worker requirement.  The
    oracle threads the chunk key and its quota through the same
    recursive CTE the exact oracle uses."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.lttb_chunked(e, "event_type", n_out=48, chunk_ms=21_600_000)


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicate 8-token spans (window-granular exact
    substring dedup signal, Lee et al. 2021) — one gram-partition count
    window, one doc aggregation."""
    return dedup_ops.duplicate_spans(_t(spark, sf_dir, "documents"), n=8)


def q_funnel(spark, sf_dir):
    """view → click → purchase funnel per user within 24 h of the first
    view (timeseries.funnel, earliest-anchor semantics); oracle replays
    the three user-keyed min chains."""
    e = _t(spark, sf_dir, "events")
    return ts_ops.funnel(
        e, ["view", "click", "purchase"], within_ms=86_400_000
    )


def q_bpe_pairs(spark, sf_dir):
    """Top-20 adjacent character pairs over the word-frequency table —
    BPE's first merge-candidate count (text.bpe_pair_counts); the pair
    stage is vocab-sized regardless of corpus size."""
    return text_ops.bpe_pair_counts(_t(spark, sf_dir, "documents"), k=20)


def q_group_kfold(spark, sf_dir):
    """Leakage-safe 5-fold CV assignment over events grouped by user —
    every user's events share one fold (sampling.group_kfold: fold =
    md5(user) mod k, growth/retry-invariant unlike sklearn GroupKFold).
    Output is per-(user, fold) event counts: a user straddling folds
    would split into extra rows and fail the gate's row-count compare."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    ev = _t(spark, sf_dir, "events")
    return (
        samp_ops.group_kfold(ev, k=5, group_col="user_id")
        .groupBy("user_id", "fold")
        .agg(F.count("*").alias("n_events"))
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split counts per split — membership
    keyed on md5(doc_id) hex ranges so assignment survives retries and
    corpus growth (sampling.hash_split: val=1/16, test=1/16)."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    docs = _t(spark, sf_dir, "documents")
    return (
        samp_ops.hash_split(docs, val_16ths=1, test_16ths=1)
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic seeded global shuffle for training export
    (sampling.epoch_shuffle, seed=1, 8 shards): order key =
    md5(seed||'-'||id), shard = first-8-hex int % 8 (one uniform-hash
    exchange), pos = in-shard rank — the (shard, pos) pair IS the global
    epoch order, reproducible across retries/engines with no global
    sort ever materializing."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    docs = _t(spark, sf_dir, "documents")
    return samp_ops.epoch_shuffle(docs, n_shards=8, seed=1)


def q_snapshot_delta(spark, sf_dir):
    """Corpus snapshot diff (sampling.snapshot_delta): what an
    incremental pipeline must reprocess after a crawl refresh.  Old
    snapshot = docs with id % 10 != 0; new = docs with id % 7 != 3 and
    every id % 5 == 0 doc revised (text + ' rev2') — so all three delta
    classes (added/removed/changed) are exercised.  Only (id, md5
    digest) pairs cross the full-outer-join wire, never text."""
    from time_series_databse_engine_spark.operators import sampling as samp_ops

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = docs.filter(F.col("doc_id") % 7 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        ).otherwise(F.col("text")),
    )
    return samp_ops.snapshot_delta(old, new, content_cols=["text"])


def q_hist_sketch_daily(spark, sf_dir):
    """Mergeable fixed-bin histogram sketch table per (day, series) —
    unlike the HLL binary state these are exact integer bin counts, so
    the whole sketch table is oracle-checkable (sketches.histogram_
    sketches; [0, 500) in 64 bins)."""
    e = _t(spark, sf_dir, "events")
    return sketch_ops.histogram_sketches(e, ["event_type"], lo=0.0, hi=500.0, bins=64)


def q_sketch_percentile(spark, sf_dir):
    """p95 per series estimated ONLY from the merged histogram sketches —
    the any-range-percentile-without-raw-rescan pattern; the midpoint
    estimator is exact SQL so the oracle replays it verbatim (accuracy vs
    the true percentile is test-asserted at half a bin width)."""
    e = _t(spark, sf_dir, "events")
    s = sketch_ops.histogram_sketches(e, ["event_type"], lo=0.0, hi=500.0, bins=64)
    return sketch_ops.percentile_from_sketches(
        s, ["event_type"], q=0.95, lo=0.0, hi=500.0, bins=64
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights with lang='en' as the target domain
    (text.dsir_importance_weights): mean ln P_target(t) − ln P_raw(t)
    per doc under two add-one unigram LMs; oracle rebuilds both
    frequency tables and the smoothed-floor left join."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.dsir_importance_weights(docs, F.col("lang") == "en")


def q_dup_span_ranges(spark, sf_dir):
    """MAXIMAL cross-doc duplicate token ranges (gaps-and-islands merge of
    consecutive duplicated 8-gram starts — dedup.duplicate_span_ranges);
    oracle replays the min!=max cross-doc flag and the p - row_number()
    run grouping."""
    return dedup_ops.duplicate_span_ranges(_t(spark, sf_dir, "documents"), n=8)


def q_holt(spark, sf_dir):
    """Holt level+trend smoothing per series (α=0.5, β=0.2) — the
    recursive-CTE oracle replays both coupled recursions step by step."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.holt_smoothing(
        e, "event_type", alpha=0.5, beta=0.2, tiebreak="event_id"
    )


def q_holt_winters(spark, sf_dir):
    """Holt-Winters additive triple smoothing (α=1/3, β=1/6, γ=1/7,
    m=24) on the hourly-mean series — the oracle's recursive CTE
    carries the seasonal history as a LIST in its recursion state.
    The constants are deliberately NON-DECIMAL (full-mantissa doubles):
    with 6-dp inputs and dyadic/decimal α, the recursion lands exactly
    on 6-dp round midpoints where np.round (half-even) and SQL round
    (half-away) disagree; full-entropy constants push midpoint
    probability to ~1e-10."""
    hourly = (
        _t(spark, sf_dir, "events")
        .groupBy(
            "event_type", (F.col("ts_ms") / 3600000).cast("long").alias("bucket")
        )
        .agg(
            # exact-integer bucket mean (values are 2-dp): float avg is
            # sum-order dependent and cross-engine drift lands some 6-dp
            # rounds on boundaries at sf0.1 series lengths
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                / F.count("*")
                / F.lit(100.0),
                6,
            ).alias("y")
        )
    )
    return ts_ops.holt_winters(
        hourly, "event_type", alpha=1 / 3, beta=1 / 6, gamma=1 / 7, period=24
    )


def q_mad_anomaly(spark, sf_dir):
    """Robust MAD-based anomaly flags (median ± 3·1.4826·MAD per series) —
    one exchange, two same-partitioning percentile windows."""
    e = _t(spark, sf_dir, "events").filter(F.col("ts_ms").between(T1, T2))
    return ts_ops.mad_anomalies(e, ["event_type"])


def q_top_ngrams(spark, sf_dir):
    """Corpus-global top-20 bigrams with total and document frequency —
    vocabulary/boilerplate profiling for tokenizer and dedup tuning."""
    return text_ops.top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


def q_media_safe_decode(spark, sf_dir):
    """Corrupt-payload resilience (the skip-and-flag column every real
    100 TB media crawl needs): documents → one payload per doc by
    ``doc_id % 5`` — BMP / PNG / baseline JPEG (healthy), a TRUNCATED
    PNG (corrupt), an MP3-magic blob (unsupported) — through
    ``extract_features_safe``: failures become (ok, err_kind) DATA
    instead of job-killing exceptions.  Oracle = the planted error
    pattern + decoded width, so the driver hash-checks that every
    payload class lands in exactly the right bucket."""
    from time_series_databse_engine_spark.operators import multimodal as mm_ops
    from time_series_databse_engine_spark.operators.jpeg import encode_jpeg

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                b = t.encode("utf-8")[:48]
                px = b + bytes(48 - len(b))
                m = int(i) % 5
                if m == 0:
                    payloads.append(mm_ops.encode_bmp(4, 4, px))
                elif m == 1:
                    payloads.append(mm_ops.encode_png(4, 4, px))
                elif m == 2:
                    payloads.append(encode_jpeg(4, 4, px, quality=95))
                elif m == 3:  # planted corruption: half the PNG gone
                    whole = mm_ops.encode_png(4, 4, px)
                    payloads.append(whole[: len(whole) // 2])
                else:  # format this container can't decode
                    payloads.append(b"ID3" + bytes(16))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": "image", "payload": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    safe = mm_ops.extract_features_safe(media)
    return safe.select(
        "media_id",
        "ok",
        "err_kind",
        F.col("features")[1].cast("int").alias("width"),
    )


def q_media_probe(spark, sf_dir):
    """Header-only media metadata at crawl scale: a mixed EIGHT-container
    corpus (BMP / PNG / PROGRESSIVE JPEG / MP3 frame chain / MP4 / junk /
    FLAC / Ogg Vorbis, planted by ``doc_id % 8``) through
    ``media_probe.probe_features`` — duration/bitrate/dimensions WITHOUT
    sample decode.  All branches are header walks over public bit formats
    (ISO 11172-3, ISO 14496-12, RFC 9639 STREAMINFO, RFC 3533 granule
    positions; image dims from IHDR/SOFn per r7 ADVICE — the progressive
    JPEG class now proves the SOFn walk, not the decoder).  Every planted
    class has deterministic metadata, so the oracle pins the whole
    expected table: MP3 208 ms (8 frames x 1152 / 44.1 kHz) + 128 kbps,
    MP4 3210 ms, FLAC 2010 ms @ 44.1 kHz, Ogg 1234 ms @ 16 kHz, and the
    skip-and-flag ok=false row for junk."""
    from time_series_databse_engine_spark.operators import media_probe as mp_ops
    from time_series_databse_engine_spark.operators import multimodal as mm_ops
    from time_series_databse_engine_spark.operators.jpeg import encode_jpeg

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                b = t.encode("utf-8")[:48]
                px = b + bytes(48 - len(b))
                m = int(i) % 8
                if m == 0:
                    payloads.append(mm_ops.encode_bmp(4, 4, px))
                elif m == 1:
                    payloads.append(mm_ops.encode_png(4, 4, px))
                elif m == 2:  # progressive JPEG: proves the SOFn header walk
                    payloads.append(encode_jpeg(4, 4, px, quality=95, progressive=True))
                elif m == 3:
                    payloads.append(mp_ops.synth_mp3(8))
                elif m == 4:
                    payloads.append(mp_ops.synth_mp4(3210))
                elif m == 6:
                    payloads.append(mp_ops.synth_flac(2010))
                elif m == 7:
                    payloads.append(mp_ops.synth_ogg_vorbis(1234))
                else:  # deterministic junk: no container magic
                    payloads.append(bytes(16))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "kind": "image", "payload": payloads}
            )

    media = docs.select("doc_id", "text").mapInPandas(
        encode, schema="media_id long, kind string, payload binary"
    )
    return mp_ops.probe_features(media).select(
        "media_id", "ok", "container", "width",
        "sample_rate", "duration_ms", "bitrate_kbps",
    )


# --------------------------------------------------------------------------
# crawl-tier web cleanup (operators/web.py): HTML strip + URL canonicalize.
# The planting expressions below are SINGLE-SOURCE: the same SQL string is
# evaluated by Spark (F.expr) AND inlined into the DuckDB oracle, so the
# differential test exercises ONLY the operator's normalize/strip logic.
# Every CAST uses the STRING alias (valid in both dialects).
# --------------------------------------------------------------------------

_HTML_PLANT = (
    "'<html><head><title>' || source || ' ' || CAST(doc_id AS STRING)"
    " || '</title><script type=\"t\">var v=' || CAST(doc_id AS STRING) || ';</script>'"
    " || '<style>p{margin:0}</style></head><!-- crawl ' || CAST(doc_id % 7 AS STRING) || ' -->'"
    " || '<body><h1>Doc &#39;' || CAST(doc_id AS STRING) || '&#39;</h1><p>'"
    " || CASE doc_id % 3 WHEN 0 THEN text WHEN 1 THEN replace(text, 'a', '&amp;')"
    " ELSE replace(text, ' ', '&nbsp;') END"
    " || '</p></body></html>'"
)

_URL_PLANT = (
    "CASE doc_id % 5"
    " WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 37 AS STRING)"
    "   || '.COM:80/a//b/' || CAST(doc_id AS STRING) || '/'"
    " WHEN 1 THEN 'https://site' || CAST(doc_id % 37 AS STRING)"
    "   || '.com:443/page?utm_source=x&b=' || CAST(doc_id AS STRING)"
    "   || '&a=1&fbclid=F' || CAST(doc_id AS STRING)"
    " WHEN 2 THEN 'https://CDN.site' || CAST(doc_id % 37 AS STRING)"
    "   || '.com/asset.js?v=9&gclid=g#frag'"
    " WHEN 3 THEN 'http://site' || CAST(doc_id % 37 AS STRING) || '.com'"
    " ELSE 'https://site' || CAST(doc_id % 37 AS STRING)"
    "   || '.com:8443/Z?z=9&y=&utm_campaign=c'"
    " END"
)


_CRAWL_PLANT = (
    "'<html><head><title>Page ' || CAST(doc_id % 100 AS STRING) || '</title>'"
    " || '<script>junk(' || repeat('x', CAST(((doc_id % 100) * 13) % 257 AS INT)) || ');</script>'"
    " || '<style>b{margin:0}</style></head><body><p>'"
    " || 'quick brown fox jumped over ' || md5(CAST(doc_id % 100 AS STRING))"
    " || repeat(' the of and a', CAST((doc_id % 100) % 5 AS INT))"
    " || repeat(' lorem ipsum dolor', CAST((doc_id % 100) % 11 AS INT))"
    " || '</p></body></html>'"
)


def q_html_strip(spark, sf_dir):
    """Boilerplate-dense synthetic pages (script/style/comment blocks,
    the six common entities, markup chrome — planted from documents by
    `_HTML_PLANT`) through ``web.strip_html``: visible text + the
    visible/raw length signal.  Pure chained regexp_replace — the whole
    query is one codegen'd projection over a 2-column scan, 0 shuffles.
    ``visible_ppm`` is integer arithmetic (len*1e6 div len), not a
    rounded float, so the oracle hash can never hit a rounding tie."""
    from time_series_databse_engine_spark.operators import web

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    planted = docs.select("doc_id", F.expr(_HTML_PLANT).alias("html"))
    return web.strip_html(planted).select(
        "doc_id",
        "text",
        "raw_len",
        "visible_len",
        F.expr("CAST(visible_len * 1000000 div raw_len AS BIGINT)").alias(
            "visible_ppm"
        ),
    )


def q_url_normalize(spark, sf_dir):
    """Five planted URL mess classes (upper-case scheme/host, default
    ports, doubled slashes, trailing slash, tracking params, unsorted
    query, fragments) through ``web.normalize_urls`` — the canonical
    dedup key a crawl pipeline groups on.  0 shuffles."""
    from time_series_databse_engine_spark.operators import web

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    planted = docs.select("doc_id", F.expr(_URL_PLANT).alias("url"))
    return web.normalize_urls(planted).select(
        "doc_id", "url_norm", "host", "path", "n_params"
    )


def q_host_profile(spark, sf_dir):
    """Per-host crawl rollup over normalized URLs: page/path/query
    counts (the crawl-scheduler priority table).  ONE host-keyed
    partial-agg exchange; output is |hosts| rows (integer columns only
    in the gate — the frac column lives in the operator API)."""
    from time_series_databse_engine_spark.operators import web

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    planted = docs.select("doc_id", F.expr(_URL_PLANT).alias("url"))
    return web.host_profile(web.normalize_urls(planted)).select(
        "host", "n_pages", "n_paths", "n_query_pages"
    )


def q_domain_cap(spark, sf_dir):
    """Per-registered-domain page cap (web.domain_cap_sample): the
    RefinedWeb/C4 rebalancing step — ≤5 pages per eTLD+1 in md5(id)
    order, subdomains (www./cdn.) collapsing to one publisher via the
    pinned public-suffix snapshot.  One domain-keyed exchange; the
    rn<=cap filter rides the map-side WindowGroupLimit."""
    from time_series_databse_engine_spark.operators import web

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    planted = docs.select("doc_id", F.expr(_URL_PLANT).alias("url"))
    return web.domain_cap_sample(planted, cap=5)


def q_clean_crawl(spark, sf_dir):
    """End-to-end crawl→corpus composition (pipeline.clean_crawl):
    strip_html → integer boilerplate-ppm gate → rounded quality gate →
    exact dedup on the EXTRACTED text.  Pages are planted in duplicate
    groups (content keyed by doc_id % 100) with per-group boilerplate
    mass and prose length, so every gate cuts: at sf0.01 the cascade
    runs 500 → 380 (ppm) → 220 (quality) → 44 (dedup keepers).  One
    oracle re-derives all four stages in SQL — the composition itself
    is hash-verified, same methodology as clean_corpus."""
    from time_series_databse_engine_spark.pipeline import clean_crawl

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    pages = docs.select("doc_id", F.expr(_CRAWL_PLANT).alias("html"))
    return clean_crawl(pages, min_visible_ppm=350_000, quality_threshold=0.5)


def _strip_expr(col: str = "html") -> str:
    """DuckDB replay of web.strip_html built from the OPERATOR'S OWN
    pattern constants — pattern identity is by construction, not
    transcription.  Shared by the html_strip and clean_crawl oracles."""
    from time_series_databse_engine_spark.operators.web import (
        _BLOCK_DROPS,
        _COMMENT,
        _ENTITIES,
        _TAG,
    )

    expr = col
    for pat in _BLOCK_DROPS + [_COMMENT, _TAG]:
        expr = f"regexp_replace({expr}, '{pat}', ' ', 'g')"
    for ent, ch in _ENTITIES:
        expr = f"regexp_replace({expr}, '{ent}', '{ch.replace(chr(39), chr(39) * 2)}', 'g')"
    return f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"


def _html_strip_oracle_sql() -> str:
    expr = _strip_expr("html")
    return f"""
        WITH raw AS (SELECT doc_id, {_HTML_PLANT} AS html
                     FROM documents WHERE doc_id < 300),
        s AS (SELECT doc_id, html, {expr} AS text FROM raw)
        SELECT doc_id, text,
               length(html) AS raw_len,
               length(text) AS visible_len,
               CAST(length(text) * 1000000 // length(html) AS BIGINT) AS visible_ppm
        FROM s"""


def _url_parts_cte(n_docs: int) -> str:
    """Shared DuckDB CTE chain replaying web.normalize_urls on the
    planted URLs (tracking-param pattern imported from the operator)."""
    from time_series_databse_engine_spark.operators.web import TRACKING_PARAM_RE

    return f"""
        raw AS (SELECT doc_id, {_URL_PLANT} AS url
                FROM documents WHERE doc_id < {n_docs}),
        parts AS (SELECT doc_id,
            lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
            regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
            regexp_replace(regexp_replace(
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                '/{{2,}}', '/', 'g'), '/$', '') AS path,
            list_sort(list_filter(
                string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                x -> x <> '' AND NOT regexp_matches(x, '{TRACKING_PARAM_RE}')
            )) AS params
            FROM raw),
        norm AS (SELECT doc_id, scheme,
            lower(regexp_extract(auth, '^([^:]*)', 1)) AS host,
            regexp_extract(auth, ':(\\d+)$', 1) AS port,
            path, params FROM parts),
        urls AS (SELECT doc_id,
            scheme || '://' || host
              || CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443'))
                      THEN ':' || port ELSE '' END
              || path
              || CASE WHEN len(params) > 0
                      THEN '?' || array_to_string(params, '&') ELSE '' END AS url_norm,
            host, path,
            CAST(len(params) AS INTEGER) AS n_params
            FROM norm)"""


def q_bucketed_join_storage(spark, sf_dir):
    """Join over co-bucketed STORAGE — pre-pay the shuffle once at write
    time, reuse it on every join: customer and orders saved as 8-bucket
    ``bucketBy``+``sortBy`` catalog tables on the join key, then a
    sort-merge join whose plan has ZERO Exchange and zero per-task Sort
    (asserted in tests/test_plans.py).  Oracle = result identity vs
    joining the raw parquet — the layout must never change answers."""
    import re as _re

    from time_series_databse_engine_spark.sources import write_bucketed

    tok = _re.sub(r"\W+", "_", sf_dir).strip("_")
    cust_t, ord_t = f"bj_customer_{tok}", f"bj_orders_{tok}"

    def build() -> None:
        write_bucketed(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal"),
            cust_t, ("c_custkey",), 8, ("c_custkey",),
        )
        write_bucketed(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
            ord_t, ("o_custkey",), 8, ("o_custkey",),
        )

    memo(spark, (sf_dir, "bucketed_join_tables"), build)
    c = spark.table(cust_t)
    o = spark.table(ord_t)
    return (
        c.hint("merge")
        .join(o, c.c_custkey == o.o_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ingest events into the hour-partitioned store, inclusive
    range scan + per-series hourly downsample (reference surface + the
    canonical missing TSDB op, SURVEY.md §7.1)."""
    sf_dir = "/root/testdata/sf0.001"
    store = _get_store(spark, sf_dir)
    return ts_ops.downsample(
        store.query_range(T1, WEEK_END).withColumnRenamed("metric", "event_type"),
        MS_H,
        ["event_type"],
    )


def q_maxsim_topk(spark, sf_dir):
    """Late-interaction retrieval (ColBERT scoring shape, Khattab &
    Zaharia 2020): multi-vector docs — one hashed vector per 30-token
    chunk — scored Σ over query tokens of the MAX chunk similarity;
    top-20 per query.  Corpus-side cost is one chunk-vectorization
    regardless of query count (queries broadcast)."""
    qs = spark.createDataFrame(
        [
            (1, "fast hash join"),
            (2, "window merge sort"),
            (3, "spark stream query"),
        ],
        "q_id int, q_text string",
    )
    return text_ops.maxsim_topk(
        _t(spark, sf_dir, "documents"), qs, k=20, dim=64, chunk_size=30
    )


def q_psi_drift(spark, sf_dir):
    """Population Stability Index between two snapshots of events.value
    (even-day vs odd-day traffic) — the snapshot-drift monitor a
    training pipeline runs between crawl refreshes.  Boundaries from the
    reference's exact deciles (broadcast), exact-integer bin counts,
    Laplace-smoothed, DECIMAL-exact psi sum."""
    from time_series_databse_engine_spark.operators.profile import psi_drift

    e = _t(spark, sf_dir, "events")
    day = F.floor(F.col("ts_ms") / F.lit(86_400_000))
    ref = e.where(day % 2 == 0)
    cur = e.where(day % 2 == 1)
    return psi_drift(ref, cur, "value", n_bins=10)


_MAXSIM_QUERIES = [
    (1, "fast hash join"),
    (2, "window merge sort"),
    (3, "spark stream query"),
]


def q_maxsim_index_probe(spark, sf_dir):
    """Late-interaction SERVING path: the corpus chunk vectors persisted
    as a bucket-partitioned inverted index (text never stored), probes
    prune to the query tokens' buckets via PartitionFilters — the
    ivf_index_probe discipline applied to sparse retrieval.  Result-
    identical to maxsim_topk by construction, so its oracle applies
    verbatim: the persisted layout must never change answers."""
    path = _fixture_dir(
        spark, sf_dir, "maxsim_index_",
        lambda p: text_ops.maxsim_index_write(
            _t(spark, sf_dir, "documents"), p, dim=64, chunk_size=30
        ),
    )
    qs = spark.createDataFrame(_MAXSIM_QUERIES, "q_id int, q_text string")
    return text_ops.maxsim_index_probe(spark, path, qs, k=20, dim=64)


def q_maxsim_index_append(spark, sf_dir):
    """Incremental MaxSim index maintenance (text.maxsim_index_append,
    r9): index built on the base corpus (doc_id < 250), the new batch
    (doc_id >= 250) vectorized with the PINNED params-sidecar geometry
    and appended — O(batch) work, existing rows never re-read.  Chunk
    weights carry no cross-corpus state, so the appended index is
    bit-identical to a fresh build of the union and the maxsim_topk
    oracle applies verbatim to the probe."""
    def build(path):
        docs = _t(spark, sf_dir, "documents")
        text_ops.maxsim_index_write(
            docs.filter(F.col("doc_id") < 250), path, dim=64, chunk_size=30
        )
        text_ops.maxsim_index_append(
            spark, path, docs.filter(F.col("doc_id") >= 250)
        )

    path = _fixture_dir(spark, sf_dir, "maxsim_index_app_", build)
    qs = spark.createDataFrame(_MAXSIM_QUERIES, "q_id int, q_text string")
    return text_ops.maxsim_index_probe(spark, path, qs, k=20)


def q_maxsim_index_compacted(spark, sf_dir):
    """Full sparse-index lifecycle under the hash gate (r9): build on
    the base corpus, epoch-append the rest, COMPACT (one id-sorted file
    per bucket; the epoch is committed, so committed_through absorbs
    it), then probe.  Result must equal the maxsim_topk oracle — the
    same oracle as maxsim_index_append — proving compaction
    result-invisible end-to-end, not just in unit tests."""
    def build(path):
        docs = _t(spark, sf_dir, "documents")
        text_ops.maxsim_index_write(
            docs.filter(F.col("doc_id") < 250), path, dim=64, chunk_size=30
        )
        text_ops.maxsim_index_append(
            spark, path, docs.filter(F.col("doc_id") >= 250), epoch_id=0
        )
        text_ops.maxsim_index_compact(spark, path, committed_through=0)

    path = _fixture_dir(spark, sf_dir, "maxsim_index_cpt_", build)
    qs = spark.createDataFrame(_MAXSIM_QUERIES, "q_id int, q_text string")
    return text_ops.maxsim_index_probe(spark, path, qs, k=20)


def q_psi_drift_categorical(spark, sf_dir):
    """Categorical drift (event-type mix, even vs odd days): reference's
    top-3 categories + OTHER fold, psi_from_counts finish — the bounded
    drift table for unbounded live cardinality."""
    from time_series_databse_engine_spark.operators.profile import (
        psi_drift_categorical,
    )

    e = _t(spark, sf_dir, "events")
    day = F.floor(F.col("ts_ms") / F.lit(86_400_000))
    return psi_drift_categorical(
        e.where(day % 2 == 0), e.where(day % 2 == 1), "event_type", top_k=3
    )


def q_purge_dup_spans(spark, sf_dir):
    """Substring-level dedup PURGE (Lee et al. 2021's intervention):
    cross-doc duplicated 8-token windows removed from every doc except
    the gram's min-id keeper; text rebuilt.  2 exchanges; window hashes
    (md5) cross the wire, never text."""
    return dedup_ops.purge_dup_spans(_t(spark, sf_dir, "documents"), n=8)


def q_diverse_sample(spark, sf_dir):
    """Cluster-stratified coreset sampling against the pinned
    kmeans_cells codebook sized for THIS corpus (cells_for(sf_dir),
    VERDICT r10 #2): ≤25 representatives per embedding-space cell in
    deterministic md5(id) order — rare modes survive the quota cut
    that uniform sampling would erase them under.  One exchange; BLAS
    assignment past k=32 (hash-gated scales keep the fold)."""
    from time_series_databse_engine_spark.fixtures.kmeans_cells import cells_for

    book = cells_for(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    cells = spark.createDataFrame(
        [(cid, c) for cid, c in book], "cell_id long, cent array<double>"
    ).withColumn("cent_n", sim_ops.norm(F.col("cent")))
    return sim_ops.diverse_sample(
        emb, cells, per_cell=25,
        assign="fold" if len(book) <= 32 else "numpy",
    )


def _diverse_sample_oracle_sql() -> str:
    """Assignment CTE = the served-SemDeDup oracle's (same centroid
    literals, same argmax tie rule); pick = row_number over md5 order.
    Literals are the GATE-SCALE codebook (cells_for(sf0.01)): the
    driver compares at sf0.01, where the Spark side selects the same
    book."""
    from time_series_databse_engine_spark.fixtures.kmeans_cells import cells_for

    rows = ",\n              ".join(
        "(%d, [%s]::DOUBLE[])" % (cid, ", ".join(repr(x) for x in c))
        for cid, c in cells_for("/root/testdata/sf0.01")
    )
    return f"""
        WITH cents(cell_id, cent) AS (VALUES
              {rows}),
        e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        a AS (SELECT id, cell_id FROM (
          SELECT id, cell_id,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY csim DESC, cell_id ASC) AS r
          FROM (SELECT id, v, cell_id,
                       list_dot_product(v, cent) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent, cent))) AS csim
                FROM e, cents)) WHERE r = 1)
        SELECT id AS vec_id, cell_id, pick FROM (
          SELECT id, cell_id,
                 row_number() OVER (PARTITION BY cell_id
                                    ORDER BY md5(CAST(id AS VARCHAR)) ASC,
                                             id ASC) AS pick
          FROM a)
        WHERE pick <= 25"""


def q_psi_drift_incremental(spark, sf_dir):
    """The MERGEABLE drift path: pinned reference boundaries, the current
    snapshot arriving as TWO increments (user_id parity) whose per-bin
    count tables union and re-reduce — result-identical to the fused
    psi_drift (same oracle SQL), proving increments never rescan."""
    from time_series_databse_engine_spark.operators.profile import (
        psi_bin_counts,
        psi_bounds,
        psi_from_counts,
    )

    e = _t(spark, sf_dir, "events")
    day = F.floor(F.col("ts_ms") / F.lit(86_400_000))
    ref = e.where(day % 2 == 0)
    cur = e.where(day % 2 == 1)
    bounds = psi_bounds(ref, "value", n_bins=10)
    rc = psi_bin_counts(ref, "value", bounds)
    # null-safe half-split: user_id % 2 is NULL for NULL user_id, which
    # would drop such rows from BOTH halves and break result-identity
    # with the shared psi_drift oracle (ADVICE r8)
    half = F.coalesce(F.col("user_id") % 2, F.lit(0))
    cc = psi_bin_counts(cur.where(half == 0), "value", bounds).unionByName(
        psi_bin_counts(cur.where(half == 1), "value", bounds)
    )
    return psi_from_counts(rc, cc, n_bins=10)


class Query(NamedTuple):
    """One registry row: the query's key, its DataFrame builder, and
    whether ``bench.py`` times it."""

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    bench: bool


# The query registry, in ``queries()`` key order (see its docstring).
# Adding a query is adding one row here plus its ``oracle_sql()`` entry,
# then re-taking the snapshot that tests/test_entry.py pins the order
# against.
REGISTRY: tuple[Query, ...] = (
    Query("pca_fit_project", q_pca_fit_project, True),
    Query("lsh_recall", q_lsh_recall, True),
    Query("resample_1m_expr", q_resample_1m_expr, False),
    Query("unpivot", q_unpivot, True),
    Query("mmr_topk", q_mmr_topk, True),
    Query("salted_join", q_salted_join, True),
    Query("sq8_topk", q_sq8_topk, True),
    Query("ann_index_append", q_ann_index_append, True),
    Query("asof_join_tolerance", q_asof_join_tolerance, False),
    Query("attribution", q_attribution, True),
    Query("bloom_semijoin", q_bloom_semijoin, True),
    Query("bucketed_join_storage", q_bucketed_join_storage, True),
    Query("column_profile_exact", q_column_profile_exact, True),
    Query("cusum", q_cusum, True),
    Query("dedup_incremental", q_dedup_incremental, False),
    Query("dedup_keep_best", q_dedup_keep_best, True),
    Query("grouping_sets", q_grouping_sets, False),
    Query("host_profile", q_host_profile, True),
    Query("ivf_recall", q_ivf_recall, True),
    Query("ivfpq_topk", q_ivfpq_topk, True),
    Query("leakage_safe_split", q_leakage_safe_split, True),
    Query("markov_transitions", q_markov_transitions, True),
    Query("media_safe_decode", q_media_safe_decode, True),
    Query("neardup_incremental", q_neardup_incremental, True),
    Query("profile_incremental", q_profile_incremental, True),
    Query("quality_calibration", q_quality_calibration, True),
    Query("range_scan", q_range_scan, True),
    Query("revenue_concentration", q_revenue_concentration, False),
    Query("rfm_segments", q_rfm_segments, True),
    Query("semantic_outliers", q_semantic_outliers, True),
    Query("source_curation", q_source_curation, True),
    Query("token_budget_sample", q_token_budget_sample, True),
    Query("url_normalize", q_url_normalize, True),
    Query("k_core", q_k_core, True),
    Query("source_overlap", q_source_overlap, True),
    Query("mutual_info", q_mutual_info, True),
    Query("prefix_jaccard", q_prefix_jaccard, False),
    Query("embedding_drift", q_embedding_drift, True),
    Query("label_agreement", q_label_agreement, True),
    Query("survival_km", q_survival_km, True),
    Query("ranking_eval", q_ranking_eval, True),
    Query("mann_whitney", q_mann_whitney, True),
    Query("chi2_independence", q_chi2_independence, True),
    Query("calibration_report", q_calibration_report, True),
    Query("pareto_front", q_pareto_front, True),
    Query("conformal_threshold", q_conformal_threshold, True),
    Query("benford_audit", q_benford_audit, True),
    Query("did_readout", q_did_readout, True),
    Query("modularity", q_modularity, True),
    Query("power_mde", q_power_mde, True),
    # ---- keys 51+: outside the driver's correctness window ----
    Query("tsdb_roundtrip", q_tsdb_roundtrip, False),
    Query("orders_above_avg", q_orders_above_avg, False),
    Query("pack_sequences", q_pack_sequences, True),
    Query("image_neardup", q_image_neardup, True),
    Query("audio_neardup", q_audio_neardup, False),
    Query("ann_index_compacted", q_ann_index_compacted, True),
    Query("media_probe", q_media_probe, True),
    Query("html_strip", q_html_strip, True),
    Query("domain_cap", q_domain_cap, True),
    Query("clean_crawl", q_clean_crawl, True),
    Query("bpe_tokenize", q_bpe_tokenize, True),
    Query("pca_project", q_pca_project, True),
    Query("pagerank", q_pagerank, True),
    Query("triangle_count", q_triangle_count, True),
    Query("label_propagation", q_label_propagation, True),
    Query("adamic_adar", q_adamic_adar, True),
    Query("cuped", q_cuped, True),
    Query("ab_ztest", q_ab_ztest, True),
    Query("srm_check", q_srm_check, True),
    Query("expect_rules", q_expect_rules, True),
    Query("xcorr_lagged", q_xcorr_lagged, True),
    Query("scd2_build", q_scd2_build, True),
    Query("assoc_rules", q_assoc_rules, True),
    Query("burn_rate", q_burn_rate, True),
    Query("theil_sen", q_theil_sen, True),
    Query("pmi_collocations", q_pmi_collocations, True),
    Query("quantile_normalize", q_quantile_normalize, True),
    Query("corpus_report", q_corpus_report, False),
    Query("rolling_corr", q_rolling_corr, True),
    Query("token_entropy", q_token_entropy, True),
    Query("pruning_report", q_pruning_report, True),
    Query("temperature_mix", q_temperature_mix, True),
    Query("winsorize", q_winsorize, True),
    Query("ks_drift", q_ks_drift, True),
    Query("kanon_suppress", q_kanon_suppress, True),
    Query("ann_index_probe", q_ann_index_probe, True),
    Query("zorder_key", q_zorder_key, True),
    Query("interval_join_bucketed", q_interval_join_bucketed, True),
    Query("hw_backtest", q_hw_backtest, True),
    Query("skew_profile", q_skew_profile, True),
    Query("hist_sketch_daily", q_hist_sketch_daily, False),
    Query("bm25", q_bm25, False),
    Query("edit_verify", q_edit_verify, True),
    Query("interarrival_stats", q_interarrival_stats, False),
    Query("hamming_topk", q_hamming_topk, True),
    Query("column_profile", q_column_profile, True),
    Query("lsh_multiprobe_topk", q_lsh_multiprobe_topk, True),
    Query("bpe_pairs", q_bpe_pairs, False),
    Query("video_neardup", q_video_neardup, False),
    Query("frame_sample", q_frame_sample, False),
    Query("simhash", q_simhash, False),
    Query("multimodal_resize", q_multimodal_resize, False),
    Query("hilbert_key", q_hilbert_key, True),
    Query("full_outer_join", q_full_outer_join, False),
    Query("lsh_ann_topk_multi", q_lsh_ann_topk_multi, False),
    Query("semantic_dedup_trained", q_semantic_dedup_trained, False),
    Query("semantic_dedup_served", q_semantic_dedup_served, True),
    Query("lttb_chunked", q_lttb_chunked, False),
    Query("minhash_containment", q_minhash_containment, True),
    Query("hashing_vectors", q_hashing_vectors, True),
    Query("hamming_bits", q_hamming_bits, False),
    Query("sq8_codes", q_sq8_codes, False),
    Query("hamming_recall", q_hamming_recall, False),
    Query("sq8_recall", q_sq8_recall, False),
    Query("bm25_many", q_bm25_many, False),
    Query("rolling_median", q_rolling_median, False),
    Query("rolling_median_sketch", q_rolling_median_sketch, False),
    Query("cap_events", q_cap_events, False),
    Query("fuzzy_join", q_fuzzy_join, False),
    Query("funnel_rates", q_funnel_rates, False),
    Query("dsir_sample", q_dsir_sample, False),
    Query("bigram_logprob", q_bigram_logprob, True),
    Query("kn_bigram_logprob", q_kn_bigram_logprob, True),
    Query("quality_classifier", q_quality_classifier, True),
    Query("vocab_coverage", q_vocab_coverage, True),
    Query("cms_topk", q_cms_topk, True),
    Query("mixture_sample", q_mixture_sample, True),
    Query("chunk_dedup", q_chunk_dedup, True),
    Query("stl_decompose", q_stl_decompose, True),
    Query("holt_winters", q_holt_winters, True),
    Query("upsample_mixture", q_upsample_mixture, False),
    Query("kmv_users_by_type", q_kmv_users_by_type, False),
    Query("kmv_overlap", q_kmv_overlap, False),
    Query("cohort_retention", q_cohort_retention, False),
    Query("c4_rules", q_c4_rules, False),
    Query("stl_anomaly", q_stl_anomaly, False),
    Query("weighted_sample", q_weighted_sample, False),
    Query("pq_ann_topk", q_pq_ann_topk, False),
    Query("rrf_hybrid", q_rrf_hybrid, False),
    Query("asof_join", q_asof_join, True),
    Query("group_kfold", q_group_kfold, True),
    Query("hash_split", q_hash_split, False),
    Query("epoch_shuffle", q_epoch_shuffle, True),
    Query("snapshot_delta", q_snapshot_delta, True),
    Query("holt_smoothing", q_holt, False),
    Query("counter_rate_1h", q_counter_rate_1h, True),
    Query("ewma_chunked", q_ewma_chunked, True),
    Query("gapfill_locf", q_gapfill_locf, True),
    Query("dup_spans", q_dup_spans, True),
    Query("top_ngrams", q_top_ngrams, False),
    Query("downsample_1h", q_downsample_1h, True),
    Query("semantic_dedup", q_semantic_dedup, True),
    Query("lttb", q_lttb, True),
    Query("lsh_ann_topk", q_lsh_ann_topk, False),
    Query("minhash_lsh", q_minhash_lsh, True),
    Query("cosine_topk", q_cosine_topk, True),
    Query("quality_score", q_quality_score, True),
    Query("sessionize", q_sessionize, True),
    Query("token_counts_by_lang", q_token_counts_by_lang, False),
    Query("pricing_summary", q_pricing_summary, True),
    Query("zscore_anomaly", q_zscore_anomaly, True),
    Query("zscore_chunked", q_zscore_chunked, True),
    Query("moving_avg_chunked", q_moving_avg_chunked, True),
    Query("sketch_percentile", q_sketch_percentile, True),
    Query("funnel", q_funnel, False),
    Query("dsir_weights", q_dsir_weights, True),
    Query("ewma", q_ewma, False),
    Query("dedup_clusters", q_dedup_clusters, True),
    Query("simhash_md5", q_simhash_md5, False),
    Query("date_parts", q_date_parts, False),
    Query("time_weighted_avg", q_time_weighted_avg, False),
    Query("decayed_topk", q_decayed_topk, True),
    Query("moving_avg_time", q_moving_avg_time, False),
    Query("shipping_priority", q_shipping_priority, False),
    Query("repetition_stats", q_repetition_stats, True),
    Query("unigram_logprob", q_unigram_logprob, False),
    Query("hll_distinct_daily", q_hll_distinct_daily, True),
    Query("event_pivot", q_event_pivot, False),
    Query("rank_family", q_rank_family, False),
    Query("string_funcs", q_string_funcs, False),
    Query("dup_span_ranges", q_dup_span_ranges, False),
    Query("union_all_scans", q_union_all_scans, False),
    Query("ohlc_1h", q_ohlc_1h, True),
    Query("mad_anomaly", q_mad_anomaly, False),
    Query("seasonal_baseline", q_seasonal_baseline, True),
    Query("revenue_by_nation", q_revenue_by_nation, True),
    Query("dedup_exact", q_dedup_exact, True),
    Query("value_percentiles", q_value_percentiles, False),
    Query("tfidf_top_terms", q_tfidf_top_terms, True),
    Query("contamination", q_contamination, True),
    Query("minhash_jaccard_est", q_minhash_jaccard_est, True),
    Query("cosine_near_dup_lsh", q_cosine_near_dup_lsh, True),
    Query("kmeans", q_kmeans, False),
    Query("asof_join_nearest", q_asof_join_nearest, False),
    Query("ivf_ann_topk", q_ivf_ann_topk, False),
    Query("dedup_clusters_star", q_dedup_clusters_star, False),
    Query("holt_chunked", q_holt_chunked, True),
    Query("clean_corpus", q_clean_corpus, True),
    Query("multimodal_decode", q_multimodal_decode, True),
    Query("jaccard_pairs", q_jaccard_pairs, False),
    Query("sliding_downsample", q_sliding_downsample, False),
    Query("resample_1m", q_resample_1m, True),
    Query("autocorr", q_autocorr, False),
    Query("corr_stats", q_corr_stats, False),
    Query("distinct_aggs", q_distinct_aggs, False),
    Query("value_histogram", q_value_histogram, False),
    Query("window_first_last", q_window_first_last, False),
    Query("event_sequences", q_event_sequences, False),
    Query("embedding_centroids", q_embedding_centroids, False),
    Query("moving_avg", q_moving_avg, True),
    Query("range_scan_empty", q_range_scan_empty, False),
    Query("range_scan_metric", q_range_scan_metric, False),
    Query("range_limit", q_range_limit, False),
    Query("downsample_5m", q_downsample_5m, False),
    Query("metric_stats", q_metric_stats, True),
    Query("top_customers", q_top_customers, False),
    Query("customers_no_orders", q_customers_no_orders, False),
    Query("customer_order_counts_semi", q_customer_order_counts_semi, False),
    Query("order_rollup", q_order_rollup, False),
    Query("part_cube", q_part_cube, False),
    Query("users_intersect", q_users_intersect, False),
    Query("users_except", q_users_except, False),
    Query("json_props", q_json_props, False),
    Query("range_join", q_range_join, False),
    Query("value_deltas", q_value_deltas, False),
    Query("gap_detect", q_gap_detect, False),
    Query("topk_per_series", q_topk_per_series, False),
    Query("first_last_per_series", q_first_last_per_series, False),
    Query("doc_fingerprint", q_doc_fingerprint, False),
    Query("minhash_signatures", q_minhash_signatures, False),
    Query("embedding_norms", q_embedding_norms, False),
    Query("text_stats", q_text_stats, True),
    Query("lang_id", q_lang_id, False),
    Query("lang_id_ngram", q_lang_id_ngram, False),
    Query("sql_supplier_revenue", q_sql_supplier_revenue, False),
    Query("asof_join_forward", q_asof_join_forward, False),
    Query("doc_chunks", q_doc_chunks, True),
    Query("series_trend", q_series_trend, False),
    Query("redact_pii", q_redact_pii, False),
    Query("deterministic_sample", q_deterministic_sample, True),
    Query("stratified_sample", q_stratified_sample, False),
    Query("winnow_fingerprint", q_winnow_fingerprint, True),
    Query("cosine_near_dup", q_cosine_near_dup, False),
    Query("multimodal_features", q_multimodal_features, False),
    Query("approx_stats", q_approx_stats, False),
    Query("maxsim_topk", q_maxsim_topk, True),
    Query("psi_drift", q_psi_drift, True),
    Query("psi_drift_incremental", q_psi_drift_incremental, True),
    Query("diverse_sample", q_diverse_sample, True),
    Query("purge_dup_spans", q_purge_dup_spans, True),
    Query("psi_drift_categorical", q_psi_drift_categorical, True),
    Query("maxsim_index_probe", q_maxsim_index_probe, True),
    Query("maxsim_index_append", q_maxsim_index_append, True),
    Query("maxsim_index_compacted", q_maxsim_index_compacted, True),
    Query("column_profile_fast", q_column_profile_fast, True),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """``{name: builder}`` in ``REGISTRY`` order.  The first 50 keys are
    the driver's correctness window; rows-only entries (no
    ``oracle_sql()`` key) stay out of it, except the designated ones
    tests/test_entry.py lists.  Every key is also checked locally by
    tools/check_correctness.py."""
    return {q.name: q.build for q in REGISTRY}


# --------------------------------------------------------------------------
# DuckDB oracles — same column names, same rounding, integer epoch-ms keys
# --------------------------------------------------------------------------

_EV_MS = "epoch_ms(ts)"

_SHINGLE_CTE_BODY = """docs AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents{flt}
), sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
                               for i in generate_series(1, greatest(len(w)-2, 1))])) AS shingle
  FROM docs
)"""

_SHINGLE_CTE = "\nWITH " + _SHINGLE_CTE_BODY


def _minhash_sig_select(num_hashes: int) -> str:
    """hash_i = 8-hex-char slice (i mod 4) of md5(shingle ‖ '#'×(i div 4))
    — the exact mirror of dedup.minhash_signatures' two-digest family."""

    def digest(j: int) -> str:
        return f"md5(shingle || '{'#' * j}')" if j else "md5(shingle)"

    mins = ", ".join(
        f"min(substr({digest(i // 4)}, {8 * (i % 4) + 1}, 8)) AS mh_{i}"
        for i in range(num_hashes)
    )
    return f"SELECT doc_id, {mins} FROM sh GROUP BY doc_id"


def _minhash_sig_sql(num_hashes: int, flt: str) -> str:
    return _SHINGLE_CTE.format(flt=flt) + "\n" + _minhash_sig_select(num_hashes)


def _minhash_lsh_ctes() -> str:
    """CTE chain (no leading WITH) ending in a ``pairs`` CTE of distinct
    LSH candidate pairs — shared by the minhash_lsh and dedup_clusters
    oracles."""
    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh_{2*b} || '|' || mh_{2*b+1} AS band_hash FROM sig"
        for b in range(4)
    )
    return (
        _SHINGLE_CTE_BODY.format(flt="")
        + f", sig AS ({_minhash_sig_select(8)})"
        + f", banded AS ({bands_sql})"
        + """, pairs AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)"""
    )


def _minhash_lsh_sql() -> str:
    return "\nWITH " + _minhash_lsh_ctes() + "\nSELECT id1, id2 FROM pairs"


def _lsh_recall_sql() -> str:
    """Truth = exact shingle Jaccard >= 0.5 on the md5-gated 4/16 doc
    sample; candidates = the minhash_lsh banding replay over the same
    sample; one summary row of counts + recall/precision."""
    flt = " WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1','2','3')"
    bands_sql = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh_{2*b} || '|' || mh_{2*b+1} AS band_hash FROM sig"
        for b in range(4)
    )
    return (
        "\nWITH "
        + _SHINGLE_CTE_BODY.format(flt=flt)
        + f""",
        sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT id1, id2 FROM inter
          JOIN sizes za ON za.doc_id = id1
          JOIN sizes zb ON zb.doc_id = id2
          WHERE i / (za.set_size + zb.set_size - i) >= 0.5e0),
        sig AS ({_minhash_sig_select(8)}),
        banded AS ({bands_sql}),
        cand AS (
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id),
        hit AS (SELECT t.id1, t.id2 FROM truth t JOIN cand c
                USING (id1, id2)),
        m AS (SELECT (SELECT count(*) FROM truth) AS n_true,
                     (SELECT count(*) FROM cand) AS n_cand,
                     (SELECT count(*) FROM hit) AS n_hit)
        SELECT n_true, n_cand, n_hit,
               CASE WHEN n_true > 0
                    THEN round(n_hit / n_true, 6) END AS recall,
               CASE WHEN n_cand > 0
                    THEN round(n_hit / n_cand, 6) END AS precision,
               0::BIGINT AS n_dropped_shingles
        FROM m"""
    )


def _dedup_clusters_sql() -> str:
    """Connected components as recursive reachability: a node's cluster id
    is the minimum doc id among everything reachable over the (symmetric)
    pair edges — the declarative twin of the engine's min-label
    propagation loop."""
    return (
        "\nWITH RECURSIVE "
        + _minhash_lsh_ctes()
        + """,
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
        )
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id"""
    )


def _zorder_sql(bits: int = 16) -> str:
    """Quantize (ts_ms, value) to ``bits``-bit buckets against the table
    min/max and Morton-interleave with DuckDB's native >> & << — term
    order and float-op order identical to layout.zorder_key/quantize."""
    terms = []
    for i in range(bits):
        terms.append(f"(((qa >> {i}) & 1) << {2 * i})")
        terms.append(f"(((qb >> {i}) & 1) << {2 * i + 1})")
    interleave = " + ".join(terms)
    top = (1 << bits) - 1
    scale = f"{float(1 << bits):.1f}e0".replace(".0e0", "e0")
    return f"""
        WITH mm AS (SELECT min(epoch_ms(ts)) AS tlo, max(epoch_ms(ts)) AS thi,
                           min(value) AS vlo, max(value) AS vhi FROM events),
        q AS (SELECT event_id,
                     least(greatest(floor((epoch_ms(ts) - tlo) / (thi - tlo)
                                          * {scale}), 0), {top})::BIGINT AS qa,
                     least(greatest(floor((value - vlo) / (vhi - vlo)
                                          * {scale}), 0), {top})::BIGINT AS qb
              FROM events CROSS JOIN mm)
        SELECT event_id, {interleave} AS zkey FROM q"""


def _hilbert_sql(bits: int = 16) -> str:
    """Quantize (ts_ms, value) exactly as _zorder_sql, then replay the
    classic Hilbert xy→d walk (accumulate s²·((3rx) XOR ry), rotate the
    frame) as a recursive CTE stepping s from 2^(bits−1) down to 0 —
    integer-only, so it matches layout.hilbert_key's numpy walk bit for
    bit."""
    top = (1 << bits) - 1
    scale = f"{float(1 << bits):.1f}e0".replace(".0e0", "e0")
    return f"""
        WITH RECURSIVE mm AS (
          SELECT min(epoch_ms(ts)) AS tlo, max(epoch_ms(ts)) AS thi,
                 min(value) AS vlo, max(value) AS vhi FROM events),
        q AS (SELECT event_id,
                     least(greatest(floor((epoch_ms(ts) - tlo) / (thi - tlo)
                                          * {scale}), 0), {top})::BIGINT AS qa,
                     least(greatest(floor((value - vlo) / (vhi - vlo)
                                          * {scale}), 0), {top})::BIGINT AS qb
              FROM events CROSS JOIN mm),
        walk AS (
          SELECT event_id, qa AS x, qb AS y, 0::BIGINT AS d,
                 {1 << (bits - 1)}::BIGINT AS s
          FROM q
          UNION ALL
          SELECT event_id,
                 CASE WHEN (y & s) = 0
                      THEN CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END
                      ELSE x END AS x,
                 CASE WHEN (y & s) = 0
                      THEN CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END
                      ELSE y END AS y,
                 d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
                                 CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END) AS d,
                 s // 2 AS s
          FROM walk WHERE s > 0)
        SELECT event_id, d AS hkey FROM walk WHERE s = 0"""


def _holt_winters_oracle_sql() -> str:
    """Recursive-CTE Holt-Winters fit over the hourly-mean events
    series (seasonal history carried as a LIST in the recursion state)
    -- shared by the holt_winters query and the hw_backtest wrapper,
    which scores h-step forecasts from every fitted origin."""
    return f"""
            WITH RECURSIVE base AS (
              SELECT event_type, bucket, y,
                     CAST(round(y * 1000000.0e0) AS BIGINT) AS yint,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY bucket) AS rn
              FROM (SELECT event_type, {_EV_MS} // 3600000 AS bucket,
                           round(sum(CAST(round(value * 100) AS BIGINT))
                                 / count(*) / 100.0e0, 6) AS y
                    FROM events GROUP BY 1, 2)
            ), stats AS (
              SELECT event_type, count(*) AS n,
                     (sum(CASE WHEN rn <= 24 THEN yint END)
                      / least(count(*), 24)) / 1000000.0e0 AS l0,
                     CASE WHEN count(*) >= 48 THEN
                       (((sum(CASE WHEN rn > 24 AND rn <= 48 THEN yint END)
                          / 24) / 1000000.0e0)
                        - ((sum(CASE WHEN rn <= 24 THEN yint END)
                            / least(count(*), 24)) / 1000000.0e0)) / 24
                     ELSE 0.0::DOUBLE END AS b0
              FROM base GROUP BY event_type
            ), seed AS (
              SELECT b.event_type,
                     list(b.y - st.l0 ORDER BY b.rn) AS ss0,
                     any_value(st.l0) AS l0, any_value(st.b0) AS b0
              FROM base b JOIN stats st USING (event_type)
              WHERE b.rn <= 24 AND st.n > 24
              GROUP BY b.event_type
            ), rec AS (
              SELECT event_type, CAST(NULL AS BIGINT) AS bucket,
                     CAST(NULL AS DOUBLE) AS y, 24 AS rn,
                     l0 AS l, b0 AS b, ss0 AS ss,
                     CAST(NULL AS DOUBLE) AS fc,
                     CAST(NULL AS DOUBLE) AS s
              FROM seed
              UNION ALL
              SELECT event_type, bucket, y, rn, lnew AS l,
                     floor(({(1 / 6)!r}::DOUBLE * (lnew - lprev)
                       + {(1.0 - 1 / 6)!r}::DOUBLE * bprev)
                       * 1073741824e0 + 0.5e0) / 1073741824e0 AS b,
                     list_append(ssprev, snew) AS ss,
                     lnew
                       + floor(({(1 / 6)!r}::DOUBLE * (lnew - lprev)
                          + {(1.0 - 1 / 6)!r}::DOUBLE * bprev)
                          * 1073741824e0 + 0.5e0) / 1073741824e0
                       + ssprev[rn + 1 - 24] AS fc,
                     snew AS s
              FROM (
                SELECT nb.event_type, nb.bucket, nb.y, nb.rn,
                       r.ss[nb.rn - 24] AS sold,
                       floor(({(1 / 3)!r}::DOUBLE * (nb.y - sold)
                         + {(1.0 - 1 / 3)!r}::DOUBLE * (r.l + r.b))
                         * 1073741824e0 + 0.5e0) / 1073741824e0 AS lnew,
                       floor(({(1 / 7)!r}::DOUBLE * (nb.y
                             - floor(({(1 / 3)!r}::DOUBLE * (nb.y - sold)
                               + {(1.0 - 1 / 3)!r}::DOUBLE * (r.l + r.b))
                               * 1073741824e0 + 0.5e0) / 1073741824e0)
                         + {(1.0 - 1 / 7)!r}::DOUBLE * sold)
                         * 1073741824e0 + 0.5e0) / 1073741824e0 AS snew,
                       r.l AS lprev, r.b AS bprev, r.ss AS ssprev
                FROM base nb JOIN rec r
                  ON nb.event_type = r.event_type AND nb.rn = r.rn + 1)
            )
            SELECT event_type, bucket, y, round(l, 6) AS level,
                   round(b, 6) AS trend, round(s, 6) AS seasonal,
                   round(fc, 6) AS forecast
            FROM rec WHERE rn > 24"""


def _hw_backtest_sql(period: int = 24, horizons: tuple[int, ...] = (1, 3, 6, 12)) -> str:
    """Wrap the holt_winters recursive-CTE fit and score h-step
    forecasts from every origin: lag(seasonal, period-h) is
    s_{t+h-period}, lead(y, h) the realized value; origins with bucket
    gaps are dropped exactly as the engine does."""
    hw = _holt_winters_oracle_sql()
    per_h = []
    for h in horizons:
        back = period - h
        per_h.append(f"""
            SELECT event_type, {h} AS horizon,
                   round(level + {h}e0 * trend + sl, 6) - ny AS err
            FROM (SELECT event_type, bucket, y, level, trend, seasonal,
                         lead(bucket, {h}) OVER w AS nb,
                         lead(y, {h}) OVER w AS ny,
                         lag(seasonal, {back}) OVER w AS sl,
                         lag(bucket, {back}) OVER w AS sb
                  FROM hw
                  WINDOW w AS (PARTITION BY event_type ORDER BY bucket))
            WHERE nb = bucket + {h} AND sb = bucket - {back}""")
    return (
        "\nWITH hw AS (" + hw + "),\n errs AS ("
        + " UNION ALL ".join(per_h)
        + """)
        SELECT event_type, horizon, count(*) AS n,
               round(avg(abs(err)), 6) AS mae,
               round(sqrt(avg(err * err)), 6) AS rmse
        FROM errs GROUP BY event_type, horizon"""
    )


def _multiprobe_sql(num_planes=4, n_flip=2, dim=64, k=5, seed=42) -> str:
    """Multi-probe LSH oracle: candidate buckets from _bucket_sql's sign
    expression; the query side carries per-plane projections, flips the
    ``n_flip`` lowest-|margin| bits ((|proj|, idx) ordering — the
    engine's tie rule), and probes the union of buckets."""
    planes = sim_ops.random_planes(num_planes, dim, seed)

    def proj(p, col="qv"):
        arr = ", ".join(repr(float(x)) for x in p)
        return f"list_dot_product({col}, [{arr}]::DOUBLE[])"

    projs = ", ".join(proj(p) for p in planes)
    return f"""
        WITH b AS (SELECT vec_id, embedding, {_bucket_sql(num_planes, dim, seed)} AS bucket
                   FROM embeddings),
        c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv, bucket FROM b),
        q0 AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket AS base
               FROM b WHERE vec_id < 20),
        qp AS (SELECT query_id, qv, base, [{projs}] AS pr FROM q0),
        fl AS (SELECT query_id, i FROM (
                 SELECT query_id, i,
                        row_number() OVER (PARTITION BY query_id
                                           ORDER BY abs(pr[i + 1]), i) AS r
                 FROM qp, (SELECT unnest(range({num_planes})) AS i))
               WHERE r <= {n_flip}),
        probes AS (
          SELECT query_id, qv, base AS bucket FROM qp
          UNION ALL
          SELECT qp.query_id, qp.qv,
                 substr(base, 1, fl.i)
                 || (CASE substr(base, fl.i + 1, 1) WHEN '1' THEN '0' ELSE '1' END)
                 || substr(base, fl.i + 2, {num_planes}) AS bucket
          FROM qp JOIN fl USING (query_id)),
        s AS (SELECT query_id, cand_id,
                     list_dot_product(qv, cv) /
                     (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
              FROM probes JOIN c USING (bucket) WHERE cand_id <> query_id)
        SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rank FROM (
          SELECT query_id, cand_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, cand_id ASC) AS rank
          FROM s) WHERE rank <= {k}"""


def _pagerank_sql(iters: int = 5) -> str:
    """Unrolled PageRank over the LSH pair graph: r0 = 1/N, each r_{i+1}
    one grouped sum over the edge list, every rank rounded 9 dp (the
    engine's own per-iteration rounding), damping written symbolically
    (1e0 - 0.85e0) so both engines constant-fold the same double."""
    body = (
        "\nWITH "
        + _minhash_lsh_ctes()
        + """,
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT id, round(1e0 / n, 9) AS rank FROM nodes CROSS JOIN nn)"""
    )
    for i in range(iters):
        body += f""",
        r{i + 1} AS (
          SELECT nodes.id,
                 round((1e0 - 0.85e0) / n + 0.85e0 * coalesce(c.s, 0e0), 9) AS rank
          FROM nodes
          LEFT JOIN (SELECT dst AS id, sum(rank / outdeg) AS s
                     FROM edges JOIN r{i} ON r{i}.id = edges.src
                                JOIN deg ON deg.src = edges.src
                     GROUP BY dst) c ON c.id = nodes.id
          CROSS JOIN nn)"""
    return body + f"\nSELECT id AS doc_id, round(rank, 6) AS pagerank FROM r{iters}"


def _triangle_sql() -> str:
    """Brute-force per-corner triangle count over the LSH pair graph:
    for each node u, count out-neighbor pairs (v, w), v < w, whose
    closing edge exists — each triangle lands once per corner.  Exact
    integer counts, so it matches graph.triangle_count's degree-ordered
    orientation plan exactly; the only float op is the one lcc
    division, rounded 6 dp on both engines."""
    return (
        "\nWITH "
        + _minhash_lsh_ctes()
        + """,
        sym AS (SELECT id1 AS s, id2 AS d FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        deg AS (SELECT s, count(*) AS degree FROM sym GROUP BY s),
        tri AS (SELECT e1.s AS id, count(*) AS triangles
                FROM sym e1
                JOIN sym e2 ON e1.s = e2.s AND e1.d < e2.d
                JOIN sym e3 ON e3.s = e1.d AND e3.d = e2.d
                GROUP BY e1.s)
        SELECT deg.s AS doc_id, degree,
               coalesce(triangles, 0) AS triangles,
               CASE WHEN degree >= 2
                    THEN round(2e0 * coalesce(triangles, 0)
                               / (degree * (degree - 1)), 6)
                    ELSE 0e0 END AS lcc
        FROM deg LEFT JOIN tri ON tri.id = deg.s"""
    )


def _label_prop_sql(iters: int = 3) -> str:
    """Unrolled synchronous LPA over the LSH pair graph: per round one
    grouped count of neighbor-plus-self labels + a (count DESC, label
    ASC) row_number argmax — the same deterministic tie rule and
    self-vote damping as the engine."""
    body = (
        "\nWITH "
        + _minhash_lsh_ctes()
        + """,
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)"""
    )
    for i in range(iters):
        body += f""",
        m{i + 1} AS (SELECT id, label, count(*) AS c FROM (
                       SELECT e.dst AS id, l.label
                       FROM edges e JOIN l{i} l ON l.id = e.src
                       UNION ALL SELECT id, label FROM l{i})
                     GROUP BY 1, 2),
        l{i + 1} AS (SELECT id, label FROM (
                       SELECT id, label,
                              row_number() OVER (PARTITION BY id
                                 ORDER BY c DESC, label ASC) AS rn
                       FROM m{i + 1}) WHERE rn = 1)"""
    return body + f"\nSELECT id AS doc_id, label AS community FROM l{iters}"


def _k_core_sql(k: int = 2, rounds: int = 8) -> str:
    """Unrolled synchronous k-core peeling over the LSH pair graph: per
    round one grouped-degree HAVING filter + an edge semi-restriction to
    surviving endpoints — the identical all-integer state machine as
    graph.k_core, so the final (or even a non-converged intermediate)
    edge set matches exactly."""
    body = (
        "\nWITH "
        + _minhash_lsh_ctes()
        + """,
        e0 AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM pairs
               UNION SELECT id2, id1 FROM pairs)"""
    )
    # each e{i} is referenced three times by round i+1; without
    # MATERIALIZED DuckDB re-inlines every reference and the unroll
    # re-evaluates the whole minhash pipeline ~3^rounds times (the
    # bpe_tokenize oracle's materialized-stage discipline)
    for i in range(rounds):
        body += f""",
        k{i + 1} AS MATERIALIZED (SELECT src FROM e{i} GROUP BY src
                     HAVING count(*) >= {k}),
        e{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{i} e
                     JOIN k{i + 1} a ON e.src = a.src
                     JOIN k{i + 1} b ON e.dst = b.src)"""
    return (
        body
        + f"\nSELECT src AS doc_id, count(*) AS core_degree"
        + f"\nFROM e{rounds} GROUP BY src"
    )


def _source_overlap_sql(n: int = 3) -> str:
    """Distinct (source, gram) inverted index -> gram-keyed pair join ->
    per-pair counts with per-source totals; same 3-token gram builder as
    the dup_spans oracle, containment coefficient off the rounded
    division."""
    return f"""
        WITH sg AS (
          SELECT DISTINCT source,
                 unnest(CASE WHEN len(w) >= {n}
                   THEN list_transform(generate_series(1, len(w) - {n - 1}),
                                       i -> array_to_string(w[i:i+{n - 1}], ' '))
                   ELSE [] END) AS g
          FROM (SELECT source, string_split_regex(lower(text), '\\s+') AS w
                FROM documents)),
        tot AS (SELECT source, count(*) AS t FROM sg GROUP BY source),
        sh AS (SELECT a.source AS source_a, b.source AS source_b,
                      count(*) AS shared_grams
               FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
               GROUP BY 1, 2)
        SELECT source_a, source_b, shared_grams,
               ta.t AS grams_a, tb.t AS grams_b,
               round(shared_grams / least(ta.t, tb.t), 6) AS overlap_coef
        FROM sh JOIN tot ta ON ta.source = source_a
                JOIN tot tb ON tb.source = source_b"""


def _prefix_jaccard_sql(threshold: float = 0.8) -> str:
    """The same exact inverted-index Jaccard SQL as the jaccard_pairs
    oracle, over the FULL corpus — prefix filtering is a candidate-
    pruning strategy, not a semantics change, so the ground truth IS the
    plain exact join."""
    return f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(
                     string_split_regex(lower(text), '\\s+'))) AS token
              FROM documents
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              FROM toks a JOIN toks b USING (token)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT id1, id2,
                   round(inter / (s1.sz + s2.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE round(inter / (s1.sz + s2.sz - inter), 6) >= {threshold}"""


def _embedding_drift_sql() -> str:
    """Per-(label, dim) 6-dp-rounded means for the even/odd halves, then
    dim-ordered list folds for the cosine/norm finish — the identical
    round-then-fold order as similarity.embedding_drift."""
    return """
        WITH per_dim AS (
          SELECT label AS g, i AS d,
                 round(avg(CASE WHEN vec_id % 2 = 0
                                THEN embedding[i]::DOUBLE END), 6) AS mr,
                 round(avg(CASE WHEN vec_id % 2 = 1
                                THEN embedding[i]::DOUBLE END), 6) AS mc,
                 sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS nr,
                 sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS nc
          FROM embeddings, generate_series(1, 64) AS t(i)
          WHERE label IS NOT NULL AND embedding IS NOT NULL
          GROUP BY 1, 2),
        folded AS (
          SELECT g,
                 max(nr) AS n_ref, max(nc) AS n_cur,
                 list(mr ORDER BY d) AS ar, list(mc ORDER BY d) AS ac
          FROM per_dim GROUP BY g)
        SELECT g AS label, n_ref, n_cur,
               CASE WHEN sqrt(list_sum(list_transform(ar, x -> x * x))) > 0
                     AND sqrt(list_sum(list_transform(ac, x -> x * x))) > 0
                    THEN round(
                      list_sum(list_transform(generate_series(1, 64),
                                              i -> ar[i] * ac[i]))
                      / (sqrt(list_sum(list_transform(ar, x -> x * x)))
                         * sqrt(list_sum(list_transform(ac, x -> x * x)))), 6)
               END AS centroid_cosine,
               CASE WHEN sqrt(list_sum(list_transform(ar, x -> x * x))) > 0
                    THEN round(sqrt(list_sum(list_transform(ac, x -> x * x)))
                               / sqrt(list_sum(list_transform(ar, x -> x * x))), 6)
               END AS norm_ratio
        FROM folded"""


def _mutual_info_sql() -> str:
    """Exact categorical MI from the joint cell table; marginals
    re-reduce from cells, NMI computed from the ROUNDED h_x/h_y/mi
    exactly as profile.mutual_info does (so engine ln() last-ulp noise
    is absorbed before the normalization)."""
    return f"""
        WITH base AS (
          SELECT event_type AS x, ({_EV_MS} // 3600000) % 24 AS y
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
        cells AS (SELECT x, y, count(*) AS c FROM base GROUP BY 1, 2),
        mx AS (SELECT x, sum(c)::BIGINT AS cx FROM cells GROUP BY x),
        my AS (SELECT y, sum(c)::BIGINT AS cy FROM cells GROUP BY y),
        nt AS (SELECT sum(c)::BIGINT AS n FROM cells),
        mi AS (SELECT max(nt.n) AS n,
                      count(DISTINCT cells.x) AS n_x,
                      count(DISTINCT cells.y) AS n_y,
                      round(sum((c / nt.n) * ln(c * nt.n / (cx * cy))), 6) AS mi
               FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nt),
        hx AS (SELECT round(-sum((cx / nt.n) * ln(cx / nt.n)), 6) AS h_x
               FROM mx CROSS JOIN nt),
        hy AS (SELECT round(-sum((cy / nt.n) * ln(cy / nt.n)), 6) AS h_y
               FROM my CROSS JOIN nt)
        SELECT n, n_x, n_y, h_x, h_y, mi,
               CASE WHEN h_x > 0 AND h_y > 0
                    THEN round(mi / sqrt(h_x * h_y), 6) END AS nmi
        FROM mi CROSS JOIN hx CROSS JOIN hy"""


def _cuped_sql(split_ms: int = 1705276800000) -> str:
    """CUPED replay: per-user integer-cent (x, y) sums, pooled θ and
    per-arm finals in the IDENTICAL double-precision op order as
    experiment.cuped_readout (left-assoc products, cents→units last)."""
    return f"""
        WITH per AS (
          SELECT user_id % 2 AS arm,
                 sum(CASE WHEN epoch_ms(ts) < {split_ms}
                          THEN CAST(round(value * 100) AS BIGINT)
                          ELSE 0 END)::BIGINT AS x,
                 sum(CASE WHEN epoch_ms(ts) >= {split_ms}
                          THEN CAST(round(value * 100) AS BIGINT)
                          ELSE 0 END)::BIGINT AS y
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY user_id),
        g AS (SELECT count(*)::BIGINT AS gn, sum(x)::BIGINT AS gsx,
                     sum(y)::BIGINT AS gsy, sum(x * x)::BIGINT AS gsxx,
                     sum(x * y)::BIGINT AS gsxy
              FROM per),
        th AS (SELECT CASE WHEN (gsxx::DOUBLE - gsx::DOUBLE * gsx::DOUBLE / gn::DOUBLE) > 0
                           THEN (gsxy::DOUBLE - gsx::DOUBLE * gsy::DOUBLE / gn::DOUBLE)
                                / (gsxx::DOUBLE - gsx::DOUBLE * gsx::DOUBLE / gn::DOUBLE)
                           ELSE 0.0e0 END AS theta,
                      gsx::DOUBLE / gn::DOUBLE AS xbar
               FROM g),
        arms AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                        sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
                        sum(y * y)::BIGINT AS syy, sum(x * y)::BIGINT AS sxy
                 FROM per GROUP BY arm),
        fin AS (SELECT arm, n,
                       sy::DOUBLE / n::DOUBLE AS my,
                       sx::DOUBLE / n::DOUBLE AS mx,
                       (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE) / n::DOUBLE AS vy,
                       (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / n::DOUBLE AS vx,
                       (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE) / n::DOUBLE AS cxy
                FROM arms)
        SELECT arm, n,
               round(my / 100.0e0, 6) AS mean_y,
               round((my - th.theta * (mx - th.xbar)) / 100.0e0, 6) AS mean_y_adj,
               round(vy / 10000.0e0, 6) AS var_y,
               round((vy - 2.0e0 * th.theta * cxy + th.theta * th.theta * vx)
                     / 10000.0e0, 6) AS var_y_adj,
               CASE WHEN vy > 0
                    THEN round(1.0e0 - (vy - 2.0e0 * th.theta * cxy
                                        + th.theta * th.theta * vx) / vy, 6)
               END AS var_reduction
        FROM fin CROSS JOIN th
        ORDER BY arm"""


def _srm_sql() -> str:
    """SRM χ² replay: distinct (arm, id) reduce, Σn_a² closed form over
    ALL k expected cells in the identical left-assoc double order."""
    return """
        WITH per AS (SELECT user_id % 2 AS arm, user_id
                     FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        pa AS (SELECT arm, count(*)::BIGINT AS na FROM per GROUP BY arm),
        t AS (SELECT sum(na)::BIGINT AS n, count(*)::BIGINT AS n_arms,
                     sum(na * na)::BIGINT AS sq
              FROM pa),
        t2 AS (SELECT n, n_arms, sq, n::DOUBLE / 2.0e0 AS e FROM t)
        SELECT n, n_arms,
               round((sq::DOUBLE - 2.0e0 * e * n::DOUBLE + 2.0e0 * e * e) / e,
                     6) AS chi2,
               ((sq::DOUBLE - 2.0e0 * e * n::DOUBLE + 2.0e0 * e * e) / e)
                   > 3.841 AS srm
        FROM t2"""


def _expect_rules_sql(rules) -> str:
    """Rule-audit replay: the same single-aggregate + per-rule UNION
    unroll, NULL verdicts counted as violations via the same
    NOT coalesce(expr, FALSE)."""
    vs = ",\n                 ".join(
        f"sum(CASE WHEN NOT coalesce({expr}, FALSE) THEN 1 ELSE 0 END)::BIGINT AS v{i}"
        for i, (_n, expr) in enumerate(rules)
    )
    union = "\n          UNION ALL ".join(
        f"SELECT '{name}' AS rule, n, v{i} AS violations FROM a"
        for i, (name, _e) in enumerate(rules)
    )
    return f"""
        WITH a AS (
          SELECT count(*)::BIGINT AS n,
                 {vs}
          FROM orders),
        u AS ({union})
        SELECT rule, n, violations,
               round((n - violations) / n, 6) AS pass_rate,
               violations = 0 AS passed
        FROM u"""


def _ab_ztest_sql() -> str:
    """Two-proportion z replay: per-user any-conversion flag, four
    integer counts, the identical pooled-SE closed form."""
    return """
        WITH per AS (
          SELECT user_id % 2 AS arm,
                 max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        a AS (SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
                     sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS c0,
                     sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
                     sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS c1
              FROM per WHERE arm < 2),
        f AS (SELECT n0, c0, n1, c1,
                     c0::DOUBLE / n0::DOUBLE AS p0,
                     c1::DOUBLE / n1::DOUBLE AS p1,
                     (c0::DOUBLE + c1::DOUBLE) / (n0::DOUBLE + n1::DOUBLE) AS pp
              FROM a),
        s AS (SELECT *, pp * (1.0e0 - pp) * (1.0e0 / n0::DOUBLE + 1.0e0 / n1::DOUBLE) AS se2
              FROM f)
        SELECT n0, c0, round(p0, 6) AS p0,
               n1, c1, round(p1, 6) AS p1,
               round(p1 - p0, 6) AS lift,
               CASE WHEN se2 > 0 THEN round((p1 - p0) / sqrt(se2), 6) END AS z,
               CASE WHEN se2 > 0 THEN abs((p1 - p0) / sqrt(se2)) > 1.96 END
                   AS significant
        FROM s"""


def _mann_whitney_sql() -> str:
    """Rank-sum replay: per-user integer-cent metric, midranks in exact
    half-units from the distinct-value count table (2·midrank =
    2·cum_before + t + 1), tie term Σ(t³−t) as BIGINT, then the
    identical double-precision closed forms in the same op order as
    experiment.mann_whitney."""
    return """
        WITH per AS (
          SELECT user_id % 2 AS arm,
                 sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS y
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        vc AS (SELECT y, count(*)::BIGINT AS t,
                      sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS t1
               FROM per WHERE arm < 2 GROUP BY y),
        r AS (SELECT t, t1,
                     COALESCE(sum(t) OVER (ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS cb
              FROM vc),
        a AS (SELECT sum(t)::BIGINT AS nn, sum(t1)::BIGINT AS n1,
                     sum(t1 * (2 * cb + t + 1))::BIGINT AS r1x2,
                     sum(t * t * t - t)::BIGINT AS ties
              FROM r),
        f AS (SELECT nn, n1,
                     r1x2::DOUBLE / 2.0e0
                       - n1::DOUBLE * (n1::DOUBLE + 1.0e0) / 2.0e0 AS u1,
                     (nn::DOUBLE - n1::DOUBLE) * n1::DOUBLE / 2.0e0 AS mu,
                     (nn::DOUBLE - n1::DOUBLE) * n1::DOUBLE / 12.0e0
                       * ((nn::DOUBLE + 1.0e0)
                          - ties::DOUBLE
                            / (nn::DOUBLE * (nn::DOUBLE - 1.0e0))) AS sig2
              FROM a)
        SELECT nn - n1 AS n0, n1,
               round(u1, 6) AS u1,
               CASE WHEN sig2 > 0 THEN round((u1 - mu) / sqrt(sig2), 6) END AS z,
               CASE WHEN sig2 > 0 THEN abs((u1 - mu) / sqrt(sig2)) > 1.96 END
                   AS significant
        FROM f"""


def _chi2_independence_sql(chi2_crit: float = 97.351) -> str:
    """χ²/Cramér's-V replay: joint cell table, broadcast marginals, the
    Σn²/e − n missing-cell closure and the identical double op order as
    profile.chi2_independence."""
    return f"""
        WITH cells AS (
          SELECT lang AS x, source AS y, count(*)::BIGINT AS c
          FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
        mx AS (SELECT x, sum(c)::BIGINT AS cx FROM cells GROUP BY x),
        my AS (SELECT y, sum(c)::BIGINT AS cy FROM cells GROUP BY y),
        a AS (SELECT sum(c)::BIGINT AS n,
                     count(DISTINCT cells.x) AS n_x,
                     count(DISTINCT cells.y) AS n_y,
                     sum(c::DOUBLE * c::DOUBLE / (cx::DOUBLE * cy::DOUBLE))
                         AS ratio
              FROM cells JOIN mx USING (x) JOIN my USING (y)),
        f AS (SELECT n, n_x, n_y,
                     (n_x - 1) * (n_y - 1) AS dof,
                     n::DOUBLE * ratio - n::DOUBLE AS c2,
                     least(n_x - 1, n_y - 1)::DOUBLE AS ms
              FROM a)
        SELECT n, n_x, n_y, dof,
               round(c2, 6) AS chi2,
               CASE WHEN dof > 0
                    THEN round(sqrt(greatest(c2, 0.0e0) / (n::DOUBLE * ms)), 6)
               END AS cramers_v,
               c2 > {chi2_crit} AS significant
        FROM f"""


def _calibration_sql(n_bins: int = 10) -> str:
    """Reliability-diagram replay: classifier probs from the pinned-
    weights oracle (subquery form so its WITH nests), heuristic-quality
    median label, micro-unit BIGINT bin sums, identical final
    divisions as profile.calibration_report."""
    return f"""
        WITH cls AS (SELECT doc_id, prob FROM (
            {_quality_classifier_oracle_sql()}
        )),
        q AS (SELECT doc_id, {_quality_expr()} AS quality FROM documents),
        med AS (SELECT round(quantile_cont(quality, 0.5), 6) AS m FROM q),
        lab AS (SELECT doc_id,
                       CASE WHEN quality >= med.m THEN 1 ELSE 0 END AS label
                FROM q CROSS JOIN med),
        j AS (SELECT least(greatest(prob, 0.0e0), 1.0e0) AS s, label
              FROM cls JOIN lab USING (doc_id)),
        b AS (SELECT least(CAST(floor(s * {n_bins}) AS INT), {n_bins - 1})
                         AS bin,
                     CAST(round(s * 1000000.0e0) AS BIGINT) AS su,
                     label::BIGINT AS yu
              FROM j),
        per AS (SELECT bin, count(*)::BIGINT AS n, sum(su)::BIGINT AS ss,
                       sum(yu)::BIGINT AS sy,
                       sum((su - yu * 1000000)
                           * (su - yu * 1000000))::BIGINT AS sq
                FROM b GROUP BY bin),
        tot AS (SELECT sum(n)::BIGINT AS t FROM per)
        SELECT bin, n,
               round(ss::DOUBLE / n::DOUBLE / 1000000.0e0, 6) AS mean_score,
               round(sy::DOUBLE / n::DOUBLE, 6) AS frac_pos,
               round(abs(ss::DOUBLE / n::DOUBLE / 1000000.0e0
                         - sy::DOUBLE / n::DOUBLE), 6) AS abs_gap,
               round(n::DOUBLE / t::DOUBLE, 6) AS weight,
               round(sq::DOUBLE / n::DOUBLE / 1000000000000.0e0, 6) AS brier
        FROM per CROSS JOIN tot ORDER BY bin"""


def _pareto_front_sql() -> str:
    """Skyline oracle: the LITERAL pairwise NOT EXISTS dominance
    definition over the quality/token table — the hash match against
    the operator's prefix-min decomposition proves the decomposition
    exact (sampling.pareto_front's equivalence argument)."""
    return f"""
        WITH q AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens,
                 {_quality_expr()} AS quality
          FROM documents)
        SELECT d.doc_id, d.quality, d.n_tokens
        FROM q d
        WHERE NOT EXISTS (
          SELECT 1 FROM q e
          WHERE e.quality >= d.quality AND e.n_tokens <= d.n_tokens
            AND (e.quality > d.quality OR e.n_tokens < d.n_tokens))
        ORDER BY d.doc_id"""


def _conformal_sql(alpha: float = 0.1) -> str:
    """Split-conformal replay: per-(group, distinct value) counts,
    group-partitioned cumulative rank, the ⌈(n+1)(1−α)⌉-th order
    statistic — exact ranks, no interpolating quantile."""
    return f"""
        WITH vc AS (
          SELECT event_type AS g, value AS v, count(*)::BIGINT AS c
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        r AS (SELECT g, v,
                     sum(c) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       ::BIGINT AS cum,
                     sum(c) OVER (PARTITION BY g)::BIGINT AS n
              FROM vc),
        k AS (SELECT g, n,
                     CAST(ceil((n + 1) * {1.0 - alpha}) AS BIGINT) AS k
              FROM r GROUP BY g, n),
        pick AS (SELECT r.g, k.n, k.k,
                        min(CASE WHEN r.cum >= k.k THEN r.v END) AS thr
                 FROM r JOIN k ON r.g = k.g
                 GROUP BY r.g, k.n, k.k)
        SELECT g AS event_type, n, k,
               CASE WHEN k <= n THEN round(thr, 6) END AS threshold
        FROM pick ORDER BY event_type"""


def _power_mde_sql() -> str:
    """MDE replay: per-user integer-cent reduce, population σ closed
    form, the literal size grid, identical double op order."""
    sizes = ", ".join(
        f"({x})" for x in (1_000, 5_000, 10_000, 50_000, 100_000, 500_000, 1_000_000)
    )
    return f"""
        WITH per AS (
          SELECT user_id, sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS y
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        g AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s,
                     sum(y * y)::BIGINT AS ss
              FROM per),
        st AS (SELECT n AS n_pilot,
                      sqrt(greatest((ss::DOUBLE - s::DOUBLE * s::DOUBLE
                                     / n::DOUBLE) / n::DOUBLE, 0.0e0))
                          AS sigma_c,
                      s::DOUBLE / n::DOUBLE AS mean_c
               FROM g),
        grid(n_per_arm) AS (VALUES {sizes})
        SELECT n_per_arm::BIGINT AS n_per_arm, n_pilot,
               round(sigma_c / 100.0e0, 6) AS sigma,
               round((1.96e0 + 0.8416e0) * sigma_c
                     * sqrt(2.0e0 / n_per_arm::DOUBLE) / 100.0e0, 6) AS mde,
               CASE WHEN abs(mean_c) > 0
                    THEN round((1.96e0 + 0.8416e0) * sigma_c
                               * sqrt(2.0e0 / n_per_arm::DOUBLE)
                               / abs(mean_c), 6)
               END AS mde_rel
        FROM grid CROSS JOIN st ORDER BY n_per_arm"""


def _benford_sql(mad_crit: float = 0.015) -> str:
    """Benford replay: integer-cent first digit via BIGINT→string
    substr, 9-row expected-share rectangle per group (missing digits
    charged), identical double op order as profile.benford_audit."""
    import math

    exp_rows = " UNION ALL ".join(
        f"SELECT {d} AS d, {math.log10(1.0 + 1.0 / d)!r}::DOUBLE AS e"
        for d in range(1, 10)
    )
    return f"""
        WITH base AS (
          SELECT event_type AS g,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type IS NOT NULL),
        cells AS (
          SELECT g, CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS d,
                 count(*)::BIGINT AS c
          FROM base WHERE cents > 0 GROUP BY 1, 2),
        ex AS ({exp_rows}),
        gt AS (SELECT g, sum(c)::BIGINT AS n FROM cells GROUP BY g),
        rect AS (
          SELECT gt.g, gt.n, ex.e, COALESCE(cells.c, 0)::BIGINT AS c
          FROM gt CROSS JOIN ex
          LEFT JOIN cells ON cells.g = gt.g AND cells.d = ex.d),
        per AS (
          SELECT g, n,
                 sum((c::DOUBLE / n::DOUBLE - e) * (c::DOUBLE / n::DOUBLE - e)
                     / e) AS x2,
                 sum(abs(c::DOUBLE / n::DOUBLE - e)) AS sad
          FROM rect GROUP BY g, n)
        SELECT g AS event_type, n,
               round(n::DOUBLE * x2, 6) AS chi2,
               round(sad / 9.0e0, 6) AS mad,
               sad / 9.0e0 <= {mad_crit} AS conforming
        FROM per ORDER BY event_type"""


def _did_sql(split_ms: int = 1705276800000) -> str:
    """DiD replay: the cuped per-entity integer-cent (x, y) reduce,
    per-arm sums incl. the delta moments, identical double-precision
    closed forms (delta variance absorbs within-entity covariance)."""
    return f"""
        WITH per AS (
          SELECT user_id % 2 AS arm,
                 sum(CASE WHEN epoch_ms(ts) < {split_ms}
                          THEN CAST(round(value * 100) AS BIGINT)
                          ELSE 0 END)::BIGINT AS x,
                 sum(CASE WHEN epoch_ms(ts) >= {split_ms}
                          THEN CAST(round(value * 100) AS BIGINT)
                          ELSE 0 END)::BIGINT AS y
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY user_id),
        arms AS (SELECT arm, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
                        sum(y)::BIGINT AS sy, sum(y - x)::BIGINT AS sd,
                        sum((y - x) * (y - x))::BIGINT AS sdd
                 FROM per WHERE arm < 2 GROUP BY arm),
        w AS (SELECT
                max(CASE WHEN arm = 0 THEN n END) AS n0,
                max(CASE WHEN arm = 1 THEN n END) AS n1,
                max(CASE WHEN arm = 0 THEN sx END) AS sx0,
                max(CASE WHEN arm = 1 THEN sx END) AS sx1,
                max(CASE WHEN arm = 0 THEN sy END) AS sy0,
                max(CASE WHEN arm = 1 THEN sy END) AS sy1,
                max(CASE WHEN arm = 0 THEN sd END) AS sd0,
                max(CASE WHEN arm = 1 THEN sd END) AS sd1,
                max(CASE WHEN arm = 0 THEN sdd END) AS sdd0,
                max(CASE WHEN arm = 1 THEN sdd END) AS sdd1
              FROM arms),
        f AS (SELECT n0, n1, sx0, sx1, sy0, sy1,
                     (sdd0::DOUBLE - sd0::DOUBLE * sd0::DOUBLE / n0::DOUBLE)
                         / n0::DOUBLE AS vd0,
                     (sdd1::DOUBLE - sd1::DOUBLE * sd1::DOUBLE / n1::DOUBLE)
                         / n1::DOUBLE AS vd1,
                     (sd1::DOUBLE / n1::DOUBLE - sd0::DOUBLE / n0::DOUBLE)
                         / 100.0e0 AS did
              FROM w),
        s AS (SELECT *,
                     sqrt(vd0 / n0::DOUBLE + vd1 / n1::DOUBLE) / 100.0e0 AS se
              FROM f)
        SELECT n0 AS n_ctrl, n1 AS n_treat,
               round(sx0::DOUBLE / n0::DOUBLE / 100.0e0, 6) AS pre_ctrl,
               round(sy0::DOUBLE / n0::DOUBLE / 100.0e0, 6) AS post_ctrl,
               round(sx1::DOUBLE / n1::DOUBLE / 100.0e0, 6) AS pre_treat,
               round(sy1::DOUBLE / n1::DOUBLE / 100.0e0, 6) AS post_treat,
               round(did, 6) AS did,
               round(se, 6) AS se,
               CASE WHEN se > 0 THEN round(did / se, 6) END AS z,
               CASE WHEN se > 0 THEN abs(did / se) > 1.96 END AS significant
        FROM s"""


def _modularity_sql() -> str:
    """Modularity replay: the dedup_clusters recursive-reachability
    labels composed with degree/within-edge aggregates — exact BIGINTs
    until the per-community term, same op order as graph.modularity."""
    return (
        "\nWITH RECURSIVE "
        + _minhash_lsh_ctes()
        + """,
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
        ),
        lab AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        deg AS (SELECT src AS id, count(*)::BIGINT AS deg
                FROM edges GROUP BY src),
        dc AS (SELECT lab.c, sum(deg.deg)::BIGINT AS dc,
                      count(*)::BIGINT AS nn
               FROM deg JOIN lab USING (id) GROUP BY lab.c),
        mc AS (SELECT la.c, count(*)::BIGINT AS mc
               FROM pairs p
               JOIN lab la ON p.id1 = la.id
               JOIN lab lb ON p.id2 = lb.id
               WHERE la.c = lb.c GROUP BY la.c),
        m AS (SELECT count(*)::BIGINT AS m FROM pairs),
        comm AS (SELECT dc.c, dc.dc, dc.nn,
                        COALESCE(mc.mc, 0)::BIGINT AS mc, m.m
                 FROM dc LEFT JOIN mc ON dc.c = mc.c CROSS JOIN m)
        SELECT sum(nn)::BIGINT AS n_nodes,
               max(m)::BIGINT AS n_edges,
               count(*)::BIGINT AS n_communities,
               round(sum(mc::DOUBLE / m::DOUBLE
                         - (dc::DOUBLE / (2.0e0 * m::DOUBLE))
                           * (dc::DOUBLE / (2.0e0 * m::DOUBLE))), 6)
                   AS modularity
        FROM comm"""
    )


def _survival_km_sql(horizon_days: int = 3) -> str:
    """KM product-limit replay: per-user first/last epoch-seconds reduce,
    censor flag vs the global max, strata counts, at-risk via
    total-minus-cumulative, survival = exp(Σ ln(1 − d/n)) with the
    zero-factor guard — the identical float recipe survival_km prices
    (integer counts until the final ln/exp chain)."""
    return f"""
        WITH pts AS (
          SELECT user_id, epoch_ms(ts) // 1000 AS es
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        g AS (SELECT max(es) AS gmax FROM pts),
        per AS (SELECT user_id, min(es) AS f, max(es) AS l FROM pts GROUP BY 1),
        life AS (
          SELECT (l - f) // 86400 AS duration_days,
                 CASE WHEN g.gmax - l > {horizon_days} * 86400 THEN 1 ELSE 0 END AS ev
          FROM per CROSS JOIN g),
        strata AS (
          SELECT duration_days, sum(ev)::BIGINT AS n_events,
                 sum(1 - ev)::BIGINT AS n_censored
          FROM life GROUP BY 1),
        ar AS (
          SELECT duration_days, n_events, n_censored,
                 (sum(n_events + n_censored) OVER ()
                  - sum(n_events + n_censored) OVER w
                  + n_events + n_censored)::BIGINT AS n_risk
          FROM strata
          WINDOW w AS (ORDER BY duration_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT duration_days, n_risk, n_events, n_censored,
               CASE WHEN max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
                         OVER w = 1 THEN 0.0e0
                    ELSE round(exp(sum(CASE WHEN n_events < n_risk
                                            THEN ln(1 - n_events / n_risk)
                                            ELSE 0.0e0 END) OVER w), 6)
               END AS survival
        FROM ar
        WINDOW w AS (ORDER BY duration_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY duration_days"""


def _adamic_adar_sql(k: int = 100) -> str:
    """Wedge-sum AA over the 48 h user co-activity graph: centers joined
    with their degree (always >= 2 for a wedge, so ln is finite),
    non-edges kept via NOT EXISTS on the canonical (id1 < id2) pair
    list."""
    return (
        f"""
        WITH ub AS (
          SELECT DISTINCT event_type,
                 {_EV_MS} - {_EV_MS} % 3600000 AS bucket,
                 user_id AS u
          FROM events WHERE {_EV_MS} < {T1 + 48 * MS_H}),
        capped AS (
          SELECT event_type, bucket, u FROM (
            SELECT event_type, bucket, u,
                   row_number() OVER (PARTITION BY event_type, bucket
                      ORDER BY md5(CAST(u AS VARCHAR)), u) AS rn
            FROM ub) WHERE rn <= 20),
        pairs AS (
          SELECT DISTINCT a.u AS id1, b.u AS id2
          FROM capped a JOIN capped b
            ON a.event_type = b.event_type AND a.bucket = b.bucket
           AND a.u < b.u),
        sym AS (SELECT id1 AS s, id2 AS d FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
        wedge AS (
          SELECT e1.d AS v, e2.d AS w, deg.deg
          FROM sym e1
          JOIN sym e2 ON e1.s = e2.s AND e1.d < e2.d
          JOIN deg ON deg.s = e1.s AND deg.deg <= 200),
        aa AS (
          SELECT v, w,
                 round(sum(1e0 / ln(deg)), 6) AS aa_score,
                 count(*) AS common_neighbors
          FROM wedge GROUP BY 1, 2)
        SELECT v AS user_a, w AS user_b, aa_score, common_neighbors
        FROM aa
        WHERE NOT EXISTS (SELECT 1 FROM pairs p
                          WHERE p.id1 = aa.v AND p.id2 = aa.w)
        ORDER BY aa_score DESC, v, w LIMIT {k}"""
    )


def _bucket_sql(num_planes=4, dim=64, seed=42) -> str:
    """Sign-LSH bucket expression over a column named ``embedding`` — the
    same seed-42 hyperplanes as similarity.random_planes, inlined as
    DOUBLE-array literals so Spark and DuckDB compute identical buckets.
    list_dot_product's summation agrees with the Spark-side sequential fold
    to well past any decision boundary that matters (a sign flip would need
    a projection within float noise of exactly 0)."""
    planes = sim_ops.random_planes(num_planes, dim, seed)

    def proj(p):
        arr = ", ".join(repr(float(x)) for x in p)
        return f"list_dot_product(embedding::DOUBLE[], [{arr}]::DOUBLE[])"

    return "concat(" + ", ".join(
        f"CASE WHEN {proj(p)} >= 0 THEN '1' ELSE '0' END" for p in planes
    ) + ")"


# Two unrolled Lloyd rounds over embeddings (k=8, seeds = smallest
# md5-of-id), ending in m2 (6-dp centroid components, long form) and n2
# (cluster sizes) — shared by the `kmeans` oracle and the
# `semantic_dedup_trained` oracle, which feeds m2 into the SemDeDup cell
# assignment exactly as kmeans_centroids_as_cells does on the Spark side.
_KMEANS_CTES = """e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
            c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
                   FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
            a1 AS (SELECT id, v, cid FROM (
              SELECT id, v, cid,
                     row_number() OVER (PARTITION BY id
                                        ORDER BY csim DESC, cid ASC) AS r
              FROM (SELECT e.id, e.v, c0.cid,
                           list_dot_product(v, c) /
                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) AS csim
                    FROM e, c0)) WHERE r = 1),
            m1 AS (SELECT cid, dim1 - 1 AS dim, round(avg(x), 6) AS m FROM (
                     SELECT cid, unnest(generate_series(1, len(v))) AS dim1,
                            unnest(v) AS x FROM a1)
                   GROUP BY cid, dim1),
            c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
            a2 AS (SELECT id, v, cid FROM (
              SELECT id, v, cid,
                     row_number() OVER (PARTITION BY id
                                        ORDER BY csim DESC, cid ASC) AS r
              FROM (SELECT e.id, e.v, c1.cid,
                           list_dot_product(v, c) /
                           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) AS csim
                    FROM e, c1)) WHERE r = 1),
            m2 AS (SELECT cid, dim1 - 1 AS dim, round(avg(x), 6) AS c FROM (
                     SELECT cid, unnest(generate_series(1, len(v))) AS dim1,
                            unnest(v) AS x FROM a2)
                   GROUP BY cid, dim1),
            n2 AS (SELECT cid, count(*) AS n FROM a2 GROUP BY cid)"""


def _multi_lsh_sql(num_planes=4, num_tables=8, dim=64, seed=42, k=5) -> str:
    """lsh_ann_topk_multi oracle: T independent plane sets (seeds
    seed..seed+T-1) inlined as DOUBLE-array literals via _bucket_sql; the
    OR-of-tables candidate set as a DISTINCT pair join, exact cosine
    re-score, same (sim DESC, cand_id ASC) rank rule as every ANN
    oracle here."""
    buckets = ", ".join(
        f"{_bucket_sql(num_planes, dim, seed + t)} AS b{t}" for t in range(num_tables)
    )
    ors = " OR ".join(f"q.b{t} = c.b{t}" for t in range(num_tables))
    return f"""
        WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v, {buckets} FROM embeddings),
        q AS (SELECT * FROM b WHERE vec_id < 5),
        p AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              FROM q JOIN b c ON c.vec_id <> q.vec_id AND ({ors})),
        s AS (SELECT query_id, cand_id,
                     list_dot_product(qb.v, cb.v) /
                     (sqrt(list_dot_product(qb.v, qb.v)) *
                      sqrt(list_dot_product(cb.v, cb.v))) AS sim
              FROM p JOIN b qb ON p.query_id = qb.vec_id
                     JOIN b cb ON p.cand_id = cb.vec_id)
        SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rank FROM (
          SELECT query_id, cand_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, cand_id ASC) AS rank
          FROM s) WHERE rank <= {k}"""


def _near_dup_lsh_sql(threshold=0.4, num_planes=4, dim=64, seed=42) -> str:
    """cosine_near_dup_lsh oracle: identical bucket function (see
    _bucket_sql), equi-join on bucket, exact cosine re-score — the same
    pairing as the r1-green cosine_near_dup oracle."""
    bucket = _bucket_sql(num_planes, dim, seed)
    return f"""
        WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings)
        SELECT id1, id2, s AS cosine_sim FROM (
          SELECT a.vec_id AS id1, e.vec_id AS id2,
                 round(list_dot_product(a.embedding::DOUBLE[], e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS s
          FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id)
        WHERE s >= {threshold}"""


def _quality_expr() -> str:
    """The quality_score composite as a SQL expression over ``text`` —
    shared by the quality_score and clean_corpus oracles."""
    stop_list = ", ".join(repr(w) for w in text_ops.STOPWORDS)
    return f"""round(0.4 * least(len(regexp_extract_all(text, '[^\\s]+')) / 100.0, 1.0)
                 + 0.3 * (1 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                              / greatest(length(text), 1))
                 + 0.3 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
                                          x -> x IN ({stop_list})))
                          / greatest(len(regexp_extract_all(text, '[^\\s]+')), 1)),
                 6)"""


def _clean_corpus_sql(quality_threshold=0.5, rate_16ths=4) -> str:
    """All four clean_corpus gates re-derived in one SQL statement: exact
    keepers (min id per md5), near-dup purge (recursive reachability over
    the LSH pairs), rounded quality gate, md5-of-id sample gate."""
    gate_digits = ", ".join(repr(d) for d in "0123456789abcdef"[:rate_16ths])
    return (
        "\nWITH RECURSIVE "
        + _minhash_lsh_ctes()
        + f""",
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
        ),
        purge AS (SELECT id AS doc_id FROM (
          SELECT id, min(r) AS m FROM reach GROUP BY id) WHERE id != m),
        keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
        SELECT doc_id, lang, source, n_chars,
               len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens,
               {_quality_expr()} AS quality
        FROM documents d
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ({gate_digits})
          AND doc_id IN (SELECT doc_id FROM keepers)
          AND doc_id NOT IN (SELECT doc_id FROM purge)
          AND {_quality_expr()} >= {quality_threshold}"""
    )


def _lttb_sql(n_out=50) -> str:
    """lttb oracle: recursive CTE advancing one bucket per iteration per
    series, carrying the previously picked (x, y) as the triangle anchor.
    Arithmetic mirrors operators/timeseries.py:lttb exactly — integer
    floor-division bucketing, exact integer-x centroids, 6-dp-quantized
    centroid y, the same IEEE area expression, first-max tie-break."""
    nb = n_out - 2
    area = (
        "abs((ax0 - bx) * (cy[t] - ay0) - (ax0 - cx[t]) * (by - ay0))"
    )
    return f"""
        WITH RECURSIVE
        pts AS (
          SELECT event_type AS k, {_EV_MS} AS x, max(value) AS y
          FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2} GROUP BY 1, 2),
        idx AS (
          SELECT k, x, y,
                 CAST(row_number() OVER (PARTITION BY k ORDER BY x) - 1
                      AS BIGINT) AS i,
                 count(*) OVER (PARTITION BY k) AS n
          FROM pts),
        small AS (SELECT k, x, y FROM idx WHERE n <= {n_out}),
        big AS (SELECT * FROM idx WHERE n > {n_out}),
        mid AS (
          SELECT k, x, y, ((i - 1) * {nb}) // (n - 2) AS b
          FROM big WHERE i >= 1 AND i <= n - 2),
        buckets AS (
          SELECT k, b, list(x ORDER BY x) AS cx, list(y ORDER BY x) AS cy,
                 avg(x) AS mx, round(avg(y), 6) AS my
          FROM mid GROUP BY k, b),
        lastpt AS (SELECT k, x AS lx, y AS ly FROM big WHERE i = n - 1),
        nbmax AS (SELECT k, max(b) AS bmax FROM buckets GROUP BY k),
        sel AS (
          SELECT k, CAST(-1 AS BIGINT) AS b, CAST(x AS DOUBLE) AS ax, y AS ay
          FROM big WHERE i = 0
          UNION ALL
          SELECT k, b, CAST(cx[pos] AS DOUBLE) AS ax, cy[pos] AS ay FROM (
            SELECT k, b, cx, cy,
                   NULLIF(list_position(areas,
                            list_aggregate(areas, 'max')), 0) AS pos
            FROM (
              SELECT k, b, cx, cy,
                     list_transform(generate_series(1, len(cx)),
                                    t -> {area}) AS areas
              FROM (
                SELECT s.k, c.b, c.cx, c.cy, s.ax AS ax0, s.ay AS ay0,
                       CASE WHEN c.b < m.bmax THEN c2.mx
                            ELSE CAST(lp.lx AS DOUBLE) END AS bx,
                       CASE WHEN c.b < m.bmax THEN c2.my ELSE lp.ly END AS by
                FROM sel s
                JOIN buckets c ON c.k = s.k AND c.b = s.b + 1
                JOIN nbmax m   ON m.k = s.k
                JOIN lastpt lp ON lp.k = s.k
                LEFT JOIN buckets c2 ON c2.k = s.k AND c2.b = s.b + 2))))
        SELECT k AS event_type, CAST(x AS BIGINT) AS ts_ms, y AS value FROM (
          SELECT k, x, y FROM small
          UNION ALL
          SELECT k, CAST(ax AS BIGINT) AS x, ay AS y FROM sel
          UNION ALL
          SELECT k, lx AS x, ly AS y FROM lastpt)"""


def _lttb_chunked_sql(n_out=48, chunk_ms=21_600_000) -> str:
    """lttb_chunked oracle: the exact-lttb recursive CTE with the chunk
    key threaded through every join and a per-(series, chunk) quota
    ``greatest(2, (n_out · cnt) // n_total)`` in place of the global
    n_out.  A quota-2 chunk keeps endpoints only (``q > 2`` guard on the
    mid CTE — mirrors the Spark picker's empty bucket loop at nb=0)."""
    area = "abs((ax0 - bx) * (cy[t] - ay0) - (ax0 - cx[t]) * (by - ay0))"
    return f"""
        WITH RECURSIVE
        pts AS (
          SELECT event_type AS k,
                 ({_EV_MS}) - ({_EV_MS}) % {chunk_ms} AS ch,
                 {_EV_MS} AS x, max(value) AS y
          FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2} GROUP BY 1, 2, 3),
        quotas AS (
          SELECT k, ch,
                 greatest(2, CAST(({n_out} * count(*)) //
                   (sum(count(*)) OVER (PARTITION BY k)) AS BIGINT)) AS q
          FROM pts GROUP BY k, ch),
        idx AS (
          SELECT p.k, p.ch, p.x, p.y, qq.q,
                 CAST(row_number() OVER (PARTITION BY p.k, p.ch ORDER BY p.x) - 1
                      AS BIGINT) AS i,
                 count(*) OVER (PARTITION BY p.k, p.ch) AS n
          FROM pts p JOIN quotas qq ON qq.k = p.k AND qq.ch = p.ch),
        small AS (SELECT k, ch, x, y FROM idx WHERE n <= q),
        big AS (SELECT * FROM idx WHERE n > q),
        mid AS (
          SELECT k, ch, x, y, ((i - 1) * (q - 2)) // (n - 2) AS b
          FROM big WHERE i >= 1 AND i <= n - 2 AND q > 2),
        buckets AS (
          SELECT k, ch, b, list(x ORDER BY x) AS cx, list(y ORDER BY x) AS cy,
                 avg(x) AS mx, round(avg(y), 6) AS my
          FROM mid GROUP BY k, ch, b),
        lastpt AS (SELECT k, ch, x AS lx, y AS ly FROM big WHERE i = n - 1),
        nbmax AS (SELECT k, ch, max(b) AS bmax FROM buckets GROUP BY k, ch),
        sel AS (
          SELECT k, ch, CAST(-1 AS BIGINT) AS b, CAST(x AS DOUBLE) AS ax, y AS ay
          FROM big WHERE i = 0
          UNION ALL
          SELECT k, ch, b, CAST(cx[pos] AS DOUBLE) AS ax, cy[pos] AS ay FROM (
            SELECT k, ch, b, cx, cy,
                   NULLIF(list_position(areas,
                            list_aggregate(areas, 'max')), 0) AS pos
            FROM (
              SELECT k, ch, b, cx, cy,
                     list_transform(generate_series(1, len(cx)),
                                    t -> {area}) AS areas
              FROM (
                SELECT s.k, s.ch, c.b, c.cx, c.cy, s.ax AS ax0, s.ay AS ay0,
                       CASE WHEN c.b < m.bmax THEN c2.mx
                            ELSE CAST(lp.lx AS DOUBLE) END AS bx,
                       CASE WHEN c.b < m.bmax THEN c2.my ELSE lp.ly END AS by
                FROM sel s
                JOIN buckets c ON c.k = s.k AND c.ch = s.ch AND c.b = s.b + 1
                JOIN nbmax m   ON m.k = s.k AND m.ch = s.ch
                JOIN lastpt lp ON lp.k = s.k AND lp.ch = s.ch
                LEFT JOIN buckets c2 ON c2.k = s.k AND c2.ch = s.ch
                                    AND c2.b = s.b + 2))))
        SELECT k AS event_type, CAST(x AS BIGINT) AS ts_ms, y AS value FROM (
          SELECT k, x, y FROM small
          UNION ALL
          SELECT k, CAST(ax AS BIGINT) AS x, ay AS y FROM sel
          UNION ALL
          SELECT k, lx AS x, ly AS y FROM lastpt)"""


def _pack_sequences_sql(cap=512, groups=8) -> str:
    """pack_sequences oracle: a recursive CTE replays first-fit-decreasing
    exactly — one doc per iteration per group in (n_tokens DESC, doc_id)
    order, the running bin-fill list carried as a DuckDB LIST.  The md5
    first-hex-digit group hash and regexp token count match the Spark
    side's group_hash="md5" mode expression for expression."""
    return f"""
        WITH RECURSIVE
        docs AS (
          SELECT CAST((strpos('0123456789abcdef',
                              substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                      % {groups} AS INT) AS pack_group,
                 doc_id,
                 CAST(len(regexp_extract_all(text, '[^\\s]+')) AS BIGINT)
                     AS n_tokens
          FROM documents),
        ordered AS (
          SELECT *, row_number() OVER (PARTITION BY pack_group
                                       ORDER BY n_tokens DESC, doc_id) AS rn
          FROM docs),
        steps AS (
          SELECT pack_group, rn, doc_id, n_tokens,
                 0::BIGINT AS bin_id, [n_tokens] AS fills
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT pack_group, rn, doc_id, n_tokens,
                 CASE WHEN idx IS NULL THEN CAST(len(fills) AS BIGINT)
                      ELSE CAST(idx - 1 AS BIGINT) END AS bin_id,
                 CASE WHEN idx IS NULL THEN list_append(fills, n_tokens)
                      ELSE list_concat(list_concat(
                             fills[1:idx-1], [fills[idx] + n_tokens]),
                             fills[idx+1:len(fills)]) END AS fills
          FROM (SELECT s.pack_group, o.rn, o.doc_id, o.n_tokens, s.fills,
                       NULLIF(list_position(list_transform(
                         s.fills, f -> f + o.n_tokens <= {cap}), true), 0)
                           AS idx
                FROM steps s
                JOIN ordered o ON o.pack_group = s.pack_group
                              AND o.rn = s.rn + 1)),
        final AS (
          SELECT pack_group, fills FROM (
            SELECT pack_group, fills,
                   row_number() OVER (PARTITION BY pack_group
                                      ORDER BY rn DESC) AS rk
            FROM steps) WHERE rk = 1)
        SELECT st.pack_group, st.doc_id, st.n_tokens, st.bin_id,
               CAST(f.fills[CAST(st.bin_id AS INT) + 1] AS BIGINT) AS bin_fill
        FROM steps st JOIN final f USING (pack_group)"""


def _pca_dim_exprs(elem_fmt: str) -> list[str]:
    """The pinned-basis PCA projection as SQL text, one expression per
    output dim, from the committed fixture literals:
    round(Σ_i (elem[i] − mean[i])·comp[j][i], 6), left-associated in i
    order.  Since r10 only the DuckDB oracle consumes this unrolled
    text — the Spark side is similarity.pca_project_expr's
    aggregate/zip_with folds, which run the bit-identical reduction
    WITHOUT overflowing janino (VERDICT r9 #2); DuckDB has no codegen
    cliff so the flat text stays the simplest oracle.  ``elem_fmt``
    abstracts element access (``col[{i}]``, 1-based).  Float literals are repr()
    (round-trips every fp64 bit) with an explicit exponent so BOTH SQL
    parsers type them DOUBLE, never DECIMAL; embedding values are FLOAT
    in both engines, widened exactly by the subtraction — so the two
    engines run the bit-identical reduction and the hash gate applies
    to an operator whose training step is a driver eigensolve."""
    from time_series_databse_engine_spark.fixtures.pca_basis import COMPS, MEAN

    def lit(v: float) -> str:
        s = repr(float(v))
        return s if "e" in s or "E" in s else s + "e0"

    out = []
    for comp in COMPS:
        terms = " + ".join(
            f"({elem_fmt.format(i=i + 1)} - {lit(m)}) * {lit(c)}"
            for i, (m, c) in enumerate(zip(MEAN, comp))
        )
        out.append(f"round({terms}, 6)")
    return out


def _pca_oracle_sql() -> str:
    """One UNION ALL branch per output dim over the same generated
    expressions as the Spark side (see :func:`_pca_dim_exprs`)."""
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {j} AS dim_idx, {expr} AS value FROM embeddings"
        for j, expr in enumerate(_pca_dim_exprs("embedding[{i}]"))
    )


def _ivfpq_oracle_sql(quantizer_from: str = "embeddings") -> str:
    """IVFADC oracle: the pq_ann_topk encoding/recon CTEs + the
    ivf_ann_topk cell-assignment and probe CTEs, joined on cell_id —
    both quantizers draw the same 16 smallest-md5 sample (different
    roles: cells keyed by vec_id, codes numbered 0..15).

    ``quantizer_from`` parameterizes WHICH rows the quantizer sample is
    drawn from (a named parameter, not text splicing — the funnel-oracle
    lesson): the full corpus for ivfpq_topk / ann_index_probe, the BASE
    corpus only for ann_index_append, where the index's sidecars are
    pinned at build time and the appended batch is encoded with them."""
    return f"""
            WITH samp AS (SELECT vec_id, embedding FROM {quantizer_from}
                          ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
            cells AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS ccent
                      FROM samp),
            cents AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                       - 1 AS code,
                     embedding::DOUBLE[] AS cent
              FROM samp),
            c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
                  FROM embeddings),
            ca AS (SELECT cand_id, cell_id FROM (
              SELECT cand_id, cell_id,
                     row_number() OVER (PARTITION BY cand_id
                                        ORDER BY csim DESC, cell_id ASC) AS r
              FROM (SELECT cand_id, cell_id,
                           list_dot_product(cv, ccent) /
                           (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(ccent, ccent))) AS csim
                    FROM c, cells)) WHERE r = 1),
            sub AS (SELECT unnest(range(4)) AS j),
            dists AS (
              SELECT cand_id, j, code,
                     list_slice(cent, j*16 + 1, j*16 + 16) AS cent_sub,
                     list_dot_product(list_slice(cv, j*16 + 1, j*16 + 16),
                                      list_slice(cv, j*16 + 1, j*16 + 16))
                     - 2 * list_dot_product(list_slice(cv, j*16 + 1, j*16 + 16),
                                            list_slice(cent, j*16 + 1, j*16 + 16))
                     + list_dot_product(list_slice(cent, j*16 + 1, j*16 + 16),
                                        list_slice(cent, j*16 + 1, j*16 + 16)) AS d
              FROM c CROSS JOIN sub CROSS JOIN cents),
            enc AS (
              SELECT cand_id, j, cent_sub FROM (
                SELECT *, row_number() OVER (PARTITION BY cand_id, j
                                             ORDER BY d ASC, code ASC) AS r
                FROM dists) WHERE r = 1),
            recon AS (
              SELECT cand_id, flatten(list(cent_sub ORDER BY j)) AS recon
              FROM enc GROUP BY cand_id),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 5),
            qp AS (SELECT query_id, qv, cell_id FROM (
              SELECT query_id, qv, cell_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY csim DESC, cell_id ASC) AS r
              FROM (SELECT query_id, qv, cell_id,
                           list_dot_product(qv, ccent) /
                           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(ccent, ccent))) AS csim
                    FROM q, cells)) WHERE r <= 4),
            s AS (
              SELECT query_id, ca.cand_id,
                     round(list_dot_product(qv, qv)
                           - 2 * list_dot_product(qv, recon)
                           + list_dot_product(recon, recon), 6) AS approx_d2
              FROM qp JOIN ca USING (cell_id)
                      JOIN recon ON recon.cand_id = ca.cand_id
              WHERE ca.cand_id <> query_id)
            SELECT query_id, cand_id, approx_d2, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY approx_d2 ASC, cand_id ASC)
                          AS rank
              FROM s) WHERE rank <= 5"""


def _quality_classifier_oracle_sql() -> str:
    """Replay classifier_score with the pinned fixture weights as an
    integer MICRO-UNIT array literal: hashing_vectors' bucket/weight
    CTEs, an arr[bucket + 1] lookup, and the exact-integer dot product +
    half-away division classifier_score's docstring derives (a float sum
    + round(…, 6) genuinely ties here — products of two 6-dp-quantized
    factors sit on a 1e-12 grid that intersects the 5e-7 boundary)."""
    from time_series_databse_engine_spark.fixtures.quality_weights import (
        BIAS,
        WEIGHTS,
    )

    arr = "[" + ", ".join(str(int(round(w * 1e6))) for w in WEIGHTS) + "]"
    bias_u = int(round(BIAS * 1e6))
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x != '')) AS t
          FROM documents),
        c AS (SELECT doc_id,
                     ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1))
                       % 64 AS bucket,
                     count(*) AS n
              FROM toks GROUP BY 1, 2),
        w AS (SELECT doc_id, bucket,
                     round(n / sqrt(sum(n * n) OVER (PARTITION BY doc_id)), 6)
                         AS weight
              FROM c),
        wu AS (SELECT doc_id, bucket,
                      CAST(round(weight * 1000000.0e0) AS BIGINT) AS wgt_u
               FROM w),
        agg AS (
          SELECT doc_id,
                 {bias_u}::BIGINT * 1000000 + sum(({arr})[bucket + 1] * wgt_u)
                     AS lu
          FROM wu GROUP BY doc_id),
        l AS (SELECT doc_id,
                     CAST(CASE WHEN lu >= 0 THEN (lu + 500000) // 1000000
                               ELSE -((-lu + 500000) // 1000000) END
                          AS BIGINT) AS logit_micro
              FROM agg),
        p AS (SELECT doc_id, logit_micro,
                     round(1.0e0 / (1.0e0
                           + exp(-(logit_micro / 1000000.0e0))), 6) AS prob
              FROM l)
        SELECT doc_id, logit_micro, prob, prob >= 0.5e0 AS keep FROM p"""


def _bpe_oracle_sql(num_merges: int = 16) -> str:
    """Full-SQL replay of bpe_learn + bpe_apply (converts bpe_tokenize
    from rows-only to oracle-backed).  Two ideas make the 'iterative
    merge is not SQL-expressible' claim false at a FIXED merge budget:

    1. The learning loop unrolls: each of the ``num_merges`` rounds is a
       generated CTE trio — pair counts over the current segmentations
       (sum of word frequency), argmax with the operator's exact
       (count DESC, pair lex ASC) tiebreak, and a re-segmentation.
       Segmentations live as DOUBLE-separator strings
       ``^^t1^^t2^^`` (^ = US \\x1f): the merge of pair (a, b) is then a
       plain non-regex replace of ``^a^^b^`` with ``^ab^`` — each match
       consumes only the INNER separator of each boundary, so
       back-to-back occurrences ([a,b,a,b]) still share the outer one
       and a single left-to-right replace() merges both, exactly like
       the operator's one-pass list scan (a single-separator encoding
       would silently skip every second adjacent match).  Stages are
       MATERIALIZED: each is referenced twice, and inlining would make
       the plan 2^num_merges scans.
    2. The encode loop (merge the LOWEST-RANK adjacent pair until none
       applies) also unrolls to ``num_merges`` stages, replacing ALL
       occurrences of the current min-rank pair per stage.  That is
       provably identical to the operator's one-pair-at-a-time loop:
       in any merge list BPE learning can produce, a pair containing a
       composite token has strictly higher rank than the merges that
       built the token (the pair can only be counted after its parts
       exist), so merging one occurrence of the min-rank pair never
       creates a lower- or equal-rank pair — the loop drains all its
       occurrences left-to-right before moving on, which is exactly
       replace(); and since ranks strictly increase stage to stage,
       ``num_merges`` stages always reach the fixpoint.
    """
    S = "\x1f"
    pat = f"'{S}' || {{t}}.a || '{S}{S}' || {{t}}.b || '{S}'"
    rep = f"'{S}' || {{t}}.a || {{t}}.b || '{S}'"
    parts = [f"""
        WITH wf AS (
          SELECT w, count(*) AS f FROM (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x != '')) AS w
            FROM documents)
          GROUP BY w),
        segs_0 AS MATERIALIZED (
          SELECT w, f, regexp_replace(w, '(.)', '{S}{S}' || '\\1', 'g')
                       || '{S}{S}' AS seg
          FROM wf)"""]
    for i in range(1, num_merges + 1):
        parts.append(f""",
        prs_{i} AS (
          SELECT tk[i] AS a, tk[i + 1] AS b, sum(f) AS cnt
          FROM (SELECT f, tk, unnest(generate_series(1, len(tk) - 1)) AS i
                FROM (SELECT f, list_filter(string_split(seg, '{S}'),
                                            x -> x != '') AS tk
                      FROM segs_{i - 1})
                WHERE len(tk) >= 2)
          GROUP BY 1, 2),
        best_{i} AS MATERIALIZED (
          SELECT a, b FROM prs_{i} ORDER BY cnt DESC, a, b LIMIT 1),
        segs_{i} AS MATERIALIZED (
          SELECT s.w, s.f,
                 CASE WHEN b.a IS NULL THEN s.seg
                      ELSE replace(s.seg, {pat.format(t='b')}, {rep.format(t='b')})
                 END AS seg
          FROM segs_{i - 1} s LEFT JOIN best_{i} b ON TRUE)""")
    union = " UNION ALL ".join(
        f"SELECT {i} AS r, a, b FROM best_{i}" for i in range(1, num_merges + 1)
    )
    parts.append(f""",
        merges AS MATERIALIZED ({union}),
        enc_0 AS (SELECT w, seg FROM segs_0)""")
    for i in range(1, num_merges + 1):
        parts.append(f""",
        enc_{i} AS MATERIALIZED (
          SELECT e.w,
                 CASE WHEN m.a IS NULL THEN e.seg
                      ELSE replace(e.seg, {pat.format(t='m')}, {rep.format(t='m')})
                 END AS seg
          FROM (SELECT w, seg,
                       (SELECT min(r) FROM merges mm
                        WHERE contains(seg, '{S}' || mm.a || '{S}{S}'
                                              || mm.b || '{S}')) AS rmin
                FROM enc_{i - 1}) e
          LEFT JOIN merges m ON m.r = e.rmin)""")
    parts.append(f""",
        wlen AS (
          SELECT w, len(list_filter(string_split(seg, '{S}'), x -> x != ''))::BIGINT
                   AS n_tok
          FROM enc_{num_merges}),
        doctoks AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                            x -> x != '')) AS w
          FROM documents),
        agg AS (
          SELECT doc_id, count(*) AS n_words, sum(n_tok)::BIGINT AS n_bpe_tokens
          FROM doctoks JOIN wlen USING (w) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_words, 0)::BIGINT AS n_words,
               coalesce(a.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)""")
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    # composite-quality expression shared by quality_score and
    # quality_calibration (named variable, not text splicing — the
    # funnel-oracle lesson)
    _stops = ", ".join(repr(w) for w in text_ops.STOPWORDS)
    _quality_cte = f"""q AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens,
                   round(0.4 * least(len(regexp_extract_all(text, '[^\\s]+')) / 100.0, 1.0)
                         + 0.3 * (1 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                                      / greatest(length(text), 1))
                         + 0.3 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
                                                  x -> x IN ({_stops})))
                                  / greatest(len(regexp_extract_all(text, '[^\\s]+')), 1)),
                         6) AS quality
            FROM documents)"""
    lang_scores = ", ".join(
        f"len(list_filter(string_split_regex(lower(text), '\\s+'), "
        f"x -> x IN ({', '.join(repr(w) for w in text_ops.LANG_PROFILES[lang])}))) AS score_{lang}"
        for lang in sorted(text_ops.LANG_PROFILES)
    )
    langs = sorted(text_ops.LANG_PROFILES)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    guess_case = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"

    # STL decomposition SQL shared by stl_decompose and stl_anomaly
    # (named variable, not textual splicing - the funnel_rates lesson)
    _stl_sql = f"""
            WITH hourly AS (
              SELECT event_type, {_EV_MS} // 3600000 AS bucket,
                     round(sum(CAST(round(value * 100) AS BIGINT))
                           / count(*) / 100.0e0, 6) AS y,
                     CAST(round(round(sum(CAST(round(value * 100) AS BIGINT))
                                      / count(*) / 100.0e0, 6)
                                * 1000000.0e0) AS BIGINT) AS yi
              FROM events GROUP BY 1, 2),
            tr AS (
              SELECT event_type, bucket, y,
                     round((sum(yi) OVER w / count(yi) OVER w)
                           / 1000000.0e0, 6) AS trend,
                     bucket % 24 AS phase
              FROM hourly
              WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
            det AS (SELECT *, round(y - trend, 6) AS det FROM tr),
            seas AS (
              SELECT event_type, phase,
                     round((sum(CAST(round(det * 1000000.0e0) AS BIGINT))
                            / count(*)) / 1000000.0e0, 6) AS s_raw
              FROM det GROUP BY 1, 2),
            sm AS (
              SELECT event_type,
                     round((sum(CAST(round(s_raw * 1000000.0e0) AS BIGINT))
                            / count(*)) / 1000000.0e0, 6) AS s_mean
              FROM seas GROUP BY 1),
            sc AS (SELECT s.event_type, s.phase,
                          round(s.s_raw - m.s_mean, 6) AS seasonal
                   FROM seas s JOIN sm m USING (event_type))
            SELECT d.event_type, d.bucket, d.phase, d.y, d.trend, sc.seasonal,
                   round(d.y - d.trend - sc.seasonal, 6) AS residual
            FROM det d JOIN sc USING (event_type, phase)"""

    oracles = {
        "range_scan": f"""
            SELECT event_id, {_EV_MS} AS ts_ms, event_type, value
            FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}""",
        "range_scan_empty": f"""
            SELECT event_id, {_EV_MS} AS ts_ms, value
            FROM events WHERE {_EV_MS} BETWEEN 1900000000000 AND {1_900_000_000_000 + MS_H}""",
        "range_scan_metric": f"""
            SELECT event_id, {_EV_MS} AS ts_ms, event_type, value
            FROM events
            WHERE {_EV_MS} BETWEEN {T1} AND {WEEK_END} AND event_type = 'click'""",
        "range_limit": f"""
            SELECT event_id, {_EV_MS} AS ts_ms, event_type, value
            FROM events WHERE {_EV_MS} >= {T1}
            ORDER BY ts_ms, event_id LIMIT 100""",
        "tsdb_roundtrip": f"""
            SELECT event_type AS metric, {_EV_MS} AS ts_ms, value
            FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}""",
        "downsample_1h": f"""
            SELECT ({_EV_MS} - {_EV_MS} % {MS_H}) AS bucket_ms, event_type,
                   count(*) AS n,
                   round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
                   round(sum(value), 4) / count(*) AS avg_value,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2""",
        "downsample_5m": f"""
            SELECT ({_EV_MS} - {_EV_MS} % 300000) AS bucket_ms, event_type,
                   count(*) AS n,
                   round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
                   round(sum(value), 4) / count(*) AS avg_value,
                   round(sum(value), 4) AS sum_value
            FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2} GROUP BY 1, 2""",
        "metric_stats": """
            SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
                   round(min(value), 6) AS min_value, round(max(value), 6) AS max_value,
                   round(avg(value), 6) AS avg_value, round(sum(value), 4) AS sum_value,
                   round(stddev_samp(value), 4) AS std_value
            FROM events GROUP BY event_type""",
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "revenue_by_nation": """
            SELECT r_name, n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name""",
        "top_customers": """
            SELECT c_custkey AS custkey, c_name, revenue
            FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
                  FROM orders GROUP BY o_custkey) r
            JOIN customer ON r.o_custkey = c_custkey
            ORDER BY revenue DESC, custkey ASC LIMIT 10""",
        "customers_no_orders": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "customer_order_counts_semi": """
            SELECT c_mktsegment, count(*) AS n_active_customers FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_mktsegment""",
        "order_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
        "part_cube": """
            SELECT p_brand, p_type_head, count(*) AS n,
                   round(avg(p_retailprice), 4) AS avg_price
            FROM (SELECT p_brand, string_split(p_type, ' ')[1] AS p_type_head,
                         p_retailprice FROM part)
            GROUP BY CUBE (p_brand, p_type_head)""",
        "users_intersect": """
            SELECT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'error'""",
        "users_except": """
            SELECT DISTINCT user_id FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              EXCEPT ALL
              SELECT user_id FROM events WHERE event_type = 'purchase')""",
        "json_props": """
            SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1""",
        "range_join": """
            SELECT o_orderpriority, count(*) AS n_items,
                   round(sum(l_extendedprice), 2) AS total
            FROM lineitem JOIN orders
              ON l_orderkey = o_orderkey
             AND l_shipdate >= o_orderdate
             AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
            GROUP BY o_orderpriority""",
        "moving_avg": f"""
            SELECT event_id, event_type,
                   round(avg(value) OVER (PARTITION BY event_type
                         ORDER BY {_EV_MS}, event_id
                         ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS mov_avg
            FROM events""",
        "value_deltas": f"""
            SELECT event_id, event_type,
                   round(value - lag(value) OVER w, 6) AS delta_value,
                   {_EV_MS} - lag({_EV_MS}) OVER w AS delta_ms
            FROM events WINDOW w AS (PARTITION BY event_type ORDER BY {_EV_MS}, event_id)""",
        "gap_detect": f"""
            SELECT event_id, event_type, gap_ms FROM (
              SELECT event_id, event_type,
                     {_EV_MS} - lag({_EV_MS}) OVER (PARTITION BY event_type
                                                    ORDER BY {_EV_MS}) AS gap_ms
              FROM events) WHERE gap_ms > {MS_H}""",
        "sessionize": f"""
            SELECT user_id, CAST(1 + sum(new_sess) AS BIGINT) AS n_sessions,
                   count(*) AS n_events FROM (
              SELECT user_id,
                     CASE WHEN {_EV_MS} - lag({_EV_MS}) OVER (PARTITION BY user_id
                          ORDER BY {_EV_MS}) > 1800000 THEN 1 ELSE 0 END AS new_sess
              FROM events) GROUP BY user_id""",
        "topk_per_series": """
            SELECT event_type, event_id, value, rn FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events) WHERE rn <= 3""",
        "asof_join": f"""
            SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
                   epoch_ms(c.ts) AS click_ts_ms, c.value AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts""",
        "sql_supplier_revenue": """
            SELECT s.s_name,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_name
            ORDER BY revenue DESC, s.s_name
            LIMIT 10""",
        "asof_join_forward": """
            SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
                   epoch_ms(c.ts) AS click_ts_ms, round(c.value, 6) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts <= c.ts""",
        "asof_join_nearest": """
            WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
            c AS (SELECT * FROM events WHERE event_type = 'click'),
            b AS (SELECT p.event_id, epoch_ms(c.ts) AS bts, c.value AS bval
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND p.ts >= c.ts),
            f AS (SELECT p.event_id, epoch_ms(c.ts) AS fts, c.value AS fval
                  FROM p ASOF LEFT JOIN c
                    ON p.user_id = c.user_id AND p.ts <= c.ts)
            SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
                   CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                             epoch_ms(p.ts) - bts <= fts - epoch_ms(p.ts))
                        THEN bts ELSE fts END AS click_ts_ms,
                   round(CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
                                   epoch_ms(p.ts) - bts <= fts - epoch_ms(p.ts))
                              THEN bval ELSE fval END, 6) AS click_value
            FROM p JOIN b USING (event_id) JOIN f USING (event_id)""",
        "first_last_per_series": f"""
            SELECT event_type,
                   min({_EV_MS}) AS first_ts_ms, max({_EV_MS}) AS last_ts_ms,
                   round(min_by(value, ts), 6) AS first_value,
                   round(max_by(value, ts), 6) AS last_value
            FROM events GROUP BY event_type""",
        "dedup_exact": """
            SELECT md5(text) AS fp, min(doc_id) AS keeper_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)""",
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                        string_split_regex(lower(text), '\\s+'))), ' ')) AS fingerprint
            FROM documents""",
        "jaccard_pairs": """
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(
                     string_split_regex(lower(text), '\\s+'))) AS token
              FROM documents WHERE doc_id < 200
            ), sizes AS (
              SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
              FROM toks a JOIN toks b USING (token)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2
            )
            SELECT id1, id2,
                   round(inter / (s1.sz + s2.sz - inter), 6) AS jaccard
            FROM inter
            JOIN sizes s1 ON s1.doc_id = id1
            JOIN sizes s2 ON s2.doc_id = id2
            WHERE round(inter / (s1.sz + s2.sz - inter), 6) >= 0.8""",
        "minhash_signatures": _minhash_sig_sql(4, " WHERE doc_id < 100"),
        "minhash_lsh": _minhash_lsh_sql(),
        "lsh_recall": _lsh_recall_sql(),
        # pruning audit replay: DuckDB reads the same footer stats off
        # the same (gate-scale, literal-path) file
        "pruning_report": """
            SELECT regexp_extract(file_name, '[^/\\\\]+$', 0) AS file_name,
                   path_in_schema AS column, row_group_id AS row_group,
                   row_group_num_rows AS n_rows,
                   stats_min_value::BIGINT AS col_min,
                   stats_max_value::BIGINT AS col_max,
                   (stats_min_value::BIGINT > 9 OR stats_max_value::BIGINT < 0)
                       AS skippable
            FROM parquet_metadata('/root/testdata/sf0.01/events.parquet')
            WHERE path_in_schema IN ('event_id', 'user_id')""",
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 5),
                 c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
                 s AS (SELECT query_id, cand_id,
                              list_dot_product(qv, cv) /
                              (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
                       FROM q, c WHERE cand_id <> query_id)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rank FROM (
              SELECT query_id, cand_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, cand_id ASC) AS rank
              FROM s) WHERE rank <= 5""",
        "embedding_norms": """
            SELECT label, count(*) AS n,
                   round(avg(sqrt(list_dot_product(embedding::DOUBLE[],
                                                   embedding::DOUBLE[]))), 6) AS avg_norm
            FROM embeddings GROUP BY label""",
        "text_stats": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
                   len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                   round(list_sum(list_transform(regexp_extract_all(text, '[^\\s]+'),
                                                 x -> length(x)))
                         / greatest(len(regexp_extract_all(text, '[^\\s]+')), 1),
                         6) AS avg_token_len
            FROM documents""",
        "token_counts_by_lang": """
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text, '[^\\s]+'))) AS BIGINT)
                       AS total_ws_tokens,
                   CAST(sum(len(regexp_extract_all(text,
                        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
                       AS total_bpe_tokens,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang""",
        "lang_id": f"""
            SELECT doc_id, {guess_case} AS lang_guess, {best} AS lang_score
            FROM (SELECT doc_id, {lang_scores} FROM documents)""",
        "value_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type""",
        "event_pivot": """
            SELECT user_id % 10 AS user_mod,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY 1""",
        "rank_family": f"""
            SELECT event_id, event_type,
                   rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cdist
            FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}
            WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC)""",
        "string_funcs": """
            SELECT p_partkey, upper(p_brand) AS brand_u,
                   substring(p_name, 1, 10) AS name10, length(p_name) AS name_len,
                   replace(p_type, ' ', '_') AS type_u,
                   p_brand || '/' || p_type AS brand_type
            FROM part WHERE p_name LIKE '%a%'""",
        "date_parts": """
            SELECT year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
                   month(o_orderdate) AS mo,
                   CAST(isodow(o_orderdate) - 1 AS INT) AS dow,
                   count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY 1, 2, 3, 4""",
        "orders_above_avg": """
            SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
            FROM (SELECT *, avg(o_totalprice) OVER (PARTITION BY o_custkey) AS cust_avg
                  FROM orders)
            WHERE o_totalprice > 1.5 * cust_avg
            GROUP BY o_orderpriority""",
        "sliding_downsample": f"""
            SELECT bucket_ms, event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM (SELECT ({_EV_MS} - {_EV_MS} % 300000) - 300000 * i AS bucket_ms,
                         event_type, value
                  FROM events, unnest([0, 1]) AS t(i)
                  WHERE {_EV_MS} >= {T1} AND {_EV_MS} < {T2})
            GROUP BY bucket_ms, event_type""",
        "grouping_sets": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
        "embedding_centroids": """
            SELECT label, i AS dim, round(avg(embedding[i]::DOUBLE), 6) AS centroid
            FROM embeddings, generate_series(1, 64) AS t(i)
            GROUP BY label, i""",
        "full_outer_join": """
            SELECT coalesce(c_custkey, o_custkey) AS custkey,
                   coalesce(n_orders, 0) AS n_orders,
                   coalesce(total, 0.0) AS total,
                   c_mktsegment AS mktsegment
            FROM customer
            FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders,
                                    round(sum(o_totalprice), 2) AS total
                             FROM orders GROUP BY o_custkey) o
              ON c_custkey = o_custkey""",
        "union_all_scans": f"""
            SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            FROM (SELECT event_type, value FROM events
                  WHERE {_EV_MS} BETWEEN {T1} AND {T2}
                  UNION ALL
                  SELECT event_type, value FROM events
                  WHERE {_EV_MS} BETWEEN {T1 + 43_200_000} AND {WEEK_END})
            GROUP BY event_type""",
        "distinct_aggs": """
            SELECT count(DISTINCT event_type) AS n_types,
                   count(DISTINCT user_id) AS n_users,
                   CAST(sum(DISTINCT floor(value)) AS BIGINT) AS sum_distinct_floor
            FROM events""",
        "window_first_last": f"""
            SELECT DISTINCT event_type,
                   round(first_value(value) OVER w, 6) AS first_v,
                   round(last_value(value) OVER w, 6) AS last_v,
                   round(nth_value(value, 2) OVER w, 6) AS second_v
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY {_EV_MS}, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
        "value_histogram": """
            SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1, 2""",
        "corr_stats": """
            SELECT event_type,
                   round(corr(value, user_id), 6) AS corr_vu,
                   round(covar_samp(value, user_id), 4) AS covar_vu
            FROM events GROUP BY event_type""",
        "event_sequences": f"""
            SELECT user_id,
                   array_to_string(list(event_type ORDER BY rn), '>') AS journey,
                   count(*) AS n
            FROM (SELECT user_id, event_type,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY {_EV_MS}, event_id) AS rn
                  FROM events)
            WHERE rn <= 10 GROUP BY user_id""",
        "doc_chunks": """
            WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                       FROM documents),
                 e AS (SELECT doc_id, toks,
                              unnest(generate_series(1,
                                greatest((len(toks) + 49) // 50, 1))) AS i
                       FROM t)
            SELECT doc_id, i AS chunk_idx,
                   array_to_string(list_slice(toks, (i-1)*50 + 1, i*50), ' ') AS chunk_text,
                   least(50, len(toks) - (i-1)*50) AS n_tokens
            FROM e""",
        "series_trend": f"""
            SELECT event_type,
                   round(regr_slope(value, {_EV_MS}/3600000.0), 6) AS slope_per_hour,
                   round(regr_intercept(value, {_EV_MS}/3600000.0), 4) AS intercept,
                   count(*) AS n
            FROM events GROUP BY event_type""",
        "redact_pii": """
            WITH c AS (
              SELECT doc_id, text,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                         'https?://[^\\s]+', '[URL]', 'g'),
                       '\\+?[0-9][0-9()\\-. ]{7,}[0-9]', '[PHONE]', 'g') AS clean_text
              FROM documents)
            SELECT doc_id, clean_text, clean_text <> text AS was_redacted FROM c""",
        "deterministic_sample": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'""",
        "stratified_sample": """
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
              FROM documents) WHERE rk <= 10""",
        "winnow_fingerprint": """
            WITH h AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1, greatest(len(string_split_regex(lower(text), '\\s+')) - 2, 1)),
                       i -> md5(array_to_string(
                              list_slice(string_split_regex(lower(text), '\\s+'), i, i + 2), ' '))) AS hs
              FROM documents),
            f AS (
              SELECT doc_id,
                     list_sort(list_distinct(list_transform(
                       generate_series(1, greatest(len(hs) - 3, 1)),
                       j -> list_min(list_slice(hs, j, j + 3))))) AS fp
              FROM h)
            SELECT doc_id, len(fp) AS n_fp, array_to_string(fp, '|') AS fingerprint FROM f""",
        "cosine_near_dup": """
            SELECT id1, id2, s AS cosine_sim FROM (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                     round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS s
              FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
            WHERE s >= 0.4""",
        "lang_id_ngram": (lambda _langs=sorted(text_ops.NGRAM_PROFILES): f"""
            WITH g AS (
              SELECT doc_id,
                     list_transform(generate_series(1, greatest(length(lower(text)) - 1, 1)),
                                    i -> substr(lower(text), i, 2)) AS grams
              FROM documents),
            s AS (
              SELECT doc_id,
                     {", ".join(
                         "round(len(list_filter(grams, x -> list_contains(["
                         + ", ".join(repr(b) for b in text_ops.NGRAM_PROFILES[lang])
                         + "], x))) / greatest(len(grams), 1), 6) AS score_" + lang
                         for lang in _langs)}
              FROM g)
            SELECT doc_id,
                   CASE {" ".join(f"WHEN score_{lang} = greatest({', '.join('score_' + x for x in _langs)}) THEN '{lang}'" for lang in _langs)}
                   END AS lang_guess,
                   greatest({", ".join("score_" + lang for lang in _langs)}) AS lang_score
            FROM s""")(),
        "quality_score": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens,
                   round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                         x -> x IN ({", ".join(repr(w) for w in text_ops.STOPWORDS)})))
                         / greatest(len(regexp_extract_all(text, '[^\\s]+')), 1), 6) AS stop_ratio,
                   round(0.4 * least(len(regexp_extract_all(text, '[^\\s]+')) / 100.0, 1.0)
                         + 0.3 * (1 - len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                                      / greatest(length(text), 1))
                         + 0.3 * (len(list_filter(string_split_regex(lower(text), '\\s+'),
                                                  x -> x IN ({", ".join(repr(w) for w in text_ops.STOPWORDS)})))
                                  / greatest(len(regexp_extract_all(text, '[^\\s]+')), 1)),
                         6) AS quality
            FROM documents""",
        "ohlc_1h": f"""
            WITH r AS (
              SELECT {_EV_MS} - ({_EV_MS} % {MS_H}) AS bucket_ms, event_type, value,
                     row_number() OVER (PARTITION BY {_EV_MS} - ({_EV_MS} % {MS_H}), event_type
                                        ORDER BY {_EV_MS}, event_id) AS rn
              FROM events)
            SELECT bucket_ms, event_type,
                   arg_min(value, rn) AS open, max(value) AS high,
                   min(value) AS low, arg_max(value, rn) AS close,
                   count(*) AS n
            FROM r GROUP BY bucket_ms, event_type""",
        "counter_rate_1h": f"""
            WITH d AS (
              SELECT event_type, {_EV_MS} AS ts_ms,
                     CASE WHEN lag(value) OVER w IS NULL THEN 0.0
                          WHEN value >= lag(value) OVER w THEN value - lag(value) OVER w
                          ELSE value END AS inc
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY {_EV_MS}, event_id))
            SELECT ts_ms - (ts_ms % {MS_H}) AS bucket_ms, event_type,
                   round(sum(inc), 4) AS increase,
                   round(sum(inc), 4) / 3600.0 AS rate_per_sec,
                   count(*) AS n_samples
            FROM d GROUP BY 1, 2""",
        # decayed trending: pow/round term order matches the operator;
        # ties at the k boundary break on user_id in BOTH engines and the
        # rank runs on the ROUNDED score so the cut is identical
        "decayed_topk": f"""
            WITH now AS (SELECT max({_EV_MS}) AS now_ms FROM events),
            s AS (SELECT user_id,
                         round(sum(power(0.5e0,
                               (now_ms - {_EV_MS}) / 86400000.0e0)), 6)
                             AS decayed_score,
                         count(*) AS n_events
                  FROM events CROSS JOIN now GROUP BY user_id)
            SELECT user_id, decayed_score, n_events FROM s
            ORDER BY decayed_score DESC, user_id LIMIT 20""",
        "corpus_report": r"""
            WITH base AS (
              SELECT source, count(*) AS n_docs,
                     CAST(sum(len(string_split_regex(lower(text), '\s+')))
                          AS BIGINT) AS n_tokens,
                     CAST(sum(length(text)) AS BIGINT) AS n_chars,
                     count(DISTINCT md5(text)) AS uniq
              FROM documents GROUP BY source),
            lm AS (
              SELECT source, lang AS top_lang FROM (
                SELECT source, lang,
                       row_number() OVER (PARTITION BY source
                          ORDER BY count(*) DESC, lang ASC) AS rn
                FROM documents GROUP BY source, lang)
              WHERE rn = 1)
            SELECT base.source, n_docs, n_tokens, n_chars,
                   round(1e0 - uniq * 1e0 / n_docs, 6) AS exact_dup_frac,
                   top_lang
            FROM base JOIN lm ON lm.source = base.source""",
        "quantile_normalize": """
            SELECT doc_id, source, n_chars,
                   round(percent_rank() OVER (PARTITION BY source
                                              ORDER BY n_chars), 6) AS q
            FROM documents""",
        # α=0.3 temperature mixture: shares derived from the corpus, the
        # same md5 gate as mixture_sample, rate rounded 9 dp pre-gate
        "temperature_mix": """
            WITH counts AS (
              SELECT source, count(*) AS n_grp FROM documents GROUP BY source),
            tot AS (SELECT sum(n_grp) AS n_tot FROM counts),
            q AS (SELECT source, n_grp,
                         pow(n_grp * 1e0 / n_tot, 0.3e0) AS q_raw
                  FROM counts CROSS JOIN tot),
            z AS (SELECT sum(q_raw) AS z FROM q),
            rates AS (SELECT source, n_grp,
                        CAST(floor(round(least(1.0e0,
                              200.0e0 * (q_raw / z) / n_grp), 9)
                             * 1048576.0e0) AS BIGINT) AS gate
                      FROM q CROSS JOIN z),
            kept AS (
              SELECT d.source, d.n_chars
              FROM documents d JOIN rates USING (source)
              WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1048576) < gate)
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS total_chars
            FROM kept GROUP BY source""",
        "winsorize": """
            WITH e AS (SELECT event_id, event_type, value FROM events
                       WHERE value IS NOT NULL),
            b AS (SELECT event_type,
                         round(quantile_cont(value, 0.01), 6) AS p_lo_bound,
                         round(quantile_cont(value, 0.99), 6) AS p_hi_bound
                  FROM e GROUP BY 1)
            SELECT e.event_id, e.event_type, e.value,
                   round(CASE WHEN e.value < p_lo_bound THEN p_lo_bound
                              WHEN e.value > p_hi_bound THEN p_hi_bound
                              ELSE e.value END, 6) AS value_winsorized,
                   p_lo_bound, p_hi_bound
            FROM e JOIN b USING (event_type)""",
        # exact two-sample KS on the (key, value) distinct-count table;
        # ref = first week, cur = the rest (the psi_drift split family)
        "ks_drift": f"""
            WITH u AS (
              SELECT event_type AS k, value AS v,
                     CASE WHEN {_EV_MS} < {T1 + 7 * 24 * MS_H} THEN 1
                          ELSE 0 END AS r
              FROM events WHERE value IS NOT NULL),
            vc AS (SELECT k, v, sum(r) AS cr, sum(1 - r) AS cc
                   FROM u GROUP BY 1, 2),
            s AS (SELECT k,
                    sum(cr) OVER (PARTITION BY k ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS fr,
                    sum(cc) OVER (PARTITION BY k ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS fc,
                    sum(cr) OVER (PARTITION BY k) AS n,
                    sum(cc) OVER (PARTITION BY k) AS m
                  FROM vc),
            d AS (SELECT k AS event_type, n::BIGINT AS n_ref,
                         m::BIGINT AS n_cur,
                         round(max(abs(fr / n - fc / m)), 6) AS ks_stat
                  FROM s WHERE n > 0 AND m > 0 GROUP BY 1, 2, 3)
            SELECT event_type, n_ref, n_cur, ks_stat,
                   round(1.358e0 * sqrt((n_ref + n_cur) / (n_ref * n_cur)),
                         6) AS threshold_05,
                   ks_stat > round(1.358e0 * sqrt((n_ref + n_cur)
                                                  / (n_ref * n_cur)), 6)
                       AS drifted
            FROM d""",
        # k-anonymity: cells under k=5 collapse into one '*' residual;
        # the residual re-sums the ROUNDED group sums (as the op does)
        "kanon_suppress": """
            WITH g AS (SELECT user_id::VARCHAR AS user_id, event_type,
                              count(*) AS n, round(sum(value), 6) AS sum_value
                       FROM events GROUP BY 1, 2),
            keep AS (SELECT user_id, event_type, n, sum_value,
                            1::BIGINT AS n_groups
                     FROM g WHERE n >= 5),
            resid AS (SELECT '*' AS user_id, '*' AS event_type,
                             sum(n)::BIGINT AS n,
                             round(sum(sum_value), 6) AS sum_value,
                             count(*) AS n_groups
                      FROM g WHERE n < 5 HAVING count(*) > 0)
            SELECT * FROM keep UNION ALL SELECT * FROM resid""",
        "rolling_corr": f"""
            WITH a AS (SELECT {_EV_MS} - {_EV_MS} % 3600000 AS bucket,
                              avg(value) AS va
                       FROM events WHERE event_type = 'error' GROUP BY 1),
            b AS (SELECT {_EV_MS} - {_EV_MS} % 3600000 AS bucket,
                         avg(value) AS vb
                  FROM events WHERE event_type = 'purchase' GROUP BY 1),
            j AS (SELECT a.bucket, va, vb FROM a JOIN b ON a.bucket = b.bucket)
            SELECT bucket,
                   CASE WHEN count(va) OVER w >= 12
                        THEN round(corr(va, vb) OVER w, 6) END AS rolling_corr,
                   count(va) OVER w AS n_in_window
            FROM j
            WINDOW w AS (ORDER BY bucket
                         RANGE BETWEEN 82800000 PRECEDING AND CURRENT ROW)""",
        "token_entropy": r"""
            WITH tc AS (
              SELECT doc_id, t, count(*) AS c
              FROM (SELECT doc_id,
                           unnest(string_split_regex(lower(text), '\s+')) AS t
                    FROM documents)
              GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
                   round(count(*) * 1e0 / sum(c), 6) AS type_token_ratio
            FROM tc GROUP BY doc_id""",
        "pmi_collocations": r"""
            WITH d AS (SELECT string_split_regex(lower(text), '\s+') AS w
                       FROM documents),
            toks AS (SELECT unnest(w) AS t FROM d),
            uni AS (SELECT t, count(*) AS c_t FROM toks GROUP BY t),
            nt AS (SELECT CAST(sum(c_t) AS DOUBLE) AS n_tok FROM uni),
            bi AS (SELECT w[i] AS w1, w[i + 1] AS w2
                   FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                         FROM d)),
            bc AS (SELECT w1, w2, count(*) AS c_ab FROM bi GROUP BY 1, 2),
            nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bc)
            SELECT bc.w1, bc.w2, c_ab AS pair_count,
                   round(ln((c_ab / n_bi)
                            / ((ua.c_t / n_tok) * (ub.c_t / n_tok))), 6) AS pmi
            FROM bc
            JOIN uni ua ON ua.t = bc.w1
            JOIN uni ub ON ub.t = bc.w2
            CROSS JOIN nt CROSS JOIN nb
            WHERE c_ab >= 5
            ORDER BY pmi DESC, w1, w2 LIMIT 50""",
        "theil_sen": f"""
            WITH b AS (
              SELECT event_type,
                     (({_EV_MS} - {_EV_MS} % 3600000) / 3600000e0) AS t,
                     avg(value) AS v
              FROM events GROUP BY 1, 2),
            s AS (
              SELECT a.event_type, (b2.v - a.v) / (b2.t - a.t) AS s
              FROM b a JOIN b b2
                ON a.event_type = b2.event_type AND a.t < b2.t),
            est AS (
              SELECT event_type,
                     round(quantile_cont(s, 0.5), 6) AS slope_per_hour,
                     count(*) AS n_pairs
              FROM s GROUP BY 1)
            SELECT b.event_type, slope_per_hour,
                   round(quantile_cont(v - slope_per_hour * t, 0.5), 6)
                       AS intercept,
                   count(*) AS n_buckets, n_pairs
            FROM b JOIN est ON est.event_type = b.event_type
            GROUP BY 1, 2, 5""",
        "burn_rate": f"""
            WITH h AS (
              SELECT {_EV_MS} - {_EV_MS} % 3600000 AS bucket_ms,
                     count(*) AS n,
                     CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_err
              FROM events GROUP BY 1),
            r AS (
              SELECT bucket_ms, n, n_err,
                     n_err * 1e0 / n AS sr,
                     sum(n_err) OVER w * 1e0 / sum(n) OVER w AS lr
              FROM h
              WINDOW w AS (ORDER BY bucket_ms
                           RANGE BETWEEN 18000000 PRECEDING AND CURRENT ROW))
            SELECT bucket_ms, n, n_err,
                   round(sr, 6) AS err_rate_short,
                   round(lr, 6) AS err_rate_long,
                   round(sr / 0.25e0, 6) AS burn_short,
                   round(lr / 0.25e0, 6) AS burn_long,
                   (round(sr / 0.25e0, 6) > 1.2 AND round(lr / 0.25e0, 6) > 1.2)
                       AS alert
            FROM r""",
        "assoc_rules": """
            WITH it AS (
              SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
              FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
            nb AS (SELECT count(DISTINCT b) AS n_baskets FROM it),
            cnt AS (SELECT i, count(*) AS n_i FROM it GROUP BY i),
            freq AS (SELECT i, n_i FROM cnt CROSS JOIN nb
                     WHERE n_i >= n_baskets * 0.01),
            kept0 AS (SELECT it.b, it.i FROM it JOIN freq ON freq.i = it.i),
            -- mega-basket cap replay: drop baskets with > 20 frequent
            -- items from pair evidence (denominators unchanged)
            kept AS (
              SELECT b, i FROM kept0
              WHERE b NOT IN (SELECT b FROM kept0
                              GROUP BY b HAVING count(*) > 20)),
            pairs AS (
              SELECT a.i AS ia, c.i AS ib, count(*) AS n_ab
              FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
              GROUP BY 1, 2),
            priced AS (
              SELECT ia, ib, n_ab, fa.n_i AS n_a, fb.n_i AS n_b2, n_baskets
              FROM pairs
              JOIN freq fa ON fa.i = ia
              JOIN freq fb ON fb.i = ib
              CROSS JOIN nb
              WHERE n_ab >= n_baskets * 0.01),
            rules AS (
              SELECT ia AS antecedent, ib AS consequent, n_ab AS pair_n,
                     round(n_ab * 1e0 / n_baskets, 6) AS support,
                     round(n_ab * 1e0 / n_a, 6) AS confidence,
                     round(n_ab * 1e0 * n_baskets / (n_a * n_b2), 6) AS lift
              FROM priced
              UNION ALL
              SELECT ib, ia, n_ab,
                     round(n_ab * 1e0 / n_baskets, 6),
                     round(n_ab * 1e0 / n_b2, 6),
                     round(n_ab * 1e0 * n_baskets / (n_a * n_b2), 6)
              FROM priced)
            SELECT * FROM rules
            ORDER BY lift DESC, antecedent, consequent LIMIT 100""",
        "scd2_build": f"""
            WITH s AS (
              SELECT user_id, event_type, {_EV_MS} AS ts_ms, event_id,
                     row_number() OVER w AS rn,
                     lag(event_type) OVER w AS prev
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY {_EV_MS}, event_id)),
            c AS (SELECT user_id, event_type, ts_ms, event_id FROM s
                  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
            SELECT user_id, event_type,
                   ts_ms AS valid_from_ms,
                   lead(ts_ms) OVER w2 AS valid_to_ms,
                   lead(ts_ms) OVER w2 IS NULL AS is_current,
                   row_number() OVER w2 AS version
            FROM c
            WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_ms, event_id)""",
        "xcorr_lagged": f"""
            WITH b AS (
              SELECT event_type AS k,
                     {_EV_MS} - {_EV_MS} % 3600000 AS bucket,
                     avg(value) AS v
              FROM events GROUP BY 1, 2),
            l AS (SELECT unnest(generate_series(-3, 3)) AS lag)
            SELECT a.k AS key_a, b2.k AS key_b, l.lag,
                   round(corr(a.v, b2.v), 6) AS xcorr,
                   count(*) AS n_buckets
            FROM b a CROSS JOIN l
            JOIN b b2 ON b2.bucket = a.bucket + l.lag * 3600000
                     AND a.k < b2.k
            GROUP BY 1, 2, 3 HAVING count(*) >= 24""",
        "time_weighted_avg": f"""
            WITH s AS (
              SELECT event_type, {_EV_MS} AS ts_ms, event_id, value
              FROM events WHERE {_EV_MS} BETWEEN {T1} AND {WEEK_END - 1}),
            d AS (
              SELECT event_type, value,
                     coalesce(lead(ts_ms) OVER (PARTITION BY event_type
                                                ORDER BY ts_ms, event_id),
                              {WEEK_END}) - ts_ms AS dur
              FROM s)
            SELECT event_type,
                   round(sum(value * dur), 2) / CAST(sum(dur) AS BIGINT) AS time_weighted_avg,
                   CAST(sum(dur) AS BIGINT) AS covered_ms,
                   count(*) AS n_points
            FROM d GROUP BY event_type""",
        "zscore_anomaly": f"""
            SELECT event_id, event_type, zscore FROM (
              SELECT event_id, event_type,
                     count(value) OVER w AS n, stddev_samp(value) OVER w AS sd,
                     round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS zscore
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY {_EV_MS}, event_id
                           ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
            WHERE n >= 30 AND sd > 0 AND abs(zscore) > 3.0""",
        "autocorr": f"""
            SELECT event_type, round(corr(value, prev), 6) AS autocorr,
                   count(prev) AS n_pairs
            FROM (SELECT event_type, value,
                         lag(value) OVER (PARTITION BY event_type
                                          ORDER BY {_EV_MS}, event_id) AS prev
                  FROM events)
            GROUP BY event_type""",
        "moving_avg_time": f"""
            SELECT event_id, event_type,
                   round(avg(value) OVER w, 6) AS mov_avg_time,
                   count(value) OVER w AS n_in_window
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY {_EV_MS}
                         RANGE BETWEEN 300000 PRECEDING AND CURRENT ROW)""",
        "shipping_priority": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, order_date ASC, l_orderkey ASC
            LIMIT 10""",
        "repetition_stats": """
            WITH ws AS (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM documents),
            wc AS (
              SELECT doc_id, unnest(w) AS t FROM ws),
            wcc AS (
              SELECT doc_id, t, count(*) AS c FROM wc GROUP BY 1, 2),
            wstat AS (
              SELECT doc_id, sum(c) AS n_words, count(*) AS nd, max(c) AS tw
              FROM wcc GROUP BY doc_id),
            bg AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(w) >= 2
                            THEN list_transform(generate_series(1, len(w) - 1),
                                                i -> w[i] || ' ' || w[i + 1])
                            ELSE [] END) AS t
              FROM ws),
            bcc AS (
              SELECT doc_id, t, count(*) AS c FROM bg GROUP BY 1, 2),
            bstat AS (
              SELECT doc_id, sum(c) AS n_bigrams, count(*) AS nbd
              FROM bcc GROUP BY doc_id)
            SELECT w.doc_id, CAST(w.n_words AS BIGINT) AS n_words,
                   round(1 - w.nd / w.n_words, 6) AS dup_word_frac,
                   round(w.tw / w.n_words, 6) AS top_word_frac,
                   round(1 - b.nbd / greatest(b.n_bigrams, 1), 6) AS dup_bigram_frac
            FROM wstat w LEFT JOIN bstat b ON w.doc_id = b.doc_id""",
        "tfidf_top_terms": """
            WITH tf AS (
              SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
              FROM documents),
            tfc AS (
              SELECT doc_id, t, count(*) AS c FROM tf GROUP BY 1, 2),
            dl AS (SELECT doc_id, sum(c) AS len FROM tfc GROUP BY doc_id),
            dfreq AS (SELECT t, count(DISTINCT doc_id) AS df_t FROM tfc GROUP BY t),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT tfc.doc_id, tfc.t,
                     round((tfc.c / dl.len) * (ln((n.n_docs + 1) / (dfreq.df_t + 1)) + 1),
                           6) AS score
              FROM tfc JOIN dl USING (doc_id) JOIN dfreq USING (t) CROSS JOIN n)
            SELECT doc_id, t AS term, score, rank FROM (
              SELECT doc_id, t, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, t ASC) AS rank
              FROM scored)
            WHERE rank <= 3""",
        "contamination": """
            WITH g AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       CASE WHEN len(w) >= 5
                       THEN list_transform(generate_series(1, len(w) - 4),
                                           i -> array_to_string(w[i:i+4], ' '))
                       ELSE [] END)) AS g
              FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
                    FROM documents)),
            bench AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
            train AS (SELECT * FROM g WHERE doc_id % 20 != 0)
            SELECT t.doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_contaminated,
                   round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) / count(*),
                         6) AS contamination_frac
            FROM train t LEFT JOIN bench b ON t.g = b.g
            GROUP BY t.doc_id""",
        "simhash_md5": """
            WITH docs AS (
              SELECT doc_id,
                     list_filter(list_distinct(string_split_regex(lower(text), '\\s+')),
                                 x -> x != '') AS toks
              FROM documents WHERE doc_id < 200
            ), counts AS (
              SELECT doc_id,
                     list_transform(generate_series(0, 63), i ->
                       list_sum(list_transform(toks, t ->
                         CASE WHEN ascii(substr(md5(t || ':' || CAST(i AS VARCHAR)), 1, 1))
                                   % 2 = 1
                              THEN 1 ELSE -1 END))) AS cnt
              FROM docs)
            SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN cnt[i + 1] > 0
                          THEN (CASE WHEN i < 63 THEN (1::BIGINT << i)
                                     ELSE (-9223372036854775807 - 1) END)
                          ELSE 0 END)) AS BIGINT) AS simhash
            FROM counts""",
        # one md5 per token; bit i<60 from hex[1:15], else hex[16:30] —
        # the profiler's md5-slice integer parse (see simhash64_md5_sliced)
        "simhash": """
            WITH docs AS (
              SELECT doc_id,
                     list_filter(list_distinct(string_split_regex(lower(text), '\\s+')),
                                 x -> x != '') AS toks
              FROM documents WHERE doc_id < 200
            ), hs AS (
              SELECT doc_id,
                     list_transform(toks, t ->
                       [('0x' || substring(md5(t), 1, 15))::BIGINT,
                        ('0x' || substring(md5(t), 16, 15))::BIGINT]) AS hs
              FROM docs
            ), counts AS (
              SELECT doc_id,
                     list_transform(generate_series(0, 63), i ->
                       list_sum(list_transform(hs, h ->
                         CASE WHEN ((CASE WHEN i < 60 THEN h[1] >> i
                                          ELSE h[2] >> (i - 60) END) & 1) = 1
                              THEN 1 ELSE -1 END))) AS cnt
              FROM hs)
            SELECT doc_id,
                   CAST(list_sum(list_transform(generate_series(0, 63), i ->
                     CASE WHEN cnt[i + 1] > 0
                          THEN (CASE WHEN i < 63 THEN (1::BIGINT << i)
                                     ELSE (-9223372036854775807 - 1) END)
                          ELSE 0 END)) AS BIGINT) AS simhash
            FROM counts""",
        # bounds oracle: exact twins computed here, the sketch-in-band
        # booleans asserted TRUE (see q_approx_stats)
        "approx_stats": """
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_users,
                   TRUE AS users_ok,
                   TRUE AS p50_ok
            FROM events GROUP BY event_type""",
        # invariant (bounds) oracle for the train+apply PCA lifecycle:
        # exact corpus count recomputed here, the numpy-side bookkeeping
        # booleans asserted TRUE (see similarity.pca_fit_invariants)
        "pca_fit_project": """
            SELECT count(*) AS n_vecs,
                   8 AS k,
                   TRUE AS orthonormal_ok,
                   TRUE AS var_descending_ok,
                   TRUE AS proj_mean_zero_ok,
                   TRUE AS proj_var_matches_eigs_ok,
                   TRUE AS captured_le_total_ok
            FROM embeddings""",
        "pack_sequences": _pack_sequences_sql(cap=512, groups=8),
        "lttb": _lttb_sql(n_out=50),
        "lttb_chunked": _lttb_chunked_sql(n_out=48, chunk_ms=21_600_000),
        "mad_anomaly": f"""
            WITH base AS (
              SELECT event_type, {_EV_MS} AS ts_ms, value
              FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}),
            med AS (SELECT event_type,
                           round(quantile_cont(value, 0.5), 6) AS med
                    FROM base GROUP BY 1),
            dev AS (SELECT b.event_type, b.ts_ms, b.value, m.med,
                           abs(b.value - m.med) AS d
                    FROM base b JOIN med m USING (event_type)),
            mad AS (SELECT event_type,
                           round(quantile_cont(d, 0.5), 6) AS mad
                    FROM dev GROUP BY 1)
            SELECT d.event_type, d.ts_ms, d.value, d.med, m.mad,
                   d.d > 3.0 * 1.4826 * m.mad AS is_anomaly
            FROM dev d JOIN mad m USING (event_type)""",
        "top_ngrams": """
            WITH ex AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(w) >= 2
                       THEN list_transform(generate_series(1, len(w) - 1),
                                           i -> array_to_string(w[i:i+1], ' '))
                       ELSE [] END) AS g
              FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
                    FROM documents)),
            pd AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2)
            SELECT g, CAST(sum(c) AS BIGINT) AS total_count,
                   count(*) AS doc_freq
            FROM pd GROUP BY g
            ORDER BY total_count DESC, g ASC
            LIMIT 20""",
        "gapfill_locf": f"""
            WITH pts AS (
              SELECT event_type, {_EV_MS} AS ts_ms, max(value) AS value
              FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}
              GROUP BY 1, 2),
            b AS (SELECT event_type,
                         CAST(floor(min(ts_ms) / 300000) * 300000 AS BIGINT)
                             AS lo,
                         max(ts_ms) AS hi
                  FROM pts GROUP BY 1),
            grid AS (SELECT event_type,
                            unnest(generate_series(lo, hi, 300000)) AS ts_ms
                     FROM b)
            SELECT g.event_type, g.ts_ms, p.value AS value_locf
            FROM grid g ASOF LEFT JOIN pts p
              ON g.event_type = p.event_type AND p.ts_ms <= g.ts_ms""",
        "dup_spans": """
            WITH g AS (
              SELECT doc_id,
                     unnest(list_distinct(
                       CASE WHEN len(w) >= 8
                       THEN list_transform(generate_series(1, len(w) - 7),
                                           i -> array_to_string(w[i:i+7], ' '))
                       ELSE [] END)) AS g
              FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
                    FROM documents)),
            c AS (SELECT doc_id,
                         count(*) OVER (PARTITION BY g) AS gram_df
                  FROM g)
            SELECT doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN gram_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_dup_grams,
                   round(sum(CASE WHEN gram_df >= 2 THEN 1 ELSE 0 END)
                         / count(*), 6) AS dup_frac
            FROM c GROUP BY doc_id""",
        "dup_span_ranges": """
            WITH pg AS (
              SELECT doc_id, i AS p, array_to_string(w[i:i+7], ' ') AS g
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 7)) AS i
                    FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
                          FROM documents)
                    WHERE len(w) >= 8)),
            fl AS (SELECT doc_id, p,
                          min(doc_id) OVER (PARTITION BY g) AS mn,
                          max(doc_id) OVER (PARTITION BY g) AS mx
                   FROM pg),
            d AS (SELECT doc_id, p,
                         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
                  FROM fl WHERE mn <> mx)
            SELECT doc_id, min(p) AS span_start, max(p) + 7 AS span_end,
                   max(p) + 8 - min(p) AS span_tokens, count(*) AS n_dup_grams
            FROM d GROUP BY doc_id, grp""",
        "dedup_clusters": _dedup_clusters_sql(),
        "dedup_clusters_star": _dedup_clusters_sql(),
        "minhash_jaccard_est": (
            "\nWITH "
            + _minhash_lsh_ctes()
            + "\nSELECT p.id1, p.id2, round(("
            + " + ".join(
                f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(8)
            )
            + ")::DOUBLE / 8, 6) AS est_jaccard"
            + "\nFROM pairs p JOIN sig a ON p.id1 = a.doc_id"
            + " JOIN sig b ON p.id2 = b.doc_id"
        ),
        "pagerank": _pagerank_sql(iters=5),
        "triangle_count": _triangle_sql(),
        "label_propagation": _label_prop_sql(iters=3),
        "adamic_adar": _adamic_adar_sql(k=100),
        "k_core": _k_core_sql(k=2, rounds=8),
        "source_overlap": _source_overlap_sql(n=3),
        "mutual_info": _mutual_info_sql(),
        "prefix_jaccard": _prefix_jaccard_sql(threshold=0.8),
        "embedding_drift": _embedding_drift_sql(),
        "label_agreement": f"""
            WITH pred AS (
              SELECT doc_id, {guess_case} AS lang_guess
              FROM (SELECT doc_id, {lang_scores} FROM documents)),
            pairs AS (
              SELECT d.lang AS a, p.lang_guess AS b
              FROM documents d JOIN pred p USING (doc_id)
              WHERE d.lang IS NOT NULL AND p.lang_guess IS NOT NULL),
            cells AS (SELECT a, b, count(*) AS c FROM pairs GROUP BY 1, 2),
            ma AS (SELECT a, sum(c)::BIGINT AS ca FROM cells GROUP BY a),
            mb AS (SELECT b, sum(c)::BIGINT AS cb FROM cells GROUP BY b),
            pe AS (SELECT coalesce(sum(ca * cb), 0)::BIGINT AS pe_num
                   FROM ma JOIN mb ON ma.a = mb.b),
            ag AS (SELECT sum(c)::BIGINT AS n,
                          sum(CASE WHEN a = b THEN c ELSE 0 END)::BIGINT AS diag,
                          count(DISTINCT a) AS n_labels_a,
                          count(DISTINCT b) AS n_labels_b
                   FROM cells)
            SELECT n, n_labels_a, n_labels_b,
                   round(diag / n, 6) AS po,
                   round(pe_num / (n * n), 6) AS pe,
                   CASE WHEN pe_num < n * n
                        THEN round((diag / n - pe_num / (n * n))
                                   / (1 - pe_num / (n * n)), 6)
                   END AS kappa
            FROM ag CROSS JOIN pe""",
        "survival_km": _survival_km_sql(horizon_days=3),
        "cuped": _cuped_sql(split_ms=1705276800000),
        "ab_ztest": _ab_ztest_sql(),
        "srm_check": _srm_sql(),
        "expect_rules": _expect_rules_sql(_EXPECT_RULES),
        "mann_whitney": _mann_whitney_sql(),
        "chi2_independence": _chi2_independence_sql(chi2_crit=97.351),
        "calibration_report": _calibration_sql(n_bins=10),
        "pareto_front": _pareto_front_sql(),
        "conformal_threshold": _conformal_sql(alpha=0.1),
        "benford_audit": _benford_sql(mad_crit=0.015),
        "did_readout": _did_sql(split_ms=1705276800000),
        "modularity": _modularity_sql(),
        "power_mde": _power_mde_sql(),
        "zorder_key": _zorder_sql(bits=16),
        "interval_join_bucketed": f'''
            WITH w AS (SELECT CAST(id AS BIGINT) AS window_id,
                              {T1} + id * 14400000 AS start_ms,
                              {T1} + id * 14400000 + 7200000 - 1 AS end_ms
                       FROM range(12) t(id))
            SELECT e.event_id, w.window_id, {_EV_MS} AS ts_ms,
                   w.start_ms, w.end_ms
            FROM events e JOIN w ON {_EV_MS} BETWEEN w.start_ms AND w.end_ms''',
        "hilbert_key": _hilbert_sql(bits=16),
        "hw_backtest": _hw_backtest_sql(period=24, horizons=(1, 3, 6, 12)),
        "edit_verify": (
            "\nWITH "
            + _minhash_lsh_ctes()
            + """
            SELECT p.id1, p.id2,
                   levenshtein(a.text, b.text) AS edit_dist,
                   round(1e0 - levenshtein(a.text, b.text)
                             / greatest(length(a.text), length(b.text)), 6)
                       AS edit_sim
            FROM pairs p JOIN documents a ON p.id1 = a.doc_id
                         JOIN documents b ON p.id2 = b.doc_id"""
        ),
        "revenue_concentration": f"""
            WITH u AS (
              SELECT user_id,
                     sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS cents,
                     round(sum(CASE WHEN event_type = 'purchase'
                                    THEN CAST(round(value * 100) AS BIGINT)
                                    ELSE 0 END) / 100.0e0, 2) AS monetary
              FROM events GROUP BY user_id),
            bq AS (SELECT list_transform(
                     quantile_cont(monetary, [{", ".join(str(i / 10) for i in range(1, 10))}]),
                     x -> round(x, 6)) AS bounds FROM u),
            a AS (SELECT cents,
                         1 + len(list_filter(bounds, x -> x <= monetary)) AS decile
                  FROM u CROSS JOIN bq),
            p AS (SELECT decile, count(*) AS n_users, sum(cents)::BIGINT AS c
                  FROM a GROUP BY decile),
            t AS (SELECT sum(c)::BIGINT AS tot FROM p)
            SELECT decile, n_users, round(c / tot, 6) AS revenue_share,
                   round(sum(c) OVER (ORDER BY decile DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) / tot, 6)
                       AS cum_share_from_top
            FROM p CROSS JOIN t""",
        # burstiness: exact integer gap moments; population variance as
        # E[g^2] - E[g]^2 with the same division order both engines
        "interarrival_stats": f"""
            WITH g AS (
              SELECT user_id,
                     {_EV_MS} - lag({_EV_MS}) OVER (PARTITION BY user_id
                                                    ORDER BY {_EV_MS}, event_id)
                         AS gap
              FROM events),
            a AS (SELECT user_id, count(*) AS n_gaps,
                         sum(gap)::BIGINT AS s1, sum(gap * gap)::BIGINT AS s2,
                         max(gap) AS max_gap_ms
                  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
            SELECT user_id, n_gaps,
                   round(s1 / n_gaps, 4) AS mean_gap_ms,
                   round(sqrt(s2 / n_gaps - (s1 / n_gaps) * (s1 / n_gaps))
                         / (s1 / n_gaps), 6) AS gap_cv,
                   max_gap_ms
            FROM a WHERE n_gaps >= 2""",
        # hashing trick: bucket = 2-hex md5 prefix mod 64 (strpos fold, the
        # cms_topk discipline); norm from exact integer sum of squares
        "hashing_vectors": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x != '')) AS t
              FROM documents),
            c AS (SELECT doc_id,
                         ((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1))
                           % 64 AS bucket,
                         count(*) AS n
                  FROM toks GROUP BY 1, 2)
            SELECT doc_id, bucket, n,
                   round(n / sqrt(sum(n * n) OVER (PARTITION BY doc_id)), 6)
                       AS weight
            FROM c""",
        "markov_transitions": f"""
            WITH p AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY {_EV_MS}, event_id) AS src,
                     event_type AS dst
              FROM events),
            c AS (SELECT src, dst, count(*) AS n FROM p
                  WHERE src IS NOT NULL GROUP BY src, dst)
            SELECT src, dst, n,
                   round(n / sum(n) OVER (PARTITION BY src), 6) AS p
            FROM c""",
        "skew_profile": """
            WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
            t AS (SELECT sum(cnt)::BIGINT AS total, count(*) AS n_keys,
                         sum(cnt * cnt)::BIGINT AS sumsq FROM c)
            SELECT user_id, cnt, round(cnt / total, 6) AS share, n_keys,
                   round(sumsq / total / total, 6) AS hhi
            FROM c CROSS JOIN t
            ORDER BY cnt DESC, user_id ASC LIMIT 10""",
        "rfm_segments": f"""
            WITH u AS (
              SELECT user_id, max({_EV_MS}) AS recency, count(*) AS frequency,
                     sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(round(value * 100) AS BIGINT)
                              ELSE 0 END) AS cents,
                     round(sum(CASE WHEN event_type = 'purchase'
                                    THEN CAST(round(value * 100) AS BIGINT)
                                    ELSE 0 END) / 100.0e0, 2) AS monetary
              FROM events GROUP BY user_id),
            br AS (SELECT list_transform(quantile_cont(recency,
                     [{1 / 3!r}, {2 / 3!r}]), x -> round(x, 6)) AS b FROM u),
            bf AS (SELECT list_transform(quantile_cont(frequency,
                     [{1 / 3!r}, {2 / 3!r}]), x -> round(x, 6)) AS b FROM u),
            bm AS (SELECT list_transform(quantile_cont(monetary,
                     [{1 / 3!r}, {2 / 3!r}]), x -> round(x, 6)) AS b FROM u),
            a AS (SELECT cents,
                         1 + len(list_filter(br.b, x -> x <= recency)) AS rb,
                         1 + len(list_filter(bf.b, x -> x <= frequency)) AS fb,
                         1 + len(list_filter(bm.b, x -> x <= monetary)) AS mb
                  FROM u CROSS JOIN br CROSS JOIN bf CROSS JOIN bm)
            SELECT 'R' || rb || 'F' || fb || 'M' || mb AS segment,
                   count(*) AS n_users,
                   round(sum(cents) / count(*) / 100.0e0, 2) AS avg_monetary
            FROM a GROUP BY 1""",
        "attribution": f"""
            WITH t AS (
              SELECT event_id, user_id, {_EV_MS} AS ts_ms, event_type, value,
                     last_value(CASE WHEN event_type <> 'purchase'
                                     THEN {{'ts_ms': {_EV_MS}, 't': event_type}}
                                END IGNORE NULLS)
                       OVER (PARTITION BY user_id
                             ORDER BY {_EV_MS}, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS touch
              FROM events),
            conv AS (
              SELECT value,
                     CASE WHEN touch IS NOT NULL
                               AND touch.ts_ms >= ts_ms - 86400000
                          THEN touch.t ELSE 'direct' END AS channel
              FROM t WHERE event_type = 'purchase')
            SELECT channel, count(*) AS conversions,
                   round(sum(value), 2) AS attributed_revenue
            FROM conv GROUP BY channel""",
        "semantic_outliers": """
            WITH cells AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cent
                           FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
            c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
            ca AS (SELECT vec_id, cell_id, round(csim, 6) AS cell_sim FROM (
              SELECT vec_id, cell_id, csim,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY csim DESC, cell_id ASC) AS r
              FROM (SELECT vec_id, cell_id,
                           list_dot_product(cv, cent) /
                           (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(cent, cent))) AS csim
                    FROM c, cells)) WHERE r = 1)
            SELECT vec_id, cell_id, cell_sim FROM ca WHERE cell_sim < 0.2""",
        "quality_calibration": f"""
            WITH {_quality_cte},
            b AS (SELECT list_transform(
                           quantile_cont(quality, [{", ".join(str(i / 10) for i in range(1, 10))}]),
                           x -> round(x, 6)) AS bounds
                  FROM q),
            a AS (SELECT quality, n_tokens,
                         1 + len(list_filter(bounds, x -> x <= quality)) AS bin
                  FROM q CROSS JOIN b)
            SELECT bin, count(*) AS n_docs,
                   round(avg(quality), 6) AS avg_quality,
                   round(avg(n_tokens), 2) AS avg_tokens
            FROM a GROUP BY bin""",
        "source_curation": f"""
            WITH {_quality_cte},
            h AS (SELECT doc_id, source,
                         count(*) OVER (PARTITION BY md5(text)) > 1 AS is_dup
                  FROM documents)
            SELECT source, count(*) AS n_docs,
                   sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup,
                   round(avg(quality), 6) AS avg_quality,
                   round(avg(n_tokens), 2) AS avg_tokens
            FROM h JOIN q USING (doc_id) GROUP BY source""",
        "minhash_containment": (
            "\nWITH "
            + _minhash_lsh_ctes()
            + """,
            cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            est AS (SELECT p.id1, p.id2, ("""
            + " + ".join(
                f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(8)
            )
            + """)::DOUBLE / 8 AS j
                    FROM pairs p JOIN sig a ON p.id1 = a.doc_id
                                 JOIN sig b ON p.id2 = b.doc_id)
            SELECT e.id1, e.id2, round(j, 6) AS est_jaccard,
                   ca.n_sh AS n_a, cb.n_sh AS n_b,
                   round(j * (ca.n_sh + cb.n_sh) / (1e0 + j) / ca.n_sh, 6) AS est_cont_a,
                   round(j * (ca.n_sh + cb.n_sh) / (1e0 + j) / cb.n_sh, 6) AS est_cont_b
            FROM est e JOIN cnt ca ON e.id1 = ca.doc_id
                       JOIN cnt cb ON e.id2 = cb.doc_id"""
        ),
        "salted_join": """
            SELECT s.s_nationkey, count(*) AS n_items,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey""",
        "bloom_semijoin": """
            SELECT l_returnflag, count(*) AS n_items,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
            GROUP BY l_returnflag""",
        "cosine_near_dup_lsh": _near_dup_lsh_sql(threshold=0.4, num_planes=4, dim=64),
        "lsh_ann_topk": f"""
            WITH b AS (SELECT vec_id, embedding, {_bucket_sql(4, 64)} AS bucket
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket
                  FROM b WHERE vec_id < 5),
            c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv, bucket FROM b),
            s AS (SELECT query_id, cand_id,
                         list_dot_product(qv, cv) /
                         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
                  FROM q JOIN c USING (bucket) WHERE cand_id <> query_id)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rank FROM (
              SELECT query_id, cand_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, cand_id ASC) AS rank
              FROM s) WHERE rank <= 5""",
        "lsh_ann_topk_multi": _multi_lsh_sql(num_planes=4, num_tables=8, dim=64),
        "lsh_multiprobe_topk": _multiprobe_sql(num_planes=4, n_flip=2, dim=64, k=5),
        "ivf_ann_topk": """
            WITH cents AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cent
                           FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
            c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
            ca AS (SELECT cand_id, cv, cell_id FROM (
              SELECT cand_id, cv, cell_id,
                     row_number() OVER (PARTITION BY cand_id
                                        ORDER BY csim DESC, cell_id ASC) AS r
              FROM (SELECT cand_id, cv, cell_id,
                           list_dot_product(cv, cent) /
                           (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(cent, cent))) AS csim
                    FROM c, cents)) WHERE r = 1),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 5),
            qp AS (SELECT query_id, qv, cell_id FROM (
              SELECT query_id, qv, cell_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY csim DESC, cell_id ASC) AS r
              FROM (SELECT query_id, qv, cell_id,
                           list_dot_product(qv, cent) /
                           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cent, cent))) AS csim
                    FROM q, cents)) WHERE r <= 4),
            s AS (SELECT query_id, cand_id,
                         list_dot_product(qv, cv) /
                         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
                  FROM qp JOIN ca USING (cell_id) WHERE cand_id <> query_id)
            SELECT query_id, cand_id, round(sim, 6) AS cosine_sim, rank FROM (
              SELECT query_id, cand_id, sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY sim DESC, cand_id ASC) AS rank
              FROM s) WHERE rank <= 5""",
        "ewma": f"""
            WITH RECURSIVE base AS (
              SELECT event_type, {_EV_MS} AS ts_ms, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY {_EV_MS}, event_id) AS rn
              FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}
            ), rec AS (
              SELECT event_type, ts_ms, event_id, value, rn, value AS s
              FROM base WHERE rn = 1
              UNION ALL
              SELECT b.event_type, b.ts_ms, b.event_id, b.value, b.rn,
                     {0.3!r}::DOUBLE * b.value + {1.0 - 0.3!r}::DOUBLE * r.s
              FROM base b JOIN rec r ON b.event_type = r.event_type AND b.rn = r.rn + 1
            )
            SELECT event_type, ts_ms, event_id, value, round(s, 6) AS ewma FROM rec""",
        "holt_smoothing": f"""
            WITH RECURSIVE base AS (
              SELECT event_type, {_EV_MS} AS ts_ms, event_id, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY {_EV_MS}, event_id) AS rn
              FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}
            ), rec AS (
              SELECT event_type, ts_ms, event_id, value, rn,
                     value AS l, 0.0::DOUBLE AS b
              FROM base WHERE rn = 1
              UNION ALL
              SELECT event_type, ts_ms, event_id, value, rn, lnew AS l,
                     {0.2!r}::DOUBLE * (lnew - lprev)
                       + {1.0 - 0.2!r}::DOUBLE * bprev AS b
              FROM (
                SELECT nb.event_type, nb.ts_ms, nb.event_id, nb.value, nb.rn,
                       {0.5!r}::DOUBLE * nb.value
                         + {1.0 - 0.5!r}::DOUBLE * (r.l + r.b) AS lnew,
                       r.l AS lprev, r.b AS bprev
                FROM base nb JOIN rec r
                  ON nb.event_type = r.event_type AND nb.rn = r.rn + 1)
            )
            SELECT event_type, ts_ms, event_id, value,
                   round(l, 6) AS level, round(b, 6) AS trend,
                   round(l + b, 6) AS forecast
            FROM rec""",
        "resample_1m": f"""
            WITH e AS (
              SELECT event_type, ts_ms, min(value) AS value
              FROM (SELECT event_type, {_EV_MS} AS ts_ms, value FROM events
                    WHERE {_EV_MS} BETWEEN {T1} AND {T2})
              GROUP BY event_type, ts_ms
            ), bounds AS (
              SELECT event_type, (min(ts_ms) // 60000) * 60000 AS lo, max(ts_ms) AS hi
              FROM e GROUP BY event_type
            ), grid AS (
              SELECT event_type, unnest(generate_series(lo, hi, 60000)) AS g FROM bounds
            ), p AS (
              SELECT grid.event_type, grid.g, e.ts_ms AS pts, e.value AS pv
              FROM grid ASOF LEFT JOIN e
                ON grid.event_type = e.event_type AND grid.g >= e.ts_ms
            ), pn AS (
              SELECT p.event_type, p.g, p.pts, p.pv, e.ts_ms AS nts, e.value AS nv
              FROM p ASOF LEFT JOIN e
                ON p.event_type = e.event_type AND p.g <= e.ts_ms
            )
            SELECT event_type, g AS ts_ms,
                   round(CASE
                     WHEN pts IS NULL THEN nv
                     WHEN nts IS NULL THEN pv
                     WHEN nts = pts THEN pv
                     ELSE pv + (nv - pv) / (nts - pts) * (g - pts)
                   END, 6) AS value
            FROM pn""",
        "clean_corpus": _clean_corpus_sql(quality_threshold=0.5, rate_16ths=4),
        "seasonal_baseline": f"""
            WITH p AS (
              SELECT event_type, {_EV_MS} AS ts_ms, value,
                     ({_EV_MS} % 86400000) // 3600000 AS phase
              FROM events),
            b AS (SELECT event_type, phase, round(avg(value), 6) AS baseline
                  FROM p GROUP BY event_type, phase)
            SELECT p.event_type, p.ts_ms, p.phase, p.value, b.baseline,
                   round(p.value - b.baseline, 6) AS residual
            FROM p JOIN b USING (event_type, phase)""",
        # 2 Lloyd rounds unrolled; centroids quantized to 6 dp per round —
        # the same quantization the Spark side applies, which is what makes
        # the second round's assignments engine-independent
        "kmeans": "\n            WITH " + _KMEANS_CTES + """
            SELECT m2.cid AS cluster_id, m2.dim, m2.c, n2.n
            FROM m2 JOIN n2 USING (cid)""",
        "unigram_logprob": """
            WITH toks AS (
              SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                                x -> x != '')) AS t
              FROM documents),
            freq AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
            tot AS (SELECT sum(c) AS n_total, count(*) AS v_size FROM freq)
            SELECT doc_id, count(*) AS n_tokens,
                   round(avg(ln((c + 1) / (n_total + v_size))), 6) AS avg_logprob
            FROM toks JOIN freq USING (t) CROSS JOIN tot
            GROUP BY doc_id""",
        # interpolated bigram LM: lag() rebuilds the (prev, cur) stream the
        # Spark side makes with shifted-slice arrays_zip; 0.7e0/0.3e0 keep
        # the interpolation in DOUBLE (a bare 0.7 is DECIMAL in DuckDB and
        # decimal·bigint arithmetic would diverge from Spark's double path)
        "bigram_logprob": """
            WITH lsts AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                         x -> x != '') AS lst
              FROM documents),
            toks AS (
              SELECT doc_id, unnest(lst) AS t,
                     generate_subscripts(lst, 1) AS ord
              FROM lsts),
            big AS (
              SELECT doc_id,
                     lag(t) OVER (PARTITION BY doc_id ORDER BY ord) AS p,
                     t AS c
              FROM toks QUALIFY p IS NOT NULL),
            uni AS (SELECT t, count(*) AS c1 FROM toks GROUP BY t),
            bifreq AS (SELECT p, c, count(*) AS c2 FROM big GROUP BY p, c),
            tot AS (SELECT sum(c1) AS n_total, count(*) AS v_size FROM uni),
            agg AS (
              SELECT big.doc_id, count(*) AS n_bigrams,
                     round(avg(ln(
                       0.7e0 * (c2 + 1) / (up.c1 + v_size)
                       + 0.3e0 * (uc.c1 + 1) / (n_total + v_size))), 6)
                         AS avg_logprob
              FROM big
              JOIN bifreq USING (p, c)
              JOIN uni up ON up.t = big.p
              JOIN uni uc ON uc.t = big.c
              CROSS JOIN tot
              GROUP BY big.doc_id)
            SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
                   agg.avg_logprob
            FROM documents d LEFT JOIN agg USING (doc_id)""",
        # vocab coverage: deterministic top-k vocab (count DESC, token ASC)
        # then a left tag join; all counts exact integers, the rate is the
        # one float and both engines divide double by the same bigint
        "vocab_coverage": """
            WITH toks AS (
              SELECT source,
                     unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x != '')) AS t
              FROM documents),
            freq AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
            vocab AS (SELECT t FROM freq ORDER BY c DESC, t LIMIT 16),
            tagged AS (SELECT source, toks.t AS t,
                              (vocab.t IS NOT NULL) AS iv
                       FROM toks LEFT JOIN vocab ON toks.t = vocab.t)
            SELECT source, count(*) AS n_tokens,
                   sum(CASE WHEN NOT iv THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
                   round(sum(CASE WHEN NOT iv THEN 1.0e0 ELSE 0.0e0 END)
                         / count(*), 6) AS oov_rate,
                   count(DISTINCT t) AS n_types,
                   count(DISTINCT CASE WHEN NOT iv THEN t END) AS oov_types
            FROM tagged GROUP BY source""",
        # Kneser-Ney bigram LM: generate_series index-zip rebuilds the same
        # (v, w) stream as Spark's slice/transform; e0 literals keep the
        # discount arithmetic in DOUBLE and the term order matches the
        # operator exactly — ((D*fwd)*bwd)/tot, then /c_v — so per-row p is
        # bit-identical and only the avg's sum order needs the 6-dp round
        "kn_bigram_logprob": """
            WITH t AS (
              SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                                         x -> x != '') AS tk
              FROM documents),
            e AS (
              SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
              FROM t WHERE len(tk) >= 2),
            big AS (SELECT doc_id, tk[i] AS v, tk[i + 1] AS w FROM e),
            db AS (SELECT doc_id, v, w, count(*) AS cnt
                   FROM big GROUP BY doc_id, v, w),
            bc AS (SELECT v, w, sum(cnt)::BIGINT AS c_vw FROM db GROUP BY v, w),
            ctx AS (SELECT v, sum(c_vw) AS c_v, count(*) AS n1p_fwd
                    FROM bc GROUP BY v),
            cont AS (SELECT w, count(*) AS n1p_bwd FROM bc GROUP BY w),
            tot AS (SELECT count(*) AS n1p_tot FROM bc),
            model AS (
              SELECT v, w,
                     (greatest(c_vw - 0.75e0, 0e0)
                      + 0.75e0 * n1p_fwd * n1p_bwd / n1p_tot) / c_v AS p
              FROM bc JOIN ctx USING (v) JOIN cont USING (w) CROSS JOIN tot)
            SELECT doc_id, sum(cnt)::BIGINT AS n_bigrams,
                   round(sum(cnt * ln(p)) / sum(cnt), 6) AS kn_logprob
            FROM db JOIN model USING (v, w)
            GROUP BY doc_id""",
        # count-min sketch: col_i = conv(8-hex slice of md5, 16, 10) % 256
        # on the Spark side == the value of the slice's LAST TWO hex chars,
        # which is what the strpos fold below computes (width 256 chosen
        # exactly so the oracle needs no general hex->int)
        "cms_topk": """
            WITH toks AS (
              SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x != '')) AS item
              FROM documents),
            it AS (SELECT item, count(*) AS true_cnt FROM toks GROUP BY item),
            h AS (
              SELECT item, i,
                     (strpos('0123456789abcdef',
                             substr(md5(item), 8 * (i % 4) + 7, 1)) - 1) * 16
                     + (strpos('0123456789abcdef',
                               substr(md5(item), 8 * (i % 4) + 8, 1)) - 1) AS col
              FROM it CROSS JOIN (SELECT unnest(range(4)) AS i)),
            counters AS (
              SELECT h.i, h.col, count(*) AS cnt
              FROM toks JOIN h USING (item)
              GROUP BY h.i, h.col),
            est AS (
              SELECT it.item, it.true_cnt, min(c.cnt) AS est_cnt
              FROM it JOIN h USING (item)
              JOIN counters c ON c.i = h.i AND c.col = h.col
              GROUP BY it.item, it.true_cnt)
            SELECT item, true_cnt, est_cnt
            FROM est ORDER BY est_cnt DESC, item LIMIT 20""",
        # PQ/ADC: codebook = 16 smallest-md5 vectors numbered in hash
        # order; per-(cand, subspace) argmin by the SAME order-fixed
        # aa-2ab+bb distance Spark folds; recon = chosen slices in
        # subspace order; d ASC / code ASC ties mirror the fold's rule
        "pq_ann_topk": """
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                       - 1 AS code,
                     embedding::DOUBLE[] AS cent
              FROM (SELECT vec_id, embedding FROM embeddings
                    ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16)),
            c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv
                  FROM embeddings),
            sub AS (SELECT unnest(range(4)) AS j),
            dists AS (
              SELECT cand_id, j, code,
                     list_slice(cent, j*16 + 1, j*16 + 16) AS cent_sub,
                     list_dot_product(list_slice(cv, j*16 + 1, j*16 + 16),
                                      list_slice(cv, j*16 + 1, j*16 + 16))
                     - 2 * list_dot_product(list_slice(cv, j*16 + 1, j*16 + 16),
                                            list_slice(cent, j*16 + 1, j*16 + 16))
                     + list_dot_product(list_slice(cent, j*16 + 1, j*16 + 16),
                                        list_slice(cent, j*16 + 1, j*16 + 16)) AS d
              FROM c CROSS JOIN sub CROSS JOIN cents),
            enc AS (
              SELECT cand_id, j, cent_sub FROM (
                SELECT *, row_number() OVER (PARTITION BY cand_id, j
                                             ORDER BY d ASC, code ASC) AS r
                FROM dists) WHERE r = 1),
            recon AS (
              SELECT cand_id, flatten(list(cent_sub ORDER BY j)) AS recon
              FROM enc GROUP BY cand_id),
            q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 5),
            s AS (
              SELECT query_id, cand_id,
                     round(list_dot_product(qv, qv)
                           - 2 * list_dot_product(qv, recon)
                           + list_dot_product(recon, recon), 6) AS approx_d2
              FROM q CROSS JOIN recon WHERE cand_id <> query_id)
            SELECT query_id, cand_id, approx_d2, rank FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY approx_d2 ASC, cand_id ASC)
                          AS rank
              FROM s) WHERE rank <= 5""",
        # IVFADC: the pq_ann_topk encoding/recon CTEs + the ivf_ann_topk
        # cell-assignment and probe CTEs, joined on cell_id — both
        # quantizers draw the same 16 smallest-md5 sample (different
        # roles: cells keyed by vec_id, codes numbered 0..15)
        "ivfpq_topk": _ivfpq_oracle_sql(),
        # pinned-basis PCA application: committed-fixture literals, one
        # UNION ALL branch per output dim, identical fp64 sum order
        "pca_project": _pca_oracle_sql(),
        # greedy per-source token-budget prefix: same md5 order, same
        # cumulative-<= rule, integer end-to-end
        "token_budget_sample": """
            WITH t AS (SELECT doc_id, source,
                              CAST(len(regexp_extract_all(text, '[^\\s]+'))
                                   AS BIGINT) AS n_tokens
                       FROM documents),
            c AS (SELECT doc_id, source, n_tokens,
                         CAST(sum(n_tokens) OVER (
                             PARTITION BY source
                             ORDER BY md5(doc_id::VARCHAR), doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                  FROM t)
            SELECT doc_id, source, n_tokens, cum_tokens FROM c
            WHERE cum_tokens <= CASE source
                                WHEN 'src0' THEN 500
                                WHEN 'src1' THEN 10000000
                                ELSE 200 END""",
        # A-ES weighted sample: exponential race key -ln(u)/w, u from the
        # same md5 hash-uniform construction as dsir_sample's Gumbel
        "weighted_sample": """
            SELECT doc_id, source, n_chars,
                   round(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                              + 0.5e0) / 4294967296.0e0)
                         / n_chars, 6) AS es_key
            FROM documents WHERE n_chars > 0
            ORDER BY es_key, doc_id LIMIT 50""",
        # C4 rules: every flag recomputed from the same word list; int/int
        # division is float division in both engines
        "c4_rules": """
            WITH w AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x != '') AS words
              FROM documents),
            m AS (
              SELECT doc_id, text, len(words) AS n_words,
                     list_sum(list_transform(words, x -> len(x)))
                       / greatest(len(words), 1) AS mean_wlen
              FROM w)
            SELECT doc_id, n_words,
                   round(mean_wlen, 6) AS mean_word_len,
                   n_words >= 20 AS f_min_words,
                   regexp_matches(text, '[.!?"'']\\s*$') AS f_terminal_punct,
                   NOT contains(text, '{') AS f_no_brace,
                   NOT (contains(lower(text), 'lorem ipsum')
                        OR contains(lower(text), 'javascript')
                        OR contains(lower(text), 'cookie policy')) AS f_no_bad_phrase,
                   mean_wlen BETWEEN 3.0 AND 10.0 AS f_word_len_band,
                   (n_words >= 20
                    AND regexp_matches(text, '[.!?"'']\\s*$')
                    AND NOT contains(text, '{')
                    AND NOT (contains(lower(text), 'lorem ipsum')
                             OR contains(lower(text), 'javascript')
                             OR contains(lower(text), 'cookie policy'))
                    AND mean_wlen BETWEEN 3.0 AND 10.0) AS keep
            FROM m""",
        # cohort grid: act is distinct (user, week), so count(*) per cell
        # IS the distinct-user count; offset-0 cells are the cohort sizes
        "cohort_retention": """
            WITH act AS (
              SELECT DISTINCT user_id AS u, epoch_ms(ts) // 604800000 AS p
              FROM events),
            fst AS (SELECT u, min(p) AS cohort FROM act GROUP BY u),
            cell AS (
              SELECT cohort, p - cohort AS period_offset, count(*) AS n_active
              FROM act JOIN fst USING (u) GROUP BY cohort, p - cohort),
            sz AS (
              SELECT cohort, n_active AS cohort_size
              FROM cell WHERE period_offset = 0)
            SELECT cohort * 604800000 AS cohort_start_ms, period_offset,
                   n_active, cohort_size,
                   round(n_active::DOUBLE / cohort_size, 6) AS retention_rate
            FROM cell JOIN sz USING (cohort)""",
        # KMV/theta sketch: deterministic md5 hash family, so the oracle
        # replays the sketch bit-for-bit (fixed-width hex => ORDER BY h is
        # numeric order; 12-hex kth fraction is exact in a double)
        "kmv_users_by_type": """
            WITH d AS (
              SELECT DISTINCT event_type, md5(user_id::VARCHAR) AS h FROM events),
            r AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
              FROM d),
            kk AS (
              SELECT event_type, count(*) AS n, max(h) AS kth
              FROM r WHERE rk <= 64 GROUP BY event_type)
            SELECT event_type,
                   round(CASE WHEN n < 64 THEN n::DOUBLE
                         ELSE 63.0e0 / (('0x' || substr(kth, 1, 12))::BIGINT
                                        / 281474976710656.0e0)
                         END, 2) AS approx_distinct
            FROM kk""",
        # combined KMV estimator (Beyer et al.): k-min of A union B equals
        # k-min of (k-min(A) union k-min(B)), and any union-sketch hash
        # from A is necessarily inside A's own k-min — so raw-data CTEs
        # reproduce the sketch-only computation exactly
        "kmv_overlap": """
            WITH va AS (
              SELECT DISTINCT md5(user_id::VARCHAR) AS h
              FROM events WHERE event_type = 'view'),
            cb AS (
              SELECT DISTINCT md5(user_id::VARCHAR) AS h
              FROM events WHERE event_type = 'click'),
            ka AS (SELECT h FROM va ORDER BY h LIMIT 64),
            kb AS (SELECT h FROM cb ORDER BY h LIMIT 64),
            un AS (
              SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
              ORDER BY h LIMIT 64),
            st AS (SELECT count(*) AS n_u, max(h) AS kth FROM un),
            ov AS (
              SELECT count(*) AS n_both FROM un
              WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
            est AS (
              SELECT n_u, n_both,
                     CASE WHEN n_u < 64 THEN n_u::DOUBLE
                     ELSE 63.0e0 / (('0x' || substr(kth, 1, 12))::BIGINT
                                    / 281474976710656.0e0)
                     END AS union_est
              FROM st CROSS JOIN ov)
            SELECT round(union_est, 2) AS union_est,
                   round((n_both::DOUBLE / n_u) * union_est, 2) AS intersect_est,
                   round(n_both::DOUBLE / n_u, 6) AS jaccard_est
            FROM est""",
        # mixture rebalance: integer hash gate (md5 first-8-hex mod 2^20 <
        # floor(rate*2^20)) — e-notation literals keep every intermediate
        # in DOUBLE to match Spark's arithmetic path exactly
        "mixture_sample": """
            WITH counts AS (
              SELECT source, count(*) AS n_grp FROM documents GROUP BY source),
            kept AS (
              SELECT d.source, d.n_chars
              FROM documents d JOIN counts USING (source)
              WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                     % 1048576)
                    < CAST(floor(least(1.0e0,
                        40.0e0 * (CASE d.source
                                    WHEN 'src0' THEN 0.3e0
                                    WHEN 'src1' THEN 0.3e0
                                    WHEN 'src2' THEN 0.2e0
                                    WHEN 'src3' THEN 0.2e0
                                    ELSE 0.0e0 END) / n_grp)
                        * 1048576.0e0) AS BIGINT))
            SELECT source, count(*) AS n_kept, sum(n_chars)::BIGINT AS total_chars
            FROM kept GROUP BY source""",
        # chunk-level dedup: same 20-token chunking as doc_chunks (50),
        # first (doc_id, chunk_idx) per chunk hash survives, string_agg
        # ORDER BY chunk_idx rebuilds what array_sort+array_join builds
        "chunk_dedup": """
            WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                       FROM documents),
            e AS (SELECT doc_id, toks,
                         unnest(generate_series(1,
                           greatest((len(toks) + 19) // 20, 1))) AS i
                  FROM t),
            chunks AS (
              SELECT doc_id, i AS chunk_idx,
                     array_to_string(list_slice(toks, (i-1)*20 + 1, i*20), ' ')
                         AS chunk_text
              FROM e),
            k AS (
              SELECT doc_id, chunk_idx, chunk_text,
                     row_number() OVER (PARTITION BY md5(chunk_text)
                                        ORDER BY doc_id, chunk_idx) = 1 AS keep
              FROM chunks)
            SELECT doc_id, count(*) AS n_chunks,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
                   coalesce(string_agg(CASE WHEN keep THEN chunk_text END,
                                       ' ' ORDER BY chunk_idx), '') AS dedup_text
            FROM k GROUP BY doc_id""",
        # epoch-repeat upsampling: ⌊rate⌋ + hash-gated fractional copy,
        # every float literal in e-notation (DOUBLE) as in mixture_sample
        "upsample_mixture": """
            WITH counts AS (
              SELECT source, count(*) AS n_grp FROM documents GROUP BY source),
            ex AS (
              SELECT d.source, d.doc_id,
                     greatest(1.0e0,
                       300.0e0 * (CASE d.source
                                    WHEN 'src0' THEN 0.5e0
                                    WHEN 'src1' THEN 0.3e0
                                    ELSE 0.0e0 END) / n_grp) AS rate
              FROM documents d JOIN counts USING (source)),
            cc AS (
              SELECT source, doc_id,
                     CAST(floor(rate) AS INT)
                     + CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR || ':up'),
                                                  1, 8))::BIGINT % 1048576)
                            < CAST(floor((rate - CAST(floor(rate) AS INT))
                                         * 1048576.0e0) AS BIGINT)
                       THEN 1 ELSE 0 END AS n_copies
              FROM ex)
            SELECT source, sum(n_copies)::BIGINT AS n_rows,
                   count(DISTINCT doc_id) AS n_docs
            FROM cc GROUP BY source""",
        # STL decomposition: every stage quantized to 6 dp before the next
        # (the seasonal_baseline discipline) so both engines stay in
        # lockstep through four derived stages
        "stl_decompose": _stl_sql,
        # seasonal-aware anomalies: MAD threshold on the STL residual —
        # periodic spikes are absorbed by the seasonal component
        "stl_anomaly": f"""
            WITH stl AS ({_stl_sql}),
            med AS (SELECT event_type,
                           round(quantile_cont(residual, 0.5), 6) AS med
                    FROM stl GROUP BY 1),
            dev AS (SELECT s.event_type, s.bucket, s.y, s.residual, m.med,
                           abs(s.residual - m.med) AS d
                    FROM stl s JOIN med m USING (event_type)),
            mad AS (SELECT event_type,
                           round(quantile_cont(d, 0.5), 6) AS mad
                    FROM dev GROUP BY 1)
            SELECT d.event_type, d.bucket, d.y, d.residual, d.med, m.mad
            FROM dev d JOIN mad m USING (event_type)
            WHERE d.d > 3.0 * 1.4826 * m.mad""",
        # Holt-Winters: the recursion state carries the FULL seasonal
        # history as a LIST (list_append per step) so s_{t-24} is one
        # subscript away — constants written in the exact order the
        # Python loop evaluates, the holt_smoothing discipline
        "holt_winters": _holt_winters_oracle_sql(),
    }
    # the chunk-and-chain variants compute the identical recursions, so
    # they share the sequential oracles verbatim
    oracles["ewma_chunked"] = oracles["ewma"]
    # quality-aware canonical member per dup cluster: clusters oracle as a
    # subquery + the shared quality CTE; (quality DESC, doc_id ASC) rank
    # mirrors the engine's max_by struct tie rule
    oracles["dedup_keep_best"] = f"""
        WITH {_quality_cte},
        c AS (SELECT * FROM ({_dedup_clusters_sql()})),
        j AS (SELECT c.cluster_id, c.doc_id, q.quality
              FROM c JOIN q USING (doc_id))
        SELECT cluster_id, n_members, doc_id AS keep_doc_id, keep_quality
        FROM (SELECT cluster_id, doc_id,
                     count(*) OVER (PARTITION BY cluster_id) AS n_members,
                     round(max(quality) OVER (PARTITION BY cluster_id), 6)
                         AS keep_quality,
                     row_number() OVER (PARTITION BY cluster_id
                                        ORDER BY quality DESC, doc_id ASC) AS r
              FROM j) WHERE r = 1"""
    # recall@5 of the IVF index vs exact cosine — composed from the two
    # existing oracles as CTE subqueries (named reuse, not text splicing)
    oracles["ivf_recall"] = f"""
        WITH e AS (SELECT query_id, cand_id FROM ({oracles["cosine_topk"]})),
        a AS (SELECT query_id, cand_id FROM ({oracles["ivf_ann_topk"]})),
        h AS (SELECT e.query_id, count(*) AS hits
              FROM e JOIN a ON e.query_id = a.query_id AND e.cand_id = a.cand_id
              GROUP BY e.query_id)
        SELECT e.query_id, count(*) AS k,
               coalesce(any_value(h.hits), 0) AS hits,
               round(coalesce(any_value(h.hits), 0) / count(*), 6) AS recall
        FROM e LEFT JOIN h ON e.query_id = h.query_id
        GROUP BY e.query_id"""
    def _recall_sql(approx_sql: str) -> str:
        return f"""
        WITH e AS (SELECT query_id, cand_id FROM ({oracles["cosine_topk"]})),
        a AS (SELECT query_id, cand_id FROM ({approx_sql})),
        h AS (SELECT e.query_id, count(*) AS hits
              FROM e JOIN a ON e.query_id = a.query_id AND e.cand_id = a.cand_id
              GROUP BY e.query_id)
        SELECT e.query_id, count(*) AS k,
               coalesce(any_value(h.hits), 0) AS hits,
               round(coalesce(any_value(h.hits), 0) / count(*), 6) AS recall
        FROM e LEFT JOIN h ON e.query_id = h.query_id
        GROUP BY e.query_id"""

    # --- Hamming-space ANN: replay the exact bit-packing arithmetic ------
    _h_mu = ", ".join(
        f"round(avg(CAST(embedding[{i + 1}] AS DOUBLE)), 6) AS mu{i}" for i in range(64)
    )
    _h_words = []
    for _j in range(2):
        _terms = " + ".join(
            f"(CASE WHEN CAST(e.embedding[{i + 1}] AS DOUBLE) > m.mu{i} "
            f"THEN {1 << (i - _j * 32)} ELSE 0 END)::BIGINT"
            for i in range(_j * 32, (_j + 1) * 32)
        )
        _h_words.append(f"({_terms}) AS w{_j}")
    _h_pack = f"""
        m AS (SELECT {_h_mu} FROM embeddings),
        b AS (SELECT e.vec_id, {", ".join(_h_words)} FROM embeddings e, m)"""
    oracles["hamming_bits"] = f"WITH {_h_pack} SELECT vec_id, w0, w1 FROM b"
    oracles["hamming_topk"] = f"""
        WITH {_h_pack},
        q AS (SELECT vec_id AS query_id, w0, w1 FROM b WHERE vec_id < 5),
        s AS (SELECT q.query_id, c.vec_id AS cand_id,
                     bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1)) AS hamming
              FROM b c, q WHERE c.vec_id <> q.query_id)
        SELECT query_id, cand_id, hamming, rank FROM (
          SELECT query_id, cand_id, hamming,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY hamming ASC, cand_id ASC) AS rank
          FROM s) WHERE rank <= 5"""
    # --- MMR diversified top-k: recursive CTE replays the greedy argmax —
    # pool ranked by UNROUNDED cosine (same as cosine_topk), then the
    # greedy itself runs in exact BIGINT micro-units (rel_u/sim_u =
    # round(x·1e6); λ=0.7 → weights 700000/300000), so scores never touch
    # a float rounding boundary; mmr_score = score_u/1e12, one exact
    # division in both engines.
    oracles["mmr_topk"] = """
        WITH RECURSIVE
        qq AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 3),
        cc AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
        scored AS (
          SELECT query_id, cand_id, cv,
                 list_dot_product(qv, cv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
          FROM qq, cc WHERE cand_id <> query_id),
        relpool AS (
          SELECT query_id, cand_id, cv,
                 CAST(round(round(sim, 6) * 1e6) AS BIGINT) AS rel_u
          FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim DESC, cand_id ASC) AS rk
            FROM scored) WHERE rk <= 15),
        pairs AS (
          SELECT a.query_id, a.cand_id AS c1, b.cand_id AS c2,
                 CAST(round(round(list_dot_product(a.cv, b.cv) /
                       (sqrt(list_dot_product(a.cv, a.cv)) *
                        sqrt(list_dot_product(b.cv, b.cv))), 6) * 1e6) AS BIGINT) AS sim_u
          FROM relpool a JOIN relpool b
            ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
        sel AS (
          SELECT query_id, 0 AS rank, NULL::BIGINT AS picked,
                 []::BIGINT[] AS sel_ids, NULL::BIGINT AS score_u
          FROM (SELECT DISTINCT query_id FROM relpool)
          UNION ALL
          SELECT query_id, rank, -best[2] AS picked,
                 list_append(sel_ids, -best[2]) AS sel_ids,
                 best[1] AS score_u
          FROM (
            SELECT s.query_id, s.rank + 1 AS rank, s.sel_ids,
                   (SELECT max([700000 * r.rel_u - 300000 * coalesce((
                              SELECT max(p.sim_u) FROM pairs p
                              WHERE p.query_id = s.query_id AND p.c1 = r.cand_id
                                AND list_contains(s.sel_ids, p.c2)), 0),
                            -r.cand_id])
                    FROM relpool r
                    WHERE r.query_id = s.query_id
                      AND NOT list_contains(s.sel_ids, r.cand_id)) AS best
            FROM sel s WHERE s.rank < 5))
        SELECT query_id, picked AS cand_id, score_u / 1e12 AS mmr_score, rank
        FROM sel WHERE rank >= 1"""
    # --- SQ8 scalar quantization: per-dim (lo, step) calibration over an
    # unnested (vec, dim) long table; codes/recon arithmetic is the same
    # double ops in the same order as the Spark expressions.
    _sq8_base = """
        dims AS (SELECT CAST(d AS INT) AS d FROM range(1, 65) t(d)),
        ex AS (SELECT vec_id, d, CAST(embedding[d] AS DOUBLE) AS x
               FROM embeddings, dims),
        st AS (SELECT d, min(x) AS lo,
                      greatest((max(x) - min(x)) / 255.0, 1e-12) AS step
               FROM ex GROUP BY d),
        codes AS (SELECT vec_id, ex.d, CAST(round((x - lo) / step) AS INT) AS c
                  FROM ex JOIN st USING (d))"""
    oracles["sq8_codes"] = f"""
        WITH {_sq8_base}
        SELECT vec_id, CAST(sum(c) AS INT) AS code_sum,
               max(CASE WHEN d = 1 THEN c END) AS c0,
               max(CASE WHEN d = 64 THEN c END) AS c63
        FROM codes GROUP BY vec_id"""
    oracles["sq8_topk"] = f"""
        WITH {_sq8_base},
        recon AS (SELECT vec_id AS cand_id,
                         list(lo + step * c ORDER BY d) AS rv
                  FROM codes JOIN st USING (d) GROUP BY vec_id),
        q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 5),
        s AS (SELECT query_id, cand_id, list_dot_product(qv, rv) AS sc
              FROM q, recon WHERE cand_id <> query_id)
        SELECT query_id, cand_id, round(sc, 6) AS score, rank FROM (
          SELECT query_id, cand_id, sc,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sc DESC, cand_id ASC) AS rank
          FROM s) WHERE rank <= 5"""
    # rank-aware eval composed from the two ranking oracles it judges —
    # truth side drives (LEFT JOIN), binary relevance = truth membership,
    # identical 1/log2 chain to similarity.ranking_eval
    oracles["ranking_eval"] = f"""
        WITH t AS (SELECT query_id, cand_id, rank AS tr
                   FROM ({oracles["cosine_topk"]})),
        c AS (SELECT query_id, cand_id, rank AS cr
              FROM ({oracles["sq8_topk"]})),
        j AS (SELECT t.query_id, t.tr, c.cr
              FROM t LEFT JOIN c
                ON t.query_id = c.query_id AND t.cand_id = c.cand_id)
        SELECT query_id, count(*) AS k,
               count(cr) AS hits,
               round(count(cr) / count(*), 6) AS recall,
               coalesce(round(1.0e0 / min(cr), 6), 0.0e0) AS mrr,
               round(sum(CASE WHEN cr IS NOT NULL
                              THEN 1.0e0 / log2(cr + 1) ELSE 0.0e0 END)
                     / sum(1.0e0 / log2(tr + 1)), 6) AS ndcg
        FROM j GROUP BY query_id"""
    oracles["leakage_safe_split"] = (
        "\nWITH RECURSIVE "
        + _minhash_lsh_ctes()
        + """,
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
        cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        keyed AS (
          SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS split_key
          FROM documents d LEFT JOIN cl USING (doc_id))
        SELECT doc_id, split_key,
               CASE WHEN substr(md5(split_key::VARCHAR), 1, 1) = '0' THEN 'val'
                    WHEN substr(md5(split_key::VARCHAR), 1, 1) = '1' THEN 'test'
                    ELSE 'train' END AS split
        FROM keyed"""
    )
    oracles["dedup_incremental"] = """
        WITH nh AS (SELECT doc_id, md5(text) AS content_hash
                    FROM documents WHERE doc_id >= 250),
        seen AS (SELECT DISTINCT md5(text) AS content_hash
                 FROM documents WHERE doc_id < 250),
        fresh AS (SELECT nh.* FROM nh ANTI JOIN seen USING (content_hash))
        SELECT doc_id, content_hash FROM (
          SELECT *, row_number() OVER (PARTITION BY content_hash
                                       ORDER BY doc_id ASC) AS rn
          FROM fresh) WHERE rn = 1"""
    _nd_bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh_{2 * b} || '|' || mh_{2 * b + 1} AS band_hash FROM sig"
        for b in range(4)
    )
    oracles["neardup_incremental"] = (
        "\nWITH "
        + _SHINGLE_CTE_BODY.format(flt="")
        + f", sig AS ({_minhash_sig_select(8)})"
        + f", banded AS ({_nd_bands})"
        + """,
        oldb AS (SELECT DISTINCT band, band_hash FROM banded WHERE doc_id < 250),
        hits AS (
          SELECT n.doc_id, count(DISTINCT n.band) AS band_hits
          FROM (SELECT DISTINCT doc_id, band, band_hash FROM banded
                WHERE doc_id >= 250) n
          JOIN oldb USING (band, band_hash) GROUP BY n.doc_id)
        SELECT d.doc_id, coalesce(h.band_hits, 0) AS band_hits,
               coalesce(h.band_hits, 0) > 0 AS is_neardup
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) d
        LEFT JOIN hits h USING (doc_id)"""
    )
    oracles["unpivot"] = """
        WITH long AS (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                 CAST(l_quantity AS DOUBLE) AS value
          FROM lineitem WHERE l_orderkey <= 800
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_extendedprice',
                 CAST(l_extendedprice AS DOUBLE)
          FROM lineitem WHERE l_orderkey <= 800
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE)
          FROM lineitem WHERE l_orderkey <= 800
          UNION ALL
          SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE)
          FROM lineitem WHERE l_orderkey <= 800)
        SELECT measure, count(*) AS n, round(sum(value), 2) AS total,
               round(avg(value), 6) AS mean
        FROM long GROUP BY measure"""
    from time_series_databse_engine_spark.operators.profile import profile_oracle_sql

    oracles["column_profile"] = profile_oracle_sql("orders", _PROFILE_COLS)
    # merged incremental registers must equal the full-scan profile exactly
    oracles["profile_incremental"] = oracles["column_profile"]
    from time_series_databse_engine_spark.operators.sketches import (
        hll_register_oracle_sql,
    )

    oracles["hll_distinct_daily"] = hll_register_oracle_sql(
        "events", ["event_type"], "user_id"
    )
    oracles["media_safe_decode"] = """
        SELECT doc_id AS media_id,
               (doc_id % 5) < 3 AS ok,
               CASE WHEN doc_id % 5 = 3 THEN 'corrupt'
                    WHEN doc_id % 5 = 4 THEN 'unsupported' END AS err_kind,
               CASE WHEN (doc_id % 5) < 3 THEN 4 END AS width
        FROM documents WHERE doc_id < 100"""
    oracles["media_probe"] = """
        SELECT doc_id AS media_id,
               (doc_id % 8) <> 5 AS ok,
               CASE doc_id % 8 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png'
                               WHEN 2 THEN 'jpeg' WHEN 3 THEN 'mp3'
                               WHEN 4 THEN 'mp4' WHEN 6 THEN 'flac'
                               WHEN 7 THEN 'ogg' END AS container,
               CASE WHEN doc_id % 8 IN (0, 1, 2) THEN 4 END AS width,
               CASE doc_id % 8 WHEN 3 THEN 44100 WHEN 6 THEN 44100
                               WHEN 7 THEN 16000 END AS sample_rate,
               CAST(CASE doc_id % 8 WHEN 3 THEN 208 WHEN 4 THEN 3210
                                    WHEN 6 THEN 2010 WHEN 7 THEN 1234
                    END AS BIGINT) AS duration_ms,
               CASE WHEN doc_id % 8 = 3 THEN 128 END AS bitrate_kbps
        FROM documents WHERE doc_id < 120"""
    oracles["html_strip"] = _html_strip_oracle_sql()
    oracles["clean_crawl"] = f"""
        WITH raw AS (SELECT doc_id, {_CRAWL_PLANT} AS html
                     FROM documents WHERE doc_id < 2000),
        s AS (SELECT doc_id, {_strip_expr("html")} AS text,
                     length(html) AS raw_len FROM raw),
        g AS (SELECT doc_id, text,
                     length(text) * 1000000 // raw_len AS visible_ppm FROM s),
        gated AS (SELECT *, {_quality_expr()} AS quality,
                         len(regexp_extract_all(text, '[^\\s]+')) AS n_tokens
                  FROM g WHERE visible_ppm >= 350000),
        qs AS (SELECT * FROM gated WHERE quality >= 0.5),
        keep AS (SELECT min(doc_id) AS doc_id FROM qs GROUP BY md5(text))
        SELECT doc_id, n_tokens, quality, CAST(visible_ppm AS BIGINT) AS visible_ppm
        FROM qs WHERE doc_id IN (SELECT doc_id FROM keep)"""
    oracles["url_normalize"] = f"""
        WITH {_url_parts_cte(500)}
        SELECT doc_id, url_norm, host, path, n_params FROM urls"""
    # domain_cap: eTLD+1 from the SAME pinned suffix snapshot the
    # operator broadcasts (imported, not re-typed — no drift), then the
    # md5-order per-domain row_number cap
    from time_series_databse_engine_spark.operators.web import (
        MULTI_LABEL_SUFFIXES as _PSL,
    )

    _psl_list = ", ".join(f"'{s}'" for s in _PSL)
    oracles["domain_cap"] = f"""
        WITH {_url_parts_cte(2000)},
        d AS (SELECT doc_id, host,
                     CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                          WHEN array_to_string(string_split(host, '.')[-2:], '.')
                               IN ({_psl_list})
                          THEN array_to_string(string_split(host, '.')[-3:], '.')
                          ELSE array_to_string(string_split(host, '.')[-2:], '.')
                     END AS domain
              FROM urls),
        r AS (SELECT doc_id, host, domain,
                     row_number() OVER (PARTITION BY domain
                         ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
              FROM d)
        SELECT doc_id, host, domain FROM r WHERE rn <= 5"""
    oracles["host_profile"] = f"""
        WITH {_url_parts_cte(2000)}
        SELECT host,
               count(*) AS n_pages,
               count(DISTINCT path) AS n_paths,
               CAST(sum(CASE WHEN n_params > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_query_pages
        FROM urls GROUP BY host"""
    oracles["bucketed_join_storage"] = """
        SELECT c_custkey, c_name, o_orderkey,
               round(o_totalprice, 2) AS total
        FROM customer JOIN orders ON c_custkey = o_custkey"""
    oracles["column_profile_exact"] = """
          SELECT 'o_orderkey' AS column, count(*) AS n,
                 CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                 count(DISTINCT o_orderkey) AS n_distinct,
                 min(CAST(o_orderkey AS VARCHAR)) AS min_s,
                 max(CAST(o_orderkey AS VARCHAR)) AS max_s
          FROM orders UNION ALL 
          SELECT 'o_custkey' AS column, count(*) AS n,
                 CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                 count(DISTINCT o_custkey) AS n_distinct,
                 min(CAST(o_custkey AS VARCHAR)) AS min_s,
                 max(CAST(o_custkey AS VARCHAR)) AS max_s
          FROM orders UNION ALL 
          SELECT 'o_orderstatus' AS column, count(*) AS n,
                 CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                 count(DISTINCT o_orderstatus) AS n_distinct,
                 min(CAST(o_orderstatus AS VARCHAR)) AS min_s,
                 max(CAST(o_orderstatus AS VARCHAR)) AS max_s
          FROM orders UNION ALL 
          SELECT 'o_totalprice' AS column, count(*) AS n,
                 CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                 count(DISTINCT o_totalprice) AS n_distinct,
                 min(CAST(o_totalprice AS VARCHAR)) AS min_s,
                 max(CAST(o_totalprice AS VARCHAR)) AS max_s
          FROM orders UNION ALL 
          SELECT 'o_orderdate' AS column, count(*) AS n,
                 CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                 count(DISTINCT o_orderdate) AS n_distinct,
                 min(CAST(o_orderdate AS VARCHAR)) AS min_s,
                 max(CAST(o_orderdate AS VARCHAR)) AS max_s
          FROM orders"""
    oracles["hamming_recall"] = _recall_sql(oracles["hamming_topk"])
    oracles["sq8_recall"] = _recall_sql(oracles["sq8_topk"])
    oracles["holt_chunked"] = oracles["holt_smoothing"]
    oracles["resample_1m_expr"] = oracles["resample_1m"]
    oracles["dsir_weights"] = """
        WITH toks AS (
          SELECT doc_id, lang = 'en' AS is_t,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x != '')) AS t
          FROM documents),
        rf AS (SELECT t, count(*) AS c_raw FROM toks GROUP BY t),
        tf AS (SELECT t, count(*) AS c_tgt FROM toks WHERE is_t GROUP BY t),
        rt AS (SELECT sum(c_raw) AS n_raw, count(*) AS v_raw FROM rf),
        tt AS (SELECT sum(c_tgt) AS n_tgt, count(*) AS v_tgt FROM tf)
        SELECT doc_id, count(*) AS n_tokens,
               round(avg(ln((coalesce(c_tgt, 0) + 1) / (n_tgt + v_tgt))
                         - ln((c_raw + 1) / (n_raw + v_raw))), 6) + 0.0
                   AS importance_weight
        FROM toks JOIN rf USING (t) LEFT JOIN tf USING (t)
        CROSS JOIN rt CROSS JOIN tt
        GROUP BY doc_id"""
    _hist_cte = f"""
        SELECT ({_EV_MS} - {_EV_MS} % 86400000) AS bucket_ms, event_type,
               least(63, greatest(0, floor((value - 0.0) / {500.0 / 64!r})::INT)) AS bin,
               count(*) AS cnt
        FROM events GROUP BY 1, 2, 3"""
    oracles["dsir_sample"] = f"""
        WITH w AS ({oracles['dsir_weights']})
        SELECT doc_id, n_tokens, importance_weight, gumbel_score FROM (
          SELECT *, round(importance_weight / 1.0
                          - ln(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                                    + 0.5) / 4294967296.0)), 6) AS gumbel_score
          FROM w)
        ORDER BY gumbel_score DESC, doc_id ASC LIMIT 50"""
    oracles["hist_sketch_daily"] = _hist_cte
    oracles["sketch_percentile"] = f"""
        WITH s AS ({_hist_cte}),
        m AS (SELECT event_type, bin, sum(cnt)::BIGINT AS cnt FROM s GROUP BY 1, 2),
        r AS (SELECT event_type, bin,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY bin)::BIGINT AS cum,
                     sum(cnt) OVER (PARTITION BY event_type)::BIGINT AS total
              FROM m)
        SELECT event_type, total AS n_rows,
               round(0.0 + (bin + 0.5) * {500.0 / 64!r}::DOUBLE, 6) AS p95_est
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bin) AS rn
              FROM r WHERE cum >= ceil(0.95 * total)) WHERE rn = 1"""
    # group_kfold: same hex->int trick as importance_sample's oracle;
    # conv()'s value is < 2^32 so BIGINT % k == pmod on the Spark side
    oracles["group_kfold"] = """
        SELECT user_id,
               CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 5
                    AS INTEGER) AS fold,
               count(*) AS n_events
        FROM events GROUP BY 1, 2"""
    # bpe_tokenize: full train+encode replay, unrolled to 16 generated
    # stages — see _bpe_oracle_sql's docstring for the two equivalence
    # arguments (doubled-separator replace; min-rank replace-all)
    oracles["bpe_tokenize"] = _bpe_oracle_sql(16)
    oracles["quality_classifier"] = _quality_classifier_oracle_sql()
    oracles["hash_split"] = """
        SELECT CASE WHEN d = '0' THEN 'val'
                    WHEN d = '1' THEN 'test'
                    ELSE 'train' END AS split,
               count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
        FROM (SELECT substr(md5(doc_id::VARCHAR), 1, 1) AS d, n_chars FROM documents)
        GROUP BY 1"""
    # zscore_chunked is the (key, chunk)-parallel twin of zscore_anomaly;
    # its contract is ROW-IDENTITY with the plain window, so the oracle
    # is shared verbatim (the ewma_chunked / psi_drift_incremental
    # result-identity discipline)
    oracles["zscore_chunked"] = oracles["zscore_anomaly"]
    # same discipline for the RANGE-frame twin
    oracles["moving_avg_chunked"] = oracles["moving_avg_time"]
    oracles["epoch_shuffle"] = """
        WITH h AS (
          SELECT doc_id,
                 md5(concat(CAST(1 AS VARCHAR), '-', CAST(doc_id AS VARCHAR))) AS hx
          FROM documents)
        SELECT doc_id,
               (('0x' || substr(hx, 1, 8))::BIGINT % 8)::INT AS shard,
               row_number() OVER (
                 PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 8
                 ORDER BY hx, doc_id)::BIGINT AS pos
        FROM h"""
    oracles["snapshot_delta"] = """
        WITH o AS (SELECT doc_id AS oid, md5(coalesce(text, chr(0))) AS oh
                   FROM documents WHERE doc_id % 10 != 0),
        n AS (SELECT doc_id AS nid,
                     md5(coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                                       ELSE text END, chr(0))) AS nh
              FROM documents WHERE doc_id % 7 != 3),
        d AS (SELECT coalesce(nid, oid) AS doc_id,
                     CASE WHEN oid IS NULL THEN 'added'
                          WHEN nid IS NULL THEN 'removed'
                          WHEN oh != nh THEN 'changed'
                          ELSE 'unchanged' END AS status
              FROM o FULL OUTER JOIN n ON oid = nid)
        SELECT doc_id, status FROM d WHERE status != 'unchanged'"""
    oracles["bpe_pairs"] = """
        WITH wds AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x != '')) AS w
          FROM documents),
        wf AS (SELECT w, count(*) AS f FROM wds GROUP BY w),
        p AS (SELECT substr(w, i, 2) AS pair, f
              FROM (SELECT w, f, unnest(generate_series(1, len(w) - 1)) AS i
                    FROM wf WHERE len(w) >= 2)),
        c AS (SELECT pair, sum(f)::BIGINT AS cnt FROM p GROUP BY pair)
        SELECT pair, cnt FROM c ORDER BY cnt DESC, pair ASC LIMIT 20"""
    # the shared funnel CTE prefix, factored explicitly (like _hist_cte /
    # _KMEANS_CTES) so the two funnel oracles cannot drift apart through
    # a hidden textual split
    _funnel_ctes = f"""
        WITH ev AS (SELECT user_id, event_type, {_EV_MS} AS ms FROM events
                    WHERE event_type IN ('view', 'click', 'purchase')),
        s1 AS (SELECT user_id, min(ms) AS t1 FROM ev
               WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT e.user_id, min(ms) AS t2 FROM ev e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND ms > t1 AND ms <= t1 + 86400000
               GROUP BY e.user_id),
        s3 AS (SELECT e.user_id, min(ms) AS t3
               FROM ev e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
               WHERE event_type = 'purchase' AND ms > t2 AND ms <= t1 + 86400000
               GROUP BY e.user_id)
        """
    oracles["funnel"] = (
        _funnel_ctes
        + """SELECT s1.user_id, t1, t2, t3,
               (1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                  + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS steps_completed
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""
    )
    oracles["funnel_rates"] = (
        _funnel_ctes
        + """SELECT count(*) AS n_step1, count(t2) AS n_step2, count(t3) AS n_step3,
               round(count(t2) / count(*)::DOUBLE, 6) AS rate_step2,
               round(count(t3) / count(*)::DOUBLE, 6) AS rate_step3,
               round(median((t2 - t1) / 1000.0), 6) AS median_s_to_click,
               round(median((t3 - t1) / 1000.0), 6) AS median_s_to_purchase
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"""
    )
    oracles["asof_join_tolerance"] = """
        SELECT event_id, user_id, ts_ms,
               CASE WHEN ts_ms - raw_click_ts <= 600000 THEN raw_click_ts END
                   AS click_ts_ms,
               CASE WHEN ts_ms - raw_click_ts <= 600000 THEN raw_value END
                   AS click_value
        FROM (
          SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
                 epoch_ms(c.ts) AS raw_click_ts, c.value AS raw_value
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND p.ts >= c.ts)"""
    oracles["bm25"] = """
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                            x -> x != '')) AS t
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        post AS (SELECT doc_id, t, count(*) AS tf FROM toks
                 WHERE t IN ('the', 'quick', 'data', 'model')
                 GROUP BY doc_id, t),
        dfq AS (SELECT t, count(*) AS df_t FROM post GROUP BY t),
        st AS (SELECT count(*) AS n_docs,
                      avg(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                          x -> x != ''))) AS avgdl
               FROM documents)
        SELECT doc_id, bm25 FROM (
          SELECT doc_id,
                 round(sum(ln((n_docs - df_t + 0.5::DOUBLE) / (df_t + 0.5::DOUBLE) + 1)
                           * (tf * 2.2::DOUBLE)
                           / (tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE
                                                  + 0.75::DOUBLE * dl / avgdl))), 6)
                     AS bm25
          FROM post JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN st
          GROUP BY doc_id)
        ORDER BY bm25 DESC, doc_id ASC LIMIT 10"""
    # hybrid retrieval: lexical CTE reuses the bm25 oracle verbatim (named
    # reuse, not text splicing); semantic side ranks rounded cosine vs the
    # vec_id-0 query vector; RRF = sum of 1/(60+rank) contributions
    oracles["rrf_hybrid"] = f"""
        WITH lex AS ({oracles["bm25"]}),
        lexr AS (SELECT doc_id,
                        row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
                 FROM lex),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        sem AS (SELECT vec_id AS doc_id,
                       round(list_dot_product(embedding::DOUBLE[], qv)
                             / (sqrt(list_dot_product(embedding::DOUBLE[],
                                                      embedding::DOUBLE[]))
                                * sqrt(list_dot_product(qv, qv))), 6) AS cos
                FROM embeddings CROSS JOIN qv),
        semr AS (SELECT doc_id, rank FROM (
                   SELECT doc_id,
                          row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
                   FROM sem) WHERE rank <= 10),
        contrib AS (SELECT doc_id, 1.0e0 / (60 + rank) AS c FROM lexr
                    UNION ALL
                    SELECT doc_id, 1.0e0 / (60 + rank) AS c FROM semr)
        SELECT doc_id, round(sum(c), 6) AS rrf_score, count(*) AS n_lists
        FROM contrib GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id ASC LIMIT 10"""
    oracles["bm25_many"] = """
        WITH q(query_id, query) AS (VALUES (1, 'the quick data model'),
                                           (2, 'hash join scan filter')),
        qt AS (SELECT query_id,
                      unnest(list_distinct(list_filter(
                        string_split_regex(lower(query), '\\s+'), x -> x != ''))) AS t
               FROM q),
        toks AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                            x -> x != '')) AS t
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        post AS (SELECT doc_id, t, count(*) AS tf FROM toks
                 WHERE t IN (SELECT DISTINCT t FROM qt)
                 GROUP BY doc_id, t),
        dfq AS (SELECT t, count(*) AS df_t FROM post GROUP BY t),
        st AS (SELECT count(*) AS n_docs,
                      avg(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                          x -> x != ''))) AS avgdl
               FROM documents),
        scored AS (
          SELECT query_id, doc_id,
                 round(sum(ln((n_docs - df_t + 0.5::DOUBLE) / (df_t + 0.5::DOUBLE) + 1)
                           * (tf * 2.2::DOUBLE)
                           / (tf + 1.2::DOUBLE * (1 - 0.75::DOUBLE
                                                  + 0.75::DOUBLE * dl / avgdl))), 6)
                     AS bm25
          FROM post JOIN qt USING (t) JOIN dfq USING (t)
               JOIN dl USING (doc_id) CROSS JOIN st
          GROUP BY query_id, doc_id)
        SELECT query_id, doc_id, bm25, rank FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY bm25 DESC, doc_id ASC) AS rank
          FROM scored) WHERE rank <= 10"""
    oracles["rolling_median"] = f"""
        SELECT event_type, {_EV_MS} AS ts_ms, value,
               round(median(value) OVER (
                 PARTITION BY event_type ORDER BY {_EV_MS} ASC, event_id ASC
                 ROWS BETWEEN 99 PRECEDING AND CURRENT ROW), 6) AS rolling_median,
               count(*) OVER (
                 PARTITION BY event_type ORDER BY {_EV_MS} ASC, event_id ASC
                 ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS n_window
        FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}"""
    oracles["rolling_median_sketch"] = f"""
        WITH b AS (
          SELECT event_type, {_EV_MS} AS ts_ms, event_id, value,
                 least(59, greatest(0, floor(value / 10.0::DOUBLE)::INT)) AS bin
          FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}),
        f AS (
          SELECT event_type, ts_ms, value,
                 list_sort(list(bin) OVER w) AS ls,
                 count(*) OVER w AS n_window
          FROM b
          WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms ASC, event_id ASC
                       ROWS BETWEEN 99 PRECEDING AND CURRENT ROW))
        SELECT event_type, ts_ms, value,
               round((ls[ceil(0.5 * n_window)::BIGINT]::DOUBLE + 0.5) * 10.0::DOUBLE,
                     6) AS rolling_median_est,
               n_window
        FROM f"""
    oracles["cap_events"] = f"""
        SELECT user_id, bucket_ms, event_id, ts_ms, event_type, value FROM (
          SELECT user_id, ms - ms % 86400000 AS bucket_ms, event_id,
                 ms AS ts_ms, event_type, value,
                 row_number() OVER (PARTITION BY user_id, ms - ms % 86400000
                                    ORDER BY ms ASC, event_id ASC) AS rk
          FROM (SELECT user_id, {_EV_MS} AS ms, event_id, event_type, value
                FROM events))
        WHERE rk <= 2"""
    oracles["cusum"] = f"""
        WITH base AS (
          SELECT event_type, {_EV_MS} AS ts_ms, event_id, value
          FROM events WHERE {_EV_MS} BETWEEN {T1} AND {T2}),
        mu AS (SELECT event_type, round(avg(value), 6) AS mu
               FROM base GROUP BY event_type),
        y AS (
          SELECT b.*,
                 CAST(round((b.value - m.mu - 0.5) * 1e6) AS BIGINT) AS yu,
                 CAST(round((m.mu - b.value - 0.5) * 1e6) AS BIGINT) AS zu
          FROM base b JOIN mu m USING (event_type)),
        s AS (
          SELECT event_type, ts_ms, event_id, value,
                 SUM(yu) OVER w AS s_run, SUM(zu) OVER w AS z_run
          FROM y
          WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id
                       ROWS UNBOUNDED PRECEDING)),
        f AS (
          SELECT event_type, ts_ms, event_id, value,
                 s_run - least(0, MIN(s_run) OVER w) AS spu,
                 z_run - least(0, MIN(z_run) OVER w) AS snu
          FROM s
          WINDOW w AS (PARTITION BY event_type ORDER BY ts_ms, event_id
                       ROWS UNBOUNDED PRECEDING))
        SELECT event_type, ts_ms, event_id, value,
               round(spu / 1e6, 6) AS cusum_pos,
               round(snu / 1e6, 6) AS cusum_neg,
               (spu > 5000000 OR snu > 5000000) AS alarm
        FROM f"""
    # persisted-index probe is result-identical to the in-memory IVFADC
    # composition by construction — the layout must never change answers,
    # so the oracle is shared verbatim (the salted_join result-identity
    # discipline applied to storage)
    oracles["ann_index_probe"] = oracles["ivfpq_topk"]
    # append path: quantizers pinned to the BASE sample; candidates = full
    # corpus (base rows encoded at build, appended rows at append — the
    # hash match proves the two encode paths bit-identical)
    oracles["ann_index_append"] = _ivfpq_oracle_sql(
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250)"
    )
    # build→append→compact→probe must be indistinguishable from
    # build→append→probe: compaction under the hash gate
    oracles["ann_index_compacted"] = oracles["ann_index_append"]
    oracles["fuzzy_join"] = """
        WITH dirty(dirty) AS (VALUES ('clik'), ('vew'), ('purchace'),
                                     ('signupp'), ('errror'), ('zzz')),
        t AS (SELECT DISTINCT event_type FROM events)
        SELECT dirty, event_type, levenshtein(dirty, event_type) AS edit_dist
        FROM dirty CROSS JOIN t
        WHERE levenshtein(dirty, event_type) <= 2"""
    oracles["semantic_dedup"] = """
        WITH cents AS (SELECT vec_id AS cell_id, embedding::DOUBLE[] AS cent
                       FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        a AS (SELECT id, v, cell_id FROM (
          SELECT id, v, cell_id,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY csim DESC, cell_id ASC) AS r
          FROM (SELECT id, v, cell_id,
                       list_dot_product(v, cent) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent, cent))) AS csim
                FROM e, cents)) WHERE r = 1),
        dropped AS (SELECT DISTINCT a2.id FROM a a1 JOIN a a2 USING (cell_id)
                    WHERE a1.id < a2.id
                      AND list_dot_product(a1.v, a2.v) /
                          (sqrt(list_dot_product(a1.v, a1.v)) *
                           sqrt(list_dot_product(a2.v, a2.v))) >= 0.3)
        SELECT a.id AS vec_id, a.cell_id FROM a
        WHERE a.id NOT IN (SELECT id FROM dropped)"""
    oracles["semantic_dedup_served"] = _semantic_dedup_served_oracle_sql()
    oracles["semantic_dedup_trained"] = (
        "\n        WITH " + _KMEANS_CTES + """,
        cents AS (SELECT cid AS cell_id, list(c ORDER BY dim) AS cent
                  FROM m2 GROUP BY cid),
        a AS (SELECT id, v, cell_id FROM (
          SELECT id, v, cell_id,
                 row_number() OVER (PARTITION BY id
                                    ORDER BY csim DESC, cell_id ASC) AS r
          FROM (SELECT id, v, cell_id,
                       list_dot_product(v, cent) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cent, cent))) AS csim
                FROM e, cents)) WHERE r = 1),
        dropped AS (SELECT DISTINCT a2.id FROM a a1 JOIN a a2 USING (cell_id)
                    WHERE a1.id < a2.id
                      AND list_dot_product(a1.v, a2.v) /
                          (sqrt(list_dot_product(a1.v, a1.v)) *
                           sqrt(list_dot_product(a2.v, a2.v))) >= 0.3)
        SELECT a.id AS vec_id, a.cell_id FROM a
        WHERE a.id NOT IN (SELECT id FROM dropped)"""
    )
    # md5 first-two-hex-digits bucket, the hashing_vectors idiom
    _B = (
        "((strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)) % 64"
    )
    oracles["maxsim_topk"] = f"""
        WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                   FROM documents),
        e AS (SELECT doc_id, toks,
                     unnest(generate_series(1,
                       greatest((len(toks) + 29) // 30, 1))) AS i
              FROM t),
        ch AS (SELECT doc_id, i AS chunk_idx,
                      array_to_string(list_slice(toks, (i-1)*30 + 1, i*30),
                                      ' ') AS chunk_text
               FROM e),
        ct AS (SELECT doc_id, chunk_idx,
                      unnest(list_filter(
                        string_split_regex(lower(chunk_text), '\\s+'),
                        x -> x != '')) AS t
               FROM ch),
        c AS (SELECT doc_id, chunk_idx, {_B} AS bucket, count(*) AS n
              FROM ct GROUP BY 1, 2, 3),
        w AS (SELECT doc_id, bucket,
                     round(n / sqrt(sum(n * n) OVER (PARTITION BY doc_id,
                                                     chunk_idx)), 6) AS w
              FROM c),
        q(q_id, q_text) AS (VALUES (1, 'fast hash join'),
                                   (2, 'window merge sort'),
                                   (3, 'spark stream query')),
        qt0 AS (SELECT q_id,
                       unnest(list_filter(
                         string_split_regex(lower(q_text), '\\s+'),
                         x -> x != '')) AS t
                FROM q),
        qt AS (SELECT q_id, {_B} AS bucket, count(*) AS m
               FROM qt0 GROUP BY 1, 2),
        mx AS (SELECT qt.q_id, w.doc_id, w.bucket, qt.m, max(w.w) AS mx
               FROM w JOIN qt USING (bucket) GROUP BY 1, 2, 3, 4),
        s AS (SELECT q_id, doc_id, round(sum(m * mx), 6) AS score
              FROM mx GROUP BY 1, 2),
        r AS (SELECT q_id, doc_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, doc_id) AS rn
              FROM s)
        SELECT q_id, doc_id, score, rn AS "rank" FROM r WHERE rn <= 20"""
    oracles["psi_drift"] = """
        WITH v AS (SELECT epoch_ms(ts) AS ms, value FROM events
                   WHERE value IS NOT NULL),
        rs AS (SELECT value FROM v WHERE (ms // 86400000) % 2 = 0),
        cs AS (SELECT value FROM v WHERE (ms // 86400000) % 2 = 1),
        b AS (SELECT list_transform(
                quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                      0.6, 0.7, 0.8, 0.9]),
                x -> round(x, 6)) AS bounds FROM rs),
        ra AS (SELECT 1 + len(list_filter(b.bounds, bd -> rs.value >= bd))
                        AS bin FROM rs, b),
        ca AS (SELECT 1 + len(list_filter(b.bounds, bd -> cs.value >= bd))
                        AS bin FROM cs, b),
        rc AS (SELECT bin, count(*) AS ref_cnt FROM ra GROUP BY 1),
        cc AS (SELECT bin, count(*) AS cur_cnt FROM ca GROUP BY 1),
        j AS (SELECT bin, COALESCE(ref_cnt, 0) AS ref_cnt,
                     COALESCE(cur_cnt, 0) AS cur_cnt
              FROM rc FULL OUTER JOIN cc USING (bin)),
        t2 AS (SELECT sum(ref_cnt) AS rt, sum(cur_cnt) AS ct FROM j),
        pb AS (SELECT bin, ref_cnt, cur_cnt,
                      round(((ref_cnt + 0.5) / (rt + 5.0)
                             - (cur_cnt + 0.5) / (ct + 5.0))
                            * ln(((ref_cnt + 0.5) / (rt + 5.0))
                                 / ((cur_cnt + 0.5) / (ct + 5.0))),
                            6) AS contrib
               FROM j, t2),
        p2 AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)
                        AS psi FROM pb)
        SELECT bin, ref_cnt, cur_cnt, contrib, psi FROM pb, p2"""
    # mergeable path is result-IDENTICAL to the fused one by construction
    # (same floats, same order) — share the oracle verbatim, the
    # profile_incremental discipline
    oracles["psi_drift_incremental"] = oracles["psi_drift"]
    # persisted inverted-index probe is result-identical to the in-memory
    # maxsim by construction (same vectors, float order, tie rule) — the
    # ann_index_probe result-identity discipline applied to sparse
    # retrieval; oracle shared verbatim
    oracles["maxsim_index_probe"] = oracles["maxsim_topk"]
    # append/compact are result-invisible lifecycle ops: the appended
    # (resp. appended-then-compacted) index probes bit-identically to a
    # fresh build over the union, so the maxsim oracle applies verbatim
    oracles["maxsim_index_append"] = oracles["maxsim_topk"]
    oracles["maxsim_index_compacted"] = oracles["maxsim_topk"]
    oracles["diverse_sample"] = _diverse_sample_oracle_sql()
    oracles["psi_drift_categorical"] = """
        WITH v AS (SELECT epoch_ms(ts) AS ms, event_type FROM events
                   WHERE event_type IS NOT NULL),
        rs AS (SELECT event_type AS category FROM v
               WHERE (ms // 86400000) % 2 = 0),
        cs AS (SELECT event_type AS category FROM v
               WHERE (ms // 86400000) % 2 = 1),
        cats AS (SELECT category,
                        CAST(row_number() OVER (ORDER BY _n DESC,
                                                category ASC) AS INT) AS bin
                 FROM (SELECT category, count(*) AS _n FROM rs GROUP BY 1
                       ORDER BY _n DESC, category ASC LIMIT 3)),
        rc AS (SELECT COALESCE(cats.bin, 0) AS bin, count(*) AS ref_cnt
               FROM rs LEFT JOIN cats USING (category) GROUP BY 1),
        cc AS (SELECT COALESCE(cats.bin, 0) AS bin, count(*) AS cur_cnt
               FROM cs LEFT JOIN cats USING (category) GROUP BY 1),
        j AS (SELECT bin, COALESCE(ref_cnt, 0) AS ref_cnt,
                     COALESCE(cur_cnt, 0) AS cur_cnt
              FROM rc FULL OUTER JOIN cc USING (bin)),
        t2 AS (SELECT sum(ref_cnt) AS rt, sum(cur_cnt) AS ct FROM j),
        pb AS (SELECT bin, ref_cnt, cur_cnt,
                      round(((ref_cnt + 0.5) / (rt + 2.0)
                             - (cur_cnt + 0.5) / (ct + 2.0))
                            * ln(((ref_cnt + 0.5) / (rt + 2.0))
                                 / ((cur_cnt + 0.5) / (ct + 2.0))),
                            6) AS contrib
               FROM j, t2),
        p2 AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE)
                        AS psi FROM pb)
        SELECT COALESCE(cats.category, '__other__') AS category, pb.bin,
               ref_cnt, cur_cnt, contrib, psi
        FROM pb LEFT JOIN cats ON pb.bin = cats.bin, p2"""
    # token digests once per token (the profile_registers md5 slice,
    # engine-identical); a window's key is the TUPLE of its 8 token
    # hashes — mirrors dedup.purge_dup_spans' plan exactly
    _hs = ", ".join(
        f"CASE WHEN p <= L - 8 THEN th[p + {i + 1}] "
        + ("ELSE -1" if i == 0 else ("ELSE doc_id" if i == 1 else ("ELSE p" if i == 2 else "ELSE 0")))
        + f" END AS h{i}"
        for i in range(8)
    )
    _hkeys = ", ".join(f"h{i}" for i in range(8))
    oracles["purge_dup_spans"] = f"""
        WITH t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
                   FROM documents),
        t2 AS (SELECT doc_id, toks, len(toks) AS L,
                      list_transform(toks,
                        x -> ('0x' || substring(md5(x), 1, 15))::BIGINT) AS th
               FROM t),
        pos AS (SELECT doc_id, L, toks, th,
                       unnest(generate_series(0, L - 1)) AS p
                FROM t2),
        g AS (SELECT doc_id, p, toks[p + 1] AS tok, {_hs}
              FROM pos),
        d AS (SELECT doc_id, p, tok,
                     CASE WHEN min(doc_id) OVER (PARTITION BY {_hkeys})
                               != max(doc_id) OVER (PARTITION BY {_hkeys})
                           AND doc_id != min(doc_id)
                                 OVER (PARTITION BY {_hkeys})
                          THEN 1 ELSE 0 END AS dup_start
              FROM g),
        c AS (SELECT doc_id, p, tok,
                     max(dup_start) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 1 AS covered
              FROM d)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN NOT covered THEN tok END,
                                   ' ' ORDER BY p), '') AS clean_text,
               sum(CASE WHEN covered THEN 1 ELSE 0 END)::BIGINT AS n_removed,
               sum(CASE WHEN covered THEN 0 ELSE 1 END)::BIGINT AS n_kept
        FROM c GROUP BY doc_id"""
    return oracles
