"""Table profiling — per-column row count, null count, distinct count,
min/max — the first query every warehouse runs on new data.

Two variants with the same output schema:

* :func:`profile_table` (the 100 TB default) estimates distincts with a
  hand-rolled **deterministic HyperLogLog** (Flajolet et al. 2007) built
  from md5 hashes, so the whole profile is ONE scan + a 2-level
  aggregate whose shuffle is ``n_cols × (m+1)`` register rows — never
  the data.  Hand-rolling (rather than ``approx_count_distinct``) buys
  exact cross-engine replayability: every register is an integer, the
  harmonic sum is scaled to an exact BIGINT, and the only floats are one
  literal constant, one division, and the small-range ``ln`` — so a
  DuckDB oracle reproduces the estimate bit-for-bit and the driver's
  value-hash gate applies to an *approximate* operator.

* :func:`profile_table_exact` is the exact-``countDistinct`` oracle
  variant.  Multiple DISTINCT aggregates make Catalyst insert an Expand
  node that multiplies every row ×(n_cols+1) before aggregating and
  shuffles distinct VALUES — correct, and the right cross-check at test
  scale, but the wrong default at 100 TB.

Scale shape of the default: explode to (column, value) long format
(codegen'd, map-side aggregated immediately), partial-agg to
``(column, bucket) → max(rho)`` registers, then ``n_cols`` final rows.
No Expand, no distinct-value shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# HLL parameters: p=12 → m=4096 registers; hash = 60-bit md5 slice,
# 12 bucket bits + 48 rho bits.  ALPHA doubles as a cross-engine literal:
# both engines parse the same decimal string to the same IEEE double.
P = 12
M = 1 << P
RHO_BITS = 48
# scale the harmonic sum by 2^50 so it is an exact BIGINT:
# register r contributes 2^(50-r) (r ∈ 1..49), an empty register 2^50;
# max total = m·2^50 = 2^62 < 2^63.
SCALE_POW = 50
ALPHA = 0.7213 / (1.0 + 1.079 / M)
# E_raw = ALPHA·m²·2^50 / S_scaled — precompute the numerator literal
C_NUM = repr(ALPHA * M * M * float(1 << SCALE_POW))


def profile_registers(
    df: DataFrame, cols: list[str], hash_fn: str = "md5"
) -> DataFrame:
    """The MERGEABLE half of the profiler: per-(column, HLL bucket)
    register rows ``(cname, bucket, reg, cnt, nulls, mn, mx)`` — the
    incremental-profiling state.  Every component is a semigroup
    (``max`` for registers, ``sum`` for counts, ``min``/``max`` for
    bounds), so register tables from separate increments (daily ingests,
    table shards) UNION and re-reduce to exactly the full-scan profile:
    materialize one per increment and the whole-corpus profile becomes a
    merge over n_cols×(m+1) rows per increment — the raw data is never
    re-scanned.  :func:`merge_profiles` is the reduce;
    ``profile_table == merge_profiles(profile_registers(df))`` by
    construction (oracle-checked as the ``profile_incremental`` entry).

    ``hash_fn``: ``"md5"`` (default) is the ORACLE hash — replayable
    bit-for-bit in DuckDB, the driver-gate configuration;
    ``"xxhash64"`` is the PRODUCTION hash — Spark's native codegen'd
    64-bit hash, measured ~3× cheaper per row, identical plan shape and
    statistical behaviour, but engine-specific so no SQL oracle can
    replay the estimate.  At 100 TB run xxhash64; the md5 twin exists
    so an approximate operator still sits under the value-hash gate."""
    # the md5 work runs in the MAP stage (pre-shuffle): a small input that
    # arrives as fewer splits than cores would hash single-threaded, so
    # split it up front.  At scale the input already has ≥cores splits
    # and this is a no-op (no extra exchange).
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("cname"),
                F.col(c).cast("string").alias("v"),
            )
            for c in cols
        ]
    )
    long = df.select(F.explode(pairs).alias("p")).select("p.cname", "p.v")
    # 60-bit hash; rho = leading-zero run of the 48 post-bucket bits + 1,
    # computed as 49 - length(bin(w)) — no floating log2 near power-of-two
    # boundaries for two engines to disagree on.  The hash is materialized
    # as its own column FIRST: bucket and rho both read it, and Spark does
    # not common-subexpression-eliminate across output expressions — the
    # one-projection form paid the md5 twice per row (measured ~2×).
    if hash_fn == "xxhash64":
        # native 64-bit hash: bucket = low 12 bits, rho from the 48 bits
        # above the low 16 (disjoint, like the md5 slice).  xxhash64 of a
        # NULL input returns the seed, not NULL — the v-is-null guards
        # below make that irrelevant.
        hashed = long.select("cname", "v", F.xxhash64("v").alias("_hv"))
        bucket = F.col("_hv").bitwiseAND(M - 1)
        w = F.shiftrightunsigned(F.col("_hv"), 16)
    else:
        hashed = long.select(
            "cname",
            "v",
            F.conv(F.substring(F.md5("v"), 1, 15), 16, 10).cast("long").alias("_hv"),
        )
        bucket = F.col("_hv") % M
        w = F.shiftright(F.col("_hv"), P)
    b = hashed.select(
        "cname",
        "v",
        F.when(F.col("v").isNull(), None).otherwise(bucket).alias("bucket"),
        F.when(F.col("v").isNull(), None)
        .otherwise(49 - F.length(F.bin(w)))
        .alias("rho"),
    )
    return b.groupBy("cname", "bucket").agg(
        F.max("rho").alias("reg"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("nulls"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )


def merge_profiles(registers: DataFrame) -> DataFrame:
    """Reduce a (union of) register table(s) to the final profile.  Two
    stacked aggregates: re-reduce per (cname, bucket) — idempotent on a
    single-increment table, the HLL/count/bounds merge on a union — then
    the finishing estimate per column."""
    l1 = registers.groupBy("cname", "bucket").agg(
        F.max("reg").alias("reg"),
        F.sum("cnt").alias("cnt"),
        F.sum("nulls").alias("nulls"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
    )
    occ = F.sum(F.when(F.col("bucket").isNotNull(), 1).otherwise(0)).cast("long")
    s_occ = F.sum(
        F.when(
            F.col("bucket").isNotNull(),
            # shiftleft needs a literal bit count in the Python API —
            # spell the variable-shift power of two in SQL
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {SCALE_POW} - reg)"),
        ).otherwise(F.lit(0).cast("long"))
    ).cast("long")
    l2 = l1.groupBy(F.col("cname").alias("column")).agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("nulls").cast("long").alias("nulls"),
        F.min("mn").alias("min_s"),
        F.max("mx").alias("max_s"),
        occ.alias("_occ"),
        s_occ.alias("_s_occ"),
    )
    s_total = (
        F.col("_s_occ")
        + (F.lit(M).cast("long") - F.col("_occ"))
        * F.lit(1 << SCALE_POW).cast("long")
    )
    e_raw = F.lit(float(C_NUM)) / s_total.cast("double")
    # small-range correction (linear counting) when E ≤ 2.5m and empties exist
    est = F.when(
        (e_raw <= F.lit(2.5 * M)) & (F.col("_occ") < F.lit(M)),
        F.lit(float(M))
        * F.log(F.lit(float(M)) / (F.lit(M).cast("long") - F.col("_occ")).cast("double")),
    ).otherwise(e_raw)
    return l2.select(
        "column",
        "n",
        "nulls",
        F.round(est).cast("long").alias("n_distinct_est"),
        "min_s",
        "max_s",
    )


def profile_table(
    df: DataFrame, cols: list[str], hash_fn: str = "md5"
) -> DataFrame:
    """One-scan approximate profile: (column, n, nulls, n_distinct_est,
    min_s, max_s) per requested column, distincts via deterministic HLL
    (module docstring).  With the default md5 hash, all arithmetic that
    feeds the estimate is integer until one final literal-constant
    division, so the DuckDB oracle in
    ``__spark_entry__.oracle_sql()['column_profile']`` matches
    hash-for-hash; ``hash_fn="xxhash64"`` is the ~3×-cheaper production
    hash (same plan, engine-specific estimate — see
    :func:`profile_registers`).  Composed as register-build + merge so
    the same code path serves incremental profiling."""
    return merge_profiles(profile_registers(df, cols, hash_fn))


def profile_table_exact(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact profile via one wide aggregate (n_cols ``countDistinct`` →
    Catalyst Expand ×(n_cols+1)) unpivoted to per-column rows.  The
    oracle/cross-check twin of :func:`profile_table`."""
    from ._util import _parallelize

    # the Expand ×(n_cols+1) multiplies every input row before the
    # partial aggregate; a single-file local table arrives as ONE scan
    # partition and serializes that CPU on one core (measured 2.4 s on
    # one task at sf0.1) — _parallelize is a no-op once the input has
    # ≥ default-parallelism partitions (the 100 TB case)
    df = _parallelize(df)
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__nulls").alias("nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_s"),
            F.col(f"{c}__max").alias("max_s"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def profile_oracle_sql(table: str, cols: list[str]) -> str:
    """DuckDB SQL replaying :func:`profile_table` exactly (same md5 slice,
    same integer registers, same literal constants)."""
    longs = "\n          UNION ALL ".join(
        f"SELECT '{c}' AS cname, CAST({c} AS VARCHAR) AS v FROM {table}"
        for c in cols
    )
    return f"""
        WITH long AS ({longs}),
        h AS (SELECT cname, v,
                     CASE WHEN v IS NULL THEN NULL
                          ELSE ('0x' || substring(md5(v), 1, 15))::BIGINT
                     END AS hv
              FROM long),
        b AS (SELECT cname, v,
                     CASE WHEN hv IS NULL THEN NULL ELSE hv % {M} END AS bucket,
                     CASE WHEN hv IS NULL THEN NULL
                          ELSE 49 - length(bin(hv >> {P})) END AS rho
              FROM h),
        l1 AS (SELECT cname, bucket, max(rho) AS reg, count(*) AS cnt,
                      sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS nulls,
                      min(v) AS mn, max(v) AS mx
               FROM b GROUP BY 1, 2),
        l2 AS (SELECT cname AS "column", sum(cnt)::BIGINT AS n,
                      sum(nulls)::BIGINT AS nulls,
                      min(mn) AS min_s, max(mx) AS max_s,
                      sum(CASE WHEN bucket IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                          AS occ,
                      sum(CASE WHEN bucket IS NOT NULL
                               THEN (1::BIGINT << ({SCALE_POW} - reg))
                               ELSE 0 END)::BIGINT AS s_occ
               FROM l1 GROUP BY 1)
        SELECT "column", n, nulls,
               CAST(round(CASE WHEN ({C_NUM} / (s_occ + ({M} - occ)
                                     * (1::BIGINT << {SCALE_POW}))::DOUBLE)
                                    <= {2.5 * M!r}
                               AND occ < {M}
                          THEN {float(M)!r}
                               * ln({float(M)!r} / ({M} - occ)::DOUBLE)
                          ELSE {C_NUM} / (s_occ + ({M} - occ)
                               * (1::BIGINT << {SCALE_POW}))::DOUBLE
                          END) AS BIGINT) AS n_distinct_est,
               min_s, max_s
        FROM l2"""


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    snapshot of a feature column — the standard drift monitor a
    training-data pipeline runs between crawl snapshots / model refreshes
    (PSI > 0.25 is the conventional "retrain" alarm).

    Shape (100 TB-safe): the two snapshots union under a flag, ONE
    exact-percentile aggregate computes the n_bins−1 boundaries from the
    REFERENCE rows only (`percentile` ignores the NULLed current rows),
    the boundary array broadcasts, bin assignment is a per-row fold
    (`sampling.equidepth_bins`' discipline), and the corpus reduces in a
    single (bin)-keyed exchange to an n_bins-row count table carrying
    both snapshots' EXACT-integer counts — raw rows never shuffle under
    the BIN key.  (The exact-`percentile` boundary aggregate is a
    buffering TypedImperativeAggregate, so reference VALUES do cross its
    one boundary exchange inside partial buffers — which is exactly why
    the 100 TB swap is `approx_percentile`: same plan shape, mergeable
    sketch registers instead of buffered values.)  Everything after is
    windows over n_bins rows.

    Float discipline: Laplace smoothing (cnt + 0.5) / (total + n_bins/2)
    keeps empty CURRENT bins finite without an arbitrary epsilon; each
    bin's contribution (p − q)·ln(p/q) is one fixed-order float
    expression rounded to 6 dp; the headline `psi` is the DECIMAL(18,6)
    sum of the rounded contributions — exact in any engine, so the hash
    gate sees no float-sum ordering.

    Returns one row per bin: (bin, ref_cnt, cur_cnt, contrib, psi) with
    psi repeated on every row.
    """
    from pyspark.sql import Window as W

    u = ref.select(F.col(col).alias("_v"), F.lit(True).alias("_is_ref")).unionByName(
        cur.select(F.col(col).alias("_v"), F.lit(False).alias("_is_ref"))
    ).where(F.col("_v").isNotNull())
    ps = [i / n_bins for i in range(1, n_bins)]
    ref_v = "CASE WHEN _is_ref THEN _v END"
    bounds = F.broadcast(
        u.agg(
            F.transform(
                F.expr(f"percentile({ref_v}, array({', '.join(map(str, ps))}))"),
                lambda b: F.round(b, 6),
            ).alias("_bounds")
        )
    )
    assign = F.lit(1) + F.aggregate(
        F.col("_bounds"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("_v") >= b, 1).otherwise(0),
    )
    per_bin = (
        u.crossJoin(bounds)
        .groupBy(assign.cast("int").alias("bin"))
        .agg(
            F.sum(F.when(F.col("_is_ref"), 1).otherwise(0)).alias("ref_cnt"),
            F.sum(F.when(F.col("_is_ref"), 0).otherwise(1)).alias("cur_cnt"),
        )
    )
    wall = W.partitionBy()  # n_bins rows — single partition is the point
    half = 0.5
    p = (F.col("ref_cnt") + half) / (F.sum("ref_cnt").over(wall) + n_bins * half)
    q = (F.col("cur_cnt") + half) / (F.sum("cur_cnt").over(wall) + n_bins * half)
    with_contrib = per_bin.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.round((p - q) * F.log(p / q), 6).alias("contrib"),
    )
    return with_contrib.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        "contrib",
        F.sum(F.col("contrib").cast("decimal(18,6)"))
        .over(wall)
        .cast("double")
        .alias("psi"),
    )


def psi_bounds(ref: DataFrame, col: str, n_bins: int = 10) -> DataFrame:
    """The PINNABLE half of the drift monitor: the reference snapshot's
    exact-percentile bin boundaries as a one-row array (6-dp rounded,
    `psi_drift`'s discipline).  At 100 TB the reference is scanned for
    boundaries ONCE, this row is persisted beside the model/corpus
    version, and every later increment is binned against it — the
    reference is never rescanned."""
    ps = [i / n_bins for i in range(1, n_bins)]
    return ref.where(F.col(col).isNotNull()).agg(
        F.transform(
            F.expr(f"percentile({col}, array({', '.join(map(str, ps))}))"),
            lambda b: F.round(b, 6),
        ).alias("_bounds")
    )


def psi_bin_counts(df: DataFrame, col: str, bounds: DataFrame) -> DataFrame:
    """Bin one increment against pinned boundaries → (bin, cnt) exact
    integers.  MERGEABLE state (sum per bin), like
    `profile_registers`: daily increments each produce n_bins rows, and
    any union re-reduces by a grouped sum — drift over a sliding window
    of increments never rescans raw data."""
    assign = F.lit(1) + F.aggregate(
        F.col("_bounds"),
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(col) >= b, 1).otherwise(0),
    )
    return (
        df.where(F.col(col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .groupBy(assign.cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def psi_from_counts(
    ref_counts: DataFrame, cur_counts: DataFrame, n_bins: int = 10
) -> DataFrame:
    """Finish PSI from (possibly merged) per-bin count tables — the
    reduce over `psi_bin_counts` state.  Float expressions are
    IDENTICAL to `psi_drift`'s (same order, same Laplace smoothing,
    same 6-dp round, same DECIMAL-exact psi sum), so
    psi_from_counts(counts(ref), merge(counts(cur_1), ..., counts(cur_k)))
    == psi_drift(ref, cur) bit-for-bit — the mergeable path sits under
    the same value-hash gate as the fused one.  Inputs are n_bins-row
    tables; everything here is O(n_bins)."""
    from pyspark.sql import Window as W

    r = ref_counts.groupBy("bin").agg(F.sum("cnt").alias("ref_cnt"))
    c = cur_counts.groupBy("bin").agg(F.sum("cnt").alias("cur_cnt"))
    j = (
        r.join(c, "bin", "full_outer")
        .select(
            F.col("bin").cast("int").alias("bin"),
            F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
            F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
        )
    )
    wall = W.partitionBy()
    half = 0.5
    p = (F.col("ref_cnt") + half) / (F.sum("ref_cnt").over(wall) + n_bins * half)
    q = (F.col("cur_cnt") + half) / (F.sum("cur_cnt").over(wall) + n_bins * half)
    with_contrib = j.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        F.round((p - q) * F.log(p / q), 6).alias("contrib"),
    )
    return with_contrib.select(
        "bin",
        "ref_cnt",
        "cur_cnt",
        "contrib",
        F.sum(F.col("contrib").cast("decimal(18,6)"))
        .over(wall)
        .cast("double")
        .alias("psi"),
    )


def psi_categories(ref: DataFrame, col: str, top_k: int = 20) -> DataFrame:
    """The pinnable categorical half of the drift monitor: the reference
    snapshot's ``top_k`` categories by frequency (ties broken by value
    ascending — fully deterministic) mapped to integer bins 1..k.
    Categories outside the top-k fold into the implicit OTHER bin 0 at
    binning time, so the drift table stays ``top_k + 1`` rows no matter
    how unbounded the live cardinality gets — the guard that makes
    categorical drift monitoring safe on id-like columns at 100 TB.
    Selection is a TakeOrderedAndProject (per-partition heaps), never a
    global sort; the rank window runs on the k-row result."""
    from pyspark.sql import Window as W

    top = (
        ref.where(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("category"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("category").asc())
        .limit(top_k)
    )
    rk = F.row_number().over(
        W.partitionBy().orderBy(F.col("_n").desc(), F.col("category").asc())
    )
    return top.select("category", rk.cast("int").alias("bin"))


def _categorical_bin_counts(df: DataFrame, col: str, cats: DataFrame) -> DataFrame:
    mapped = (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("category"))
        .join(F.broadcast(cats), "category", "left")
    )
    return mapped.groupBy(
        F.coalesce(F.col("bin"), F.lit(0)).cast("int").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def psi_drift_categorical(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    top_k: int = 20,
) -> DataFrame:
    """Population Stability Index over a CATEGORICAL feature (language
    mix, source mix, event-type mix — the drift a crawl refresh shows
    first).  Categories = the reference's top-k (:func:`psi_categories`,
    pinnable), everything else folds into the OTHER bin, and the finish
    is :func:`psi_from_counts` — float-for-float the numeric monitor's
    recipe (Laplace smoothing over top_k+1 bins, 6-dp contribs,
    DECIMAL-exact psi), so one alarm threshold serves both feature
    kinds.  Returns (category, bin, ref_cnt, cur_cnt, contrib, psi);
    the OTHER row carries category '__other__'."""
    cats = psi_categories(ref, col, top_k)
    out = psi_from_counts(
        _categorical_bin_counts(ref, col, cats),
        _categorical_bin_counts(cur, col, cats),
        n_bins=top_k + 1,
    )
    return out.join(F.broadcast(cats), "bin", "left").select(
        F.coalesce("category", F.lit("__other__")).alias("category"),
        "bin",
        "ref_cnt",
        "cur_cnt",
        "contrib",
        "psi",
    )


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    key: str,
    col: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per ``key`` group —
    the distribution-free companion to :func:`psi_drift`: PSI needs bin
    boundaries and a smoothing rule; KS is the exact supremum distance
    between the two empirical CDFs, so it catches shape drift PSI's ten
    bins blur (a variance change within one bin) and has a standard
    significance table.

        D = max over observed v of |ECDF_ref(v) − ECDF_cur(v)|

    evaluated at step points (right-continuous ECDFs attain the sup at
    observed values).  NULLs are excluded (no rank).  Rounded 6 dp, with
    the classic two-sided asymptotic threshold
    c(α)·sqrt((n+m)/(n·m)), c(0.05)=1.358, alongside for the alarm
    column — all exact integer arithmetic until the final divisions.

    Scale shape (the quantile_normalize discipline): both snapshots
    collapse map-side to the per-(key, value) DISTINCT count table
    before any window; the cumulative-count pass runs key-partitioned
    over distinct values (a 10^10-row group with 10^5 distinct scores
    windows 10^5 rows), and the finish is a key-grouped max over the
    same — raw rows never sort, never shuffle beyond the one count
    exchange.
    """
    u = (
        ref.select(F.col(key).alias("_k"), F.col(col).alias("_v"), F.lit(1).alias("_r"))
        .unionByName(
            cur.select(
                F.col(key).alias("_k"), F.col(col).alias("_v"), F.lit(0).alias("_r")
            )
        )
        .where(F.col("_v").isNotNull())
    )
    # note (r12 opt): spreading the 2-task map-side partial aggregate via
    # a round-robin repartition was MEASURED SLOWER (0.64 → 0.94 s at
    # sf0.1) — the keyless repartition pays sort-before-repartition over
    # every raw row, more than the 450 ms of serialized hash-map build it
    # recovers; left as the one-exchange plan
    vc = u.groupBy("_k", "_v").agg(
        F.sum("_r").alias("_cr"),
        F.sum(F.lit(1) - F.col("_r")).alias("_cc"),
    )
    return _ks_from_vc(vc, key)


def ks_from_counts(ref_vc: DataFrame, cur_vc: DataFrame, key: str) -> DataFrame:
    """Counts-based core of :func:`ks_drift`, shared with the streaming
    leg (``streaming.ingest.stream_ks_drift``) so both price the
    IDENTICAL float recipe — the ``burn_from_counts`` factoring.
    Inputs are per-(key, v) distinct-value count tables
    ``(key, v, cnt)``; NULL values must already be excluded."""
    vc = (
        ref_vc.select(
            F.col(key).alias("_k"),
            F.col("v").alias("_v"),
            F.col("cnt").alias("_cr"),
            F.lit(0).cast("long").alias("_cc"),
        )
        .unionByName(
            cur_vc.select(
                F.col(key).alias("_k"),
                F.col("v").alias("_v"),
                F.lit(0).cast("long").alias("_cr"),
                F.col("cnt").alias("_cc"),
            )
        )
        .groupBy("_k", "_v")
        .agg(F.sum("_cr").alias("_cr"), F.sum("_cc").alias("_cc"))
    )
    return _ks_from_vc(vc, key)


def _ks_from_vc(vc: DataFrame, key: str) -> DataFrame:
    """Shared finish: cumulative ECDF windows over the per-(key, value)
    count table, per-key sup-distance + threshold.  ``vc`` columns:
    (_k, _v, _cr, _cc)."""
    from pyspark.sql import Window as W

    wcum = (
        W.partitionBy("_k")
        .orderBy("_v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wk = W.partitionBy("_k")
    stepped = vc.select(
        "_k",
        F.sum("_cr").over(wcum).alias("_fr"),
        F.sum("_cc").over(wcum).alias("_fc"),
        F.sum("_cr").over(wk).alias("_n"),
        F.sum("_cc").over(wk).alias("_m"),
    )
    return (
        stepped.where((F.col("_n") > 0) & (F.col("_m") > 0))
        .groupBy(F.col("_k").alias(key), F.col("_n").alias("n_ref"), F.col("_m").alias("n_cur"))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("_fr") / F.col("_n") - F.col("_fc") / F.col("_m")
                    )
                ),
                6,
            ).alias("ks_stat")
        )
        .select(
            key,
            "n_ref",
            "n_cur",
            "ks_stat",
            F.round(
                F.lit(1.358)
                * F.sqrt(
                    (F.col("n_ref") + F.col("n_cur"))
                    / (F.col("n_ref") * F.col("n_cur"))
                ),
                6,
            ).alias("threshold_05"),
        )
        .withColumn("drifted", F.col("ks_stat") > F.col("threshold_05"))
    )


def kanon_suppress(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    agg_col: str | None = None,
) -> DataFrame:
    """k-anonymity release gate for a grouped report (Sweeney 2002): any
    quasi-identifier combination observed in fewer than ``k`` rows is
    SUPPRESSED — its groups collapse into one ``(*, *, …)`` residual row
    — so no published cell isolates fewer than ``k`` individuals.  The
    standard pre-release step for sharing event/usage aggregates outside
    the trust boundary; composes with the profiler (run this before
    publishing any per-segment table).

    Output: one row per surviving group plus at most ONE residual row
    (quasi columns all ``'*'``), with ``n`` (row count), ``n_groups``
    (1, or the number of suppressed groups folded into the residual) and
    — when ``agg_col`` is given — the group's ``sum_value`` (suppressed
    groups' masses merge into the residual, so the report's grand total
    is invariant; rounded 6 dp).

    Scale shape: ONE group-keyed aggregate (map-side partial) builds the
    per-group table; the suppression split is a filter over that
    group-cardinality-sized result plus a single-row re-aggregate of the
    suppressed side — raw rows shuffle once, under the group key.
    """
    aggs = [F.count("*").alias("n")]
    if agg_col is not None:
        aggs.append(F.round(F.sum(agg_col), 6).alias("sum_value"))
    # group-cardinality-sized; materialized once so the keep filter and
    # the residual re-aggregate never replay the corpus-sized groupBy
    g = df.groupBy(*quasi_cols).agg(*aggs).localCheckpoint(eager=False)
    keep = g.where(F.col("n") >= k).withColumn("n_groups", F.lit(1).cast("long"))
    sup_aggs = [
        F.sum("n").alias("n"),
        F.count("*").alias("n_groups"),
    ]
    if agg_col is not None:
        sup_aggs.insert(1, F.round(F.sum("sum_value"), 6).alias("sum_value"))
    residual = (
        g.where(F.col("n") < k)
        .agg(*sup_aggs)
        .where(F.col("n_groups") > 0)
        .select(
            *[F.lit("*").alias(c) for c in quasi_cols],
            "n",
            *(["sum_value"] if agg_col is not None else []),
            "n_groups",
        )
    )
    cols = [F.col(c).cast("string").alias(c) for c in quasi_cols] + [
        "n",
        *(["sum_value"] if agg_col is not None else []),
        "n_groups",
    ]
    return keep.select(*cols).unionByName(residual.select(*cols))


def mutual_info(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact mutual information between two categorical columns (Cover &
    Thomas ch. 2), the profiling family's dependence member: entropies
    answer "how diverse is this column", MI answers "does column X
    predict column Y" — the feature-redundancy / leakage-screen signal
    (an MI near min(H_x, H_y) means one column is a function of the
    other; near 0 means stratifying by X tells you nothing about Y).

        I(X;Y)  = Σ_xy p(x,y) · ln( p(x,y) / (p(x)·p(y)) )   [nats]
        NMI     = I / sqrt(H(X)·H(Y))                          [0..1]

    NULL in either column is excluded (no cell).  Returns ONE row:
    (n, n_x, n_y, h_x, h_y, mi, nmi), entropies/MI in nats rounded
    6 dp; NMI is NULL when either marginal entropy is 0 (a constant
    column carries no information to normalize by).

    Scale shape (the temperature_mix discipline): ONE exchange on the
    (x, y) joint key producing the cell-cardinality-sized count table;
    both marginals re-reduce FROM the cells (never rescanning the
    corpus) and the total rides along — everything after the first
    groupBy is cell-sized.  Exact integer counts until the final
    p·ln(...) terms.
    """
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=False)  # lineage cut; materialized in-job
    )
    mx = cells.groupBy("_x").agg(F.sum("_c").alias("_cx"))
    my = cells.groupBy("_y").agg(F.sum("_c").alias("_cy"))
    n = F.broadcast(cells.agg(F.sum("_c").alias("_n")))
    joined = (
        cells.join(F.broadcast(mx), "_x")
        .join(F.broadcast(my), "_y")
        .crossJoin(n)
    )
    # p ln(p...) terms; counts are exact ints so the only floats are the
    # final per-cell terms, summed grouped and rounded 6 dp
    p_xy = F.col("_c") / F.col("_n")
    mi_term = p_xy * F.log(F.col("_c") * F.col("_n") / (F.col("_cx") * F.col("_cy")))
    agg = joined.agg(
        F.max("_n").alias("n"),
        F.count_distinct("_x").alias("n_x"),
        F.count_distinct("_y").alias("n_y"),
        F.round(F.sum(mi_term), 6).alias("mi"),
    )
    hx = mx.crossJoin(n).agg(
        F.round(-F.sum((F.col("_cx") / F.col("_n")) * F.log(F.col("_cx") / F.col("_n"))), 6).alias("h_x")
    )
    hy = my.crossJoin(n).agg(
        F.round(-F.sum((F.col("_cy") / F.col("_n")) * F.log(F.col("_cy") / F.col("_n"))), 6).alias("h_y")
    )
    return (
        agg.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n",
            "n_x",
            "n_y",
            "h_x",
            "h_y",
            "mi",
            F.when(
                (F.col("h_x") > 0) & (F.col("h_y") > 0),
                F.round(F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 6),
            ).alias("nmi"),
        )
    )


def cohen_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa agreement between two categorical labelings of the
    same rows (Cohen 1960) — the label-QA member of the profiling
    family and :func:`mutual_info`'s calibration-aware sibling: MI asks
    "does A predict B at all"; kappa asks "do A and B AGREE beyond what
    their marginals would produce by chance" — the standard check
    between a heuristic labeler and a stored/ground-truth label, or two
    annotators, before a label column is trusted for training.

        p_o   = Σ_k n_kk / n              (observed agreement)
        p_e   = Σ_k (n_k· · n_·k) / n²     (chance agreement)
        kappa = (p_o − p_e) / (1 − p_e)

    NULL in either column is excluded (no judgment).  Returns ONE row:
    (n, n_labels_a, n_labels_b, po, pe, kappa), 6 dp; kappa is NULL
    when p_e = 1 (both raters constant and identical — agreement is
    vacuous, the undefined 0/0 case in Cohen's formula).

    Scale shape (the mutual_info discipline): ONE exchange on the
    (a, b) joint key producing the confusion-cell count table; both
    marginals and the diagonal re-reduce FROM the cells, never
    rescanning the corpus — everything after the first groupBy is
    |labels_a|·|labels_b|-sized.  Exact integer counts until the two
    final divisions.
    """
    cells = (
        df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=False)  # lineage cut; materialized in-job
    )
    ma = cells.groupBy("_a").agg(F.sum("_c").alias("_ca"))
    mb = cells.groupBy("_b").agg(F.sum("_c").alias("_cb"))
    # chance-agreement mass: join the two marginals on label equality
    # (inner — a label seen by only one rater contributes no n_k··n_·k
    # term), then one-row reduce.  Every post-cell table is label-sized.
    pe_num = (
        ma.join(F.broadcast(mb), F.col("_a") == F.col("_b"))
        .agg(F.coalesce(F.sum(F.col("_ca") * F.col("_cb")), F.lit(0)).alias("_pe_num"))
    )
    agg = cells.agg(
        F.sum("_c").alias("_n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(F.lit(0))).alias("_diag"),
        F.countDistinct("_a").alias("n_labels_a"),
        F.countDistinct("_b").alias("n_labels_b"),
    )
    return (
        agg.crossJoin(F.broadcast(pe_num))
        .select(
            F.col("_n").alias("n"),
            "n_labels_a",
            "n_labels_b",
            F.round(F.col("_diag") / F.col("_n"), 6).alias("po"),
            F.round(F.col("_pe_num") / (F.col("_n") * F.col("_n")), 6).alias("pe"),
            F.when(
                F.col("_pe_num") < F.col("_n") * F.col("_n"),
                F.round(
                    (F.col("_diag") / F.col("_n") - F.col("_pe_num") / (F.col("_n") * F.col("_n")))
                    / (F.lit(1) - F.col("_pe_num") / (F.col("_n") * F.col("_n"))),
                    6,
                ),
            ).alias("kappa"),
        )
    )


def expect_rules(df: DataFrame, rules) -> DataFrame:
    """Declarative data-quality rule audit (the Great-Expectations /
    dbt-test shape, engine-native): each rule is a ``(name, sql_bool)``
    pair over the table's columns; the audit reports, per rule, how
    many rows VIOLATE it — where a NULL verdict counts as a violation
    (a rule that cannot be evaluated on a row has not passed on it).

    Returns one row per rule: (rule, n, violations, pass_rate, passed),
    pass_rate rounded 6 dp, ``passed`` = zero violations.  Rule order
    follows the input list (rows are keyed by name; the driver compare
    is order-insensitive anyway).

    Scale shape: ONE scan, ZERO data shuffles — every rule folds into
    the same single global aggregate (a sum(CASE...) per rule, combined
    map-side), and the per-rule long format is a stack() over the ONE
    result row.  Adding a rule adds a column to the partial aggregate,
    not a pass over the data.  Exact integer counts until the
    pass-rate division.
    """
    if not rules:
        raise ValueError("expect_rules: at least one (name, sql_bool) rule required")
    aggs = [
        F.sum(
            F.when(
                ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias(f"_v{i}")
        for i, (_name, expr) in enumerate(rules)
    ]
    row = df.agg(F.count("*").alias("_n"), *aggs)
    pairs = ", ".join(f"'{name}', _v{i}" for i, (name, _expr) in enumerate(rules))
    long = row.selectExpr(
        "_n", f"stack({len(rules)}, {pairs}) AS (rule, violations)"
    )
    return long.select(
        "rule",
        F.col("_n").alias("n"),
        "violations",
        F.round((F.col("_n") - F.col("violations")) / F.col("_n"), 6).alias(
            "pass_rate"
        ),
        (F.col("violations") == 0).alias("passed"),
    )


def chi2_independence(
    df: DataFrame,
    x_col: str,
    y_col: str,
    chi2_crit: float | None = None,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (Pearson 1900) + Cramér's V effect size — the
    significance-scaled sibling of :func:`mutual_info`: MI measures HOW
    MUCH one column tells you about the other in nats; χ² asks whether
    the observed dependence exceeds sampling noise, and V rescales it
    to a sample-size-free [0, 1] so two tables of different sizes
    compare (the categorical-drift / segment-dependence screen).

        χ²  = Σ_ij (n_ij − e_ij)² / e_ij,   e_ij = r_i·c_j / n
        V   = sqrt( χ² / (n · min(R−1, C−1)) )        (Cramér 1946)

    NULL in either column is excluded (no cell).  Returns ONE row:
    (n, n_x, n_y, dof, chi2, cramers_v, significant) — χ²/V rounded
    6 dp.  Cells never observed still contribute: Σ over ALL R×C cells
    of (n_ij−e_ij)²/e_ij = Σ_observed n_ij²/e_ij − n exactly (the
    missing-cell closure the srm_check χ² uses), so the statistic is
    over the full contingency rectangle.  ``significant`` compares
    against ``chi2_crit`` when given and is NULL otherwise (the
    critical value depends on dof — pass the χ²_{0.05, dof} for your
    table; no incomplete-gamma in either SQL engine).  V is NULL for a
    degenerate 1×C / R×1 table (dof = 0).

    Scale shape (the mutual_info discipline): ONE exchange on the
    (x, y) joint key producing the cell-count table; marginals join
    broadcast FROM the cells, never rescanning the corpus.  Exact
    integer counts until the final divisions.
    """
    cells = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=False)  # lineage cut; materialized in-job
    )
    mx = cells.groupBy("_x").agg(F.sum("_c").alias("_cx"))
    my = cells.groupBy("_y").agg(F.sum("_c").alias("_cy"))
    joined = cells.join(F.broadcast(mx), "_x").join(F.broadcast(my), "_y")
    # Σ n_ij²/e_ij = n · Σ n_ij²/(r_i·c_j); carried as the exact-count
    # ratio sum, scaled by n in the final row
    agg = joined.agg(
        F.sum("_c").alias("_n"),
        F.count_distinct("_x").alias("n_x"),
        F.count_distinct("_y").alias("n_y"),
        F.sum(
            F.col("_c").cast("double") * F.col("_c").cast("double")
            / (F.col("_cx").cast("double") * F.col("_cy").cast("double"))
        ).alias("_ratio"),
    )
    n = F.col("_n").cast("double")
    chi2 = n * F.col("_ratio") - n
    dof = (F.col("n_x") - 1) * (F.col("n_y") - 1)
    minside = F.least(F.col("n_x") - 1, F.col("n_y") - 1).cast("double")
    v = F.when(dof > 0, F.round(F.sqrt(F.greatest(chi2, F.lit(0.0)) / (n * minside)), 6))
    sig = (
        F.lit(None).cast("boolean")
        if chi2_crit is None
        else (chi2 > F.lit(float(chi2_crit)))
    )
    return agg.select(
        F.col("_n").alias("n"),
        "n_x",
        "n_y",
        dof.alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        v.alias("cramers_v"),
        sig.alias("significant"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected-calibration-error decomposition of
    a probabilistic classifier against binary outcomes (Naeini 2015 for
    ECE; Brier 1950) — the eval that decides whether a quality/filter
    model's scores can be USED as probabilities (threshold picking,
    expected-token budgeting) or only as a ranking:
    :func:`~..similarity.ranking_eval` grades the ordering; this grades
    the calibration.

    Scores are clipped to [0, 1] and binned into ``n_bins`` equal-width
    bins by floor(score·B) (score = 1 joins the top bin); per bin:

        (bin, n, mean_score, frac_pos, abs_gap, weight, brier)

    where ``abs_gap`` = |mean_score − frac_pos| (the bin's reliability
    deviation; Σ weight·abs_gap over bins is the ECE), ``weight`` =
    n_bin/n, and ``brier`` = avg((score − label)²) within the bin (the
    bin-sliced Brier score).  6 dp; one row per OCCUPIED bin, bin
    ascending.  NULL score or label rows are excluded.

    Fixed-point discipline (the cuped/srm recipe): scores quantize to
    integer MICRO-units (round(s·10⁶), the classifier's own 6-dp score
    grid) so every per-bin sum — Σs, Σy, Σ(s−y)² in micro² — is an
    exact BIGINT in both engines and only the final divisions are
    floats.  (Σ(s−y)² ≤ n·10¹²: overflow needs ~9·10⁶ rows PER BIN
    times 10¹² — switch the squares column to DECIMAL(38,0) beyond
    ~10¹⁸, noted rather than silently saturated.)

    Scale shape: ONE exchange — the bin-keyed reduce (≤ n_bins groups,
    map-side partials carry 4 integers).  Scores come in from the
    classifier's own plan; the report adds no corpus shuffle beyond
    the ≤ n_bins-row aggregate.
    """
    s = F.least(F.greatest(F.col(score_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    su = F.round(s * F.lit(1000000.0)).cast("long")
    yu = F.col(label_col).cast("long")
    b = F.least(F.floor(s * F.lit(int(n_bins))).cast("int"), F.lit(int(n_bins) - 1))
    binned = df.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(b.alias("bin"), su.alias("_su"), yu.alias("_yu"))
    d = F.col("_su") - F.col("_yu") * F.lit(1000000)
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("_su").alias("_ss"),
        F.sum("_yu").alias("_sy"),
        F.sum(d * d).alias("_sq"),
    )
    tot = F.broadcast(per.agg(F.sum("n").alias("_tot")))
    nn = F.col("n").cast("double")
    ms = F.col("_ss").cast("double") / nn / F.lit(1000000.0)
    fp = F.col("_sy").cast("double") / nn
    return (
        per.crossJoin(tot)
        .select(
            "bin",
            "n",
            F.round(ms, 6).alias("mean_score"),
            F.round(fp, 6).alias("frac_pos"),
            F.round(F.abs(ms - fp), 6).alias("abs_gap"),
            F.round(nn / F.col("_tot").cast("double"), 6).alias("weight"),
            F.round(
                F.col("_sq").cast("double") / nn / F.lit(1.0e12), 6
            ).alias("brier"),
        )
        .orderBy("bin")
    )


def benford_audit(
    df: DataFrame,
    value_col: str,
    group_col: str,
    mad_crit: float = 0.015,
) -> DataFrame:
    """First-significant-digit Benford conformity audit per group
    (Newcomb 1881 / Benford 1938; MAD cutoffs per Nigrini 2012) — the
    forensic data-quality screen for "naturally grown" numeric columns:
    organic transaction amounts follow P(d) = log₁₀(1 + 1/d), while
    fabricated, capped, defaulted, or unit-mangled feeds don't — a
    cheap per-source tripwire that catches generator bugs and upstream
    truncation no schema check sees.

        χ²  = n · Σ_d (obs_d − exp_d)² / exp_d      (8 dof)
        MAD = (1/9) Σ_d |obs_d − exp_d|             (Nigrini's measure)

    The digit comes from the value in exact integer CENTS
    (round(v·100), the house fixed-point): BIGINT→string never goes
    scientific in either engine, so ``substr(cast(cents), 1, 1)`` is
    deterministic where float log₁₀-of-a-power-of-ten flooring is not.
    Rows with cents ≤ 0 are excluded (Benford is defined on positive
    magnitudes).  Returns one row per group: (group, n, chi2, mad,
    conforming) — 6 dp, ``conforming`` = MAD ≤ ``mad_crit`` (0.015 is
    Nigrini's first-digit nonconformity bound).  Digits a group never
    produced still contribute their full expected share to both
    statistics (the srm_check missing-cell charge, via a 9-row
    digit-literal cross join).

    Scale shape: ONE exchange on the (group, digit) key — ≤ 9·|groups|
    cells regardless of row count; the expected-share table is a 9-row
    literal broadcast and the finish is a per-group 9-row reduce.
    Exact integer counts until the final shares.
    """
    cents = F.round(F.col(value_col) * 100).cast("long")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    cells = (
        df.where(F.col(group_col).isNotNull() & (cents > 0))
        .groupBy(F.col(group_col).alias("g"), d.alias("d"))
        .agg(F.count("*").alias("cnt"))
    )
    return benford_from_counts(cells, mad_crit=mad_crit, group_out_col=group_col)


def benford_from_counts(
    cells: DataFrame,
    mad_crit: float = 0.015,
    group_out_col: str = "group",
) -> DataFrame:
    """Counts-based core of :func:`benford_audit`, shared with the
    streaming leg (``streaming.ingest.stream_benford``) so both price
    the IDENTICAL statistics (the ``ks_from_counts`` factoring).
    Input is a per-(group, first digit) count table ``(g, d, cnt)``
    with non-positive rows already excluded; count tables from separate
    increments UNION + re-reduce before calling."""
    import math

    spark = cells.sparkSession
    exp = spark.createDataFrame(
        [(dd, math.log10(1.0 + 1.0 / dd)) for dd in range(1, 10)],
        "d int, _e double",
    )
    # full 9-digit rectangle per group: groups × the digit literal, so
    # never-seen digits charge their expected mass
    groups = cells.groupBy("g").agg(F.sum("cnt").alias("_n"))
    rect = (
        groups.crossJoin(F.broadcast(exp))
        .join(cells, ["g", "d"], "left")
        .select(
            "g",
            "_n",
            "_e",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("_c"),
        )
    )
    obs = F.col("_c").cast("double") / F.col("_n").cast("double")
    e = F.col("_e")
    per = rect.groupBy(F.col("g"), F.col("_n")).agg(
        F.sum((obs - e) * (obs - e) / e).alias("_x2"),
        F.sum(F.abs(obs - e)).alias("_sad"),
    )
    chi2 = F.col("_n").cast("double") * F.col("_x2")
    mad = F.col("_sad") / F.lit(9.0)
    return (
        per.select(
            F.col("g").alias(group_out_col),
            F.col("_n").alias("n"),
            F.round(chi2, 6).alias("chi2"),
            F.round(mad, 6).alias("mad"),
            (mad <= F.lit(float(mad_crit))).alias("conforming"),
        )
        .orderBy(group_out_col)
    )
