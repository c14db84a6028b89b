"""Plan-shape assertions: the 100 TB posture, checked programmatically."""

import pytest
from pyspark.sql import functions as F

from time_series_databse_engine_spark.plans import (
    has_cartesian_product,
    num_shuffles,
    partition_filters,
    pushed_filters,
    uses_broadcast_join,
)
from time_series_databse_engine_spark.sources import load_table


def _guard(spark) -> str:
    """``operators._util._parallelize``'s exchange as the plan prints it:
    ``repartition(defaultParallelism)``, a round-robin shuffle."""
    n = spark.sparkContext.defaultParallelism
    return f"Exchange RoundRobinPartitioning({n}), REPARTITION_BY_NUM"


def test_shuffle_exchange_counter_sees_each_exchange_kind(spark):
    """One plan per exchange kind: every shuffle counts once, the
    broadcast and the reused exchange not at all."""
    from time_series_databse_engine_spark.plans import (
        has_reused_exchange,
        num_shuffle_exchanges,
        num_shuffles,
        shuffle_exchanges,
    )

    r = spark.range(100)
    kinds = {
        "hashpartitioning": r.repartition(4, "id"),
        "rangepartitioning": r.repartitionByRange(4, "id"),
        "RoundRobinPartitioning": r.repartition(4),
        "SinglePartition": r.agg(F.sum("id")),
    }
    for kind, df in kinds.items():
        assert shuffle_exchanges(df) == [kind], kind
    bcast = r.join(F.broadcast(spark.range(10)), "id")
    assert num_shuffle_exchanges(bcast) == 0 and num_shuffles(bcast) == 1
    # a self-join over one aggregate: AQE computes its exchange once and
    # the other side reads it back; the final plan prints the initial one
    # below it, which is not counted either
    g = r.groupBy((F.col("id") % 10).alias("k")).count()
    reused = g.alias("a").join(g.alias("b").hint("shuffle_merge"), "k")
    reused.collect()
    assert has_reused_exchange(reused)
    assert shuffle_exchanges(reused) == ["hashpartitioning"]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert any("l_quantity" in p for p in pushed_filters(df))


def test_small_dim_join_broadcasts(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    df = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    assert uses_broadcast_join(df)
    assert not has_cartesian_product(df)


def test_store_partition_pruning(spark, tmp_path):
    from time_series_databse_engine_spark import TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "p"))
    store.ingest(
        spark.createDataFrame(
            [("m", 1000, 1.0), ("m", 7_200_000, 2.0)],
            "metric string, ts_ms long, value double",
        )
    )
    df = store.query_range(0, 3000)
    assert any("hour_bucket" in p for p in partition_filters(df))


def test_windowed_agg_single_shuffle(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    from time_series_databse_engine_spark.operators.timeseries import moving_avg

    df = moving_avg(ev, ["event_type"], ["ts_ms"])
    assert num_shuffles(df) <= 1


def test_minhash_signatures_zero_shuffle_no_groupby(spark, sf_dir):
    from time_series_databse_engine_spark.operators.dedup import minhash_signatures
    from time_series_databse_engine_spark.plans import num_shuffle_exchanges, simple_plan

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    # the signature fold is pure per-row expression work — no aggregation
    # shuffle anywhere (a repartition for CPU spread is the only exchange
    # allowed, and only when the input arrives under-parallel)
    assert "HashAggregate" not in simple_plan(sigs)
    assert num_shuffle_exchanges(sigs) <= 1


def test_lsh_self_join_reuses_exchange(spark, sf_dir):
    from time_series_databse_engine_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from time_series_databse_engine_spark.plans import simple_plan

    pairs = lsh_candidate_pairs(minhash_signatures(load_table(spark, sf_dir, "documents")))
    pairs.collect()  # reuse is wired at AQE runtime; inspect the final plan
    p = simple_plan(pairs)
    assert "isFinalPlan=true" in p
    assert "ReusedExchange" in p, "signature pipeline must be computed once, not per join side"


def test_scan_shaped_ops_have_zero_shuffles(spark, sf_dir):
    from time_series_databse_engine_spark.operators.sampling import deterministic_sample
    from time_series_databse_engine_spark.operators.text import (
        chunk_documents,
        quality_score,
        redact_pii,
        winnow_fingerprint,
    )
    from time_series_databse_engine_spark.plans import (
        num_shuffle_exchanges,
        num_shuffles,
        shuffle_exchanges,
        simple_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    for op in (deterministic_sample, redact_pii, winnow_fingerprint, chunk_documents):
        assert num_shuffle_exchanges(op(docs)) == 0, op.__name__
    # chunking costs less than the guarded repartition's shuffle, so it has
    # no exchange of any kind
    assert num_shuffles(chunk_documents(docs)) == 0
    # quality_score's one exchange is _parallelize's guard, spreading the
    # one-file documents table over the cores before its per-row scoring
    scored = quality_score(docs)
    assert shuffle_exchanges(scored) == ["RoundRobinPartitioning"]
    assert _guard(spark) in simple_plan(scored)


def test_cosine_topk_streams_candidates_once(spark, sf_dir):
    from time_series_databse_engine_spark.operators.similarity import cosine_topk
    from time_series_databse_engine_spark.plans import shuffle_exchanges, simple_plan

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_topk(emb, emb.filter(F.col("vec_id") < 3))
    p = simple_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # query set broadcast, big side streamed
    # two shuffles: the per-query top-k rank over scored triples, and
    # _parallelize's guard spreading the one-file candidate side once
    assert shuffle_exchanges(df) == ["hashpartitioning", "RoundRobinPartitioning"]
    assert _guard(spark) in p


def test_tfidf_single_corpus_exchange(spark, sf_dir):
    """The corpus must cross exactly one exchange (the id repartition);
    everything else is vocab-sized, scalar, or broadcast — see the
    tfidf_top_terms docstring for the two measured traps this guards."""
    from time_series_databse_engine_spark.operators.text import tfidf_top_terms
    from time_series_databse_engine_spark.plans import num_shuffle_exchanges, simple_plan

    docs = load_table(spark, sf_dir, "documents")
    df = tfidf_top_terms(docs, k=3)
    # repartition(id) + dfreq vocab agg + n_docs scalar agg = 4 exchanges
    # in the static plan (corpus crosses only the first)
    assert num_shuffle_exchanges(df) <= 4
    p = simple_plan(df)
    assert "CartesianProduct" not in p


def test_near_dup_lsh_is_bucketed_not_all_pairs(spark, sf_dir):
    """The scale near-dup path must plan a bucket equi-join, never a
    broadcast-nested-loop over all pairs (the n² baseline's shape)."""
    from time_series_databse_engine_spark.operators.similarity import cosine_near_dup_lsh
    from time_series_databse_engine_spark.plans import simple_plan

    emb = load_table(spark, sf_dir, "embeddings")
    p = simple_plan(cosine_near_dup_lsh(emb, threshold=0.4, num_planes=4, dim=64))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_kmeans_never_shuffles_pairs(spark, sf_dir):
    """Assignment broadcasts k centroids; shuffles carry
    (cluster, dim)-keyed rows only — no pairwise joins and, since the
    round-4 broadcast-argmax rewrite, no rank window over the N×k
    multiplied corpus (the fold keeps assignment at one row in, one row
    out, zero assignment-side exchange)."""
    from time_series_databse_engine_spark.operators.similarity import kmeans_lloyd
    from time_series_databse_engine_spark.plans import simple_plan

    emb = load_table(spark, sf_dir, "embeddings")
    p = simple_plan(kmeans_lloyd(emb, k=4, iters=1))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p  # centroids move to the data, not vice versa
    # broadcast-argmax assignment: no Window node anywhere in the plan —
    # the old shape pushed k× the corpus through a per-id rank window
    assert "Window" not in p
    # hash-sampled centroid seed: k-heap TakeOrderedAndProject, never a
    # full-table range-partitioned sort
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_gapfill_locf_two_exchanges(spark, sf_dir):
    """Collapse + bounds reuse one explicit series-key exchange; only the
    carry window re-shuffles after the grid unions in."""
    from time_series_databse_engine_spark.operators.timeseries import gapfill_locf
    from time_series_databse_engine_spark.plans import num_shuffle_exchanges

    e = load_table(spark, sf_dir, "events").filter("ts_ms between 0 and 2000000000000")
    assert num_shuffle_exchanges(gapfill_locf(e, "event_type", 300_000)) <= 2


def test_ivf_assignment_never_multiplies_corpus(spark, sf_dir):
    """Cell assignment is a broadcast-array fold: the candidate side must
    not plan a per-centroid row explosion (crossJoin with the 16-row
    centroid table followed by a rank window on cand_id)."""
    from time_series_databse_engine_spark.operators.similarity import ivf_topk
    from time_series_databse_engine_spark.plans import shuffle_exchanges, simple_plan

    emb = load_table(spark, sf_dir, "embeddings")
    df = ivf_topk(emb, emb.filter("vec_id < 5"), k=5)
    p = simple_plan(df)
    assert "CartesianProduct" not in p
    # windows: query probe rank + final top-k only — no cand_id rank window
    import re

    window_nodes = re.findall(r"[+:]- Window ", p)
    assert len(window_nodes) <= 2
    # final top-k rank, _parallelize's guard on the one-file candidate
    # side, query probe rank; the codebook is a top-k, not a range sort
    assert shuffle_exchanges(df) == [
        "hashpartitioning", "RoundRobinPartitioning", "hashpartitioning"
    ]
    assert _guard(spark) in p


def test_mad_anomaly_single_series_exchange(spark, sf_dir):
    """Median and MAD percentile windows share one series partitioning."""
    from time_series_databse_engine_spark.operators.timeseries import mad_anomalies
    from time_series_databse_engine_spark.plans import num_shuffle_exchanges

    e = load_table(spark, sf_dir, "events")
    assert num_shuffle_exchanges(mad_anomalies(e, ["event_type"])) == 1


def test_ewma_chunked_groups_per_chunk_not_per_series(spark, sf_dir):
    """The chunk-and-chain EWMA's heavy stage groups on (series, chunk) —
    each Arrow batch holds ONE chunk, bounding worker memory — and only
    the tiny summary stage groups on the bare series key."""
    from time_series_databse_engine_spark.operators.timeseries import ewma_chunked

    import re

    e = load_table(spark, sf_dir, "events")
    df = ewma_chunked(e, "event_type", alpha=0.3, chunk_ms=3_600_000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the heavy per-row fold groups on (series, chunk) — bounded memory
    assert re.search(r"FlatMapGroupsInPandas \[event_type#\d+, _chunk#\d+L\]", plan)
    # the chain stage groups on the bare series key over tiny summary rows
    assert re.search(r"FlatMapGroupsInPandas \[event_type#\d+\],", plan)
    # the fold output is persisted and shared by the summary agg and the
    # final join — one execution, two InMemoryTableScan readers (without
    # the persist, Spark re-executes the whole fold subtree twice)
    assert plan.count("InMemoryTableScan") == 2


def test_salted_join_shuffles_on_key_and_salt(spark, sf_dir):
    """The whole point of salting: the big side's exchange key must be
    (join key, salt), not the bare key."""
    from time_series_databse_engine_spark.operators.skew import salted_join
    from time_series_databse_engine_spark.plans import formatted_plan

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    # at test scale the small side auto-broadcasts (no exchange at all —
    # salting is then a no-op by construction); force the sort-merge
    # regime, which is where salting earns its keep at 100 TB
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = formatted_plan(salted_join(li, s, on="suppkey", salt=8))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    ex = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning" in ln and "suppkey" in ln
    ]
    assert ex, "expected a hash exchange on the salted key"
    assert all("_salt" in ln for ln in ex)


def test_bloom_semijoin_filters_before_exchange(spark, sf_dir):
    """The Bloom membership test must sit BELOW the semi join's shuffle:
    the big side's exchange input contains the bitmap bit-test filter,
    so non-members never pay shuffle I/O."""
    from time_series_databse_engine_spark.operators.skew import bloom_semijoin
    from time_series_databse_engine_spark.plans import formatted_plan

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    plan = formatted_plan(bloom_semijoin(li, urgent, on="l_orderkey"))
    assert "LeftSemi" in plan
    # the bit-test appears as a shiftright/element_at filter in the plan;
    # the broadcast of the one-row bitmap must be a BroadcastNestedLoopJoin
    # (1 row), never a cartesian over real data
    assert "shiftleft" in plan
    assert not has_cartesian_product(li.join(urgent, "l_orderkey", "left_semi"))


def test_zorder_layout_prunes_second_dimension(spark, sf_dir, tmp_path):
    """A ts-sorted layout leaves `value` spanning its full range in every
    file (a value-selective scan reads everything); the z-ordered layout
    makes footer min/max tight in BOTH dims, so the same scan can skip
    most files."""
    from time_series_databse_engine_spark.operators.layout import (
        quantize,
        rank_quantize,
        zorder_key,
        zorder_write,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts_ms", "value")
    mm = F.broadcast(
        ev.agg(F.min("ts_ms").alias("tlo"), F.max("ts_ms").alias("thi"))
    )
    # value is long-tailed (p95/max ≈ 0.3): equal-width quantize packs the
    # dense region into a few buckets and the interleave stops separating
    # it — rank_quantize (range-partition ids) is the skew-proof path
    rq = rank_quantize(ev, "value", bits=8, out="vbucket")
    z = (
        rq.crossJoin(mm)
        .select(
            "event_id",
            "ts_ms",
            "value",
            zorder_key(
                quantize(F.col("ts_ms"), F.col("tlo"), F.col("thi"), 8),
                F.col("vbucket").cast("long"),
                8,
            ).alias("zkey"),
        )
    )
    zorder_write(z, str(tmp_path / "z"), num_files=16)
    (
        ev.repartitionByRange(16, F.col("ts_ms"))
        .sortWithinPartitions("ts_ms")
        .write.mode("overwrite")
        .parquet(str(tmp_path / "t"))
    )

    # a band INSIDE one population quartile (p45-p55 would straddle the
    # median, which is a z-strip boundary — the honest worst case, where
    # z still reads half the strips but no layout can do better)
    vb = ev.agg(
        F.expr("percentile(value, 0.30)").alias("lo"),
        F.expr("percentile(value, 0.40)").alias("hi"),
    ).collect()[0]

    def overlapping_files(path):
        stats = (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        )
        return (
            stats.count(),
            stats.filter(
                (F.col("vmin") <= vb.hi) & (F.col("vmax") >= vb.lo)
            ).count(),
        )

    zn, zhit = overlapping_files(str(tmp_path / "z"))
    tn, thit = overlapping_files(str(tmp_path / "t"))
    assert zn == tn == 16
    # ts-sorted: every file spans ~the full value range → no skipping
    assert thit >= 14
    # z-ordered: 16 files = 2 high bits/dim = 4 value strips; a 10%-wide
    # value band lives in ~1 strip → most files skippable
    assert zhit <= 8


def test_zorder_key_n_generalizes_two_dim_and_interleaves(spark):
    from time_series_databse_engine_spark.operators.layout import zorder_key, zorder_key_n

    df = spark.createDataFrame(
        [(a, b, c) for a in (0, 1, 5) for b in (0, 2, 7) for c in (0, 3)],
        "a long, b long, c long",
    )
    rows = df.select(
        "a",
        "b",
        "c",
        zorder_key(F.col("a"), F.col("b"), 8).alias("z2"),
        zorder_key_n([F.col("a"), F.col("b")], 8).alias("z2n"),
        zorder_key_n([F.col("a"), F.col("b"), F.col("c")], 8).alias("z3"),
    ).collect()
    seen3 = set()
    for r in rows:
        # 2-dim general form is bit-identical to the specialized one
        assert r.z2 == r.z2n
        # 3-dim: de-interleave recovers the inputs exactly (bijective)
        a = b = c = 0
        for i in range(8):
            a |= ((r.z3 >> (3 * i)) & 1) << i
            b |= ((r.z3 >> (3 * i + 1)) & 1) << i
            c |= ((r.z3 >> (3 * i + 2)) & 1) << i
        assert (a, b, c) == (r.a, r.b, r.c)
        seen3.add(r.z3)
    assert len(seen3) == len(rows)


def _hilbert_xy2d(order, x, y):
    """The classic xy→d Hilbert walk on an order×order grid."""
    d, s = 0, order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_key_pandas_bit_identical_incl_nulls(spark):
    """The Arrow walk behind layout.hilbert_key equals the reference walk
    value-for-value on a grid sweep plus random 16-bit points, and reads
    a null coordinate as 0 (NOT null propagation); bits=0 is refused."""
    from time_series_databse_engine_spark.operators.layout import hilbert_key

    rows = [(x, y) for x in range(16) for y in range(16)]
    rows += [((x * 2654435761) % 65536, (x * 40503) % 65536) for x in range(500)]
    rows += [(None, 3), (7, None), (None, None)]
    df = spark.createDataFrame(rows, "x long, y long")
    for bits in (4, 16):
        sub = df if bits == 16 else df.filter("x < 16 and y < 16 or x is null or y is null")
        got = sub.select(
            "x", "y", hilbert_key(F.col("x"), F.col("y"), bits=bits).alias("d")
        ).collect()
        assert len(got) > 0
        for r in got:
            want = _hilbert_xy2d(1 << bits, r.x or 0, r.y or 0)
            assert r.d == want, (r.x, r.y, bits, r.d, want)
    with pytest.raises(ValueError):
        hilbert_key(F.col("x"), F.col("y"), bits=0)


def test_hilbert_key_matches_reference_walk_and_prunes_at_least_as_well(spark, sf_dir, tmp_path):
    """(1) layout.hilbert_key equals the classic xy→d reference walk on a
    grid sweep (random points and nulls: the test above); (2)
    consecutive keys are ADJACENT cells (the continuity Morton lacks);
    (3) on the same skewed workload as the z-order test, the Hilbert
    layout skips at least as many files for a value-band scan."""
    from time_series_databse_engine_spark.operators.layout import (
        hilbert_key,
        quantize,
        rank_quantize,
        zorder_write,
    )

    grid = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    got = {
        (r.x, r.y): r.d
        for r in grid.select("x", "y", hilbert_key(F.col("x"), F.col("y"), bits=4).alias("d")).collect()
    }
    assert got == {(x, y): _hilbert_xy2d(16, x, y) for x in range(16) for y in range(16)}
    inv = {d: xy for xy, d in got.items()}
    assert all(
        abs(inv[d][0] - inv[d + 1][0]) + abs(inv[d][1] - inv[d + 1][1]) == 1
        for d in range(255)
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts_ms", "value")
    mm = F.broadcast(ev.agg(F.min("ts_ms").alias("tlo"), F.max("ts_ms").alias("thi")))
    rq = rank_quantize(ev, "value", bits=8, out="vbucket")
    h = rq.crossJoin(mm).select(
        "event_id",
        "ts_ms",
        "value",
        hilbert_key(
            quantize(F.col("ts_ms"), F.col("tlo"), F.col("thi"), 8),
            F.col("vbucket").cast("long"),
            8,
        ).alias("hkey"),
    )
    zorder_write(h, str(tmp_path / "h"), zcol="hkey", num_files=16)
    vb = ev.agg(
        F.expr("percentile(value, 0.30)").alias("lo"),
        F.expr("percentile(value, 0.40)").alias("hi"),
    ).collect()[0]
    stats = (
        spark.read.parquet(str(tmp_path / "h"))
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    n = stats.count()
    hit = stats.filter((F.col("vmin") <= vb.hi) & (F.col("vmax") >= vb.lo)).count()
    assert n == 16
    # same bound the z-order layout is held to on this workload
    assert hit <= 8


def test_bucketed_storage_join_zero_exchange_zero_sort(spark, sf_dir):
    """bucketed_join_storage: both sides are 8-bucket bucketBy+sortBy
    catalog tables on the join key, so the sort-merge join plan has NO
    Exchange (shuffle pre-paid at write time) and no per-task Sort."""
    import __spark_entry__ as entry

    df = entry.q_bucketed_join_storage(spark, sf_dir)
    assert num_shuffles(df) == 0
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_column_profile_default_has_no_expand(spark, sf_dir):
    """The HLL profiler must never plan a Catalyst Expand (the exact
    variant's multi-countDistinct row-multiplication); its shuffle
    carries register rows, not data."""
    import __spark_entry__ as entry

    approx = entry.q_column_profile(spark, sf_dir)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    exact = entry.q_column_profile_exact(spark, sf_dir)
    assert "Expand" in exact._jdf.queryExecution().executedPlan().toString()


def test_ann_index_probe_prunes_partitions_and_matches_in_memory(
    spark, sf_dir, tmp_path
):
    """The persisted IVFADC index (similarity.ivf_index_write) must (a)
    answer probes identically to the in-memory ivfpq_topk composition —
    layout never changes answers — and (b) read only the probed cells:
    the index scan's PartitionFilters carry cell_id, and the pruned scan
    touches < n_cells partition directories."""
    from time_series_databse_engine_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ann")
    sim.ivf_index_write(emb, path, n_cells=16, m=4, ks=16)

    probe = sim.ivf_index_probe(spark, path, q, k=5, n_probe=4, m=4)
    mem = sim.ivfpq_topk(emb, q, k=5, n_cells=16, n_probe=4, m=4, ks=16)
    assert sorted(map(tuple, probe.collect())) == sorted(map(tuple, mem.collect()))

    # partition pruning: the index scan filters on the partition column
    assert any("cell_id" in p for p in partition_filters(probe))
    # and the index at rest stores only codes — no vectors copied in
    idx_cols = spark.read.parquet(path + "/index").columns
    assert "recon" not in idx_cols and "cvec" not in idx_cols


def test_ann_index_append_encodes_batch_into_existing_cells(spark, sf_dir, tmp_path):
    """Incremental maintenance: appending a batch to a persisted ANN
    index encodes ONLY the batch with the index's pinned sidecar
    quantizers and lands the rows in the existing cell partitions —
    afterwards the index covers the full corpus and probes still
    partition-prune.  (Bit-identity of append-encoded vs build-encoded
    rows is proven end-to-end by the ann_index_append oracle hash.)"""
    import os

    from time_series_databse_engine_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    path = str(tmp_path / "ann")
    sim.ivf_index_write(base, path, n_cells=16, m=4, ks=16)
    n_files_before = sum(len(fs) for _, _, fs in os.walk(path + "/index"))
    sim.ivf_index_append(spark, path, batch, m=4)

    idx = spark.read.parquet(path + "/index")
    assert idx.count() == emb.count()
    assert idx.select("cand_id").distinct().count() == emb.count()
    # appended rows went into the same cell-partition scheme (no new
    # top-level layout), and the sidecars were not touched
    assert set(idx.columns) == {"cand_id", "codes", "cell_id"}
    assert sum(len(fs) for _, _, fs in os.walk(path + "/index")) > n_files_before
    assert spark.read.parquet(path + "/cells").count() == 16

    probe = sim.ivf_index_probe(
        spark, path, emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, m=4
    )
    assert any("cell_id" in p for p in partition_filters(probe))
    assert probe.count() == 25


def test_ann_index_compact_shrinks_files_and_preserves_answers(spark, sf_dir, tmp_path):
    """After several epoch appends each cell holds several small files;
    compaction rewrites to one file per cell without changing any probe
    answer (same rows, same cells — the layout op is result-invisible)."""
    import os

    from time_series_databse_engine_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ann")
    sim.ivf_index_write(emb.filter(F.col("vec_id") < 200), path, n_cells=16, m=4, ks=16)
    for e, lo, hi in [(0, 200, 300), (1, 300, 400), (2, 400, 2_000_000)]:
        sim.ivf_index_append(
            spark, path,
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            m=4, epoch_id=e,
        )
    def n_files():
        return sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(path + "/index")
        )
    def n_cells():
        return len([d for d in os.listdir(path + "/index") if d.startswith("cell_id=")])

    before_rows = sorted(map(tuple, sim.ivf_index_probe(spark, path, q, k=5, n_probe=4, m=4).collect()))
    files_before, total = n_files(), spark.read.parquet(path + "/index").count()
    assert files_before > n_cells()  # appends fragmented the cells

    sim.ivf_index_compact(spark, path)

    assert n_files() == n_cells()  # one file per cell
    assert spark.read.parquet(path + "/index").count() == total
    after_rows = sorted(map(tuple, sim.ivf_index_probe(spark, path, q, k=5, n_probe=4, m=4).collect()))
    assert after_rows == before_rows


def test_ann_index_vacuum_sweeps_only_staging(spark, sf_dir, tmp_path):
    """Vacuum removes crashed append/compact staging dirs, never the
    index, sidecars, or unrelated siblings; probes are unaffected."""
    import os

    from time_series_databse_engine_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann")
    sim.ivf_index_write(emb, path, n_cells=16, m=4, ks=16)
    os.makedirs(path + "/index-epoch-3-tmp/cell_id=0")
    os.makedirs(path + "/index-compact-tmp")
    os.makedirs(path + "/unrelated-dir")
    n = spark.read.parquet(path + "/index").count()

    assert sim.ivf_index_vacuum(path) == 2
    assert not os.path.exists(path + "/index-epoch-3-tmp")
    assert not os.path.exists(path + "/index-compact-tmp")
    assert os.path.isdir(path + "/unrelated-dir")
    assert spark.read.parquet(path + "/index").count() == n
    assert spark.read.parquet(path + "/cells").count() == 16


def test_ann_index_compact_replay_contract_and_crash_recovery(spark, sf_dir, tmp_path):
    """(a) Compaction must not absorb epochs beyond committed_through —
    their files keep epoch{id}- names so a streaming replay's
    delete-before-move still converges to one copy.  (b) A compaction
    crash mid-swap (cell moved aside, new dir not yet in) is healed by
    vacuum/compact recovery with no data loss."""
    import glob
    import os
    import shutil

    from time_series_databse_engine_spark.operators import similarity as sim
    from time_series_databse_engine_spark.streaming.ingest import last_committed_epoch

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann")
    sim.ivf_index_write(emb.filter(F.col("vec_id") < 250), path, n_cells=16, m=4, ks=16)
    batch = emb.filter(F.col("vec_id") >= 250)
    sim.ivf_index_append(spark, path, batch, m=4, epoch_id=7)  # uncommitted epoch
    total = spark.read.parquet(path + "/index").count()

    sim.ivf_index_compact(spark, path, committed_through=6)
    # epoch 7's files survived compaction under their replayable names
    assert glob.glob(path + "/index/cell_id=*/epoch7-*")
    assert spark.read.parquet(path + "/index").count() == total
    # the crash-replay of epoch 7 converges to exactly one copy
    sim.ivf_index_append(spark, path, batch, m=4, epoch_id=7)
    assert spark.read.parquet(path + "/index").count() == total

    # committed epochs ARE absorbed (one file per cell afterwards)
    sim.ivf_index_compact(spark, path, committed_through=7)
    assert not glob.glob(path + "/index/cell_id=*/epoch7-*")
    assert spark.read.parquet(path + "/index").count() == total

    # crash recovery: simulate a swap interrupted after the move-aside
    cells = [d for d in os.listdir(path + "/index") if d.startswith("cell_id=")]
    victim = os.path.join(path, "index", cells[0])
    shutil.move(victim, os.path.join(path, "index", ".compact-old-" + cells[0]))
    os.makedirs(path + "/index-compact-tmp")  # crashed staging too
    assert sim.ivf_index_vacuum(path) == 1
    assert os.path.isdir(victim)  # cell restored, nothing lost
    assert spark.read.parquet(path + "/index").count() == total

    # checkpoint helper: fresh/absent checkpoint -> None
    assert last_committed_epoch(str(tmp_path / "no_ckpt")) is None


def test_ann_index_compact_crash_in_carry_window_loses_nothing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r6 crash window: compaction crashes after a cell's
    move-aside + uncommitted-epoch carry but BEFORE the staging dir
    swaps in.  The carry is a COPY taken after the aside rename, so the
    aside still holds the only-copy bytes; vacuum's recovery restores
    the cell and the uncommitted epoch replays exactly-once — even
    though the next compact clears index-compact-tmp unconditionally."""
    import glob
    import shutil

    from time_series_databse_engine_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_crash")
    sim.ivf_index_write(emb.filter(F.col("vec_id") < 250), path, n_cells=16, m=4, ks=16)
    batch = emb.filter(F.col("vec_id") >= 250)
    sim.ivf_index_append(spark, path, batch, m=4, epoch_id=9)  # uncommitted
    total = spark.read.parquet(path + "/index").count()
    n_epoch_files = len(glob.glob(path + "/index/cell_id=*/epoch9-*"))
    assert n_epoch_files > 0

    real_move = shutil.move

    def crash_on_swap(src, dst, *a, **k):  # first swap move = mid-compact crash
        raise OSError("simulated crash before staging swap")

    monkeypatch.setattr(shutil, "move", crash_on_swap)
    with pytest.raises(OSError, match="simulated crash"):
        sim.ivf_index_compact(spark, path, committed_through=0)
    monkeypatch.setattr(shutil, "move", real_move)

    # heal: aside restored (it held the only complete copy), staging swept
    assert sim.ivf_index_vacuum(path) >= 1
    assert spark.read.parquet(path + "/index").count() == total
    assert len(glob.glob(path + "/index/cell_id=*/epoch9-*")) == n_epoch_files
    # epoch 9's replay still converges to exactly one copy
    sim.ivf_index_append(spark, path, batch, m=4, epoch_id=9)
    assert spark.read.parquet(path + "/index").count() == total
    # and a clean compact afterwards still refuses to absorb epoch 9
    sim.ivf_index_compact(spark, path, committed_through=0)
    assert glob.glob(path + "/index/cell_id=*/epoch9-*")
    assert spark.read.parquet(path + "/index").count() == total


def test_ann_index_maintenance_lease_single_owner(spark, sf_dir, tmp_path):
    """VERDICT r6 #8: a second maintenance owner fails loudly instead of
    racing; a stale lease (crashed owner, older than the TTL) is broken;
    normal ops release the lease so back-to-back maintenance works; and
    the crash-recovery path stays green under the lease."""
    import os
    import time

    from time_series_databse_engine_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_lease")
    sim.ivf_index_write(emb.filter(F.col("vec_id") < 250), path, n_cells=16, m=4, ks=16)
    batch = emb.filter(F.col("vec_id") >= 250)

    # normal sequence: each op acquires and releases
    sim.ivf_index_append(spark, path, batch, m=4, epoch_id=1)
    sim.ivf_index_compact(spark, path, committed_through=1)
    assert not os.path.exists(os.path.join(path, "index-maintenance.lock"))
    total = spark.read.parquet(path + "/index").count()

    # a held (fresh) lease makes every maintenance op refuse
    lock = os.path.join(path, "index-maintenance.lock")
    with open(lock, "w") as fh:
        fh.write("pid=0 other-owner\n")
    for op in (
        lambda: sim.ivf_index_append(spark, path, batch, m=4, epoch_id=2),
        lambda: sim.ivf_index_compact(spark, path),
        lambda: sim.ivf_index_vacuum(path),
    ):
        with pytest.raises(sim.MaintenanceLeaseHeld):
            op()
    # probes are NOT maintenance: serving continues under the lease
    assert (
        sim.ivf_index_probe(
            spark, path, emb.filter(F.col("vec_id") < 3), k=3, n_probe=4, m=4
        ).count()
        > 0
    )

    # stale lease (owner died > TTL ago) is broken and taken over
    old = time.time() - sim.MAINTENANCE_LEASE_TTL_SEC - 60
    os.utime(lock, (old, old))
    sim.ivf_index_vacuum(path)  # succeeds via takeover
    assert not os.path.exists(lock)
    assert spark.read.parquet(path + "/index").count() == total


def test_lease_stale_takeover_exactly_one_winner(tmp_path):
    """r7 ADVICE race: two contenders that BOTH observe the same stale
    lock must resolve to exactly one lease owner — the rename-break
    protocol makes the losing breaker land on the winner's fresh lock
    and raise, never silently co-own.  Run many rounds to exercise the
    interleavings."""
    import os
    import threading
    import time

    from time_series_databse_engine_spark.operators import similarity as sim

    path = str(tmp_path / "ann_idx")
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, "index-maintenance.lock")

    for _ in range(10):
        # plant a stale lock from a "crashed" owner
        with open(lock, "w") as fh:
            fh.write("pid=0 token=deadbeef\n")
        old = time.time() - 120
        os.utime(lock, (old, old))

        entered, holding, errs = [], threading.Event(), []
        barrier = threading.Barrier(2)

        def contend(name):
            barrier.wait()
            try:
                with sim._maintenance_lease(path, ttl_sec=60.0):
                    entered.append(name)
                    assert not holding.is_set(), "two concurrent lease owners"
                    holding.set()
                    time.sleep(0.05)
                    holding.clear()
            except sim.MaintenanceLeaseHeld:
                errs.append(name)

        ts = [threading.Thread(target=contend, args=(i,)) for i in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        # exactly one winner per round (the loser either raised or — if it
        # arrived after the winner fully released — won a SECOND, serial
        # lease, which is also correct: never concurrent)
        assert len(entered) >= 1 and len(entered) + len(errs) == 2
        assert not os.path.exists(lock)


def test_lease_release_never_unlinks_foreign_lock(tmp_path):
    """r7 ADVICE cascade: if the lock is usurped mid-hold (forcibly
    rewritten by another owner), the original holder's release must NOT
    unlink it — the finally verifies the token first."""
    import os

    from time_series_databse_engine_spark.operators import similarity as sim

    path = str(tmp_path / "ann_idx")
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, "index-maintenance.lock")

    cm = sim._maintenance_lease(path, ttl_sec=60.0)
    cm.__enter__()
    with open(lock, "w") as fh:  # usurper rewrites the lock
        fh.write("pid=99999 token=usurper\n")
    cm.__exit__(None, None, None)
    assert os.path.exists(lock), "release deleted a lock it no longer owned"
    with open(lock) as fh:
        assert "usurper" in fh.read()
    os.unlink(lock)


def test_lease_refresh_outlives_ttl(tmp_path):
    """r7 ADVICE: a legitimate op running longer than the TTL keeps its
    lease — the refresher touches mtime every ttl/4, so a contender
    arriving after >TTL wall time still sees a FRESH lock and raises
    instead of usurping."""
    import os
    import time

    import pytest

    from time_series_databse_engine_spark.operators import similarity as sim

    path = str(tmp_path / "ann_idx")
    os.makedirs(path, exist_ok=True)

    with sim._maintenance_lease(path, ttl_sec=0.8):
        time.sleep(2.0)  # well past the TTL; refresher keeps mtime young
        with pytest.raises(sim.MaintenanceLeaseHeld):
            with sim._maintenance_lease(path, ttl_sec=0.8):
                pass
    assert not os.path.exists(os.path.join(path, "index-maintenance.lock"))


def test_maxsim_index_probe_prunes_and_matches_in_memory(spark, tmp_path, sf_dir):
    """The persisted MaxSim inverted index must (a) hold only (id, w)
    rows at rest — never text; (b) serve probes through bucket
    PartitionFilters (only the query tokens' buckets are read); and
    (c) return EXACTLY maxsim_topk's answer over the same corpus —
    the persisted layout must never change answers."""
    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_probe,
        maxsim_index_write,
        maxsim_topk,
    )
    from time_series_databse_engine_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qs = spark.createDataFrame(
        [(1, "fast hash join"), (2, "window merge sort")],
        "q_id int, q_text string",
    )
    path = str(tmp_path / "msidx")
    maxsim_index_write(docs, path, dim=64, chunk_size=30)

    at_rest = spark.read.parquet(path + "/index")
    assert set(at_rest.columns) == {"doc_id", "w", "bucket"}
    # pinned vectorization sidecar (the cells/codebook analogue)
    params = spark.read.parquet(path + "/params").collect()[0]
    assert (params.dim, params.chunk_size, params.id_col) == (64, 30, "doc_id")

    probe = maxsim_index_probe(spark, path, qs, k=20, dim=64)
    plan = formatted_plan(probe)
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1
    )[1].splitlines()[0]

    expect = sorted(
        tuple(r) for r in maxsim_topk(docs, qs, k=20, dim=64, chunk_size=30).collect()
    )
    got = sorted(tuple(r) for r in probe.collect())
    assert got == expect


def test_maxsim_index_append_probe_identical_to_fresh_build(spark, tmp_path, sf_dir):
    """VERDICT r8 #3: the sparse index gets the dense index's append
    path — vectorize ONLY the batch with the params-sidecar-pinned
    geometry and land rows in the existing bucket partitions.  The
    oracle is the ivf_index_append trick: a probe over base+appended
    batch must be BIT-IDENTICAL to a probe over a fresh build of
    base ∪ batch (per-chunk norms carry no cross-corpus state, so the
    appended rows equal build-encoded rows exactly)."""
    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_append,
        maxsim_index_probe,
        maxsim_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    qs = spark.createDataFrame(
        [(1, "fast hash join"), (2, "window merge sort")],
        "q_id int, q_text string",
    )
    path = str(tmp_path / "ms_inc")
    maxsim_index_write(base, path, dim=64, chunk_size=30)
    maxsim_index_append(spark, path, batch)

    fresh = str(tmp_path / "ms_full")
    maxsim_index_write(docs, fresh, dim=64, chunk_size=30)

    got = sorted(map(tuple, maxsim_index_probe(spark, path, qs, k=20).collect()))
    exp = sorted(map(tuple, maxsim_index_probe(spark, fresh, qs, k=20).collect()))
    assert got == exp
    # params sidecar untouched by the append (pin, not re-derivation)
    p = spark.read.parquet(path + "/params").collect()[0]
    assert (p.dim, p.chunk_size, p.id_col) == (64, 30, "doc_id")
    # appends run under the single-owner maintenance lease
    import pathlib

    from time_series_databse_engine_spark.operators.index_maintenance import (
        MaintenanceLeaseHeld,
    )

    pathlib.Path(path, "index-maintenance.lock").write_text("pid=0 token=x\n")
    with pytest.raises(MaintenanceLeaseHeld):
        maxsim_index_append(spark, path, batch)
    pathlib.Path(path, "index-maintenance.lock").unlink()


def test_maxsim_index_probe_pinned_params_mismatch_raises(spark, tmp_path, sf_dir):
    """A probe (or caller) asking for a different hashing geometry than
    the index's params sidecar must fail loudly — silently hashing query
    tokens into a different dim would read wrong buckets and return
    plausible-looking garbage."""
    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_probe,
        maxsim_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    qs = spark.createDataFrame([(1, "hash join")], "q_id int, q_text string")
    path = str(tmp_path / "ms_pin")
    maxsim_index_write(docs, path, dim=64, chunk_size=30)
    with pytest.raises(ValueError, match="pinned dim=64"):
        maxsim_index_probe(spark, path, qs, dim=32)
    with pytest.raises(ValueError, match="pinned id_col"):
        maxsim_index_probe(spark, path, qs, id_col="vec_id")


def test_maxsim_index_compact_shrinks_files_and_preserves_answers(
    spark, tmp_path, sf_dir
):
    """After several epoch appends each bucket holds several small
    files; compaction rewrites to one id-sorted file per bucket without
    changing any probe answer, and vacuum sweeps crashed staging dirs —
    the shared index_maintenance lifecycle on the sparse layout."""
    import os

    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_append,
        maxsim_index_compact,
        maxsim_index_probe,
        maxsim_index_vacuum,
        maxsim_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qs = spark.createDataFrame(
        [(1, "fast hash join"), (2, "window merge sort")],
        "q_id int, q_text string",
    )
    path = str(tmp_path / "ms_cmp")
    maxsim_index_write(docs.filter(F.col("doc_id") < 200), path, dim=64, chunk_size=30)
    for e, lo, hi in [(0, 200, 300), (1, 300, 400), (2, 400, 2_000_000)]:
        maxsim_index_append(
            spark,
            path,
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            epoch_id=e,
        )

    def n_files():
        return sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(path + "/index")
        )

    def n_buckets():
        return len(
            [d for d in os.listdir(path + "/index") if d.startswith("bucket=")]
        )

    before = sorted(map(tuple, maxsim_index_probe(spark, path, qs, k=20).collect()))
    files_before = n_files()
    total = spark.read.parquet(path + "/index").count()
    assert files_before > n_buckets()  # appends fragmented the buckets

    maxsim_index_compact(spark, path)

    assert n_files() == n_buckets()  # one file per bucket
    assert spark.read.parquet(path + "/index").count() == total
    after = sorted(map(tuple, maxsim_index_probe(spark, path, qs, k=20).collect()))
    assert after == before

    # vacuum: a crashed epoch append leaves its staging dir behind
    os.makedirs(os.path.join(path, "index-epoch-9-tmp"), exist_ok=True)
    assert maxsim_index_vacuum(path) == 1
    assert not os.path.isdir(os.path.join(path, "index-epoch-9-tmp"))


def test_psi_drift_plan_three_exchanges_corpus_never_shuffled(spark, sf_dir):
    """PLANS.md's psi_drift claim, pinned: 3 static exchanges — the
    boundary aggregate, the (bin)-keyed count, and the n_bins-row
    window — and the raw corpus rows reduce map-side before the bin
    exchange (partial aggregation under the (bin) key)."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.profile import psi_drift
    from time_series_databse_engine_spark.plans import (
        formatted_plan,
        num_shuffle_exchanges,
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    e = e.withColumn("ts_ms", (F.unix_micros("ts") / 1000).cast("long"))
    day = F.floor(F.col("ts_ms") / F.lit(86_400_000))
    out = psi_drift(e.where(day % 2 == 0), e.where(day % 2 == 1), "value")
    assert num_shuffle_exchanges(out) == 3
    plan = formatted_plan(out)
    first_shuffle = plan.index("Arguments: hashpartitioning")
    assert "partial_count" in plan[:first_shuffle] or "partial_sum" in plan[
        :first_shuffle
    ], "corpus must reduce map-side before the bin exchange"


def test_diverse_sample_plan_two_exchanges(spark, sf_dir):
    """PLANS.md's diverse_sample claim, pinned: the broadcast-argmax
    assignment rides the scan; only the cell-quota window (plus the
    tiny codebook collect) exchange."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.fixtures.kmeans_cells import CELLS
    from time_series_databse_engine_spark.operators.similarity import (
        diverse_sample,
        norm,
    )
    from time_series_databse_engine_spark.plans import num_shuffle_exchanges

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cells = spark.createDataFrame(
        [(cid, c) for cid, c in CELLS], "cell_id long, cent array<double>"
    ).withColumn("cent_n", norm(F.col("cent")))
    out = diverse_sample(emb, cells, per_cell=25)
    assert num_shuffle_exchanges(out) <= 2

    # Pathological-cell guard (VERDICT r8 #8): a single-cell corpus must
    # not shuffle the whole corpus into one window partition.  The
    # per-partition reservoir SCALE.md prescribes is Catalyst's own
    # InferWindowGroupLimit (Spark 3.5+): because diverse_sample filters
    # pick <= per_cell DIRECTLY on the row_number, the optimizer inserts
    # a PARTIAL (map-side) WindowGroupLimit before the cell-keyed
    # exchange — each map partition forwards at most per_cell rows per
    # cell, so the reducer sees <= per_cell * n_map_partitions rows even
    # when every row lands in one cell.  Answer-invariant by the top-k
    # pre-aggregation argument: a row outside its own partition's
    # per-cell top-k cannot be in the global top-k.  Pinned here so a
    # refactor that separates the filter from the window (breaking the
    # inference) fails loudly.
    from time_series_databse_engine_spark.plans import formatted_plan

    plan = formatted_plan(out)
    limits = [
        (n, l)
        for n, l in enumerate(plan.splitlines())
        if "row_number(), 25, Partial" in l
    ]
    assert limits, "map-side WindowGroupLimit(Partial) missing from plan"
    lines = plan.splitlines()
    # the Partial group-limit's detail section precedes the cell-keyed
    # shuffle's: map-side pre-filter happens before any data moves
    first_exchange = next(
        n for n, l in enumerate(lines)
        if l.startswith("Arguments: hashpartitioning(cell_id")
    )
    assert limits[0][0] < first_exchange


def test_pca_project_expr_compiles_under_codegen_and_matches_unrolled(
    spark, sf_dir
):
    """VERDICT r9 #2: the unrolled 8x64-term PCA projection overflowed
    janino and silently ran INTERPRETED (an ERROR CodeGenerator line in
    the gate log; the static plan still said codegen).  The two-level
    per-dim-column form (similarity.pca_project_expr) must (a) compile — asserted at RUNTIME
    by disabling codegen fallback, so a janino failure raises instead of
    degrading — and (b) produce bit-identical values to the unrolled SQL
    text the oracle still runs."""
    from time_series_databse_engine_spark.fixtures.pca_basis import COMPS, MEAN
    from time_series_databse_engine_spark.operators.similarity import (
        pca_project_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = pca_project_expr(emb, MEAN, COMPS)
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = out.collect()  # raises InternalCompilerException on overflow
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert len(rows) == emb.count() * len(COMPS)
    # WholeStageCodegen actually covers the projection in the FINAL plan
    # (executedPlan toString marks codegen'd nodes with a "*(n)" prefix)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        line.lstrip("+- ").startswith("*(") and "Project" in line
        for line in plan.splitlines()
    ), plan[:400]

    # bit-parity with the unrolled text (what _pca_oracle_sql replays):
    # same term widening, same left-associated sum — spot-check every
    # value on the sf0.001/sf0.01 table
    import __spark_entry__ as entry_mod

    dims = entry_mod._pca_dim_exprs("element_at(embedding, {i})")
    unrolled = emb.selectExpr(
        "vec_id",
        "posexplode(array(%s)) AS (dim_idx, value)" % ", ".join(dims),
    )
    got = {(r.vec_id, r.dim_idx): r.value for r in rows}
    for r in unrolled.collect():
        assert got[(r.vec_id, r.dim_idx)] == r.value


def test_domain_cap_map_side_window_group_limit(spark):
    """domain_cap_sample's rn <= cap filter must ride the map-side
    WindowGroupLimit(Partial) before the domain-keyed exchange — the
    diverse_sample hot-cell guard applied to hot domains: a domain with
    10^9 pages forwards <= cap rows per map task, never its full page
    list.  Pinned so a refactor separating the filter from the window
    (breaking InferWindowGroupLimit) fails loudly."""
    from time_series_databse_engine_spark.operators.web import domain_cap_sample
    from time_series_databse_engine_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(i, f"https://www.pub{i % 7}.com/p{i}") for i in range(200)],
        ["doc_id", "url"],
    )
    out = domain_cap_sample(df, cap=5)
    plan = formatted_plan(out)
    lines = plan.splitlines()
    limits = [
        n for n, l in enumerate(lines) if "row_number(), 5, Partial" in l
    ]
    assert limits, "map-side WindowGroupLimit(Partial) missing from plan"
    first_exchange = next(
        n for n, l in enumerate(lines)
        if l.startswith("Arguments: hashpartitioning(domain")
    )
    assert limits[0] < first_exchange


def test_pruning_report_store_hour_files_skippable(spark, tmp_path):
    """layout.parquet_pruning_report over the hour-partitioned store:
    hour files carry disjoint ts_ms footer ranges, so a one-hour probe
    marks every other hour's row groups skippable — the footer-level
    proof behind the store's partition pruning; row counts reconcile."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark import TimeSeriesStore
    from time_series_databse_engine_spark.operators.layout import (
        parquet_pruning_report,
    )

    H = 3_600_000
    rows = [("m", h * H + i * 1000, float(i)) for h in range(6) for i in range(50)]
    src = spark.createDataFrame(rows, "metric string, ts_ms long, value double")
    store = TimeSeriesStore(spark, str(tmp_path / "points"))
    store.ingest(src)

    import glob

    files = glob.glob(str(tmp_path / "points") + "/**/*.parquet", recursive=True)
    assert len(files) >= 6  # one file per hour partition at least
    rep = parquet_pruning_report(
        spark, files, ["ts_ms"], probe_lo=2 * H, probe_hi=3 * H - 1
    )
    got = rep.collect()
    # every source row is accounted for by exactly one row group
    assert sum(r.n_rows for r in got) == len(rows)
    # the probed hour's row groups are NOT skippable; all others are
    probed = [r for r in got if not r.skippable]
    assert sum(r.n_rows for r in probed) == 50
    assert all(2 * H <= r.col_min and r.col_max < 3 * H for r in probed)
    skipped = [r for r in got if r.skippable]
    assert sum(r.n_rows for r in skipped) == 250


def test_pruning_report_guards(spark, tmp_path):
    """ADVICE r11 (low): (a) an empty path list fails fast instead of
    repartition(0); (b) a non-integer column fails with a message naming
    the column and its physical type instead of int(float_str)
    ValueError; (c) a stat-less column chunk surfaces as a NULL-min/max
    row with skippable=false rather than silently vanishing from the
    audit."""
    import pytest as _pt

    from time_series_databse_engine_spark.operators.layout import (
        parquet_pruning_report,
    )

    with _pt.raises(ValueError, match="empty path list"):
        parquet_pruning_report(spark, [], ["ts_ms"])

    p = str(tmp_path / "f.parquet")
    spark.createDataFrame(
        [(1, 2.5, "x")], "a long, b double, c string"
    ).coalesce(1).write.parquet(p)
    import glob

    f = glob.glob(p + "/*.parquet")[0]
    with _pt.raises(Exception, match="physical type DOUBLE"):
        parquet_pruning_report(spark, [f], ["b"], probe_lo=0, probe_hi=1).collect()

    # a chunk with statistics disabled: write through pyarrow directly
    import pyarrow as pa
    import pyarrow.parquet as pq

    nostat = str(tmp_path / "nostat.parquet")
    pq.write_table(
        pa.table({"a": pa.array([1, 2, 3], pa.int64())}),
        nostat,
        write_statistics=False,
    )
    got = parquet_pruning_report(
        spark, [nostat], ["a"], probe_lo=100, probe_hi=200
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r.col_min is None and r.col_max is None and r.n_rows == 3
    assert r.skippable is False  # no stats => the engine can never skip it


# --------------------------------------------------------------------------
# index rebuilds against the session memo (operators._util.memo): a probe
# after a rebuild at the same path must see the new index, whatever was
# memoized before or during the write, and only the rebuilt path's entries
# may be dropped
# --------------------------------------------------------------------------

_REBUILD_QS = [(1, "fast hash join"), (2, "window merge sort")]


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _index_inputs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_REBUILD_QS, "q_id int, q_text string")
    return emb, emb.filter(F.col("vec_id") < 5), docs, qs


def test_index_rebuild_with_new_geometry_serves_the_new_index(spark, sf_dir, tmp_path):
    """Rebuild a MaxSim index with another ``dim`` and an IVF index with
    another ``n_cells`` at the same path: the next probe equals a probe
    of a build at a fresh path."""
    from time_series_databse_engine_spark.operators import similarity as sim
    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_probe,
        maxsim_index_write,
    )

    emb, q, docs, qs = _index_inputs(spark, sf_dir)
    ms, ivf = str(tmp_path / "ms"), str(tmp_path / "ivf")
    maxsim_index_write(docs, ms, dim=64, chunk_size=30)
    sim.ivf_index_write(emb, ivf, n_cells=16, m=4, ks=16)
    ms_before = _sorted_rows(maxsim_index_probe(spark, ms, qs, k=20))
    ivf_before = _sorted_rows(sim.ivf_index_probe(spark, ivf, q, k=5, n_probe=4, m=4))

    maxsim_index_write(docs, ms, dim=32, chunk_size=30)
    sim.ivf_index_write(emb, ivf, n_cells=8, m=4, ks=16)
    maxsim_index_write(docs, str(tmp_path / "ms_fresh"), dim=32, chunk_size=30)
    sim.ivf_index_write(emb, str(tmp_path / "ivf_fresh"), n_cells=8, m=4, ks=16)

    ms_after = _sorted_rows(maxsim_index_probe(spark, ms, qs, k=20))
    assert ms_after == _sorted_rows(maxsim_index_probe(spark, str(tmp_path / "ms_fresh"), qs, k=20))
    assert ms_after != ms_before  # the new dim changes the answer
    ivf_after = _sorted_rows(sim.ivf_index_probe(spark, ivf, q, k=5, n_probe=4, m=4))
    assert ivf_after == _sorted_rows(
        sim.ivf_index_probe(spark, str(tmp_path / "ivf_fresh"), q, k=5, n_probe=4, m=4)
    )
    assert ivf_after != ivf_before  # the new cell count changes the answer


def test_index_rebuild_keeps_other_indexes_memo_entries(spark, sf_dir, tmp_path):
    """Rebuilding index A drops A's memoized sidecars only: index B's
    params tuple and sidecar plans are the same objects afterwards."""
    from time_series_databse_engine_spark.operators import similarity as sim, text

    emb, _, docs, _ = _index_inputs(spark, sf_dir)
    a, b = str(tmp_path / "index_a"), str(tmp_path / "index_b")
    for path in (a, b):
        text.maxsim_index_write(docs, path + "/ms", dim=64, chunk_size=30)
        sim.ivf_index_write(emb, path + "/ivf", n_cells=16, m=4, ks=16)
    b_params = text._maxsim_params(spark, b + "/ms")
    b_cells = sim._sidecar_table(spark, b + "/ivf/cells")
    a_params = text._maxsim_params(spark, a + "/ms")

    text.maxsim_index_write(docs, a + "/ms", dim=64, chunk_size=30)
    sim.ivf_index_write(emb, a + "/ivf", n_cells=16, m=4, ks=16)

    assert text._maxsim_params(spark, b + "/ms") is b_params
    assert sim._sidecar_table(spark, b + "/ivf/cells") is b_cells
    assert text._maxsim_params(spark, a + "/ms") is not a_params


def test_probe_during_index_rebuild_leaves_no_stale_memo(spark, sf_dir, tmp_path, monkeypatch):
    """A reader that probes an index while its writer is half done (the
    writer has forgotten the old sidecars but not yet rewritten them)
    memoizes plans over the old files; the writer's second ``forget``
    must drop them, so the next probe sees the rebuilt index."""
    from pyspark.sql import DataFrameWriter

    from time_series_databse_engine_spark.operators import similarity as sim
    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_probe,
        maxsim_index_write,
    )

    emb, q, docs, qs = _index_inputs(spark, sf_dir)
    ms, ivf = str(tmp_path / "ms"), str(tmp_path / "ivf")
    maxsim_index_write(docs, ms, dim=64, chunk_size=30)
    sim.ivf_index_write(emb, ivf, n_cells=16, m=4, ks=16)
    # the fresh-path builds come first, so no later write's forget can
    # mask a stale entry that the rebuild left behind
    maxsim_index_write(docs, str(tmp_path / "ms_fresh"), dim=32, chunk_size=30)
    sim.ivf_index_write(emb, str(tmp_path / "ivf_fresh"), n_cells=8, m=4, ks=16)

    real_parquet = DataFrameWriter.parquet
    mid_write_probes = []

    def probing_parquet(self, path, *args, **kwargs):
        probe = {ivf + "/cells": lambda: sim.ivf_index_probe(spark, ivf, q, k=5, n_probe=4, m=4),
                 ms + "/params": lambda: maxsim_index_probe(spark, ms, qs, k=20)}.get(path)
        if probe is not None:
            mid_write_probes.append(path)
            try:
                probe()
            except Exception:  # a torn index may fail to probe; what it memoized is the point
                pass
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", probing_parquet)
    maxsim_index_write(docs, ms, dim=32, chunk_size=30)
    sim.ivf_index_write(emb, ivf, n_cells=8, m=4, ks=16)
    monkeypatch.undo()
    assert sorted(mid_write_probes) == sorted([ivf + "/cells", ms + "/params"])

    assert _sorted_rows(maxsim_index_probe(spark, ms, qs, k=20)) == _sorted_rows(
        maxsim_index_probe(spark, str(tmp_path / "ms_fresh"), qs, k=20)
    )
    assert _sorted_rows(sim.ivf_index_probe(spark, ivf, q, k=5, n_probe=4, m=4)) == _sorted_rows(
        sim.ivf_index_probe(spark, str(tmp_path / "ivf_fresh"), q, k=5, n_probe=4, m=4)
    )
