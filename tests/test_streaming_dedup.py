"""Streaming dedup: dropDuplicatesWithinWatermark removes replayed events
inside the watermark delay — the streaming analogue of exact dedup."""

import shutil
import tempfile

from pyspark.sql import functions as F


def test_drop_duplicates_within_watermark(spark):
    d = tempfile.mkdtemp()
    try:
        schema = "event_id long, ts timestamp, value double"
        rows = [
            (1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:00:05", 1.0),   # replay of event 1 (different ts)
            (2, "2024-01-01 00:01:00", 2.0),
        ]
        df = spark.createDataFrame(rows, "event_id long, ts string, value double").select(
            "event_id", F.to_timestamp("ts").alias("ts"), "value"
        )
        df.coalesce(1).write.parquet(d + "/src/b1")
        stream = spark.readStream.schema(schema).parquet(d + "/src/*")
        q = (
            stream.withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        ids = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect())
        assert ids == [1, 2]
    finally:
        shutil.rmtree(d)


def test_streaming_neardup_suppression_to_exactly_once_sink(spark, tmp_path):
    """End-to-end: streaming LSH band-index suppression chained into the
    idempotent epoch sink — the full production shape.  Two micro-batches
    (batch 2 = one near-dup of batch 1 + one fresh doc) flow through
    minhash → banding → neardup_stream; a foreachBatch stage keeps only
    docs whose every band claimed first and writes them via
    ``ingest_epoch``.  Then the CRASH REPLAY: checkpoint wiped, the whole
    stream re-fires with the same epoch ids — the store must converge to
    the same 2 unique docs, not double (exactly-once), and the rebuilt
    band-index state must suppress the same near-dup (determinism)."""
    import time

    from time_series_databse_engine_spark import TimeSeriesStore
    from time_series_databse_engine_spark.operators.dedup import (
        banded_keys,
        minhash_signatures,
    )
    from time_series_databse_engine_spark.streaming.stateful import neardup_stream

    d = str(tmp_path)
    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    schema = "doc_id long, text string"
    spark.createDataFrame([(1, dup)], schema).coalesce(1).write.parquet(d + "/src/b1")
    time.sleep(1.1)  # distinct mtimes pin micro-batch order (stable epoch ids)
    spark.createDataFrame(
        [(2, dup), (3, "completely different words entirely unrelated text")], schema
    ).coalesce(1).write.parquet(d + "/src/b2")

    store = TimeSeriesStore(spark, d + "/points")

    def sink(batch_df, epoch_id):
        kept = (
            batch_df.groupBy("doc_id")
            .agg(F.min(F.col("is_first").cast("int")).alias("all_first"))
            .filter(F.col("all_first") == 1)
            .select(
                F.lit("doc").alias("metric"),
                F.col("doc_id").alias("ts_ms"),
                F.lit(1.0).alias("value"),
            )
        )
        store.ingest_epoch(kept, epoch_id=epoch_id, target_partitions=1)

    for attempt in range(2):  # second pass = full crash replay, ckpt wiped
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d + "/src/*")
        )
        flags = neardup_stream(banded_keys(minhash_signatures(stream)))
        q = (
            flags.writeStream.foreachBatch(sink)
            .option("checkpointLocation", d + "/ckpt")
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        shutil.rmtree(d + "/ckpt")
        kept_ids = sorted(
            r.ts_ms for r in store.points().select("ts_ms").collect()
        )
        assert kept_ids == [1, 3], f"attempt {attempt}: {kept_ids}"


def test_streaming_ann_index_maintenance_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch → epoch-keyed ivf_index_append: micro-batches of new
    embeddings land in the persisted index's cell partitions with the
    idempotent-writer exactly-once contract — a replayed epoch deletes
    its previous attempt's files and converges to one copy — and the
    result equals the batch-API append (same pinned quantizers)."""
    from time_series_databse_engine_spark.operators import similarity as sim
    from time_series_databse_engine_spark.streaming.ingest import maintain_ann_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    n_total = emb.count()

    path = str(tmp_path / "ann")
    sim.ivf_index_write(base, path, n_cells=16, m=4, ks=16)

    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src + "/b1")
    stream = spark.readStream.schema(batch.schema).parquet(src + "/*")
    q = maintain_ann_index(stream, path, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)
    q.stop()

    idx = spark.read.parquet(path + "/index")
    assert idx.count() == n_total

    # the checkpoint's commits WAL reports the batch as committed — the
    # committed_through input a maintenance compact would use
    from time_series_databse_engine_spark.streaming.ingest import (
        last_committed_epoch,
    )

    assert last_committed_epoch(str(tmp_path / "ckpt")) == 0

    # crash replay: the same epoch appended again must NOT duplicate —
    # delete-before-move removes the previous attempt's files
    sim.ivf_index_append(spark, path, batch, m=4, epoch_id=0)
    assert spark.read.parquet(path + "/index").count() == n_total

    # and the maintained index answers probes identically to one built
    # by the batch append path (same pinned sidecar quantizers)
    path2 = str(tmp_path / "ann2")
    sim.ivf_index_write(base, path2, n_cells=16, m=4, ks=16)
    sim.ivf_index_append(spark, path2, batch, m=4)
    q1 = sim.ivf_index_probe(spark, path, emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, m=4)
    q2 = sim.ivf_index_probe(spark, path2, emb.filter(F.col("vec_id") < 5), k=5, n_probe=4, m=4)
    assert sorted(map(tuple, q1.collect())) == sorted(map(tuple, q2.collect()))


def test_streaming_categorical_drift_vanished_category_alarms_once(spark, tmp_path):
    """VERDICT r8 #4 — the categorical streaming leg: categories are the
    PINNED psi_categories artifact; micro-batch 1 repeats the reference
    mix (no alarm), micro-batch 2 has category 'a' VANISHED (the crawl
    source that stopped) and the running PSI crosses the alarm.  A full
    crash replay (checkpoint wiped) converges to bit-identical counts
    and metrics — the vanished category alarms exactly once per epoch
    row, never duplicated."""
    import shutil

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.profile import (
        _categorical_bin_counts,
        psi_categories,
    )
    from time_series_databse_engine_spark.streaming.ingest import (
        stream_psi_drift_categorical,
    )

    def mix(vanished: bool):
        # 1000 rows: a=40%, b=30%, c=20%, d=10%; vanished -> a AND c
        # collapse into b (the dominant sources stop crawling), so the
        # RUNNING mix over both epochs still clears the 0.25 alarm
        return spark.range(1000).select(
            F.when(F.col("id") % 10 < 4, "b" if vanished else "a")
            .when(F.col("id") % 10 < 7, "b")
            .when(F.col("id") % 10 < 9, "b" if vanished else "c")
            .otherwise("d")
            .alias("category")
        )

    ref = mix(False)
    cats = psi_categories(ref, "category", top_k=3)  # a,b,c pinned; d -> OTHER
    ref_counts = _categorical_bin_counts(ref, "category", cats)
    # pin both artifacts (training-time persistence)
    cats.write.parquet(str(tmp_path / "cats"))
    ref_counts.write.parquet(str(tmp_path / "ref_counts"))
    cats_p = spark.read.parquet(str(tmp_path / "cats"))
    ref_p = spark.read.parquet(str(tmp_path / "ref_counts"))

    src = str(tmp_path / "src")
    mix(False).coalesce(1).write.parquet(src + "/b1")
    mix(True).coalesce(1).write.parquet(src + "/b2")

    out = str(tmp_path / "drift")

    def run():
        stream = (
            spark.readStream.schema("category string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_psi_drift_categorical(
            stream, ref_p, cats_p, out, str(tmp_path / "ckpt"), top_k=3
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert set(met) == {0, 1}
    assert met[0].psi_running < 0.05 and not met[0].alarm
    assert met[1].psi_batch > 0.25  # the vanished-category batch alone
    assert met[1].alarm and met[1].psi_running > 0.25
    # counts stay bounded at top_k+1 bins per epoch and conserve rows
    cnts = spark.read.parquet(out + "/counts")
    assert cnts.agg(F.sum("cnt")).collect()[0][0] == 2000
    assert cnts.select("bin").distinct().count() <= 4

    # crash replay: wipe the checkpoint; every epoch re-runs and must
    # converge bit-identically — one alarm row, not two
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert {k: tuple(v) for k, v in met2.items()} == {
        k: tuple(v) for k, v in met.items()
    }
    assert spark.read.parquet(out + "/counts").agg(F.sum("cnt")).collect()[0][0] == 2000


def test_streaming_maxsim_index_maintenance_exactly_once(spark, sf_dir, tmp_path):
    """The sparse twin of the ANN maintenance stream (VERDICT r8 #3):
    foreachBatch → epoch-keyed maxsim_index_append with the pinned
    params-sidecar geometry.  A replayed epoch deletes its previous
    attempt's files and converges to one copy, and the maintained index
    probes identically to the batch-API append."""
    from time_series_databse_engine_spark.operators.text import (
        maxsim_index_append,
        maxsim_index_probe,
    )
    from time_series_databse_engine_spark.operators.text import maxsim_index_write
    from time_series_databse_engine_spark.streaming.ingest import (
        last_committed_epoch,
        maintain_maxsim_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.filter(F.col("doc_id") < 250)
    batch = docs.filter(F.col("doc_id") >= 250)
    qs = spark.createDataFrame(
        [(1, "fast hash join"), (2, "window merge sort")],
        "q_id int, q_text string",
    )

    path = str(tmp_path / "ms")
    maxsim_index_write(base, path, dim=64, chunk_size=30)
    n_rows_after = None

    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src + "/b1")
    stream = spark.readStream.schema(batch.schema).parquet(src + "/*")
    q = maintain_maxsim_index(stream, path, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)
    q.stop()

    n_rows_after = spark.read.parquet(path + "/index").count()
    assert last_committed_epoch(str(tmp_path / "ckpt")) == 0

    # crash replay: same epoch appended again must NOT duplicate
    maxsim_index_append(spark, path, batch, epoch_id=0)
    assert spark.read.parquet(path + "/index").count() == n_rows_after

    # maintained index answers == batch-append index answers
    path2 = str(tmp_path / "ms2")
    maxsim_index_write(base, path2, dim=64, chunk_size=30)
    maxsim_index_append(spark, path2, batch)
    got = sorted(map(tuple, maxsim_index_probe(spark, path, qs, k=20).collect()))
    exp = sorted(map(tuple, maxsim_index_probe(spark, path2, qs, k=20).collect()))
    assert got == exp


def test_streaming_clean_crawl_exactly_once(spark, tmp_path):
    """VERDICT r7 #3: the crawl cascade as a stream — a MIRROR of an
    epoch-1 page and a boilerplate-only page planted in micro-batch 2
    are both suppressed (dedup-vs-corpus via the accumulated fingerprint
    table; ppm gate), per-epoch survivor/drop metrics are exact, and a
    full crash replay (checkpoint wiped) converges to the identical
    corpus and metrics — suppressed exactly once, never twice."""
    import shutil

    from time_series_databse_engine_spark.streaming.ingest import (
        last_committed_epoch,
        stream_clean_crawl,
    )

    # 100+ tokens, stopword-rich → composite quality clears the 0.5 gate
    prose = " ".join(
        ["the quick brown fox jumps over the lazy dog and it was a good "
         "day for all of them out there in the warm morning sun"] * 5
    )

    def page(body):
        return f"<html><head><title>t</title></head><body><p>{body}</p></body></html>"

    rows_b1 = [
        (1, page(prose + " one")),
        (2, page(prose + " two")),
    ]
    rows_b2 = [
        (3, page(prose + " one")),  # MIRROR of doc 1 (same extracted text)
        (4, "<html>" + "<script>var x=1;</script>" * 40 + "<body><p>hi</p></body></html>"),
        (5, page(prose + " three")),  # genuinely new
        (6, page(prose + " three")),  # within-batch duplicate of 5
    ]
    schema = "doc_id long, html string"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.parquet(src + "/b2")

    out = str(tmp_path / "crawl")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_clean_crawl(stream, out, str(tmp_path / "ckpt")).start()
        q.awaitTermination(120)
        q.stop()

    run()
    corpus = spark.read.parquet(out + "/corpus")
    kept = sorted(r.doc_id for r in corpus.collect())
    assert kept == [1, 2, 5], kept  # mirror 3, boilerplate 4, batch-dup 6 dropped
    met = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert met[0].n_pages == 2 and met[0].n_survivors == 2
    assert met[1].n_pages == 4
    assert met[1].n_after_ppm == 3  # boilerplate page failed the ppm gate
    assert met[1].n_survivors == 1  # mirror + within-batch dup deduped
    assert last_committed_epoch(str(tmp_path / "ckpt")) == 1
    # the fingerprint table holds exactly the survivors' hashes
    fps = spark.read.parquet(out + "/fingerprints")
    assert fps.select("content_hash").distinct().count() == 3

    # crash replay: wipe the checkpoint so EVERY epoch re-runs — the
    # epoch-dir delete-before-rename must converge to the identical
    # corpus, fingerprints, and metrics (the replayed epoch must NOT
    # dedup against its own previous attempt's fingerprints)
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    assert sorted(r.doc_id for r in spark.read.parquet(out + "/corpus").collect()) == [1, 2, 5]
    met2 = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert {k: tuple(v) for k, v in met2.items()} == {k: tuple(v) for k, v in met.items()}
    assert spark.read.parquet(out + "/fingerprints").count() == 3


def test_streaming_media_decode_skip_and_flag_exactly_once(spark, tmp_path):
    """VERDICT r6 #5: a planted corrupt payload inside a micro-batch
    survives as (ok=false, err_kind) DATA — the stream completes — and
    both the features table and the per-epoch error metrics obey the
    epoch-keyed exactly-once contract under crash replay."""
    from time_series_databse_engine_spark.operators import multimodal as mm
    from time_series_databse_engine_spark.streaming.ingest import (
        last_committed_epoch,
        stream_decode_media,
    )

    px = bytes(range(48))
    bmp = mm.encode_bmp(4, 4, px)
    png = mm.encode_png(4, 4, px)
    rows_b1 = [
        (1, "image", bytearray(bmp)),                       # healthy
        (2, "image", bytearray(png[: len(png) // 2])),      # corrupt: truncated
    ]
    rows_b2 = [
        (3, "image", bytearray(png)),                       # healthy
        (4, "audio", bytearray(b"ID3junkjunkjunk")),        # unsupported: MP3
    ]
    schema = "media_id long, kind string, payload binary"
    src = str(tmp_path / "src")
    spark.createDataFrame(rows_b1, schema).coalesce(1).write.parquet(src + "/b1")
    spark.createDataFrame(rows_b2, schema).coalesce(1).write.parquet(src + "/b2")

    out = str(tmp_path / "decoded")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream_decode_media(stream, out, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)
    q.stop()

    feats = {r.media_id: r for r in spark.read.parquet(out + "/features").collect()}
    assert len(feats) == 4  # the corrupt payload did NOT kill the stream
    assert feats[1].ok and feats[1].err_kind is None and feats[1].features
    assert (feats[2].ok, feats[2].err_kind, feats[2].features) == (False, "corrupt", None)
    assert feats[3].ok
    assert (feats[4].ok, feats[4].err_kind) == (False, "unsupported")

    met = spark.read.parquet(out + "/metrics")
    per_epoch = {
        (r.epoch_id, r.err_kind): r.n for r in met.collect()
    }
    assert sum(per_epoch.values()) == 4
    assert sorted(k[1] for k in per_epoch if k[1]) == ["corrupt", "unsupported"]
    n_epochs = met.select("epoch_id").distinct().count()
    assert n_epochs == 2
    assert last_committed_epoch(str(tmp_path / "ckpt")) == n_epochs - 1

    # crash replay: wipe the checkpoint so EVERY epoch re-runs — the
    # epoch-keyed delete-before-move must converge to one copy of both
    # the rows and the metric counts (no double-counted corrupt rows)
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q2 = stream_decode_media(stream2, out, str(tmp_path / "ckpt")).start()
    q2.awaitTermination(120)
    q2.stop()
    assert spark.read.parquet(out + "/features").count() == 4
    met2 = {
        (r.epoch_id, r.err_kind): r.n
        for r in spark.read.parquet(out + "/metrics").collect()
    }
    assert met2 == per_epoch


def test_streaming_psi_drift_exactly_once(spark, tmp_path):
    """The drift trio's streaming leg: micro-batch 1 draws from the
    reference distribution (running PSI stays under the alarm),
    micro-batch 2 is location-shifted (running PSI crosses 0.25 and
    alarms); per-epoch counts are the mergeable psi_bin_counts state;
    a full crash replay converges to identical counts and metrics."""
    import shutil

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.profile import (
        psi_bin_counts,
        psi_bounds,
    )
    from time_series_databse_engine_spark.streaming.ingest import stream_psi_drift

    ref = spark.range(1000).select(F.col("id").cast("double").alias("value"))
    bounds = psi_bounds(ref, "value", n_bins=10)
    ref_counts = psi_bin_counts(ref, "value", bounds)
    # pin both artifacts (training-time persistence)
    bounds.write.parquet(str(tmp_path / "bounds"))
    ref_counts.write.parquet(str(tmp_path / "ref_counts"))
    bounds_p = spark.read.parquet(str(tmp_path / "bounds"))
    ref_p = spark.read.parquet(str(tmp_path / "ref_counts"))

    src = str(tmp_path / "src")
    # batch 1: same distribution; batch 2: +600 shift
    spark.range(1000).select(F.col("id").cast("double").alias("value")).coalesce(
        1
    ).write.parquet(src + "/b1")
    spark.range(1000).select((F.col("id") + 600).cast("double").alias("value")).coalesce(
        1
    ).write.parquet(src + "/b2")

    out = str(tmp_path / "drift")

    def run():
        stream = (
            spark.readStream.schema("value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_psi_drift(
            stream, ref_p, bounds_p, out, str(tmp_path / "ckpt")
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert set(met) == {0, 1}
    assert met[0].n_rows == 1000 and met[1].n_rows == 1000
    assert met[0].psi_running < 0.05 and not met[0].alarm
    assert met[1].psi_running > 0.25 and met[1].alarm
    # batch-level PSI of the shifted batch alone is even larger
    assert met[1].psi_batch > met[1].psi_running
    # counts are the mergeable state: re-reducing them equals 2000 rows
    cnts = spark.read.parquet(out + "/counts")
    assert cnts.agg(F.sum("cnt")).collect()[0][0] == 2000

    # crash replay: wipe the checkpoint; every epoch re-runs and must
    # converge to identical counts and metrics (no double counting)
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert {k: tuple(v) for k, v in met2.items()} == {k: tuple(v) for k, v in met.items()}
    assert spark.read.parquet(out + "/counts").agg(F.sum("cnt")).collect()[0][0] == 2000


def test_streaming_decayed_topk_matches_batch_and_replays_exactly_once(
    spark, tmp_path
):
    """The trending leaderboard's live leg: four micro-batches of events;
    after every epoch the leaderboard must equal the BATCH decayed_topk
    over the union seen so far (scores within float tolerance of the
    rescale identity, rank order exact); a full crash replay converges to
    identical state and leaderboards.  The epochs' anchors run 29k, 603k,
    4k, 305k: epoch 1's own anchor is the newest, and in epochs 2 and 3
    the newest anchor belongs to neither the batch nor the newest prior
    epoch, so a sink that rescaled to the wrong one would be off by a
    power of two in every score."""
    import glob as g
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.timeseries import decayed_topk
    from time_series_databse_engine_spark.streaming.ingest import (
        stream_decayed_topk,
    )

    hl = 60_000
    # batch 1 (old): "stale" piles up 30 events at t=0..30k
    b1 = [(i, "stale", i * 1_000) for i in range(30)]
    # batch 2 (fresh, 10 half-lives later): "fresh" gets 4 recent events
    b2 = [(100 + i, "fresh", 600_000 + i * 1_000) for i in range(4)] + [
        (200, "stale", 601_000)
    ]
    # batch 0 (late, older than batch 1): "ancient" events at t=2k..4k
    b0 = [(400 + i, "ancient", 2_000 + i * 1_000) for i in range(3)]
    # batch 3 (late): events from between batches 1 and 2
    b3 = [(300 + i, "late", 300_000 + i * 1_000) for i in range(6)]
    # batch 4: a null timestamp counts in n_events but adds no mass
    b4 = [(500, "late", None), (501, "fresh", 620_000)]
    batches = [("b1", b1), ("b2", b2), ("b0", b0), ("b3", b3), ("b4", b4)]
    src = str(tmp_path / "src")
    schema = "event_id long, item string, ts_ms long"
    # the file source orders files by modification time: one epoch per
    # batch, in the order of ``batches``
    now = time.time()
    for age, (name, rows) in zip((50, 40, 30, 20, 10), batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/{name}")
        for f in g.glob(f"{src}/{name}/*.parquet"):
            os.utime(f, (now - age, now - age))
    out = str(tmp_path / "trend")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_decayed_topk(
            stream,
            out,
            str(tmp_path / "ckpt"),
            keys=["item"],
            half_life_ms=hl,
            k=5,
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    epochs = sorted(int(d.split("=")[-1]) for d in g.glob(out + "/topk/epoch=*"))
    # each key is anchored at its own newest timestamp in the epoch; the
    # epoch's max anchor is the batch's newest timestamp
    anchors = [
        spark.read.parquet(f"{out}/state/epoch={e}").agg(F.max("anchor_ms")).first()[0]
        for e in epochs
    ]
    assert anchors == [29_000, 603_000, 4_000, 305_000, 620_000]
    state1 = spark.read.parquet(f"{out}/state/epoch={epochs[1]}").collect()
    assert {r["item"]: r["anchor_ms"] for r in state1} == {"fresh": 603_000, "stale": 601_000}
    # each epoch's leaderboard vs the batch op over the batches seen so far
    seen = []
    for e, (_, rows) in zip(epochs, batches):
        seen += rows
        live = spark.read.parquet(f"{out}/topk/epoch={e}").orderBy(
            F.desc("decayed_score")
        ).collect()
        full = spark.createDataFrame(seen, schema)
        want = decayed_topk(full, ["item"], half_life_ms=hl, k=5).collect()
        assert [r["item"] for r in live] == [r["item"] for r in want], e
        assert [r["n_events"] for r in live] == [r["n_events"] for r in want], e
        for lr, wr in zip(live, want):
            assert abs(lr["decayed_score"] - wr["decayed_score"]) < 1e-6, e
    # recency won: 4 fresh events outrank 30 stale + 1 recent
    assert live[0]["item"] == "fresh"

    # crash replay: wipe checkpoint, re-run, state + topk bit-identical
    # (sorted by repr: "late"'s epoch-4 state row has a null mass and anchor)
    def rows(table):
        return sorted((tuple(r) for r in spark.read.parquet(f"{out}/{table}").collect()), key=repr)

    before_state, before_top = rows("state"), rows("topk")
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    assert rows("state") == before_state
    assert rows("topk") == before_top


def test_streaming_decayed_topk_empty_epoch_publishes_nothing(spark, tmp_path):
    """An epoch over a zero-row source file publishes no state and no
    leaderboard and leaves no ``_tmp/epoch-N`` staging dir; the next
    epoch merges over the one before it."""
    import glob as g
    import os
    import time

    from time_series_databse_engine_spark.streaming.ingest import (
        last_committed_epoch,
        stream_decayed_topk,
    )

    schema = "event_id long, item string, ts_ms long"
    src = str(tmp_path / "src")
    now = time.time()
    batches = [[(1, "a", 1_000)], [], [(2, "b", 2_000)]]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/b{i}")
        for f in g.glob(f"{src}/b{i}/*.parquet"):
            os.utime(f, (now - 30 + 10 * i, now - 30 + 10 * i))
    out = str(tmp_path / "trend")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src + "/*")
    q = stream_decayed_topk(
        stream, out, str(tmp_path / "ckpt"), keys=["item"], half_life_ms=60_000, k=5
    ).start()
    q.awaitTermination(120)
    q.stop()
    assert last_committed_epoch(str(tmp_path / "ckpt")) == 2
    for table in ("state", "topk"):
        assert sorted(os.listdir(f"{out}/{table}")) == ["epoch=0", "epoch=2"]
    assert not os.path.exists(f"{out}/_tmp/epoch-1")
    assert g.glob(f"{out}/_tmp/*") == []
    top = spark.read.parquet(f"{out}/topk/epoch=2").orderBy("item").collect()
    assert [(r["item"], r["n_events"]) for r in top] == [("a", 1), ("b", 1)]


def test_streaming_burn_rate_matches_batch_and_replays_exactly_once(
    spark, tmp_path
):
    """Live SLO burn: epoch 1 is healthy (no alert), epoch 2 is a
    sustained error burst (alert fires); the merged burn table equals
    the batch operator on the union of all rows seen; a full crash
    replay converges bit-identically."""
    import shutil

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.timeseries import slo_burn_rate
    from time_series_databse_engine_spark.streaming.ingest import stream_burn_rate

    B = 3_600_000
    # batch 1: 6 healthy hours (10 ok each); batch 2: 6 all-error hours
    rows1 = [(h * B + i, False) for h in range(6) for i in range(10)]
    rows2 = [((6 + h) * B + i, True) for h in range(6) for i in range(10)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows1, "ts_ms long, is_err boolean").coalesce(1).write.parquet(
        src + "/b1"
    )
    spark.createDataFrame(rows2, "ts_ms long, is_err boolean").coalesce(1).write.parquet(
        src + "/b2"
    )
    out = str(tmp_path / "burn")

    def run():
        stream = (
            spark.readStream.schema("ts_ms long, is_err boolean")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_burn_rate(stream, out, str(tmp_path / "ckpt")).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert set(met) == {0, 1}
    assert not met[0].alert
    assert met[1].alert and met[1].burn_short == 4.0 and met[1].burn_long == 4.0

    # merge identity: re-pricing the merged counts == batch op on the union
    from time_series_databse_engine_spark.operators.timeseries import burn_from_counts

    merged = (
        spark.read.parquet(out + "/counts")
        .groupBy("bucket_ms")
        .agg(F.sum("n").alias("n"), F.sum("n_err").alias("n_err"))
    )
    stream_burn = {
        r.bucket_ms: tuple(r) for r in burn_from_counts(merged, slo=0.75).collect()
    }
    union = spark.createDataFrame(rows1 + rows2, "ts_ms long, is_err boolean")
    batch_burn = {
        r.bucket_ms: tuple(r) for r in slo_burn_rate(union, "is_err", slo=0.75).collect()
    }
    assert stream_burn == batch_burn

    # crash replay: wipe the checkpoint; metrics and counts converge
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()}
    assert {k: tuple(v) for k, v in met2.items()} == {k: tuple(v) for k, v in met.items()}
    assert (
        spark.read.parquet(out + "/counts").agg(F.sum("n")).collect()[0][0] == 120
    )


def test_streaming_scd2_merge_identity_and_replay(spark, tmp_path):
    """Live SCD2: the merged output (all closed epochs + latest current
    snapshot) is row-identical to the batch scd2_build on all events
    seen — versions included; a full crash replay converges."""
    import shutil

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.timeseries import scd2_build
    from time_series_databse_engine_spark.streaming.ingest import stream_scd2

    schema = "user_id long, event_type string, ts_ms long, event_id long"
    # epoch 0: A X->Y (one run closes), B single row
    b1 = [(1, "X", 0, 0), (1, "Y", 10, 1), (2, "P", 5, 2)]
    # epoch 1: A Y (no change!) then Z; B closes P with Q; C appears
    b2 = [(1, "Y", 20, 3), (1, "Z", 30, 4), (2, "Q", 25, 5), (3, "R", 40, 6)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    import time as _t

    _t.sleep(1.1)  # distinct mtimes pin micro-batch order
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    out = str(tmp_path / "scd")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_scd2(
            stream, out, str(tmp_path / "ckpt"),
            order=["ts_ms", "event_id"],
        ).start()
        q.awaitTermination(120)
        q.stop()

    def merged():
        from time_series_databse_engine_spark.streaming.ingest import scd2_current

        closed = spark.read.parquet(out + "/closed").select(
            "user_id", "event_type", "valid_from_ms", "valid_to_ms", "version"
        )
        cur = scd2_current(spark, out).select(
            "user_id",
            "event_type",
            "valid_from_ms",
            F.lit(None).cast("long").alias("valid_to_ms"),
            "version",
        )
        return sorted(map(tuple, closed.unionByName(cur).collect()))

    run()
    got = merged()
    union = spark.createDataFrame(b1 + b2, schema)
    want = sorted(
        map(
            tuple,
            scd2_build(union, "user_id", "event_type", ["ts_ms", "event_id"])
            .select("user_id", "event_type", "valid_from_ms", "valid_to_ms", "version")
            .collect(),
        )
    )
    assert got == want
    # the no-change Y event must NOT have split A's Y run
    a_runs = [r for r in got if r[0] == 1]
    assert len(a_runs) == 3  # X, Y, Z

    # crash replay: wipe the checkpoint, re-fire both epochs
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    assert merged() == want


def test_streaming_scd2_opening_ts_tie(spark, tmp_path):
    """ADVICE r10 (high) regression: two same-key events sharing the ts
    of the run's opening event must NOT fan out the opener join — the
    snapshot keeps exactly one row per key, carrying the order columns
    of the TRUE opening event (last run-start in `order`), and the
    merged output stays identical to the batch scd2_build."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.timeseries import scd2_build
    from time_series_databse_engine_spark.streaming.ingest import (
        scd2_current,
        stream_scd2,
    )

    schema = "user_id long, event_type string, ts_ms long, event_id long"
    # the ADVICE repro, plus the earlier-run-same-attr-same-ts corner:
    # key 2's events all share ts=10 — runs Y[id0], X[id1], Y[id2 open];
    # the opener must be id2 (last run start), not id0 (same attr+ts)
    rows = [
        (1, "X", 10, 1), (1, "Y", 10, 2),
        (2, "Y", 10, 0), (2, "X", 10, 1), (2, "Y", 10, 2),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src + "/b1")
    out = str(tmp_path / "scd")
    q = stream_scd2(
        spark.readStream.schema(schema).parquet(src + "/*"),
        out, str(tmp_path / "ckpt"), order=["ts_ms", "event_id"],
    ).start()
    q.awaitTermination(120)
    q.stop()

    cur = scd2_current(spark, out)
    # exactly one open row per key, with the true opener's event_id
    got = {r.user_id: (r.event_type, r.event_id) for r in cur.collect()}
    assert cur.count() == 2
    assert got == {1: ("Y", 2), 2: ("Y", 2)}

    closed = spark.read.parquet(out + "/closed").select(
        "user_id", "event_type", "valid_from_ms", "valid_to_ms", "version"
    )
    skey = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    merged = sorted(map(tuple, closed.unionByName(
        cur.select(
            "user_id", "event_type", "valid_from_ms",
            F.lit(None).cast("long").alias("valid_to_ms"), "version",
        )
    ).collect()), key=skey)
    want = sorted(map(tuple, scd2_build(
        spark.createDataFrame(rows, schema),
        "user_id", "event_type", ["ts_ms", "event_id"],
    ).select(
        "user_id", "event_type", "valid_from_ms", "valid_to_ms", "version"
    ).collect()), key=skey)
    assert merged == want


def test_streaming_scd2_touched_partition_writes(spark, tmp_path):
    """VERDICT r10 #3: an epoch rewrites only the snapshot partitions its
    batch touched — per-epoch bytes written scale with touched keys, not
    dimension size."""
    import glob
    import time as _t

    from time_series_databse_engine_spark.streaming.ingest import (
        scd2_current,
        stream_scd2,
    )

    schema = "user_id long, event_type string, ts_ms long, event_id long"
    # epoch 0: a 64-key dimension spread across all 8 hash partitions
    b1 = [(k, "A", 0, k) for k in range(64)]
    # epoch 1: a single key changes
    b2 = [(7, "B", 100, 1000)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    out = str(tmp_path / "scd")
    q = stream_scd2(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*"),
        out, str(tmp_path / "ckpt"), order=["ts_ms", "event_id"],
    ).start()
    q.awaitTermination(120)
    q.stop()

    # epoch 0 touched all 8 partitions; epoch 1 exactly one
    e0 = glob.glob(out + "/current/part=*/epoch=0")
    e1 = glob.glob(out + "/current/part=*/epoch=1")
    assert len(e0) == 8 and len(e1) == 1

    # the snapshot is still the complete dimension with key 7 updated
    cur = {r.user_id: r.event_type for r in scd2_current(spark, out).collect()}
    assert len(cur) == 64 and cur[7] == "B" and cur[6] == "A"


def test_streaming_scd2_n_parts_marker_and_empty_snapshot_guard(spark, tmp_path):
    """ADVICE r11 (low ×2): (a) n_parts is pinned in a marker file on
    first epoch — restarting the stream over the same out_path with a
    different n_parts must raise instead of silently re-hashing keys to
    new partitions while stale ones stay 'latest'; (b) scd2_current on
    an out_path with no snapshot dirs yet raises a descriptive error
    naming the path, not a cryptic zero-path read error."""
    import pytest as _pt

    from time_series_databse_engine_spark.streaming.ingest import (
        scd2_current,
        stream_scd2,
    )

    out = str(tmp_path / "scd")
    with _pt.raises(FileNotFoundError, match="scd2_current.*no current"):
        scd2_current(spark, out)

    schema = "user_id long, event_type string, ts_ms long, event_id long"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "A", 0, 1)], schema).coalesce(1).write.parquet(
        src + "/b1"
    )
    q = stream_scd2(
        spark.readStream.schema(schema).parquet(src + "/*"),
        out, str(tmp_path / "ck1"), order=["ts_ms", "event_id"], n_parts=8,
    ).start()
    q.awaitTermination(120)
    q.stop()
    with open(out + "/_n_parts") as fh:
        assert fh.read().strip() == "8"

    # restart with a mismatched n_parts: the epoch must fail loudly
    spark.createDataFrame([(2, "B", 10, 2)], schema).coalesce(1).write.parquet(
        src + "/b2"
    )
    q2 = stream_scd2(
        spark.readStream.schema(schema).parquet(src + "/*"),
        out, str(tmp_path / "ck2"), order=["ts_ms", "event_id"], n_parts=4,
    ).start()
    with _pt.raises(Exception, match="n_parts=8"):
        q2.awaitTermination(120)
        raise AssertionError("mismatched n_parts restart did not fail")
    q2.stop()

    # matching n_parts restarts fine and the snapshot is intact
    q3 = stream_scd2(
        spark.readStream.schema(schema).parquet(src + "/*"),
        out, str(tmp_path / "ck3"), order=["ts_ms", "event_id"], n_parts=8,
    ).start()
    q3.awaitTermination(120)
    q3.stop()
    cur = {r.user_id: r.event_type for r in scd2_current(spark, out).collect()}
    assert cur == {1: "A", 2: "B"}


def test_streaming_ks_drift_merge_identity_and_replay(spark, tmp_path):
    """Live KS: each epoch's running stats (pinned reference vs all
    stream rows so far, via ks_from_counts) are row-identical to the
    batch ks_drift on the union of rows seen; crash replay converges."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.profile import ks_drift
    from time_series_databse_engine_spark.streaming.ingest import stream_ks_drift

    schema = "event_type string, value double"
    ref_rows = [("a", float(v)) for v in range(50)] + [("b", float(v)) for v in range(50)]
    ref = spark.createDataFrame(ref_rows, schema)
    ref_vc = ref.select("event_type", F.col("value").alias("v")).groupBy(
        "event_type", "v"
    ).agg(F.count("*").alias("cnt"))

    # epoch 0: key a drifts (+25 shift); epoch 1: key b matches reference
    b1 = [("a", float(v) + 25.0) for v in range(50)]
    b2 = [("b", float(v)) for v in range(50)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    out = str(tmp_path / "ks")

    def run():
        q = stream_ks_drift(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*"),
            ref_vc, out, str(tmp_path / "ckpt"),
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {(r.epoch_id, r.event_type): r
           for r in spark.read.parquet(out + "/metrics").collect()}
    # epoch-1 running == batch op on union of both epochs
    want = {r.event_type: r for r in ks_drift(
        ref, spark.createDataFrame(b1 + b2, schema), "event_type", "value"
    ).collect()}
    for k in ("a", "b"):
        got = met[(1, k)]
        w = want[k]
        assert (got.ks_stat, got.n_ref, got.n_cur, got.drifted) == (
            w.ks_stat, w.n_ref, w.n_cur, w.drifted)
    # the shifted key alarms, the matching key does not
    assert met[(1, "a")].drifted and not met[(1, "b")].drifted
    # 25-unit shift of a 50-wide uniform: D = 0.5 exactly
    assert met[(1, "a")].ks_stat == 0.5

    # crash replay: wipe the checkpoint; metrics converge bit-identically
    snap = {k: tuple(v) for k, v in met.items()}
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {(r.epoch_id, r.event_type): tuple(r)
            for r in spark.read.parquet(out + "/metrics").collect()}
    assert met2 == snap


def test_streaming_ks_drift_quantize_bounds_state(spark, tmp_path):
    """The continuous-column resolution dial (SCALE.md's prescribed
    remedy for unbounded distinct-value state, made executable): a
    2000-distinct-double stream quantized at 1e-3 stores at most
    range/q + 2 state rows per key per epoch (vs 2000 raw), and the
    quantized KS stays within one-cell tolerance of the unquantized
    batch statistic."""
    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.profile import ks_drift
    from time_series_databse_engine_spark.streaming.ingest import stream_ks_drift

    schema = "event_type string, value double"
    # 2000 distinct raw doubles in [0, 0.02); current shifted +0.004
    ref_rows = [("a", i * 1e-5) for i in range(2000)]
    cur_rows = [("a", i * 1e-5 + 0.004) for i in range(2000)]
    ref = spark.createDataFrame(ref_rows, schema)
    ref_vc = ref.select("event_type", F.col("value").alias("v")).groupBy(
        "event_type", "v"
    ).agg(F.count("*").alias("cnt"))

    src = str(tmp_path / "src")
    spark.createDataFrame(cur_rows, schema).coalesce(1).write.parquet(src + "/b1")
    out = str(tmp_path / "ksq")
    q = stream_ks_drift(
        spark.readStream.schema(schema).parquet(src + "/*"),
        ref_vc, out, str(tmp_path / "ckpt"), quantize=1e-3,
    ).start()
    q.awaitTermination(120)
    q.stop()

    # state bound: values span [0, 0.024) -> at most 26 cells, not 2000
    state_rows = spark.read.parquet(out + "/counts/epoch=0").count()
    assert state_rows <= 26

    # KS within one-cell tolerance of the exact (unquantized) batch stat:
    # a 0.004 shift of a 0.02-wide uniform -> D = 0.2
    got = spark.read.parquet(out + "/metrics").collect()[0]
    exact = ks_drift(
        ref, spark.createDataFrame(cur_rows, schema), "event_type", "value"
    ).collect()[0]
    assert abs(got.ks_stat - exact.ks_stat) <= 0.05
    assert got.n_ref == 2000 and got.n_cur == 2000


def test_streaming_embedding_drift_merge_identity_and_replay(spark, tmp_path):
    """Live embedding drift: each epoch's running metrics (pinned
    per-dim reference centroids vs all stream rows so far) match the
    batch embedding_drift on the union of rows seen; crash replay
    converges bit-identically; state is (group x dim)-sized."""
    import shutil
    import time as _t

    from pyspark.sql import functions as F

    from time_series_databse_engine_spark.operators.similarity import (
        embedding_drift,
    )
    from time_series_databse_engine_spark.streaming.ingest import (
        stream_embedding_drift,
    )

    schema = "vec_id long, embedding array<double>, label string"

    def vec(i, shift=0.0):
        return [1.0 + 0.01 * (i % 5) + shift, 0.5, 0.25, 0.125]

    ref_rows = [(i, vec(i), "g") for i in range(40)]
    ref = spark.createDataFrame(ref_rows, schema)
    # the pinned artifact: per-(group, dim) 6-dp means of the reference
    ref_cent = (
        ref.select(F.col("label"), F.posexplode("embedding").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.round(F.avg("x"), 6).alias("mr"))
    )

    b1 = [(100 + i, vec(i, shift=0.5), "g") for i in range(20)]
    b2 = [(200 + i, vec(i, shift=0.5), "g") for i in range(20)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    out = str(tmp_path / "edrift")

    def run():
        q = stream_embedding_drift(
            spark.readStream.schema(spark.createDataFrame([], schema).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*"),
            ref_cent, out, str(tmp_path / "ckpt"), group_col="label",
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {(r.epoch_id, r.label): r
           for r in spark.read.parquet(out + "/metrics").collect()}
    want = embedding_drift(
        ref, spark.createDataFrame(b1 + b2, schema), group_col="label"
    ).collect()[0]
    got = met[(1, "g")]
    assert got.n_cur == want.n_cur == 40
    assert got.centroid_cosine == want.centroid_cosine
    assert got.norm_ratio == want.norm_ratio
    # the +0.5 dim-0 shift is a real directional drift
    assert got.centroid_cosine < 1.0 and got.norm_ratio > 1.0
    # state is (group x dim)-sized: 4 rows per epoch, not 20
    assert spark.read.parquet(out + "/state/epoch=0").count() == 4

    # crash replay: wipe the checkpoint; metrics converge bit-identically
    snap = {k: tuple(v) for k, v in met.items()}
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {(r.epoch_id, r.label): tuple(r)
            for r in spark.read.parquet(out + "/metrics").collect()}
    assert met2 == snap


def test_streaming_conformal_merge_identity_and_replay(spark, tmp_path):
    """Live conformal threshold: each epoch's running pick (all stream
    rows so far, via conformal_from_counts) is row-identical to the
    batch conformal_threshold on the union of rows seen; growing n
    flips the too-small group from NULL to a certified cutoff; crash
    replay converges bit-identically."""
    import shutil
    import time as _t

    from time_series_databse_engine_spark.operators.sampling import (
        conformal_threshold,
    )
    from time_series_databse_engine_spark.streaming.ingest import stream_conformal

    schema = "event_type string, value double"
    # epoch 0: group A has only 5 scores (k = ceil(6*0.9) = 6 > 5 -> NULL)
    # epoch 1: 15 more -> n = 20, k = ceil(21*0.9) = 19 -> certified
    b1 = [("A", float(i)) for i in range(1, 6)]
    b2 = [("A", float(i)) for i in range(6, 21)]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    out = str(tmp_path / "conf")

    def run():
        q = stream_conformal(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*"),
            out,
            str(tmp_path / "ckpt"),
            alpha=0.1,
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {
        r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()
    }
    # epoch 0: under-sized group surfaces NULL, not a clamped cutoff
    assert met[0].n == 5 and met[0].k == 6 and met[0].threshold is None
    # epoch 1 running == batch op on the union
    want = conformal_threshold(
        spark.createDataFrame(b1 + b2, schema),
        "value",
        group_col="event_type",
        alpha=0.1,
    ).collect()[0]
    got = met[1]
    assert (got.n, got.k, got.threshold) == (want.n, want.k, want.threshold)
    assert got.threshold == 19.0  # 19th smallest of 1..20

    # crash replay: wipe the checkpoint; metrics converge bit-identically
    snap = {k: tuple(v) for k, v in met.items()}
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {
        r.epoch_id: tuple(r)
        for r in spark.read.parquet(out + "/metrics").collect()
    }
    assert met2 == snap


def test_streaming_benford_merge_identity_and_replay(spark, tmp_path):
    """Live Benford: each epoch's running conformity row (all stream
    rows so far, via benford_from_counts) is row-identical to the batch
    benford_audit on the union of rows seen; a unit-mangled epoch flips
    the group to nonconforming; crash replay converges."""
    import math
    import shutil
    import time as _t

    from time_series_databse_engine_spark.operators.profile import benford_audit
    from time_series_databse_engine_spark.streaming.ingest import stream_benford

    schema = "event_type string, value double"
    # epoch 0: exact-Benford digit multiset (conforming);
    # epoch 1: a capped feed stuck at 9.xx (digit 9 only) swamps it
    b1 = []
    for d in range(1, 10):
        b1 += [("g", float(d))] * round(200 * math.log10(1 + 1 / d))
    b2 = [("g", 9.99)] * 400
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/b1")
    _t.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/b2")
    out = str(tmp_path / "ben")

    def run():
        q = stream_benford(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*"),
            out,
            str(tmp_path / "ckpt"),
        ).start()
        q.awaitTermination(120)
        q.stop()

    run()
    met = {
        r.epoch_id: r for r in spark.read.parquet(out + "/metrics").collect()
    }
    assert met[0].conforming is True and met[0].mad < 0.005
    assert met[1].conforming is False
    # epoch-1 running == batch op on the union
    want = benford_audit(
        spark.createDataFrame(b1 + b2, schema), "value", "event_type"
    ).collect()[0]
    got = met[1]
    assert (got.n, got.chi2, got.mad, got.conforming) == (
        want.n, want.chi2, want.mad, want.conforming
    )

    # crash replay converges bit-identically
    snap = {k: tuple(v) for k, v in met.items()}
    shutil.rmtree(str(tmp_path / "ckpt"))
    run()
    met2 = {
        r.epoch_id: tuple(r)
        for r in spark.read.parquet(out + "/metrics").collect()
    }
    assert met2 == snap
