"""Streaming front-end tests: the watermarked rollup must agree with
its batch twin, and the work queue must drive the batch pipelines."""

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lcmap_blackmagic_spark.streaming.jobs import (attribution_join,
                                                   dedup_stream,
                                                   dedup_within_watermark,
                                                   enrich_stream,
                                                   events_stream,
                                                   hourly_rollup,
                                                   session_windows,
                                                   sliding_rollup,
                                                   work_queue)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Re-write the events table as a several-file parquet dir so the
    stream sees multiple micro-batches."""
    out = tempfile.mkdtemp(prefix="events_stream_")
    # the registry loader handles whichever ts encoding the driver
    # fixture generation used (nanos-as-long vs timestamp[us])
    from lcmap_blackmagic_spark.registry import _t
    df = _t(spark, sf_dir, "events").cache()
    # time-ordered file batches (the file source processes in mtime
    # order): each quartile of the time range lands in its own file,
    # so the watermark advances monotonically like a live ingest.
    qs = (df.selectExpr("cast(ts as double) t")
          .approxQuantile("t", [0.25, 0.5, 0.75], 0.0))
    bounds = [float("-inf")] + qs + [float("inf")]
    for i in range(4):
        part = df.filter((F.col("ts").cast("double") > bounds[i])
                         & (F.col("ts").cast("double") <= bounds[i + 1]))
        part.coalesce(1).write.mode("append").parquet(out)
    return out


@pytest.fixture(params=["hdfs", "rocksdb"])
def state_provider(spark, request):
    """Run a stateful batch-twin test under BOTH state-store
    providers: the default in-heap HDFS-backed store and RocksDB (the
    100 TB path — state on executor-local disk, changelog
    checkpointing). The conf is read per query start, so flipping it
    between tests is safe; restored to the default afterwards."""
    from lcmap_blackmagic_spark.streaming.jobs import configure_state_store
    configure_state_store(spark, request.param)
    yield request.param
    configure_state_store(spark, "hdfs")


def test_hourly_rollup_matches_batch(spark, events_dir, state_provider):
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    rolled = hourly_rollup(stream)
    q = (rolled.writeStream.format("memory").queryName("rollup_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch = (spark.read.parquet(events_dir)
             .groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value")))
    got = {tuple(r) for r in spark.table("rollup_" + state_provider).collect()}
    want = {tuple(r) for r in batch.collect()}
    # append mode only emits windows the watermark has closed; all
    # emitted windows must match the batch result exactly, and most
    # windows must have been emitted.
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_session_windows_match_batch(spark, events_dir, state_provider):
    """Stateful sessionization (applyInPandasWithState) must emit
    exactly the sessions its batch twin computes, modulo the tail kept
    open by the watermark."""
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    sess = session_windows(stream, gap_minutes=30, watermark="30 minutes")
    q = (sess.writeStream.format("memory").queryName("sessions_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    from pyspark.sql import Window
    e = spark.read.parquet(events_dir)
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros(F.col("ts"))
           - F.unix_micros(F.lag("ts").over(order)))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1) \
        .otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    batch = (e.withColumn("sid", F.sum(new_sess).over(run))
             .groupBy("user_id", "sid")
             .agg(F.min("ts").alias("session_start"),
                  F.max("ts").alias("session_end"),
                  F.count(F.lit(1)).alias("n_events"))
             .drop("sid"))

    got = {tuple(r) for r in spark.table("sessions_" + state_provider).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got <= want
    assert len(got) >= 0.8 * len(want)


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """The same events delivered twice (two files) come out once."""
    import shutil
    src = str(tmp_path / "events")
    os.makedirs(src)
    df = spark.createDataFrame(
        [(i, f"2020-01-01 00:{i:02d}:00", i % 3, "click", 1.0, "{}")
         for i in range(30)],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string").selectExpr(
            "event_id", "cast(ts as timestamp) ts", "user_id",
            "event_type", "value", "props")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f1"))
    # duplicate delivery: copy the same part file in twice
    part = [f for f in os.listdir(str(tmp_path / "f1"))
            if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(str(tmp_path / "f1"), part),
                os.path.join(src, "a.parquet"))
    shutil.copy(os.path.join(str(tmp_path / "f1"), part),
                os.path.join(src, "b.parquet"))

    deduped = dedup_stream(events_stream(spark, src,
                                         max_files_per_trigger=1))
    q = (deduped.writeStream.format("memory").queryName("dedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("dedup").select("event_id").collect()
    assert len(got) == 30
    assert len({r[0] for r in got}) == 30


def test_attribution_join_matches_batch(spark, events_dir):
    """Stream-stream interval join must emit exactly the pairs its
    batch twin computes (append mode emits once both watermarks pass,
    so the emitted set is a subset; availableNow drains far enough
    that most pairs appear)."""
    views = events_stream(spark, events_dir, max_files_per_trigger=1) \
        .filter(F.col("event_type") == "view")
    clicks = events_stream(spark, events_dir, max_files_per_trigger=1) \
        .filter(F.col("event_type") == "click")
    joined = attribution_join(views, clicks, window_minutes=10,
                              watermark="30 minutes")
    q = (joined.writeStream.format("memory").queryName("attrib")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    e = spark.read.parquet(events_dir)
    v = (e.filter(F.col("event_type") == "view")
         .select("user_id", F.col("ts").alias("view_ts"),
                 F.col("event_id").alias("view_id")))
    c = (e.filter(F.col("event_type") == "click")
         .select(F.col("user_id").alias("cu"),
                 F.col("ts").alias("click_ts"),
                 F.col("event_id").alias("click_id")))
    batch = v.join(c, (F.col("user_id") == F.col("cu"))
                   & (F.col("click_ts") >= F.col("view_ts"))
                   & (F.col("click_ts") <= F.col("view_ts")
                      + F.expr("interval 10 minutes"))).drop("cu")
    got = {tuple(r) for r in spark.table("attrib").collect()}
    want = {tuple(r) for r in batch.collect()}
    assert want, "batch twin produced no pairs — test data too sparse"
    assert got <= want
    assert len(got) >= 0.7 * len(want)


def test_sliding_rollup_matches_batch(spark, events_dir):
    """Each event must appear in width/slide overlapping windows with
    totals identical to the batch computation."""
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    rolled = sliding_rollup(stream, width="1 hour", slide="15 minutes")
    q = (rolled.writeStream.format("memory").queryName("sliding")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    batch = (spark.read.parquet(events_dir)
             .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value"))
             .select(F.col("win.start").alias("bucket"), "event_type",
                     "n", "total_value"))
    got = {tuple(r) for r in spark.table("sliding").collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got <= want
    assert len(got) >= 0.9 * len(want)


def test_dedup_within_watermark_catches_jittered_redelivery(spark, tmp_path, state_provider):
    """A re-delivery whose ts was re-stamped (+5 s) still has the same
    event_id; dropDuplicatesWithinWatermark removes it, where plain
    dropDuplicates on (event_id, ts) would keep both."""
    src = str(tmp_path / "events")
    os.makedirs(src)
    rows1 = [(i, f"2020-01-01 00:{i:02d}:00", i % 3, "click", 1.0, "{}")
             for i in range(30)]
    # same ids, ts shifted 5 s — a retry that re-stamped the clock
    rows2 = [(i, f"2020-01-01 00:{i:02d}:05", i % 3, "click", 1.0, "{}")
             for i in range(30)]
    schema = ("event_id long, ts string, user_id long, event_type string, "
              "value double, props string")
    for fname, rows in [("a.parquet", rows1), ("b.parquet", rows2)]:
        (spark.createDataFrame(rows, schema)
         .selectExpr("event_id", "cast(ts as timestamp) ts", "user_id",
                     "event_type", "value", "props")
         .coalesce(1).write.mode("overwrite")
         .parquet(str(tmp_path / "stage")))
        part = [f for f in os.listdir(str(tmp_path / "stage"))
                if f.endswith(".parquet")][0]
        os.replace(os.path.join(str(tmp_path / "stage"), part),
                   os.path.join(src, fname))

    deduped = dedup_within_watermark(
        events_stream(spark, src, max_files_per_trigger=1),
        watermark="10 minutes")
    q = (deduped.writeStream.format("memory").queryName("dedup_wm_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("dedup_wm_" + state_provider).select("event_id").collect()
    assert len(got) == 30
    assert len({r[0] for r in got}) == 30


def test_persisted_rollup_converges_and_is_idempotent(spark, events_dir,
                                                      tmp_path):
    """The persisted streaming rollup must equal the one-shot batch
    rollup over the same files (lambda convergence), and re-writing a
    batch's partial must not change totals (batch_id-keyed idempotent
    overwrite)."""
    from lcmap_blackmagic_spark import storage
    from lcmap_blackmagic_spark.streaming.jobs import (
        persisted_hourly_rollup, read_rollup)

    root, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = persisted_hourly_rollup(spark, events_dir, root, ckpt)
    q.awaitTermination(180)

    got = {tuple(r) for r in read_rollup(spark, root).collect()}
    batch = (spark.read.parquet(events_dir)
             .groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value")))
    want = {tuple(r) for r in batch.collect()}
    assert got == want

    # replay: rewrite batch 0's partial from the same data — totals
    # unchanged because the partition overwrites itself
    partials = storage.read(spark, root, "rollup_partial")
    b0 = partials.filter(F.col("batch_id") == 0)
    storage.overwrite_partitions(b0, root, "rollup_partial")
    got2 = {tuple(r) for r in read_rollup(spark, root).collect()}
    assert got2 == want


def test_snapshot_rollup_stream_converges_and_replays_to_noop(
        spark, events_dir, tmp_path):
    """The snapshot-committed streaming rollup: merged latest equals
    the one-shot batch rollup; the commit history has one version
    per micro-batch (time-travelable); and re-running the whole
    stream from a FRESH checkpoint (total re-delivery, same batch
    ids) publishes ZERO new versions — the tag makes every replayed
    commit a no-op."""
    from lcmap_blackmagic_spark import storage
    from lcmap_blackmagic_spark.streaming.jobs import (
        read_snapshot_rollup, snapshot_rollup_stream)

    table = str(tmp_path / "snaptable")
    q = snapshot_rollup_stream(spark, events_dir, table,
                               str(tmp_path / "ckpt1"))
    q.awaitTermination(180)

    got = {tuple(r) for r in
           read_snapshot_rollup(spark, table).collect()}
    batch = (spark.read.parquet(events_dir)
             .groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("total_value")))
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    v_after = storage.latest_version(table)
    assert v_after and v_after >= 2        # one version per batch
    # time travel: version 1 covers strictly fewer events
    n_v1 = (read_snapshot_rollup(spark, table, version=1)
            .agg(F.sum("n")).collect()[0][0])
    n_all = sum(r[2] for r in want)
    assert 0 < n_v1 < n_all

    # full re-delivery: fresh checkpoint, same files → same batch
    # ids → every tagged commit is a no-op
    q2 = snapshot_rollup_stream(spark, events_dir, table,
                                str(tmp_path / "ckpt2"))
    q2.awaitTermination(180)
    assert storage.latest_version(table) == v_after
    got2 = {tuple(r) for r in
            read_snapshot_rollup(spark, table).collect()}
    assert got2 == want


def test_enrich_stream_attaches_static_dim(spark, events_dir):
    """Every streamed event gets its user's static attributes; users
    missing from the dim get NULLs (left join semantics)."""
    dim = spark.createDataFrame(
        [(u, f"tier_{u % 3}") for u in range(0, 200, 2)],  # evens only
        "user_id long, tier string")
    enriched = enrich_stream(
        events_stream(spark, events_dir, max_files_per_trigger=2), dim)
    q = (enriched.writeStream.format("memory").queryName("enriched")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.table("enriched")
    total = spark.read.parquet(events_dir).count()
    assert got.count() == total            # left join never drops rows
    odd = got.filter((F.col("user_id") % 2 == 1)
                     & F.col("tier").isNotNull()).count()
    assert odd == 0                        # missing dim keys → NULL
    ok = got.filter((F.col("user_id") % 2 == 0)
                    & (F.col("tier")
                       != F.concat(F.lit("tier_"),
                                   (F.col("user_id") % 3)))).count()
    assert ok == 0                         # attached values correct


def test_work_queue_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once over restarts: a second run with the SAME
    checkpoint processes only files added since the first drain."""
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    os.makedirs(qdir)
    seen = []

    def process(batch_df, batch_id):
        seen.extend(r["cx"] for r in batch_df.collect())

    pd.DataFrame([{"kind": "segment", "cx": 1, "cy": 0,
                   "acquired": "1980/2019"}]).to_json(
        os.path.join(qdir, "w1.json"), orient="records", lines=True)
    q1 = work_queue(spark, qdir, process, ckpt, available_now=True)
    q1.awaitTermination(120)
    assert seen == [1]

    pd.DataFrame([{"kind": "segment", "cx": 2, "cy": 0,
                   "acquired": "1980/2019"}]).to_json(
        os.path.join(qdir, "w2.json"), orient="records", lines=True)
    q2 = work_queue(spark, qdir, process, ckpt, available_now=True)
    q2.awaitTermination(120)
    # w1 NOT reprocessed — the checkpoint's file-source log skips it
    assert seen == [1, 2]


def test_work_queue_runs_segment_jobs_end_to_end(spark, tmp_path):
    """Full ingestion path: streamed work items drive the /segment
    job per micro-batch; both chips' partitions land in storage and
    re-delivery is idempotent (dynamic partition overwrite)."""
    from lcmap_blackmagic_spark import storage
    from lcmap_blackmagic_spark.api import run_segment_job

    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    root = str(tmp_path / "store")
    os.makedirs(qdir)
    items = [
        {"kind": "segment", "cx": 0, "cy": 0, "acquired": "1980/2019"},
        {"kind": "segment", "cx": 3000, "cy": 0, "acquired": "1980/2019"},
    ]
    pd.DataFrame(items).to_json(os.path.join(qdir, "w1.json"),
                                orient="records", lines=True)

    def process(batch_df, batch_id):
        for r in batch_df.collect():
            run_segment_job(spark, {"cx": r["cx"], "cy": r["cy"],
                                    "acquired": r["acquired"]},
                            root, side=5)

    q = work_queue(spark, qdir, process, ckpt, available_now=True)
    q.awaitTermination(180)
    seg = storage.read(spark, root, "segment")
    assert seg.count() == 2 * 25
    assert sorted(r["cx"] for r in
                  seg.select("cx").distinct().collect()) == [0, 3000]

    # re-deliver chip (0,0): counts unchanged (idempotent overwrite)
    pd.DataFrame(items[:1]).to_json(os.path.join(qdir, "w2.json"),
                                    orient="records", lines=True)
    q2 = work_queue(spark, qdir, process, str(tmp_path / "ckpt2"),
                    available_now=True)
    q2.awaitTermination(180)
    assert storage.read(spark, root, "segment").count() == 2 * 25


def test_work_queue_drives_batch_pipeline(spark, tmp_path):
    """Work items dropped as JSON files are processed per micro-batch
    by the provided batch pipeline (here: counting sink)."""
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    os.makedirs(qdir)
    pd.DataFrame([
        {"kind": "segment", "cx": 100, "cy": 200, "acquired": "1980/2019"},
        {"kind": "prediction", "cx": 300, "cy": 400, "acquired": "1980/2019"},
    ]).to_json(os.path.join(qdir, "items.json"), orient="records",
               lines=True)

    seen = []

    def process(batch_df, batch_id):
        seen.extend((r["kind"], r["cx"], r["cy"])
                    for r in batch_df.collect())

    q = work_queue(spark, qdir, process, ckpt, available_now=True)
    q.awaitTermination(120)
    assert sorted(seen) == [("prediction", 300, 400), ("segment", 100, 200)]


def test_chipmunk_stream_drives_detection(spark, tmp_path):
    """Live-ingest shape, source to sink: the chipmunk STREAMING
    source feeds raster micro-batches straight into the /segment
    pipeline via foreachBatch — each chip's 38-col segments land in
    storage as its batch arrives (one chip per micro-batch). Ties the
    S1 streaming reader to UD1 detection end-to-end; the work-queue
    test covers the work-item-driven variant of the same loop."""
    import time

    from lcmap_blackmagic_spark import storage
    from lcmap_blackmagic_spark.plans.segment import segment_pipeline
    from lcmap_blackmagic_spark.session import ensure_worker_imports
    from lcmap_blackmagic_spark.sources.chipmunk import ChipmunkDataSource

    spark.dataSource.register(ChipmunkDataSource)
    ensure_worker_imports(spark)
    root = str(tmp_path / "store")
    side = 5
    stream = (spark.readStream.format("chipmunk")
              .options(nx=2, ny=1, side=side, n_acq=14, chips_per_batch=1)
              .load())

    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        segs, chips, pixels = segment_pipeline(batch_df, side=side)
        storage.overwrite_partitions(chips, root, "chip")
        storage.overwrite_partitions(pixels, root, "pixel")
        storage.overwrite_partitions(segs, root, "segment")

    q = (stream.writeStream.foreachBatch(process)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            try:
                n = (storage.read(spark, root, "segment")
                     .select("cx").distinct().count())
                if n >= 2:
                    break
            except Exception:
                pass  # store not created yet
            time.sleep(2)
    finally:
        q.stop()
    seg = storage.read(spark, root, "segment")
    # one segment row per pixel per chip (default segments included,
    # so the count holds even when a pixel has < 12 clear obs)
    assert seg.count() == 2 * side * side
    assert storage.read(spark, root, "pixel").count() == 2 * side * side
    assert storage.read(spark, root, "chip").count() == 2
    assert sorted(r["cx"] for r in
                  seg.select("cx").distinct().collect()) == [-2061585,
                                                             -2058585]


def test_persisted_distinct_rollup_matches_batch_sketch(spark, events_dir,
                                                        tmp_path):
    """Register partials persisted per micro-batch and re-merged at
    read must be BIT-EQUAL to the one-shot batch HLL over the same
    files — the sketch-mergeability contract (MAX over registers is
    associative/idempotent), which is what makes approximate distinct
    safe to compute incrementally at ingest."""
    from lcmap_blackmagic_spark.operators.sketches import hll_distinct
    from lcmap_blackmagic_spark.streaming.jobs import (
        persisted_distinct_rollup, read_distinct_rollup)

    root, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = persisted_distinct_rollup(spark, events_dir, root, ckpt)
    q.awaitTermination(180)

    got = {tuple(r) for r in read_distinct_rollup(spark, root).collect()}
    batch = hll_distinct(
        spark.read.parquet(events_dir)
        .select(F.date_trunc("hour", "ts").alias("bucket"), "user_id"),
        ["bucket"], "user_id")
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # and the estimates are sane vs exact distinct counts
    exact = {r["bucket"]: r["n"] for r in
             spark.read.parquet(events_dir)
             .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
             .agg(F.count_distinct("user_id").alias("n")).collect()}
    import math
    for bucket, est, zeros in got:
        e = est
        if e <= 2.5 * 256 and zeros > 0:
            e = 256 * math.log(256 / zeros)
        assert abs(e - exact[bucket]) / exact[bucket] < 0.25


def test_persisted_quantile_rollup_matches_batch_sketch(spark, events_dir,
                                                        tmp_path):
    """Histogram-bin partials persisted per micro-batch and SUM-merged
    at read must be bit-equal to the one-shot batch sketch over the
    same files — the quantile member of the mergeable-sketch family
    (HLL registers merge by MAX, histogram bins by SUM)."""
    from lcmap_blackmagic_spark.operators.sketches import \
        histogram_quantiles
    from lcmap_blackmagic_spark.streaming.jobs import (
        QB_BINS, QB_HI, persisted_quantile_rollup, read_quantile_rollup)

    root, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = persisted_quantile_rollup(spark, events_dir, root, ckpt)
    q.awaitTermination(180)

    got = {tuple(r) for r in read_quantile_rollup(spark, root).collect()}
    batch = histogram_quantiles(
        spark.read.parquet(events_dir)
        .select(F.date_trunc("hour", "ts").alias("bucket"), "value"),
        ["bucket"], "value", (0.5, 0.9), n_bins=QB_BINS,
        lo=0.0, hi=QB_HI, scale=100)
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # and the estimate sits within one bin width of the exact
    # ceil-rank ORDER STATISTIC (the sketch's target; interpolating
    # percentile() can fall between distant values in sparse buckets)
    exact = {r["bucket"]: r["m"] for r in
             spark.read.parquet(events_dir)
             .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
             .agg(F.expr("element_at(sort_array(collect_list(value)), "
                         "cast(ceil(count(value) * 0.5) as int))")
                  .alias("m")).collect()}
    width = QB_HI / QB_BINS
    for bucket, n, q50, q90 in got:
        assert abs(q50 - exact[bucket]) <= width + 1e-6


def test_persisted_cms_rollup_matches_batch_sketch(spark, events_dir,
                                                   tmp_path):
    """Count-Min grid partials persisted per micro-batch and
    SUM-merged at read must estimate BIT-EQUAL to the one-shot batch
    sketch over the same files — the frequency member of the
    mergeable-sketch family (HLL: MAX, histogram: SUM, CMS: SUM) —
    and never under-estimate the exact per-(hour, user) counts."""
    from lcmap_blackmagic_spark.operators.sketches import (
        cms_counters, cms_estimate)
    from lcmap_blackmagic_spark.streaming.jobs import (
        persisted_cms_rollup, read_cms_rollup)

    root, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    q = persisted_cms_rollup(spark, events_dir, root, ckpt)
    q.awaitTermination(180)

    ev = spark.read.parquet(events_dir)
    keys = ev.select("user_id").distinct()
    got = {tuple(r) for r in
           read_cms_rollup(spark, root, keys).collect()}
    batch = cms_estimate(
        cms_counters(ev.select(F.date_trunc("hour", "ts")
                               .alias("bucket"), "user_id"),
                     "user_id", group_cols=["bucket"]),
        keys, "user_id", group_cols=["bucket"])
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0
    exact = {(r["bucket"], r["user_id"]): r["n"] for r in
             ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                        "user_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    for bucket, user, est in got:
        assert est >= exact.get((bucket, user), 0)


def test_ewma_stream_matches_offline_replay(spark, events_dir,
                                            state_provider):
    """The stateful streaming EWMA must produce bit-identical values
    to an offline replay of the same recursion over (ts, event_id)
    ordered events — dyadic alpha makes the comparison exact, not
    approximate."""
    from lcmap_blackmagic_spark.streaming.jobs import ewma_stream
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (ewma_stream(stream).writeStream.format("memory")
         .queryName("ewma_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["event_id"]): r["ewma"]
           for r in spark.table("ewma_" + state_provider).collect()}

    e = (spark.read.parquet(events_dir)
         .select("user_id", "event_id", "ts", "value")
         .orderBy("user_id", "ts", "event_id").collect())
    want = {}
    state = {}
    for r in e:
        x = r["value"] if r["value"] == r["value"] else 0.0
        s = state.get(r["user_id"])
        s = x if s is None else (x + s) / 2
        state[r["user_id"]] = s
        want[(r["user_id"], r["event_id"])] = s
    assert got == want  # exact float equality, every event emitted


def test_zscore_stream_matches_batch(spark, events_dir, sf_dir,
                                     state_provider):
    """The stateful streaming anomaly detector must flag EXACTLY the
    rows the batch rolling_zscore query flags — integer moments make
    the comparison exact, and the time-ordered file batches satisfy
    the in-order contract (equal timestamps never straddle a file)."""
    from lcmap_blackmagic_spark.registry import QUERIES
    from lcmap_blackmagic_spark.streaming.jobs import zscore_stream
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (zscore_stream(stream).writeStream.format("memory")
         .queryName("zscore_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["event_type"], r["event_id"], r["cents"], r["n"])
           for r in spark.table("zscore_" + state_provider).collect()}
    want = {(r["event_type"], r["event_id"], r["cents"], r["n"])
            for r in QUERIES["rolling_zscore"]["fn"](
                spark, sf_dir).collect()}
    assert got == want and got


def test_ingest_dedup_stream_matches_batch(spark, sf_dir):
    """Streaming ingest dedup (foreachBatch against the static
    signature store) must flag exactly the incoming docs the batch
    cross-corpus query flags, with identical partner counts."""
    from pyspark.sql import functions as FF

    from lcmap_blackmagic_spark.llm.dedup import _minhash_doc_aggregate
    from lcmap_blackmagic_spark.registry import QUERIES
    from lcmap_blackmagic_spark.streaming.jobs import (documents_stream,
                                                       ingest_dedup_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = tempfile.mkdtemp(prefix="ingest_dedup_")
    docs_dir = os.path.join(base, "incoming")
    sig_dir = os.path.join(base, "signatures")
    out_dir = os.path.join(base, "flags")
    ckpt = os.path.join(base, "ckpt")

    # signature store = the EXISTING corpus, hashed once
    existing = docs.filter(FF.col("source") != "src1")
    _minhash_doc_aggregate(existing, "doc_id", "text", 3, 8) \
        .write.mode("overwrite").parquet(sig_dir)
    # incoming batch streamed as several files
    incoming = docs.filter(FF.col("source") == "src1")
    for i in range(3):
        incoming.filter(FF.col("doc_id") % 3 == i) \
            .coalesce(1).write.mode("append").parquet(docs_dir)

    # update_store=False pins the STATIC-store twin semantics: flags
    # must exactly equal the batch cross-corpus query (incoming docs
    # are never compared against each other)
    q = (ingest_dedup_stream(documents_stream(spark, docs_dir), sig_dir,
                             out_dir, threshold=0.2, update_store=False)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["incoming_id"], r["n_partners"], r["canonical_partner"])
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r["incoming_id"], r["n_partners"], r["canonical_partner"])
            for r in QUERIES["llm_incremental_dedup"]["fn"](
                spark, sf_dir).collect()}
    assert got == want and got


def test_ingest_dedup_batch_replay_is_idempotent(spark, sf_dir):
    """Crash-replay contract: re-running the SAME (batch_df,
    batch_id) — the exact scenario after a failure between the
    signature write and the flag commit — must leave both the
    signature store and the flags byte-identical, and must not
    compare the batch against its own first delivery."""
    from pyspark.sql import functions as FF

    from lcmap_blackmagic_spark.llm.dedup import _minhash_doc_aggregate
    from lcmap_blackmagic_spark.streaming.jobs import ingest_dedup_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = tempfile.mkdtemp(prefix="ingest_replay_")
    sig_dir = os.path.join(base, "signatures")
    out_dir = os.path.join(base, "flags")
    existing = docs.filter(FF.col("source") != "src1")
    _minhash_doc_aggregate(existing, "doc_id", "text", 3, 8) \
        .write.mode("overwrite").parquet(sig_dir)
    batch = docs.filter(FF.col("source") == "src1")

    def snapshot():
        flags = {tuple(r) for r in spark.read.parquet(out_dir)
                 .select("incoming_id", "n_partners",
                         "canonical_partner", "batch_id").collect()}
        sigs = spark.read.parquet(sig_dir + "_updates") \
            .groupBy("batch_id").count().collect()
        return flags, {(r["batch_id"], r["count"]) for r in sigs}

    ingest_dedup_batch(batch, 7, sig_dir, out_dir, threshold=0.2)
    first = snapshot()
    ingest_dedup_batch(batch, 7, sig_dir, out_dir, threshold=0.2)
    assert snapshot() == first and first[0]


def test_ingest_dedup_store_grows_across_batches(spark, sf_dir):
    """With update_store=True the signature store must GROW inside the
    stream: a duplicate whose partner arrived in an EARLIER micro-batch
    is flagged even though neither doc is in the base store.  Every
    batch's flags must equal the batch cross-corpus query run against
    base ∪ strictly-earlier batches (reconstructed from the persisted
    batch_id partitions, so the check is file-order independent)."""
    from pyspark.sql import functions as FF

    from lcmap_blackmagic_spark.llm.dedup import (_minhash_doc_aggregate,
                                                  minhash_cross_flags)
    from lcmap_blackmagic_spark.streaming.jobs import (documents_stream,
                                                       ingest_dedup_stream)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_dir = tempfile.mkdtemp(prefix="ingest_grow_")
    docs_dir = os.path.join(base_dir, "incoming")
    sig_dir = os.path.join(base_dir, "signatures")
    out_dir = os.path.join(base_dir, "flags")
    ckpt = os.path.join(base_dir, "ckpt")

    existing = docs.filter(FF.col("source") != "src1")
    _minhash_doc_aggregate(existing, "doc_id", "text", 3, 8) \
        .write.mode("overwrite").parquet(sig_dir)

    # incoming split into 3 files; a synthetic near-dup PAIR whose
    # text appears nowhere in the base store spans two of them
    incoming = docs.filter(FF.col("source") == "src1")
    novel = "the quick zebra vaults over a sleeping aardvark " * 8
    twin = spark.createDataFrame(
        [(900001, novel, "en", "src1", len(novel)),
         (900002, novel + "tail", "en", "src1", len(novel) + 4)],
        "doc_id long, text string, lang string, source string, n_chars long")
    for i in range(2):
        (incoming.filter(FF.col("doc_id") % 2 == i)
         .unionByName(twin.filter(FF.col("doc_id") == 900001 + i))
         .coalesce(1).write.mode("append").parquet(docs_dir))

    q = (ingest_dedup_stream(documents_stream(spark, docs_dir), sig_dir,
                             out_dir, threshold=0.2)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["incoming_id"], r["n_partners"], r["canonical_partner"])
           for r in spark.read.parquet(out_dir).collect()}

    # replay the same per-batch computation in BATCH mode from the
    # persisted signature partitions: store_b = base ∪ batches < b
    base = spark.read.parquet(sig_dir)
    updates = spark.read.parquet(sig_dir + "_updates")
    want = set()
    for b in sorted(r["batch_id"] for r in
                    updates.select("batch_id").distinct().collect()):
        inc = updates.filter(FF.col("batch_id") == b).drop("batch_id")
        store = base.unionByName(
            updates.filter(FF.col("batch_id") < b).drop("batch_id"))
        want |= {(r["inc_id"], r["n_partners"], r["canonical_partner"])
                 for r in minhash_cross_flags(inc, store,
                                              threshold=0.2).collect()}
    assert got == want and got
    # the loop is closed: one twin doc was flagged against the OTHER
    # twin — a partner that lives only in an earlier batch's update
    # partition, never in the base store
    cross = {(i, p) for i, _, p in got if p >= 900001}
    assert cross, "no cross-batch duplicate was flagged"


# ---- property test: random ingest schedules vs a pure model --------

def test_ingest_dedup_random_schedules_match_model(spark, sf_dir):
    """The ingest-dedup PROTOCOL (batch partitioning, strictly-
    earlier store visibility, replay idempotency) must be schedule-
    invariant: random corpora randomly partitioned into 1..4
    micro-batches — with empty batches, gapped batch ids, and
    out-of-order ZOMBIE replays after later batches have committed —
    always produce the flag set of the canonical sequential run.

    The expectation is a PURE-PYTHON model over pre-collected
    per-doc signatures (band minhashes + shingle sets), mirroring
    minhash_cross_flags exactly: band-collision candidacy, set
    jaccard, and Spark's HALF_UP round-to-6 on the IEEE quotient —
    so the Spark side under test is the protocol, not a re-run of
    itself (the snapshot random-op model test is the template).
    25 seeded schedules."""
    import random
    import shutil
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as FF

    from lcmap_blackmagic_spark.llm.dedup import (N_BANDS,
                                                  _minhash_doc_aggregate)
    from lcmap_blackmagic_spark.streaming.jobs import ingest_dedup_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_docs = docs.filter(FF.col("source") == "src0")
    pool_rows = [tuple(r) for r in
                 docs.filter(FF.col("source") == "src1")
                 .select("doc_id", "text", "lang", "source", "n_chars")
                 .collect()]
    # synthetic families: an identical-text pair inside the pool
    # (cross-batch flag when split), a copy of a BASE doc's text
    # (always flagged), and an unrelated novel doc (never flagged)
    base_text = base_docs.orderBy("doc_id").limit(1) \
        .collect()[0]["text"]
    novel = "the quick zebra vaults over a sleeping aardvark " * 8
    pool_rows += [
        (900001, novel, "en", "src1", len(novel)),
        (900002, novel + " tail", "en", "src1", len(novel) + 5),
        (900003, base_text, "en", "src1", len(base_text)),
        (900004, "completely unrelated singleton text about nothing "
         * 6, "en", "src1", 300),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    pool_df = spark.createDataFrame(pool_rows, schema)

    root = tempfile.mkdtemp(prefix="ingest_prop_")
    base_sig_dir = os.path.join(root, "base_sigs")
    _minhash_doc_aggregate(base_docs, "doc_id", "text", 3, N_BANDS) \
        .write.mode("overwrite").parquet(base_sig_dir)

    # signatures for the PURE model, collected once: id -> (bands, si)
    sig_rows = _minhash_doc_aggregate(
        base_docs.select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(pool_df), "doc_id", "text", 3, N_BANDS).collect()
    sigs = {r["doc_id"]: (tuple(r[f"m{b}"] for b in range(N_BANDS)),
                          frozenset(r["si"])) for r in sig_rows}
    base_ids = [t[0] for t in base_docs.select("doc_id").collect()]
    pool_ids = [t[0] for t in pool_rows]

    def half_up6(x: float) -> Decimal:
        return Decimal(x).quantize(Decimal("0.000001"),
                                   rounding=ROUND_HALF_UP)

    THRESH = Decimal("0.2")

    def model(batch_map: dict) -> set:
        out = set()
        for b, ids in batch_map.items():
            store = list(base_ids) + [d for c, ds in batch_map.items()
                                      if c < b for d in ds]
            for i in ids:
                bi, si = sigs[i]
                partners = []
                for p in store:
                    bp, sp = sigs[p]
                    if not any(x == y for x, y in zip(bi, bp)):
                        continue
                    inter = len(si & sp)
                    union = len(si) + len(sp) - inter
                    if union and half_up6(inter / union) >= THRESH:
                        partners.append(p)
                if partners:
                    out.add((i, len(partners), min(partners), b))
        return out

    interesting = 0
    for seed in range(25):
        rng = random.Random(seed)
        n_batches = rng.randint(1, 4)
        batch_ids = sorted(rng.sample(range(10), n_batches))
        batch_map = {b: [] for b in batch_ids}
        for d in pool_ids:
            pick = rng.choice(batch_ids + [None])
            if pick is not None:
                batch_map[pick].append(d)

        case = os.path.join(root, f"case{seed}")
        sig_dir = os.path.join(case, "sigs")
        out_dir = os.path.join(case, "flags")
        shutil.copytree(base_sig_dir, sig_dir)

        def run(b):
            ids = batch_map[b]
            bdf = pool_df.filter(FF.col("doc_id").isin(ids)) if ids \
                else pool_df.limit(0)
            ingest_dedup_batch(bdf, b, sig_dir, out_dir, threshold=0.2)

        for b in batch_ids:
            run(b)
        # zombie replays, possibly of EARLY batches after later ones
        for b in rng.sample(batch_ids, rng.randint(0, n_batches)):
            run(b)

        want = model(batch_map)
        try:
            # a schedule where no batch ever flags anything leaves
            # out_dir absent or schema-less (only _SUCCESS)
            got = {(r["incoming_id"], r["n_partners"],
                    r["canonical_partner"], r["batch_id"])
                   for r in spark.read.parquet(out_dir).collect()}
        except Exception:
            got = set()
        assert got == want, f"seed {seed}: {got ^ want}"
        interesting += bool(want)
    # the generator must actually exercise flagging, not just agree
    # on empty sets
    assert interesting >= 15


def test_twavg_stream_matches_batch(spark, events_dir, sf_dir,
                                    state_provider):
    """The streaming LOCF time-weighted average must land, per user,
    on EXACTLY the batch twavg row — integer cents x microseconds in
    arbitrary-precision ints vs the batch DECIMAL(38,0), truncating
    division on both sides."""
    from lcmap_blackmagic_spark.registry import QUERIES
    from lcmap_blackmagic_spark.streaming.jobs import twavg_stream
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (twavg_stream(stream).writeStream.format("memory")
         .queryName("twavg_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    emitted = spark.table("twavg_" + state_provider).collect()
    # the LAST emission per user is the full-history aggregate
    last = {}
    for r in emitted:
        k = r["user_id"]
        if k not in last or r["n_intervals"] > last[k]["n_intervals"]:
            last[k] = r
    got = {k: (r["n_intervals"], r["total_us"], r["twa_microcents"])
           for k, r in last.items()}
    want = {r["user_id"]: (r["n_intervals"], r["total_us"],
                           r["twa_microcents"])
            for r in QUERIES["twavg"]["fn"](spark, sf_dir).collect()}
    assert got == want and got


def test_state_agg_stream_matches_batch(spark, events_dir, sf_dir,
                                        state_provider):
    """The streaming LOCF time-in-state must reconstruct, from its
    last emission per (user, state), EXACTLY the batch state_agg
    rows — dwell microseconds, period counts, and integer
    basis-point shares of each user's total tracked time."""
    from lcmap_blackmagic_spark.registry import QUERIES
    from lcmap_blackmagic_spark.streaming.jobs import state_agg_stream
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (state_agg_stream(stream).writeStream.format("memory")
         .queryName("stagg_" + state_provider)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    emitted = spark.table("stagg_" + state_provider).collect()
    last = {}          # (user, state) -> latest emission
    user_total = {}    # user -> final total tracked time
    for r in emitted:
        k = (r["user_id"], r["event_type"])
        if k not in last or r["n_periods"] > last[k]["n_periods"]:
            last[k] = r
        u = r["user_id"]
        user_total[u] = max(user_total.get(u, 0), r["user_us"])
    got = {k: (r["n_periods"], r["state_us"],
               r["state_us"] * 10000 // user_total[k[0]])
           for k, r in last.items()}
    want = {(r["user_id"], r["event_type"]):
            (r["n_periods"], r["state_us"], r["share_bp"])
            for r in QUERIES["state_agg"]["fn"](spark, sf_dir).collect()}
    assert got == want and got
