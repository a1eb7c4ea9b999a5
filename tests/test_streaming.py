"""Structured Streaming: incremental sketch maintenance end-to-end.

Feeds a file-source stream (deterministic micro-batches) through a
SketchStore sink and checks the final estimates equal a batch build
over the same data -- the merge-anywhere contract under streaming.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

import datasketches_spark as dss
from datasketches_spark.sketches import ThetaSketch
from datasketches_spark.streaming import SketchStore, incremental_sketch_sink


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="dsk_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_incremental_theta_store(spark, tmpdir):
    dss.register(spark)
    src = f"{tmpdir}/src"
    # two deterministic "arrival" files: overlapping user populations
    spark.range(0, 500).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("user_id")
    ).write.mode("overwrite").parquet(src)
    spark.range(250, 750).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("user_id")
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema("g BIGINT, user_id BIGINT").parquet(src)
    store = SketchStore(f"{tmpdir}/state", "theta", group_cols=["g"], k=14)
    q = incremental_sketch_sink(
        stream, "user_id", store, checkpoint_dir=f"{tmpdir}/ckpt"
    )
    q.awaitTermination(120)

    out = store.read(spark).collect()
    assert len(out) == 7
    total = 0
    for r in out:
        est = ThetaSketch.deserialize(bytes(r.sketch)).get_estimate()
        total += est
    # exact mode: distinct user_ids overall = 750, split across 7 groups
    assert total == 750.0


def test_store_absorb_twice_idempotent_groups(spark, tmpdir):
    dss.register(spark)
    store = SketchStore(f"{tmpdir}/state2", "hll", group_cols=[], k=12)
    df1 = spark.range(0, 1000).selectExpr("id AS v")
    df2 = spark.range(500, 1500).selectExpr("id AS v")
    store.absorb(df1, "v")
    store.absorb(df2, "v")
    row = (
        store.read(spark)
        .selectExpr("datasketch_hll_estimate(sketch) AS est")
        .first()
    )
    assert row.est == 1500.0  # sparse-exact mode


def test_stateful_sketch_stream_engine_state(spark, tmpdir):
    """applyInPandasWithState path: sketch blobs live in Spark's state
    store and accumulate across micro-batches (maxFilesPerTrigger=1
    forces two batches)."""
    from datasketches_spark.streaming import stateful_sketch_stream

    dss.register(spark)
    src = f"{tmpdir}/src_state"
    spark.range(0, 400).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("user_id")
    ).write.mode("overwrite").parquet(src)
    spark.range(200, 600).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("user_id")
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("g BIGINT, user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_sketch_stream(stream, "user_id", "theta", ["g"], k=14)
    q = (
        out.writeStream.format("memory")
        .queryName("state_sketches")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM state_sketches").collect()
    assert len(rows) >= 4  # at least one emission per key
    # the LAST emission per key holds the cumulative sketch; distinct
    # estimates are monotone here, so take the max per key
    best = {}
    for r in rows:
        est = ThetaSketch.deserialize(bytes(r.sketch)).get_estimate()
        best[r.g] = max(best.get(r.g, 0.0), est)
    assert sum(best.values()) == 600.0  # exact mode: 600 distinct users


def test_stateful_stream_works_for_any_family(spark, tmpdir):
    """The stateful operator is family-generic: run it with the
    reservoir family and check cumulative exact-mode sampling."""
    from datasketches_spark.sketches import ReservoirSampleSketch
    from datasketches_spark.streaming import stateful_sketch_stream

    dss.register(spark)
    src = f"{tmpdir}/src_res"
    spark.range(0, 60).selectExpr(
        "id % 2 AS g", "CAST(id AS string) AS v"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("g BIGINT, v STRING").parquet(src)
    out = stateful_sketch_stream(stream, "v", "reservoir", ["g"], k=500)
    q = (
        out.writeStream.format("memory")
        .queryName("res_state")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_res")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM res_state").collect()
    items = set()
    for r in rows:
        items |= set(ReservoirSampleSketch.deserialize(bytes(r.sketch)).get_items())
    assert items == {str(i) for i in range(60)}


def test_partitioned_sketch_table_prunes(spark, tmpdir):
    from datasketches_spark import io as dio
    from datasketches_spark.aggregation import sketch_agg

    df = spark.range(1000).selectExpr("id % 5 AS g", "id AS v")
    sk = sketch_agg(df, "v", "theta", group_cols=["g"], k=14)
    path = f"{tmpdir}/part_tbl"
    dio.write_sketch_table(sk, path, "sketch", "theta", k=14, partition_by=["g"])
    back = dio.read_sketch_table(spark, path)
    one = back.filter("g = 3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert one.count() == 1
    # partition pruning: the scan carries a partition filter on g
    assert "PartitionFilters" in plan and "g" in plan


def test_windowed_partials_late_data_folds_in(spark, tmpdir):
    """Event-time windows + late arrival: the late event lands in ITS
    window's sketch on the next trigger because sketch merge is
    order-independent (SURVEY §2.1 streaming row)."""
    from datasketches_spark.streaming import (
        SketchStore,
        incremental_sketch_sink,
        windowed_sketch_partials,
    )
    from datasketches_spark.sketches import ThetaSketch

    dss.register(spark)
    src = f"{tmpdir}/src_win"
    # file 1: on-time events in hours 10:00 and 11:00
    spark.createDataFrame(
        [("2026-01-01 10:05:00", 1), ("2026-01-01 10:20:00", 2),
         ("2026-01-01 11:10:00", 3)],
        "ts_s STRING, user_id LONG",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "user_id").write.mode(
        "overwrite"
    ).parquet(src)
    # file 2: a LATE event for the 10:00 window + a new 12:00 window
    spark.createDataFrame(
        [("2026-01-01 10:40:00", 4), ("2026-01-01 12:01:00", 5)],
        "ts_s STRING, user_id LONG",
    ).selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "user_id").write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema("ts TIMESTAMP, user_id LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    windowed = windowed_sketch_partials(
        stream, "ts", "user_id", "theta", "1 hour", watermark="2 hours"
    )
    store = SketchStore(
        f"{tmpdir}/win_state", "theta", group_cols=["window_start"], k=14
    )
    q = incremental_sketch_sink(
        windowed, "user_id", store, checkpoint_dir=f"{tmpdir}/ckpt_win"
    )
    q.awaitTermination(120)

    got = {
        str(r.window_start): ThetaSketch.deserialize(bytes(r.sketch)).get_estimate()
        for r in store.read(spark).collect()
    }
    assert len(got) == 3
    by_hour = {k[11:13]: v for k, v in got.items()}
    assert by_hour["10"] == 3.0  # users 1,2 on time + late user 4 folded in
    assert by_hour["11"] == 1.0 and by_hour["12"] == 1.0


def test_stateful_fn_idle_eviction_branch():
    """Unit-test the TTL eviction path with a fake GroupState: a timed-
    out key emits its final cumulative sketch with rows_in_batch=-1 and
    the state is removed."""
    import numpy as np

    from datasketches_spark.sketches import ThetaSketch
    from datasketches_spark.streaming import _make_stateful_fn

    sk = ThetaSketch(14)
    sk.update_values(np.arange(25, dtype=np.int64))

    class FakeState:
        def __init__(self, blob):
            self.exists = True
            self.get = (blob,)
            self.hasTimedOut = True
            self.removed = False

        def remove(self):
            self.removed = True

    fn = _make_stateful_fn("theta", "user_id", ["g"], 14, idle_timeout_ms=1000)
    state = FakeState(sk.serialize())
    out = list(fn((7,), iter([]), state))
    assert state.removed and len(out) == 1
    row = out[0].iloc[0]
    assert row["g"] == 7 and row["rows_in_batch"] == -1
    assert ThetaSketch.deserialize(bytes(row["sketch"])).get_estimate() == 25.0


def test_stateful_fn_update_sets_timeout():
    import pandas as pd

    from datasketches_spark.sketches import ThetaSketch
    from datasketches_spark.streaming import _make_stateful_fn

    class FakeState:
        exists = False
        hasTimedOut = False

        def __init__(self):
            self.updated = None
            self.timeout = None

        def update(self, t):
            self.updated = t

        def setTimeoutDuration(self, ms):
            self.timeout = ms

    fn = _make_stateful_fn("theta", "user_id", ["g"], 14, idle_timeout_ms=5000)
    state = FakeState()
    out = list(fn((1,), iter([pd.DataFrame({"user_id": [1, 2, 3]})]), state))
    assert state.timeout == 5000 and state.updated is not None
    assert out[0].iloc[0]["rows_in_batch"] == 3
    assert ThetaSketch.deserialize(bytes(state.updated[0])).get_estimate() == 3.0


def test_partitioned_store_rewrites_only_touched_buckets(spark, tmpdir):
    """PartitionedSketchStore: absorbing a batch must (a) produce the
    same estimates as a one-shot build over all data, and (b) leave
    untouched bucket partitions' files physically alone."""
    import glob
    import os

    from datasketches_spark.aggregation import sketch_agg
    from datasketches_spark.streaming import PartitionedSketchStore

    dss.register(spark)
    path = f"{tmpdir}/rollup"
    store = PartitionedSketchStore(path, "theta", bucket_col="hr", k=14)

    b1 = spark.range(0, 300).selectExpr("id % 3 AS hr", "id AS user_id")
    store.absorb(b1, "user_id")
    untouched_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/hr=2/*.parquet")
    }
    assert untouched_before

    # second batch hits hr 0 and 1 only, with overlapping users
    b2 = spark.range(150, 450).selectExpr("id % 2 AS hr", "id AS user_id")
    store.absorb(b2, "user_id")

    untouched_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{path}/hr=2/*.parquet")
    }
    assert untouched_after == untouched_before  # hr=2 dir never rewritten

    got = {
        r.hr: r.est
        for r in store.read(spark)
        .selectExpr("hr", "CAST(round(datasketch_theta_estimate(sketch)) AS BIGINT) AS est")
        .collect()
    }
    all_rows = b1.unionByName(b2.withColumn("hr", F.col("hr")))
    # oracle: exact distinct per bucket over the union of both batches,
    # where b1 buckets by %3 and b2 by %2 (same rows, different hr)
    want = {
        r.hr: r.n
        for r in all_rows.groupBy("hr")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_foreach_batch_replay_guard(spark, tmpdir):
    """A replayed epoch_id (at-least-once delivery) must be a no-op:
    without the guard a KLL store would double-count its weight."""
    dss.register(spark)
    store = SketchStore(f"{tmpdir}/kstate", "kll", k=200)
    fb = store.foreach_batch("x")
    batch = spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS x")
    fb(batch, 0)
    fb(batch, 0)  # replay of epoch 0
    fb(batch, 1)  # genuinely new epoch
    n = (
        store.read(spark)
        .selectExpr("datasketch_kll_n(sketch) AS n")
        .first()
        .n
    )
    assert n == 2000  # 2 distinct epochs, not 3 deliveries


def test_streaming_dedup_watermarked(spark, tmpdir):
    from datasketches_spark.streaming import streaming_dedup

    src = f"{tmpdir}/dd_src"
    base = spark.createDataFrame(
        [(i % 40, "2026-01-01 00:00:%02d" % (i % 50)) for i in range(200)],
        ["event_id", "ts_s"],
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    base.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("event_id BIGINT, ts TIMESTAMP").parquet(src)
    out = streaming_dedup(stream, ["event_id"], ts_col="ts", delay="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dd_sink")
        .option("checkpointLocation", f"{tmpdir}/dd_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT event_id FROM dd_sink").collect()
    ids = [r["event_id"] for r in rows]
    assert sorted(ids) == sorted(set(ids)) == list(range(40))


def test_streaming_dedup_arg_validation(spark):
    from datasketches_spark.streaming import streaming_dedup

    df = spark.range(5)
    with pytest.raises(ValueError, match="together"):
        streaming_dedup(df, ["id"], ts_col="ts")


def test_bloom_dedup_store_batches(spark, tmpdir):
    dss.register(spark)
    from datasketches_spark.streaming import BloomDedupStore

    store = BloomDedupStore(f"{tmpdir}/bloomdd", lg_m=20)
    emitted: list[list[int]] = []

    def emit(df, _epoch):
        emitted.append(sorted(r["doc_id"] for r in df.collect()))

    fn = store.foreach_batch("doc_id", emit)
    b1 = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    b2 = (
        spark.range(50, 150)
        .withColumnRenamed("id", "doc_id")
        .unionByName(spark.range(60, 70).withColumnRenamed("id", "doc_id"))
    )
    fn(b1, 0)
    fn(b2, 1)
    assert emitted[0] == list(range(0, 100))
    # batch 2: ids 50..99 already seen, in-batch dup 60..69 collapsed;
    # Bloom has no false negatives so nothing previously emitted repeats
    assert emitted[1] == list(range(100, 150))
    # replayed epoch is a no-op
    fn(b2, 1)
    assert len(emitted) == 2
    # ids survive a new store handle (state is on disk)
    store2 = BloomDedupStore(f"{tmpdir}/bloomdd", lg_m=20)
    fn2 = store2.foreach_batch("doc_id", emit)
    fn2(spark.range(140, 160).withColumnRenamed("id", "doc_id"), 2)
    assert emitted[2] == list(range(150, 160))


def test_streaming_drift_monitor(spark, tmpdir):
    """Drift of a stream against a frozen reference sketch: the first
    file matches the reference (ks 0), the second is disjointly
    shifted, so the cumulative ks rises to exactly 0.5 (exact mode)."""
    from datasketches_spark.aggregation import sketch_agg
    from datasketches_spark.streaming import streaming_drift_monitor

    dss.register(spark)
    ref_df = spark.range(0, 1000).selectExpr("CAST(id AS double) AS x")
    ref_blob = bytes(
        sketch_agg(ref_df, "x", "kll", k=4096).first()["sketch"]
    )

    src = f"{tmpdir}/src_drift"
    ref_df.coalesce(1).write.mode("overwrite").parquet(src)
    spark.range(10000, 11000).selectExpr(
        "CAST(id AS double) AS x"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("x DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_drift_monitor(stream, "x", ref_blob, family="kll", k=4096)
    q = (
        out.writeStream.format("memory")
        .queryName("drift_stream")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_drift")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM drift_stream").collect()
    assert rows, "no drift emissions"
    from datasketches_spark.sketches import KllSketch

    by_n = {KllSketch.deserialize(bytes(r.sketch)).n: r.ks for r in rows}
    # the cumulative state over both files: half the mass disjointly
    # shifted -> ks exactly 0.5 in exact mode
    assert by_n[2000] == pytest.approx(0.5)
    # a single-file emission is either the matching file (ks 0) or the
    # fully shifted one (ks 1), batch order depending on file discovery
    for n, ks in by_n.items():
        if n == 1000:
            assert ks in (pytest.approx(0.0), pytest.approx(1.0))


def test_streaming_drift_monitor_validates_family(spark):
    from datasketches_spark.streaming import streaming_drift_monitor

    df = spark.range(1).selectExpr("CAST(id AS double) AS x")
    with pytest.raises(ValueError, match="family"):
        streaming_drift_monitor(df, "x", b"", family="theta")


def test_stateful_stream_stats_family(spark, tmpdir):
    """Running EXACT per-key stats over a stream: the stats family's
    blobs accumulate in the state store like any sketch, giving
    streaming count/non-null/min/max without retaining rows."""
    from datasketches_spark.sketches import StatsSketch
    from datasketches_spark.streaming import stateful_sketch_stream

    dss.register(spark)
    src = f"{tmpdir}/src_stats"
    spark.range(0, 100).selectExpr(
        "id % 2 AS g", "CAST(id AS double) AS v"
    ).write.mode("overwrite").parquet(src)
    spark.range(100, 300).selectExpr(
        "id % 2 AS g", "CAST(id AS double) AS v"
    ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("g BIGINT, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_sketch_stream(stream, "v", "stats", ["g"])
    q = (
        out.writeStream.format("memory")
        .queryName("stats_state")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_stats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stats_state").collect()
    # last emission per key is cumulative; n is monotone, take max
    best = {}
    for r in rows:
        sk = StatsSketch.deserialize(bytes(r.sketch))
        prev = best.get(r.g)
        if prev is None or sk.get_n() > prev.get_n():
            best[r.g] = sk
    assert sum(sk.get_n() for sk in best.values()) == 300
    assert min(sk.get_min() for sk in best.values()) == 0.0
    assert max(sk.get_max() for sk in best.values()) == 299.0


def test_stateful_watermark_validation(spark, tmpdir):
    from datasketches_spark.streaming import stateful_sketch_stream

    src = f"{tmpdir}/vsrc"
    spark.createDataFrame(
        [("2024-01-01 00:00:00", 1, 1)], "ts_s STRING, g BIGINT, v BIGINT"
    ).selectExpr("CAST(ts_s AS TIMESTAMP) ts", "g", "v").write.parquet(src)
    stream = (
        spark.readStream.schema("ts TIMESTAMP, g BIGINT, v BIGINT")
        .parquet(src)
    )
    with pytest.raises(ValueError, match="together"):
        stateful_sketch_stream(stream, "v", "theta", ["g"], ts_col="ts")
    with pytest.raises(ValueError, match="together"):
        stateful_sketch_stream(stream, "v", "theta", ["g"], watermark="1 hour")
    with pytest.raises(ValueError, match="mutually exclusive"):
        stateful_sketch_stream(
            stream, "v", "theta", ["g"],
            ts_col="ts", watermark="1 hour", idle_timeout_ms=1000,
        )


def test_stateful_watermark_drops_late_rows(spark, tmpdir):
    """Event-time watermark contract: rows arriving below the
    late-events watermark must never reach the stateful fn.  The
    late-events watermark LAGS one batch (batch N filters with batch
    N-1's watermark), so the late file arrives two batches after the
    on-time maximum; it is also only armed under EventTimeTimeout
    (streaming.py sets that whenever ts_col/watermark are passed —
    verified against the installed 4.1.2 FlatMapGroupsWithStateExecBase
    bytecode)."""
    import glob
    import os
    import time

    from datasketches_spark.aggregation import sketch_merge
    from datasketches_spark.streaming import stateful_sketch_stream

    dss.register(spark)
    src = f"{tmpdir}/src"
    os.makedirs(src)

    def stage(df, name, age_s):
        tmp = f"{tmpdir}/tmp_{name}"
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/{name}.parquet"
        shutil.copy(part, dst)
        t = time.time() - age_s
        os.utime(dst, (t, t))
        shutil.rmtree(tmp)

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts_s STRING, user BIGINT, g STRING"
        ).selectExpr("CAST(ts_s AS TIMESTAMP) ts", "user", "g")

    # batch 0: users 0..49, day-2 morning -> watermark 10:00 after it
    stage(
        mk([
            (f"2024-01-02 {h % 12:02d}:00:00", i, f"g{i % 2}")
            for h, i in enumerate(range(50))
        ]),
        "a", 200,
    )
    # batch 1: one on-time row; lets batch 0's watermark arm batch 2
    stage(mk([("2024-01-02 10:30:00", 60, "g0")]), "b", 100)
    # batch 2: 20 LATE rows (a day below the watermark) + 10 on-time
    stage(
        mk(
            [("2024-01-01 00:00:00", 1000 + i, f"g{i % 2}") for i in range(20)]
            + [("2024-01-02 12:30:00", 50 + i, f"g{i % 2}") for i in range(10)]
        ),
        "c", 0,
    )

    stream = (
        spark.readStream.schema("ts TIMESTAMP, user BIGINT, g STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_sketch_stream(
        stream, "user", "theta", ["g"], k=14, ts_col="ts", watermark="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("wm_state")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_wm")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "watermark stream timed out"
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    assert dropped == 20
    got = {
        r.g: r.d
        for r in sketch_merge(
            spark.table("wm_state").select("g", "sketch"),
            "theta", group_cols=["g"], k=14,
        )
        .selectExpr(
            "g",
            "CAST(round(datasketch_theta_estimate(sketch)) AS BIGINT) d",
        )
        .collect()
    }
    # on-time only: g0 = 25 evens(0..49) + user 60 + 5 evens(50..59),
    # g1 = 25 + 5; the late users 1000..1019 must be absent
    assert got == {"g0": 31, "g1": 30}


def test_event_ttl_evicts_state_under_watermark(spark, tmpdir):
    """Watermark-driven per-key TTL (round 11): EventTimeTimeout arms
    BOTH the late-row filter and per-key timeout timestamps, so
    late-data protection and state eviction coexist in one operator.
    A key idle past event_ttl_ms of EVENT time must (a) emit its final
    cumulative sketch with rows_in_batch = -1, (b) have its state row
    REMOVED (asserted via stateOperators metrics AND via a fresh
    sketch when the key reappears)."""
    import glob
    import os
    import time

    from datasketches_spark.streaming import stateful_sketch_stream

    dss.register(spark)
    src = f"{tmpdir}/ttl_src"
    os.makedirs(src)

    def stage(rows, name, age_s):
        df = spark.createDataFrame(
            rows, "ts_s STRING, user BIGINT, g STRING"
        ).selectExpr("CAST(ts_s AS TIMESTAMP) ts", "user", "g")
        tmp = f"{tmpdir}/ttl_tmp_{name}"
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{src}/{name}.parquet"
        shutil.copy(part, dst)
        t = time.time() - age_s
        os.utime(dst, (t, t))
        shutil.rmtree(tmp)

    # batch 0: g0 and g1 active around 01:00; g1 = users 100..104.
    # g1's timeout arms at 01:00 + 2h = 03:00 event time.
    stage(
        [("2024-01-01 01:00:00", i, "g0") for i in range(10)]
        + [("2024-01-01 01:00:00", 100 + i, "g1") for i in range(5)],
        "a", 300,
    )
    # batch 1: g0 jumps to 12:00 -> watermark advances to 11:00 > 03:00
    stage([("2024-01-01 12:00:00", 10, "g0")], "b", 200)
    # batch 2: g0 at 20:00; processed with batch 1's watermark (11:00),
    # which is past g1's 03:00 timeout -> g1 EVICTS here
    stage([("2024-01-01 20:00:00", 11, "g0")], "c", 100)
    # batch 3: g1 REAPPEARS (users 200..202) -> must start a FRESH
    # sketch, proving the state row was actually removed
    stage([("2024-01-01 21:00:00", 200 + i, "g1") for i in range(3)], "d", 0)

    stream = (
        spark.readStream.schema("ts TIMESTAMP, user BIGINT, g STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful_sketch_stream(
        stream, "user", "theta", ["g"], k=14,
        ts_col="ts", watermark="1 hour", event_ttl_ms=2 * 3600 * 1000,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ttl_state")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt_ttl")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "ttl stream timed out"
    rows = spark.sql(
        "SELECT g, rows_in_batch,"
        " CAST(round(datasketch_theta_estimate(sketch)) AS BIGINT) AS d"
        " FROM ttl_state"
    ).collect()
    evictions = [r for r in rows if r.rows_in_batch == -1]
    assert len(evictions) == 1 and evictions[0].g == "g1"
    assert evictions[0].d == 5  # the final cumulative sketch (100..104)
    # the reappearing g1 built a FRESH sketch: 3 new users, not 5+3
    reborn = [r for r in rows if r.g == "g1" and r.rows_in_batch == 3]
    assert len(reborn) == 1 and reborn[0].d == 3
    # and Spark's state store itself reported the removal
    removed = sum(
        so.get("numRowsRemoved", 0)
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    assert removed >= 1


def test_event_ttl_validation(spark, tmpdir):
    import os

    from datasketches_spark.streaming import stateful_sketch_stream

    src = f"{tmpdir}/ttlv"
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        [("2024-01-01 00:00:00", 1, 1)], "ts_s STRING, g BIGINT, v BIGINT"
    ).selectExpr("CAST(ts_s AS TIMESTAMP) ts", "g", "v").write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema("ts TIMESTAMP, g BIGINT, v BIGINT")
        .parquet(src)
    )
    with pytest.raises(ValueError, match="event_ttl_ms requires"):
        stateful_sketch_stream(stream, "v", "theta", ["g"], event_ttl_ms=1000)


def test_stateful_checkpoint_restart_restores_state(spark, tmpdir):
    """Durability of the in-engine state path: stop a
    stateful_sketch_stream query, add more source files, restart from
    the SAME checkpoint — the restored per-key state must carry the
    pre-restart contribution (the resumed query's cumulative sketch
    covers BOTH runs' rows, hash-equal to a one-shot build)."""
    import glob
    import os

    from datasketches_spark.streaming import stateful_sketch_stream

    dss.register(spark)
    src = f"{tmpdir}/rs_src"
    os.makedirs(src)

    def stage(users, name):
        df = spark.createDataFrame(
            [(u, f"g{u % 2}") for u in users], "user BIGINT, g STRING"
        )
        tmp = f"{tmpdir}/rs_tmp_{name}"
        df.coalesce(1).write.parquet(tmp)
        shutil.copy(
            glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/{name}.parquet"
        )
        shutil.rmtree(tmp)

    sink_dir = f"{tmpdir}/rs_sink"

    def _emit(batch_df, epoch_id):
        # the memory sink refuses checkpoint recovery; an epoch-tagged
        # parquet append IS recoverable and lets the assertion pick the
        # LAST emission per key
        if not batch_df.isEmpty():
            batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).parquet(sink_dir)

    def run():
        stream = (
            spark.readStream.schema("user BIGINT, g STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = stateful_sketch_stream(stream, "user", "theta", ["g"], k=14)
        q = (
            out.writeStream.foreachBatch(_emit)
            .outputMode("update")
            .option("checkpointLocation", f"{tmpdir}/rs_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "restart gate timed out"

    stage(range(0, 40), "a")
    stage(range(40, 60), "b")
    run()
    # new data arrives while the query is DOWN; restart from checkpoint
    stage(range(60, 90), "c")
    run()

    # the LAST emission per key (max epoch — run 2 continues run 1's
    # batch numbering from the checkpoint) must cover ALL rows: the
    # restored state carried files a+b, the resumed run folded c in.
    # Union-of-all-emissions would pass even without state restore;
    # the last-emission check would not.
    emissions = spark.read.parquet(sink_dir)
    emissions.createOrReplaceTempView("rs_emissions")
    got = {
        r.g: r.d
        for r in spark.sql(
            """
            SELECT g, CAST(round(datasketch_theta_estimate(sketch)) AS
                   BIGINT) AS d
            FROM (SELECT g, sketch, ROW_NUMBER() OVER
                    (PARTITION BY g ORDER BY epoch DESC) AS rn
                  FROM rs_emissions)
            WHERE rn = 1
            """
        ).collect()
    }
    assert got == {"g0": 45, "g1": 45}


def test_simhash_dedup_store_batches(spark, tmpdir):
    """Streaming near-dedup == the one-shot batch rule when rows
    arrive in id order, regardless of batch boundaries: survivors of
    the 2-batch replay equal 'docs with no smaller-id doc within
    max_hamming' computed over the union in one shot."""
    from datasketches_spark.pipeline import dedup as D
    from datasketches_spark.streaming import SimhashDedupStore

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter("doc_id < 120")
    )
    # one-shot reference: drop every id_b of a near pair (id_a < id_b)
    sigs_all = D.simhash64(docs, "doc_id", "text")
    pairs = D.simhash_near_pairs(sigs_all, "doc_id", max_hamming=3)
    dropped = {r.id_b for r in pairs.collect()}
    expected = sorted(
        r.doc_id for r in docs.collect() if r.doc_id not in dropped
    )
    assert dropped, "fixture must contain near-duplicates for a real gate"

    store = SimhashDedupStore(f"{tmpdir}/simdd", max_hamming=3)
    emitted: list[int] = []

    def emit(df, _epoch):
        emitted.extend(r["doc_id"] for r in df.collect())

    fn = store.foreach_batch("doc_id", "text", emit)
    fn(docs.filter("doc_id < 60"), 0)
    n_first = len(emitted)
    fn(docs.filter("doc_id >= 60"), 1)
    assert sorted(emitted) == expected
    # replayed epoch is a no-op
    fn(docs.filter("doc_id >= 60"), 1)
    assert sorted(emitted) == expected
    # state survives a new handle: replaying batch-2 docs under a new
    # epoch emits nothing (all already seen)
    store2 = SimhashDedupStore(f"{tmpdir}/simdd", max_hamming=3)
    fn2 = store2.foreach_batch("doc_id", "text", emit)
    fn2(docs.filter("doc_id >= 60"), 2)
    assert sorted(emitted) == expected
    assert n_first > 0


def test_simhash_cross_near_ids(spark):
    """Two-sided band join: probe ids within hamming of any reference
    signature — hand-built signatures with known distances."""
    from datasketches_spark.pipeline.dedup import simhash_cross_near_ids

    ref = spark.createDataFrame(
        [(0, 0b1111), (1, (1 << 40) | 7)], "doc_id long, simhash long"
    )
    probe = spark.createDataFrame(
        [
            (10, 0b1110),          # hamming 1 from ref 0 -> hit
            (11, (1 << 40) | 7),   # hamming 0 from ref 1 -> hit
            (12, -1),              # 64 ones: far from both -> miss
        ],
        "doc_id long, simhash long",
    )
    got = sorted(
        r.doc_id for r in simhash_cross_near_ids(probe, ref, "doc_id", 3).collect()
    )
    assert got == [10, 11]


def test_sketch_store_kll_items_strings(spark, tmpdir):
    """String-items KLL through the store: two absorbed batches merge
    into one exact-mode blob; the string median answers through SQL."""
    dss.register(spark)
    store = SketchStore(f"{tmpdir}/sstate", "kll_items", group_cols=["g"], k=4096)
    b1 = spark.range(0, 500).selectExpr(
        "id % 2 AS g", "format_string('w%04d', id) AS w"
    )
    b2 = spark.range(500, 1000).selectExpr(
        "id % 2 AS g", "format_string('w%04d', id) AS w"
    )
    store.absorb(b1, "w")
    store.absorb(b2, "w")
    rows = {
        r.g: (r.n, r.med)
        for r in store.read(spark)
        .selectExpr(
            "g",
            "datasketch_kll_items_n(sketch) AS n",
            "datasketch_kll_items_quantile(sketch, 0.5) AS med",
        )
        .collect()
    }
    assert rows == {0: (500, "w0498"), 1: (500, "w0499")}


def test_ngram_count_store_replay_matches_direct(spark, tmpdir):
    """NgramCountStore through a deterministic file-source replay
    (maxFilesPerTrigger=1, availableNow): the accumulated additive
    counts answer the SAME spans as the one-shot direct route —
    batching cannot matter because counts are additive."""
    from datasketches_spark.pipeline.spans import duplicate_spans
    from datasketches_spark.streaming import NgramCountStore

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = f"{tmpdir}/ngc_src"
    # three separate files -> three micro-batches
    for lo, hi in ((0, 150), (150, 350), (350, 500)):
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .coalesce(1).write.mode("append").parquet(src))
    store = NgramCountStore(f"{tmpdir}/ngc_store", "doc_id", "text", n=8)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(store.foreach_batch())
        .option("checkpointLocation", f"{tmpdir}/ngc_ckpt")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, store.spans(docs, min_count=2).collect())
    )
    want = sorted(
        map(tuple, duplicate_spans(docs, "doc_id", "text", n=8,
                                   min_count=2).collect())
    )
    assert got == want and len(want) > 0
    # replayed epoch is a no-op (at-least-once delivery)
    fn = store.foreach_batch()
    before = store.spans(docs).count()
    fn(docs.limit(50), 0)   # epoch 0 <= last recorded -> dropped
    assert store.spans(docs).count() == before


def test_common_line_store_matches_batch_operator(spark, tmpdir):
    """CommonLineStore (HLL doc-frequency per line key) absorbed in
    two batches answers the SAME strip as the one-shot
    remove_common_lines — coupon-exact counts at boilerplate
    magnitudes, replay-idempotent by HLL set semantics."""
    dss.register(spark)
    from datasketches_spark.pipeline.spans import remove_common_lines
    from datasketches_spark.streaming import CommonLineStore

    rows = [
        (1, "COMMON HEADER\nbody one\nshared footer"),
        (2, "common header\nbody two"),
        (3, "body three\nShared Footer  "),
        (4, "all unique text"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    store = CommonLineStore(f"{tmpdir}/cls", "doc_id", "text")
    store.absorb(df.filter("doc_id <= 2"))
    store.absorb(df.filter("doc_id > 2"))
    got = {r.doc_id: r.text for r in store.strip(df).collect()}
    want = {
        r.doc_id: r.text
        for r in remove_common_lines(df, "doc_id", "text").collect()
    }
    assert got == want
    assert got[1] == "body one" and got[3] == "body three"
    assert got[5] is None
    # replay idempotence: re-absorbing the same docs changes nothing
    store.absorb(df.filter("doc_id <= 2"))
    again = {r.doc_id: r.text for r in store.strip(df).collect()}
    assert again == got


def test_ngram_cms_store_matches_exact_at_sized_width(spark, tmpdir):
    """NgramCmsStore (ONE fixed-size CMS blob as the whole history):
    at a width sized to the corpus the upward-only CMS counts equal
    the exact table, so spans/strip match the direct route; replay
    guard drops redelivered epochs."""
    dss.register(spark)
    from datasketches_spark.pipeline.spans import duplicate_spans
    from datasketches_spark.streaming import NgramCmsStore

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).filter("doc_id < 200")
    store = NgramCmsStore(f"{tmpdir}/cms_ng", "doc_id", "text", n=8, lg_w=20)
    store.absorb(docs.filter("doc_id < 100"))
    store.absorb(docs.filter("doc_id >= 100"))
    got = sorted(map(tuple, store.spans(docs, min_count=2).collect()))
    want = sorted(
        map(
            tuple,
            duplicate_spans(docs, "doc_id", "text", n=8, min_count=2)
            .select("doc_id", "span_start", "span_end").collect(),
        )
    )
    assert got == want and len(want) > 0
    s1 = store.strip(docs, min_count=2, out_col="clean")
    total = s1.select(F.sum(F.length("clean"))).first()[0]
    before = docs.select(F.sum(F.length("text"))).first()[0]
    assert total < before
    # epoch guard: replaying epoch 0 via foreach_batch is a no-op
    fn = store.foreach_batch()
    store.store._record_epoch(5)
    fn(docs.limit(10), 3)
    assert sorted(map(tuple, store.spans(docs, min_count=2).collect())) == got
