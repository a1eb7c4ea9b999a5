"""Structured Streaming integration: incremental sketch maintenance.

The reference is batch-only, but its README sells exactly this pattern:
store serialized sketches and merge them later/incrementally
(SURVEY.md §2.1 streaming row; reference docs/README.md:190-192).  On
Spark that maps naturally onto ``foreachBatch``:

  micro-batch rows -> two-phase partial sketches (aggregation.py)
  -> merge into a persistent blob store keyed by group

The store is a parquet directory of (group..., sketch BINARY) rows.
Each micro-batch shuffles only bounded-size blobs, and the store stays
one row per group -- O(groups) state regardless of stream length,
which is the whole point of sketches as streaming state.

``foreachBatch`` is used instead of a streaming groupBy().agg because
pandas grouped-agg UDAFs cannot participate in Spark's incremental
streaming aggregation; the blob store *is* the state store here, and
restarts resume from it idempotently per epoch via checkpointing.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregation import sketch_agg, sketch_merge


def _value_kind(df: DataFrame, input_col: str) -> "str | None":
    """Spark-side type hint for families.coerce_value_batch (nullable
    integral batches arrive float64 in the Arrow workers)."""
    from .families import spark_value_kind

    try:
        return spark_value_kind(df.schema[input_col].dataType)
    except Exception:  # schema lookup can fail for expression inputs
        return None


class SketchStore:
    """Parquet-backed store of one sketch blob per group key."""

    def __init__(
        self,
        path: str,
        family: str,
        group_cols: list[str] | None = None,
        k: int | None = None,
        sketch_col: str = "sketch",
    ):
        self.path = path
        self.family = family
        self.group_cols = list(group_cols or [])
        self.k = k
        self.sketch_col = sketch_col

    def exists(self, spark: SparkSession) -> bool:
        # Hadoop FS probe instead of spark.read.parquet(path): works
        # for any scheme and does not make the JVM log a spurious
        # FileNotFoundException stack trace on the first micro-batch.
        # Under Spark Connect compat falls back to an OS check for
        # local paths / a read probe for remote schemes — returning a
        # WRONG False here would silently overwrite accumulated state,
        # so the fallback must actually probe, never default.
        from . import compat

        return compat.fs_path_exists(spark, self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def absorb(self, batch_df: DataFrame, input_col: str) -> None:
        """Fold a (micro-)batch of raw rows into the store."""
        spark = batch_df.sparkSession
        partial = sketch_agg(
            batch_df, input_col, self.family, self.group_cols, self.k, self.sketch_col
        )
        if self.exists(spark):
            combined = self.read(spark).unionByName(partial)
            merged = sketch_merge(
                combined, self.family, self.group_cols, self.k, self.sketch_col
            )
        else:
            merged = partial
        # materialize BEFORE overwriting the path the merge plan reads
        # from (same pattern as PartitionedSketchStore) -- one parquet
        # write per batch instead of the former staging double-write.
        # A crash mid-overwrite can still lose the store (true of the
        # staging variant too: its final write had the same window);
        # durable state needs a transactional table format, as the
        # replay-guard note below already says.
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(self.path)

    # -- replay guard -----------------------------------------------------
    # foreachBatch is at-least-once: after a failure the same epoch can
    # be delivered again.  Distinct sketches (theta/hll/cpc/bloom) are
    # replay-idempotent by set semantics, but quantile / frequent-items /
    # reservoir state double-counts.  Recording the last absorbed epoch
    # and skipping <= it makes replays no-ops.  (A crash between the
    # parquet commit and the marker write degrades that one batch to
    # at-least-once — the window is tiny and counting families are
    # unaffected; full exactly-once needs a transactional table format.)

    def _epoch_marker(self) -> str:
        return self.path + "__last_epoch"

    def _last_epoch(self) -> int:
        try:
            with open(self._epoch_marker(), encoding="ascii") as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _record_epoch(self, epoch_id: int) -> None:
        try:
            with open(self._epoch_marker(), "w", encoding="ascii") as f:
                f.write(str(epoch_id))
        except OSError:  # non-local store path: skip the guard
            pass

    def foreach_batch(self, input_col: str) -> Callable[[DataFrame, int], None]:
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self._last_epoch():
                return  # replayed epoch: already folded in
            if batch_df.isEmpty():
                return
            self.absorb(batch_df, input_col)
            self._record_epoch(epoch_id)

        return fn


class PartitionedSketchStore(SketchStore):
    """Sketch table partitioned by a bucket column (hour, day, ...);
    absorbing a micro-batch rewrites ONLY the touched partitions.

    The continuous-aggregate pattern at scale: `SketchStore.absorb`
    rewrites the whole table per batch (fine for small stores), while
    here maintenance cost is O(buckets in the batch):

      1. partial-aggregate the batch per (bucket, group) — blob-only
         shuffle as always;
      2. read back only the touched buckets (partition pruning on the
         bucket directory column);
      3. merge old + new blobs and commit with dynamic partition
         overwrite, replacing just those bucket directories.

    A year-long table of hourly sketches absorbs a late-data batch by
    rewriting the few hours it touches, never the year.
    """

    def __init__(
        self,
        path: str,
        family: str,
        bucket_col: str,
        group_cols: list[str] | None = None,
        k: int | None = None,
        sketch_col: str = "sketch",
    ):
        super().__init__(path, family, group_cols, k, sketch_col)
        self.bucket_col = bucket_col

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def absorb(self, batch_df: DataFrame, input_col: str) -> None:
        spark = batch_df.sparkSession
        keys = [self.bucket_col, *self.group_cols]
        partial = sketch_agg(
            batch_df, input_col, self.family, keys, self.k, self.sketch_col
        )
        if self.exists(spark):
            touched = [r[0] for r in partial.select(self.bucket_col).distinct().collect()]
            old = self.read(spark).filter(F.col(self.bucket_col).isin(touched))
            merged = sketch_merge(
                old.unionByName(partial), self.family, keys, self.k, self.sketch_col
            )
        else:
            merged = partial
        # materialize before overwriting the partitions we just read
        merged = merged.localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy(self.bucket_col).parquet(
                self.path
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def incremental_sketch_sink(
    stream_df: DataFrame,
    input_col: str,
    store: SketchStore,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Attach a stream to a SketchStore; returns the started query.

    Typical use::

        store = SketchStore("/data/state/users_hll", "theta",
                            group_cols=["country"], k=14)
        q = incremental_sketch_sink(events_stream, "user_id", store)
        q.awaitTermination()
        estimates = store.read(spark).selectExpr(
            "country", "datasketch_theta_estimate(sketch)")
    """
    writer = stream_df.writeStream.foreachBatch(store.foreach_batch(input_col))
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sketch_partials(
    stream_df: DataFrame,
    ts_col: str,
    input_col: str,
    family: str,
    window_duration: str,
    k: int | None = None,
    watermark: str | None = None,
    extra_group_cols: list[str] | None = None,
) -> DataFrame:
    """Event-time-windowed partial sketches for a streaming DataFrame.

    Buckets rows into tumbling windows (pure column expr -- streaming
    compatible), then the *sink* side (SketchStore keyed by
    window_start + extra groups) merges partials across micro-batches;
    late data within the watermark folds into its window's sketch on
    arrival because sketch merge is order-independent.
    """
    df = stream_df
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window_duration)
    return df.withColumn("window_start", win.start).withColumn(
        "window_end", win.end
    )


def stateful_sketch_stream(
    stream_df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str],
    k: int | None = None,
    output_mode: str = "update",
    idle_timeout_ms: int | None = None,
    ts_col: str | None = None,
    watermark: str | None = None,
    event_ttl_ms: int | None = None,
    metric=None,
) -> DataFrame:
    """Per-key incremental sketches INSIDE the streaming engine.

    Unlike the ``SketchStore``/``foreachBatch`` path (state in an
    external parquet store), this keeps the serialized sketch blob in
    Spark's own state store via ``applyInPandasWithState``: each
    micro-batch folds its rows into the key's sketch and emits
    ``group_cols + (sketch BINARY, rows_in_batch, estimate?)`` rows.
    State size is one bounded blob per key — the sketch IS the state,
    which is exactly why sketches exist (reference
    docs/README.md:190-192 sells the same pattern for batch tables).

    Scale note: state-store checkpointing ships only the blobs;
    a 10M-key stream at ~1 KB/sketch is ~10 GB of state across the
    cluster, partitioned by key — linear in keys, constant in rows.

    ``idle_timeout_ms``: with an UNBOUNDED key space (session ids,
    request ids) even bounded per-key blobs accumulate forever; pass a
    processing-time TTL to evict idle keys — the evicted key's final
    cumulative sketch is emitted with ``rows_in_batch = -1`` so a
    downstream sink (e.g. a SketchStore) can absorb it before the
    state disappears.  Use a continuous trigger with TTL; under
    ``availableNow`` the trailing timeout batch can race shutdown
    (harmless task retry, but no eviction rows are guaranteed).

    ``metric`` (``(name, fn)`` with ``fn(sketch_obj) -> float``): emit
    an extra per-key DOUBLE column computed from the cumulative sketch
    INSIDE the stateful function.  This is deliberately not a
    downstream ``withColumn`` + pandas UDF: Spark's EvalPython buffers
    its input rows as UnsafeRow, but ``applyInPandasWithState``
    produces GenericInternalRow, and a scalar pandas UDF placed
    directly over the stateful output crashes with a
    ClassCastException (observed on 4.1.2; plan-shape dependent).
    Computing the metric where the sketch already lives also avoids a
    per-batch deserialize round trip.

    ``ts_col`` + ``watermark`` (e.g. ``("event_ts", "1 hour")``): set an
    event-time watermark so rows arriving later than the watermark are
    DROPPED before they reach the stateful operator — the standard
    bounded-lateness contract.  The event-time column is carried through
    the pre-groupBy projection (the watermark predicate is applied by
    the stateful exec node against that column); without these, every
    row folds in regardless of arrival order.  Oracle-gated in
    ``q_streaming_late_data_watermark`` (late file replayed after the
    watermark advanced ⇒ result == COUNT(DISTINCT) over the on-time
    subset only).

    ``event_ttl_ms`` (requires ts_col/watermark): WATERMARK-DRIVEN
    per-key state eviction — the round-10 gap closed in ONE operator.
    Spark allows a single GroupStateTimeout per stateful operator, so
    processing-time ``idle_timeout_ms`` cannot coexist with the
    late-row filter (which arms only under EventTimeTimeout); but
    EventTimeTimeout ALSO supports per-key timeout timestamps, giving
    late-data protection and TTL together.  Each batch re-arms the
    key's timeout at (max event time seen in the batch + event_ttl_ms);
    once the watermark passes it, the key's FINAL cumulative sketch is
    emitted with ``rows_in_batch = -1`` and the state row is removed —
    a downstream SketchStore can absorb the final blob, and a key that
    reappears later starts a fresh sketch.  The re-armed timestamp is
    always valid: rows below the watermark were already dropped, so the
    batch max event time is at or above it.  Deterministically tested
    (state actually shrinks) in tests/test_streaming.py.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    group_fields = [stream_df.schema[c] for c in group_cols]
    out_fields = list(group_fields) + [
        StructField("sketch", BinaryType(), True),
        StructField("rows_in_batch", LongType(), True),
    ]
    if metric is not None:
        from pyspark.sql.types import DoubleType

        out_fields.append(StructField(metric[0], DoubleType(), True))
    out_schema = StructType(out_fields)
    state_schema = StructType([StructField("sketch", BinaryType(), True)])

    if (ts_col is None) != (watermark is None):
        raise ValueError("pass ts_col and watermark together (or neither)")
    if ts_col is not None and idle_timeout_ms is not None:
        raise ValueError(
            "ts_col/watermark and idle_timeout_ms are mutually exclusive: "
            "Spark allows one GroupStateTimeout per stateful operator — "
            "use event_ttl_ms for TTL alongside the watermark"
        )
    if event_ttl_ms is not None and ts_col is None:
        raise ValueError(
            "event_ttl_ms requires ts_col/watermark (it is a "
            "watermark-driven timeout)"
        )
    fn = _make_stateful_fn(
        family, input_col, group_cols, k, idle_timeout_ms, metric,
        ts_col=ts_col if event_ttl_ms is not None else None,
        event_ttl_ms=event_ttl_ms,
        value_kind=_value_kind(stream_df, input_col),
    )
    if ts_col is not None:
        # Spark's FlatMapGroupsWithStateExec applies the late-event
        # watermark predicate ONLY under EventTimeTimeout (verified in
        # the installed 4.1.2 bytecode and empirically: under NoTimeout
        # late rows flow straight into the stateful fn).  Without
        # event_ttl_ms no per-key timeout timestamps are ever set, so
        # hasTimedOut never fires; the conf then exists purely to arm
        # the late-row filter.
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    elif idle_timeout_ms is not None:
        timeout_conf = GroupStateTimeout.ProcessingTimeTimeout
    else:
        timeout_conf = GroupStateTimeout.NoTimeout
    df = stream_df
    cols = [*group_cols, input_col]
    if ts_col is not None:
        df = df.withWatermark(ts_col, watermark)
        # ts_col may coincide with a group col or the value col; a
        # duplicate name in select() would make pdf[input_col] return a
        # 2-column frame inside the stateful fn (ADVICE r10)
        if ts_col not in cols:
            cols.append(ts_col)
    return (
        df.select(*cols)
        .groupBy(*group_cols)
        .applyInPandasWithState(
            fn, out_schema, state_schema, output_mode, timeout_conf
        )
    )


def _make_stateful_fn(
    family: str,
    input_col: str,
    group_cols: list[str],
    k: int | None,
    idle_timeout_ms: int | None,
    metric=None,
    ts_col: str | None = None,
    event_ttl_ms: int | None = None,
    value_kind: str | None = None,
):
    """The applyInPandasWithState callback, factored out so the
    timeout-eviction branch is unit-testable with a fake GroupState.
    ``metric``: optional ``(name, fn)`` — fn(cumulative sketch) -> a
    float emitted as a trailing column (see stateful_sketch_stream)."""
    import pandas as pd

    from .families import FAMILY_CLASSES as _BY_NAME
    from .families import (
        build_params,
        coerce_value_batch,
        create_sketch,
        update_sketch,
    )

    cls = _BY_NAME[family]
    cols = group_cols + ["sketch", "rows_in_batch"]
    if metric is not None:
        cols = cols + [metric[0]]

    def _row(key, blob, nrows, sk):
        row = list(key) + [blob, nrows]
        if metric is not None:
            row.append(float(metric[1](sk)))
        return row

    def fn(key, pdfs, state):
        sk = None
        if state.exists:
            (blob,) = state.get
            if blob is not None:
                sk = cls.deserialize(bytes(blob))
        if getattr(state, "hasTimedOut", False):
            # idle eviction: emit the final cumulative sketch, drop state
            state.remove()
            if sk is not None:
                yield pd.DataFrame(
                    [_row(key, sk.serialize(), -1, sk)], columns=cols
                )
            return
        nrows = 0
        max_ts_ms = None
        for pdf in pdfs:
            series = coerce_value_batch(pdf[input_col], value_kind)
            if sk is None:
                sk = create_sketch(family, build_params(family, k, series))
            update_sketch(family, sk, series)
            nrows += len(pdf)
            if ts_col is not None and len(pdf):
                m = pdf[ts_col].max()
                if pd.notna(m):
                    ms = int(pd.Timestamp(m).value // 1_000_000)
                    max_ts_ms = ms if max_ts_ms is None else max(max_ts_ms, ms)
        if sk is None:
            return
        blob = sk.serialize()
        state.update((blob,))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        elif event_ttl_ms is not None and max_ts_ms is not None:
            # watermark-driven TTL: evict once the watermark passes the
            # key's last event time + TTL.  max_ts_ms >= watermark is
            # guaranteed (below-watermark rows were dropped upstream),
            # so the re-armed timestamp is always legal.
            state.setTimeoutTimestamp(max_ts_ms + event_ttl_ms)
        yield pd.DataFrame([_row(key, blob, nrows, sk)], columns=cols)

    return fn


def streaming_drift_monitor(
    stream_df: DataFrame,
    input_col: str,
    reference_blob: bytes,
    group_cols: list[str] | None = None,
    family: str = "kll",
    k: int | None = None,
    metric_col: str = "ks",
    output_mode: str = "update",
) -> DataFrame:
    """Live distribution drift of a stream against a frozen reference.

    The training-serving-skew monitor: freeze a quantile sketch of the
    reference distribution (one ``sketch_agg`` over the training set),
    then watch the serving stream — each micro-batch folds into the
    per-key cumulative sketch (``stateful_sketch_stream``, state = one
    bounded blob per key) and emits the two-sample KS distance against
    the reference as a metric stream: ``group_cols + (sketch,
    rows_in_batch, <metric_col>)``.  Alert on ``metric_col`` crossing
    a threshold downstream.

    The reference blob ships inside the stateful function's closure —
    broadcast with the task binary, never shuffled — and the KS is
    computed IN the stateful function against the key's cumulative
    sketch (a pandas UDF over applyInPandasWithState output crashes
    with a plan-shape-dependent ClassCastException on 4.1.2 — see
    ``stateful_sketch_stream``'s ``metric`` note; found by the grouped
    oracle gate, round 10).  Cumulative-so-far drift by default; for
    per-window drift include an event-time bucket (e.g.
    ``sources.read_table``'s ``hour_bucket``) in ``group_cols``.
    """
    if family not in ("quantiles", "kll", "req"):
        raise ValueError(
            f"family ({family!r}) must be a KS-capable quantile family: "
            "'quantiles', 'kll', or 'req'"
        )
    from .families import FAMILY_CLASSES

    cls = FAMILY_CLASSES[family]
    ref_bytes = bytes(reference_blob)
    ref_cache: list = []  # deserialize once per worker, not per batch

    def _ks(sk) -> float:
        if not ref_cache:
            ref_cache.append(cls.deserialize(ref_bytes))
        return float(sk.ks_distance(ref_cache[0]))

    group_cols = list(group_cols or [])
    gcols = group_cols or ["__all"]
    src = stream_df if group_cols else stream_df.withColumn("__all", F.lit(1))
    out = stateful_sketch_stream(
        src,
        input_col,
        family,
        gcols,
        k=k,
        output_mode=output_mode,
        metric=(metric_col, _ks),
    )
    return out if group_cols else out.drop("__all")


def streaming_dedup(
    stream: DataFrame,
    id_cols: list[str],
    ts_col: str | None = None,
    delay: str | None = None,
) -> DataFrame:
    """Exact streaming deduplication on ``id_cols``.

    With ``ts_col`` + ``delay`` (e.g. ``"1 hour"``) state is bounded:
    Spark's ``dropDuplicatesWithinWatermark`` evicts ids older than the
    watermark, so memory is O(ids per horizon) — the only exact-dedup
    shape that survives an unbounded 100 TB/day stream.  Without them,
    plain ``dropDuplicates`` keeps every id forever (finite backfills
    only).  For dedup across *restarts of different streams* or when
    even the horizon's id set is too big, use :class:`BloomDedupStore`.
    """
    if (ts_col is None) != (delay is None):
        raise ValueError("pass ts_col and delay together (or neither)")
    if ts_col is None:
        return stream.dropDuplicates(id_cols)
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        id_cols
    )


class SimhashDedupStore:
    """Streaming NEAR-duplicate dedup: state = every seen row's 64-bit
    simhash signature, stored as an append-only parquet table beside
    the checkpoint.

    Drop rule (one-shot, the same scan contract as
    ``pipeline.similarity.semantic_dedup`` and the batch simhash
    dedup): a row is dropped iff some EARLIER row — any previous
    micro-batch, or a smaller-id row of the same batch — is within
    ``max_hamming`` of it.  "Earlier" means earlier SEEN, not earlier
    KEPT: ALL batch signatures are absorbed, dropped rows included, so
    the rule stays one-pass and batch-boundary-invariant — when rows
    arrive in id order the streaming result EQUALS the one-shot batch
    computation over the union (the oracle gate replays exactly that),
    and under any arrival order it is the standard crawler contract
    ("have I seen something like this before?").  Greedy-vs-kept
    (drop only against survivors) would make the answer depend on
    batch boundaries; it is deliberately not offered.

    Scale shape: per batch, one simhash Arrow pass over the BATCH
    only, an in-batch banded self-join, and a banded equi-join of the
    batch's signatures against the stored table (8 bytes + id per seen
    row; never an all-pairs product, never a rescan of old text).
    State grows O(rows seen) — for unbounded streams put the signature
    table on a partitioned/compacted layout, or bound the horizon by
    retiring old partitions.

    ``hasher='md5'`` makes signatures reproducible in ANSI SQL
    (DuckDB ``md5_number_upper``) — the oracle-gate configuration;
    ``'fast'`` (default) is the vectorized scale path.
    """

    def __init__(
        self,
        path: str,
        max_hamming: int = 3,
        hasher: str = "fast",
        seed: int = 7,
    ):
        self.path = path
        self.max_hamming = max_hamming
        self.hasher = hasher
        self.seed = seed

    def _sig_path(self) -> str:
        return self.path + "__sigs"

    def exists(self, spark: SparkSession) -> bool:
        from . import compat

        return compat.fs_path_exists(spark, self._sig_path())

    def read_signatures(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._sig_path())

    def filter_new(
        self, batch_df: DataFrame, id_col: str, text_col: str
    ) -> "tuple[DataFrame, DataFrame]":
        """(survivors, batch_signatures): batch rows with no earlier
        near-duplicate, plus the signatures of the WHOLE batch (feed
        them to :meth:`absorb_signatures` after emitting survivors).
        The signature frame comes back persisted — unpersist it after
        the absorb."""
        from .pipeline import dedup as D

        spark = batch_df.sparkSession
        sigs = D.simhash64(
            batch_df, id_col, text_col, seed=self.seed, hasher=self.hasher
        ).persist()
        drops = D.simhash_near_pairs(
            sigs, id_col, self.max_hamming, persist=False
        ).select(F.col("id_b").alias(id_col))
        if self.exists(spark):
            drops = drops.unionByName(
                D.simhash_cross_near_ids(
                    sigs, self.read_signatures(spark), id_col, self.max_hamming
                )
            )
        survivors = batch_df.join(drops.distinct(), id_col, "left_anti")
        return survivors, sigs

    def absorb_signatures(self, sigs: DataFrame) -> None:
        sigs.write.mode("append").parquet(self._sig_path())

    # -- replay guard (same shape as SketchStore) ------------------------
    def _last_epoch(self) -> int:
        try:
            with open(self.path + "__last_epoch", encoding="ascii") as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _record_epoch(self, epoch_id: int) -> None:
        try:
            with open(self.path + "__last_epoch", "w", encoding="ascii") as f:
                f.write(str(epoch_id))
        except OSError:
            pass

    def foreach_batch(
        self,
        id_col: str,
        text_col: str,
        emit: Callable[[DataFrame, int], None],
    ) -> Callable[[DataFrame, int], None]:
        """foreachBatch function: near-dedup the batch against all
        history, hand survivors to ``emit``, then absorb the batch's
        signatures (all of them — see the class contract)."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self._last_epoch():
                return
            if batch_df.isEmpty():
                return
            survivors, sigs = self.filter_new(batch_df, id_col, text_col)
            survivors = survivors.localCheckpoint(eager=True)
            emit(survivors, epoch_id)
            self.absorb_signatures(sigs)
            self._record_epoch(epoch_id)
            sigs.unpersist()

        return fn


class BloomDedupStore:
    """Approximate cross-batch dedup with constant-size state: a single
    Bloom filter blob (2^lg_m bits) of every id ever emitted.

    Each micro-batch keeps only rows whose id is *definitely* unseen
    (Bloom negatives are exact), so an id is never emitted twice
    (at-most-once per id); a false positive wrongly drops a new id with
    probability ~FPP — the standard trade for constant memory on an
    unbounded stream.  Same trade as a web crawler's seen-URL filter.

    State lives beside the stream checkpoint as a blob file; the epoch
    marker makes foreachBatch replays no-ops (same guard as
    SketchStore).  Build is distributed (two-phase blob-only shuffle);
    only the bounded filter blob ever reaches the driver.
    """

    def __init__(self, path: str, lg_m: int = 24):
        self.path = path
        self.lg_m = lg_m

    def _blob_file(self) -> str:
        return self.path + "__bloom"

    def _read_blob(self) -> bytes | None:
        try:
            with open(self._blob_file(), "rb") as f:
                return f.read()
        except OSError:
            return None

    def _write_blob(self, blob: bytes) -> None:
        os.makedirs(os.path.dirname(self._blob_file()) or ".", exist_ok=True)
        tmp = self._blob_file() + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, self._blob_file())

    def filter_new(self, batch_df: DataFrame, id_col: str) -> DataFrame:
        """Rows of the batch whose id has never been seen: in-batch
        exact dedup, then a broadcast Bloom probe against the store."""
        from .runtime_filter import bloom_prune_with

        fresh = batch_df.dropDuplicates([id_col])
        blob = self._read_blob()
        if blob is None:
            return fresh
        return bloom_prune_with(fresh, id_col, blob, invert=True)

    def absorb_ids(self, batch_df: DataFrame, id_col: str) -> None:
        """Union the batch's ids into the stored filter."""
        from .sketches import BloomFilterSketch

        row = sketch_agg(batch_df, id_col, "bloom", k=self.lg_m).first()
        if row is None or row["sketch"] is None:
            return
        new = BloomFilterSketch.deserialize(bytes(row["sketch"]))
        old_blob = self._read_blob()
        if old_blob is not None:
            new.merge(BloomFilterSketch.deserialize(old_blob))
        self._write_blob(new.serialize())

    # -- replay guard (same shape as SketchStore) ------------------------
    def _last_epoch(self) -> int:
        try:
            with open(self.path + "__last_epoch", encoding="ascii") as f:
                return int(f.read().strip())
        except (OSError, ValueError):
            return -1

    def _record_epoch(self, epoch_id: int) -> None:
        try:
            with open(self.path + "__last_epoch", "w", encoding="ascii") as f:
                f.write(str(epoch_id))
        except OSError:
            pass

    def foreach_batch(
        self, id_col: str, emit: Callable[[DataFrame, int], None]
    ) -> Callable[[DataFrame, int], None]:
        """foreachBatch function: dedup the batch against all history,
        hand survivors to ``emit`` (write them wherever the pipeline
        goes), then fold their ids into the filter."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self._last_epoch():
                return
            if batch_df.isEmpty():
                return
            survivors = self.filter_new(batch_df, id_col)
            survivors = survivors.localCheckpoint(eager=True)
            emit(survivors, epoch_id)
            self.absorb_ids(survivors, id_col)
            self._record_epoch(epoch_id)

        return fn


class NgramCountStore:
    """Streaming corpus n-gram history for repeated-span dedup.

    The streaming face of pipeline/spans' stored-counts route: each
    micro-batch APPENDS its partial (xxhash64, count) rows
    (:func:`~datasketches_spark.pipeline.spans.upsert_ngram_counts` —
    additive, no read-modify-write), and :meth:`strip`/:meth:`spans`
    answer against the accumulated history via ``counts=``.

    Replay-invariant BY CONSTRUCTION: counts are additive, so any
    batching of the same files yields the same summed table — unlike
    per-batch pair emission, no batch-boundary semantics to pin.
    At-least-once replays are dropped by the same epoch marker
    :class:`SketchStore` uses.
    """

    def __init__(self, path: str, id_col: str, text_col: str, n: int = 10):
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.n = n

    # epoch guard (shared contract with SketchStore)
    def _epoch_marker(self) -> str:
        return self.path + "__last_epoch"

    _last_epoch = SketchStore._last_epoch
    _record_epoch = SketchStore._record_epoch

    def exists(self, spark: SparkSession) -> bool:
        from . import compat

        return compat.fs_path_exists(spark, self.path)

    def absorb(self, batch_df: DataFrame) -> None:
        from .pipeline.spans import upsert_ngram_counts, write_ngram_counts

        if self.exists(batch_df.sparkSession):
            upsert_ngram_counts(
                batch_df, self.id_col, self.text_col, self.path, n=self.n
            )
        else:
            write_ngram_counts(
                batch_df, self.id_col, self.text_col, self.path, n=self.n
            )

    def foreach_batch(self) -> "Callable[[DataFrame, int], None]":
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self._last_epoch():
                return
            if batch_df.isEmpty():
                return
            self.absorb(batch_df)
            self._record_epoch(epoch_id)

        return fn

    def compact(self, spark: SparkSession) -> None:
        """Fold appended partial rows (answers unchanged; bounds the
        table after many micro-batches — run periodically)."""
        from .pipeline.spans import compact_ngram_counts

        compact_ngram_counts(spark, self.path)

    def spans(self, df: DataFrame, min_count: int = 2) -> DataFrame:
        """Duplicated spans of ``df`` against the accumulated history."""
        from .pipeline.spans import duplicate_spans

        return duplicate_spans(
            df, self.id_col, self.text_col, n=self.n,
            min_count=min_count, counts=self.path,
        )

    def strip(
        self, df: DataFrame, min_count: int = 2, out_col: "str | None" = None
    ) -> DataFrame:
        """``df`` with history-duplicated spans stripped."""
        from .pipeline.spans import strip_duplicate_spans

        return strip_duplicate_spans(
            df, self.id_col, self.text_col, n=self.n,
            min_count=min_count, out_col=out_col, counts=self.path,
        )


class CommonLineStore:
    """Streaming line doc-frequency history for boilerplate removal —
    the families meeting the pipeline: state is ONE HLL blob per
    distinct line key, so the store IS a :class:`SketchStore`
    (``group_cols=[line_key]``, values = doc ids) and every batch
    absorbs through the standard blob-merge machinery.

    Exactness envelope: Apache-style HLL is COUPON-EXACT until the
    sparse set caps at 3/4 * 2^(lg_k-3) coupons (r9), so with the
    default ``lg_k=14`` the per-line doc count is EXACT up to 1536
    distinct docs — far above any sane ``min_docs`` boilerplate
    threshold; beyond it the estimate's ~1% error only perturbs lines
    whose df is already >> min_docs (they stay flagged).

    Replay-invariant AND replay-idempotent: HLL union is
    batching-order independent, and re-absorbing the same (line, doc)
    pair re-inserts the same coupon — a no-op — so even at-least-once
    redelivery cannot inflate a count.  The epoch guard is kept to
    skip the wasted work.
    """

    def __init__(
        self,
        path: str,
        id_col: str,
        text_col: str,
        delim: str = "\n",
        lg_k: int = 14,
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.delim = delim
        self.store = SketchStore(path, "hll", group_cols=["line_key"], k=lg_k)

    def _lines(self, df: DataFrame) -> DataFrame:
        from .pipeline.spans import _lines_exploded

        ln = _lines_exploded(df, self.id_col, self.text_col, self.delim)
        key = F.trim(F.lower(F.col("line")))
        return ln.filter(key != "").select(
            F.xxhash64(key).alias("line_key"), F.col(self.id_col)
        )

    def exists(self, spark: SparkSession) -> bool:
        return self.store.exists(spark)

    def absorb(self, batch_df: DataFrame) -> None:
        self.store.absorb(self._lines(batch_df), self.id_col)

    def foreach_batch(self) -> "Callable[[DataFrame, int], None]":
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self.store._last_epoch():
                return
            if batch_df.isEmpty():
                return
            self.absorb(batch_df)
            self.store._record_epoch(epoch_id)

        return fn

    def common_keys(self, spark: SparkSession, min_docs: int = 2) -> DataFrame:
        """Line keys whose stored distinct-doc estimate reaches
        ``min_docs`` (column ``__ck``)."""
        if min_docs < 2:
            raise ValueError(f"min_docs must be >= 2, got {min_docs}")
        return (
            self.store.read(spark)
            .filter(
                F.expr("datasketch_hll_estimate(sketch)")
                >= F.lit(float(min_docs)) - 0.5
            )
            .select(F.col("line_key").alias("__ck"))
        )

    def strip(
        self,
        df: DataFrame,
        min_docs: int = 2,
        out_col: "str | None" = None,
    ) -> DataFrame:
        """``df`` with history-common lines removed (same semantics as
        pipeline/spans.remove_common_lines, against the accumulated
        history)."""
        from .pipeline.spans import _strip_lines_by_keys

        key = F.xxhash64(F.trim(F.lower(F.col("line"))))
        return _strip_lines_by_keys(
            df, self.id_col, self.text_col, self.delim,
            self.common_keys(df.sparkSession, min_docs), key, out_col,
        )


class NgramCmsStore:
    """FIXED-SIZE streaming n-gram history for repeated-span dedup —
    ONE Count-Min blob counting word-n-gram occurrences, O(1) state
    at ANY corpus size (:class:`NgramCountStore`'s exact table grows
    with distinct n-grams; at the 100 TB tail that is billions of
    rows, while this stays one ~depth*2^lg_w-counter blob).

    CMS never under-counts, so span marking is CONSERVATIVE: every
    true repeat is marked; a hash collision can only OVER-mark — the
    right failure mode for a junk filter.  Collision rate per probe
    is ~(distinct/2^lg_w)^depth; size ``lg_w`` to the corpus
    (lg_w=20 keeps expected phantom marks << 1 for millions of
    distinct n-grams).

    Additive and replay-guarded like every store; the probe pass
    broadcasts the blob bytes and scores each batch map-only (the
    lm.py pattern), with n-grams built by the pinned Python twin of
    the JVM tokenizer (lm._py_tokens — token-for-token parity,
    tests/test_pipeline.py TestPyTokensTwin).
    """

    def __init__(
        self,
        path: str,
        id_col: str,
        text_col: str,
        n: int = 10,
        lg_w: int = 20,
    ):
        self.id_col = id_col
        self.text_col = text_col
        self.n = n
        self.store = SketchStore(path, "cms", group_cols=[], k=lg_w)

    def _ngrams(self, df: DataFrame) -> DataFrame:
        from .pipeline.decontam import _ngrams_exploded

        return _ngrams_exploded(df, [], self.text_col, self.n)

    def exists(self, spark: SparkSession) -> bool:
        return self.store.exists(spark)

    def absorb(self, batch_df: DataFrame) -> None:
        self.store.absorb(self._ngrams(batch_df), "ng")

    def foreach_batch(self) -> "Callable[[DataFrame, int], None]":
        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self.store._last_epoch():
                return
            if batch_df.isEmpty():
                return
            self.absorb(batch_df)
            self.store._record_epoch(epoch_id)

        return fn

    def _marked(self, df: DataFrame, min_count: int) -> DataFrame:
        """(id, start) positions whose n-gram's CMS estimate reaches
        ``min_count`` — broadcast blob, map-only Arrow probe."""
        from typing import Iterator  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        from . import compat
        from .pipeline.lm import _py_tokens
        from .sketches import CountMinSketch

        spark = df.sparkSession
        blob = bytes(self.store.read(spark).first()["sketch"])
        bc = compat.broadcast_value(spark, blob)
        id_col, text_col, n = self.id_col, self.text_col, self.n
        out_schema = f"`{id_col}` {df.schema[id_col].dataType.simpleString()}, start int"

        def probe(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
            import numpy as np  # noqa: PLC0415

            sk = CountMinSketch.deserialize(bc.value)
            for pdf in batches:
                ids_out, starts_out = [], []
                grams_flat: list[str] = []
                doc_bounds = []
                for t in pdf[text_col]:
                    toks = _py_tokens(t) if t is not None else []
                    m = max(len(toks) - n + 1, 0)
                    doc_bounds.append(m)
                    grams_flat.extend(
                        " ".join(toks[i : i + n]) for i in range(m)
                    )
                if grams_flat:
                    est = np.asarray(
                        sk.estimate_series(pd.Series(grams_flat)),
                        dtype=np.int64,
                    )
                else:
                    est = np.empty(0, dtype=np.int64)
                off = 0
                for doc_id, m in zip(pdf[id_col], doc_bounds):
                    hits = np.nonzero(est[off : off + m] >= min_count)[0]
                    ids_out.extend([doc_id] * len(hits))
                    starts_out.extend((hits + 1).tolist())
                    off += m
                yield pd.DataFrame({id_col: ids_out, "start": starts_out})

        return df.select(id_col, text_col).mapInPandas(probe, out_schema)

    def spans(self, df: DataFrame, min_count: int = 2) -> DataFrame:
        """Spans of ``df`` whose n-grams reach ``min_count`` in the
        accumulated history (conservative: collisions over-mark)."""
        from .pipeline.spans import _merge_starts_to_spans

        return _merge_starts_to_spans(
            self._marked(df, min_count), self.id_col, self.n
        )

    def strip(
        self, df: DataFrame, min_count: int = 2, out_col: "str | None" = None
    ) -> DataFrame:
        from .pipeline.spans import _strip_spans_from

        return _strip_spans_from(
            df, self.id_col, self.text_col,
            self.spans(df, min_count), out_col,
        )
