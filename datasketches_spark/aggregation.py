"""Two-phase distributed sketch aggregation -- the 100 TB scale path.

The reference's aggregate state machine (Initialize / Operation /
Combine / Finalize, codegen/generated.cpp.j2:230-357) crosses *thread*
boundaries inside one DuckDB process.  On Spark the equivalent boundary
crosses executors and nodes, so we re-express it as the canonical
map-side-combine pattern (SURVEY.md §3):

  phase 1 (map, no shuffle):   ``mapInPandas`` folds every Arrow batch
      of a partition into one partition-local sketch per group key --
      this is the reference's ``Operation`` loop.  The fold takes row
      positions per group, columns prepared once per chunk: NULL mask,
      int64 restore and blob sniffing run per column, and each group's
      update is a numpy slice of the prepared column;
  shuffle boundary:            only (group key, serialized sketch blob)
      rows move, hash-repartitioned by the group key -- bounded-size
      state, exactly the reference's ``Combine`` hand-off but across
      nodes;
  phase 2 (reduce):            hash repartition -> ``mapInPandas`` fold:
      the same fold as phase 1, merging each arriving batch's blobs
      into one running sketch per group key -- ``Combine`` +
      ``Finalize``, with no per-group Arrow frame or sort.

At 100 TB this shuffles kilobytes per (group x input-partition) instead
of the raw rows, and the map phase is embarrassingly parallel.  The
alternative single-phase pandas grouped-agg UDFs (functions/aggregates)
are provided for SQL ergonomics but shuffle raw rows; use this module
for large inputs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from .families import (
    build_params,
    create_sketch,
    prepare_column,
    spark_value_kind,
    update_rows,
)


# phase 1 accumulates Arrow batches into larger chunks before grouping
# so the pandas groupby + sketch-update cost is amortized (an Arrow
# batch is ~10k rows; a chunk is up to 512k) -- bounded memory per task
_CHUNK_ROWS = 1 << 19

# one NaN object for every NaN group key: NaN != NaN, so NaN keys from
# different chunks would otherwise each open their own group
_NAN_KEY = float("nan")


def _norm_key(key) -> tuple:
    key = key if isinstance(key, tuple) else (key,)
    return tuple(
        _NAN_KEY if isinstance(v, (float, np.floating)) and v != v else v for v in key
    )


def _fold_chunks(
    batches: Iterator[pd.DataFrame],
    group_cols: list[str],
    prepare,
    fold,
    chunk_rows: int = _CHUNK_ROWS,
) -> dict:
    """The ``Operation`` loop shared by every fold: buffer Arrow batches
    into chunks of at least ``chunk_rows`` rows, prepare each chunk's
    columns once (``prepare(pdf) -> cols``), split the chunk into each
    group key's row positions and fold them into that key's state via
    ``fold(state_or_None, cols, pos) -> state`` (``pos`` is None when
    ungrouped: every row).  Returns ``{key tuple: state}`` (``()`` when
    ungrouped)."""
    acc: dict[tuple, object] = {}
    buf: list[pd.DataFrame] = []
    nbuf = 0

    def flush() -> None:
        nonlocal buf, nbuf
        if not buf:
            return
        pdf = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
        buf, nbuf = [], 0
        cols = prepare(pdf)
        if group_cols:
            groups = pdf.groupby(group_cols, dropna=False, sort=False).indices
            # first-appearance order, as iterating the groupby gives (the
            # dict orders multi-column keys by code): it is the emit order
            for key, pos in sorted(groups.items(), key=lambda kv: kv[1][0]):
                key = _norm_key(key)
                acc[key] = fold(acc.get(key), cols, pos)
        else:
            acc[()] = fold(acc.get(()), cols, None)

    for pdf in batches:
        buf.append(pdf)
        nbuf += len(pdf)
        if nbuf >= chunk_rows:
            flush()
    flush()
    return acc


def _map_fold(
    df: DataFrame,
    group_cols: list[str],
    value_cols: list[str],
    schema: StructType,
    prepare,
    fold,
    emit,
    chunk_rows: int = _CHUNK_ROWS,
) -> DataFrame:
    """One ``mapInPandas`` over ``group_cols + value_cols``: fold the
    partition's rows per group (:func:`_fold_chunks`) and emit one
    ``key + emit(state)`` row per group.  Phase 1 runs it on the scan's
    partitions; phase 2 on the hash-repartitioned partials."""
    names = schema.fieldNames()

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = _fold_chunks(batches, group_cols, prepare, fold, chunk_rows)
        if acc:
            rows = [list(key) + emit(state) for key, state in acc.items()]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*group_cols, *value_cols).mapInPandas(build, schema=schema)


def _spec_fold(
    specs: list[tuple],
    kinds: list | None = None,
    weight_col: str | None = None,
    merge: bool = False,
):
    """``(prepare, fold)`` building one sketch per ``(input_col, family,
    k, output_col)`` spec from ``input_col`` values, or with ``merge``
    merging ``output_col`` blobs; the state is the list of sketches.
    ``kinds`` are the specs' Spark-side value kinds: a null-bearing
    Arrow batch of an integral column arrives float64 and must be
    coerced back (5 and 5.0 hash differently -- families.prepare_column)."""
    kinds = kinds or [None] * len(specs)

    def prepare(pdf: pd.DataFrame):
        w = None if weight_col is None else pdf[weight_col]
        cols = [
            prepare_column(family, pdf[out if merge else col], kind, w, merge)
            for (col, family, _k, out), kind in zip(specs, kinds)
        ]
        # a group's sketch takes its params from the first batch it is in
        params = [
            build_params(family, k, c.head())
            for (_col, family, k, _out), c in zip(specs, cols)
        ]
        return cols, params

    def fold(sks, prepared, pos):
        cols, params = prepared
        if sks is None:
            sks = [create_sketch(s[1], p) for s, p in zip(specs, params)]
        for s, sk, c in zip(specs, sks, cols):
            update_rows(s[1], sk, c, pos)
        return sks

    return prepare, fold


def _blob_schema(
    df: DataFrame, group_cols: list[str], blob_cols: list[str]
) -> StructType:
    return StructType(
        [df.schema[c] for c in group_cols]
        + [StructField(c, BinaryType(), True) for c in blob_cols]
    )


def _spec_partial(
    df: DataFrame,
    specs: list[tuple],
    group_cols: list[str],
    weight_col: str | None = None,
) -> DataFrame:
    """Phase 1 for spec sketches: ``group_cols + [output_col BINARY per
    spec]``, one row per (partition, group)."""
    in_cols = [s[0] for s in specs] + ([weight_col] if weight_col is not None else [])
    kinds = [spark_value_kind(df.schema[s[0]].dataType) for s in specs]
    return _map_fold(
        df,
        group_cols,
        list(dict.fromkeys(in_cols)),  # stable unique
        _blob_schema(df, group_cols, [s[3] for s in specs]),
        *_spec_fold(specs, kinds, weight_col),
        lambda sks: [sk.serialize() for sk in sks],
    )


def _spec_merge(
    partial: DataFrame,
    specs: list[tuple],
    group_cols: list[str],
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Phase 2: merge each spec's partial blobs per group (``Combine``)
    and either emit the merged blobs or, with ``finalize`` (``dict[
    output_col, sketch] -> dict[col, value]``), answer them in the same
    Python round (``Finalize``)."""
    blob_cols = [s[3] for s in specs]
    if finalize is None:
        schema = _blob_schema(partial, group_cols, blob_cols)
    else:
        if finalize_schema is None:
            raise ValueError("finalize requires finalize_schema")
        extra = (
            StructType.fromDDL(finalize_schema)
            if isinstance(finalize_schema, str)
            else finalize_schema
        )
        schema = StructType(
            [partial.schema[c] for c in group_cols] + list(extra.fields)
        )
    out_names = schema.fieldNames()[len(group_cols):]

    def emit(sks) -> list:
        if finalize is None:
            return [sk.serialize() for sk in sks]
        vals = finalize(dict(zip(blob_cols, sks)))
        return [vals[n] for n in out_names]

    # every row of a group lands in one partition, so a per-batch fold
    # there sees all of the group's blobs; chunk_rows=1 folds each
    # batch as it arrives instead of buffering blob rows
    parted = (
        partial.repartition(*group_cols) if group_cols else partial.repartition(1)
    )
    prepare, fold = _spec_fold(specs, merge=True)
    return _map_fold(
        parted, group_cols, blob_cols, schema, prepare, fold, emit, chunk_rows=1
    )


def sketch_partial(
    df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    output_col: str = "sketch",
    weight_col: str | None = None,
) -> DataFrame:
    """Phase 1: one partition-local sketch blob per (partition, group).

    ``weight_col`` (reservoir only): per-row weights for the
    inclusion-∝-weight sample — the weighted family on the SAME
    blob-only shuffle plan (the ``datasketch_reservoir_weighted`` UDAF
    shuffles raw rows; this shuffles one bounded blob per partition ×
    group, and bottom-(k+1) retention makes the estimation threshold
    merge-exact, sketches/reservoir.py)."""
    if weight_col is not None and family not in ("reservoir", "ebpps"):
        raise ValueError(
            "weight_col is only supported by the sampling families "
            "(reservoir, ebpps)"
        )
    return _spec_partial(
        df, [(input_col, family, k, output_col)], list(group_cols or []), weight_col
    )


def sketch_merge(
    partial: DataFrame,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    sketch_col: str = "sketch",
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Phase 2: merge partition-local blobs per group into final blobs.

    ``finalize`` fuses the reference's Finalize step into the merge
    pass: a callable ``(sketch) -> dict[col, value]`` evaluated on the
    merged sketch, with ``finalize_schema`` (DDL string or StructType)
    describing the emitted columns.  This answers scalar queries
    (estimate, quantiles, weights) in the SAME Python round as the
    merge instead of a separate Arrow scalar-UDF pass -- one fewer
    Python round-trip per query, identical results."""
    return _spec_merge(
        partial,
        [(sketch_col, family, k, sketch_col)],
        list(group_cols or []),
        None if finalize is None else (lambda sks: finalize(sks[sketch_col])),
        finalize_schema,
    )


def sketch_agg(
    df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    output_col: str = "sketch",
    finalize=None,
    finalize_schema: str | StructType | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Build sketches over raw values (or merge blobs) with map-side combine.

    Returns ``group_cols + [output_col BINARY]``.  Equivalent of
    ``SELECT g, datasketch_<family>(k, x) FROM t GROUP BY g`` at scale.
    With ``finalize``/``finalize_schema`` the merged sketch is answered
    in-place (see :func:`sketch_merge`) and the blob is never emitted.
    ``weight_col`` (reservoir only): weighted sampling on the same
    blob-only shuffle plan — see :func:`sketch_partial`.
    """
    partial = sketch_partial(
        df, input_col, family, group_cols, k, output_col, weight_col
    )
    return sketch_merge(
        partial, family, group_cols, k, output_col, finalize, finalize_schema
    )


def sketch_agg_multi(
    df: DataFrame,
    specs: list[tuple],
    group_cols: list[str] | None = None,
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Build SEVERAL sketches per group in ONE scan + ONE shuffle.

    ``specs`` is a list of ``(input_col, family, k, output_col)``
    tuples.  Where ``sketch_agg`` called N times costs N scans of the
    fact table and N shuffles (plus joins to reassemble), this costs
    one of each: the phase-1 task folds every spec's column into its
    own sketch per group, and the shuffle rows carry all N blobs.
    At 100 TB the scan is the dominant term, so N sketches for the
    price of one matters more than any constant-factor tuning.

    Returns ``group_cols + [output_col BINARY per spec]``, or with
    ``finalize`` (a callable ``dict[output_col, sketch] -> dict[col,
    value]`` plus ``finalize_schema``) the merged sketches are answered
    in the merge round and the blobs are never emitted -- the
    multi-sketch twin of :func:`sketch_merge`'s fused finalize.
    """
    group_cols = list(group_cols or [])
    specs = [tuple(s) for s in specs]
    out_cols = [s[3] for s in specs]
    if len(set(out_cols)) != len(out_cols):
        raise ValueError("duplicate output_col in specs")
    partial = _spec_partial(df, specs, group_cols)
    return _spec_merge(partial, specs, group_cols, finalize, finalize_schema)


def tuple_sketch_partial(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    group_cols: list[str] | None = None,
    lg_k: int | None = None,
    output_col: str = "sketch",
) -> DataFrame:
    """Phase 1 for the ArrayOfDoubles tuple family: one partition-local
    tuple sketch per (partition, group) over ``(key, values...)`` rows.

    Same blob-only shuffle contract as :func:`sketch_partial`; the
    summary matrix rides inside the bounded blob (a lg_k=12,
    num_values=2 blob tops out at ~96 KB), so at 100 TB the shuffle
    still carries groups x partitions blobs, never raw rows."""
    from .sketches.tuple_aod import AodSketch, DEFAULT_LG_K

    group_cols = list(group_cols or [])
    value_cols = list(value_cols)
    lgk = lg_k if lg_k is not None else DEFAULT_LG_K
    key_kind = spark_value_kind(df.schema[key_col].dataType)

    def prepare(pdf: pd.DataFrame):
        keys = prepare_column("aod", pdf[key_col], key_kind)
        return keys, pdf[value_cols].to_numpy(dtype="float64", na_value=0.0)

    def fold(sk, prepared, pos):
        if sk is None:
            sk = AodSketch(lgk, len(value_cols))
        # NULL keys are dropped (update_batch skips them anyway) with
        # their summary rows, so a nullable-int key hashes as int64
        keys, vals = prepared
        r = keys.rows(pos)
        sk.update_batch(keys.values[r], vals[r])
        return sk

    return _map_fold(
        df,
        group_cols,
        [key_col] + value_cols,
        _blob_schema(df, group_cols, [output_col]),
        prepare,
        fold,
        lambda sk: [sk.serialize()],
    )


def tuple_sketch_agg(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    group_cols: list[str] | None = None,
    lg_k: int | None = None,
    output_col: str = "sketch",
    finalize=None,
    finalize_schema: str | StructType | None = None,
) -> DataFrame:
    """Two-phase ArrayOfDoubles tuple aggregation: distinct ``key_col``
    estimation with element-wise-summed ``double`` summaries, one blob
    per group.  ``SELECT g, datasketch_aod(lg_k, key, array(v...))``
    at the blob-only-shuffle scale path (sketches/tuple_aod.py).

    NULL summary values contribute 0.0 (SQL SUM semantics — the same
    rule as the ``datasketch_aod`` UDAF and the UDTF path); the Arrow
    float transfer conflates NaN with NULL, so NaN summaries also
    become 0.0 on this path."""
    partial = tuple_sketch_partial(
        df, key_col, value_cols, group_cols, lg_k, output_col
    )
    return sketch_merge(
        partial, "aod", group_cols, lg_k, output_col, finalize, finalize_schema
    )


def salted_sketch_agg(
    df: DataFrame,
    input_col: str,
    family: str,
    group_cols: list[str] | None = None,
    k: int | None = None,
    num_salts: int = 16,
    output_col: str = "sketch",
) -> DataFrame:
    """Skew-resistant variant: salt heavy group keys across reducers.

    Because sketches merge associatively, skew handling is free: phase 2a
    merges per (group, salt) -- spreading a hot key over ``num_salts``
    reducers -- and phase 2b merges the <=num_salts salted blobs per
    group.  Use when a handful of keys dominate the input (AQE's skew
    handling covers joins, not custom pandas aggregations).
    """
    from pyspark.sql import functions as F

    group_cols = list(group_cols or [])
    salted = df.withColumn("__salt", (F.rand(seed=42) * num_salts).cast("int"))
    partial = sketch_partial(
        salted, input_col, family, group_cols + ["__salt"], k, output_col
    )
    per_salt = sketch_merge(
        partial, family, group_cols + ["__salt"], k, output_col
    ).drop("__salt")
    return sketch_merge(per_salt, family, group_cols, k, output_col)


# ------------------------------------------------- hybrid theta (JVM merge)


def theta_partial_state(
    df: DataFrame,
    input_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
    hashes_col: str = "hashes",
    theta_col: str = "theta",
) -> DataFrame:
    """Phase 1 of the *hybrid* theta path: per-(partition, group) KMV
    state as PLAIN SQL types instead of an opaque blob.

    Emits ``group_cols + (hashes ARRAY<BIGINT> sorted unique, theta
    BIGINT nullable)`` — theta is the exclusive 63-bit threshold, NULL
    meaning "1.0" (exact mode; the sentinel avoids int64 overflow of
    2^63).  Because the state is transparent, the MERGE phase needs no
    Python at all: `theta_estimate_merge` is pure Catalyst expressions
    (flatten / array_distinct / array_sort / element_at), which drops
    one Python stage per query versus the blob path — the most
    Spark-idiomatic formulation of the reference's theta union
    semantics (src/theta_sketch.cpp: theta = min, keep k smallest).
    State is bounded: each partial carries at most 2^lg_k hashes.
    """
    from .sketches.theta import ThetaSketch
    from .hashing import MAX_HASH

    group_cols = list(group_cols or [])
    fields = [df.schema[c] for c in group_cols]
    schema = StructType(
        list(fields)
        + [
            StructField(hashes_col, ArrayType(LongType()), True),
            StructField(theta_col, LongType(), True),
        ]
    )
    kind = spark_value_kind(df.schema[input_col].dataType)

    def prepare(pdf: pd.DataFrame):
        return prepare_column("theta", pdf[input_col], kind)

    def fold(sk, col, pos):
        if sk is None:
            sk = ThetaSketch(lg_k)
        sk.update_values(col.values[col.rows(pos)])  # raw values, blobs too
        return sk

    def emit(sk) -> list:
        sk._consolidate()
        return [
            sk.hashes.astype("int64").tolist(),
            None if sk.theta == MAX_HASH else int(sk.theta),
        ]

    return _map_fold(df, group_cols, [input_col], schema, prepare, fold, emit)


def _theta_survivors(k: int, hashes_col: str = "__h", theta_col: str = "__th"):
    """Column expr: sorted unique hashes below the merged threshold
    (NULL threshold = 1.0 = no filter) — the shared KMV-union core of
    the final estimate and the salted pre-merge."""
    from pyspark.sql import functions as F

    return F.array_sort(
        F.array_distinct(
            F.when(F.col(theta_col).isNull(), F.col(hashes_col)).otherwise(
                F.filter(F.col(hashes_col), lambda h: h < F.col(theta_col))
            )
        )
    )


def theta_premerge(
    partials: DataFrame,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
    num_salts: int = 16,
    hashes_col: str = "hashes",
    theta_col: str = "theta",
) -> DataFrame:
    """Salted level-1 KMV union, pure JVM: merge partials per
    (group, salt) and re-emit the same (hashes, theta) state purged to
    <= 2^lg_k entries.

    Why: the single-level merge materializes ALL of a group's partial
    arrays in one aggregation buffer — at 100k input partitions x
    2^lg_k longs that is gigabytes on one reducer.  Theta union is
    associative (reference codegen/generated.cpp.j2:745
    NOT_ORDER_DEPENDENT), so splitting the merge over ``num_salts``
    reducers changes nothing about the result (asserted bit-identical
    in tests/test_scalepath_properties.py) while bounding any one
    buffer to ~partials/num_salts arrays.  The blob path's
    `salted_sketch_agg` is the same trick in Python."""
    from pyspark.sql import functions as F

    group_cols = list(group_cols or [])
    k = 1 << lg_k
    salted = partials.withColumn(
        "__salt", (F.rand(seed=7) * num_salts).cast("int")
    )
    agg = salted.groupBy(*(group_cols + ["__salt"])).agg(
        F.min(theta_col).alias("__th"),
        F.flatten(F.collect_list(hashes_col)).alias("__h"),
    )
    agg = agg.withColumn("__s", _theta_survivors(k))
    over = F.size(F.col("__s")) > k
    return agg.select(
        *group_cols,
        F.when(over, F.slice(F.col("__s"), 1, k))
        .otherwise(F.col("__s"))
        .alias(hashes_col),
        F.when(over, F.element_at(F.col("__s"), k + 1))
        .otherwise(F.col("__th"))
        .alias(theta_col),
    )


def theta_estimate_merge(
    partials: DataFrame,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
    output_col: str = "estimate",
    hashes_col: str = "hashes",
    theta_col: str = "theta",
    pre_merge_salts: int | None = None,
) -> DataFrame:
    """Phase 2 of the hybrid theta path — the KMV union as pure JVM
    expressions; see `theta_partial_state`.  Reproduces the Python
    core's estimate exactly: TH = min(theta) (NULL = 1.0), survivors =
    sorted unique hashes < TH, then the standard bottom-k estimator
    with the (k+1)-th smallest as the post-purge threshold.

    ``pre_merge_salts`` inserts the salted level-1 union
    (`theta_premerge`) first — use it when a group's partial count is
    large (wide clusters / global aggregates) to bound reducer
    memory."""
    from pyspark.sql import functions as F

    from .hashing import MAX_HASH

    group_cols = list(group_cols or [])
    if pre_merge_salts:
        partials = theta_premerge(
            partials, group_cols, lg_k, pre_merge_salts, hashes_col, theta_col
        )
    k = 1 << lg_k
    maxd = float(MAX_HASH)
    grouped = (
        partials.groupBy(*group_cols) if group_cols else partials.groupBy()
    )
    agg = grouped.agg(
        F.min(theta_col).alias("__th"),
        F.flatten(F.collect_list(hashes_col)).alias("__h"),
    )
    surv = _theta_survivors(k)
    n = F.size(F.col("__s"))
    est = F.when(
        n > k,
        F.lit(float(k)) / (F.element_at(F.col("__s"), k + 1).cast("double") / maxd),
    ).otherwise(
        F.when(F.col("__th").isNull(), n.cast("double")).otherwise(
            n.cast("double") / (F.col("__th").cast("double") / maxd)
        )
    )
    return (
        agg.withColumn("__s", surv)
        .withColumn(output_col, est)
        .drop("__th", "__h", "__s")
    )


def theta_agg_hybrid(
    df: DataFrame,
    input_col: str,
    group_cols: list[str] | None = None,
    lg_k: int = 12,
    output_col: str = "estimate",
    pre_merge_salts: int | None = None,
) -> DataFrame:
    """Two-phase theta distinct-count whose merge phase is Catalyst,
    not Python: one Python stage (the partial build) + one JVM
    aggregation.  Prefer this over `sketch_agg(..., "theta")` when only
    the ESTIMATE is needed; use the blob path when the sketch itself is
    stored or fed to the scalar SQL surface.  Set ``pre_merge_salts``
    (~sqrt(input partitions)) on wide clusters so no single reducer
    buffers every partial."""
    parts = theta_partial_state(df, input_col, group_cols, lg_k)
    return theta_estimate_merge(
        parts, group_cols, lg_k, output_col, pre_merge_salts=pre_merge_salts
    )
