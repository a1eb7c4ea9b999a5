"""Family adapters: uniform create/update/merge over the 8 sketch cores.

This is the glue the Spark layer (aggregation.py, functions/) uses so
that every aggregate behaves like the reference's overload sets: fed
raw values it *builds*, fed sketch blobs it *merges* (reference
docs/README.md:346-348 -- "This same aggregate function can perform a
union of multiple sketches").  Dispatch is on the pandas dtype of the
incoming batch: binary -> merge, anything else -> build.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .sketches.base import is_framed
from .sketches import (
    AodSketch,
    ApacheBloomFilter,
    BloomFilterSketch,
    FdtSketch,
    CountMinSketch,
    CpcSketch,
    EbppsSketch,
    FrequentItemsSketch,
    HllSketch,
    KllItemsSketch,
    KllSketch,
    QuantilesSketch,
    ReqSketch,
    ReservoirSampleSketch,
    StatsSketch,
    TDigestSketch,
    ThetaSketch,
)

QUANTILE_FAMILIES = {"quantiles": QuantilesSketch, "kll": KllSketch, "req": ReqSketch}

FAMILY_CLASSES = {
    "theta": ThetaSketch,
    "kll": KllSketch,
    "kll_items": KllItemsSketch,
    "quantiles": QuantilesSketch,
    "req": ReqSketch,
    "tdigest": TDigestSketch,
    "hll": HllSketch,
    "cpc": CpcSketch,
    "frequent_items": FrequentItemsSketch,
    "bloom": BloomFilterSketch,
    "reservoir": ReservoirSampleSketch,
    "cms": CountMinSketch,
    "stats": StatsSketch,
    "ebpps": EbppsSketch,
    "aod": AodSketch,
    "bloomfilter": ApacheBloomFilter,
    "fdt": FdtSketch,
}


def spark_value_kind(data_type) -> "str | None":
    """'int64' for integral Spark column types, else None — the hint
    :func:`coerce_value_batch` needs to undo pandas' nullable-int
    upcast in Arrow workers."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if isinstance(data_type, (ByteType, ShortType, IntegerType, LongType)):
        return "int64"
    return None


def coerce_value_batch(series: pd.Series, kind: "str | None", weights=None):
    """Undo pandas' nullable-int rendering before sketch updates.

    An integral Spark column whose Arrow batch contains NULLs arrives
    as float64-with-NaN, and sketch semantics are dtype-sensitive:
    5 (int) and 5.0 (double) murmur-hash DIFFERENTLY (reference
    parity), quantile sketches are typed, and sampling families
    stringify items.  Found live: with one null-bearing and one clean
    partition, sketch_agg's theta path double-counted every
    overlapping value (int-hashed in one partial, double-hashed in the
    other).  Drops the NULL rows (aligned with ``weights`` when
    given) and restores int64."""
    if kind == "int64" and series.dtype.kind == "f":
        keep = series.notna()
        series = series[keep].astype(np.int64)
        if weights is not None:
            weights = weights[keep]
    return (series, weights) if weights is not None else series


def infer_value_dtype(series: pd.Series) -> str:
    kind = series.dtype.kind
    if kind in "iu" or series.dtype == object and isinstance(series.iloc[0], (int, np.integer)):
        return "int64"
    if series.dtype == np.float32:
        return "float32"
    return "float64"


def create_sketch(family: str, params: dict):
    params = dict(params or {})
    if family == "theta":
        return ThetaSketch(int(params.get("lg_k", 12)))
    if family in QUANTILE_FAMILIES:
        return QUANTILE_FAMILIES[family](
            int(params.get("k", 200)), params.get("dtype", "float64")
        )
    if family == "kll_items":
        return KllItemsSketch(int(params.get("k", 200)))
    if family == "tdigest":
        return TDigestSketch(int(params.get("k", 100)))
    if family == "hll":
        return HllSketch(int(params.get("lg_k", 12)))
    if family == "cpc":
        return CpcSketch(int(params.get("lg_k", 12)))
    if family == "frequent_items":
        return FrequentItemsSketch(int(params.get("lg_max_k", 10)))
    if family == "bloom":
        return BloomFilterSketch(
            int(params.get("lg_m", 20)), int(params.get("num_hashes", 6))
        )
    if family == "reservoir":
        return ReservoirSampleSketch(int(params.get("k", 1024)))
    if family == "ebpps":
        return EbppsSketch(int(params.get("k", 1024)))
    if family == "aod":
        lgk = params.get("lg_k")
        # no declared K -> a merge accumulator that adopts the first
        # blob's lg_k (k-less union/rollup paths stay lossless)
        return AodSketch(
            None if lgk is None else int(lgk), int(params.get("num_values", 1))
        )
    if family == "fdt":
        lgk = params.get("lg_k")
        # no declared K -> adopt the first blob's lg_k on merge
        return FdtSketch(None if lgk is None else int(lgk))
    if family == "bloomfilter":
        return ApacheBloomFilter(
            1 << int(params.get("lg_m", 20)),
            int(params.get("num_hashes", 6)),
            int(params.get("seed", 9001)),
        )
    if family == "cms":
        return CountMinSketch(
            int(params.get("lg_w", 16)), int(params.get("depth", 5))
        )
    if family == "stats":
        return StatsSketch()
    raise ValueError(f"unknown sketch family: {family}")


def is_blob_series(series: pd.Series) -> bool:
    if series.dtype != object:
        return False
    for v in series:
        if v is None:
            continue
        return isinstance(v, (bytes, bytearray))
    return False


class PreparedColumn:
    """One batch column with the column-level work of :func:`update_sketch`
    done once, so that each group's update is a numpy slice
    (:func:`update_rows`): the NULL mask, integral values restored to
    int64, blob detection, the HLL/CPC framed-vs-raw-BLOB sniff and the
    quantile VARCHAR rejection.

    ``values`` stays row-aligned with the batch (a restored NULL row
    holds 0), ``keep`` masks the non-NULL rows (None when every row is
    one), and ``dropped`` records that NULL rows were dropped as
    :func:`coerce_value_batch` drops them, so stats does not count them.
    """

    __slots__ = ("values", "keep", "kept", "dropped", "weights", "blobs", "framed")

    def rows(self, pos=None):
        """Positions of the non-NULL rows among ``pos`` (every row when
        None), ready to index ``values``."""
        if self.keep is None:
            return slice(None) if pos is None else pos
        return self.kept if pos is None else pos[self.keep[pos]]

    def head(self) -> pd.Series:
        """The first non-NULL value (else the first row) as a one-row
        Series: all :func:`build_params` reads of a batch."""
        i = int(self.kept[0]) if self.keep is not None and self.kept.size else 0
        return pd.Series(self.values[i : i + 1])


def prepare_column(
    family: str,
    series: pd.Series,
    kind: "str | None" = None,
    weights: "pd.Series | None" = None,
    merge: bool = False,
) -> PreparedColumn:
    """Column-level half of :func:`update_sketch`, run once per batch
    column.  ``kind`` is the Spark-side value kind
    (:func:`spark_value_kind`), ``weights`` the sampling families' row
    weights and ``merge`` the blob hint of :func:`update_sketch`."""
    col = PreparedColumn()
    keep = series.notna().to_numpy()
    col.dropped = kind == "int64" and series.dtype.kind == "f"
    if col.dropped:
        values = series.to_numpy(dtype=np.int64, na_value=0)
    else:
        values = series.to_numpy()
    col.values = values
    if keep.all():
        col.keep = None
        col.kept = None
        first = values[0] if len(values) else None
    else:
        col.keep = keep
        col.kept = np.flatnonzero(keep)
        first = values[col.kept[0]] if col.kept.size else None
    col.weights = None if weights is None else weights.to_numpy()
    col.blobs = merge or (
        values.dtype == object and isinstance(first, (bytes, bytearray))
    )
    col.framed = None
    if col.blobs and family in ("hll", "cpc") and first is not None:
        # Reference parity: HLL/CPC accept raw BLOB *values* in
        # addition to sketch blobs (generator.py:30-44 lists BLOB
        # among the allowed input types). Spark has no catalog type
        # alias to distinguish sketch_hll from plain BINARY, so
        # dispatch per value on the DSKS frame magic OR the Apache
        # wire preamble (serVer/family/lgK — the reference's typed
        # blobs ARE that format): sketch blobs merge, anything
        # else is hashed as a raw byte value.
        sniff = FAMILY_CLASSES[family].sniff_wire
        col.framed = np.zeros(len(values), dtype=bool)
        pos = col.rows()
        col.framed[pos] = [
            is_framed(b) or sniff(bytes(b)) for b in values[pos]
        ]
    if (
        (family in QUANTILE_FAMILIES or family == "tdigest")
        and not col.blobs
        and values.dtype == object
        and isinstance(first, str)
    ):
        # The reference binds numeric overloads only for the
        # quantile families (codegen/generator.py:46-60); mirror
        # DuckDB's binder rejection instead of a numpy cast error.
        raise ValueError(
            "No function matches the given name and argument types "
            f"'datasketch_{family}(VARCHAR)': "
            f"{family} sketches accept numeric values only. "
            "You might need to add explicit type casts."
        )
    return col


def update_rows(family: str, sk, col: PreparedColumn, pos=None) -> None:
    """Row-level half of :func:`update_sketch`: feed the rows ``pos``
    (positions into the batch; every row when None) of a prepared
    column into ``sk`` -- values build, blobs deserialize and merge."""
    if family == "stats" and not col.blobs:
        # stats is the one family that must SEE the NULLs (its null
        # count is n - nonnull), except the ones the int64 restore drops
        r = col.rows(pos) if col.dropped else (slice(None) if pos is None else pos)
        sk.update_series(pd.Series(col.values[r]))
        return
    r = col.rows(pos)
    if col.weights is not None:
        # every call, even with no rows: a weighted update switches the
        # sample to weighted mode
        sk.update_series(pd.Series(col.values[r]), weights=pd.Series(col.weights[r]))
        return
    vals = col.values[r]
    if not len(vals):
        return
    if col.blobs:
        cls = FAMILY_CLASSES[family]
        if col.framed is None:
            for blob in vals:
                sk.merge(cls.deserialize(bytes(blob)))
            return
        framed = col.framed[r]
        for blob in vals[framed]:
            sk.merge(cls.deserialize(bytes(blob)))
        if not framed.all():
            sk.update_values(pd.Series([bytes(b) for b in vals[~framed]], dtype=object))
        return
    if family in ("theta", "hll", "cpc", "bloom"):
        sk.update_values(vals)
    elif family in QUANTILE_FAMILIES or family in ("tdigest", "kll_items"):
        sk.update(vals)
    elif family in ("frequent_items", "reservoir", "cms", "ebpps", "fdt", "bloomfilter"):
        sk.update_series(pd.Series(vals))
    elif family == "aod":
        raise ValueError(
            "datasketch_aod builds from (key, values) pairs — use "
            "aggregation.tuple_sketch_agg or the datasketch_aod SQL "
            "aggregate; this path only merges tuple sketch blobs"
        )
    else:  # pragma: no cover
        raise ValueError(f"unknown sketch family: {family}")


def update_sketch(family: str, sk, series: pd.Series, merge: bool = False) -> None:
    """Feed one Arrow batch into a sketch: values build, blobs merge.

    ``merge=True`` declares the series is sketch blobs even when every
    value is NULL (an all-NULL series carries no type evidence).  Only
    the stats family needs the hint: every other family drops NULLs
    before doing anything, but stats counts NULLs on its *build* path,
    so an all-NULL blob series would otherwise be miscounted as rows.
    The composition of :func:`prepare_column` and :func:`update_rows`,
    which the grouped folds call once per batch and once per group.
    """
    update_rows(family, sk, prepare_column(family, series, merge=merge))


def build_params(family: str, k: int | None, series: pd.Series | None) -> dict:
    """Resolve constructor params from a constant-K argument plus the
    batch dtype (typed quantile sketches, SURVEY.md §1.2)."""
    params: dict = {}
    if family in ("theta", "aod", "fdt"):
        if k is not None:
            params["lg_k"] = k
    elif family in ("hll", "cpc"):
        if k is not None:
            params["lg_k"] = k
    elif family == "frequent_items":
        if k is not None:
            params["lg_max_k"] = k
    elif family in ("bloom", "bloomfilter"):
        if k is not None:
            params["lg_m"] = k
    elif family in ("reservoir", "ebpps"):
        if k is not None:
            params["k"] = k
    elif family == "cms":
        if k is not None:
            params["lg_w"] = k
    else:
        if k is not None:
            params["k"] = k
    if family in QUANTILE_FAMILIES and series is not None and not is_blob_series(series):
        params["dtype"] = infer_value_dtype(series)
    return params
