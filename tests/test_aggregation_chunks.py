"""Spark-free checks of the chunk loop (aggregation._fold_chunks).

Every partial builder folds its Arrow batches through one loop that
buffers them into ``_CHUNK_ROWS`` chunks, prepares each chunk's columns
once and hands every group key its row positions.  These tests feed more than two chunks of ~10k-row batches over
three groups, with one batch whose BIGINT value column arrives float64
with NULLs (how Arrow hands pandas a null-bearing integral batch), so
that batch's chunk concatenates to float64 as a whole.

The phase-2 merge runs the same loop but folds every blob batch as it
arrives; the last test drives its ``mapInPandas`` function directly.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from datasketches_spark import aggregation as agg
from datasketches_spark.families import build_params, create_sketch, update_sketch

BATCH_ROWS = 10_000
N_BATCHES = 2 * (agg._CHUNK_ROWS // BATCH_ROWS) + 10
GROUPS = np.array(["a", "b", "c"])
NULL_BATCH = 7

# families whose final state is a pure function of the row multiset, so
# folding in chunk-sized updates must give the same bytes as one update:
# KMV hashes, HLL/CPC coupons, Bloom bits, CMS counters
ORDER_FREE = [("theta", 12), ("hll", 12), ("cpc", 11), ("bloom", 20), ("cms", 10)]


@pytest.fixture(scope="module")
def batches() -> list[pd.DataFrame]:
    rng = np.random.default_rng(11)
    out = []
    for b in range(N_BATCHES):
        pdf = pd.DataFrame({
            "g": GROUPS[rng.integers(0, len(GROUPS), BATCH_ROWS)],
            "id": np.arange(b * BATCH_ROWS, (b + 1) * BATCH_ROWS, dtype=np.int64),
            "v": rng.integers(0, 300_000, BATCH_ROWS, dtype=np.int64),
        })
        if b == NULL_BATCH:
            v = pdf["v"].astype("float64")
            v[::13] = np.nan
            pdf["v"] = v
        out.append(pdf)
    return out


def test_input_spans_more_than_two_chunks(batches):
    assert sum(map(len, batches)) > 2 * agg._CHUNK_ROWS
    assert batches[NULL_BATCH]["v"].dtype == np.float64
    assert batches[NULL_BATCH]["v"].isna().any()


def test_each_group_folds_exactly_its_rows(batches):
    calls = []

    def prepare(pdf):
        return pdf["g"].to_numpy(), pdf["id"].to_numpy()

    def fold(state, cols, pos):
        g, ids = cols
        calls.append(len(pos))
        assert len(np.unique(g[pos])) == 1
        return (state or []) + [ids[pos]]

    acc = agg._fold_chunks(iter(batches), ["g"], prepare, fold)
    whole = pd.concat(batches, ignore_index=True)
    batches_per_chunk = -(-agg._CHUNK_ROWS // BATCH_ROWS)
    n_chunks = -(-N_BATCHES // batches_per_chunk)
    assert n_chunks >= 3
    assert sorted(acc) == [(g,) for g in GROUPS]
    for (g,), parts in acc.items():
        # one fold per group per chunk: the input really was chunked
        assert len(parts) == n_chunks
        got = np.concatenate(parts)
        want = whole.loc[whole["g"] == g, "id"].to_numpy()
        np.testing.assert_array_equal(got, want)
    assert sum(calls) == len(whole)


def test_ungrouped_fold_sees_every_row(batches):
    def fold(n, rows, pos):
        assert pos is None  # ungrouped: every row of the chunk
        return (n or 0) + rows

    acc = agg._fold_chunks(iter(batches), [], len, fold)
    assert acc == {(): sum(map(len, batches))}


def test_chunked_blobs_equal_one_unchunked_build(batches):
    specs = [("v", fam, k, fam) for fam, k in ORDER_FREE]
    acc = agg._fold_chunks(iter(batches), ["g"], *agg._spec_fold(specs, ["int64"] * len(specs)))
    whole = pd.concat(batches, ignore_index=True)
    for (g,), sks in acc.items():
        # NULLs dropped and int64 restored: 5 and 5.0 hash differently
        vals = whole.loc[whole["g"] == g, "v"].dropna().astype(np.int64)
        for (_col, fam, k, _out), sk in zip(specs, sks):
            direct = create_sketch(fam, build_params(fam, k, vals))
            update_sketch(fam, direct, vals)
            assert sk.serialize() == direct.serialize(), (g, fam)


class _Partial:
    """Stands in for the phase-1 DataFrame: records the function phase 2
    hands to ``mapInPandas`` instead of planning a Spark job."""

    def __init__(self, schema: StructType):
        self.schema = schema
        self.fn = None

    def repartition(self, *cols):
        return self

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def test_merge_folds_each_blob_batch_as_it_arrives(monkeypatch):
    rng = np.random.default_rng(5)
    fams = [("theta", 12), ("kll", 200)]
    specs = [(fam, fam, k, fam) for fam, k in fams]
    # 5 groups x 12 partials, interleaved as a shuffle read would
    # deliver them, in 8-row batches: every batch spans several groups
    # and every group spans several batches
    rows = []
    for part in range(12):
        for g in range(5):
            vals = pd.Series(rng.integers(0, 5000, 300, dtype=np.int64))
            blobs = []
            for fam, k in fams:
                sk = create_sketch(fam, build_params(fam, k, vals))
                update_sketch(fam, sk, vals)
                blobs.append(sk.serialize())
            rows.append([g] + blobs)
    names = ["g"] + [fam for fam, _k in fams]
    whole = pd.DataFrame(rows, columns=names)
    batches = [whole.iloc[i:i + 8].reset_index(drop=True) for i in range(0, len(whole), 8)]

    partial = _Partial(StructType(
        [StructField("g", LongType())]
        + [StructField(fam, BinaryType()) for fam, _k in fams]
    ))
    assert agg._spec_merge(partial, specs, ["g"]) is partial

    concats = []
    real_concat = pd.concat
    monkeypatch.setattr(
        agg.pd, "concat", lambda objs, **kw: concats.append(objs) or real_concat(objs, **kw)
    )
    out = list(partial.fn(iter(batches)))
    monkeypatch.undo()
    assert concats == [], "phase 2 concatenated blob batches"
    assert len(out) == 1 and sorted(out[0]["g"]) == list(range(5))
    for _, row in out[0].iterrows():
        sub = whole[whole["g"] == row["g"]]
        assert sum(g == row["g"] for b in batches for g in b["g"].unique()) > 1
        for _col, fam, k, out_col in specs:
            direct = create_sketch(fam, build_params(fam, k, sub[out_col]))
            update_sketch(fam, direct, sub[out_col], merge=True)
            assert row[out_col] == direct.serialize(), (row["g"], fam)
