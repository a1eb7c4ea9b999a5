"""Spark-free checks of the phase-1 chunk loop (aggregation._fold_chunks).

Every partial builder folds its Arrow batches through one loop that
buffers them into ``_CHUNK_ROWS`` chunks and splits each chunk by group
key.  These tests feed more than two chunks of ~10k-row batches over
three groups, with one batch whose BIGINT value column arrives float64
with NULLs (how Arrow hands pandas a null-bearing integral batch), so
that batch's chunk concatenates to float64 as a whole.
"""

import numpy as np
import pandas as pd
import pytest

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

    def fold(state, sub):
        calls.append(len(sub))
        assert sub["g"].nunique() == 1
        return (state or []) + [sub["id"].to_numpy()]

    acc = agg._fold_chunks(iter(batches), ["g"], fold)
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
    acc = agg._fold_chunks(iter(batches), [], lambda n, sub: (n or 0) + len(sub))
    assert acc == {(): sum(map(len, batches))}


def test_chunked_blobs_equal_one_unchunked_build(batches):
    specs = [("v", fam, k, fam) for fam, k in ORDER_FREE]
    fold = agg._spec_fold(specs, ["int64"] * len(specs))
    acc = agg._fold_chunks(iter(batches), ["g"], fold)
    whole = pd.concat(batches, ignore_index=True)
    for (g,), sks in acc.items():
        # NULLs dropped and int64 restored: 5 and 5.0 hash differently
        vals = whole.loc[whole["g"] == g, "v"].dropna().astype(np.int64)
        for (_col, fam, k, _out), sk in zip(specs, sks):
            direct = create_sketch(fam, build_params(fam, k, vals))
            update_sketch(fam, direct, vals)
            assert sk.serialize() == direct.serialize(), (g, fam)
