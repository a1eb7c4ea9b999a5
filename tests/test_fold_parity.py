"""Spark-free parity matrix of the positional fold against update_sketch.

Every two-phase build prepares each chunk's columns once
(``families.prepare_column``) and feeds each group key its row
positions (``families.update_rows``).  The reference here is the
per-group route those replaced: cut the group's sub-series out of the
batch, coerce it (``coerce_value_batch``), size the sketch from it
(``build_params``) and feed it to ``update_sketch``.  Every family of
``FAMILY_CLASSES`` must give the same bytes both ways, over batches
with NULLs, a BIGINT batch that arrives float64-with-NaN, weighted
samples, raw BLOB values mixed with HLL/CPC sketch blobs and a group
whose blobs are all NULL.
"""

import numpy as np
import pandas as pd
import pytest

from datasketches_spark import aggregation as agg
from datasketches_spark.families import (
    FAMILY_CLASSES,
    build_params,
    coerce_value_batch,
    create_sketch,
    update_sketch,
)
from datasketches_spark.sketches import AodSketch

GROUPS = np.array(["a", "b", "c"])
ROWS = 60

# (input column, family, k, Spark-side value kind) -- one build per family
VALUE_SPECS = [
    ("i", "theta", 12, "int64"),
    ("s", "theta", 12, None),
    ("i", "hll", 10, "int64"),
    ("i", "cpc", 10, "int64"),
    ("i", "bloom", 16, "int64"),
    ("s", "bloomfilter", 16, None),
    ("s", "cms", 10, None),
    ("f", "kll", 200, None),
    ("i", "kll", 200, "int64"),
    ("f", "quantiles", 128, None),
    ("f", "req", 12, None),
    ("f", "tdigest", 100, None),
    ("s", "kll_items", 200, None),
    ("s", "frequent_items", 6, None),
    ("s", "reservoir", 8, None),
    ("s", "ebpps", 8, None),
    ("f", "stats", None, None),
    ("s", "stats", None, None),
    ("i", "stats", None, "int64"),
    ("l", "fdt", 8, None),
]
BLOB_K = {
    "theta": 12, "hll": 10, "cpc": 10, "bloom": 16, "bloomfilter": 16,
    "cms": 10, "kll": 200, "quantiles": 128, "req": 12, "tdigest": 100,
    "kll_items": 200, "frequent_items": 6, "reservoir": 8, "ebpps": 8,
    "stats": None, "fdt": 8, "aod": 8,
}


@pytest.fixture(autouse=True)
def seeded_samples(monkeypatch):
    """reservoir/ebpps draw from an unseeded generator per sketch; seed
    every one alike so both routes draw the same numbers."""
    real = np.random.default_rng
    monkeypatch.setattr(np.random, "default_rng", lambda *a, **kw: real(7))


def _value_batches() -> list[pd.DataFrame]:
    rng = np.random.default_rng(3)
    out = []
    for b in range(3):
        n = ROWS
        i = pd.Series(rng.integers(0, 400, n), dtype=np.int64)
        if b == 1:  # a null-bearing BIGINT batch arrives float64
            i = i.astype("float64")
            i[::7] = np.nan
        f = pd.Series(rng.lognormal(0.0, 1.0, n))
        f[::5] = np.nan
        s = pd.Series([f"é{v}" for v in rng.integers(0, 40, n)], dtype=object)
        s[::6] = None
        lists = [np.array([f"d{v}", f"e{v % 3}"], dtype=object) for v in rng.integers(0, 30, n)]
        lists[::8] = [None] * len(lists[::8])
        w = pd.Series(rng.uniform(0.0, 5.0, n))
        w[::9] = 0.0
        w[::11] = np.nan
        out.append(pd.DataFrame({
            "g": GROUPS[rng.integers(0, len(GROUPS), n)],
            "i": i, "f": f, "s": s, "l": lists, "w": w,
        }))
    return out


def _chunks(batches, per_batch: bool) -> list[pd.DataFrame]:
    return batches if per_batch else [pd.concat(batches, ignore_index=True)]


def _reference(chunks, specs, kinds, weight_col=None, merge=False) -> dict:
    """The per-group sub-series route, one update_sketch per (group,
    chunk, spec), in the fold's emit order."""
    acc: dict = {}
    for pdf in chunks:
        for key, sub in pdf.groupby(["g"], dropna=False, sort=False):
            key = agg._norm_key(key)
            sks = acc.setdefault(key, [None] * len(specs))
            for j, ((col, family, k, out), kind) in enumerate(zip(specs, kinds)):
                src = sub[out if merge else col]
                if weight_col is not None:
                    series, w = coerce_value_batch(src, kind, sub[weight_col])
                else:
                    series = coerce_value_batch(src, kind)
                if sks[j] is None:
                    sks[j] = create_sketch(family, build_params(family, k, series))
                if weight_col is not None:
                    sks[j].update_series(series, weights=w)
                else:
                    update_sketch(family, sks[j], series, merge=merge)
    return acc


def _fold(chunks, specs, kinds, weight_col=None, merge=False) -> dict:
    prepare, fold = agg._spec_fold(specs, kinds, weight_col, merge)
    return agg._fold_chunks(iter(chunks), ["g"], prepare, fold, chunk_rows=1)


def _assert_same(got: dict, want: dict, specs) -> None:
    assert list(got) == list(want)
    for key in want:
        for spec, a, b in zip(specs, got[key], want[key]):
            assert a.serialize() == b.serialize(), (key, spec)


@pytest.mark.parametrize("per_batch", [True, False], ids=["per-batch", "one-chunk"])
@pytest.mark.parametrize("spec", VALUE_SPECS, ids=lambda s: f"{s[1]}-{s[0]}")
def test_value_fold_matches_update_sketch(spec, per_batch):
    col, family, k, kind = spec
    specs = [(col, family, k, "out")]
    chunks = _chunks(_value_batches(), per_batch)
    _assert_same(_fold(chunks, specs, [kind]), _reference(chunks, specs, [kind]), specs)


@pytest.mark.parametrize("per_batch", [True, False], ids=["per-batch", "one-chunk"])
def test_weighted_samples_match(per_batch):
    specs = [("s", "reservoir", 8, "r"), ("s", "ebpps", 8, "e")]
    chunks = _chunks(_value_batches(), per_batch)
    kinds = [None, None]
    got = _fold(chunks, specs, kinds, weight_col="w")
    _assert_same(got, _reference(chunks, specs, kinds, weight_col="w"), specs)
    assert all(sks[0].weighted for sks in got.values())


def test_stats_counts_nulls_per_group():
    """stats is the family that must see NULL rows: n counts them, and
    nonnull does not -- except where the BIGINT restore drops them, as
    coerce_value_batch always has (the datasketch_stats SQL aggregate
    does not restore, so it counts those NULLs)."""
    chunks = _value_batches()
    specs = [("f", "stats", None, "f"), ("i", "stats", None, "i")]
    got = _fold(chunks, specs, [None, "int64"])
    whole = pd.concat(chunks, ignore_index=True)
    for (g,), (sf, si) in got.items():
        rows = whole[whole["g"] == g]
        assert (sf.n, sf.nonnull) == (len(rows), int(rows["f"].notna().sum()))
        assert si.n == si.nonnull == int(rows["i"].notna().sum())
        assert sf.n > sf.nonnull


def test_quantile_varchar_rejected_both_ways():
    chunks = _value_batches()
    specs = [("s", "kll", 200, "out")]
    with pytest.raises(ValueError, match=r"datasketch_kll\(VARCHAR\)"):
        _reference(chunks, specs, [None])
    with pytest.raises(ValueError, match=r"datasketch_kll\(VARCHAR\)"):
        _fold(chunks, specs, [None])


def _one_blob(family: str, rng) -> bytes:
    k = BLOB_K[family]
    if family == "aod":
        sk = AodSketch(k, 1)
        sk.update_batch(rng.integers(0, 300, 40), rng.uniform(0, 1, 40))
        return sk.serialize()
    if family == "fdt":
        vals = pd.Series([np.array([f"d{v}", "x"], dtype=object) for v in rng.integers(0, 30, 20)])
    elif family in ("kll_items", "frequent_items", "reservoir", "ebpps", "cms", "bloomfilter"):
        vals = pd.Series([f"v{v}" for v in rng.integers(0, 50, 40)], dtype=object)
    elif family in ("kll", "quantiles", "req", "tdigest", "stats"):
        vals = pd.Series(rng.lognormal(0.0, 1.0, 40))
    else:
        vals = pd.Series(rng.integers(0, 3000, 200), dtype=np.int64)
    sk = create_sketch(family, build_params(family, k, vals))
    update_sketch(family, sk, vals)
    return sk.serialize()


def _blob_batches(families, n_batches=3) -> list[pd.DataFrame]:
    """Blob columns over groups a-c plus "z", whose blobs are all NULL."""
    rng = np.random.default_rng(9)
    out = []
    for _ in range(n_batches):
        g = list(GROUPS[rng.integers(0, len(GROUPS), 10)]) + ["z", "z"]
        cols = {"g": g}
        for fam in families:
            blobs = [_one_blob(fam, rng) for _ in range(10)] + [None, None]
            blobs[3] = None
            cols[fam] = pd.Series(blobs, dtype=object)
        out.append(pd.DataFrame(cols))
    return out


@pytest.mark.parametrize("per_batch", [True, False], ids=["per-batch", "one-chunk"])
def test_blob_merge_matches_update_sketch(per_batch):
    families = sorted(FAMILY_CLASSES)
    specs = [(fam, fam, BLOB_K[fam], fam) for fam in families]
    chunks = _chunks(_blob_batches(families), per_batch)
    kinds = [None] * len(specs)
    got = _fold(chunks, specs, kinds, merge=True)
    _assert_same(got, _reference(chunks, specs, kinds, merge=True), specs)
    # the all-NULL blob group is an empty sketch of every family
    for spec, sk in zip(specs, got[("z",)]):
        assert sk.serialize() == create_sketch(spec[1], build_params(spec[1], spec[2], None)).serialize(), spec
    assert got[("z",)][families.index("stats")].n == 0


@pytest.mark.parametrize("family", ["hll", "cpc"])
def test_raw_blob_values_mixed_with_sketch_blobs(family):
    """HLL/CPC hash a BINARY value that is not a sketch blob and merge
    one that is; both kinds share a column and a group here."""
    rng = np.random.default_rng(4)
    out = []
    for _ in range(3):
        n = 12
        vals = []
        for j in range(n):
            if j % 3 == 0:
                vals.append(_one_blob(family, rng))
            elif j % 5 == 4:
                vals.append(None)
            else:
                vals.append(b"raw-%d" % rng.integers(0, 1000))
        out.append(pd.DataFrame({
            "g": GROUPS[rng.integers(0, len(GROUPS), n)],
            "b": pd.Series(vals, dtype=object),
        }))
    specs = [("b", family, 10, "out")]
    for chunks in (out, _chunks(out, False)):
        got = _fold(chunks, specs, [None])
        _assert_same(got, _reference(chunks, specs, [None]), specs)
        pure = _fold([c.assign(b=[v if v is None or v[:4] != b"raw-" else None for v in c["b"]]) for c in chunks], specs, [None])
        # the raw values really were hashed in, not dropped
        assert any(got[k][0].serialize() != pure[k][0].serialize() for k in got)
