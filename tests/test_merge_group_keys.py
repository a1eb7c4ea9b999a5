"""Group keys through the two-phase merge.

Phase 2 routes each partial blob by Spark's hash of its group key and
groups the blobs of one reduce partition in pandas.  These keys are the
ones where hash routing, pandas grouping and Catalyst grouping could
disagree: NULL int and string keys, -0.0/0.0/NaN double keys (pandas
renders NULL doubles as NaN, so NULL and NaN share one group, emitted
as NULL), a two-column key with NULLs, and the ungrouped case.  The
input has 4 partitions, so every key has several partials, and Arrow
batches of 3 rows make one key's partials span several phase-2 batches.
Every estimate is an exact-mode theta distinct count.
"""

import pytest
from pyspark.sql import functions as F

from datasketches_spark import register
from datasketches_spark.aggregation import sketch_agg_multi

_DOUBLES = [None, -0.0, 0.0, float("nan"), 1.5]

EXPECTED = {
    "ki": {0: 107.0, 1: 107.0, 2: 106.0, None: 80.0},
    "ks": {"s0": 85.0, "s1": 86.0, "s2": 86.0, "s3": 85.0, None: 58.0},
    "kd": {0.0: 160.0, 1.5: 80.0, None: 160.0},
    "a,b": {
        (0, "t0"): 60.0, (0, "t1"): 60.0, (0, "t2"): 61.0, (0, None): 19.0,
        (1, "t0"): 61.0, (1, "t1"): 61.0, (1, "t2"): 60.0, (1, None): 18.0,
    },
    "": {(): 400.0},
}


@pytest.fixture(scope="module")
def keyed(spark):
    register(spark)
    rows = [
        (
            None if i % 5 == 0 else i % 3,
            None if i % 7 == 0 else f"s{i % 4}",
            _DOUBLES[i % 5],
            i % 2,
            None if i % 11 == 0 else f"t{i % 3}",
            i,
        )
        for i in range(400)
    ]
    rdd = spark.sparkContext.parallelize(rows, 4)
    return spark.createDataFrame(
        rdd, "ki INT, ks STRING, kd DOUBLE, a INT, b STRING, v BIGINT"
    )


@pytest.mark.parametrize("keys", list(EXPECTED))
def test_one_row_per_key_exact_estimates(spark, keyed, keys):
    group_cols = keys.split(",") if keys else []
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        rows = sketch_agg_multi(
            keyed, [("v", "theta", 12, "sk")], group_cols
        ).select(
            *group_cols, F.expr("datasketch_theta_estimate(sk)").alias("e")
        ).collect()
    finally:
        spark.conf.set(conf, old)
    got = [(tuple(r[:-1]), r.e) for r in rows]
    want = {
        (k if isinstance(k, tuple) else (k,)): e
        for k, e in EXPECTED[keys].items()
    }
    assert len(got) == len(want), got
    assert dict(got) == want
