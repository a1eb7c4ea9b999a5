"""``bench.py``'s 21 ``HEADS`` plus its two extra heads, over ``gen.tpch_like``.

The head list and the two extra heads are imported from ``bench.py``, so
they cannot drift from the repository's headline bench.  The first pass is
the cold warm-up; the second is timed.  Heads whose ``oracle_sql()`` answer
is exact on this fixture must match DuckDB over the same parquet; every
other head must give its warm-up answer again.
"""

from __future__ import annotations

import importlib.util
import os
import time

import bench
import __spark_entry__ as entry

from datasketches_spark import tuning

EXTRA_HEADS = ("hll_native_distinct", "scalar_over_2k_stored")
ALL_HEADS = tuple(bench.HEADS) + EXTRA_HEADS
# estimation-mode sketches at this scale: checked against the warm-up
ESTIMATED_HEADS = ("theta_distinct_orders", "hll_union_custkey", "cpc_distinct_parts")
# every other head with an oracle_sql() twin is exact on the generated
# fixture (exact-mode sketches, exact operators): DuckDB is the reference
EXACT_HEADS = tuple(
    h for h in bench.HEADS if h in entry.oracle_sql() and h not in ESTIMATED_HEADS
)


def _oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_head(spark, name: str, sf_dir: str, queries: dict):
    """(wall seconds as bench.py times it, canonical rows)."""
    if name == "scalar_over_2k_stored":
        n, dt = bench._bench_scalar_over_stored(spark, sf_dir)
        return dt, [repr(n)]
    df = (
        bench._bench_hll_native(spark, sf_dir)
        if name == "hll_native_distinct"
        else queries[name](spark, sf_dir)
    )
    try:
        t0 = time.perf_counter()
        rows = df.collect()
        dt = time.perf_counter() - t0
    finally:
        spark.catalog.clearCache()
    return dt, (df.columns, [r.asDict() for r in rows])


class Heads:
    def __init__(self, root: str, spark, sf_dir: str, n_cpus: int):
        self.oracle = _oracle_module(root)
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = entry.queries()
        for k, v in tuning.scale_confs(tuning.dir_bytes(sf_dir), cores=n_cpus).items():
            spark.conf.set(k, v)

    def canon(self, answer):
        if isinstance(answer, list):
            return answer
        cols, rows = answer
        return self.oracle.canon(rows, cols)

    def duckdb_answer(self, name: str):
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.oracle.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            rel = con.sql(entry.oracle_sql()[name])
            return self.oracle.canon(rel.fetchall(), list(rel.columns))
        finally:
            con.close()

    def check(self, name: str, warmup, answer) -> str | None:
        got = self.canon(answer)
        if name in EXACT_HEADS:
            if got != self.duckdb_answer(name):
                return f"{name}: answer differs from DuckDB's exact SQL"
        elif got != self.canon(warmup):
            return f"{name}: answer differs from its warm-up answer"
        return None
