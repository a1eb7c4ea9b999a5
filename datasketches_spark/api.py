"""Pythonic DataFrame-API wrappers over the registered SQL functions.

The reference exposes one flat SQL namespace; Spark users usually want
Column expressions.  After :func:`datasketches_spark.register` has run,
every function is callable here via ``F.call_udf`` -- so the same UDF
objects back both surfaces and behavior cannot drift between them.

Example::

    import datasketches_spark as dss
    from datasketches_spark import api as ds

    dss.register(spark)
    (df.groupBy("country")
       .agg(ds.theta("user_id").alias("sk"))
       .select("country", ds.theta_estimate("sk")))

``api.<name>(*args)`` calls ``datasketch_<name>``: a ``str`` argument
is a column name, a ``Column`` passes through and anything else is a
literal, so ``ds.kll(200, "x")`` is ``datasketch_kll(200, x)``.
Argument shapes to note: ``aod(lg_k, key, values)`` takes ``values``
as an array<double> column (``F.array(...)``; repeated keys SUM their
summaries); ``fdt(lg_k, dims)`` takes ``dims`` as an array<string>
column; ``bloomfilter(lg_m, col)`` builds the Apache-wire BloomFilter
(cross-system bits; 6 hashes, seed 9001).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _call(name, *args) -> Column:
    return F.call_udf(
        name,
        *[a if isinstance(a, Column) else F.col(a) if isinstance(a, str) else F.lit(a) for a in args],
    )


def __getattr__(name: str) -> object:
    """Every ``<family>[_<fn>]`` resolves to its registered UDF --
    e.g. ``api.theta(col)``, ``api.theta_estimate(col)``,
    ``api.kll_quantile(sk, q, inc)``."""

    def caller(*args) -> Column:
        return _call(f"datasketch_{name}", *args)

    caller.__name__ = name
    return caller
