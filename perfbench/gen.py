"""Seeded input generators with numpy ground truth.

Each generator writes parquet inputs plus ``truth.npz`` into a directory
of its own under ``base`` (named by generator, parameters and seed), so the program under test only ever sees generated files and
the checks compare its answers with exact answers computed here.  The
same seed gives byte-identical inputs.  A finished directory holds a
``DONE`` marker and is reused instead of regenerated.

- :func:`wide_facts`: few groups, many rows (``build_wide``).
- :func:`stored_facts`: tens of thousands of group keys, few rows each
  (``stored_sketches``).
- :func:`tpch_like`: the star schema of the sf0.1 test fixture (same
  tables, columns, types, row counts and value ranges), which the
  ``bench.HEADS`` queries run over.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ranks at which quantile answers are checked
RANKS = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
TOP_ITEMS = 10
ROW_GROUP = 1 << 18


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy")


def _finish(tmp: str, out: str) -> str:
    open(os.path.join(tmp, "DONE"), "w").close()
    os.replace(tmp, out)
    return out


def data_dir(base: str, name: str, seed: int, params: dict) -> str:
    """Where the inputs for (generator, parameters, seed) live."""
    tag = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    return os.path.join(base, f"{name}-{tag}-s{seed}")


def _prepare(out: str) -> str | None:
    """Return a temp dir to fill, or None when ``out`` is already complete."""
    if os.path.exists(os.path.join(out, "DONE")):
        return None
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _group_keys(rng, groups: int, rows: int, pool: int) -> tuple[np.ndarray, np.ndarray]:
    """Rows spread evenly over ``groups``; each group draws its int64 keys
    with replacement from a private pool of ``pool`` random values, so a
    group's distinct count is known exactly and is below ``pool``."""
    g = np.repeat(np.arange(groups, dtype=np.int64), rows // groups)
    rng.shuffle(g)
    pools = rng.integers(0, 1 << 62, size=(groups, pool), dtype=np.int64)
    key = pools[g, rng.integers(0, pool, size=g.size)]
    return g, key


def _distinct_per(g: np.ndarray, key: np.ndarray, groups: int) -> np.ndarray:
    order = np.lexsort((key, g))
    gs, ks = g[order], key[order]
    first = np.concatenate([[True], (gs[1:] != gs[:-1]) | (ks[1:] != ks[:-1])])
    return np.bincount(gs[first], minlength=groups).astype(np.int64)


def _sorted_by_group(g: np.ndarray, x: np.ndarray, groups: int):
    """(x sorted within each group, offsets) — exact ranks by searchsorted."""
    order = np.lexsort((x, g))
    offsets = np.concatenate([[0], np.cumsum(np.bincount(g, minlength=groups))])
    return x[order], offsets


WIDE = {"rows": 1_048_576, "groups": 128, "pool": 32768, "vocab": 50_000, "coarse_shift": 4}


def wide_facts(base: str, seed: int) -> str:
    """``g`` (128 groups of 8192 rows), ``key`` int64 (known distinct count
    per group), ``x`` lognormal double, ``s`` zipf-distributed string.
    Coarse rollup keys are ``g >> 4`` (8 keys of 16 groups)."""
    out = data_dir(base, "wide", seed, WIDE)
    tmp = _prepare(out)
    if tmp is None:
        return out
    rng = np.random.default_rng([seed, 1])
    p = WIDE
    g, key = _group_keys(rng, p["groups"], p["rows"], p["pool"])
    x = rng.lognormal(3.0, 1.2, size=g.size)
    rank = np.minimum(rng.zipf(1.3, size=g.size), p["vocab"]) - 1
    vocab = pa.array([f"item_{i:05d}" for i in range(p["vocab"])])
    _write(
        pa.table(
            {
                "g": pa.array(g),
                "key": pa.array(key),
                "x": pa.array(x),
                "s": vocab.take(pa.array(rank)),
            }
        ),
        os.path.join(tmp, "facts.parquet"),
    )
    xs, offsets = _sorted_by_group(g, x, p["groups"])
    # true heavy hitters per group: the TOP_ITEMS most frequent ranks
    counts = np.zeros((p["groups"], p["vocab"]), dtype=np.int64)
    np.add.at(counts, (g, rank), 1)
    top = np.argsort(-counts, axis=1, kind="stable")[:, :TOP_ITEMS]
    np.savez(
        os.path.join(tmp, "truth.npz"),
        distinct=_distinct_per(g, key, p["groups"]),
        coarse_distinct=_distinct_per(
            g >> p["coarse_shift"], key, p["groups"] >> p["coarse_shift"]
        ),
        x_sorted=xs,
        offsets=offsets,
        top_items=np.array([[f"item_{i:05d}" for i in row] for row in top]),
        top_counts=np.take_along_axis(counts, top, axis=1),
        rows=np.int64(g.size),
    )
    return _finish(tmp, out)


STORED = {"rows": 131_072, "groups": 512, "pool": 1024, "coarse_shift": 2}


def stored_facts(base: str, seed: int) -> str:
    """``g`` (512 fine keys, 256 rows each), ``key`` int64, ``x`` double.
    Coarse rollup keys are ``g >> 2`` (128 keys of 4 fine keys)."""
    out = data_dir(base, "stored", seed, STORED)
    tmp = _prepare(out)
    if tmp is None:
        return out
    rng = np.random.default_rng([seed, 2])
    p = STORED
    g, key = _group_keys(rng, p["groups"], p["rows"], p["pool"])
    x = rng.lognormal(3.0, 1.2, size=g.size)
    _write(
        pa.table({"g": pa.array(g), "key": pa.array(key), "x": pa.array(x)}),
        os.path.join(tmp, "facts.parquet"),
    )
    coarse = g >> p["coarse_shift"]
    n_coarse = p["groups"] >> p["coarse_shift"]
    xs, offsets = _sorted_by_group(g, x, p["groups"])
    np.savez(
        os.path.join(tmp, "truth.npz"),
        distinct=_distinct_per(g, key, p["groups"]),
        coarse_distinct=_distinct_per(coarse, key, n_coarse),
        x_sorted=xs,
        offsets=offsets,
        rows=np.int64(g.size),
    )
    return _finish(tmp, out)


_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
_T0_US = 788_918_400_000_000  # 1995-01-01 in microseconds since the epoch
_DAY_US = 86_400_000_000


def _days(rng, n: int, span_days: int) -> pa.Array:
    d = rng.integers(0, span_days, size=n).astype(np.int64)
    return pa.array(_T0_US + d * _DAY_US, type=pa.timestamp("us"))


def _pick(rng, choices: list[str], n: int) -> pa.Array:
    return pa.array(choices).take(pa.array(rng.integers(0, len(choices), size=n)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, words.size, size=k)]) for k in lens]
    # 8 exact duplicates and ~5% near duplicates (a copy plus one word)
    src = rng.choice(n, size=8 + n // 20, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), size=src.size, replace=False)
    for i, (a, b) in enumerate(zip(src, dst)):
        texts[b] = texts[a] if i < 8 else texts[a] + " dup"
    langs = ["en"] * 5 + ["de", "fr", "es", "zh"] * 2
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, langs, n),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


TPCH_VERSION = {"tables": 10, "version": 1}


def tpch_like(base: str, seed: int) -> str:
    """The sf0.1 star schema: region nation customer supplier part orders
    lineitem events documents embeddings, at the fixture's row counts."""
    out = data_dir(base, "sf0.1", seed, TPCH_VERSION)
    tmp = _prepare(out)
    if tmp is None:
        return out
    rng = np.random.default_rng([seed, 3])
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    tables = {
        "region": pa.table(
            {
                "r_regionkey": i32(np.arange(5)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(
                    rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            np.array("blue old small new large hot cold red".split())[
                                rng.integers(0, 8, n_part)
                            ],
                            np.array("widget gizmo ring gear bolt plate rod anvil".split())[
                                rng.integers(0, 8, n_part)
                            ],
                        )
                    ]
                ),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
                "p_type": _pick(
                    rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _days(rng, n_ord, 2404),
                "o_orderpriority": _pick(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["O", "F"], n_li),
                "l_shipdate": _days(rng, n_li, 2498),
            }
        ),
    }
    n_ev = 100_000
    ts = np.sort(
        rng.integers(0, 30 * _DAY_US, n_ev) + 1_704_067_200_000_000  # 2024-01-01
    )
    tables["events"] = pa.table(
        {
            "event_id": i64(np.arange(n_ev)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": i64(rng.integers(0, 1500, n_ev)),
            "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rng, 5_000)
    emb = rng.standard_normal((2_000, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": i64(np.arange(2_000)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": i32(rng.integers(0, 10, 2_000)),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    return _finish(tmp, out)
