"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import ast
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import bench  # noqa: E402
import checks  # noqa: E402
import runner  # noqa: E402
import session  # noqa: E402
import tracing  # noqa: E402


def _bench_builder_calls():
    """(method, args) of every literal builder call in bench.main()."""
    tree = ast.parse(open(os.path.join(ROOT, "bench.py")).read())
    main = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "main")
    calls = []
    for node in ast.walk(main):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            args = [a.value for a in node.args if isinstance(a, ast.Constant)]
            if node.func.attr in ("config", "appName") and len(args) == len(node.args):
                calls.append((node.func.attr, tuple(args)))
    return calls


def test_session_confs_match_bench_py():
    calls = _bench_builder_calls()
    confs = dict(args for attr, args in calls if attr == "config")
    assert confs == session.BENCH_CONFS
    assert ("appName", (session.APP_NAME,)) in calls


def test_session_uses_fastworker_sentinel_and_scale_confs():
    from datasketches_spark import tuning

    assert session.BENCH_CONFS["spark.python.daemon.module"] == "datasketches_spark.fastworker"
    assert session.BENCH_CONFS["spark.sql.execution.arrow.maxBytesPerBatch"] == (
        tuning.ARROW_BYTE_LIMIT_OFF
    )
    src = open(os.path.join(HERE, "session.py")).read()
    assert "tuning.scale_confs(tuning.dir_bytes(data_dir), cores=n_cpus)" in src


def test_heads_come_from_bench_py():
    import heads

    assert heads.ALL_HEADS[: len(bench.HEADS)] == tuple(bench.HEADS)
    assert set(heads.EXACT_HEADS) <= set(heads.ALL_HEADS)


def test_tail_leaves_ten_samples_beyond():
    value, pct, beyond = runner.tail([float(i) for i in range(100)])
    assert (value, pct, beyond) == (89.0, 89, 10)
    assert runner.tail([float(i) for i in range(32)])[2] == 10


def test_allowed_misses_is_a_binomial_tail():
    assert checks.allowed_misses(10, 0.0) == 0
    assert 0 < checks.allowed_misses(384, 0.0027) < 10


def test_uncovered_time_between_stages():
    assert tracing.uncovered(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (6.0, 12.0)]) == 3.0
    assert tracing.uncovered(0.0, 1.0, []) == 1.0
