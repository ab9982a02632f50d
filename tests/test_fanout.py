"""Fan-out width: ``operators/shuffle.py`` is the one reader of the
session's parallelism, and every width derived from it keeps its
pinned formula (pure-Python checks, no Spark job runs)."""

from __future__ import annotations

import ast
import math
import pathlib
from types import SimpleNamespace

import pytest

from dask_felleskomponenter_spark.operators import shuffle
from dask_felleskomponenter_spark.operators.similarity import _gemm_blocks

PACKAGE = pathlib.Path(shuffle.__file__).resolve().parents[1]
SHUFFLE_KEY = "spark.sql.shuffle.partitions"
CORES = range(1, 1025)


def _session(cores=None, shuffle_partitions="8"):
    """A stand-in session: ``cores=None`` has no sparkContext (Spark
    Connect); ``shuffle_partitions`` is what the conf returns."""
    conf = SimpleNamespace(get=lambda key: {SHUFFLE_KEY: shuffle_partitions}[key])
    if cores is None:
        return SimpleNamespace(conf=conf)
    return SimpleNamespace(
        conf=conf, sparkContext=SimpleNamespace(defaultParallelism=cores)
    )


# The formulas the widths had when each call site read parallelism on
# its own; the helpers must reproduce them exactly.
def _pinned_width(cores, conf):
    try:
        return int(conf)
    except (TypeError, ValueError):
        return cores


def _python_width(cores):
    return max(4, cores // 4)


def _cosine_blocks(cores, est_bytes):
    if est_bytes >= (1 << 60):
        est_bytes = 0
    size_blocks = min(256, math.isqrt(est_bytes // (8 << 20)))
    return max(2, math.isqrt(max(cores, 2) // 2), size_blocks)


@pytest.mark.parametrize("conf", ["8", "200", "auto", None])
def test_shuffle_width_matches_pinned_formula(conf):
    for cores in CORES:
        got = shuffle.shuffle_width(_session(cores, conf))
        assert got == _pinned_width(cores, conf), (cores, conf)


def test_python_width_is_the_quarter_rule():
    for cores in CORES:
        assert shuffle.python_width(_session(cores)) == _python_width(cores)


@pytest.mark.parametrize(
    "est_bytes",
    [0, 1 << 20, 8 << 20, 100 << 20, 1 << 30, 64 << 30, 1 << 50,
     (1 << 60) - 1, 1 << 60, (1 << 63) - 1],
)
def test_cosine_blocks_match_cores_rule_and_size_floor(est_bytes):
    for cores in CORES:
        got = _gemm_blocks(shuffle.parallelism(_session(cores)), est_bytes)
        assert got == _cosine_blocks(cores, est_bytes), (cores, est_bytes)


def test_cc_loop_width_is_capped_by_shuffle_width():
    from dask_felleskomponenter_spark.operators.graph import (
        _CC_ROWS_PER_PARTITION,
        _cc_loop_partitions,
    )

    spark = _session(4, "8")
    assert _cc_loop_partitions(spark, 1) == 1
    assert _cc_loop_partitions(spark, 3 * _CC_ROWS_PER_PARTITION) == 3
    assert _cc_loop_partitions(spark, 100 * _CC_ROWS_PER_PARTITION) == 8


def test_unknown_parallelism_has_one_fallback():
    """Without a sparkContext every width derives from the one
    documented fallback."""
    spark = _session(None, "auto")
    n = shuffle._UNKNOWN_PARALLELISM
    assert shuffle.parallelism(spark) == n
    assert shuffle.shuffle_width(spark) == n
    assert shuffle.python_width(spark) == _python_width(n)


def _parallelism_reads(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr == "defaultParallelism":
            found.append(f"{path.name}:{node.lineno} defaultParallelism")
        if (
            isinstance(node, ast.Constant)
            and node.value == SHUFFLE_KEY
            and path.name != "session.py"  # sets the key, never reads it
        ):
            found.append(f"{path.name}:{node.lineno} {SHUFFLE_KEY}")
    return found


def test_only_shuffle_module_reads_parallelism():
    """Every fan-out width derives from ``operators/shuffle.py``; a
    second reader would bring back a second fallback."""
    owner = pathlib.Path(shuffle.__file__).resolve()
    offenders = [
        hit
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.resolve() != owner
        for hit in _parallelism_reads(path)
    ]
    assert offenders == []
    assert _parallelism_reads(owner)  # the scan can see a real read
