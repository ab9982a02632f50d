"""Session helpers: the scoped conf override, the runtime defaults
shared by ``get_spark`` and ``tune_session``, and the codegen class
cache size ``get_spark`` builds in and ``tune_session`` sets on a
session that has not compiled yet."""

from __future__ import annotations

import subprocess
import sys
from types import SimpleNamespace

import pytest

from dask_felleskomponenter_spark import session as session_mod
from dask_felleskomponenter_spark.session import (
    _RUNTIME_DEFAULTS,
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    scoped_conf,
    tune_session,
)
from tests.conftest import REPO_ROOT

SET_KEY = "spark.sql.sources.partitionColumnTypeInference.enabled"
UNSET_KEY = "spark.sql.codegen.factoryMode"


def test_scoped_conf_restores_after_body_raises(spark):
    spark.conf.set(SET_KEY, "true")
    spark.conf.unset(UNSET_KEY)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_conf(spark, {SET_KEY: "false", UNSET_KEY: "NO_CODEGEN"}):
                assert spark.conf.get(SET_KEY) == "false"
                assert spark.conf.get(UNSET_KEY) == "NO_CODEGEN"
                raise RuntimeError("boom")
        assert spark.conf.get(SET_KEY) == "true"
        # a key that was unset before is unset again, not pinned
        assert spark.conf.get(UNSET_KEY, None) is None
    finally:
        spark.conf.unset(SET_KEY)


def test_scoped_conf_restores_previous_value(spark):
    spark.conf.set(SET_KEY, "false")
    try:
        with scoped_conf(spark, {SET_KEY: "true"}):
            assert spark.conf.get(SET_KEY) == "true"
        assert spark.conf.get(SET_KEY) == "false"
    finally:
        spark.conf.unset(SET_KEY)


def test_get_spark_and_tune_session_apply_the_same_defaults(spark):
    """The fixture session comes from get_spark: it already carries
    every runtime default, and tune_session sets exactly those keys."""
    for key, value in _RUNTIME_DEFAULTS:
        assert spark.conf.get(key) == value, key

    calls = []
    tune_session(SimpleNamespace(conf=SimpleNamespace(
        set=lambda key, value: calls.append((key, value))
    )))
    assert tuple(calls) == _RUNTIME_DEFAULTS


CACHE_KEY = "spark.sql.codegen.cache.maxEntries"


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records every conf and
    returns it from ``getOrCreate`` instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch, **kwargs):
    """The conf ``get_spark(**kwargs)`` would build a session with."""
    monkeypatch.setattr(
        session_mod,
        "SparkSession",
        SimpleNamespace(builder=_RecordingBuilder()),
    )
    return session_mod.get_spark(**kwargs)


def test_get_spark_sizes_codegen_cache_and_extra_conf_overrides(
    spark, monkeypatch
):
    # the fixture session is built by get_spark
    assert spark.conf.get(CACHE_KEY) == str(CODEGEN_CACHE_ENTRIES)

    assert _built_conf(monkeypatch)[CACHE_KEY] == str(CODEGEN_CACHE_ENTRIES)
    conf = _built_conf(monkeypatch, extra_conf={CACHE_KEY: "64"})
    assert conf[CACHE_KEY] == "64"


def test_get_spark_ignores_retired_env_knobs(monkeypatch):
    """Python worker reuse stays off and the shuffle width follows the
    core count whatever the environment says; ``shuffle_partitions``
    and ``extra_conf`` are the ways to set the width."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_GRAFT_PY_WORKER_REUSE", "true")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "3")

    conf = _built_conf(monkeypatch)
    assert conf["spark.python.worker.reuse"] == "false"
    assert conf["spark.sql.shuffle.partitions"] == "8"  # max(cores, 8)
    conf = _built_conf(monkeypatch, shuffle_partitions=3)
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_repeat_pass_compiles_no_generated_class(spark):
    """A workload of more distinct generated classes than Spark's
    default cache (100 entries) holds compiles each class once per
    session: the second pass is all cache hits. At the default size
    the cache evicts every class before its reuse and the second pass
    recompiles them all."""

    def one_pass():
        # one distinct whole-stage class (plus its collect projection)
        # per literal pair
        for i in range(80):
            spark.range(4).selectExpr(f"id * {i + 2} + {i} AS c").collect()

    before = codegen_compiles(spark)
    one_pass()
    first = codegen_compiles(spark) - before
    assert first > 100  # more than the default cache holds
    one_pass()
    assert codegen_compiles(spark) - before - first == 0


_BARE_SESSION_REPEAT_PASS = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from dask_felleskomponenter_spark.session import codegen_compiles, tune_session

spark = tune_session(SparkSession.builder.master("local[2]").getOrCreate())


def one_pass():
    for i in range(80):
        spark.range(4).selectExpr(f"id * {i + 2} + {i} AS c").collect()


before = codegen_compiles(spark)
one_pass()
first = codegen_compiles(spark) - before
one_pass()
print(first, codegen_compiles(spark) - before - first)
spark.stop()
"""


def test_tune_session_sizes_codegen_cache_of_bare_session():
    """A session from a bare builder (a fresh JVM, Spark's 100-entry
    cache) passed through tune_session before its first query compiles
    each generated class once: the repeat pass is all cache hits."""
    proc = subprocess.run(
        [sys.executable, "-c", _BARE_SESSION_REPEAT_PASS, REPO_ROOT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    first, second = map(int, proc.stdout.split()[-2:])
    assert first > 100  # more than the default cache holds
    assert second == 0


def test_tune_session_warns_after_first_compile(spark, monkeypatch):
    """Once the JVM has compiled, the cache size is fixed: tune_session
    warns and leaves the conf as it was."""
    spark.range(4).selectExpr("id * 7 AS c").collect()
    assert codegen_compiles(spark) > 0
    before = spark.conf.get(CACHE_KEY)
    monkeypatch.setattr(
        session_mod, "CODEGEN_CACHE_ENTRIES", 2 * int(before)
    )
    with pytest.warns(UserWarning, match=CACHE_KEY):
        tune_session(spark)
    assert spark.conf.get(CACHE_KEY) == before
