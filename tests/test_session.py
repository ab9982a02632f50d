"""Session helpers: the scoped conf override and the runtime defaults
shared by ``get_spark`` and ``tune_session``."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from dask_felleskomponenter_spark.session import (
    _RUNTIME_DEFAULTS,
    scoped_conf,
    tune_session,
)

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
