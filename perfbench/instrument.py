"""Spans around the library's layer entry points, for traced passes.

While active, every public function of ``dask_felleskomponenter_spark
.operators.*`` and ``sources.load_table`` is replaced, in its own module
and in every loaded library module that imported it by name (the query
functions, ``sources.dedup_store``, ``sync.merge``, ...), by a wrapper
that opens a span when called inside a traced operation. Function-local
imports inside the query functions resolve to the wrappers too. Only the
outermost operator call gets a span (an operator calling another
operator is part of the outer call), and only calls that receive a
DataFrame or SparkSession: column-expression helpers stay unwrapped in
effect. Everything is restored on exit.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys

from pyspark.sql import DataFrame, SparkSession

PACKAGE = "dask_felleskomponenter_spark"
OPERATORS = f"{PACKAGE}.operators"
TABLES = "dask_felleskomponenter_spark.sources.tables"


def _touches_spark(args, kwargs) -> bool:
    return any(
        isinstance(a, (DataFrame, SparkSession))
        for a in (*args, *kwargs.values())
    )


def _wrap(fn, tracer, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if (
            not tracer.inside("op")  # an untraced operation
            or tracer.inside(layer)
            or not _touches_spark(args, kwargs)
        ):
            return fn(*args, **kwargs)
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return wrapper


def _targets():
    """(layer, module, name, function) for every wrapped entry point."""
    pkg = importlib.import_module(OPERATORS)
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{OPERATORS}.{info.name}")
        for name, fn in vars(mod).items():
            if (
                not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                yield "operators", mod, name, fn
    tables = importlib.import_module(TABLES)
    yield "sources", tables, "load_table", tables.load_table


@contextlib.contextmanager
def instrumented(tracer):
    """Install the wrappers while the block runs (no-op untraced)."""
    if not tracer.enabled:
        yield
        return
    targets = list(_targets())
    namespaces = [m for n, m in list(sys.modules.items())
                  if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
    saved = []
    for layer, mod, name, fn in targets:
        wrapper = _wrap(fn, tracer, layer)
        for ns in namespaces:
            if vars(ns).get(name) is fn:
                saved.append((ns, name, fn))
                setattr(ns, name, wrapper)
    try:
        yield
    finally:
        for ns, name, fn in reversed(saved):
            setattr(ns, name, fn)
