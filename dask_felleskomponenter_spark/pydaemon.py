"""Python-worker daemon that pre-imports the heavy numeric stack.

``spark.python.worker.reuse`` must stay ``false`` in this engine
(long-lived reused workers accumulate interpreter state and degrade
late-session pandas stages 5-10x — re-measured this round, see
OPTIMIZATION_r10.md), so every task forks a FRESH worker from the
pyspark daemon. The fork itself is cheap, but every task then pays two
constants inside its critical path:

1. The first pandas/Arrow batch runs ``import pandas`` +
   ``import pyarrow`` (~0.3-0.5 s of pure interpreter work).
2. ``pyspark.worker_util.setup_spark_files`` calls
   ``importlib.invalidate_caches()`` — on every task, reused worker or
   not. Every ``zipimporter`` in the worker's inherited
   ``sys.path_importer_cache`` then re-reads its archive's central
   directory: the ~10 finders under ``pyspark.zip`` (~11 ms each) and
   the ~3 under the 15 MB ``spark-core`` jar (45-93 ms each) cost
   0.17-0.24 s per task on a 4-core box.

Both multiply by stages x partitions in the multimodal/raster/GEMM
pipelines.

Forked children inherit the parent's ``sys.modules`` copy-on-write, so
importing the stack ONCE here — in the daemon parent, before any fork —
removes constant 1 from every worker while keeping fresh-fork
semantics: no worker ever re-enters a dirty interpreter, the daemon
itself runs no task code, and its pages are shared read-only across all
concurrent workers. Constant 2 goes by dropping the daemon's zip
finders right before it starts forking (``drop_zip_finders``): the
task's ``invalidate_caches()`` then finds no archive to re-read
(0.8 ms instead of 0.17-0.24 s). Wired up via
``spark.python.daemon.module`` (the standard daemon-override hook,
same mechanism PySpark's own coverage tooling uses) in
``session.get_spark``; a missing numeric stack degrades to the stock
behavior (workers import on demand) rather than failing the daemon.
"""

from __future__ import annotations

import sys
import zipimport

try:  # pragma: no cover - exercised via executor forks, not pytest
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    # The Arrow-serializer module every pandas_udf / mapInPandas /
    # applyInPandas worker loads before its first batch; importing it
    # here also pulls the pandas type-conversion helpers.
    import pyspark.sql.pandas.serializers  # noqa: F401
except ImportError:
    # Environments without the numeric stack still get a working
    # daemon; workers that need pandas will fail at UDF time with the
    # stock error, exactly as without this module.
    pass

# pyspark.daemon's module-level code also handles the optional
# ``argv[1]`` worker-module override, so importing it here preserves
# the stock daemon contract unchanged.
from pyspark.daemon import manager  # noqa: E402


def drop_zip_finders() -> int:
    """Remove every ``zipimporter`` from ``sys.path_importer_cache``;
    returns how many went.

    ``zipimport._zip_directory_cache`` stays: modules already imported
    keep their own loaders, and a later import that needs a zip finder
    again rebuilds it from the cached directory without reading the
    archive. Finders of other kinds are left alone."""
    cache = sys.path_importer_cache
    stale = [
        path
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter)
    ]
    for path in stale:
        del cache[path]
    return len(stale)


if __name__ == "__main__":
    drop_zip_finders()
    manager()
