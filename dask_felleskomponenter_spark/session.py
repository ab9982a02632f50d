"""SparkSession factory with scale-appropriate defaults.

The reference leaves all session construction to Databricks
(``SparkSession.builder.getOrCreate()`` at
``governance/main.py:16``). Here we own the session and set the knobs
that matter on a real cluster:

- AQE (adaptive execution) for runtime join-strategy changes, partition
  coalescing and skew-join splitting — the 100 TB posture is "declare the
  plan, let AQE re-plan with real statistics".
- ``spark.sql.shuffle.partitions`` sized to the parallelism actually
  available (``SPARK_GRAFT_CPUS`` or the host's cores, at least 8;
  ``get_spark(shuffle_partitions=...)`` overrides it — a 1000-executor
  cluster wants thousands).
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver environments (parquet naive micros == displayed wall-clock).
- Arrow enabled for any pandas interchange.
- The compiled-codegen class cache sized to the declared set's working
  set, so a session compiles each generated class once.
"""

from __future__ import annotations

import contextlib
import os
import warnings

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "dask-felleskomponenter-spark"

#: Entries in Spark's compiled whole-stage-codegen class cache
#: (``spark.sql.codegen.cache.maxEntries``, default 100). One pass of
#: the declared 158-query set at sf0.01 with an unbounded cache compiles
#: about 1750 distinct classes (1731-1755, `tools/codegen_census.py`).
#: At the default size the LRU cache evicts each class before its next
#: use: a second pass compiled 2299 classes again with Janino, and the
#: JVM JIT-compiled each one anew. At this size a repeat pass recompiles
#: 16-21 classes, from sources that embed an AQE-assigned
#: ``codegenStageId`` (see README). 2.3x headroom over the working set.
#: Static conf: ``get_spark`` builds it in, ``tune_session`` sets it on
#: a session that has not compiled yet.
CODEGEN_CACHE_ENTRIES = 4096
_CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

#: Runtime-settable engine defaults, built into ``get_spark`` sessions
#: and applied by ``tune_session`` to sessions built elsewhere.
_RUNTIME_DEFAULTS = (
    ("spark.sql.adaptive.enabled", "true"),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
    ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    # Read parquet naive timestamps as session-TZ TIMESTAMP (LTZ), not
    # TIMESTAMP_NTZ: with the session pinned to UTC the wall-clock values
    # are identical, but NTZ is rejected by unix_micros & friends and
    # DuckDB oracles compare as naive-in-UTC either way.
    ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    # The testdata's events.parquet carries TIMESTAMP(NANOS);
    # without this, any read that doesn't go through load_table (which
    # also sets it) fails with PARQUET_TYPE_ILLEGAL.
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    # InferFiltersFromGenerate synthesizes `size(e) > 0 AND
    # isnotnull(e)` under every non-outer explode/posexplode and
    # pushes it through the projections — re-inlining the generator
    # input expression into an interpreted Filter. For this
    # engine's staged token/shingle arrays that meant the whole
    # tokenizer re-ran ~14x per row before the real projection ran
    # it once more (measured 3x on the inverted-index explode, the
    # stage every dedup/similarity operator starts with). The
    # rule's upside — pruning empty-array rows before the generate
    # — is a row-count nicety this engine's exploders don't need;
    # its downside scales with the generator expression, which is
    # exactly what a 100 TB text pipeline makes expensive.
    (
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    ),
)


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on ``spark`` for the body of the ``with`` block.

    On exit, normal or by an exception, each key gets back the value it
    had before; a key that was unset before is unset again (not pinned
    to its current default)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _env_flag(name: str, default: str = "false") -> str:
    """Normalize a truthy env var to the literal 'true'/'false' the JVM
    boolean parser accepts ('1'/'yes' would fail at first use, not at
    session build)."""
    return (
        "true"
        if os.environ.get(name, default).strip().lower()
        in ("true", "1", "yes", "on")
        else "false"
    )


def _env_positive_int(name: str) -> int | None:
    """Positive integer from the environment, else None. isdigit alone
    accepts '0', which builds an INVALID session (local[0] refuses to
    start) — the guard exists to make typo'd values fall back, so zero
    must fall back too."""
    raw = os.environ.get(name, "").strip()
    return int(raw) if raw.isdigit() and int(raw) > 0 else None


def _default_parallelism() -> int:
    return _env_positive_int("SPARK_GRAFT_CPUS") or os.cpu_count() or 8


def _external_master_configured() -> bool:
    """True when the launch environment already carries a master —
    ``spark-submit --master yarn`` reaches the Python driver through
    ``PYSPARK_SUBMIT_ARGS`` (and some launchers use ``MASTER``). In that
    case ``get_spark`` must leave ``.master()`` unset so the submit-time
    choice wins instead of silently forcing local[N] on the driver
    host."""
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    return (
        "--master" in submit_args
        or "spark.master" in submit_args
        or bool(os.environ.get("MASTER"))
    )


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    par = _default_parallelism()
    if master is None:
        # Respect an externally-provided master (spark-submit --master /
        # spark.master conf): unconditionally calling .master() would
        # silently force a cluster job into local mode on the driver
        # host. Fall back to local[N] only when nothing else set one.
        master = os.environ.get("SPARK_MASTER") or None
        if master is None and not _external_master_configured():
            master = f"local[{par}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(par, 8)

    # Pre-importing worker daemon (pydaemon.py): with worker reuse OFF
    # (required — see below), every task forks a fresh Python worker
    # and pays `import pandas`/`import pyarrow` (~0.3-0.5 s) inside its
    # critical path. The daemon-module hook imports the stack once in
    # the daemon parent so forks inherit it copy-on-write — fresh-fork
    # semantics at reused-worker import cost. It also drops the
    # parent's zip finders before forking, removing a second per-task
    # constant that even reused workers pay under the stock daemon:
    # each task's `importlib.invalidate_caches()` re-reads pyspark.zip
    # and the spark-core jar (0.17-0.24 s per task, measured on a
    # 4-core box). The daemon is spawned as
    # `python -m <module>` in a fresh process, so the package dir must
    # be on PYTHONPATH (the env var, not this process's sys.path);
    # export it before the JVM starts. Static conf: applies when this
    # factory creates the JVM.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _py_path = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + os.pathsep + _py_path if _py_path else _pkg_root
        )

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for key, value in _RUNTIME_DEFAULTS:
        builder = builder.config(key, value)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # normalize truthy env values — the JVM accepts only true/false
        .config("spark.ui.enabled", _env_flag("SPARK_UI_ENABLED"))
        .config("spark.driver.maxResultSize", "2g")
        # Local mode runs driver AND all executor threads in one JVM;
        # Spark's 1g default heap makes a 32-thread run GC-thrash once a
        # few dozen queries have accumulated shuffle/broadcast state.
        # Static conf: applies when this factory creates the JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # Compile each generated class once per session, not once per
        # pass (see CODEGEN_CACHE_ENTRIES). Static conf: applies when
        # this factory creates the JVM.
        .config(_CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
        # Fork a fresh Python worker per task instead of reusing daemons:
        # long-lived reused workers accumulate interpreter state from
        # earlier Arrow/pandas stages and the next numpy-using
        # applyInPandas stage measured 10-40s (vs 2s with fresh forks).
        # Linux fork via the pyspark daemon is cheap; measured no
        # regression on the non-UDF query set.
        .config("spark.python.worker.reuse", "false")
        # The context cleaner only reclaims shuffle files/broadcasts when
        # driver GC collects their weak refs; with a 16g heap that can be
        # never in a long session, so disk state accumulates across a
        # multi-query run. Force a periodic GC (default is 30min).
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    # Fresh forks inherit a daemon that has ALREADY imported
    # numpy/pandas/pyarrow (see pydaemon.py and the PYTHONPATH export
    # above) — removes the per-task import constant the reuse=false
    # policy would otherwise charge every Python stage. LOCAL MODE
    # ONLY by default: the daemon is spawned by each executor as
    # `python -m dask_felleskomponenter_spark.pydaemon`, and the
    # PYTHONPATH export above only reaches executors that share this
    # process's environment (local mode). On a cluster-manager-launched
    # executor the import would fail and kill every Python-UDF task —
    # pydaemon's try/except guards the numeric stack, not module
    # resolution. Opt in on a cluster by setting SPARK_GRAFT_PY_DAEMON
    # after shipping the package (spark.submit.pyFiles / a baked
    # image); set SPARK_GRAFT_PY_DAEMON= (empty) to disable even
    # locally.
    _daemon_env = os.environ.get("SPARK_GRAFT_PY_DAEMON")
    if _daemon_env is not None:
        _daemon = _daemon_env.strip()
    elif master is not None and master.startswith("local"):
        _daemon = "dask_felleskomponenter_spark.pydaemon"
    else:
        _daemon = ""
    if _daemon:
        builder = builder.config("spark.python.daemon.module", _daemon)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    The verification driver hands us its own session; runtime confs (AQE,
    timezone) are still settable per `SQLConf` semantics. The codegen
    class cache size (``spark.sql.codegen.cache.maxEntries``) is a
    static conf that ``spark.conf.set`` refuses, but Spark builds the
    cache from the session's conf at its first compile. Until then the
    session conf is written directly and the cache gets
    ``CODEGEN_CACHE_ENTRIES``. A session that has already compiled keeps
    the cache it has (a bare builder's is 100 entries, which the
    declared set overflows on every pass): this warns and leaves the
    conf alone. A session without a JVM (Spark Connect) gets the
    runtime defaults only.
    """
    for key, value in _RUNTIME_DEFAULTS:
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    try:
        conf = spark._jsparkSession.sessionState().conf()
    except AttributeError:  # no JVM: Spark Connect or a stand-in
        return spark
    if int(conf.getConfString(_CODEGEN_CACHE_KEY)) >= CODEGEN_CACHE_ENTRIES:
        return spark
    if codegen_compiles(spark) == 0:
        conf.setConfString(_CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
    else:
        warnings.warn(
            f"{_CODEGEN_CACHE_KEY} is fixed once the session compiles "
            f"generated code; this session keeps "
            f"{conf.getConfString(_CODEGEN_CACHE_KEY)} entries. Call "
            f"tune_session before the first query to get "
            f"{CODEGEN_CACHE_ENTRIES}.",
            stacklevel=2,
        )
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Number of generated classes this session's JVM has compiled so
    far (Spark's ``CodegenMetrics`` compilation-time histogram count).
    A cache hit does not compile, so the rise over a repeated workload
    counts its recompiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
