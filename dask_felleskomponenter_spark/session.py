"""SparkSession factory with scale-appropriate defaults.

The reference leaves all session construction to Databricks
(``SparkSession.builder.getOrCreate()`` at
``governance/main.py:16``). Here we own the session and set the knobs
that matter on a real cluster:

- AQE (adaptive execution) for runtime join-strategy changes, partition
  coalescing and skew-join splitting — the 100 TB posture is "declare the
  plan, let AQE re-plan with real statistics".
- ``spark.sql.shuffle.partitions`` sized to the parallelism actually
  available (env-tunable; a 1000-executor cluster wants thousands, the
  local test harness wants ~2×cores).
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver environments (parquet naive micros == displayed wall-clock).
- Arrow enabled for any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "dask-felleskomponenter-spark"


def _env_flag(name: str, default: str = "false") -> str:
    """Normalize a truthy env var to the literal 'true'/'false' the JVM
    boolean parser accepts ('1'/'yes' would fail at first use, not at
    session build). One helper so the accepted-token list cannot drift
    between knobs."""
    return (
        "true"
        if os.environ.get(name, default).strip().lower()
        in ("true", "1", "yes", "on")
        else "false"
    )


def _env_positive_int(name: str) -> int | None:
    """Positive integer from the environment, else None. isdigit alone
    accepts '0', which builds an INVALID session (local[0] refuses to
    start; shuffle.partitions=0 fails every shuffling query at runtime)
    — the guard exists to make typo'd values fall back, so zero must
    fall back too."""
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
        # positive-int-guarded like SPARK_GRAFT_CPUS: a typo'd value —
        # including '0' — falls back instead of building a session that
        # fails at runtime
        shuffle_partitions = _env_positive_int(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS"
        ) or max(par, 8)

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
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet naive timestamps as session-TZ TIMESTAMP (LTZ), not
        # TIMESTAMP_NTZ: with the session pinned to UTC the wall-clock values
        # are identical, but NTZ is rejected by unix_micros & friends and
        # DuckDB oracles compare as naive-in-UTC either way.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Same nanos handling as tune_session: the driver testdata's
        # events.parquet carries TIMESTAMP(NANOS), and a get_spark
        # session must be able to read it directly — not only through
        # load_table (which also sets this). The two engine-defaults
        # surfaces must not drift.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
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
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
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
        # Fork a fresh Python worker per task instead of reusing daemons:
        # long-lived reused workers accumulate interpreter state from
        # earlier Arrow/pandas stages and the next numpy-using
        # applyInPandas stage measured 10-40s (vs 2s with fresh forks).
        # Linux fork via the pyspark daemon is cheap; measured no
        # regression on the non-UDF query set.
        .config(
            "spark.python.worker.reuse",
            _env_flag("SPARK_GRAFT_PY_WORKER_REUSE"),
        )
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
    timezone) are still settable per `SQLConf` semantics. Static confs are
    left alone.
    """
    for key, value in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        # the driver's events.parquet carries TIMESTAMP(NANOS); without
        # this, any read that doesn't go through load_table fails with
        # PARQUET_TYPE_ILLEGAL (load_table also sets it, but a tuned
        # session should not depend on load_table having run first)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # see get_spark: the inferred pre-generate filter re-inlines
        # expensive generator inputs (tokenizer ~14x per row)
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        ),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark
