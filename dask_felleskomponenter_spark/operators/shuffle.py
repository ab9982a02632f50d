"""Shuffle-layout helpers shared by the blocking/dedup operators.

AQE's partition coalescing sizes post-shuffle partitions by BYTES. That
is the right call for scan/agg pipelines at scale, but wrong for
blocked self-joins: a few thousand short rows (kilobytes) can fan out
into hundreds of thousands of comparison pairs, and byte-based
coalescing funnels that CPU-bound work into ONE task (measured 7× on
the blocked edit-distance join at sf0.1). A user-specified
``repartition(n, key)`` compiles to REPARTITION_BY_NUM, which AQE is
contractually not allowed to coalesce — so the window/join stages that
ride it keep their parallelism while the rest of the plan stays under
AQE control.

This module is also the one place that reads the session's parallelism
(``parallelism``, ``shuffle_width``, ``python_width``): every explicit
fan-out width in the package derives from these three, so the fallback
for a session that cannot report its cores is decided once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

#: Cores assumed when the session cannot report them (Spark Connect has
#: no ``sparkContext``): Spark's own ``spark.sql.shuffle.partitions``
#: default, i.e. the width Spark itself assumes for an unknown cluster.
#: Erring wide is the scale-safe side — an under-wide pinned exchange
#: on a large input makes huge tasks, an over-wide Python stage only
#: pays extra worker forks.
_UNKNOWN_PARALLELISM = 200


def parallelism(spark: SparkSession) -> int:
    """The cluster's task slots (``defaultParallelism``), or
    ``_UNKNOWN_PARALLELISM`` when the session has no ``sparkContext``."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext
        return _UNKNOWN_PARALLELISM


def shuffle_width(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions``; ``parallelism``
    when it is not an integer ("auto" on Connect-style sessions)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return parallelism(spark)


def python_width(spark: SparkSession) -> int:
    """Explicit fan-out for multi-stage Python (pandas-UDF /
    ``mapInPandas``) pipelines: a quarter of the cores, never below 4.

    With ``spark.python.worker.reuse=false`` (required, see session.py)
    every task of every Python stage forks a worker, a per-task constant
    that full ``shuffle_width`` multiplies by stages × partitions. The
    image profile measured 2.4 s at width 32, 1.46 s at 8 and 2.2 s on
    one task; a quarter keeps the decode parallel at 4× fewer forks per
    stage. Since the worker daemon drops its zip finders before
    forking, a 1-task ``mapInPandas`` stage costs about 0.18 s and an
    8-task one about 0.32 s (4-core box, down from 0.35 s and 0.75 s);
    the quarter was chosen at the old cost, so re-measure with plan
    hashes before changing it."""
    return max(4, parallelism(spark) // 4)


def pinned_repartition(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Hash-repartition by ``cols`` with an EXPLICIT partition count
    (``shuffle_width``), exempting the exchange from AQE byte-based
    coalescing. Use ahead of count windows and self-joins whose per-row
    fan-out, not byte size, is the cost, and right after a scan whose
    file layout caps parallelism (one-row-group parquet reads as one
    task per file) when the next stage is CPU-bound per row.

    Public API; README "Parallelism escape hatches" documents when NOT
    to use it on a real cluster (byte-heavy pipelines, multi-stage
    Python pipelines with non-reused workers — those take an explicit
    ``repartition(python_width(spark), key)`` — and mismatched
    downstream distributions)."""
    return df.repartition(shuffle_width(df.sparkSession), *cols)


def nonnull_guard(name: str, dtype, op: str, reason: str) -> Column:
    """Column ``name``, raising on a NULL value the first time an action
    touches it: ``"{op}: NULL '{name}' — {reason}"``.

    Id columns that key per-row decisions (edges, pairs, anti-join
    screens) cannot be made well-defined for NULL, and a plan-build-time
    type check cannot see values. Codegen folds the null check to
    nearly free and column pruning cannot elide it. ``dtype`` is the
    column's type (the raise branch is cast to it). Takes a name, not a
    DataFrame, so callers place it in their own projection; quoted_col
    makes a dotted id resolve exactly, not as a struct path."""
    from pyspark.sql import functions as F

    return F.when(quoted_col(name).isNotNull(), quoted_col(name)).otherwise(
        F.raise_error(F.lit(f"{op}: NULL {name!r} — {reason}")).cast(dtype)
    )


def backquoted_name(name: str) -> str:
    """The backtick-escaped string form of an exact column name, for
    APIs that take name STRINGS (``df[...]``, DDL fragments) rather
    than Columns. One owner for the escaping rule — ``quoted_col`` and
    ``sync/merge.py``'s df-qualified resolution both delegate here."""
    return "`" + name.replace("`", "``") + "`"


def quoted_col(name: str) -> Column:
    """Exact-name column reference: a bare ``F.col`` parses a dot as a
    struct-field path, so a legal column literally named ``user.id``
    would raise UNRESOLVED_COLUMN from every helper that feeds schema
    names back into expressions. Backticks (doubled when embedded)
    force exact resolution."""
    from pyspark.sql import functions as F

    return F.col(backquoted_name(name))


def deterministic_row_salt(df: DataFrame, buckets: int) -> Column:
    """Per-row salt in ``[0, buckets)``: hash of (partition id, every
    hashable column). Shared by ``joins.salted_join`` and
    ``aggregates.two_phase_salted_agg``.

    Why this shape: the row hash alone would send fully-identical rows —
    common in event data — to one bucket, re-creating the hot reducer
    for duplicate-heavy keys; mixing in ``spark_partition_id()`` spreads
    those across buckets while staying deterministic under task retries
    (partition membership is fixed by the upstream plan, unlike
    ``rand()``; and unlike ``monotonically_increasing_id`` there is no
    per-row driver state).

    Map-typed columns are excluded: Spark rejects hash expressions over
    maps (DATATYPE_MISMATCH.HASH_MAP_TYPE). A schema with NO hashable
    column at all (every column contains a map) is a loud error: the
    salt would collapse to one constant per partition, silently
    rebuilding the hot reducer the salt exists to break — and there is
    no retry-deterministic per-row value left to hash.
    """
    from pyspark.sql import functions as F

    # quoted_col, not raw names: xxhash64(*names) resolves via col(),
    # which would parse a dotted column name as a struct-field path
    hashable = [quoted_col(c) for c in hashable_columns(df.schema)]
    if not hashable:
        raise ValueError(
            "deterministic_row_salt: no hashable columns (every column "
            "contains a map) — the salt would be constant per "
            "partition; add a hashable key column before salting"
        )
    return F.pmod(
        F.xxhash64(F.spark_partition_id(), *hashable), F.lit(buckets)
    )


def fresh_name(base: str, *dfs: DataFrame, extra: set[str] | None = None) -> str:
    """A column name starting with ``base`` that collides with no column
    of any ``dfs`` (nor ``extra`` names). Operators that stage internal
    helper columns (salts, buckets, cell ids) must not silently replace
    a same-named user column — ``withColumn`` overwrites and the final
    ``drop`` would then delete user data (round-6 review finding).

    Collisions are checked CASE-INSENSITIVELY: Spark's default
    ``spark.sql.caseSensitive=false`` makes withColumn/drop resolve a
    user column ``_SALT`` against a helper named ``_salt`` — the exact
    silent-overwrite-then-delete this helper exists to prevent. A
    false positive under a case-sensitive session merely picks the
    suffixed name, which is always safe."""
    taken = {n.casefold() for n in (extra or ())}
    for df in dfs:
        taken.update(n.casefold() for n in df.columns)
    if base.casefold() not in taken:
        return base
    i = 0
    while f"{base}{i}".casefold() in taken:
        i += 1
    return f"{base}{i}"


def ensure_absent(name: str, df: DataFrame, what: str = "output") -> None:
    """Raise if ``name`` collides (case-insensitively) with a column of
    ``df``. Output-contract columns (callers select them by name) can't
    be silently ``fresh_name``-d away — a collision must be a loud
    error, never a ``withColumn`` overwrite that destroys user data.
    One helper so the policy can't drift per module (round-9 review:
    the inline copies in three modules had already diverged — two
    window operators were missing the guard entirely)."""
    if any(c.casefold() == name.casefold() for c in df.columns):
        raise ValueError(
            f"{what} column {name!r} collides with an existing column; "
            f"pass a different name"
        )


def as_key_list(keys, what: str = "partition_by") -> list:
    """Normalize a window/group key argument: wrap a bare string (which
    would ``*``-splat into per-character column names — ``'uid'`` →
    ``partitionBy('u','i','d')``) and reject an empty sequence (a
    zero-key window is a single global partition, the one-reducer OOM
    shape the window module's header forbids at scale — if a global
    window is genuinely wanted, pass ``[F.lit(1)]`` explicitly)."""
    if isinstance(keys, str):
        return [keys]
    out = list(keys)
    if not out:
        raise ValueError(
            f"{what} is empty: a zero-key window spans the whole dataset "
            f"(single-partition shuffle). Pass [F.lit(1)] explicitly if "
            f"a global window is intended."
        )
    return out


def ensure_prefix_free(
    prefix: str, value_cols, against, what: str = "left"
) -> None:
    """Raise if any ``{prefix}{col}`` output name collides with a column
    in ``against``. Prefixed output names are API (callers select them
    by name), so unlike internal helper columns they can't be silently
    ``fresh_name``-d away — a collision must be a loud error before the
    join builds an ambiguous plan. Case-insensitive, matching
    ``fresh_name`` and Spark's default ``spark.sql.caseSensitive=false``
    resolution (a user column ``RNG_VALUE`` resolves against a prefixed
    ``rng_value`` just as fatally as an exact-case twin)."""
    taken = {n.casefold() for n in against}
    clash = sorted(
        f"{prefix}{c}"
        for c in value_cols
        if f"{prefix}{c}".casefold() in taken
    )
    if clash:
        raise ValueError(
            f"prefixed output column(s) {clash} collide with "
            f"{what} columns; pass a different prefix"
        )


def hashable_columns(schema) -> list[str]:
    """Column names of ``schema`` safe to feed to ``xxhash64``/``hash``:
    everything except columns containing a MapType anywhere in their
    type tree (Spark raises DATATYPE_MISMATCH.HASH_MAP_TYPE on those).
    Shared by ``deterministic_row_salt`` and
    ``sources.tables.compact_parquet``'s spread key."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _contains_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _contains_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_contains_map(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in schema.fields if not _contains_map(f.dataType)]
