"""Parquet star-schema source layer.

Replaces the reference's catalog scans (``spark.table`` /
``system.information_schema`` SQL, SURVEY.md §2 S1/S2) with open parquet
reads. At cluster scale these would be Delta/Iceberg tables partitioned by
their natural keys; locally they are the driver-generated parquet files.

Scan hygiene (SURVEY.md §4): we never materialize or cache here — callers
compose filters/projections on the returned lazy DataFrames so Catalyst
pushes predicates and prunes columns into the parquet scan
(``PushedFilters`` / ``ReadSchema`` in the physical plan).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.session import scoped_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25 rows — fixed-size in TPC-H-style generators).
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session memo of the LAZY scan DataFrames, keyed by (abs sf_dir,
# table). ``spark.read.parquet`` re-reads the footer for schema
# inference on every call (~0.1 s of serial driver time); a catalog
# table would resolve from cached metadata instead, and this memo is
# that catalog behavior for the path-based layout. It caches only the
# unexecuted logical plan — never rows, never files: every execution
# of a returned DataFrame still scans the parquet. Weak-keyed so a
# stopped session's entries become collectable with it; a fresh
# session (the driver's, each pytest fixture) starts empty.
_SCAN_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _pin_utc(spark: SparkSession) -> None:
    # Parquet naive timestamps are micros-since-epoch; with a UTC session
    # they render as the wall-clock the generator wrote (and as DuckDB
    # reads them), independent of driver-host timezone.
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # pragma: no cover
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table from a scale-factor directory.

    Nanosecond parquet timestamps (the ``events.ts`` column) are not a
    legal Spark type; we read them as raw nanos
    (``legacy.parquet.nanosAsLong``) and truncate to microsecond
    timestamps — the same truncation DuckDB's reader applies, so oracle
    comparisons agree to the microsecond.

    SESSION-GLOBAL SIDE EFFECT, by design: this pins the session
    timezone to UTC and leaves ``nanosAsLong`` enabled for the rest of
    the session. Both are part of the engine's execution contract —
    every declared query must be timezone-stable under any driver-host
    TZ, and a scoped set/restore would race concurrent query
    construction in shared test sessions. Sessions that ALSO read
    foreign nanosecond parquet and want the error instead must unset
    ``spark.sql.legacy.parquet.nanosAsLong`` themselves.
    """
    if name not in TABLE_NAMES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    _pin_utc(spark)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover
        pass
    try:
        memo = _SCAN_MEMO.setdefault(spark, {})
    except TypeError:  # pragma: no cover - unweakrefable session stub
        memo = {}
    key = (os.path.abspath(sf_dir), name)
    df = memo.get(key)
    if df is None:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(ts div 1000)")
            )
        memo[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Lazy scans for several tables; returns ``{name: DataFrame}``.

    ``names=None`` means all tables; an explicit empty tuple means
    none (a caller-computed subset that happens to be empty must not
    silently load everything)."""
    wanted = names if names is not None else TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in wanted}


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist a DataFrame as a bucketed (and bucket-sorted) managed
    table — the co-located-join storage layout.

    Two tables bucketed on their join key with the same bucket count
    join with **zero shuffle** (and zero sort, when ``sort=True``):
    Spark matches bucket files pairwise, so a 100 TB fact⋈fact join
    becomes an embarrassingly-parallel per-bucket merge. This is the
    pre-shuffle you pay once at write time instead of per query —
    the managed-table twin of Delta/Iceberg clustering.
    (``tests/test_plan_shapes.py`` pins the no-Exchange plan.)
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table_name)


def write_sorted_shards(
    df: DataFrame,
    path: str,
    shard_col: str,
    n_shards: int,
    sort_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Training-shard export layout: range-partition into ``n_shards``
    on ``shard_col``, sort within each shard, and cap rows per file —
    the parquet layout an ML dataloader consumes (sequential reads per
    shard, deterministic order, bounded file sizes for work stealing).

    Scale: ``repartitionByRange`` samples shard bounds once (one small
    job) and performs ONE range exchange; ``sortWithinPartitions`` is a
    per-partition sort with no extra shuffle; ``maxRecordsPerFile``
    splits oversized shards at write time without changing
    partitioning. Nothing here funnels through a global sort."""
    out = df.repartitionByRange(n_shards, shard_col)
    out = out.sortWithinPartitions(*(sort_cols or [shard_col]))
    writer = out.write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.parquet(path)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
    granularity: str = "day",
    partition_col: str = "_pdate",
    mode: str = "overwrite",
) -> None:
    """Persist a fact table partitioned by event-time — the standard
    warehouse layout for append-mostly streams (one directory per day/
    month), so every time-bounded query is a PARTITION-PRUNED scan that
    never lists, let alone reads, out-of-range data.

    The partition value is a derived DATE column (``date_trunc`` to
    ``granularity``) kept alongside the original timestamp: partition
    columns are stored in directory names, and truncating the original
    in place would destroy sub-day precision. Readers filter on
    ``partition_col`` (or on ``ts_col`` with a matching range — both
    appear in PartitionFilters once the derived filter is added).
    (``tests/test_plan_shapes.py`` pins the pruned scan.)
    """
    if granularity not in ("day", "month", "year"):
        raise ValueError(f"unsupported granularity {granularity!r}")
    # ensure_absent, not a hand-rolled `in df.columns`: withColumn
    # resolves case-INSENSITIVELY under the default
    # spark.sql.caseSensitive=false, so a user column '_PDATE' passed an
    # exact-match check and was still silently REPLACED by the derived
    # date (the same silent-overwrite class write_zordered was
    # collision-proofed against). The partition column is an intentional
    # output name here, so the fix is a loud error, not a fresh name.
    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_absent,
        quoted_col,
    )

    ensure_absent(partition_col, df, what="partition_col")

    out = df.withColumn(
        partition_col, F.date_trunc(granularity, quoted_col(ts_col)).cast("date")
    )
    out.write.mode(mode).partitionBy(partition_col).parquet(path)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> None:
    """Register each table as a temp view for ``spark.sql`` use (S4)."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def zorder_key(cols: list[str], bits: int = 16) -> "Column":
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    integer column into one long — points close in ALL dimensions get
    close keys, so range-partitioning on the key co-locates
    multi-dimensional neighbourhoods in the same files.

    Pure codegen'd bit arithmetic (shift/and/or terms); inputs must be
    non-negative ints (pre-bucket floats via ``floor(x / cell)``)."""
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    n = len(cols)
    if not 1 <= n <= 4:
        raise ValueError("zorder_key supports 1-4 columns")
    if int(bits) < 1:
        # a non-positive bits builds an empty interleave loop — the key
        # is lit(0) for every row, one range partition, zero clustering
        # and zero min/max pruning, with no error anywhere downstream
        raise ValueError(f"bits must be >= 1, got {bits!r}")
    # The interleaved key must fit the 63 value bits of a signed long:
    # bit 63 is the sign (a set top bit range-partitions to the FIRST
    # shard, destroying locality) and Java shifts wrap mod 64 (silent
    # wrong interleaving). Clamp per-column bits to what fits.
    bits = min(int(bits), 63 // n)
    key = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        col = quoted_col(c).cast("long")
        for i in range(bits):
            bit = F.shiftright(col, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + d))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet layout: range-partition + sort on the
    Morton key of ``zorder_cols``, so every file covers a compact
    hyper-rectangle and a predicate on ANY of the dimensions prunes
    most files via parquet min/max stats — the open-source equivalent
    of Delta's OPTIMIZE ZORDER BY.

    Scale: one range exchange on an 8-byte key plus per-partition
    sorts; no global single-reducer sort."""
    from dask_felleskomponenter_spark.operators.shuffle import fresh_name

    # fresh_name, not a hardcoded '_zkey': a same-named USER column
    # would be silently overwritten by withColumn and then deleted by
    # drop — the dataset written to disk missing a column, no error
    zk = fresh_name("_zkey", df)
    key = zorder_key(zorder_cols, bits=bits)
    out = (
        df.withColumn(zk, key)
        .repartitionByRange(n_files, zk)
        .sortWithinPartitions(zk)
        .drop(zk)
    )
    out.write.mode(mode).parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target)`` files (optionally re-sorted), via a
    staging directory and swap so readers never see a partial rewrite.
    Returns the new file count.

    Hive-partitioned layouts (``key=value`` subdirectories) are
    preserved: partition columns are re-written with ``partitionBy`` so
    downstream partition pruning keeps working and the values stay in
    the directory names, not the data files.

    The operational fix for streaming/append workloads that accrete
    thousands of KB-scale files (each file costs a task, a footer read,
    and an object-store request at 100 TB). Coalesce, not repartition:
    when shrinking the file count no shuffle is needed.

    The swap is all sibling-directory ``os.rename`` steps (atomic on a
    single filesystem); a crash between renaming the live directory
    away and renaming the staging in is recovered on the next call from
    the ``.old`` backup."""
    import math
    import re

    from dask_felleskomponenter_spark.ioutil import path_mutex, swap_publish

    # Same-host mutual exclusion as the other two swap call sites
    # (sync/merge.py, sync/incremental.py): two concurrent compactions
    # of one path could otherwise interleave recover/rename/rmtree —
    # one run deleting the other's .old backup mid-swap leaves neither
    # live nor backup intact. Multi-HOST writers need a transactional
    # table format (the callers' documented posture).
    with path_mutex(path):
        with swap_publish(path) as staging:
            total = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _dn, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )
            n_files = max(1, math.ceil(total / target_file_bytes))
            # hive-partitioned layout? (key=value subdirectories at top level)
            part_cols: list[str] = []
            probe = path
            while True:
                subdirs = [
                    d
                    for d in os.listdir(probe)
                    if os.path.isdir(os.path.join(probe, d))
                    and re.match(r"^[^=]+=", d)
                ]
                if not subdirs:
                    break
                part_cols.append(subdirs[0].split("=", 1)[0])
                probe = os.path.join(probe, subdirs[0])
            # Partition VALUES must survive byte-identical: with type
            # inference on, 'key=007' reads back as int 7 and rewrites as
            # 'key=7', breaking readers that filter on the original
            # string. Read the values as strings for the round-trip.
            with scoped_conf(
                spark,
                {"spark.sql.sources.partitionColumnTypeInference.enabled": "false"},
            ):
                df = spark.read.parquet(path)
            if part_cols:
                # per-partition compaction. Hashing on the partition
                # columns alone would funnel each partition VALUE into one
                # task and one file regardless of size, so a
                # within-partition spread key splits hot partitions into
                # ~target-byte chunks; the key=value layout and partition
                # pruning survive the rewrite either way.
                n_leaf_parts = max(
                    1,
                    len(
                        {
                            dp
                            for dp, _dn, fs in os.walk(path)
                            if any(f.endswith(".parquet") for f in fs)
                        }
                    ),
                )
                spread = max(1, math.ceil(n_files / n_leaf_parts))
                # The spread key must be DETERMINISTIC in the row data:
                # under a shuffle fetch-failure/stage-retry, recomputed map
                # tasks re-evaluate the key, and a non-deterministic one
                # (monotonically_increasing_id, rand) can route rows to
                # different reducers than the original run — silently
                # duplicating or dropping rows in the rewritten (only
                # durable) copy. Spark guards round-robin repartition
                # against exactly this (SPARK-23207); an arbitrary
                # non-deterministic key gets no such recompute barrier.
                # Map-typed columns can't be hashed (Spark raises
                # DATATYPE_MISMATCH.HASH_MAP_TYPE), so restrict the key to
                # the hashable subset — same rule deterministic_row_salt
                # uses. spark_partition_id() is mixed in (it is fixed by
                # the upstream scan's splits, so still retry-deterministic)
                # because the row hash alone sends fully-IDENTICAL rows —
                # common in event data — to one spread bucket, rebuilding
                # the single giant file the spread exists to break.
                from ..operators.shuffle import hashable_columns, quoted_col

                data_cols = [
                    quoted_col(c)
                    for c in hashable_columns(df.schema)
                    if c not in part_cols
                ]
                spread_key = F.pmod(
                    F.xxhash64(F.spark_partition_id(), *data_cols), F.lit(spread)
                )
                out = df.repartition(n_files, *part_cols, spread_key)
                if sort_cols:
                    # partition columns FIRST: the partitionBy writer
                    # requires its input ordered by the partition columns
                    # and would otherwise insert its own sort — Spark's
                    # external sort is not stable, so the requested
                    # sort_cols order inside each file would be destroyed.
                    # With the prefix satisfied, no extra sort is added and
                    # the within-file order survives.
                    out = out.sortWithinPartitions(*part_cols, *sort_cols)
                out.write.mode("overwrite").partitionBy(*part_cols).parquet(
                    staging
                )
            else:
                out = df.coalesce(n_files)
                if sort_cols:
                    out = out.sortWithinPartitions(*sort_cols)
                out.write.mode("overwrite").parquet(staging)
        return len(
            [
                f
                for _dp, _dn, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            ]
        )
