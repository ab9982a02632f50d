"""Pure-Spark merge/snapshot twins of the Postgres sync (X2/X3).

The reference pushes its MERGE into Postgres
(``/root/reference/src/dask_felleskomponenter/felleskomponenter/
sync_df_to_pgdb.py:222-252``); these are the same semantics as
DataFrame algebra, so the behavior is oracle-testable without a
database and usable against any Spark-writable target (Parquet here;
on a lakehouse the natural physical form is Delta
``MERGE INTO`` — same logical result).

Merge semantics being twinned (see ``sync/postgres.py::merge_sql``):

- target row with NO staging match on the keys        → kept as-is
- target row matched by staging ``update_type='delete'`` → removed
- target row matched by staging ``update_type != 'delete'`` → replaced
- target row matched by staging NULL update_type       → kept as-is
  (``MATCHED AND ut='delete'`` and ``MATCHED AND ut != 'delete'`` are
  both NULL-false, so no WHEN branch fires — reference
  ``sync_df_to_pgdb.py:243-246``)
- staging non-delete row with no target match          → inserted
- staging delete-or-NULL row with no target match      → silently ignored
  (``NOT MATCHED AND ut != 'delete'`` is NULL-false too)
- the ``update_type`` column never appears in the result
- NULL keys never match (SQL equality), on either side
- duplicate staging key tuples are a caller error: Postgres MERGE
  raises when one target row matches several staging rows, while the
  DataFrame twin would silently fan out — opt into
  ``validate_unique_keys=True`` to get the MERGE-like failure

Shape & scale: one left-anti join (target vs staging keys) plus a
union — the anti join shuffles on the merge keys only and AQE turns it
into a broadcast when the staging side is small, which is the common
CDC case (big target, small delta).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
    update_type_col: str = "update_type",
    validate_unique_keys: bool = False,
) -> DataFrame:
    """Apply a staging delta to a target DataFrame with MERGE semantics.

    ``staging`` must carry ``update_type_col``; rows with value
    ``'delete'`` are deletions, other non-NULL values are upserts, and
    NULL fires no MERGE branch at all (matched target rows survive
    untouched, unmatched NULL rows are not inserted) — matching the
    reference's ``WHEN MATCHED AND ut = 'delete' / MATCHED AND ut !=
    'delete' / NOT MATCHED AND ut != 'delete'`` three-valued logic.
    Result columns = target columns (the update-type column is dropped).

    ``validate_unique_keys=True`` runs one aggregation job over staging
    and raises if any key tuple occurs twice AMONG ROWS THAT CAN FIRE a
    WHEN branch — the condition under which real Postgres MERGE errors
    out instead of fanning out. NULL-keyed rows match no target row
    (each simply inserts; MERGE does not error) and NULL update_type
    rows fire no branch, so neither counts toward the duplicate check.
    """
    from dask_felleskomponenter_spark.operators.shuffle import (
        backquoted_name,
        quoted_col,
    )

    if isinstance(keys, str):
        # 'id' would iterate character-wise below — at best a
        # misleading "keys absent: ['i', 'd']", at worst (single-char
        # columns exist) a silent merge on the wrong key set
        raise TypeError(
            f"keys must be a sequence of column names, got the string "
            f"{keys!r} — pass [{keys!r}]"
        )
    if update_type_col not in staging.columns:
        raise ValueError(
            f"staging is missing the update-type column {update_type_col!r}"
        )
    missing = [k for k in keys if k not in target.columns or k not in staging.columns]
    if missing:
        raise ValueError(f"merge keys absent from target or staging: {missing}")
    # quoted_col throughout: a legal column literally named `order.id`
    # must resolve exactly, not as a struct-field path (same class the
    # salting/zorder helpers were fixed for).
    if validate_unique_keys:
        fireable = staging.filter(quoted_col(update_type_col).isNotNull())
        for k in keys:
            fireable = fireable.filter(quoted_col(k).isNotNull())
        # Postgres MERGE errors only when one TARGET row is affected by
        # multiple source rows — duplicate source keys that match no
        # target row are legal (each fires NOT MATCHED independently;
        # duplicate tombstones in a CDC batch are the common case), so
        # the duplicate check must be scoped to target-matching keys.
        matching = fireable.join(
            target.select(
                *(quoted_col(k).alias(k) for k in keys)
            ).dropDuplicates(list(keys)),
            on=list(keys),
            how="semi",
        )
        dup = (
            matching.groupBy(*(quoted_col(k).alias(k) for k in keys))
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"staging has duplicate merge-key tuples matching a "
                f"target row (e.g. {dup[0]}); Postgres MERGE would "
                "raise on this input"
            )

    # SQL MERGE `ON t.k = s.k` null semantics: NULL never matches, so a
    # null-keyed target row survives and a null-keyed staging upsert
    # inserts. Spark's join condition has the same semantics natively.
    # Dataset.col accepts backquoted names, giving df-qualified exact
    # resolution even for dotted column names (escaping rule owned by
    # shuffle.backquoted_name).
    cond = [
        target[backquoted_name(k)] == staging[backquoted_name(k)]
        for k in keys
    ]

    # Only staging rows with a non-NULL update_type can fire a WHEN
    # MATCHED branch; a NULL-typed staging row must leave its matched
    # target row in place, so it is excluded from the anti-join side.
    effective = staging.filter(quoted_col(update_type_col).isNotNull())
    untouched = target.join(effective, on=cond, how="left_anti")
    applied = (
        staging.filter(quoted_col(update_type_col) != F.lit("delete"))
        .select(*(quoted_col(c).alias(c) for c in target.columns))
    )
    return untouched.unionByName(applied)


def snapshot_overwrite(staging: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Snapshot publish as algebra: the target is simply replaced by the
    staging content (``sync_df_to_pgdb.py:204-218`` minus the
    transactional TRUNCATE/INSERT, which is the sink's concern)."""
    return staging.select(*(columns or staging.columns))


def merge_into_path(
    target_path: str,
    staging: DataFrame,
    keys: Sequence[str],
    update_type_col: str = "update_type",
    fmt: str = "parquet",
    validate_unique_keys: bool = False,
) -> DataFrame:
    """Read a Parquet/ORC target, merge the staging delta, write back.

    A missing target path bootstraps on first call: the staging inserts
    (non-delete, non-NULL update_type) become the initial table — the
    same behavior a caller gets from merging into an empty table.

    The merged result is written to a sibling staging directory and
    swapped in by ``os.rename`` — an in-place ``mode('overwrite')``
    deletes the target before the new write commits, so a crash or
    executor loss mid-write would destroy the only durable copy (the
    previous ``localCheckpoint`` backing lived in executor memory and
    dies with the process). A swap interrupted between the two renames
    is recovered from ``.old`` on the next call. On Delta-capable
    clusters prefer ``DeltaTable.merge`` — same logical semantics,
    transactional, no rewrite of untouched files.
    """
    import os

    from dask_felleskomponenter_spark.ioutil import path_mutex, swap_publish

    spark = staging.sparkSession
    # The read-merge-swap is a read-modify-write: overlapping merges on
    # one host would each fold only their own delta and the last swap
    # would silently drop the other's — serialize under the path mutex.
    with path_mutex(target_path):
        with swap_publish(target_path) as staging_dir:
            if not os.path.exists(target_path):
                # First-call bootstrap (mirrors refresh_incremental_summary's
                # "created on first call"): an empty target matches nothing,
                # so the merge result is exactly the staging inserts —
                # non-NULL, non-delete rows, update-type column dropped.
                if update_type_col not in staging.columns:
                    raise ValueError(
                        f"staging is missing the update-type column "
                        f"{update_type_col!r}"
                    )
                # Validate the merge keys NOW, not on the second call: a
                # typo'd key would otherwise bootstrap a durable table
                # successfully and only error once the bad copy is already
                # the published one. (Duplicate staging keys are legal here:
                # an empty target has no row for several sources to hit, so
                # Postgres MERGE would not raise either.)
                missing = [k for k in keys if k not in staging.columns]
                if missing:
                    raise ValueError(f"merge keys absent from staging: {missing}")
                from dask_felleskomponenter_spark.operators.shuffle import (
                    quoted_col,
                )

                merged = staging.filter(
                    quoted_col(update_type_col) != F.lit("delete")  # NULL-false
                ).drop(update_type_col)
            else:
                target = spark.read.format(fmt).load(target_path)
                merged = merge_upsert(
                    target,
                    staging,
                    keys,
                    update_type_col,
                    validate_unique_keys=validate_unique_keys,
                )
            merged.write.format(fmt).mode("overwrite").save(staging_dir)
        # The return-read must bind to files INSIDE the mutex: a
        # concurrent merge/compaction on the same path has a window
        # between its two swap renames where the live dir is absent —
        # an unlocked read races it (PATH_NOT_FOUND at listing time).
        # The returned frame stays lazy: jobs run on it AFTER a later
        # swap still see this merge's files only until that swap reaps
        # them, which is the documented contract of any lazy reader
        # over a swap-published path (re-read after a publish).
        result = spark.read.format(fmt).load(target_path)
    return result
