"""Incremental aggregate maintenance (materialized-view refresh).

The warehouse pattern the reference's snapshot sync cannot express:
keep a per-key summary table current under append-only batches at cost
O(|batch| + |summary|) instead of re-aggregating the full history. For
decomposable aggregates (SUM / COUNT — and AVG as SUM/COUNT at read
time) the refresh is:

    delta   = batch.groupBy(keys).agg(partials)
    summary = (summary ∪ delta).groupBy(keys).agg(merge partials)

Scale posture: the history table is never read — only the (small,
per-key) summary and the new batch shuffle. The rewrite goes through a
staging path and an atomic-ish swap so a failed refresh never leaves a
half-written summary; a lakehouse table format (Delta/Iceberg) would
replace the swap with a transactional MERGE, with the same dataflow.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: count column maintained alongside the sums — needed to merge AVG and
#: to keep refreshes idempotent-checkable
COUNT_COL = "_n_rows"


def _nn_col(c: str) -> str:
    """Per-column non-null count column name (SQL AVG divides by this,
    not by the group row count)."""
    return f"_nn_{c}"


def _aggregate(df: DataFrame, keys: Sequence[str], sum_cols: Sequence[str]) -> DataFrame:
    # quoted_col discipline (the round-8 merge_upsert fix, round-10 for
    # this module): bare-string groupBy/sum parse a dotted column as a
    # struct path — UNRESOLVED_COLUMN at best, and with a same-named
    # struct present, silently aggregating the NESTED field instead
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    return df.groupBy(*[quoted_col(k).alias(k) for k in keys]).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[F.sum(quoted_col(c)).alias(c) for c in sum_cols],
        *[F.count(quoted_col(c)).alias(_nn_col(c)) for c in sum_cols],
    )


def refresh_incremental_summary(
    spark: SparkSession,
    summary_path: str,
    batch_df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Fold one append-only batch into the parquet summary at
    ``summary_path`` (created on first call). Returns the refreshed
    summary DataFrame.

    The merge is a union + re-aggregate of two per-key tables — one
    shuffle of summary-sized data. The new summary is written to a
    staging directory that is a *sibling* of ``summary_path`` (same
    filesystem, so every step of the swap is an atomic ``os.rename``):

        1. write staging            (crash → old summary untouched)
        2. rename summary → .old    (crash → recovered on next entry)
        3. rename staging → summary (atomic)
        4. remove .old

    A crash between 2 and 3 leaves the history in ``.old``; entry
    recovery renames it back before reading, so accumulated state is
    never silently dropped.

    The whole read-fold-swap runs under ``ioutil.path_mutex``:
    overlapping scheduled refreshes on one host would otherwise both
    read the same old summary and the last swap would silently drop the
    other batch's contribution (lost update). Multi-host writers need a
    transactional table format — the module docstring's Delta/Iceberg
    note."""
    from dask_felleskomponenter_spark.ioutil import path_mutex, swap_publish
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    with path_mutex(summary_path):
        with swap_publish(summary_path) as staging:
            delta = _aggregate(batch_df, keys, sum_cols)
            if os.path.exists(summary_path):
                old = spark.read.parquet(summary_path)
                merge_cols = [
                    COUNT_COL, *sum_cols, *[_nn_col(c) for c in sum_cols]
                ]
                # tolerate summaries written before per-column non-null
                # counts existed: synthesize _nn_<c> = _n_rows (the old
                # avg semantics)
                for c in sum_cols:
                    if _nn_col(c) not in old.columns:
                        old = old.withColumn(_nn_col(c), F.col(COUNT_COL))
                combined = (
                    old.unionByName(delta)
                    .groupBy(*[quoted_col(k).alias(k) for k in keys])
                    .agg(*[F.sum(quoted_col(c)).alias(c) for c in merge_cols])
                )
            else:
                combined = delta
            combined.write.mode("overwrite").parquet(staging)
        # Materialize the returned summary WHILE still holding the
        # mutex: a lazily-read DataFrame returned after release points
        # at files a concurrent refresh's swap deletes, so the caller's
        # later collect would fail on a refresh that reported success.
        # The summary is per-key (small by contract) — an eager local
        # checkpoint pins its rows independent of the directory.
        refreshed = spark.read.parquet(summary_path).localCheckpoint(eager=True)
    return refreshed


def summary_with_avg(
    summary: DataFrame, sum_cols: Sequence[str]
) -> DataFrame:
    """Read-time AVG derivation from the maintained partials.

    Divides each sum by the per-column *non-null* count (SQL AVG
    semantics — a NULL-bearing column must not be averaged over the
    group row count). All-NULL groups yield NULL, matching ``AVG()``;
    summaries from before the non-null counts existed fall back to the
    group row count."""
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    out = summary
    for c in sum_cols:
        nn = _nn_col(c) if _nn_col(c) in summary.columns else COUNT_COL
        # quoted_col: _nn_a.b / a dotted sum column must resolve as the
        # one exact name, not a struct path
        out = out.withColumn(
            f"avg_{c}",
            F.when(quoted_col(nn) > 0, quoted_col(c) / quoted_col(nn)),
        )
    return out

