"""Cross-batch dedup history store — "is this document already in the
corpus?" against an accumulated 100 TB history.

Within-batch dedup (``operators/dedup.py``) answers duplication *inside*
one load; a crawl pipeline also has to screen every incoming batch
against everything previously ingested. Doing that as a plain join would
re-shuffle the entire history per batch — the history side dwarfs every
batch, so the layout must amortize its shuffle once at write time:

- The history is a **bucketed managed table** of content hashes
  (``n_buckets`` buckets on the hash, sorted; ``tables.write_bucketed``)
  — 32 bytes + provenance per distinct document ever seen,
  pre-partitioned on the join key.
- Screening is a **left-anti join on the bucket column**: Spark shuffles
  only the incoming batch into the matching bucket layout; the history
  scan carries NO Exchange (plan-pinned in ``tests/test_dedup_store.py``)
  and, with both sides sorted, merges bucket-to-bucket.
- Novel hashes **append** into the same bucket spec (one writer,
  ``_append_history``, for both stores), so the invariant ("history is
  bucketed on hash") survives every ingest cycle and the next batch
  pays the same batch-sized cost, not a history-sized one.

The reference has no cross-batch story (its sync is snapshot/merge into
Postgres, ``sync_df_to_pgdb.py``); this is the LLM-pipeline extension of
the same "publish incrementally, never recompute the world" idea.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.operators.dedup import content_hash
from dask_felleskomponenter_spark.operators.windows import keep_first
from dask_felleskomponenter_spark.session import scoped_conf
from dask_felleskomponenter_spark.sources.tables import write_bucketed

#: Column names of the history table (fixed schema, versioned by name).
HASH_COL = "content_sha"
SEEN_ID_COL = "first_seen_id"
BATCH_COL = "ingest_batch"


def history_exists(spark: SparkSession, table_name: str) -> bool:
    """Whether the dedup history table has been created yet — after
    recovering any interrupted compaction swap, so a crash mid-
    ``compact_history`` can never read as "no history" (which would
    silently restart screening from an empty table and re-admit the
    whole corpus)."""
    _recover_history(spark, table_name)
    return spark.catalog.tableExists(table_name)


#: A ``__compacting`` scratch table YOUNGER than this is assumed to be
#: a live compaction's in-flight write and is left alone by the
#: screening-path recovery (mirrors ``ioutil.STALE_STAGING_AGE_S`` for
#: directory swaps — dropping a concurrent compactor's scratch would
#: fail its corpus-sized rewrite).
STALE_COMPACTION_AGE_S = 3600.0


def _table_age_seconds(spark: SparkSession, name: str) -> float | None:
    """Seconds since the table's catalog 'Created Time', or None when
    the DESCRIBE output can't be parsed — callers stay conservative
    (treat unknown age as young, never reap)."""
    import datetime as _dt
    import time as _time

    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        created = next(
            (r["data_type"] for r in rows if r["col_name"] == "Created Time"),
            None,
        )
        if not created:
            return None
        # Java Date.toString: "Sat Aug 15 17:30:00 UTC 2026" — only the
        # unambiguous UTC form is parsed; anything else reads as young.
        parts = created.split()
        if len(parts) != 6 or parts[4] != "UTC":
            return None
        stamp = _dt.datetime.strptime(
            f"{parts[1]} {parts[2]} {parts[3]} {parts[5]}",
            "%b %d %H:%M:%S %Y",
        ).replace(tzinfo=_dt.timezone.utc)
        return _time.time() - stamp.timestamp()
    except Exception:
        return None


def _recover_history(spark: SparkSession, table_name: str) -> None:
    """Roll an interrupted ``compact_history`` swap back to the
    original table. The swap is rename(live→old), rename(scratch→live),
    drop(old): a crash between the renames leaves the accumulated
    history under ``__old`` only — restore it; a crash before the final
    drop leaves the (complete) compacted live plus a stale ``__old`` —
    drop the leftover.

    Runs on EVERY screening call (via ``history_exists``), so the
    steady state — no crash artifacts — issues ZERO catalog DDL: on a
    Hive-metastore deployment unconditional DROPs here were two
    metastore writes per micro-batch. And a ``__compacting`` scratch is
    reaped only once it is demonstrably STALE: a young scratch is a
    concurrent compactor's in-flight write, and dropping it would fail
    that corpus-sized rewrite mid-flight."""
    old = f"{table_name}__old"
    scratch = f"{table_name}__compacting"
    old_exists = spark.catalog.tableExists(old)
    scratch_exists = spark.catalog.tableExists(scratch)
    if not old_exists and not scratch_exists:
        return
    if old_exists:
        if not spark.catalog.tableExists(table_name):
            # Concurrent SCREENING calls can both observe this state and
            # race the restore rename (catalog DDL is not idempotent):
            # the loser's failure is benign iff the live table exists
            # afterwards — someone restored it — so recheck instead of
            # failing a read-only screen.
            try:
                spark.sql(f"ALTER TABLE {old} RENAME TO {table_name}")
            except Exception:
                if not spark.catalog.tableExists(table_name):
                    raise
        if spark.catalog.tableExists(table_name):
            # IF EXISTS: a concurrent recoverer may have dropped it
            # between the check and the drop
            spark.sql(f"DROP TABLE IF EXISTS {old}")
    if scratch_exists:
        age = _table_age_seconds(spark, scratch)
        if age is not None and age > STALE_COMPACTION_AGE_S:
            spark.sql(f"DROP TABLE IF EXISTS {scratch}")


def dedup_against_history(
    spark: SparkSession,
    batch_df: DataFrame,
    id_col: str,
    content_col: str,
    table_name: str,
    batch_label: str = "batch-0",
    n_buckets: int = 16,
    *,
    update: bool,
) -> DataFrame:
    """Screen an incoming batch against the dedup history; optionally
    record its novel documents.

    Returns the batch rows that are novel: not seen in any prior batch,
    and first-per-hash inside this batch (ties broken by ``id_col``, so
    re-running the same batch is deterministic). When ``update=True``
    the novel hashes are appended to the history under the same bucket
    spec, making the call idempotent: a re-ingested batch yields zero
    novel rows.

    DURABILITY ORDER — ``update`` is a REQUIRED keyword (no default: an
    earlier default of True was a crash-drop hazard, and silently
    flipping it to False would instead silently stop recording for
    callers relying on the old behavior — so every caller must choose
    explicitly). Prefer ``update=False``: the history append happens
    BEFORE the caller can durably sink the returned novel rows (which
    live only in an executor-memory localCheckpoint). With ``update=True``, a crash between this call
    and the caller's corpus write permanently marks those documents as
    seen and silently DROPS them. Any caller that sinks the novel rows
    must write the corpus first and then call ``record_novel`` — the
    order ``stream_dedup_ingest`` uses, which at worst duplicates (a
    downstream exact-dedup pass removes that) instead of dropping.
    Reserve ``update=True`` for callers whose only durable artifact IS
    the history (e.g. seen-set warm-up from an already-persisted
    corpus).

    Scale: the within-batch keep-first and the anti-join both key on the
    32-byte hash, and the history side is read bucket-aligned — one
    batch-sized exchange total, nothing history-sized moves. The append
    writes only novel hashes (bounded by batch size).

    Deployment note: Spark only reads the bucketed side shuffle-free
    when ``spark.sql.shuffle.partitions`` equals ``n_buckets`` (with a
    mismatch it re-shuffles BOTH sides to its preferred partition
    count) — size ``n_buckets`` to the cluster's shuffle parallelism at
    ingest time. ``tests/test_dedup_store.py`` pins the single-exchange
    plan under that recipe.
    """
    # Case-INSENSITIVE, matching withColumn's resolution under the
    # default spark.sql.caseSensitive=false: a user column 'Content_SHA'
    # passes an exact-match check yet still gets silently REPLACED.
    # the history schema fixes this name, so withColumn would silently
    # OVERWRITE a caller's same-named column and hand the corrupted
    # value back in the novel rows — the hazard
    # operators/dedup.py::exact_dedup avoids with fresh_name; here the
    # fixed name makes a loud error the only safe option (shared
    # ensure_absent policy)
    from dask_felleskomponenter_spark.operators.shuffle import ensure_absent

    try:
        ensure_absent(HASH_COL, batch_df, what="reserved history")
    except ValueError:
        raise ValueError(
            f"batch_df already has a column named {HASH_COL!r}, which "
            "the history schema reserves — rename it before screening"
        ) from None
    # NULL ids break the determinism contract below (keep_first ties on
    # id_col → partition-order-dependent survivor) and would record
    # NULL first_seen_id provenance — reject them loudly, exactly like
    # the near-dup store's screen.
    batch_df = _require_nonnull_ids(batch_df, id_col)
    # NULL content must still get a non-null key: sha2(NULL) is NULL,
    # a NULL anti-join key matches nothing, and every batch would
    # re-admit its NULL-content row as "novel" forever — breaking the
    # idempotence the streaming replay path relies on. All NULL-content
    # documents share one sentinel identity (they are equally empty).
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    hashed = keep_first(
        batch_df.withColumn(
            HASH_COL,
            # quoted_col: a content/id column legally named 'doc.text'
            # would parse as a struct path through bare F.col
            F.coalesce(
                content_hash(quoted_col(content_col)),
                F.lit("sha:null-content"),
            ),
        ),
        partition_by=[HASH_COL],
        order_by=[quoted_col(id_col)],
    )
    if history_exists(spark, table_name):
        history = spark.table(table_name)
        novel = hashed.join(history, on=HASH_COL, how="left_anti")
    else:
        novel = hashed
    if update:
        # Materialize before the append: saveAsTable would otherwise
        # re-evaluate `novel` against a history it is itself mutating.
        novel = novel.localCheckpoint(eager=True)
        record_novel(novel, id_col, table_name, batch_label, n_buckets)
    return novel


def record_novel(
    novel_df: DataFrame,
    id_col: str,
    table_name: str,
    batch_label: str,
    n_buckets: int = 16,
) -> None:
    """Append already-screened novel rows (carrying ``HASH_COL``) to the
    history under the bucket spec. Callers that sink the novel rows
    elsewhere first (e.g. the streaming ingest) split screening from
    recording with this."""
    _append_history(
        novel_df, id_col, HASH_COL, table_name, batch_label, n_buckets
    )


def _append_history(
    df: DataFrame,
    id_col: str,
    key_col: str,
    table_name: str,
    batch_label: str,
    n_buckets: int,
) -> None:
    """Append ``(key_col, first_seen_id, ingest_batch)`` rows of ``df``
    to a history table bucketed and sorted on ``key_col`` — the one
    write of both stores' append path, so the bucket spec the screens
    rely on is stated once."""
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    # Roll back a crashed compaction swap BEFORE appending: a
    # mode='append' saveAsTable on the post-crash state (history under
    # __old only) would CREATE a stub live table holding just this
    # batch, and the next screening call's recovery — seeing both live
    # and __old — would then DROP the real corpus-sized history
    # (round-10 review). Screening callers get this via history_exists;
    # the record-only paths get it here.
    _recover_history(df.sparkSession, table_name)
    # first_seen_id keeps id_col's own type — a cast("long") turned
    # string/UUID document ids into all-NULL provenance with no error
    entries = df.select(
        F.col(key_col),
        quoted_col(id_col).alias(SEEN_ID_COL),
        F.lit(batch_label).alias(BATCH_COL),
    )
    write_bucketed(entries, table_name, [key_col], n_buckets, mode="append")


def history_stats(spark: SparkSession, table_name: str) -> DataFrame:
    """Per-ingest-batch history profile: documents first seen per batch
    (one map-side-combinable aggregate over the hash store)."""
    return (
        spark.table(table_name)
        .groupBy(BATCH_COL)
        .agg(F.count(F.lit(1)).alias("n_first_seen"))
        .orderBy(BATCH_COL)
    )


def compact_history(
    spark: SparkSession, table_name: str, n_buckets: int = 16
) -> int:
    """Rewrite the history table into one file-set per bucket.

    Every ingest cycle appends a new file per touched bucket, so after
    thousands of batches each bucket is thousands of small files and
    the screening scan pays file-open overhead instead of I/O. This
    rewrites the accumulated history once (same bucket spec, so the
    zero-shuffle screening plan is preserved) and swaps it in via table
    renames.

    SINGLE-WRITER operation: quiesce ingest while compacting. Hashes
    appended between the scratch snapshot and the swap would be dropped
    by the swap — un-recording them and re-admitting their documents as
    novel. Online compaction concurrent with ingest needs a
    transactional table format (Delta/Iceberg REPLACE), the same
    upgrade path ``stream_dedup_ingest`` names for its crash window. ``sources/tables.py::compact_parquet`` is the flat-layout
    twin; managed bucketed tables need the table-level path because
    bucketing lives in catalog metadata, not the directory tree.

    Returns the number of history rows carried over. Crash safety: the
    compacted copy is built under a scratch name first; the two renames
    are catalog metadata operations, and any interruption is rolled
    back automatically by ``_recover_history`` (invoked here and by
    every screening call via ``history_exists``) — the accumulated
    history is never read as absent.
    """
    scratch = f"{table_name}__compacting"
    old = f"{table_name}__old"
    _recover_history(spark, table_name)
    # SINGLE-WRITER contract: this compactor owns the scratch name, so
    # any leftover (recovery reaps only STALE scratches) is dropped
    # here before the rewrite.
    spark.sql(f"DROP TABLE IF EXISTS {scratch}")
    # The key column follows the table: the exact-dedup history buckets
    # on HASH_COL, the near-dup SIGNATURE history on BUCKET_COL — the
    # hardcoded HASH_COL form left the signature store with no
    # compaction path at all (UNRESOLVED_COLUMN after thousands of
    # per-batch appends had already decayed its scan).
    live_cols = spark.table(table_name).columns
    if HASH_COL in live_cols:
        key_col = HASH_COL
    elif BUCKET_COL in live_cols:
        key_col = BUCKET_COL
    else:
        raise ValueError(
            f"{table_name} has neither {HASH_COL!r} nor {BUCKET_COL!r}; "
            f"not a dedup history table"
        )
    # Streams original → scratch (different table names, no self-read
    # hazard); never caches the history, which can be corpus-sized.
    #
    # The scan MUST be bucket-aligned (autoBucketedScan pinned off for
    # the rewrite): then each task reads exactly one bucket's files and
    # writes exactly one file — a SHUFFLE-FREE compaction. Left to the
    # planner's default, a subtle interplay destroys the layout: the
    # bucket spec satisfies the hash distribution so any explicit
    # repartition is elided, then autoBucketedScan decides nothing
    # needs the bucketing and reads raw file splits — neither exchange
    # nor alignment happens and every writer task emits a file per
    # bucket it touches (measured: 3 ingest appends → a 247-file
    # "compacted" table instead of n_buckets; caught by
    # tests/test_scale_stress.py's populated-history cycle).
    with scoped_conf(
        spark, {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    ):
        # Observation metrics ride the write action: the carried-over
        # row count comes out of the SAME pass that writes the scratch
        # copy — a corpus-sized history is not re-scanned just to
        # produce the return value.
        from dask_felleskomponenter_spark.operators.metrics import (
            with_observed_metrics,
        )

        src, obs = with_observed_metrics(
            spark.table(table_name),
            "compact_history",
            n_rows=F.count(F.lit(1)),
        )
        write_bucketed(
            src.repartition(n_buckets, key_col),
            scratch,
            [key_col],
            n_buckets,
            mode="errorifexists",
        )
    n = obs.get["n_rows"]
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    # The two-rename swap has an unavoidable window (catalog DDL is not
    # transactional): a concurrent screen's _recover_history running
    # between rename(live→__old) and rename(scratch→live) observes
    # live-missing + __old-present and RESTORES __old to the live name
    # — then our second rename fails TABLE_ALREADY_EXISTS and the whole
    # corpus-sized rewrite would be wasted. The window is two catalog
    # ops wide (milliseconds) against micro-batch-cadence screens, so a
    # bounded retry makes the spurious failure vanishingly unlikely
    # instead of merely acknowledged.
    for attempt in range(3):
        spark.sql(f"ALTER TABLE {table_name} RENAME TO {old}")
        try:
            spark.sql(f"ALTER TABLE {scratch} RENAME TO {table_name}")
            break
        except Exception:
            restored = spark.catalog.tableExists(table_name)
            if restored and spark.catalog.tableExists(scratch) and attempt < 2:
                # recovery won the race: live is back, scratch intact —
                # drop the (now duplicate) __old leg and swap again
                spark.sql(f"DROP TABLE IF EXISTS {old}")
                continue
            raise
    # IF EXISTS: a concurrent screen's recovery can drop __old between
    # the rename above and here — a fully successful swap must not then
    # raise TABLE_OR_VIEW_NOT_FOUND and read as a failed compaction.
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    return n


# --- near-duplicate (MinHash/LSH) history -------------------------------

#: Band-bucket column of the signature history. The band index is
#: already folded into the bucket value (``bucket = xxhash64(sig-slice,
#: band)``), so one 64-bit key carries both — the screen join needs a
#: single equi-key, which is also the table's bucket spec.
BUCKET_COL = "lsh_bucket_key"

#: Salt of the reserved bucket carrying NULL-text / zero-token
#: documents (see ``_batch_buckets``).
BLANK_BUCKET_SALT = "__blank_document__"


def _batch_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    shingle_size: int,
) -> DataFrame:
    """(id, bucket) band-bucket rows for a batch — the ONE derivation
    shared by the screen and the record paths so their bucket values
    can never drift.

    Includes the synthetic BLANK bucket: NULL-text and zero-token
    documents have NULL signatures (``minhash_signatures``, round 10)
    and emit no LSH bands at all — unguarded, they would be unscreened
    AND unrecorded, re-admitted as novel every batch, and DUPLICATED
    into the corpus by the documented at-least-once replay window. One
    reserved constant bucket restores the store's contract for them
    (first ever ingested survives, all later ones drop, replays collide
    with their own recording) while keeping them out of
    ``lsh_candidate_pairs``' self-join path entirely. The store's
    screens are linear in bucket width (bucket-min window + semi-join),
    so the shared bucket cannot go quadratic here — and since only
    NOVEL docs are recorded, the recorded blank bucket stays ~1 row and
    never trips ``max_history_bucket_width``."""
    from dask_felleskomponenter_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
    )
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes=num_hashes, shingle_size=shingle_size
    )
    bb = lsh_band_buckets(
        sigs, id_col, bands=bands, rows_per_band=rows_per_band
    ).select(quoted_col(id_col), F.col("bucket").alias(BUCKET_COL))
    blanks = sigs.filter(F.col("minhash_sig").isNull()).select(
        quoted_col(id_col),
        F.xxhash64(F.lit(BLANK_BUCKET_SALT)).alias(BUCKET_COL),
    )
    return bb.unionByName(blanks)


def _require_nonnull_ids(df: DataFrame, id_col: str) -> DataFrame:
    """Fail the first ACTION loudly if any ``id_col`` value is NULL.

    Shared by BOTH stores: the exact-dedup screen's keep-first ties on
    the id (a NULL id makes the surviving row partition-order-dependent
    and records NULL first_seen_id provenance), and the near-dup store
    keys every per-document decision on the id: the
    final screen is ``left_anti`` on ``id_col`` (a NULL key matches
    nothing, so a flagged NULL-id duplicate would be silently
    re-admitted — and re-recorded — on every batch), the intra-batch
    rule compares ids, and the history width cap counts distinct seen
    ids. None of those can be made well-defined for NULL (distinct
    NULL-id documents are indistinguishable in the drop set), so the
    contract is non-null ids — enforced in the row expression itself
    (``operators/shuffle.py::nonnull_guard`` wrapping every downstream
    read of the id)."""
    from dask_felleskomponenter_spark.operators.shuffle import nonnull_guard

    # Resolve the field the way Spark resolves the COLUMN — exact match
    # first, then case-insensitive (df.schema['ID'] raises a raw
    # KeyError for a frame whose column is 'id', input every downstream
    # expression accepts under spark.sql.caseSensitive=false).
    field = next(
        (f for f in df.schema.fields if f.name == id_col),
        next(
            (f for f in df.schema.fields if f.name.lower() == id_col.lower()),
            None,
        ),
    )
    if field is None:
        raise ValueError(
            f"dedup history store: no column {id_col!r} in "
            f"{df.columns}"
        )
    return df.withColumn(
        id_col,
        nonnull_guard(
            id_col, field.dataType, "dedup history store",
            "per-document decisions key on the id (anti-join screens, "
            "keep-first tie-breaks, provenance), so NULL-id rows are "
            "undefined; assign ids before screening",
        ),
    )


def neardup_against_history(
    spark: SparkSession,
    batch_df: DataFrame,
    id_col: str,
    text_col: str,
    table_name: str,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 3,
    max_history_bucket_width: int | None = 4096,
    return_buckets: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Screen a batch for near-duplicates against the signature history
    AND within itself; returns the surviving (novel) batch rows.

    ``return_buckets=True`` additionally returns the SURVIVORS' band
    buckets as a second DataFrame (``id_col``, bucket key) — computed
    from ONE materialized signature pass (the band-bucket table is
    ``localCheckpoint``-ed, an eager action), so a caller that records
    the survivors afterwards (``record_novel_signatures(...,
    buckets_df=...)``) does not pay the dominant MinHash stage twice.
    The default stays fully lazy for plan-construction callers.

    Semantics (deterministic, replay-stable):
    - a document whose signature collides with ANY recorded band bucket
      of a prior batch is dropped (near-dup of something already
      ingested — the standard S-curve governs the collision
      probability);
    - within the batch, LSH candidate pairs are resolved greedily by
      ``id_col``: any document colliding with a LOWER-id batch document
      is dropped (conservative transitive rule — survivors are the
      per-cluster minima plus any non-colliding docs). Re-running the
      identical batch yields the identical survivor set.

    Scale: signatures cost one pass over the batch; the history screen
    is a semi-join on the single 64-bit bucket key, and the history
    table is BUCKETED on that key, so only the batch side shuffles —
    nothing history-sized moves (same posture as the exact-hash store;
    the same ``spark.sql.shuffle.partitions == n_buckets`` deployment
    note applies). NULL/empty-text documents carry the reserved BLANK
    bucket (``_batch_buckets``) and therefore still band together as
    trivial duplicates: the first ever ingested survives, all later
    ones drop, and a replayed batch collides with its own recording.

    Degenerate-bucket guards (both screens stay linear even on a
    90%-boilerplate corpus):
    - the INTRA-batch screen computes each bucket's minimum ``id_col``
      with a window and drops every higher id — provably the same
      survivor set as the pairwise "collides with a lower id" rule
      (``a.id > b.id`` for some b in the bucket ⟺ ``a.id > min(bucket)``)
      but O(bucket width) instead of the O(width²) self-join a planted
      all-one-bucket batch degenerates to;
    - the HISTORY screen drops band buckets whose recorded row count
      exceeds ``max_history_bucket_width`` before the semi-join (the
      cross-batch analogue of ``max_shingle_df``: a bucket thousands of
      prior documents share is boilerplate mass, not a discriminative
      signature — and its width otherwise concentrates in one join
      task). Documents colliding ONLY in dropped buckets are admitted
      and recorded; audit the affected buckets with
      ``overwide_signature_buckets``. ``None`` disables the cap. The
      width aggregation groups on the table's own bucket column, so it
      adds no Exchange to the history side.

    Durability: like ``dedup_against_history(update=False)``, this only
    SCREENS. Callers must sink the survivors durably FIRST, then call
    ``record_novel_signatures`` — the at-worst-duplicates order
    ``stream_neardup_ingest`` uses.
    """
    batch_df = _require_nonnull_ids(batch_df, id_col)
    bb = _batch_buckets(
        batch_df, id_col, text_col, num_hashes, bands, rows_per_band,
        shingle_size,
    )
    if return_buckets:
        # one materialized signature pass feeds screen AND record
        bb = bb.localCheckpoint(eager=True)

    drop_ids = None
    if history_exists(spark, table_name):
        history = spark.table(table_name)
        if max_history_bucket_width is not None:
            # width = DISTINCT documents, not raw rows: an at-least-once
            # replay (the documented crash window) appends duplicate
            # recordings, and a raw-row count would let those push a
            # legitimately under-cap bucket over the cap and silently
            # disable its screening forever. The groupBy still runs
            # bucket-aligned (no history Exchange) and the semi-join's
            # build side shrinks to one row per bucket.
            history = (
                history.groupBy(BUCKET_COL)
                .agg(F.count_distinct(F.col(SEEN_ID_COL)).alias("_bucket_width"))
                .filter(F.col("_bucket_width") <= max_history_bucket_width)
            )
        drop_ids = (
            bb.join(history, on=BUCKET_COL, how="semi")
            .select(id_col)
            .distinct()
        )

    # within-batch: any id colliding with a lower id in some bucket,
    # i.e. any id above its bucket's minimum (linear in bucket width)
    from pyspark.sql.window import Window

    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    intra_drops = (
        bb.withColumn(
            "_bucket_min_id",
            F.min(quoted_col(id_col)).over(Window.partitionBy(BUCKET_COL)),
        )
        .filter(quoted_col(id_col) > F.col("_bucket_min_id"))
        .select(id_col)
        .distinct()
    )
    drop_ids = (
        intra_drops if drop_ids is None else drop_ids.unionByName(intra_drops)
    )
    novel = batch_df.join(drop_ids, on=id_col, how="left_anti")
    if return_buckets:
        # Checkpoint the RETURNED buckets, not just bb: their lineage
        # threads through the history semi-join, so the documented
        # record flow (record_novel_signatures(buckets_df=...)) would
        # otherwise re-run the full history screen INSIDE an append
        # that reads the very table it writes — the read-while-mutating
        # hazard dedup_against_history checkpoints against, which the
        # streaming caller had to guard by hand (round-10 review).
        novel_buckets = bb.join(drop_ids, on=id_col, how="left_anti")
        return novel, novel_buckets.localCheckpoint(eager=True)
    return novel


def overwide_signature_buckets(
    spark: SparkSession, table_name: str, max_width: int = 4096
) -> DataFrame:
    """Audit view of the signature-history band buckets wider than
    ``max_width`` — the ones ``neardup_against_history`` excludes from
    its history screen. One bucket-aligned aggregate over the store
    (no Exchange); widest first."""
    return (
        spark.table(table_name)
        .groupBy(BUCKET_COL)
        # distinct documents, matching the screen's cap semantics
        .agg(F.count_distinct(F.col(SEEN_ID_COL)).alias("bucket_width"))
        .filter(F.col("bucket_width") > max_width)
        .orderBy(F.col("bucket_width").desc())
    )


def record_novel_signatures(
    novel_df: DataFrame,
    id_col: str,
    text_col: str,
    table_name: str,
    batch_label: str,
    n_buckets: int = 16,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_size: int = 3,
    buckets_df: DataFrame | None = None,
) -> None:
    """Append the band buckets of already-screened novel rows to the
    signature history (bucketed on the bucket key). Signature
    parameters MUST match the screening call — the bucket values are a
    function of them.

    ``buckets_df`` (``id_col`` + bucket key, as returned by
    ``neardup_against_history(return_buckets=True)``) skips the
    signature recomputation entirely — without it every ingest batch
    pays the dominant MinHash stage twice, once to screen and once to
    record the identical buckets."""
    if buckets_df is not None:
        buckets = _require_nonnull_ids(buckets_df, id_col)
    else:
        # _batch_buckets, not a bare banding pass: the record path must
        # emit the same bucket set as the screen — including the
        # synthetic BLANK bucket — or blank docs would screen against a
        # bucket no recording ever wrote
        buckets = _batch_buckets(
            _require_nonnull_ids(novel_df, id_col), id_col, text_col,
            num_hashes, bands, rows_per_band, shingle_size,
        )
    _append_history(
        buckets, id_col, BUCKET_COL, table_name, batch_label, n_buckets
    )
