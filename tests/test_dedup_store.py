"""Cross-batch dedup history store (``sources/dedup_store.py``):
screen incoming batches against the accumulated corpus, bucket-aligned."""

from __future__ import annotations

import io
import re
import uuid
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.sources.dedup_store import (
    dedup_against_history,
    history_stats,
)


@pytest.fixture()
def table_name(spark):
    name = f"dedup_history_{uuid.uuid4().hex[:12]}"
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def _batch(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _novel_ids(spark, rows, table_name, batch_label):
    # update=True is the history-only path (no corpus sink to lose);
    # callers sinking novel rows must use update=False + record_novel.
    out = dedup_against_history(
        spark, _batch(spark, rows), "doc_id", "text", table_name,
        batch_label=batch_label, n_buckets=4, update=True,
    )
    return sorted(r["doc_id"] for r in out.collect())


def test_cross_batch_screening_and_idempotence(spark, table_name):
    # batch 0: a within-batch dup (1,2) — first doc_id survives
    assert _novel_ids(
        spark,
        [(1, "alpha text"), (2, "alpha text"), (3, "beta text")],
        table_name,
        "b0",
    ) == [1, 3]
    # batch 1: one seen-before doc, one new; within-batch order respected
    assert _novel_ids(
        spark,
        [(10, "beta text"), (11, "gamma text")],
        table_name,
        "b1",
    ) == [11]
    # re-ingesting batch 1 verbatim: nothing novel (idempotence)
    assert _novel_ids(
        spark,
        [(10, "beta text"), (11, "gamma text")],
        table_name,
        "b1-again",
    ) == []
    stats = {
        r["ingest_batch"]: r["n_first_seen"]
        for r in history_stats(spark, table_name).collect()
    }
    assert stats == {"b0": 2, "b1": 1}


def test_update_false_leaves_history_untouched(spark, table_name):
    _novel_ids(spark, [(1, "doc one")], table_name, "b0")
    out = dedup_against_history(
        spark, _batch(spark, [(2, "doc two")]), "doc_id", "text",
        table_name, batch_label="dry-run", n_buckets=4, update=False,
    )
    assert [r["doc_id"] for r in out.collect()] == [2]
    # the dry-run must not have recorded anything
    assert _novel_ids(spark, [(2, "doc two")], table_name, "b1") == [2]


def test_history_side_joins_without_exchange(spark, table_name):
    # The whole point of the bucketed layout: the anti-join must shuffle
    # only the incoming batch. Assert the history scan subtree has no
    # Exchange above it and the scan selects buckets.
    _novel_ids(
        spark, [(i, f"seed doc {i}") for i in range(20)], table_name, "b0"
    )
    batch = _batch(spark, [(100, "probe doc"), (101, "seed doc 3")])
    from dask_felleskomponenter_spark.operators.dedup import content_hash
    from dask_felleskomponenter_spark.operators.windows import keep_first

    hashed = keep_first(
        batch.withColumn("content_sha", content_hash("text")),
        partition_by=["content_sha"],
        order_by=[F.col("doc_id")],
    )
    # At test scale AQE would broadcast the kilobyte history (also fine);
    # disable broadcast to surface the big-history plan the layout is
    # for: bucket-aligned sort-merge with no history-side exchange.
    # The zero-shuffle read needs shuffle partitions == bucket count
    # (otherwise Spark shuffles BOTH sides to its preferred partition
    # count) — the deployment recipe the operator docstring states.
    prevs = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        plan_buf = io.StringIO()
        with redirect_stdout(plan_buf):
            hashed.join(
                spark.table(table_name), on="content_sha", how="left_anti"
            ).explain("formatted")
        plan = plan_buf.getvalue()
    finally:
        for k, v in prevs.items():
            spark.conf.set(k, v)
    assert "SortMergeJoin" in plan and "LeftAnti" in plan, plan[:2000]
    assert "Bucketed: true" in plan, plan[:3000]
    # exactly ONE exchange in the whole plan — the batch side's;
    # a second one means the history got shuffled
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:3000]


def test_compact_history_preserves_content_and_bucketing(spark, table_name):
    # three appends → up to 3 file-sets per bucket; compaction must keep
    # every row, stay screened-correct, and leave the table bucketed
    from dask_felleskomponenter_spark.sources.dedup_store import compact_history

    for b in range(3):
        _novel_ids(
            spark,
            [(b * 100 + i, f"doc {b}-{i}") for i in range(10)],
            table_name,
            f"b{b}",
        )
    before = {
        tuple(r)
        for r in spark.table(table_name)
        .select("content_sha", "first_seen_id", "ingest_batch")
        .collect()
    }
    assert compact_history(spark, table_name, n_buckets=4) == 30
    after = {
        tuple(r)
        for r in spark.table(table_name)
        .select("content_sha", "first_seen_id", "ingest_batch")
        .collect()
    }
    assert after == before
    desc = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table_name}").collect()
    }
    assert desc.get("Num Buckets") == "4", desc
    # screening still works (and is idempotent) against the compacted table
    assert _novel_ids(
        spark, [(999, "doc 1-5"), (1000, "brand new")], table_name, "b3"
    ) == [1000]


def test_null_content_screens_idempotently(spark, table_name):
    # sha2(NULL) is NULL and a NULL join key matches nothing — without
    # the sentinel, a NULL-content row would be "novel" on every replay
    assert _novel_ids(
        spark, [(1, None), (2, "real text")], table_name, "b0"
    ) == [1, 2]
    assert _novel_ids(
        spark, [(5, None), (6, "real text")], table_name, "b0-replay"
    ) == []


def test_interrupted_compaction_swap_recovers(spark, table_name):
    _novel_ids(spark, [(1, "kept doc")], table_name, "b0")
    # crash between the two renames: live name missing, history in __old
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {table_name}__old")
    # the next screening call must recover the history, not restart it
    assert _novel_ids(spark, [(2, "kept doc")], table_name, "b1") == []
    assert not spark.catalog.tableExists(f"{table_name}__old")
    # crash before the final cleanup drop: stale __old beside the live
    spark.sql(
        f"CREATE TABLE {table_name}__old AS SELECT * FROM {table_name}"
    )
    assert _novel_ids(spark, [(3, "kept doc")], table_name, "b2") == []
    assert not spark.catalog.tableExists(f"{table_name}__old")


# --- near-duplicate (MinHash/LSH) history --------------------------------


def _near_docs(n, salt=""):
    """Documents with two planted near-dup clusters (shared long body,
    small unique tail) plus fillers with NO shared template — a shared
    'unrelated document number...' scaffold would make the fillers
    genuine near-dups of each other (most 3-shingles identical), which
    is exactly what the screen is supposed to catch."""
    body_a = "the quick brown fox jumps over the lazy dog again and again " * 4
    body_b = "pack my box with five dozen liquor jugs every single day " * 4
    rows = []
    for i in range(n):
        if i % 5 == 0:
            rows.append((i, f"{body_a} unique{salt}tail{i}"))
        elif i % 5 == 1:
            rows.append((i, f"{body_b} unique{salt}tail{i}"))
        else:
            words = " ".join(
                f"w{salt}{i}x{j}y{(i * 31 + j * 17) % 9973}"
                for j in range(20)
            )
            rows.append((i, words))
    return rows


def test_neardup_screen_within_batch_keeps_cluster_minima(spark, table_name):
    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
    )

    rows = _near_docs(25)
    out = neardup_against_history(
        spark, _batch(spark, rows), "doc_id", "text", table_name
    )
    ids = sorted(r["doc_id"] for r in out.collect())
    # cluster A = ids 0,5,10,15,20 → only 0 survives; cluster B =
    # 1,6,11,16,21 → only 1; the unrelated docs all survive
    assert 0 in ids and 1 in ids
    assert not {5, 10, 15, 20, 6, 11, 16, 21} & set(ids)
    assert {i for i in range(25) if i % 5 >= 2} <= set(ids)


def test_neardup_screen_across_batches_and_replay_idempotent(
    spark, table_name
):
    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
        record_novel_signatures,
    )

    def ingest(rows, label):
        novel = neardup_against_history(
            spark, _batch(spark, rows), "doc_id", "text", table_name
        ).localCheckpoint(eager=True)
        record_novel_signatures(
            novel, "doc_id", "text", table_name, label, n_buckets=4
        )
        return sorted(r["doc_id"] for r in novel.collect())

    first = ingest(_near_docs(15), "crawl-0")
    assert 0 in first and 1 in first
    # second crawl: same clusters with NEW tails (near-dups of batch 1)
    # plus genuinely new content
    second_rows = _near_docs(10, salt="x")
    second_rows += [(100 + i, f"fresh topic {i} entirely new words "
                              f"{i * 31} {i * 37}") for i in range(3)]
    second = ingest(second_rows, "crawl-1")
    # the cluster members near-dup crawl-0's representatives → dropped;
    # the fresh docs survive
    assert not {0, 5, 1, 6} & set(second)
    assert {100, 101, 102} <= set(second)
    # replaying crawl-1 byte-identically yields ZERO novel rows (its own
    # buckets are recorded)
    replay = ingest(second_rows, "crawl-1-replay")
    assert replay == []


def test_neardup_screen_history_side_reads_bucket_aligned(spark, table_name):
    """The history semi-join must carry exactly ONE Exchange (the
    batch's): the bucketed table read is shuffle-free under the
    documented recipe — the same plan pin as the exact-hash store."""
    from dask_felleskomponenter_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
    )
    from dask_felleskomponenter_spark.sources.dedup_store import (
        BUCKET_COL,
        neardup_against_history,
        record_novel_signatures,
    )

    seed_rows = _near_docs(20)
    novel = neardup_against_history(
        spark, _batch(spark, seed_rows), "doc_id", "text", table_name
    ).localCheckpoint(eager=True)
    record_novel_signatures(
        novel, "doc_id", "text", table_name, "seed", n_buckets=4
    )

    probe = lsh_band_buckets(
        minhash_signatures(_batch(spark, _near_docs(8, salt="p")),
                           "doc_id", "text"),
        "doc_id",
    ).select(F.col("doc_id"), F.col("bucket").alias(BUCKET_COL))
    prevs = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            probe.join(
                spark.table(table_name), on=BUCKET_COL, how="semi"
            ).explain("formatted")
        plan = buf.getvalue()
    finally:
        for k, v in prevs.items():
            spark.conf.set(k, v)
    assert "Bucketed: true" in plan, plan[:3000]
    # exactly TWO exchanges, both on the probe side (the minhash
    # aggregation's doc_id shuffle + the bucket-key join shuffle); the
    # history branch reads Bucketed with no Exchange of its own — at
    # scale the history is unbounded while the probe is batch-sized,
    # so probe-side-only shuffles are the posture being pinned
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan[:3000]


def test_neardup_intra_screen_on_90pct_identical_corpus(spark, table_name):
    """Adversarial 90%-boilerplate batch: every boilerplate doc shares
    one signature, so all 450 land in the same band buckets. The
    per-bucket-min rule must keep exactly the minimum id of the mass
    plus the unique docs — same survivor set the pairwise greedy rule
    defines, without the O(width²) self-join it used to degenerate to."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
    )

    boiler = "terms of service boilerplate applies to every page here " * 5
    rows = [(i, boiler) for i in range(450)]
    rows += [
        (1000 + i, " ".join(f"u{i}q{j}z{(i * 13 + j * 7) % 997}"
                            for j in range(25)))
        for i in range(50)
    ]
    out = neardup_against_history(
        spark, _batch(spark, rows), "doc_id", "text", table_name
    )
    ids = set(r["doc_id"] for r in out.collect())
    assert 0 in ids
    assert not ids & set(range(1, 450)), "boilerplate mass must drop"
    assert set(range(1000, 1050)) <= ids, "unique docs must survive"


def test_neardup_history_width_cap_skips_degenerate_buckets(
    spark, table_name
):
    """A band bucket thousands of prior docs share is boilerplate mass,
    not a discriminative signature: buckets wider than
    max_history_bucket_width are excluded from the history screen (and
    auditable via overwide_signature_buckets), mirroring max_shingle_df."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        BUCKET_COL,
        neardup_against_history,
        overwide_signature_buckets,
        record_novel_signatures,
    )

    boiler = "subscribe to our newsletter for updates and offers now " * 5
    seed = [(i, boiler) for i in range(30)]
    record_novel_signatures(
        _batch(spark, seed), "doc_id", "text", table_name, "seed",
        n_buckets=4,
    )
    fresh = " ".join(f"fresh{j}content{(j * 29) % 887}" for j in range(25))
    probe = [(500, boiler + " tiny tail"), (501, fresh)]

    # default cap (4096) far above the 30-wide buckets: screen active
    kept = neardup_against_history(
        spark, _batch(spark, probe), "doc_id", "text", table_name
    )
    assert set(r["doc_id"] for r in kept.collect()) == {501}

    # cap below the bucket width: the degenerate buckets drop out of
    # the screen, so the boilerplate collision is no longer seen
    kept_capped = neardup_against_history(
        spark, _batch(spark, probe), "doc_id", "text", table_name,
        max_history_bucket_width=10,
    )
    assert set(r["doc_id"] for r in kept_capped.collect()) == {500, 501}

    # the audit view surfaces exactly those over-wide buckets
    wide = overwide_signature_buckets(spark, table_name, max_width=10)
    rows = wide.collect()
    assert rows and all(r["bucket_width"] == 30 for r in rows)

    # replay duplicates must NOT count toward the cap: re-record the
    # same 30 docs (the documented at-least-once crash window) — raw
    # rows double to 60 but distinct documents stay 30, so a cap of 40
    # keeps the bucket screened instead of silently disabling it
    # forever (round-6 review finding)
    record_novel_signatures(
        _batch(spark, seed), "doc_id", "text", table_name, "replay",
        n_buckets=4,
    )
    kept_after_replay = neardup_against_history(
        spark, _batch(spark, probe), "doc_id", "text", table_name,
        max_history_bucket_width=40,
    )
    assert set(r["doc_id"] for r in kept_after_replay.collect()) == {501}
    assert overwide_signature_buckets(
        spark, table_name, max_width=40
    ).isEmpty()


def test_record_with_precomputed_buckets_matches_recompute(
    spark, table_name
):
    """record_novel_signatures(buckets_df=...) — the single-signature-
    pass streaming path — must append exactly the rows the recompute
    path would (round-6 review finding: every micro-batch paid the
    MinHash stage twice)."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        BATCH_COL,
        BUCKET_COL,
        SEEN_ID_COL,
        neardup_against_history,
        record_novel_signatures,
    )

    docs = [(i, f"alpha beta gamma doc{i} " + "x" * (i % 5)) for i in range(12)]
    batch = _batch(spark, docs)
    novel, buckets = neardup_against_history(
        spark, batch, "doc_id", "text", table_name, return_buckets=True
    )
    record_novel_signatures(
        novel, "doc_id", "text", table_name, "b0", n_buckets=4,
        buckets_df=buckets,
    )
    via_buckets = {
        (r[BUCKET_COL], r[SEEN_ID_COL], r[BATCH_COL])
        for r in spark.table(table_name).collect()
    }
    spark.sql(f"DROP TABLE {table_name}")
    record_novel_signatures(
        novel, "doc_id", "text", table_name, "b0", n_buckets=4
    )
    via_recompute = {
        (r[BUCKET_COL], r[SEEN_ID_COL], r[BATCH_COL])
        for r in spark.table(table_name).collect()
    }
    assert via_buckets == via_recompute and via_buckets

    # and the width aggregate itself reads the store bucket-aligned:
    # grouping on the table's own bucket column needs no Exchange
    prevs = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.sources.bucketing.autoBucketedScan.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    )
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            spark.table(table_name).groupBy(BUCKET_COL).count().explain(
                "formatted"
            )
        plan = buf.getvalue()
    finally:
        for k, v in prevs.items():
            spark.conf.set(k, v)
    assert "Bucketed: true" in plan, plan[:3000]
    assert not re.findall(r"\(\d+\) Exchange", plan), plan[:3000]


def test_stream_neardup_ingest_crash_duplicates_never_drops(
    spark, tmp_path, table_name, monkeypatch
):
    """The documented crash window: a failure BETWEEN the corpus append
    and the signature recording of one micro-batch. Because the corpus
    is written first, the checkpointed replay must re-admit that
    batch's survivors (duplicates in the corpus — removable by a
    downstream exact-dedup pass), never silently drop them (which would
    happen if the buckets were recorded first: the replay would screen
    the batch against its own signatures and find nothing novel)."""
    import os

    import dask_felleskomponenter_spark.sources.dedup_store as ds
    from dask_felleskomponenter_spark.streaming.ops import (
        stream_neardup_ingest,
    )

    in_dir = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    _batch(spark, _near_docs(15)).coalesce(1).write.mode("append").parquet(
        in_dir
    )

    real_record = ds.record_novel_signatures

    def crash_after_sink(*args, **kwargs):
        raise RuntimeError("simulated crash between sink and record")

    monkeypatch.setattr(ds, "record_novel_signatures", crash_after_sink)
    q = stream_neardup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    with pytest.raises(Exception, match="simulated crash"):
        q.awaitTermination(120)
    # the corpus append of the failed batch landed; nothing recorded
    sunk = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert 0 in sunk and 1 in sunk
    assert not spark.catalog.tableExists(table_name)

    # recovery: same checkpoint, recording restored → the batch replays
    monkeypatch.setattr(ds, "record_novel_signatures", real_record)
    q2 = stream_neardup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    q2.awaitTermination(120)
    docs = [r["doc_id"] for r in spark.read.parquet(corpus).collect()]
    # every survivor is present (nothing dropped) and duplicated once
    # (the replayed batch re-screened against a still-empty history)
    assert set(docs) == sunk
    assert len(docs) == 2 * len(sunk), "crash window duplicates, never drops"
    assert spark.catalog.tableExists(table_name)

    # a later fresh-checkpoint replay of the same input adds nothing:
    # the history now records the batch, idempotence is restored
    q3 = stream_neardup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, str(tmp_path / "ckpt2"),
        n_buckets=4,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 2 * len(sunk)


def test_stream_dedup_ingest_crash_duplicates_never_drops(
    spark, tmp_path, table_name, monkeypatch
):
    """Mirror of the near-dup crash fuzz for the EXACT-dedup streaming
    ingest: a failure planted between the corpus append and
    record_novel of one micro-batch. The corpus is written FIRST, so
    the checkpointed replay must re-admit that batch's novel rows
    (duplicates in the corpus, removable downstream), never silently
    drop them — which a history-first ordering would cause (the replay
    would screen the batch against its own hashes)."""
    import os

    import dask_felleskomponenter_spark.sources.dedup_store as ds
    from dask_felleskomponenter_spark.streaming.ops import stream_dedup_ingest

    in_dir = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    # 12 docs, 6 distinct texts (exact duplicate pairs within the batch)
    rows = [(i, f"exact text {i % 6}") for i in range(12)]
    _batch(spark, rows).coalesce(1).write.mode("append").parquet(in_dir)

    real_record = ds.record_novel

    def crash_after_sink(*args, **kwargs):
        raise RuntimeError("simulated crash between sink and record")

    monkeypatch.setattr(ds, "record_novel", crash_after_sink)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    with pytest.raises(Exception, match="simulated crash"):
        q.awaitTermination(120)
    # the corpus append of the failed batch landed; nothing recorded
    sunk = {r["text"] for r in spark.read.parquet(corpus).collect()}
    assert sunk == {f"exact text {i}" for i in range(6)}
    assert not spark.catalog.tableExists(table_name)

    # recovery: same checkpoint, recording restored -> the batch replays
    monkeypatch.setattr(ds, "record_novel", real_record)
    q2 = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    q2.awaitTermination(120)
    texts = [r["text"] for r in spark.read.parquet(corpus).collect()]
    # every novel text is present (nothing dropped) and duplicated once
    # (the replayed batch re-screened against a still-empty history)
    assert set(texts) == sunk
    assert len(texts) == 2 * len(sunk), "crash window duplicates, never drops"
    assert spark.catalog.tableExists(table_name)

    # a later fresh-checkpoint replay of the same input adds nothing:
    # the history now records the batch, idempotence is restored
    q3 = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, str(tmp_path / "ckpt2"),
        n_buckets=4,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(corpus).count() == 2 * len(sunk)


def test_stream_neardup_ingest_cross_batch(spark, tmp_path, table_name):
    """End-to-end streaming near-dup ingest: two availableNow passes
    over growing input; the second pass's near-dups of pass-one
    survivors never reach the corpus, and a checkpointed replay adds
    nothing."""
    import os

    from dask_felleskomponenter_spark.streaming.ops import (
        stream_neardup_ingest,
    )

    in_dir = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    _batch(spark, _near_docs(15)).coalesce(1).write.mode("append").parquet(
        in_dir
    )
    q = stream_neardup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    q.awaitTermination(120)
    first = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert 0 in first and 1 in first and 5 not in first

    # new files: near-dups of ingested reps + fresh docs
    rows2 = _near_docs(10, salt="x") + [
        (200, "completely novel second wave content alpha beta gamma")
    ]
    _batch(spark, rows2).coalesce(1).write.mode("append").parquet(in_dir)
    q2 = stream_neardup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    q2.awaitTermination(120)
    second = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
    assert 200 in second
    assert 0 not in (second - first) and 5 not in second
    # no new files → replay is a no-op
    q3 = stream_neardup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(in_dir),
        "doc_id", "text", table_name, corpus, ckpt, n_buckets=4,
    )
    q3.awaitTermination(120)
    assert {r["doc_id"] for r in spark.read.parquet(corpus).collect()} == second


def test_exact_screen_rejects_reserved_hash_column(spark, table_name):
    """A caller column named like the history hash must raise, not be
    silently overwritten (the withColumn hazard exact_dedup avoids with
    fresh_name — here the history schema fixes the name)."""
    from dask_felleskomponenter_spark.sources.dedup_store import HASH_COL

    df = spark.createDataFrame(
        [(1, "alpha", "precomputed")], ["doc_id", "text", HASH_COL]
    )
    with pytest.raises(ValueError, match=HASH_COL):
        dedup_against_history(
            spark, df, "doc_id", "text", table_name,
            batch_label="b0", update=False,
        )


def test_neardup_screen_fails_loudly_on_null_ids(spark, table_name):
    """NULL ids cannot be screened (the final anti-join keys on the id,
    and NULL matches nothing): the guard must fail the action loudly
    instead of silently re-admitting flagged NULL-id rows every batch."""
    from pyspark.sql.utils import PythonException

    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
    )

    sig_table = f"{table_name}_sig"
    try:
        df = spark.createDataFrame(
            [(1, "some repeated text body here"),
             (None, "some repeated text body here")],
            "doc_id bigint, text string",
        )
        with pytest.raises(Exception, match="NULL 'doc_id'"):
            neardup_against_history(
                spark, df, "doc_id", "text", sig_table
            ).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sig_table}")


@pytest.mark.parametrize("seed", [101, 202])
def test_stream_neardup_crash_replay_fuzz(
    spark, tmp_path, table_name, monkeypatch, seed
):
    """Randomized composition of the fixed-fixture crash-replay pin and
    the stream≡batch parity fuzz: a random multi-file stream of planted
    near-dup clusters + unique fillers runs through
    ``stream_neardup_ingest`` (one file per micro-batch) with a
    simulated failure between the corpus sink and
    ``record_novel_signatures`` on a RANDOM micro-batch. After
    checkpointed recovery the corpus must hold exactly one distinct
    representative per cluster and every filler; the only doc_ids
    appearing twice are the crashed batch's novel rows (the documented
    duplicates-never-drops window), and a fresh-checkpoint re-run adds
    nothing. Seeds are pinned in the parametrize list — a failure
    message names the seed for replay."""
    import os
    import random

    import dask_felleskomponenter_spark.sources.dedup_store as ds
    from dask_felleskomponenter_spark.streaming.ops import (
        stream_neardup_ingest,
    )

    rng = random.Random(seed)
    n_clusters = rng.randint(2, 4)
    bodies = [
        " ".join(f"c{c}tok{j}" for j in range(60)) for c in range(n_clusters)
    ]
    docs, cluster_members, fillers = [], {c: [] for c in range(n_clusters)}, []
    did = 0
    for c in range(n_clusters):
        for _ in range(rng.randint(2, 5)):
            docs.append((did, f"{bodies[c]} tail{did}"))
            cluster_members[c].append(did)
            did += 1
    for _ in range(rng.randint(5, 12)):
        words = " ".join(
            f"f{did}x{j}y{rng.randint(0, 9973)}" for j in range(20)
        )
        docs.append((did, words))
        fillers.append(did)
        did += 1
    rng.shuffle(docs)

    in_dir = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    n_files = rng.randint(3, 5)
    for fi in range(n_files):
        chunk = docs[fi::n_files]
        spark.createDataFrame(chunk, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(in_dir)

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

    crash_at = rng.randrange(n_files)
    calls = {"n": 0}
    crashed_novel: dict[str, list] = {}
    real_record = ds.record_novel_signatures

    def maybe_crash(novel, *args, **kwargs):
        # foreachBatch runs DRIVER-side, so collecting here is safe —
        # and it is the only way to learn the crashed batch's novel set
        if calls["n"] == crash_at:
            calls["n"] += 1
            crashed_novel["ids"] = sorted(
                r["doc_id"] for r in novel.collect()
            )
            raise RuntimeError("simulated crash between sink and record")
        calls["n"] += 1
        return real_record(novel, *args, **kwargs)

    monkeypatch.setattr(ds, "record_novel_signatures", maybe_crash)
    q = stream_neardup_ingest(
        stream(), "doc_id", "text", table_name, corpus, ckpt, n_buckets=4
    )
    with pytest.raises(Exception, match="simulated crash"):
        q.awaitTermination(180)

    monkeypatch.setattr(ds, "record_novel_signatures", real_record)
    q2 = stream_neardup_ingest(
        stream(), "doc_id", "text", table_name, corpus, ckpt, n_buckets=4
    )
    q2.awaitTermination(180)

    rows = [r["doc_id"] for r in spark.read.parquet(corpus).collect()]
    counts: dict[int, int] = {}
    for i in rows:
        counts[i] = counts.get(i, 0) + 1
    ids = set(counts)
    # exactly one distinct representative per cluster, all fillers kept
    for c, members in cluster_members.items():
        assert len(ids & set(members)) == 1, (
            f"seed {seed}: cluster {c} has {ids & set(members)}"
        )
    assert set(fillers) <= ids, (
        f"seed {seed}: dropped fillers {set(fillers) - ids}"
    )
    assert ids <= set(fillers) | {
        m for ms in cluster_members.values() for m in ms
    }
    # duplicates exactly = the crashed batch's novel rows, never drops
    dup_ids = sorted(i for i, n in counts.items() if n > 1)
    assert dup_ids == crashed_novel["ids"], (
        f"seed {seed}: dup rows {dup_ids} != crashed batch's novel "
        f"{crashed_novel['ids']}"
    )
    assert all(n <= 2 for n in counts.values()), f"seed {seed}: {counts}"

    # idempotence restored: a fresh-checkpoint replay adds nothing
    q3 = stream_neardup_ingest(
        stream(), "doc_id", "text", table_name, corpus,
        str(tmp_path / "ckpt2"), n_buckets=4,
    )
    q3.awaitTermination(180)
    assert spark.read.parquet(corpus).count() == len(rows), (
        f"seed {seed}: fresh replay changed the corpus"
    )


def test_compact_history_works_on_signature_table(spark, table_name):
    """Round-7 review finding: compact_history hardcoded the exact-dedup
    HASH_COL, leaving the near-dup SIGNATURE history (bucketed on
    BUCKET_COL) with no compaction path at all — it must detect the key
    column from the table and preserve screening semantics."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        compact_history,
        neardup_against_history,
        record_novel_signatures,
    )

    sig = f"{table_name}_sig"
    try:
        for b, salt in ((0, ""), (1, "x")):
            batch = _batch(spark, _near_docs(10, salt=salt))
            novel = neardup_against_history(
                spark, batch, "doc_id", "text", sig
            )
            record_novel_signatures(
                novel, "doc_id", "text", sig, f"b{b}", n_buckets=4
            )
        n = compact_history(spark, sig, n_buckets=4)
        assert n > 0
        # replaying batch 0 byte-identically still screens to zero novel
        replay = neardup_against_history(
            spark, _batch(spark, _near_docs(10)), "doc_id", "text", sig
        )
        assert replay.count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sig}")
        spark.sql(f"DROP TABLE IF EXISTS {sig}__old")
        spark.sql(f"DROP TABLE IF EXISTS {sig}__compacting")


def test_recovery_leaves_young_scratch_and_reaps_stale(
    spark, table_name, monkeypatch
):
    """Round-7 review finding: a screening call's recovery used to drop
    the __compacting scratch UNCONDITIONALLY — destroying a concurrent
    compactor's in-flight corpus-sized rewrite. A young scratch must
    survive recovery; only a stale one (older than the threshold) is
    reaped."""
    import dask_felleskomponenter_spark.sources.dedup_store as ds

    _novel_ids(spark, [(1, "alpha")], table_name, "b0")
    scratch = f"{table_name}__compacting"
    spark.createDataFrame([(1,)], "x int").write.saveAsTable(scratch)
    try:
        # young scratch: steady-state screen must not touch it
        assert ds.history_exists(spark, table_name)
        assert spark.catalog.tableExists(scratch), "young scratch reaped"
        # stale scratch (threshold forced to -1): reaped
        monkeypatch.setattr(ds, "STALE_COMPACTION_AGE_S", -1.0)
        assert ds.history_exists(spark, table_name)
        assert not spark.catalog.tableExists(scratch), "stale scratch kept"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {scratch}")


def test_exact_screen_rejects_reserved_column_case_insensitively(spark, table_name):
    """Round-8 finding: the HASH_COL collision guard compared
    case-sensitively while withColumn resolves case-insensitively — a
    user column 'Content_SHA' passed the guard and got silently
    replaced with hashes."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        dedup_against_history,
    )

    df = spark.createDataFrame(
        [(1, "t", "user data")], "doc_id bigint, text string, Content_SHA string"
    )
    with pytest.raises(ValueError, match="content_sha"):
        dedup_against_history(
            spark, df, "doc_id", "text", table_name, update=False
        )


def test_exact_screen_fails_loudly_on_null_ids(spark, table_name):
    """Round-8 finding: the exact store accepted NULL ids, making the
    keep-first survivor partition-order-dependent and recording NULL
    first_seen_id provenance, while the near-dup store rejected them."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        dedup_against_history,
    )

    df = spark.createDataFrame(
        [(1, "same text"), (None, "same text")], "doc_id bigint, text string"
    )
    with pytest.raises(Exception, match="NULL 'doc_id'"):
        dedup_against_history(
            spark, df, "doc_id", "text", table_name, update=False
        ).collect()


def test_compaction_swap_survives_concurrent_screen_recovery(
    spark, table_name, monkeypatch
):
    """Round-8 finding: a screen's _recover_history running between the
    compactor's two renames restores __old to the live name, failing
    the scratch→live rename after the corpus-sized rewrite completed.
    The bounded retry must absorb exactly that interleaving."""
    from dask_felleskomponenter_spark.sources import dedup_store as ds

    batch = spark.createDataFrame(
        [(i, f"text body {i}") for i in range(20)], "doc_id bigint, text string"
    )
    ds.dedup_against_history(
        spark, batch, "doc_id", "text", table_name, update=True,
        batch_label="b0",
    )
    real_sql = spark.sql
    fired = {"n": 0}
    scratch_rename = f"ALTER TABLE {table_name}__compacting RENAME TO {table_name}"

    def racing_sql(q, *a, **kw):
        if q.strip() == scratch_rename and fired["n"] == 0:
            fired["n"] += 1
            # simulate the concurrent screen: live is missing, __old
            # present → recovery restores it, then the rename below
            # collides
            ds._recover_history(spark, table_name)
        return real_sql(q, *a, **kw)

    monkeypatch.setattr(spark, "sql", racing_sql)
    n = ds.compact_history(spark, table_name)
    monkeypatch.undo()
    assert fired["n"] >= 1  # the race actually fired
    assert n == 20
    assert spark.table(table_name).count() == 20
    assert not spark.catalog.tableExists(f"{table_name}__old")
    assert not spark.catalog.tableExists(f"{table_name}__compacting")


def test_blank_docs_screen_and_replay_idempotently(spark, table_name):
    """Round-10: NULL-signature (blank/NULL-text) documents used to emit
    NO band buckets at all after the minhash blank fix — unscreened,
    unrecorded, re-admitted as novel every batch, and duplicated into
    the corpus by an at-least-once replay. The reserved BLANK bucket
    restores first-survives + replay-collision."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
        record_novel_signatures,
    )

    b1 = _batch(spark, [(1, None), (2, ""), (10, "real text here ok")])
    novel, buckets = neardup_against_history(
        spark, b1, "doc_id", "text", table_name, return_buckets=True
    )
    ids = sorted(r.doc_id for r in novel.collect())
    assert ids == [1, 10], "first blank survives, second blank drops"
    record_novel_signatures(
        novel, "doc_id", "text", table_name, "b1", buckets_df=buckets
    )
    # replayed batch collides with its own recording: zero novel
    replay = neardup_against_history(spark, b1, "doc_id", "text", table_name)
    assert replay.count() == 0
    # a later batch's blank doc is a duplicate of batch 1's
    b2 = _batch(spark, [(20, "   "), (21, "completely new content words")])
    novel2 = neardup_against_history(spark, b2, "doc_id", "text", table_name)
    assert sorted(r.doc_id for r in novel2.collect()) == [21]


def _record_exact(spark, rows, table_name, label):
    from dask_felleskomponenter_spark.sources.dedup_store import record_novel

    batch = _batch(spark, rows).withColumn(
        "content_sha", F.sha2(F.col("text"), 256)
    )
    record_novel(batch, "doc_id", table_name, label, n_buckets=4)


def _record_signatures(spark, rows, table_name, label):
    from dask_felleskomponenter_spark.sources.dedup_store import (
        record_novel_signatures,
    )

    record_novel_signatures(
        _batch(spark, rows), "doc_id", "text", table_name, label, n_buckets=4
    )


def _screen_exact(spark, rows, table_name):
    out = dedup_against_history(
        spark, _batch(spark, rows), "doc_id", "text", table_name,
        n_buckets=4, update=False,
    )
    return sorted(r["doc_id"] for r in out.collect())


def _screen_signatures(spark, rows, table_name):
    from dask_felleskomponenter_spark.sources.dedup_store import (
        neardup_against_history,
    )

    out = neardup_against_history(
        spark, _batch(spark, rows), "doc_id", "text", table_name
    )
    return sorted(r["doc_id"] for r in out.collect())


RECORD_PATHS = {
    "record_novel": (_record_exact, _screen_exact),
    "record_novel_signatures": (_record_signatures, _screen_signatures),
}


@pytest.mark.parametrize("record_path", sorted(RECORD_PATHS))
def test_record_novel_recovers_interrupted_compaction_first(
    spark, table_name, record_path
):
    """Round-10: a record call on the post-crash state (history under
    __old only) used to CREATE a stub live table, making the next
    recovery drop the real history. Both record paths must roll the
    swap back first."""
    record, screen = RECORD_PATHS[record_path]
    seed = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs today"),
    ]
    record(spark, seed, table_name, "b1")
    n_seed = spark.table(table_name).count()
    # crash between the two compaction renames
    spark.sql(f"ALTER TABLE {table_name} RENAME TO {table_name}__old")
    record(
        spark, [(3, "sphinx of black quartz judge my solemn vow")],
        table_name, "b2",
    )
    assert not spark.catalog.tableExists(f"{table_name}__old")
    # the full history survived: every batch-1 row and the new batch's
    per_batch = {
        r["ingest_batch"]: r["count"]
        for r in spark.table(table_name).groupBy("ingest_batch").count().collect()
    }
    assert per_batch == {"b1": n_seed, "b2": n_seed // len(seed)}
    # and screening still sees batch-1 content as duplicates
    assert screen(
        spark,
        [(9, seed[0][1]), (8, "waltz bad nymph for quick jigs vex")],
        table_name,
    ) == [8]


def test_screen_accepts_case_variant_id_col(spark, table_name):
    """Round-10: df.schema[id_col] raised a raw KeyError for an id_col
    cased differently from the schema — input every downstream
    expression accepts under spark.sql.caseSensitive=false."""
    from dask_felleskomponenter_spark.sources.dedup_store import (
        dedup_against_history,
    )

    out = dedup_against_history(
        spark, _batch(spark, [(1, "xx"), (2, "xx")]), "DOC_ID", "text",
        table_name, batch_label="b1", n_buckets=4, update=True,
    )
    # withColumn adopts the caller's spelling (Spark's own semantics)
    assert sorted(r["DOC_ID"] for r in out.collect()) == [1]
