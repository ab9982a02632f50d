"""CSV/JSON ingest tests: Json2Spark-typed reads, permissive corrupt-row
quarantine, strict failfast."""

from __future__ import annotations

import os
import shutil

import pytest

from dask_felleskomponenter_spark.sources.files import CORRUPT_COL, read_csv, read_json

DOC_SCHEMA = {
    "type": "object",
    "required": ["id"],
    "properties": {
        "id": {"type": "integer"},
        "name": {"type": "string"},
        "score": {"type": "number"},
    },
}


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("id,name,score\n1,alpha,0.5\n2,beta,0.25\nnot-an-int,gamma,x\n")
    return str(p)


@pytest.fixture()
def json_file(tmp_path):
    p = tmp_path / "d.jsonl"
    p.write_text('{"id": 1, "name": "alpha", "score": 0.5}\n{"id": "oops"}\n')
    return str(p)


def test_csv_json_schema_typing(spark, csv_file):
    df = read_csv(spark, csv_file, DOC_SCHEMA)
    types = dict(df.dtypes)
    assert types["id"] == "bigint" and types["score"] == "double"
    good = df.filter(df[CORRUPT_COL].isNull()).collect()
    assert {(r["id"], r["name"]) for r in good} == {(1, "alpha"), (2, "beta")}


def test_csv_corrupt_quarantine(spark, csv_file):
    df = read_csv(spark, csv_file, DOC_SCHEMA)
    bad = df.filter(df[CORRUPT_COL].isNotNull()).collect()
    assert len(bad) == 1 and "not-an-int" in bad[0][CORRUPT_COL]


def test_csv_strict_raises(spark, csv_file):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException)):
        read_csv(spark, csv_file, DOC_SCHEMA, strict=True).collect()


def test_json_lines(spark, json_file):
    # cache: Spark disallows queries over raw JSON that reference only
    # the internal corrupt-record column (SPARK-21610)
    df = read_json(spark, json_file, DOC_SCHEMA).cache()
    good = df.filter(df[CORRUPT_COL].isNull()).collect()
    assert [(r["id"], r["name"], r["score"]) for r in good] == [(1, "alpha", 0.5)]
    assert df.filter(df[CORRUPT_COL].isNotNull()).count() == 1


def test_read_jdbc_partitioned_options():
    """read_jdbc (S5 read twin) builds a partition-parallel JDBC scan;
    option-level test mirroring test_sync's no-database style."""
    from unittest.mock import MagicMock

    from dask_felleskomponenter_spark.sources.files import read_jdbc

    spark = MagicMock()
    reader = spark.read.format.return_value
    reader.option.return_value = reader

    df = read_jdbc(
        spark,
        "jdbc:postgresql://h:5432/db",
        "public.tbl",
        partition_column="id",
        lower_bound=0,
        upper_bound=100_000,
        num_partitions=16,
        fetchsize="5000",
    )
    spark.read.format.assert_called_once_with("jdbc")
    opts = dict(c.args for c in reader.option.call_args_list)
    assert opts["url"] == "jdbc:postgresql://h:5432/db"
    assert opts["dbtable"] == "public.tbl"
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "100000"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "5000"
    reader.load.assert_called_once_with()
    assert df is reader.load.return_value


def test_read_jdbc_partition_column_requires_bounds():
    from unittest.mock import MagicMock

    from dask_felleskomponenter_spark.sources.files import read_jdbc

    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(MagicMock(), "jdbc:x", "t", partition_column="id")


class TestBinaryFileSource:
    """binaryFile ingest → multimodal decode, end-to-end on real PNG
    files written to disk."""

    def test_glob_prunes_and_decode_composes(self, spark, tmp_path):
        from dask_felleskomponenter_spark.functions.multimodal import (
            decode_image_png,
            image_pixel_stats,
            png_encode,
        )
        from dask_felleskomponenter_spark.sources.files import read_binary_files

        media = tmp_path / "media"
        (media / "sub").mkdir(parents=True)
        for i, w in enumerate((3, 5)):
            payload = bytes((x + y + c) & 0xFF for y in range(4) for x in range(w) for c in range(3))
            (media / "sub" / f"img{i}.png").write_bytes(png_encode(w, 4, 3, payload))
        (media / "sub" / "notes.txt").write_bytes(b"not an image")

        df = read_binary_files(spark, str(media), glob="*.png")
        assert df.count() == 2  # the txt never enters the scan
        stats = image_pixel_stats(df, "content", decoder=decode_image_png)
        got = {
            r["path"].rsplit("/", 1)[-1]: r["pixel_stats"]["width"]
            for r in stats.collect()
        }
        assert got == {"img0.png": 3, "img1.png": 5}

    def test_max_bytes_guard(self, spark, tmp_path):
        from dask_felleskomponenter_spark.sources.files import read_binary_files

        (tmp_path / "small.bin").write_bytes(b"x" * 10)
        (tmp_path / "large.bin").write_bytes(b"x" * 10_000)
        df = read_binary_files(spark, str(tmp_path), glob="*.bin", max_bytes=100)
        rows = df.select("path", "length").collect()
        assert len(rows) == 1 and rows[0]["length"] == 10


class TestXmlSource:
    def test_typed_read_with_json_schema(self, spark, tmp_path):
        from dask_felleskomponenter_spark.sources.files import read_xml

        (tmp_path / "feed.xml").write_text(
            "<feed>"
            "<entry><id>1</id><title>first</title><score>0.5</score></entry>"
            "<entry><id>2</id><title>second</title><score>1.5</score></entry>"
            "</feed>"
        )
        schema = {
            "type": "object",
            "properties": {
                "id": {"type": "integer"},
                "title": {"type": "string"},
                "score": {"type": "number"},
            },
            "required": ["id"],
        }
        df = read_xml(spark, str(tmp_path), row_tag="entry", schema=schema)
        rows = {r["id"]: (r["title"], r["score"]) for r in df.collect()}
        assert rows == {1: ("first", 0.5), 2: ("second", 1.5)}
        assert dict(df.dtypes)["id"] == "bigint"

    def test_corrupt_rows_quarantined(self, spark, tmp_path):
        from dask_felleskomponenter_spark.sources.files import (
            CORRUPT_COL,
            read_xml,
        )

        (tmp_path / "bad.xml").write_text(
            "<feed>"
            "<entry><id>1</id></entry>"
            "<entry><id>not-a-number</id></entry>"
            "</feed>"
        )
        schema = {
            "type": "object",
            "properties": {"id": {"type": "integer"}},
            "required": ["id"],
        }
        df = read_xml(spark, str(tmp_path), row_tag="entry", schema=schema)
        rows = df.collect()
        assert len(rows) == 2
        bad = [r for r in rows if r[CORRUPT_COL] is not None]
        assert len(bad) == 1 and bad[0]["id"] is None


class TestSyntheticDataSource:
    """Custom Python DataSource: partition-parallel deterministic corpus."""

    def test_deterministic_and_partitioned(self, spark):
        from dask_felleskomponenter_spark.sources.synthetic import (
            register_synthetic_sources,
        )

        register_synthetic_sources(spark)

        def load():
            return (
                spark.read.format("synthetic_documents")
                .option("n_partitions", 3)
                .option("rows_per_partition", 40)
                .option("seed", 7)
                .load()
            )

        a = load()
        assert a.count() == 120
        assert a.rdd.getNumPartitions() == 3
        assert dict(a.dtypes) == {
            "doc_id": "bigint", "lang": "string", "text": "string"
        }
        rows_a = sorted(tuple(r) for r in a.collect())
        rows_b = sorted(tuple(r) for r in load().collect())
        assert rows_a == rows_b  # same seed -> identical corpus
        ids = [r[0] for r in rows_a]
        assert ids == list(range(120))  # dense, partition-offset ids

        different = (
            spark.read.format("synthetic_documents")
            .option("n_partitions", 3)
            .option("rows_per_partition", 40)
            .option("seed", 8)
            .load()
        )
        assert sorted(tuple(r) for r in different.collect()) != rows_a

    def test_composes_with_text_operators(self, spark):
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.functions import text as TX
        from dask_felleskomponenter_spark.sources.synthetic import (
            register_synthetic_sources,
        )

        register_synthetic_sources(spark)
        df = (
            spark.read.format("synthetic_documents")
            .option("n_partitions", 2)
            .option("rows_per_partition", 25)
            .load()
        )
        out = df.select("doc_id", TX.quality_score("text").alias("q")).collect()
        assert len(out) == 50 and all(0.0 <= r["q"] <= 1.0 for r in out)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    # ORC write → read roundtrip, schema enforced via the Json2Spark
    # path, and a filter that reaches the ORC scan as a pushed predicate
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.files import read_orc, write_orc

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("x")
    )
    path = str(tmp_path / "orc_tbl")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.count() == 1000
    assert {f.name for f in back.schema.fields} == {"id", "grp", "x"}

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.filter(F.col("grp") == 3).select("id").explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "grp" in plan


def test_avro_is_a_gated_extra(spark, tmp_path):
    # without the external spark-avro module the reader must fail with
    # the format-lookup error, not an import crash
    import pytest as _pytest

    from dask_felleskomponenter_spark.sources.files import read_avro

    try:
        df = read_avro(spark, str(tmp_path / "nope"))
        df.count()
    except Exception as ex:  # noqa: BLE001 - asserting the error class text
        assert "avro" in str(ex).lower()
    else:
        _pytest.skip("spark-avro present in this environment")


def test_sorted_shards_layout(spark, tmp_path):
    # dataloader export contract: files respect the row cap, rows within
    # every file are sorted, and shard ranges do not interleave
    import pyarrow.parquet as pq
    import glob as _glob

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import write_sorted_shards

    df = spark.range(10_000).select(
        F.col("id"), F.xxhash64("id").alias("h")
    )
    path = str(tmp_path / "shards")
    write_sorted_shards(
        df, path, shard_col="id", n_shards=8,
        sort_cols=["id"], max_records_per_file=700,
    )
    files = sorted(_glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 8  # 8 shards, split further by the row cap
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["id"])
        ids = t.column("id").to_pylist()
        assert len(ids) <= 700
        assert ids == sorted(ids), f"unsorted rows in {f}"
        ranges.append((min(ids), max(ids)))
    # a range-partitioned layout never interleaves across files
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2 or hi1 <= lo2, (hi1, lo2)
    back = spark.read.parquet(path)
    assert back.count() == 10_000


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import zorder_key

    df = spark.range(1).select(
        F.lit(0b1010).alias("x"), F.lit(0b0110).alias("y")
    )
    [row] = df.select(zorder_key(["x", "y"], bits=4).alias("z")).collect()
    # interleave x=1010, y=0110 (x gets even bit positions, y odd):
    expected = 0
    for i in range(4):
        expected |= ((0b1010 >> i) & 1) << (2 * i)
        expected |= ((0b0110 >> i) & 1) << (2 * i + 1)
    assert row.z == expected


def test_zorder_layout_prunes_better_than_linear(spark, tmp_path):
    # a y-axis predicate must overlap fewer files in the z-ordered
    # layout than in an x-sorted one — the whole point of the layout
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import write_zordered

    pts = spark.range(20_000).select(
        ((F.col("id") * 48271) % 256).alias("x"),
        ((F.col("id") * 16807) % 256).alias("y"),
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    write_zordered(pts, zpath, ["x", "y"], n_files=16, bits=8)
    (
        pts.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def overlapping_files(path, lo, hi):
        n = 0
        for f in _glob.glob(path + "/part-*.parquet"):
            md = pq.read_metadata(f)
            y_idx = md.schema.names.index("y")
            fmin = min(
                md.row_group(g).column(y_idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(y_idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax >= lo and fmin <= hi:
                n += 1
        return n

    z_touch = overlapping_files(zpath, 0, 31)
    l_touch = overlapping_files(lpath, 0, 31)
    assert z_touch < l_touch, (z_touch, l_touch)
    # both layouts hold the same rows
    assert spark.read.parquet(zpath).count() == 20_000


def test_compact_parquet_shrinks_file_count_preserving_rows(spark, tmp_path):
    import glob as _glob

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "many")
    spark.range(50_000).select(
        "id", F.xxhash64("id").alias("h")
    ).repartition(64).write.parquet(path)
    assert len(_glob.glob(path + "/part-*.parquet")) == 64
    before = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]
    n = compact_parquet(spark, path, target_file_bytes=512 * 1024)
    files = _glob.glob(path + "/part-*.parquet")
    assert len(files) == n and n < 64
    assert spark.read.parquet(path).agg(F.sum("id")).collect()[0][0] == before


def test_compact_parquet_sweeps_orphaned_staging_dirs(spark, tmp_path):
    """A hard-killed run leaves a uuid-suffixed .staging-* sibling (a
    full dataset copy) that no later run would ever reuse; the next
    compaction must sweep it instead of leaking disk forever."""
    import os

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "t")
    spark.range(1000).select("id", F.xxhash64("id").alias("h")).repartition(
        8
    ).write.parquet(path)
    orphan = f"{path}.staging-deadbeefdeadbeef"
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-junk.parquet"), "wb").write(b"x" * 128)
    # back-date past the stale-age guard; a fresh sibling (potentially a
    # live concurrent compaction's write) must survive
    import time

    stale = time.time() - 7200
    os.utime(orphan, (stale, stale))
    os.utime(os.path.join(orphan, "part-junk.parquet"), (stale, stale))
    fresh = f"{path}.staging-aliveconcurrent"
    os.makedirs(fresh)
    compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh), "fresh staging must survive the sweep"
    assert spark.read.parquet(path).count() == 1000


def test_compact_parquet_handles_map_columns(spark, tmp_path):
    """The deterministic spread key hashes data columns, but Spark
    rejects hash expressions over MapType (DATATYPE_MISMATCH.
    HASH_MAP_TYPE) — map columns must be excluded, and an all-map
    dataset must fall back to a constant key instead of failing at
    analysis."""
    import glob as _glob

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "withmap")
    (
        spark.range(4000)
        .select(
            "id",
            (F.col("id") % 2).alias("day"),
            F.create_map(
                F.lit("k"), F.col("id").cast("string")
            ).alias("attrs"),
        )
        .repartition(16)
        .write.partitionBy("day")
        .parquet(path)
    )
    before = spark.read.parquet(path).count()
    n = compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert n < 32
    assert spark.read.parquet(path).count() == before

    # degenerate: the ONLY data column is a map → F.lit(0) fallback
    path2 = str(tmp_path / "onlymap")
    (
        spark.range(1000)
        .select(
            (F.col("id") % 2).alias("day"),
            F.create_map(
                F.lit("k"), F.col("id").cast("string")
            ).alias("attrs"),
        )
        .repartition(8)
        .write.partitionBy("day")
        .parquet(path2)
    )
    compact_parquet(spark, path2, target_file_bytes=1 << 20)
    assert spark.read.parquet(path2).count() == 1000


def test_staging_liveness_probe_recurses_into_temporary(tmp_path):
    """An in-flight Spark write churns 2+ levels deep under
    staging/_temporary/<job>/_temporary/<task>/...; the immediate
    _temporary child goes mtime-quiet right after job setup, so the
    liveness probe must take max mtime over the WHOLE subtree — or a
    concurrent write running longer than min_age_s gets rmtree'd
    mid-flight (the partially-deleted-swap hazard)."""
    import os
    import time

    from dask_felleskomponenter_spark.ioutil import recover_interrupted_swap

    path = str(tmp_path / "t")
    os.makedirs(path)
    staging = f"{path}.staging-deadbeefcafe"
    deep = os.path.join(staging, "_temporary", "0", "_temporary", "attempt_1")
    os.makedirs(deep)
    task_file = os.path.join(deep, "part-00000.parquet")
    open(task_file, "wb").write(b"x" * 64)
    stale = time.time() - 7200
    for dirpath, _dn, filenames in os.walk(staging):
        os.utime(dirpath, (stale, stale))
        for f in filenames:
            os.utime(os.path.join(dirpath, f), (stale, stale))
    # the running writer just touched only the DEEPEST task file —
    # every directory level above it stays mtime-stale
    os.utime(task_file, None)
    recover_interrupted_swap(path, min_age_s=3600)
    assert os.path.exists(staging), "live deep write must survive the sweep"
    # once the whole subtree is quiet past the age guard, it is reaped
    os.utime(task_file, (stale, stale))
    recover_interrupted_swap(path, min_age_s=3600)
    assert not os.path.exists(staging)


def test_compact_parquet_preserves_hive_partitioning(spark, tmp_path):
    # a key=value layout must come back partitioned: same subdirs, the
    # partition column in directory names (not data files), pruning alive
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "bydate")
    (
        spark.range(20_000)
        .select(
            "id",
            (F.col("id") % 4).alias("day"),
            F.xxhash64("id").alias("h"),
        )
        .repartition(32)
        .write.partitionBy("day")
        .parquet(path)
    )
    files_before = len(_glob.glob(path + "/day=*/part-*.parquet"))
    before = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]

    n = compact_parquet(spark, path, target_file_bytes=256 * 1024)

    # layout survived: four day= dirs, fewer files, no flat files on top
    assert sorted(
        d for d in _os.listdir(path) if d.startswith("day=")
    ) == ["day=0", "day=1", "day=2", "day=3"]
    assert not _glob.glob(path + "/part-*.parquet")
    files_after = _glob.glob(path + "/day=*/part-*.parquet")
    assert len(files_after) == n and n < files_before
    after_df = spark.read.parquet(path)
    assert after_df.agg(F.sum("id")).collect()[0][0] == before
    # partition pruning still works on the compacted layout
    plan = after_df.filter(F.col("day") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan


def test_parquet_schema_evolution_read(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from dask_felleskomponenter_spark.sources.files import read_parquet_evolved

    path = str(tmp_path / "evolving")
    # batch 1: (id, name) — old layout without the score column
    spark.range(5).select(
        "id", F.lit("old").alias("name")
    ).write.parquet(path)
    # batch 2: (id, name, score, legacy_debug) — added columns
    spark.range(5, 10).select(
        "id", F.lit("new").alias("name"), F.lit(1.5).alias("score"),
        F.lit("junk").alias("legacy_debug"),
    ).write.mode("append").parquet(path)

    target = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    out = read_parquet_evolved(spark, path, target)
    assert [f.name for f in out.schema.fields] == ["id", "name", "score"]
    assert dict(out.dtypes)["id"] == "bigint"
    rows = {r.id: (r.name, r.score) for r in out.collect()}
    assert rows[0] == ("old", None)  # missing column -> typed NULL
    assert rows[7] == ("new", 1.5)
    assert len(rows) == 10

    kept = read_parquet_evolved(spark, path, target, extras="keep")
    assert "_extras" in kept.columns
    legacy = {r.id: r._extras.legacy_debug for r in kept.collect()}
    assert legacy[7] == "junk" and legacy[0] is None


def test_parquet_schema_evolution_is_case_insensitive_by_default(spark, tmp_path):
    """Spark resolves columns case-insensitively unless
    spark.sql.caseSensitive is on; the evolved read must match the same
    way — a file column 'userId' satisfies a target field 'userid'
    instead of being silently nulled out (round-6 review finding)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from dask_felleskomponenter_spark.sources.files import read_parquet_evolved

    path = str(tmp_path / "cased")
    spark.range(4).select(F.col("id").alias("userId")).write.parquet(path)
    target = StructType([StructField("userid", LongType())])
    out = read_parquet_evolved(spark, path, target)
    assert out.columns == ["userid"]
    assert sorted(r.userid for r in out.collect()) == [0, 1, 2, 3]
    # a matched-but-differently-cased column is NOT an extra
    kept = read_parquet_evolved(spark, path, target, extras="keep")
    assert "_extras" not in kept.columns


def test_synthetic_batch_and_stream_rows_agree(spark, tmp_path):
    """Regression: the batch reader drew lang AFTER the text words while
    the stream reader drew it BEFORE from the same-seeded RNG, so the
    'micro-batch twin' produced different rows for identical keys."""
    from dask_felleskomponenter_spark.sources.synthetic import (
        register_synthetic_sources,
    )

    register_synthetic_sources(spark)
    batch = (
        spark.read.format("synthetic_documents")
        .option("n_partitions", 2)
        .option("rows_per_partition", 5)
        .option("seed", 7)
        .load()
    )
    stream = (
        spark.readStream.format("synthetic_documents")
        .option("n_partitions", 2)
        .option("rows_per_partition", 5)
        .option("seed", 7)
        .option("max_batches", 1)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("synth_twin")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in spark.table("synth_twin").collect()}
    assert b == s


def test_read_parquet_evolved_validates_extras_before_reading(spark):
    """A typo'd extras= must fail in milliseconds at function entry —
    the old post-loop validation first paid the mergeSchema footer-
    union job over every file (round-7 review finding). Proven by
    passing a NONEXISTENT path: entry-time validation raises ValueError
    before any read could fail on the path."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.sources.files import (
        read_parquet_evolved,
    )

    with _pytest.raises(ValueError, match="extras"):
        read_parquet_evolved(
            spark, "/nonexistent/nowhere", "id bigint", extras="KEEP"
        )


def test_read_parquet_evolved_handles_dotted_file_columns(spark, tmp_path):
    """File columns with literal dots must be carried into _extras (and
    matched) via quoted access, not parsed as nested-field refs."""
    from pyspark.sql.types import LongType, StructField, StructType

    from dask_felleskomponenter_spark.sources.files import (
        read_parquet_evolved,
    )

    path = str(tmp_path / "dotted_evo")
    spark.createDataFrame(
        [(1, 2.5)], ["id", "geo.lat"]
    ).write.parquet(path)
    target = StructType([StructField("id", LongType())])
    kept = read_parquet_evolved(spark, path, target, extras="keep")
    row = kept.first()
    assert row["id"] == 1
    assert row["_extras"]["geo.lat"] == 2.5


def test_load_tables_empty_subset_loads_nothing(spark):
    """An explicit empty names tuple is 'none', not 'all' (falsy-
    container class)."""
    from dask_felleskomponenter_spark.sources.tables import load_tables

    assert load_tables(spark, "/root/testdata/sf0.001", names=()) == {}


def test_write_time_partitioned_rejects_colliding_partition_col(spark, tmp_path):
    """withColumn would silently replace a same-named user column in
    the written dataset — loud error instead."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import (
        write_time_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "user-data")],
        "id long, ts string, _pdate string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with _pytest.raises(ValueError, match="collides"):
        write_time_partitioned(df, str(tmp_path / "o"), "ts")
    # CASE-variant collision too: withColumn resolves case-insensitively
    # under the default spark.sql.caseSensitive=false, so an exact-match
    # guard let '_PDATE' be silently replaced (round-10 review)
    df2 = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "user-data")],
        "id long, ts string, _PDATE string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with _pytest.raises(ValueError, match="collides"):
        write_time_partitioned(df2, str(tmp_path / "o"), "ts")


def test_zorder_key_rejects_nonpositive_bits(spark):
    """bits<=0 built an empty interleave loop — constant key, one range
    partition, zero clustering, no error."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.sources.tables import zorder_key

    with _pytest.raises(ValueError, match="bits"):
        zorder_key(["a", "b"], bits=0)


def test_path_mutex_bootstraps_missing_parent(tmp_path):
    """Round-8 finding: path_mutex os.open(O_CREAT) died with ENOENT
    when the target's parent directory did not exist yet — yet the
    Spark write it guards would have created the dirs itself."""
    from dask_felleskomponenter_spark.ioutil import path_mutex

    target = tmp_path / "fresh" / "nested" / "summary"
    with path_mutex(str(target)):
        pass  # no ENOENT: first-run bootstrap


def test_recover_interrupted_swap_reaps_leftover_old(tmp_path):
    """Round-8 finding: a crash between the publish rename and the
    final rmtree left a dataset-sized {path}.old that no recovery ever
    removed (one-shot jobs never swap the same path again)."""
    import os

    from dask_felleskomponenter_spark.ioutil import recover_interrupted_swap

    live = tmp_path / "data"
    old = tmp_path / "data.old"
    live.mkdir(); (live / "part-0").write_text("new")
    old.mkdir(); (old / "part-0").write_text("obsolete")
    recover_interrupted_swap(str(live))
    assert live.exists() and (live / "part-0").read_text() == "new"
    assert not old.exists()

    # the restore path still works: live missing, .old present
    os.rename(str(live), str(old))
    recover_interrupted_swap(str(live))
    assert live.exists() and not old.exists()


def _swap_leftovers(tmp_path):
    return sorted(
        p.name for p in tmp_path.iterdir()
        if p.name.endswith(".old") or ".staging-" in p.name
    )


def test_swap_publish_commits_body_output(tmp_path):
    """The body writes the yielded staging dir; on return it is the
    live dir and neither ``.old`` nor a staging dir is left."""
    from dask_felleskomponenter_spark.ioutil import swap_publish

    live = tmp_path / "data"
    live.mkdir(); (live / "part-0").write_text("old")
    with swap_publish(str(live)) as staging:
        assert staging.startswith(f"{live}.staging-")
        # the live dir still serves the old content inside the block
        assert (live / "part-0").read_text() == "old"
        os.makedirs(staging)
        with open(os.path.join(staging, "part-0"), "w") as fh:
            fh.write("new")
    assert (live / "part-0").read_text() == "new"
    assert _swap_leftovers(tmp_path) == []


def test_swap_publish_keeps_old_content_when_body_raises(tmp_path):
    from dask_felleskomponenter_spark.ioutil import swap_publish

    live = tmp_path / "data"
    live.mkdir(); (live / "part-0").write_text("old")
    with pytest.raises(RuntimeError, match="write failed"):
        with swap_publish(str(live)) as staging:
            os.makedirs(staging)
            with open(os.path.join(staging, "part-0"), "w") as fh:
                fh.write("partial")
            raise RuntimeError("write failed")
    assert (live / "part-0").read_text() == "old"
    assert _swap_leftovers(tmp_path) == []


def test_swap_publish_restores_lone_old_on_entry(tmp_path):
    """A crash between the two renames leaves only ``.old``: entry
    restores it before the body runs, so the body reads the history."""
    from dask_felleskomponenter_spark.ioutil import swap_publish

    live = tmp_path / "data"
    old = tmp_path / "data.old"
    old.mkdir(); (old / "part-0").write_text("history")
    with swap_publish(str(live)) as staging:
        assert (live / "part-0").read_text() == "history"
        assert not old.exists()
        shutil.copytree(live, staging)
        with open(os.path.join(staging, "part-1"), "w") as fh:
            fh.write("batch")
    assert sorted(p.name for p in live.iterdir()) == ["part-0", "part-1"]
    assert _swap_leftovers(tmp_path) == []
