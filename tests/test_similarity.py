"""Blocked all-pairs cosine operator tests — tile correctness against a
brute-force reference, including the cross-block canonical-ordering
cases (pair ids in opposite order to their block sides)."""

from __future__ import annotations

import itertools
import math
import random

from pyspark.sql import Row
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.operators.similarity import cosine_neardup_pairs


def _brute_force(vecs: dict[int, list[float]], thr: float) -> set[tuple[int, int]]:
    out = set()
    for a, b in itertools.combinations(sorted(vecs), 2):
        va, vb = vecs[a], vecs[b]
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        c = round(sum(x * y for x, y in zip(va, vb)) / (na * nb), 9)
        if c >= thr:
            out.add((a, b))
    return out


def test_blocked_pairs_match_brute_force(spark):
    rng = random.Random(7)
    vecs = {i: [rng.gauss(0, 1) for _ in range(8)] for i in range(60)}
    # plant near-duplicates across arbitrary id distances (and therefore
    # arbitrary block pairs): slightly perturbed copies
    for src, dst in [(3, 41), (17, 58), (0, 29)]:
        vecs[dst] = [x + rng.gauss(0, 0.01) for x in vecs[src]]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()]
    )
    for n_blocks in (1, 3, 8):
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_neardup_pairs(df, threshold=0.8, n_blocks=n_blocks).collect()
        }
        assert got == _brute_force(vecs, 0.8), f"n_blocks={n_blocks}"
        assert {(3, 41), (17, 58), (0, 29)} <= got


def test_no_self_or_duplicate_pairs(spark):
    # identical vectors: every pair is a near-dup; each unordered pair
    # must appear exactly once, no self-pairs
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[1.0, 2.0, 3.0]) for i in range(10)]
    )
    rows = cosine_neardup_pairs(df, threshold=0.99, n_blocks=4).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(pairs) == len(set(pairs)) == 45  # C(10,2)
    assert all(a < b for a, b in pairs)


def test_dotted_id_column_resolves_exactly(spark):
    """A column literally named ``vec.id`` is a legal id: the NULL
    guard and the block hash must not read it as a struct-field path
    (a bare ``F.col`` raised UNRESOLVED_COLUMN here)."""
    import pytest

    vecs = {1: [1.0, 0.0], 2: [0.99, 0.01], 3: [0.0, 1.0], 4: [0.01, 1.0]}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "`vec.id` long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(df, 0.9, n_blocks=2, id_col="vec.id").collect()
    }
    assert got == _brute_force(vecs, 0.9) == {(1, 2), (3, 4)}
    with_null = df.union(spark.createDataFrame([(None, [1.0, 0.0])], df.schema))
    with pytest.raises(Exception, match="NULL 'vec.id'"):
        cosine_neardup_pairs(with_null, 0.9, n_blocks=2, id_col="vec.id").collect()


class TestPartitionLocalTopk:
    """The shuffle-free pre-reduction feeding the per-query merge
    (VERDICT r2: the merge window must never see the full scored set)."""

    def _scored(self, spark, n=400, n_queries=3, n_parts=8):
        rng = random.Random(11)
        rows = [
            Row(query_id=q, vec_id=i, cosine=round(rng.random(), 9))
            for q in range(n_queries)
            for i in range(n)
        ]
        return spark.createDataFrame(rows).repartition(n_parts)

    def test_bounded_output_per_partition(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            partition_local_topk,
        )

        scored = self._scored(spark)
        reduced = partition_local_topk(scored, k=5)
        # ≤ k rows per (query, input-partition): 3 queries × 8 parts × 5
        assert reduced.count() <= 3 * 8 * 5
        per_part = (
            reduced.withColumn("_p", F.spark_partition_id())
            .groupBy("query_id", "_p")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        assert per_part <= 5

    def test_merge_of_reduction_is_exact(self, spark):
        from pyspark.sql import Window

        from dask_felleskomponenter_spark.operators.similarity import (
            partition_local_topk,
        )

        scored = self._scored(spark)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )

        def topk(df):
            return sorted(
                (r["query_id"], r["vec_id"], r["cosine"], r["rn"])
                for r in df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 7)
                .collect()
            )

        naive = topk(scored)  # the old single-reducer shape, as oracle
        fast = topk(partition_local_topk(scored, k=7))
        assert naive == fast

    def test_null_query_id_group_survives(self, spark):
        """A NULL query_id is one ordinary partition to the final merge
        window, so the pandas pre-reduction must keep it too — the
        default groupby(dropna=True) silently deleted the whole NULL
        group (round-6 ANN-family review)."""
        from dask_felleskomponenter_spark.operators.similarity import (
            partition_local_topk,
        )

        rows = [
            Row(query_id=None if i % 2 else 7, vec_id=i, cosine=i / 100.0)
            for i in range(40)
        ]
        scored = spark.createDataFrame(
            rows, "query_id int, vec_id int, cosine double"
        ).repartition(4)
        reduced = partition_local_topk(scored, k=3)
        by_q = {
            r["query_id"]: r["count"]
            for r in reduced.groupBy("query_id").count().collect()
        }
        # NULL group present and bounded like any other: ≤ k × n_parts
        assert None in by_q and 1 <= by_q[None] <= 3 * 4
        assert 7 in by_q and 1 <= by_q[7] <= 3 * 4
        # the global top-3 of the NULL group is exact
        got = sorted(
            r["vec_id"]
            for r in reduced.filter(F.col("query_id").isNull())
            .orderBy(F.col("cosine").desc())
            .limit(3)
            .collect()
        )
        assert got == [35, 37, 39]

    def test_operator_end_to_end_matches_brute_force(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            cosine_topk_per_query,
        )

        rng = random.Random(13)
        vecs = {i: [rng.gauss(0, 1) for _ in range(8)] for i in range(80)}
        emb = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in vecs.items()]
        ).repartition(6)
        qdf = spark.createDataFrame(
            [
                Row(query_id=i, query_vec=[float(x) for x in vecs[i]])
                for i in (0, 1)
            ]
        )
        got = {
            (r["query_id"], r["rn"]): r["vec_id"]
            for r in cosine_topk_per_query(
                emb, qdf, k=4, round_digits=9, rank_col="rn"
            ).collect()
        }

        def brute(q):
            def cos(a, b):
                na = math.sqrt(sum(x * x for x in a))
                nb = math.sqrt(sum(x * x for x in b))
                return round(
                    sum(x * y for x, y in zip(a, b)) / (na * nb), 9
                )

            ranked = sorted(vecs, key=lambda i: (-cos(vecs[q], vecs[i]), i))
            return ranked[:4]

        for q in (0, 1):
            assert [got[(q, rn)] for rn in range(1, 5)] == brute(q)


class TestIvf:
    def _emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def test_probe_all_cells_equals_brute_force(self, spark):
        """nprobe = n_cells must reproduce the exact top-k — the
        graceful-degradation property that pins cell assignment
        completeness (no vector may fall out of every cell)."""
        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
            cosine_topk,
            ivf_topk,
            with_ivf_cell,
        )

        emb = self._emb(spark)
        dim = 64
        q = [1.0 if i % 7 == 0 else 0.1 for i in range(dim)]
        cents = build_ivf_centroids(emb, n_cells=8, iters=1)
        cells = with_ivf_cell(emb, cents)
        approx = [
            (r["vec_id"], round(r["cosine"], 9))
            for r in ivf_topk(cells, cents, q, k=10, nprobe=8).collect()
        ]
        exact = [
            (r["vec_id"], round(r["cosine"], 9))
            for r in cosine_topk(emb, q, k=10).collect()
        ]
        assert approx == exact

    def test_null_embedding_gets_null_cell(self, spark):
        """NULL-in/NULL-out, matching with_pq_codes: a NULL embedding
        must get a NULL ivf_cell, not a valid-looking id. (Every
        per-centroid score is NULL; the struct comparison would break
        the tie on the cell field and park NULL rows in the HIGHEST
        cell — misplacing them in cell-partitioned writes.)"""
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
            with_ivf_cell,
        )

        emb = self._emb(spark)
        cents = build_ivf_centroids(emb, n_cells=4, iters=1)
        dim = len(cents[0])
        mixed = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[1.0] * dim),
                Row(vec_id=2, embedding=None),
                # ragged vectors hit the same NULL-score tie as NULL
                # embeddings (zip_with pads with NULLs both ways) and
                # would land in the HIGHEST cell without a length guard
                Row(vec_id=3, embedding=[1.0, 2.0]),  # shorter
                Row(vec_id=4, embedding=[1.0] * (dim + 3)),  # longer
            ],
            "vec_id bigint, embedding array<double>",
        )
        out = {r["vec_id"]: r["ivf_cell"] for r in
               with_ivf_cell(mixed, cents).collect()}
        assert out[2] is None and out[3] is None and out[4] is None
        assert out[1] is not None and 0 <= out[1] < len(cents)

    def test_probed_subset_results_come_from_probed_cells(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
            ivf_topk,
            probed_cells,
            with_ivf_cell,
        )

        emb = self._emb(spark)
        q = [0.5] * 64
        cents = build_ivf_centroids(emb, n_cells=8, iters=1)
        cells = with_ivf_cell(emb, cents)
        got = ivf_topk(cells, cents, q, k=5, nprobe=2)
        assert got.count() <= 5
        # results must come ONLY from the 2 actually-probed cells — the
        # same probe selection the operator uses (exposed helper), so
        # this fails if cell pruning silently widens
        probe = probed_cells(cents, q, nprobe=2)
        assert len(probe) == 2
        member_ids = {
            r["vec_id"]
            for r in cells.filter(F.col("ivf_cell").isin(probe)).collect()
        }
        non_members = {
            r["vec_id"]
            for r in cells.filter(~F.col("ivf_cell").isin(probe)).collect()
        }
        assert non_members, "probing 2 of 8 cells must exclude someone"
        result_ids = {r["vec_id"] for r in got.collect()}
        assert result_ids <= member_ids
        assert not (result_ids & non_members)

    def test_centroid_build_is_deterministic(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
        )

        emb = self._emb(spark)
        a = build_ivf_centroids(emb, n_cells=4, iters=2)
        b = build_ivf_centroids(emb, n_cells=4, iters=2)
        assert len(a) == 4 and all(len(c) == 64 for c in a)
        assert a == b


class TestProductQuantization:
    """PQ codebook/encode/ADC — pinned by the lossless case: when every
    distinct subvector is a codebook centroid, quantization loses
    nothing and ADC scores EQUAL exact cosine, so top-k must match the
    brute-force scan row for row."""

    @staticmethod
    def _vocab_corpus(n=80):
        # unit-norm vectors built from a 16-word subvector vocabulary
        # (one-hot ±1 per 8-dim subspace); rows 0..15 enumerate the full
        # vocabulary in every subspace so the deterministic lowest-id
        # seeding starts with exactly the 16 distinct subvectors
        rnd = random.Random(7)
        rows = []
        for vid in range(n):
            vec = []
            for _j in range(8):
                if vid < 16:
                    pos, sign = vid % 8, (1.0 if vid < 8 else -1.0)
                else:
                    pos, sign = rnd.randrange(8), rnd.choice([1.0, -1.0])
                sub = [0.0] * 8
                sub[pos] = sign
                vec += sub
            rows.append(Row(vec_id=vid, embedding=vec))
        return rows

    def test_adc_equals_exact_cosine_when_lossless(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            build_pq_codebooks,
            cosine_topk,
            pq_adc_topk,
            with_pq_codes,
        )

        df = spark.createDataFrame(self._vocab_corpus())
        cbs = build_pq_codebooks(df, dim=64, m=8, k=16, iters=2)
        assert len(cbs) == 8 and all(len(cb) == 16 for cb in cbs)
        coded = with_pq_codes(df, cbs, dim=64).select("vec_id", "pq_codes")

        query = self._vocab_corpus()[23]["embedding"]
        approx = [
            (r["vec_id"], round(r["approx_cosine"], 6))
            for r in pq_adc_topk(coded, cbs, query, k=10).collect()
        ]
        exact = [
            (r["vec_id"], round(r["cosine"], 6))
            for r in cosine_topk(df, query, k=10).collect()
        ]
        assert approx == exact

    def test_codes_are_bounded_and_stable(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            build_pq_codebooks,
            with_pq_codes,
        )

        df = spark.createDataFrame(self._vocab_corpus(40))
        cbs = build_pq_codebooks(df, dim=64, m=8, k=16, iters=1)
        codes = with_pq_codes(df, cbs, dim=64).select("pq_codes").collect()
        for r in codes:
            assert len(r["pq_codes"]) == 8
            assert all(0 <= c < 16 for c in r["pq_codes"])
        # encoding is deterministic: a second pass produces the same codes
        again = with_pq_codes(df, cbs, dim=64).select("pq_codes").collect()
        assert [r["pq_codes"] for r in codes] == [r["pq_codes"] for r in again]

    def test_null_embedding_never_reaches_topk(self, spark):
        """A NULL embedding must encode to NULL codes and never rank:
        the per-centroid objective is NULL for every centroid and
        array_min's struct order sorts NULL first, so an unguarded
        encode resolved the argmin to code 0 everywhere — valid-looking
        codes for a vector that doesn't exist, which ADC (codes-only,
        never re-reading raw vectors) then scored as a real neighbor."""
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        from dask_felleskomponenter_spark.operators.similarity import (
            build_pq_codebooks,
            pq_adc_topk,
            with_pq_codes,
        )

        rows = self._vocab_corpus(20) + [Row(vec_id=999, embedding=None)]
        schema = StructType(
            [
                StructField("vec_id", LongType()),
                StructField("embedding", ArrayType(DoubleType())),
            ]
        )
        df = spark.createDataFrame(rows, schema)
        cbs = build_pq_codebooks(df, dim=64, m=8, k=16, iters=1)
        coded = with_pq_codes(df, cbs, dim=64)
        null_codes = [
            r["pq_codes"]
            for r in coded.filter(F.col("vec_id") == 999)
            .select("pq_codes")
            .collect()
        ]
        assert null_codes == [None]
        query = self._vocab_corpus(1)[0]["embedding"]
        # k exceeds the number of real rows, so an unfiltered phantom
        # would be forced into the result
        got = pq_adc_topk(
            coded.select("vec_id", "pq_codes"), cbs, query, k=50
        ).collect()
        assert 999 not in {r["vec_id"] for r in got}
        assert len(got) == 20


class TestPQRecallOnRealEmbeddings:
    """Statistical ground-truth pin for the PQ family (the sketch-rows
    counterpart of the MinHash/SimHash S-curve tests): on the real
    embeddings table, the two-stage reranked search must recover most
    of the exact cosine top-10, and every score it returns must BE an
    exact cosine (the rerank stage recomputes on raw vectors)."""

    def test_reranked_recall_at_10(self, spark, sf_dir):
        from dask_felleskomponenter_spark.operators.similarity import (
            build_pq_codebooks,
            cosine_topk,
            pq_topk_reranked,
            with_pq_codes,
        )
        from dask_felleskomponenter_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        cbs = build_pq_codebooks(emb, dim=64, m=8, k=16, iters=3)
        codes = with_pq_codes(emb, cbs, dim=64).select("vec_id", "pq_codes")

        queries = {r.vec_id: r.embedding for r in emb.limit(3).collect()}
        recalls = []
        for qid, qvec in queries.items():
            exact = {
                r.vec_id: r.cosine
                for r in cosine_topk(emb, qvec, k=10).collect()
            }
            got = {
                r.vec_id: r.cosine
                for r in pq_topk_reranked(
                    codes, emb, cbs, qvec, k=10, shortlist=100
                ).collect()
            }
            recalls.append(len(exact.keys() & got.keys()) / 10.0)
            # reranked scores are exact cosines for the ids both agree on
            for vid in exact.keys() & got.keys():
                assert abs(exact[vid] - got[vid]) < 1e-9
        avg = sum(recalls) / len(recalls)
        assert avg >= 0.7, f"PQ reranked recall@10 too low: {recalls}"


class TestRaggedAndNullVectors:
    """Round-7 review findings: the PQ/LSH encoders' NULL-in/NULL-out
    contract extended to RAGGED vectors (shorter than dim), which used
    to ANSI-abort the PQ walk (INVALID_ARRAY_INDEX_IN_ELEMENT_AT) or be
    silently filed in LSH bucket 0."""

    def test_pq_encode_survives_short_vector(self, spark):
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_pq_codebooks,
            with_pq_codes,
        )

        dim, m, k = 8, 2, 2
        rows = [
            Row(vec_id=i, embedding=[float((i + j) % 5) + 0.1 for j in range(dim)])
            for i in range(6)
        ] + [Row(vec_id=99, embedding=[1.0, 2.0])]  # ragged: len 2 < dim 8
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cb = build_pq_codebooks(df, dim=dim, m=m, k=k, iters=1)
        out = {r["vec_id"]: r["pq_codes"]
               for r in with_pq_codes(df, cb, dim=dim).collect()}
        assert out[99] is None  # ragged encodes to NULL, not garbage
        assert all(out[i] is not None and len(out[i]) == m for i in range(6))

    def test_lsh_bucket_null_and_ragged_are_null(self, spark):
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            with_lsh_bucket,
        )

        dim = 4
        df = spark.createDataFrame(
            [
                Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
                Row(vec_id=2, embedding=None),
                Row(vec_id=3, embedding=[1.0]),  # ragged: shorter
                # ragged: LONGER than dim — zip_with NULL-pads the
                # dim-length plane, every dot is NULL, and a >=-dim
                # guard would file the row in GENUINE bucket 0
                Row(vec_id=4, embedding=[0.5, -1.0, 2.0, 4.0, 7.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        out = {r["vec_id"]: r["lsh_bucket"]
               for r in with_lsh_bucket(df, dim=dim, bits=4).collect()}
        assert out[1] is not None
        assert out[2] is None and out[3] is None and out[4] is None

    def test_ivf_update_averages_normalized_vectors(self, spark):
        """Spherical k-means: assignment is by cosine, so the centroid
        update must average UNIT vectors — a single norm-1000 vector
        used to drag its whole cell's direction."""
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
        )

        rows = [
            Row(vec_id=1, embedding=[1.0, 0.01]),
            Row(vec_id=2, embedding=[0.01, 1.0]),  # seed 2: +y direction
            Row(vec_id=3, embedding=[1.0, 0.02]),
            Row(vec_id=4, embedding=[1.0, 0.03]),
            # magnitude outlier, direction +x: lands in the +x cell and
            # must NOT bend it toward... itself it agrees; make it +x
            # with huge magnitude so a RAW mean would dwarf the unit rows
            Row(vec_id=5, embedding=[1000.0, 200.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = build_ivf_centroids(df, n_cells=2, iters=1)
        # cell 0 (seeded +x) holds ids 1,3,4,5; a NORMALIZED mean keeps
        # the y-component tiny (~(0.05+0.2/1.02)/4 ≈ 0.06) while a raw
        # mean would be (250.75, 50.01) — y/x ratio 0.2 vs ~0.06
        cx, cy = cents[0]
        assert cy / cx < 0.1, cents


class TestElementNullVectors:
    """Round-8 review findings: embeddings whose ARRAY is non-NULL but
    contain a NULL element pass bare isNotNull/size guards, NULL every
    aggregate built over them, and — via greatest(NULL, 1e-12) in
    _safe_norm — poison any path dividing elements by the norm."""

    def _df(self, spark, extra_rows=()):
        from pyspark.sql import Row

        rows = [
            Row(vec_id=i, embedding=[float((i * 3 + j) % 7) + 0.25 for j in range(4)])
            for i in range(8)
        ] + list(extra_rows)
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_guards_null_out_element_null_vectors(self, spark):
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
            build_pq_codebooks,
            with_ivf_cell,
            with_lsh_bucket,
            with_pq_codes,
        )

        dirty = Row(vec_id=99, embedding=[1.0, None, 2.0, 3.0])  # right length!
        df = self._df(spark, [dirty])
        cents = build_ivf_centroids(df, n_cells=2, iters=1)
        cbs = build_pq_codebooks(df, dim=4, m=2, k=2, iters=1)
        cells = {r["vec_id"]: r["ivf_cell"] for r in with_ivf_cell(df, cents).collect()}
        bkts = {r["vec_id"]: r["lsh_bucket"] for r in with_lsh_bucket(df, dim=4, bits=4).collect()}
        codes = {r["vec_id"]: r["pq_codes"] for r in with_pq_codes(df, cbs, dim=4).collect()}
        assert cells[99] is None and bkts[99] is None and codes[99] is None
        assert all(cells[i] is not None for i in range(8))
        assert all(bkts[i] is not None for i in range(8))
        assert all(codes[i] is not None for i in range(8))

    def test_builds_ignore_dirty_rows_entirely(self, spark):
        """Centroids/codebooks trained with element-NULL and ragged rows
        present must equal the clean-corpus build — one dirty row used
        to contribute ~1e12-scale terms to its cell's mean."""
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
            build_pq_codebooks,
        )

        dirty = [
            Row(vec_id=90, embedding=[1.0, None, 2.0, 3.0]),
            Row(vec_id=91, embedding=[1.0, 2.0]),            # short
            Row(vec_id=92, embedding=[1.0, 2.0, 3.0, 4.0, 5.0]),  # long
        ]
        clean_df, full_df = self._df(spark), self._df(spark, dirty)
        assert build_ivf_centroids(full_df, n_cells=2, iters=2) == \
            build_ivf_centroids(clean_df, n_cells=2, iters=2)
        assert build_pq_codebooks(full_df, dim=4, m=2, k=2, iters=2) == \
            build_pq_codebooks(clean_df, dim=4, m=2, k=2, iters=2)

    def test_ivf_build_rejects_mixed_length_seeds(self, spark):
        import pytest
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_ivf_centroids,
        )

        df = spark.createDataFrame(
            [Row(vec_id=1, embedding=[1.0, 2.0]),
             Row(vec_id=2, embedding=[1.0, 2.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="mixed lengths"):
            build_ivf_centroids(df, n_cells=2, iters=1)

    def test_pq_codes_null_for_over_length_vector(self, spark):
        """>= dim guard truncated longer vectors into valid-looking
        codes its siblings NULL out; the contract is == dim."""
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            build_pq_codebooks,
            with_pq_codes,
        )

        df = self._df(spark, [Row(vec_id=77, embedding=[1.0, 2.0, 3.0, 4.0, 5.0])])
        cbs = build_pq_codebooks(df, dim=4, m=2, k=2, iters=1)
        codes = {r["vec_id"]: r["pq_codes"] for r in with_pq_codes(df, cbs, dim=4).collect()}
        assert codes[77] is None

    def test_neardup_pairs_exclude_element_null_rows(self, spark):
        from pyspark.sql import Row

        from dask_felleskomponenter_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        rows = [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.001]),
            Row(vec_id=3, embedding=[1.0, None]),  # must not crash the tile
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {(r["id_a"], r["id_b"]) for r in
               cosine_neardup_pairs(df, threshold=0.9, n_blocks=2).collect()}
        assert got == {(1, 2)}


class TestLshBitsValidation:
    def test_bits_64_raises_loudly(self, spark):
        import pytest

        from dask_felleskomponenter_spark.operators.similarity import (
            query_bucket,
            random_hyperplanes,
            signbit_bucket,
            with_lsh_bucket,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match=r"\[1, 63\]"):
            with_lsh_bucket(df, dim=2, bits=64)
        with pytest.raises(ValueError, match=r"\[1, 63\]"):
            random_hyperplanes(2, 0)
        with pytest.raises(ValueError, match=r"\[1, 63\]"):
            query_bucket([1.0, 2.0], bits=64)
        planes = [[1.0, 0.0]] * 64
        with pytest.raises(ValueError, match="max 63"):
            signbit_bucket(F.col("embedding"), planes)

    def test_bits_63_is_the_supported_max(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            with_lsh_bucket,
        )

        df = spark.createDataFrame(
            [(1, [1.0] * 4)], "vec_id long, embedding array<double>"
        )
        [row] = with_lsh_bucket(df, dim=4, bits=63).collect()
        assert row["lsh_bucket"] is not None and row["lsh_bucket"] >= 0


class TestRound10ReviewFindings:
    """Regression pins for the round-10 similarity review batch."""

    def test_nan_vector_never_wins_exact_topk(self, spark):
        from dask_felleskomponenter_spark.operators.similarity import (
            cosine_topk,
            cosine_topk_per_query,
        )

        df = spark.createDataFrame(
            [
                (1, [1.0, 0.0]),
                (2, [0.9, 0.1]),
                (3, [float("nan"), 1.0]),  # NaN score sorts GREATEST
                (4, [float("inf"), 1.0]),  # inf/inf -> NaN after norm
            ],
            "vec_id long, embedding array<double>",
        )
        rows = cosine_topk(df, [1.0, 0.0], k=2).collect()
        assert [r.vec_id for r in rows] == [1, 2]

        q = spark.createDataFrame(
            [(100, [1.0, 0.0])], "query_id long, query_vec array<double>"
        )
        rows = cosine_topk_per_query(df, q, k=2).collect()
        assert sorted(r.vec_id for r in rows) == [1, 2]

    def test_null_id_raises_loudly_in_blocked_pairs(self, spark):
        import pytest as _pytest
        from py4j.protocol import Py4JJavaError

        from dask_felleskomponenter_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (None, [1.0, 0.0]), (2, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        with _pytest.raises(Exception, match="NULL 'vec_id'"):
            try:
                cosine_neardup_pairs(df, 0.5, n_blocks=2).collect()
            except Py4JJavaError as e:  # surface the JVM message to match
                raise AssertionError(str(e)) from e

    def test_blocked_pairs_reject_nonpositive_n_blocks(self, spark):
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.similarity import (
            cosine_neardup_pairs,
        )

        df = spark.createDataFrame(
            [(1, [1.0])], "vec_id long, embedding array<double>"
        )
        for bad in (0, -3):
            with _pytest.raises(ValueError, match="n_blocks"):
                cosine_neardup_pairs(df, 0.5, n_blocks=bad)

    def test_index_materializers_reject_out_col_collision(self, spark):
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.similarity import (
            with_ivf_cell,
            with_lsh_bucket,
            with_pq_codes,
            with_vector_norm,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0], 7, 7, [0], 0.5)],
            "vec_id long, embedding array<double>, ivf_cell int, "
            "lsh_bucket int, pq_codes array<int>, norm double",
        )
        with _pytest.raises(ValueError, match="ivf_cell"):
            with_ivf_cell(df, [[1.0, 0.0], [0.0, 1.0]])
        with _pytest.raises(ValueError, match="lsh_bucket"):
            with_lsh_bucket(df, dim=2)
        with _pytest.raises(ValueError, match="pq_codes"):
            with_pq_codes(df, [[[1.0], [0.0]], [[1.0], [0.0]]], dim=2)
        with _pytest.raises(ValueError, match="norm"):
            with_vector_norm(df, "embedding")

    def test_rank_col_collision_raises(self, spark):
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.similarity import (
            cosine_topk_per_query,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        q = spark.createDataFrame(
            [(9, [1.0, 0.0])], "query_id long, query_vec array<double>"
        )
        with _pytest.raises(ValueError, match="rank_col"):
            cosine_topk_per_query(df, q, k=1, rank_col="cosine")

    def test_ivf_topk_rejects_dim_mismatch(self, spark):
        import pytest as _pytest

        from dask_felleskomponenter_spark.operators.similarity import (
            ivf_topk,
        )

        df = spark.createDataFrame(
            [(1, [1.0, 0.0], 0)],
            "vec_id long, embedding array<double>, ivf_cell int",
        )
        with _pytest.raises(ValueError, match="dim"):
            ivf_topk(df, [[1.0, 0.0], [0.0, 1.0]], [1.0, 0.0, 0.0], k=1)
