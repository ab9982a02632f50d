"""Physical-plan regression tests.

Lock in the plan properties the 100 TB posture depends on: predicates
reaching the parquet scan, dimension joins broadcasting, no Python
evaluation nodes in pure-relational queries. If a refactor silently
turns a broadcast join into a shuffle or lifts a filter off the scan,
these fail before any benchmark does.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from dask_felleskomponenter_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        QUERIES[name](spark, SF).explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_local_supplier_volume", "q10_returned_customers"]
)
def test_tpch_joins_broadcast_and_push_filters(spark, name):
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan
    # dim-sized sides must never sort-merge at these scales
    assert "SortMergeJoin" not in plan
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    assert pushed, "no predicates reached the parquet scans"


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "window_topn_orders_per_customer", "dedup_exact_docs"],
)
def test_relational_queries_have_no_python_nodes(spark, name):
    plan = plan_of(spark, name)
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, f"{name} contains Python node {node}"


def test_scan_prunes_columns(spark):
    # q1 touches 7 of lineitem's 16 columns; the scan schema must shrink
    plan = plan_of(spark, "q1_pricing_summary")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    assert 0 < len(cols) <= 7, cols
    assert "l_comment" not in cols


def test_exact_dedup_shuffles_on_hash_not_content(spark):
    # the dedup window partitions on the sha2 hash, so the exchange key
    # must be the hash column, not the document text
    plan = plan_of(spark, "dedup_exact_docs")
    m = re.search(r"hashpartitioning\(([^,]+)", plan)
    assert m, "no hash exchange in dedup plan"
    assert "sha2" in m.group(1) or "_content_sha" in m.group(1), m.group(1)


def test_ann_query_construction_runs_no_driver_actions(spark, monkeypatch):
    # an ANN query's plan construction must be purely lazy — no .first()
    # probes, no .collect() (VERDICT r1 finding), and in steady state
    # (store present) the IVF query must not run its index build either
    # (VERDICT r2 finding — no first-call exemption)
    from pyspark.sql import DataFrame

    from dask_felleskomponenter_spark.sources.ann_store import ensure_ann_store

    ensure_ann_store(spark, SF)  # the explicit prepare step

    def boom(self, *a, **k):  # pragma: no cover - only fires on regression
        raise AssertionError("driver-side action during query construction")

    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "take", boom)
    QUERIES["ann_lsh_bucketed"](spark, SF)  # construction only
    QUERIES["ann_ivf_topk"](spark, SF)  # construction only
    QUERIES["ann_pq_topk"](spark, SF)  # construction only


def test_ann_store_scan_is_partition_pruned(spark):
    # the persisted-store path must push the bucket/cell predicate into
    # PartitionFilters — a pruned read of one (LSH) or nprobe (IVF)
    # directories, the proven 100 TB shape (VERDICT r2 top item)
    from dask_felleskomponenter_spark.sources.ann_store import ensure_ann_store

    ensure_ann_store(spark, SF)
    lsh_plan = plan_of(spark, "ann_lsh_bucketed")
    m = re.search(r"PartitionFilters: \[([^\]]*lsh_bucket[^\]]*)\]", lsh_plan)
    assert m, f"no lsh_bucket partition filter:\n{lsh_plan[:3000]}"

    ivf_plan = plan_of(spark, "ann_ivf_topk")
    m = re.search(r"PartitionFilters: \[([^\]]*ivf_cell[^\]]*)\]", ivf_plan)
    assert m, f"no ivf_cell partition filter:\n{ivf_plan[:3000]}"
    assert " IN " in m.group(1) or "ivf_cell" in m.group(1)


def test_ann_store_and_fallback_agree(spark, monkeypatch, tmp_path):
    # the pruned store read and the on-the-fly fallback are the same
    # query — rows must match exactly
    from dask_felleskomponenter_spark.sources.ann_store import ensure_ann_store

    ensure_ann_store(spark, SF)
    with_store = [tuple(r) for r in QUERIES["ann_lsh_bucketed"](spark, SF).collect()]
    # point the store root at an empty dir -> fallback path
    monkeypatch.setenv("SPARK_GRAFT_ANN_ROOT", str(tmp_path / "empty"))
    fallback = [tuple(r) for r in QUERIES["ann_lsh_bucketed"](spark, SF).collect()]
    assert with_store == fallback
    assert with_store, "bucket should not be empty at this SF"


def test_ann_store_identity_includes_seed_and_query_uses_it(
    spark, monkeypatch, tmp_path
):
    """A differently-seeded build must land in a SIBLING store directory
    (never overwrite in place), and ann_lsh_bucketed must query with the
    store's own seed — a default-seed query_bucket against a seed-7
    store filters on the wrong hyperplane family (silent wrong recall).
    Also: rebuilding over an existing store un-commits meta.json first,
    so a crash mid-rebuild reads as absent, not as the stale store."""
    import os

    from dask_felleskomponenter_spark.sources.ann_store import (
        _store_dir,
        build_ann_store,
        load_ann_store,
    )

    root = str(tmp_path / "ann")
    p42 = _store_dir(SF, 6, 8, 1, root, seed=42, dim=64)
    p7 = _store_dir(SF, 6, 8, 1, root, seed=7, dim=64)
    assert p42 != p7, "seed must be part of the store identity"

    build_ann_store(spark, SF, bits=6, n_cells=8, iters=1, root=root, seed=7)
    st = load_ann_store(SF, bits=6, n_cells=8, iters=1, root=root, seed=7)
    assert st is not None and st.seed == 7
    # default-seed lookup must NOT resolve the seed-7 store
    assert load_ann_store(SF, bits=6, n_cells=8, iters=1, root=root) is None

    # the query consumes the store's recorded seed: patch the resolver
    # to hand back the seed-7 store and check the filter value matches
    # the seed-7 bucket, not the seed-42 one
    from dask_felleskomponenter_spark.operators.similarity import query_bucket

    import dask_felleskomponenter_spark.sources.ann_store as ann_mod

    monkeypatch.setattr(
        ann_mod, "load_ann_store", lambda sf_dir, *a, **k: st
    )
    df = QUERIES["ann_lsh_bucketed"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    qvec = [1.0 if i % 7 == 0 else 0.1 for i in range(64)]
    b7 = query_bucket(qvec, bits=6, seed=7)
    b42 = query_bucket(qvec, bits=6, seed=42)
    assert b7 != b42, "seed families coincide; pick different test seeds"
    assert f"= {b7})" in analyzed, analyzed[:1500]

    # rebuild un-commits first: simulate by checking meta.json vanishes
    # when the build is interrupted right after the un-commit
    meta = os.path.join(p7, "meta.json")
    assert os.path.exists(meta)

    def boom(*a, **k):
        raise RuntimeError("interrupted build")

    monkeypatch.setattr(ann_mod, "ensure_parent", boom, raising=False)
    import dask_felleskomponenter_spark.operators.similarity as sim_mod

    monkeypatch.setattr(sim_mod, "with_lsh_bucket", boom)
    try:
        build_ann_store(
            spark, SF, bits=6, n_cells=8, iters=1, root=root, seed=7
        )
    except RuntimeError:
        pass
    assert not os.path.exists(meta), "stale meta must be un-committed"


def test_ann_filters_precomputed_bucket_column(spark):
    # the analyzed plan must filter the lsh_bucket column attached by
    # with_lsh_bucket — the shape a bucket-partitioned table would prune
    # on — rather than re-deriving bucket bits inside the filter
    df = QUERIES["ann_lsh_bucketed"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert re.search(r"Filter \(lsh_bucket#\d+L? = ", analyzed), analyzed[:2000]


def test_cosine_topk_pre_reduces_before_per_query_window(spark):
    # the per-query merge window must consume the partition-local
    # MapInPandas pre-reduction, never the raw scored set (VERDICT r2:
    # Window.partitionBy(query_id) alone is a one-reducer-per-query
    # funnel). Formatted plans print parents first, so the Window must
    # appear before (above) the MapInPandas node it consumes.
    plan = plan_of(spark, "cosine_topk_embeddings")
    assert "MapInPandas" in plan, "partition-local top-k pre-reduction missing"
    assert "Window" in plan
    assert plan.index("Window") < plan.index("MapInPandas")


def test_approx_distinct_within_tolerance(spark):
    # HLL++ estimates must track exact distinct counts (rsd default 5%;
    # assert a loose 10% so the test never flakes on data growth)
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table

    approx = {
        r["l_returnflag"]: r
        for r in QUERIES["agg_approx_distinct"](spark, SF).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_suppkey").alias("supps"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_parts"] - e["parts"]) <= max(2, 0.1 * e["parts"])
        assert abs(a["approx_supps"] - e["supps"]) <= max(2, 0.1 * e["supps"])


def test_interval_join_is_equi_join_not_nested_loop(spark):
    # the bucketed range join must plan as a hash/sort-merge equi-join on
    # (bucket, keys); a BroadcastNestedLoopJoin or CartesianProduct means
    # the bucketing stopped reaching the join condition
    plan = plan_of(spark, "range_join_error_context")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_bucketed_join_has_no_exchange(spark):
    # two tables bucketed on the join key with equal bucket counts must
    # join shuffle-free AND sort-free: the pre-shuffle was paid once at
    # write time (sources/tables.py::write_bucketed)
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table, write_bucketed

    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "bkt_orders", ["o_orderkey"], n_buckets=4)
    write_bucketed(li, "bkt_lineitem", ["l_orderkey"], n_buckets=4)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("bkt_orders")
            .join(
                spark.table("bkt_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # bucket layout satisfies BOTH the join and the downstream
        # same-key aggregation: the entire plan is exchange-free
        assert "Exchange" not in plan, plan
        # sanity: result matches the unbucketed join
        assert joined.count() == (
            orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .count()
            .count()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_exists_semi_join_shape(spark):
    # the EXISTS query must plan as a LeftSemi join with the date
    # residual riding the equi-join, never a nested loop; and the order
    # window must reach the orders scan
    plan = plan_of(spark, "exists_late_shipment_orders")
    assert "LeftSemi" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_scalar_subquery_fully_broadcast(spark):
    # both the part filter and the per-part threshold are broadcast —
    # the big lineitem side is never shuffled
    plan = plan_of(spark, "scalar_subquery_small_qty")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_or_of_and_pushes_factored_predicates(spark):
    # Catalyst's OR-factoring must derive per-table disjunctions and
    # push them into BOTH scans
    plan = plan_of(spark, "filter_or_of_and_revenue")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("p_brand" in p for p in pushed), pushed
    assert any("l_quantity" in p for p in pushed), pushed


def test_notexists_is_anti_join_with_pushed_date(spark):
    plan = plan_of(spark, "notexists_dormant_customers")
    assert "LeftAnti" in plan, plan[:2000]
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_tfidf_has_no_python_nodes_and_two_aggregates(spark):
    # TF-IDF is pure built-ins: token explode + two hash aggregates;
    # a Python node here means someone "simplified" it into a UDF
    plan = plan_of(spark, "tfidf_top_terms")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × (tf, df)


def test_capped_jaccard_shuffles_index_once(spark):
    # The df-cap must ride the ONE hash(_s) exchange of the inverted
    # index: the per-doc size correction comes from the dropped rows
    # (broadcast back map-side), never from a second full-index window
    # over _id (the r3 shape — a 60% overhead) nor from a
    # collect_list re-explode recount (the r2→r3 ADVICE regression).
    plan = plan_of(spark, "neardup_jaccard_pairs")
    id_windows = re.findall(r"windowspecdefinition\(_id", plan)
    assert not id_windows, "capped Jaccard re-grew a full-index _id window"
    s_windows = re.findall(r"windowspecdefinition\(_s", plan)
    assert len(s_windows) >= 1, "df-cap count window over _s missing"
    # one logical collect_list aggregate = one partial-mode rendering
    # (the formatted plan repeats the expression in partial/final nodes
    # and their detail sections, so count the partial marker)
    assert len(re.findall(r"partial_collect_list", plan)) == 1, (
        "exactly one postings collect_list expected — a second one is "
        "the array-buffer recount regression"
    )


def test_connected_components_rounds_are_bounded(spark):
    # large-star/small-star on a 2^k-diameter path must converge in
    # O(k) rounds — count the per-round signature jobs via the Spark UI
    # listener-free proxy: localCheckpoint caches; just assert the
    # operator finishes fast on a diameter-1024 chain (naive label
    # propagation would need 1024 joins and time out the suite)
    import time

    from dask_felleskomponenter_spark.operators.graph import connected_components

    from pyspark.sql import functions as F

    edges = spark.range(1024).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    t = time.time()
    out = connected_components(edges)
    got = out.agg(F.count(F.lit(1)), F.countDistinct("component")).first()
    assert tuple(got) == (1025, 1)
    assert time.time() - t < 120, "CC took too long — rounds not logarithmic?"


def test_salted_join_equals_plain_join(spark):
    # inner and left, with a pathological hot key and unmatched rows on
    # both sides — the salt must be invisible in the result
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.operators.joins import salted_join

    big = spark.range(3000).select(
        F.when(F.col("id") < 2000, 7).otherwise(F.col("id") % 40).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim")
    )
    for how in ("inner", "left"):
        got = sorted(
            tuple(r) for r in salted_join(big, small, ["k"], 8, how).collect()
        )
        want = sorted(tuple(r) for r in big.join(small, ["k"], how).collect())
        assert got == want, how

    import pytest as _pt

    with _pt.raises(ValueError, match="inner/left"):
        salted_join(big, small, ["k"], how="full_outer")


def test_approx_percentiles_within_tolerance(spark):
    # sketch estimates must track exact interpolated percentiles
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table

    approx = {
        r["o_orderstatus"]: r
        for r in QUERIES["agg_approx_percentiles"](spark, SF).collect()
    }
    exact = {
        r["o_orderstatus"]: r
        for r in load_table(spark, SF, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90"),
            F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, e in exact.items():
        for p in ("p50", "p90", "p99"):
            assert abs(approx[k][p] - e[p]) <= 0.05 * abs(e[p]) + 1, (k, p)


def test_observed_metrics_single_pass(spark):
    # metrics accumulate on the SAME action that consumes the rows
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.operators.metrics import (
        with_observed_metrics,
    )
    from dask_felleskomponenter_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    out, obs = with_observed_metrics(
        docs,
        "profile",
        n_rows=F.count(F.lit(1)),
        null_texts=F.sum(F.col("text").isNull().cast("long")),
        max_doc=F.max("doc_id"),
    )
    n = out.count()  # the one pass
    got = obs.get
    assert got["n_rows"] == n
    assert got["null_texts"] == docs.filter(F.col("text").isNull()).count()
    assert got["max_doc"] == docs.agg(F.max("doc_id")).first()[0]


@pytest.mark.parametrize("name", ["q7_volume_shipping", "q8_market_share"])
def test_multiway_star_joins_broadcast_all_dims(spark, name):
    # every dimension broadcasts; the only allowed shuffle join is the
    # lineitem⋈orders fact join
    plan = plan_of(spark, name)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_partitioned_write_prunes_scan(spark, tmp_path):
    # a date-bounded read of a time-partitioned fact table must prune at
    # the PARTITION level (directory pruning), not post-scan filter
    import io
    import re as _re
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table
    from dask_felleskomponenter_spark.sources.tables import (
        write_time_partitioned,
    )

    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(ev, path, "ts", granularity="day")

    got = spark.read.parquet(path).filter(
        F.col("_pdate") == "2024-01-05"
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    m = _re.search(r"PartitionFilters: \[([^\]]*_pdate[^\]]*)\]", plan)
    assert m, plan[:2500]
    # and the pruned read returns exactly the matching rows
    want = ev.filter(F.to_date("ts") == "2024-01-05").count()
    assert got.count() == want and want > 0


def test_runtime_bloom_filter_prunes_fact_side(spark):
    # At 100 TB the cheapest row is the one the shuffle never carries:
    # when a selective dim filter exists, Spark's InjectRuntimeFilter
    # should plant a bloom-filter semi-filter on the fact side so
    # non-matching lineitem rows die at the scan stage, not after the
    # exchange. Local thresholds hide this (the scan is tiny and the
    # join broadcasts), so the test pins the behavior under the
    # cluster-shaped confs: no broadcast, no application-side size gate.
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true"
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan, plan[:2500]
        assert "might_contain" in plan, plan[:2500]
        # the semi-filter must sit on the fact (application) side scan
        # column, keyed by the join key
        assert "might_contain" in plan and "l_orderkey" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_column_profile_is_single_scan(spark):
    # profiling N columns must not become N table scans — one scan, one
    # global aggregate, stack-unpivot of the merged row
    plan = plan_of(spark, "profile_lineitem_columns")
    # formatted explain prints each node once in the tree and once in
    # the detail list — count detail headers "(n) Scan parquet"
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan[:2000]
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_contamination_screen_broadcasts_eval_side(spark):
    # The benchmark side is small by nature; it must reach the training
    # corpus as a broadcast hash join — a shuffle of the raw exploded
    # corpus against the eval set would be the 100 TB killer.
    plan = plan_of(spark, "contamination_ngram_screen")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_pack_sequences_windows_only_within_shards(spark):
    # Packing must never global-sort the corpus: the running-sum window
    # partitions by shard, so the only global ordering is the final
    # report ORDER BY over the (already small per-partition) output.
    from dask_felleskomponenter_spark.plans.queries import QUERIES as _Q

    df = _Q["pack_sequences_offsets"](spark, SF)
    plan = plan_of(spark, "pack_sequences_offsets")
    # window spec carries the shard partition key
    assert re.search(r"windowspecdefinition\(shard", plan), plan[:2000]
    # per-shard running sums are integral and non-negative
    rows = df.collect()
    assert all(r.seq_offset >= 0 and r.seq_offset < 2048 for r in rows)
    assert all(r.n_seqs_spanned >= 1 for r in rows)


def test_mixture_sample_rates_are_monotone_in_counts(spark):
    # Temperature reweighting must upweight rare languages: the keep
    # rate ordering is the inverse of nothing — larger corpus → rate
    # closer to 1, and the largest language has rate exactly 1.0.
    from dask_felleskomponenter_spark.plans.queries import QUERIES as _Q

    rows = _Q["mixture_temperature_sample"](spark, SF).collect()
    by_total = sorted(rows, key=lambda r: r.n_total)
    rates = [r.target_rate for r in by_total]
    assert rates == sorted(rates), rates
    assert by_total[-1].target_rate == 1.0
    plan = plan_of(spark, "mixture_temperature_sample")
    assert "BroadcastHashJoin" in plan


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_count_by_part")
    assert re.search(r"BroadcastHashJoin.*LeftAnti", plan), plan[:3000]
    assert "SortMergeJoin" not in plan


def test_aqe_splits_skewed_join_partitions(spark):
    """Hot-key joins must not serialize on one reducer: with AQE skew
    handling on (session.py sets skewJoin.enabled), a runtime-detected
    skewed partition is split across tasks. Thresholds are lowered here
    so the behavior is observable at test scale; the assertion is on the
    *executed* (final adaptive) plan, not the static one."""
    from pyspark.sql import functions as F

    lowered = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in lowered}
    try:
        for k, v in lowered.items():
            spark.conf.set(k, v)
        hot = spark.range(300_000).select(
            F.lit(0).cast("long").alias("k"),
            (F.xxhash64("id") % 1000).alias("v"),
        )
        cold = spark.range(4_000).select(
            (F.col("id") % 40 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(41).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        joined = hot.union(cold).join(right, "k")
        agg = joined.agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )
        [row] = agg.collect()
        assert row.n == 304_000
        final_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
        assert "AQEShuffleRead skewed" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_grid_box_join_equals_naive_and_never_cross_joins(spark):
    # pair-for-pair equivalence with the naive cross join + filter on a
    # deterministic point cloud, plus: the physical plan must be an
    # equi-join on cell ids, never a cartesian product
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.operators.joins import grid_box_join

    a = spark.range(300).select(
        F.col("id").alias("aid"),
        ((F.col("id") * 48271) % 1000).alias("x"),
        ((F.col("id") * 69621) % 1000).alias("y"),
    )
    b = spark.range(400).select(
        F.col("id").alias("bid"),
        ((F.col("id") * 16807) % 1000).alias("x"),
        ((F.col("id") * 30269) % 1000).alias("y"),
    )
    got = {
        (r.aid, r.nb_bid)
        for r in grid_box_join(a, b, ("x", "y"), ("x", "y"), radius=40).collect()
    }
    naive = {
        (r.aid, r.bid)
        for r in a.alias("a")
        .crossJoin(b.selectExpr("bid", "x as bx", "y as by"))
        .where(
            (F.abs(F.col("x") - F.col("bx")) <= 40)
            & (F.abs(F.col("y") - F.col("by")) <= 40)
        )
        .collect()
    }
    assert got == naive and got, f"{len(got)} vs {len(naive)}"

    plan_buf = io.StringIO()
    with redirect_stdout(plan_buf):
        grid_box_join(a, b, ("x", "y"), ("x", "y"), radius=40).explain("formatted")
    plan = plan_buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_is_single_scan_single_wide_shuffle(spark):
    # the staged-window funnel must not re-scan the event stream per
    # stage: one parquet scan, stacked Window nodes on one user_id
    # partitioning (plus only the final single-row aggregate exchange)
    plan = plan_of(spark, "funnel_conversion_events")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Window", plan)) == 3
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_sketch_rollup_tracks_exact_counts(spark):
    # DataSketches HLL estimates (per segment AND the sketch-union ALL
    # row) must track exact distinct counts within 5% + small slack
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table

    got = {
        r.event_type: r.est_users
        for r in QUERIES["sketch_rollup_users"](spark, SF).collect()
    }
    ev = load_table(spark, SF, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    assert got.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(got[k] - e) <= max(2, 0.05 * e), (k, got[k], e)


def test_kll_rollup_ranks_within_error_bound(spark):
    # KLL quantile estimates (per group AND the merged ALL row) must
    # land at a true rank within the published ~1.65% bound (we allow
    # 2x slack); the sketch's n is the exact stream length.
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources import load_table

    rows = QUERIES["kll_quantile_rollup_prices"](spark, SF).collect()
    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("p")
    )
    by_flag = {
        r.l_returnflag: sorted(x.p for x in g)
        for r in rows
        if r.l_returnflag != "ALL"
        for g in [li.where(F.col("l_returnflag") == r.l_returnflag).collect()]
    }
    by_flag["ALL"] = sorted(x.p for x in li.collect())
    import bisect

    for r in rows:
        vals = by_flag[r.l_returnflag]
        assert r.n_rows == len(vals), (r.l_returnflag, r.n_rows, len(vals))
        for q, est in [(0.5, r.p50), (0.9, r.p90), (0.99, r.p99)]:
            true_rank = bisect.bisect_right(vals, est) / len(vals)
            assert abs(true_rank - q) <= 0.033, (
                r.l_returnflag,
                q,
                est,
                true_rank,
            )


@pytest.mark.parametrize(
    "name",
    [
        "q9_product_type_profit",
        "q12_late_lines_by_status",
        "q20_heavy_part_suppliers",
        "q2_min_cost_supplier",
        "q15_top_supplier",
        "q21_single_blame_supplier",
    ],
)
def test_round3_tpch_shapes_broadcast_dims_and_push_filters(spark, name):
    # every round-3 TPC-H shape: dimension sides broadcast (never a
    # sort-merge of a dim), at least one predicate pushed into a scan
    plan = plan_of(spark, name)
    assert "BroadcastHashJoin" in plan, name
    pushed = [
        p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()
    ]
    assert pushed or name == "q21_single_blame_supplier", name


def test_resample_shares_one_user_partitioning(spark):
    # the grid join and the ffill window must ride the same user_id
    # hash partitioning — exchanges on anything else would mean the
    # query re-shuffles the widened grid
    plan = plan_of(spark, "resample_ffill_events")
    keys = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert keys and all(k == "user_id" for k in keys), keys


def test_mixture_sample_broadcasts_rate_map(spark):
    plan = plan_of(spark, "mixture_temperature_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_date_arith_scan_prunes_to_one_column(spark):
    plan = plan_of(spark, "date_arith_orders")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and [c.split(":")[0] for c in m.group(1).split(",") if c] == [
        "o_orderdate"
    ], m.group(1) if m else plan[:500]


def test_fuzzy_multikey_blocking_has_no_cartesian_hazard(spark):
    # every candidate family is an equi-join on a bounded blocking key;
    # a CartesianProduct/BroadcastNestedLoop here would mean a residual
    # turned into a non-equi join and the 100 TB posture is gone
    plan = plan_of(spark, "fuzzy_blocked_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the per-block guards ride count windows, not separate aggregations
    # joined back (one exchange per key family, reused by its self-join)
    assert plan.count("window") >= 3 or plan.count("Window") >= 3


def test_substring_spans_two_fixed_width_shuffles(spark):
    # ExactSubstr span detection must stay at exactly: the scan-side
    # pin, one hash(shingle-hash) exchange for the dup-flag window, one
    # hash(doc-id) exchange shared by the island windows AND both
    # aggregates (clustering on _id satisfies the (_id, _island) and
    # doc_id groupings), and the final ordered-output range exchange.
    # A third hash exchange means a grouping stopped reusing the window
    # partitioning; a Python node means the shingling left the JVM.
    plan = plan_of(spark, "dedup_substring_spans")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"rangepartitioning", plan)) == 1


def test_ensemble_buckets_stays_jvm_side_single_scan(spark):
    # per-doc scoring must ride the scan as Column expressions — a
    # Python node means the quality blend left codegen; the 20-row
    # budget walk must not add a second corpus scan
    plan = plan_of(spark, "quality_ensemble_buckets")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2  # hist + total


def test_novelty_screen_is_anti_join_on_hash(spark):
    plan = plan_of(spark, "dedup_cross_batch_novelty")
    assert "LeftAnti" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_ann_store_stale_on_same_size_source_rewrite(spark, tmp_path):
    """A regenerated source that happens to keep the same total byte
    size must still invalidate the store: size-only staleness served a
    stale index forever; the stat fingerprint (path, size, mtime_ns)
    catches any rewrite."""
    import os
    import shutil

    from dask_felleskomponenter_spark.sources.ann_store import (
        build_ann_store,
        load_ann_store,
    )

    src_dir = str(tmp_path / "data")
    os.makedirs(src_dir)
    shutil.copy(  # single-file parquet at this SF
        os.path.join(SF, "embeddings.parquet"),
        os.path.join(src_dir, "embeddings.parquet"),
    )
    root = str(tmp_path / "ann")
    build_ann_store(spark, src_dir, bits=4, n_cells=4, iters=1, root=root)
    assert load_ann_store(src_dir, bits=4, n_cells=4, iters=1, root=root)

    # same bytes, new mtime — exactly what a same-size rewrite looks
    # like to a size-only check
    os.utime(os.path.join(src_dir, "embeddings.parquet"))
    assert (
        load_ann_store(src_dir, bits=4, n_cells=4, iters=1, root=root)
        is None
    )


def _broadcast_exchange_blocks(plan: str) -> list[str]:
    """Split a formatted plan's details section into per-operator blocks
    and return the text of every BroadcastExchange block (header line
    through the line before the next ``(N) Operator`` header)."""
    blocks = re.split(r"(?m)^(?=\(\d+\) )", plan)
    return [b for b in blocks if b.startswith("(") and "BroadcastExchange" in b.splitlines()[0]]


@pytest.mark.parametrize(
    "name", ["neardup_cluster_assign", "semantic_cluster_assign"]
)
def test_cluster_size_join_is_never_forced_broadcast(spark, name):
    """The fused sizes table (assign_components_with_sizes) is bounded
    by the cc edge list — but at 100 TB that is still O(duplicate
    docs), which can be a large fraction of the corpus, so a broadcast
    HINT on the cc⋈sizes table guarantees an over-cap driver/executor
    OOM exactly like the old O(n) per-id sizes table did. With
    auto-broadcast disabled, only hinted broadcasts survive planning:
    assert no BroadcastExchange in the plan carries the component-size
    aggregate (its internal ``_cc_n`` count or the output
    ``cluster_size``). (The bounded hot-shingle correction in
    ngram_jaccard_pairs may legitimately broadcast; it never carries
    either.)"""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    offenders = [
        b
        for b in _broadcast_exchange_blocks(plan)
        if "cluster_size" in b or "_cc_n" in b
    ]
    assert not offenders, offenders
    # the sizes join must still exist as a co-partitioned shuffled join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_ann_store_build_rejects_wrong_dim(spark, tmp_path):
    """Round-8 review finding: a wrong dim sailed through the
    NULL-on-mismatch encoder guards — every row landed in the NULL
    bucket/cell, the build still committed, and every LSH query then
    returned zero rows forever. The build must validate dim against
    the data before any write."""
    from dask_felleskomponenter_spark.sources.ann_store import build_ann_store

    with pytest.raises(ValueError, match="dim=32"):
        build_ann_store(
            spark, SF, bits=4, n_cells=4, iters=1,
            root=str(tmp_path / "ann"), dim=32,
        )


def _embedding_column_scans(plan: str) -> list[str]:
    """Scan blocks over the embeddings relation whose ReadSchema carries
    the wide ``embedding`` vector column (a pruned vec_id-only scan is 8
    bytes/row — not the corpus I/O the single-scan guarantee is about)."""
    blocks = re.split(r"(?m)^(?=\(\d+\) )", plan)
    return [
        b
        for b in blocks
        if b.startswith("(")
        and "Scan parquet" in b.splitlines()[0]
        and "embeddings.parquet" in b
        and re.search(r"ReadSchema:.*\bembedding\b", b)
    ]


def test_blocked_cosine_scans_embeddings_once(spark):
    """The round-8 blocked-GEMM rewrite's whole justification is that
    the corpus is scanned ONCE (the arithmetic block-membership explode
    replaced the textbook two-joins-against-a-pair-table form, halving
    corpus I/O at 100 TB). Nothing structural stops a future edit from
    quietly reverting to the two-scan shape — pin it at BOTH surfaces:
    the declared query and the raw operator must each show exactly one
    Scan block reading the ``embedding`` column. (A ReusedExchange over
    one scan would still be one scan — fine. semantic_cluster_assign
    shares the operator but checkpoints the pairs subtree out of its
    final plan, so the operator-level pin is what covers it.)"""
    plan = plan_of(spark, "neardup_embedding_cosine")
    scans = _embedding_column_scans(plan)
    assert len(scans) == 1, (
        "query: expected exactly one embedding-column scan, got "
        f"{len(scans)}:\n" + "\n---\n".join(s.splitlines()[0] for s in scans)
    )

    from dask_felleskomponenter_spark.operators.similarity import (
        cosine_neardup_pairs,
    )
    from dask_felleskomponenter_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    buf = io.StringIO()
    with redirect_stdout(buf):
        cosine_neardup_pairs(emb, threshold=0.4, n_blocks=8).explain(
            "formatted"
        )
    scans = _embedding_column_scans(buf.getvalue())
    assert len(scans) == 1, (
        "operator: expected exactly one embedding-column scan, got "
        f"{len(scans)}:\n" + "\n---\n".join(s.splitlines()[0] for s in scans)
    )


def _top_operators(spark, name: str) -> list[str]:
    """Operator lines of a query's physical plan, top down, tree
    prefixes stripped (the initial plan under AQE)."""
    plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan()
    lines = [re.sub(r"^[\s:|+-]*", "", ln) for ln in plan.toString().splitlines()]
    return [ln for ln in lines if not ln.startswith("AdaptiveSparkPlan")]


@pytest.mark.parametrize(
    "name, shape, limit",
    [
        ("q1_pricing_summary", "bounded", None),
        ("join_semi_customers", "sorted", None),
        ("text_quality_profile", "staged", None),
        ("topk_expensive_orders", "sorted", 10),
    ],
)
def test_declared_shape_tops_the_plan(spark, name, shape, limit):
    """One representative per output shape: ``plans.queries.finish``
    must plan each declared shape as its docstring says."""
    fn = QUERIES[name]
    assert (fn.shape, fn.limit) == (shape, limit)
    ops = _top_operators(spark, name)
    plan = "\n".join(ops)
    if limit is not None:
        assert ops[0].startswith(f"TakeOrderedAndProject(limit={limit},")
        assert "rangepartitioning" not in plan
        return
    exchanges = [op for op in ops if op.startswith("Exchange")]
    if shape == "bounded":
        assert re.fullmatch(r"Sort \[.*\], false, 0", ops[0])
        assert ops[1].startswith("Exchange SinglePartition, REPARTITION_BY_NUM")
        assert "rangepartitioning" not in plan
        return
    assert re.fullmatch(r"Sort \[.*\], true, 0", ops[0])
    assert ops[1].startswith("Exchange rangepartitioning(")
    lead = fn.order[0]
    staged = re.match(
        rf"Exchange hashpartitioning\({lead}#\d+L?, \d+\), REPARTITION_BY_NUM",
        exchanges[1] if len(exchanges) > 1 else "",
    )
    assert bool(staged) == (shape == "staged"), exchanges
