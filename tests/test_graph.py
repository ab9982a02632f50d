"""Connected-components operator tests: hand-built graphs, a union-find
model check on a seeded random graph, and the pairs→clusters assignment."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.operators import graph
from dask_felleskomponenter_spark.operators.graph import (
    assign_components,
    connected_components,
)


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def _force_star_loop(monkeypatch):
    """Route every non-empty edge list to the star-contraction loop (the
    scale path): the driver-side union-find only takes edge lists of at
    most ``_CC_SINGLE_TASK_EDGES`` rows."""
    monkeypatch.setattr(graph, "_CC_SINGLE_TASK_EDGES", 0)


def _model(edges):
    """Union-find ground truth: node -> min id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_path_graph_collapses_to_min(spark):
    edges = [(i, i + 1) for i in range(1, 10)]
    got = _cc(spark, edges)
    assert got == {n: 1 for n in range(1, 11)}


def test_two_components_and_reversed_edges(spark):
    edges = [(5, 3), (3, 8), (20, 10), (10, 30), (30, 10)]
    got = _cc(spark, edges)
    assert got == {3: 3, 5: 3, 8: 3, 10: 10, 20: 10, 30: 10}


def test_self_loops_and_duplicates_ignored(spark):
    edges = [(7, 7), (1, 2), (2, 1), (1, 2)]
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1}


def test_long_chain_converges_logarithmically(spark, monkeypatch):
    """A 64-node path has diameter 63; naive propagation needs 63
    rounds. Large-star/small-star must finish inside
    ``_CC_MAX_ROUNDS`` = 25 (expected ~log2(64)+O(1)). The star loop is
    forced — by default this graph is solved on the driver."""
    _force_star_loop(monkeypatch)
    edges = [(i, i + 1) for i in range(64)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 65



def test_star_loop_jobs_per_round_under_aqe(spark, monkeypatch):
    """Pins the Spark jobs the star loop runs on a 64-node chain: 4 to
    persist and count the edge list, then 19 in round 1 and 13 in each
    of the 5 later rounds. Under AQE every shuffle stage runs as a job
    of its own, and ``localCheckpoint(eager=False)`` runs the shuffle
    stages of the subtree it truncates. A change to the loop's plan
    shape moves these counts."""
    _force_star_loop(monkeypatch)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    group = f"cc-jobs-{id(monkeypatch)}"

    def jobs_so_far():
        bus.waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    marks = []
    small_star = graph._small_star

    def marking_small_star(*args, **kwargs):
        # called once per round, after the previous round's probe
        marks.append(jobs_so_far())
        return small_star(*args, **kwargs)

    monkeypatch.setattr(graph, "_small_star", marking_small_star)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "id_a bigint, id_b bigint"
    )
    sc.setJobGroup(group, "connected_components star loop")
    try:
        cc = connected_components(edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    marks.append(jobs_so_far())
    assert marks[0] == 4
    assert [b - a for a, b in zip(marks, marks[1:])] == [19] + [13] * 5
    assert {r["component"] for r in cc.collect()} == {1}

def test_random_graph_matches_union_find(spark):
    rng = random.Random(42)
    nodes = list(range(200))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, edges) == _model(edges)


def test_star_loop_matches_union_find(spark, monkeypatch):
    """The scale path (star contraction, forced) must produce
    byte-identical components to the default driver-side union-find
    path on the same random graph — the two-path contract the
    small-graph cutover introduced."""
    rng = random.Random(7)
    nodes = list(range(300))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(180)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    single = _cc(spark, edges)
    _force_star_loop(monkeypatch)
    star = _cc(spark, edges)
    assert star == single == _model(edges)


def test_assign_components_covers_singletons(spark):
    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a bigint, id_b bigint")
    got = {
        r["doc_id"]: r["component"]
        for r in assign_components(docs, "doc_id", pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}


def test_assign_with_sizes_matches_unfused_composition(spark):
    """The fused operator (sizes counted over the O(edges) cc table)
    must match the unfused composition (assign_components → groupBy
    component → join back) row-for-row, including singletons (size 1),
    on a random graph over ids with members absent from any pair."""
    from dask_felleskomponenter_spark.operators.graph import (
        assign_components_with_sizes,
    )

    rng = random.Random(11)
    docs = spark.range(120).select(F.col("id").alias("doc_id"))
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")

    assigned = assign_components(docs, "doc_id", pairs)
    sizes = assigned.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    unfused = {
        (r["doc_id"], r["component"], r["cluster_size"])
        for r in assigned.join(sizes, on="component").collect()
    }
    fused = {
        (r["doc_id"], r["component"], r["cluster_size"])
        for r in assign_components_with_sizes(
            docs, "doc_id", pairs
        ).collect()
    }
    assert fused == unfused


def test_assign_with_sizes_rejects_size_col_collision(spark):
    """size_col is an output-contract name like out_col — a collision
    must raise, not silently replace the user's column."""
    from dask_felleskomponenter_spark.operators.graph import (
        assign_components_with_sizes,
    )

    docs = spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit(9).alias("cluster_size")
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a bigint, id_b bigint")
    with pytest.raises(ValueError):
        assign_components_with_sizes(docs, "doc_id", pairs)


def test_assign_components_rejects_string_ids(spark):
    """The singleton fallback is cast('long'); string ids must fail
    loudly at plan-build time (like the edge side) instead of silently
    collapsing the corpus into one NULL cluster (round-6 review
    finding)."""
    docs = spark.createDataFrame([("a",), ("b",)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(TypeError, match="integral id columns"):
        assign_components(docs, "doc_id", pairs)


def test_graph_type_guard_names_missing_columns(spark):
    """A typo'd id column must raise the operator's own message naming
    the column and the frame's schema, not a bare KeyError from the
    dtype lookup (round-10 review finding)."""
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(TypeError, match=r"id column\(s\) \['id_z'\]"):
        connected_components(pairs, src="id_a", dst="id_z")


def test_nonconvergence_raises(spark, monkeypatch):
    """One round cannot contract a 64-node path. The star loop is
    forced — the driver-side union-find has no round count to
    exhaust."""
    _force_star_loop(monkeypatch)
    monkeypatch.setattr(graph, "_CC_MAX_ROUNDS", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        connected_components(edges)


def test_bridge_child_with_two_roots_converges_fully(spark):
    """Regression: after one star round, edges (3,4),(3,5),(1,4),(2,5)
    become two stars rooted at 1 and 2 BRIDGED by child 3 — 'no root is
    a child' holds while node 3 still has two parents. A probe checking
    only that condition stopped here and emitted node 3 with TWO
    component labels; full convergence must merge everything to
    component 1 (and keep disjoint components disjoint)."""
    from dask_felleskomponenter_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(3, 4), (3, 5), (1, 4), (2, 5), (40, 50)], ["id_a", "id_b"]
    )
    got = sorted(tuple(r) for r in connected_components(edges).collect())
    assert got == [
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (40, 40), (50, 40),
    ]


def test_assign_components_survives_colliding_helper_names(spark):
    """Round-8 review finding: hardcoded _cc_id/_cc_comp helper columns
    collided with same-named user columns — AMBIGUOUS_REFERENCE on the
    coalesce, or the final drop silently deleting user data."""
    from dask_felleskomponenter_spark.operators.graph import assign_components

    df = spark.createDataFrame(
        [(1, "keep-a"), (2, "keep-b"), (9, "keep-c")],
        "doc_id long, _cc_comp string",
    ).withColumn("_cc_id", F.lit("user-data"))
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = assign_components(df, "doc_id", pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["component"] == 1 and rows[2]["component"] == 1
    assert rows[9]["component"] == 9
    # the user's same-named columns survive untouched
    assert rows[9]["_cc_comp"] == "keep-c"
    assert rows[9]["_cc_id"] == "user-data"


def test_graph_operators_accept_dotted_id_columns(spark):
    """Bare F.col parses a dot as a struct path; ids named like
    'doc.id' must resolve exactly (quoted_col class)."""
    from dask_felleskomponenter_spark.operators.graph import assign_components

    df = spark.createDataFrame([(1,), (2,), (5,)], ["doc.id"])
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = assign_components(df, "doc.id", pairs)
    rows = {r["doc.id"]: r["component"] for r in out.collect()}
    assert rows == {1: 1, 2: 1, 5: 5}


def test_assign_components_rejects_colliding_out_col(spark):
    """Round-8 finding: a pre-existing user column named out_col
    (default 'component') was silently overwritten with cluster ids;
    out_col is an output-contract name so a collision is a loud error,
    case-insensitively (Spark's default resolution)."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.graph import (
        assign_components,
    )

    pairs = spark.createDataFrame([Row(id_a=1, id_b=2)])
    df = spark.createDataFrame([Row(doc_id=1, Component="hardware")])
    with _pytest.raises(ValueError, match="out_col"):
        assign_components(df, "doc_id", pairs)
    out = assign_components(df, "doc_id", pairs, out_col="cluster_id")
    assert out.collect()[0]["Component"] == "hardware"


def test_cc_loop_never_mutates_session_shuffle_partitions(spark, monkeypatch):
    """Round-10 verdict item: the star loop used to set the session-global
    spark.sql.shuffle.partitions for its rounds (restored in a finally),
    which would hand any CONCURRENT query planned in the same session the
    loop's tiny width. The loop now pins widths per-exchange with explicit
    repartition(parts, keys); the session conf must never be touched."""
    real_set = spark.conf.set

    def guarded(key, value):
        assert key != "spark.sql.shuffle.partitions", (
            "connected_components mutated session shuffle partitions"
        )
        return real_set(key, value)

    monkeypatch.setattr(spark.conf, "set", guarded)
    _force_star_loop(monkeypatch)  # the path that mutated
    got = _cc(spark, [(1, 2), (2, 3), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_small_graph_path_leaves_no_persisted_rdd(spark):
    """The small-graph path solves on the driver and releases the
    persisted edge list before returning: after the query has run, the
    session's persisted-RDD count is back at its baseline."""
    from dask_felleskomponenter_spark.operators.graph import (
        assign_components_with_sizes,
    )

    jsc = spark.sparkContext._jsc
    docs = spark.range(8).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (6, 7)], "id_a bigint, id_b bigint"
    )
    baseline = jsc.getPersistentRDDs().size()
    got = {
        r["doc_id"]: (r["component"], r["cluster_size"])
        for r in assign_components_with_sizes(docs, "doc_id", pairs).collect()
    }
    assert got == {
        0: (0, 3), 1: (1, 1), 2: (2, 1), 3: (0, 3), 4: (4, 1), 5: (0, 3),
        6: (6, 2), 7: (6, 2),
    }
    assert jsc.getPersistentRDDs().size() == baseline


def test_empty_edge_list_yields_no_components(spark):
    """Zero edges (all self-loops) go down the small path too: an empty
    ``(node, component)`` frame, and every doc is its own cluster."""
    pairs = spark.createDataFrame([(4, 4)], "id_a bigint, id_b bigint")
    cc = connected_components(pairs)
    assert cc.dtypes == [("node", "bigint"), ("component", "bigint")]
    assert cc.collect() == []
    docs = spark.range(3).select(F.col("id").alias("doc_id"))
    got = {
        r["doc_id"]: r["component"]
        for r in assign_components(docs, "doc_id", pairs).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}
