"""Distributed connected components — the pairs→clusters step of dedup.

Near-dup operators (``ngram_jaccard_pairs``, ``lsh_candidate_pairs``)
emit *pairs*; a training-data pipeline needs disjoint *clusters* so it
can keep one representative per duplicate group. Pair lists are not
clusters: A~B and B~C must collapse into {A,B,C} even though A~C was
never emitted (similarity is not transitive, dedup policy is).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14). Converges in O(log n) rounds versus
O(graph diameter) for naive min-label propagation; at 100 TB a
boilerplate near-dup chain can have diameter in the millions, which is
the difference between 20 rounds and a job that never finishes.

Scale shape per round: one groupBy (map-side-combinable ``min``) and
one shuffle join back to the neighbor list — all JVM-side columnar ops,
no UDFs. The convergence check is one short-circuiting star-forest
probe per round (a semi-join ``isEmpty``, exact one round earlier than
output-stability comparison); driver-side loop control is inherent to
iterative algorithms (GraphX / GraphFrames use the same model) and
moves O(1) bytes per round.

Lineage: every round ends in ``localCheckpoint(eager=True)`` — without
it the iterated self-joins grow the logical plan exponentially and
Catalyst analysis dominates wall-clock after ~10 rounds. On a real
cluster set ``spark.sparkContext.setCheckpointDir`` and swap in
``.checkpoint()`` for executor-loss-tolerant truncation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint", "long"}


def _require_integral_ids(df: DataFrame, cols: list[str], op: str) -> None:
    """The star-contraction algebra orders ids with least/greatest, so
    ids must be integral. A silent ``cast('long')`` would turn string
    ids (UUIDs, content hashes) into NULLs, empty the edge set, and
    hand every row a NULL component — corrupt clustering with no error.
    Fail loudly at plan-build time instead; callers with string ids
    should dense-rank them to longs first (zipWithIndex-free:
    ``F.xxhash64`` is NOT safe here — collisions merge components)."""
    types = dict(df.dtypes)
    missing = [c for c in cols if c not in types]
    if missing:
        # a bare dict lookup would surface as KeyError('id_a') with no
        # hint which operator or frame is at fault
        raise TypeError(
            f"{op}: id column(s) {missing} not found; frame has "
            f"{sorted(types)}"
        )
    bad = {c: types[c] for c in cols if types[c] not in _INTEGRAL_TYPES}
    if bad:
        raise TypeError(
            f"{op} requires integral id columns, got {bad}; map string "
            f"ids to dense longs before clustering"
        )


def _nonnull_guard(col: str, dtype, op: str):
    """Row expression that raises on a NULL id the first time an action
    touches it. The type guard above is plan-build-time and cannot see
    VALUES; a NULL id would otherwise drop its edges silently (the
    ``_u != _v`` filter is never true for NULL) or collapse every
    NULL-id row into one shared NULL cluster downstream — corruption
    with no error. Codegen folds the null check to ~free. quoted_col:
    a dotted id column must resolve exactly, not as a struct path."""
    from dask_felleskomponenter_spark.operators.shuffle import quoted_col

    return F.when(quoted_col(col).isNotNull(), quoted_col(col)).otherwise(
        F.raise_error(
            F.lit(
                f"{op}: NULL {col!r} — ids must be non-null (a NULL id "
                "cannot carry edges or name a cluster); assign ids first"
            )
        ).cast(dtype)
    )


def _canonical_edges(
    edges: DataFrame, src: str, dst: str, pre_canonical: bool = False
) -> DataFrame:
    """Undirected edge list as (a < b) long pairs, self-loops dropped.

    ``pre_canonical=True`` skips the ``distinct()`` — an exchange plus a
    dedup pass over the whole edge list — for callers whose pairs are
    aggregation outputs that already hold one row per unordered pair
    (every near-dup pair producer in this repo: the Jaccard groupBy, the
    LSH ``distinct``, the GEMM tiles' upper-triangle). The row-wise
    least/greatest canonicalization and the null/self-loop guards stay —
    they are codegen'd per-row work, not a shuffle — so a caller that is
    wrong about distinctness degrades to duplicate edges (the star ops'
    own ``distinct`` absorbs them next round), never to wrong
    components."""
    _require_integral_ids(edges, [src, dst], "connected_components")
    types = dict(edges.dtypes)
    e = edges.select(
        _nonnull_guard(src, types[src], "connected_components")
        .cast("long")
        .alias("_u"),
        _nonnull_guard(dst, types[dst], "connected_components")
        .cast("long")
        .alias("_v"),
    ).where(F.col("_u") != F.col("_v"))
    e = e.select(
        F.least("_u", "_v").alias("a"), F.greatest("_u", "_v").alias("b")
    )
    return e if pre_canonical else e.distinct()


def _large_star(e: DataFrame, parts: int) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    ``parts`` sizes every exchange in the round EXPLICITLY
    (``repartition(parts, keys)``): the min-aggregation and the join
    back both ride the one pinned hash(a) layout, and the final dedup
    rides a pinned hash(a, b) layout — so the loop never touches the
    session's ``spark.sql.shuffle.partitions`` (a session-global
    mutation would hand any CONCURRENT query planned in the same
    session the loop's tiny partition count)."""
    nbrs = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).repartition(parts, "a")
    mins = nbrs.groupBy("a").agg(F.min("b").alias("_mn"))
    mins = mins.select("a", F.least("a", "_mn").alias("_m"))
    # m <= u < v, so the emitted (v, m) is never a self-loop.
    return (
        nbrs.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
        .repartition(parts, "a", "b")
        .dropDuplicates()
    )


def _small_star(e: DataFrame, parts: int) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u itself) to
    the minimum of that neighborhood. Output is root-oriented: b < a.
    ``parts`` pins every exchange width (see ``_large_star``)."""
    e2 = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).repartition(parts, "a")
    mins = e2.groupBy("a").agg(F.min("b").alias("_m"))  # _m < a always
    nbr = (
        e2.join(mins, "a")
        .where(F.col("b") != F.col("_m"))
        .select(F.col("b").alias("a"), F.col("_m").alias("b"))
    )
    own = mins.select("a", F.col("_m").alias("b"))
    return nbr.union(own).repartition(parts, "a", "b").dropDuplicates()


#: Target edge rows per shuffle partition inside the star-contraction
#: loop. Star edges are two longs (~16 B + overhead), so 256k rows is a
#: few MB per task — large enough that task scheduling stops dominating,
#: small enough that a round never funnels into one giant sort.
_CC_ROWS_PER_PARTITION = 262_144


#: Edge count at or below which the components are solved by one
#: union-find pass on the driver instead of the star-contraction loop.
#: Matches _CC_ROWS_PER_PARTITION: "the loop would run every shuffle in
#: a single partition anyway" is exactly the regime where 4-6
#: sequential driver-coordinated rounds (each a full plan-compile + job
#: barrier, measured ~0.55 s/round on a 920-edge graph — latency, not
#: work) lose to walking the edges once. Two longs per edge bound the
#: pull to ~4 MB. The adaptive pick mirrors AQE's own size-based
#: re-planning and uses a statistic (the materialized edge count) the
#: optimizer doesn't have.
_CC_SINGLE_TASK_EDGES = _CC_ROWS_PER_PARTITION


def _driver_components(edges: DataFrame) -> DataFrame:
    """Exact components of a small canonical edge list, solved on the
    driver.

    The (cached) edges come over as one Arrow table — bounded by
    ``_CC_SINGLE_TASK_EDGES`` rows of two longs, the one ``collect``
    the package allows itself — and path-compressed union-find with
    union-toward-the-minimum makes each node's final root its
    component minimum: byte-identical output to the star-loop fixpoint
    (pytest pins both paths against the same model). The result is a
    local ``(node, component)`` frame, so every consumer (the sizes
    aggregate and the join in ``assign_components_with_sizes``) reads
    it without re-running the solver in a Python stage of its own."""
    import pyarrow as pa

    tbl = edges.toArrow()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(tbl.column("a").to_pylist(), tbl.column("b").to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    out = pa.table(
        {
            "node": pa.array(nodes, pa.int64()),
            "component": pa.array([find(n) for n in nodes], pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def _cc_loop_partitions(spark, n_edges: int) -> int:
    """Scale-adaptive shuffle-partition count for the CC rounds.

    The star ops shuffle the (contracted, fixed-16-byte-row) edge list
    ~6x per round, and every round materializes through
    ``localCheckpoint`` — an RDD-level action that bypasses AQE, so the
    session's ``spark.sql.shuffle.partitions`` (sized for the *data*
    queries) applies uncoalesced. On a near-dup graph the edge list is
    orders of magnitude smaller than the corpus: with the session
    default, one measured round over 256 edges ran ~200 near-empty
    tasks and task scheduling was 80%+ of the round (1.8 s → 0.3 s
    with the count sized to the data). Derive the count from the
    materialized edge count instead, capped at the session setting so a
    100 TB edge list still gets the cluster-sized fan-out.
    """
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" on Connect-style sessions
        cap = 200
    need = -(-n_edges // _CC_ROWS_PER_PARTITION)  # ceil-div
    return max(1, min(cap, need))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    pre_canonical: bool = False,
    small_graph_cutoff: int | None = None,
) -> DataFrame:
    """Connected components of an undirected edge list.

    Returns ``(node: long, component: long)`` for every node incident to
    at least one edge, where ``component`` is the smallest node id in
    the node's component (roots map to themselves). Nodes with no edges
    don't appear — union them in with ``assign_components``.

    ``pre_canonical`` promises the input already holds one row per
    unordered pair (see ``_canonical_edges``), skipping a full-edge-list
    dedup shuffle.

    ``small_graph_cutoff`` (default ``_CC_SINGLE_TASK_EDGES``): edge
    lists at or below this size solve in one driver-side union-find
    pass (``_driver_components``) instead of the star loop — identical
    output, none of the loop's per-round job latency. Pass ``0`` to
    force the star loop on any non-empty edge list (the scale path;
    tests pin both).

    Raises ``RuntimeError`` if the star fixpoint is not reached within
    ``max_iter`` alternating rounds (2^max_iter node span — never in
    practice; a hit means pathological input like id overflow).
    """
    from pyspark import StorageLevel

    e = _canonical_edges(edges, src, dst, pre_canonical)
    # Materialize the edge list through persist+count (ONE job, AQE-
    # planned): a direct eager ``localCheckpoint`` would compile and
    # run the plan through ``toRdd``, which bypasses AQE and re-plans
    # the (often expensive) pair-producing subtree with uncoalesced
    # full-width shuffles. The count both drives the execution and is
    # needed anyway: it sizes the loop's shuffles
    # (_cc_loop_partitions) and routes small (and empty) graphs to the
    # driver-side solver. The CACHED edge list then feeds the solver
    # directly. Both paths release the persist before returning: the
    # small path once the edges are on the driver, the loop path as
    # soon as round 1 has materialized — a long-lived session running
    # many connected_components calls keeps no cache behind.
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = e.count()
    spark = e.sparkSession
    cutoff = (
        _CC_SINGLE_TASK_EDGES
        if small_graph_cutoff is None
        else small_graph_cutoff
    )
    if n_edges <= cutoff:
        try:
            return _driver_components(e)
        finally:
            e.unpersist(False)
    loop_parts = _cc_loop_partitions(spark, n_edges)
    try:
        cur = e
        for _ in range(max_iter):
            # eager=False: the logical plan is truncated (LogicalRDD)
            # immediately, but materialization is deferred to the
            # convergence probe below — whose shuffle-map stage scans
            # every stars partition anyway — so each round runs ONE job
            # (probe incl. star computation + checkpoint write) instead
            # of two (separate eager-checkpoint job, then probe jobs).
            # Measured per-round driver latency is the round's floor at
            # this scale, so one fewer job is one fewer ~0.2 s barrier.
            # Round 1 reads the persisted edge list straight from the
            # cache (no separate checkpoint job).
            stars = _small_star(
                _large_star(cur, loop_parts), loop_parts
            ).localCheckpoint(eager=False)
            cur = stars
            # Convergence = the output is already a star forest, which
            # needs BOTH conditions: (1) no root (b side) appears as a
            # child (a side) — no chains; (2) every child has exactly
            # ONE parent — a child bridging two roots (e.g. edges
            # (3,1),(3,2)) satisfies (1) alone while the component is
            # still split, the bug a (1)-only probe shipped: nodes came
            # back with two component labels. A star forest is a
            # fixpoint of both star operations and both ops preserve
            # connectivity, so stopping at (1)∧(2) is exact — and still
            # fires one round earlier than the old output-stability
            # signature (which recomputed both stars just to observe no
            # change). Both conditions ride ONE job over the
            # checkpointed stars (the old shape ran a semi-join job for
            # (1) and an aggregate job for (2) every round): each edge
            # contributes its child (a, tagged 1) and its root (b,
            # tagged 0) to one map-side-combinable aggregate, where a
            # node with more than one child row violates (2) and a node
            # carrying both roles violates (1); ``isEmpty`` still
            # short-circuits at the first witness.
            roles = stars.select(
                F.col("a").alias("_n"), F.lit(1).alias("_c")
            ).unionAll(
                stars.select(F.col("b").alias("_n"), F.lit(0).alias("_c"))
            )
            violations = (
                roles.groupBy("_n")
                .agg(
                    F.sum("_c").alias("_nc"),
                    F.count(F.lit(1)).alias("_nt"),
                )
                .where(
                    (F.col("_nc") > 1)
                    | ((F.col("_nc") > 0) & (F.col("_nt") > F.col("_nc")))
                )
            )
            if violations.isEmpty():
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        # Round 1's probe has materialized its checkpoint (or we are
        # raising) — later rounds only reference the previous round's
        # checkpoint, never the original edges. Idempotent.
        e.unpersist(False)
    # Fixpoint is a star forest with b = root < a: every non-root node
    # has exactly one outgoing edge to its component minimum.
    members = cur.select(F.col("a").alias("node"), F.col("b").alias("component"))
    roots = (
        cur.select(F.col("b").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    return members.union(roots)


def assign_components(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out_col: str = "component",
    pre_canonical: bool = False,
) -> DataFrame:
    """Attach a cluster id to every row of ``df``: the component minimum
    for rows that near-dup with anything, the row's own id otherwise
    (singleton clusters). ``pre_canonical`` is forwarded to
    ``connected_components`` (skip the edge dedup shuffle when ``pairs``
    already holds one row per unordered pair)."""
    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_absent,
        fresh_name,
        quoted_col,
    )

    # out_col is an OUTPUT-contract name (callers select it), so a
    # collision can't be fresh-named away like the internal join
    # columns below — withColumn would silently REPLACE a user column
    # (e.g. a hardware 'component' id) with cluster ids.
    # Case-insensitive, matching Spark's default resolution.
    ensure_absent(out_col, df, what="out_col")
    # Same loud guard the edge side gets: the singleton fallback below
    # is cast('long'), which would silently turn string ids into NULL
    # components (one giant NULL cluster) — exactly what
    # _require_integral_ids exists to prevent.
    _require_integral_ids(df, [id_col], "assign_components")
    # Value-level twin of the type guard: a NULL id matches no cc row
    # AND casts to a NULL component, so every NULL-id row would share
    # one cluster and a keep-one-representative dedup would silently
    # drop all but one of them.
    df = df.withColumn(
        id_col, _nonnull_guard(id_col, dict(df.dtypes)[id_col],
                               "assign_components")
    )
    # fresh_name: hardcoded helper names would collide with same-named
    # user columns — the join would raise AMBIGUOUS_REFERENCE (or the
    # final drop would delete user data), the exact class fresh_name
    # exists for.
    id_name = fresh_name("_cc_id", df, extra={out_col})
    comp_name = fresh_name("_cc_comp", df, extra={out_col, id_name})
    cc = connected_components(
        pairs, src, dst, pre_canonical=pre_canonical
    ).select(
        F.col("node").alias(id_name), F.col("component").alias(comp_name)
    )
    return (
        df.join(cc, on=quoted_col(id_col) == cc[id_name], how="left")
        .withColumn(
            out_col, F.coalesce(comp_name, quoted_col(id_col).cast("long"))
        )
        .drop(id_name, comp_name)
    )


def assign_components_with_sizes(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out_col: str = "component",
    size_col: str = "cluster_size",
    pre_canonical: bool = False,
) -> DataFrame:
    """``assign_components`` plus a ``size_col`` member count per
    cluster — fused so the sizes aggregate over the O(edges) component
    table instead of the O(corpus) assigned output.

    The unfused shape (``assign_components`` → ``groupBy(component)``
    → join back) computes the corpus⟕cc join twice and shuffles a
    corpus-sized sizes table into a corpus×corpus join, because
    singleton clusters make ``sizes`` as big as the corpus. But the
    member count is already determined by the component table alone:
    every member of a multi-node cluster shares an edge, so it appears
    in ``connected_components`` output exactly once, and every id NOT
    in that output is a singleton with size exactly 1. Counting cc
    rows per component therefore IS the cluster size (ids are unique
    keys — the same contract the dedup pipeline and the oracle's
    per-id recursive CTE already assume), and the corpus is joined
    ONCE against the edge-bounded cc⋈sizes table; at sf0.1 AQE
    broadcasts it, at cluster scale it stays an un-hinted shuffle join
    of corpus × O(dup-docs) — strictly less data than the unfused
    corpus × corpus join. Equivalence is pinned in
    ``tests/test_graph.py`` against the unfused composition."""
    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_absent,
        fresh_name,
        quoted_col,
    )

    ensure_absent(out_col, df, what="out_col")
    ensure_absent(size_col, df, what="size_col")
    _require_integral_ids(df, [id_col], "assign_components_with_sizes")
    df = df.withColumn(
        id_col, _nonnull_guard(id_col, dict(df.dtypes)[id_col],
                               "assign_components_with_sizes")
    )
    id_name = fresh_name("_cc_id", df, extra={out_col, size_col})
    comp_name = fresh_name("_cc_comp", df, extra={out_col, size_col, id_name})
    n_name = fresh_name("_cc_n", df, extra={out_col, size_col, id_name,
                                            comp_name})
    cc = connected_components(
        pairs, src, dst, pre_canonical=pre_canonical
    ).select(
        F.col("node").alias(id_name), F.col("component").alias(comp_name)
    )
    sizes = cc.groupBy(comp_name).agg(F.count(F.lit(1)).alias(n_name))
    cc_sized = cc.join(sizes, on=comp_name)
    return (
        df.join(cc_sized, on=quoted_col(id_col) == cc_sized[id_name],
                how="left")
        .withColumn(
            out_col, F.coalesce(comp_name, quoted_col(id_col).cast("long"))
        )
        .withColumn(size_col, F.coalesce(n_name, F.lit(1).cast("long")))
        .drop(id_name, comp_name, n_name)
    )
