#!/usr/bin/env python
"""Count the generated classes each declared query compiles, over two
passes in one ``get_spark`` session.

Usage:
    python tools/codegen_census.py [--sf-dir DIR]
                                   [--cache-entries N | --bare]
                                   [query ...]

Runs the named queries (default: the whole declared set) twice, in
declared order, each materialized through the noop sink, and prints
one line per query: the classes compiled on pass 1 and on pass 2. The
last lines give the totals and the JVM metaspace in use.

Pass 1 with an unbounded cache (``--cache-entries 1000000``) counts the
distinct classes of the set: the working set that
``session.CODEGEN_CACHE_ENTRIES`` must hold. Re-check the constant with
it when the declared set grows. Pass 2 counts recompiles: with the
cache large enough, only queries whose generated source embeds an
AQE-assigned ``// codegenStageId=N`` recompile. AQE numbers stages in
the order they complete, so the same stage can get another N on the
next run, another source text, and a cache miss. ``--cache-entries
100`` reproduces Spark's default size.

``--bare`` runs the queries the way an outside caller of the entry
contract does: through ``__spark_entry__.queries()`` on a plain
``SparkSession.builder`` session, so the cache gets only the size
``tune_session`` gives it.

Default data dir: ``$SPARK_GRAFT_SF_DIR`` or /root/testdata/sf0.01.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def metaspace_mb(spark) -> float:
    """Used JVM metaspace, MiB."""
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    for pool in mgmt.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ap.add_argument(
        "--cache-entries",
        type=int,
        help="spark.sql.codegen.cache.maxEntries (default: the session's)",
    )
    ap.add_argument(
        "--bare",
        action="store_true",
        help="run __spark_entry__.queries() on a plain builder session",
    )
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    if args.bare and args.cache_entries is not None:
        ap.error("--bare keeps the cache size tune_session gives")

    from dask_felleskomponenter_spark.plans import QUERIES
    from dask_felleskomponenter_spark.session import codegen_compiles, get_spark

    names = args.queries or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")

    if args.bare:
        from pyspark.sql import SparkSession

        from __spark_entry__ import queries as entry_queries

        queries = entry_queries()
        spark = SparkSession.builder.master(
            f"local[{os.cpu_count()}]"
        ).getOrCreate()
    else:
        queries = QUERIES
        extra = {"spark.ui.showConsoleProgress": "false"}
        if args.cache_entries is not None:
            extra["spark.sql.codegen.cache.maxEntries"] = str(
                args.cache_entries
            )
        spark = get_spark(app_name="dfs-codegen-census", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    counts: dict[str, list[int]] = {n: [] for n in names}
    seconds = []
    for _ in range(2):
        t0 = time.perf_counter()
        for name in names:
            before = codegen_compiles(spark)
            queries[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            counts[name].append(codegen_compiles(spark) - before)
        seconds.append(time.perf_counter() - t0)

    entries = spark.conf.get("spark.sql.codegen.cache.maxEntries", "100")
    width = max(len(n) for n in names)
    print(f"{'query':<{width}}  pass1  pass2")
    for name in names:
        p1, p2 = counts[name]
        print(f"{name:<{width}}  {p1:5d}  {p2:5d}")
    totals = [sum(c[i] for c in counts.values()) for i in range(2)]
    recompiling = sorted(n for n, c in counts.items() if c[1])
    print(
        f"total: pass1 {totals[0]} classes in {seconds[0]:.1f} s, "
        f"pass2 {totals[1]} classes in {seconds[1]:.1f} s "
        f"({len(names)} queries, cache {entries} entries, {args.sf_dir})"
    )
    print(f"metaspace used: {metaspace_mb(spark):.0f} MiB")
    if totals[0] > int(entries):
        print(
            f"pass 1 compiled more classes than the cache holds "
            f"({entries}): pass-2 recompiles are evictions"
        )
    elif recompiling:
        print(
            "recompiled on pass 2: " + ", ".join(recompiling) + "\n"
            "(their generated source embeds an AQE-assigned "
            "codegenStageId, numbered in stage completion order, so a "
            "rerun can produce another source text and miss the cache)"
        )
    spark.stop()


if __name__ == "__main__":
    main()
