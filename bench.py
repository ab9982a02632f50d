#!/usr/bin/env python
"""Benchmark harness: runs the declared query set and prints ONE JSON line.

Config via env:
  SPARK_GRAFT_SF_DIR  data directory (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default: all cores)
  BENCH_QUERIES       comma-separated subset (default: all declared)
  BENCH_REPEATS       passes over the set; per-query MIN is reported
                      (default 2)
  BENCH_RESULT_FILE   where to write the full result (default
                      bench_result.json, for a full-set run at the sf
                      that file already records; other runs write no
                      file unless this is set)

Each query is materialized through the noop sink so every output column
is computed but nothing is collected to the driver. Per query the result
carries three numbers from the same pass: wall seconds ("queries"), the
CPU seconds the Spark process tree spent ("cpu_s": this process, its JVM
and the Python workers, read from /proc outside the timed bracket), and
a normalized physical-plan hash ("plan_hashes").

Attribution rule: compare two runs query by query. A changed plan hash
is a plan change. With the hash unchanged, a wall-time drift that
cpu_s does not share is contention (neighbours took the cores; the
work is the same), and a drift that cpu_s shares is work the engine
does. On a 4-core box at sf0.1, four busy-loop processes beside the
bench raised per-query wall time 1.82x at the median while cpu_s
moved 1.04x. cpu_s does follow contention that makes each CPU-second
slower instead of taking cores away (two idle runs an hour apart on
a shared box differed 1.28x in cpu_s at the median), so compare runs
taken close together.

Output: the full result JSON line (also written to the result file),
followed by a compact summary JSON line as the FINAL line — sized to
fit a bounded tail capture, carrying the totals and the slowest queries.

Why min-of-N: a single pass can catch a transient I/O/CPU spike that
inflates one query 5-20× (measured 45s ↔ 300s full-set swings with
identical plans). Two-rounds-in-one-session profiling shows zero
in-session degradation (round 2 is faster: the JIT is warm, and the
session's codegen class cache, sized by
``session.CODEGEN_CACHE_ENTRIES``, holds every class round 1 compiled;
at Spark's default 100 entries round 2 recompiled nearly all of them),
so the minimum over passes measures the engine and discards the
neighbors.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def plan_hash(df) -> str:
    """Stable 12-hex digest of a DataFrame's compiled physical plan.

    Expression ids (``#123``) and plan ids are fresh per session, so the
    raw plan string never matches across runs — normalize them away
    before hashing. So are the numeric suffixes of Python-built lambda
    variables (``lambda x_17``) and of common subexpressions
    (``_common_expr_4``): JVM-wide counters that move with whatever ran
    earlier. A scan's ``DataFilters`` text is dropped: Spark cuts it at
    100 characters before the ids are normalized, so where it is cut
    moves with the id widths, and the Filter above the scan prints the
    same predicates in full. The cut text can hold line breaks (a
    ``trim`` whitespace-set literal), so the match spans lines. With AQE
    on this is the pre-execution plan (``AdaptiveSparkPlan
    isFinalPlan=false`` + the initial plan), which is exactly what
    attribution needs: if the hash is unchanged between rounds, a
    timing drift is environmental, not a plan change.
    """
    return plan_digest(df._jdf.queryExecution().executedPlan().toString())


def plan_digest(s: str) -> str:
    """``plan_hash`` of a physical plan's text."""
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"(plan_id|id|subquery)=#?\d+", r"\1=", s)
    s = re.sub(r"(lambda [xyz]|_common_expr)_\d+", r"\1", s)
    s = re.sub(r"DataFilters: \[.*?(\]|\.\.\.), Format:", "Format:", s,
               flags=re.S)
    return hashlib.sha1(s.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num: float | str = float(sf)
    except ValueError:
        sf_num = sf

    from dask_felleskomponenter_spark.plans import QUERIES
    from dask_felleskomponenter_spark.session import get_spark
    from perfbench import procstat

    wanted = os.environ.get("BENCH_QUERIES")
    names = (
        [n.strip() for n in wanted.split(",") if n.strip()]
        if wanted
        else list(QUERIES.keys())
    )
    if not names:
        # a whitespace/comma-only BENCH_QUERIES must not "succeed" with
        # a 0-second total that reads as an infinite speedup downstream
        sys.exit("BENCH_QUERIES is set but names no queries")
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        # fail in milliseconds, before any Spark spin-up or warm-up
        sys.exit(
            f"unknown BENCH_QUERIES entries: {', '.join(unknown)}\n"
            f"valid names: {', '.join(sorted(QUERIES))}"
        )
    raw_repeats = os.environ.get("BENCH_REPEATS", "2").strip()
    try:
        repeats = int(raw_repeats)
    except ValueError:
        repeats = 0  # falls into the loud exit below
    if repeats < 1:
        # validated HERE, not after tens of seconds of session warm-up;
        # '0' must not silently coerce to one pass (the message claims
        # positive-integer validation, so enforce it)
        sys.exit(f"BENCH_REPEATS must be a positive integer, got {raw_repeats!r}")

    try:
        load_start = os.getloadavg()[0]
    except OSError:  # non-unix fallback
        load_start = 0.0

    spark = get_spark(app_name="dfs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM so per-query times measure the queries, not session
    # spin-up: parquet reader + footer cache, whole-stage-codegen
    # compilation for agg/join/window, and the Arrow/pandas-UDF worker
    # path (first pandas stage pays Arrow init + worker spawn).
    import pandas as pd  # noqa: F401 - resolved by the UDF type hints
    from pyspark.sql import functions as F

    globals()["pd"] = pd

    from dask_felleskomponenter_spark.sources import load_table

    # load_table, not a raw parquet read: the warm-up must exercise the
    # exact read path (UTC pin, nanosAsLong conf) the timed queries use
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .groupBy("r_name")
        .count()
        .orderBy("r_name")
        .count()
    )

    @F.pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    nation.select(_warm(F.col("n_nationkey"))).write.format("noop").mode(
        "overwrite"
    ).save()

    pid = os.getpid()
    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    for rnd in range(repeats):
        for name in names:
            fn = QUERIES[name]
            cpu_start = procstat.cpu_seconds(pid)
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - start, 3)
            cpu_used = round(procstat.cpu_seconds(pid) - cpu_start, 3)
            # `name not in timings`, not `rnd == 0`: duplicate names in
            # BENCH_QUERIES would otherwise let a later slower round-0
            # run overwrite an earlier faster one, breaking min-of-N
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
                cpu[name] = cpu_used
        # Drop any cached state between passes so every pass measures
        # cold plans.
        spark.catalog.clearCache()

    try:
        load_end = os.getloadavg()[0]
    except OSError:
        load_end = 0.0

    # Plan-hash pass AFTER the timing loop (compiling the plan costs
    # ~10-100ms/query and must not sit inside the timed region): the
    # hash makes a timing drift attributable — same hash across rounds
    # means the plan didn't change, so the drift is environmental.
    hashes = {name: plan_hash(QUERIES[name](spark, sf_dir)) for name in names}
    spark.stop()

    total = round(sum(timings.values()), 3)
    total_cpu = round(sum(cpu.values()), 3)
    result = {
        "metric": "declared_query_set_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cpu_s": cpu,
        "plan_hashes": hashes,
        "sf": sf_num,
        # provenance for cross-round comparisons: a drifted total with
        # unchanged plan hashes and a high START loadavg is box noise.
        # END is sampled at timing-loop end and therefore INCLUDES the
        # bench's own local[N] executor load (1-min loadavg lags) — a
        # high end value on an idle-start run is self-load, not
        # contention; start is the ambient signal.
        "loadavg": {"start": round(load_start, 2), "end": round(load_end, 2)},
        "loadavg_note": "end includes the bench's own executor load; "
                        "start is the ambient-contention signal",
    }
    # Full result: one line to stdout AND a file — the harness that
    # invokes this script captures only a bounded TAIL of the output,
    # and with 100+ queries the full line exceeds it (the head, with
    # the total, gets cut). The file is the durable record.
    print(json.dumps(result))
    # bench_result.json is the canonical full-set record of one sf: a
    # subset or off-sf run (an sf0.001 smoke) writes nowhere unless
    # BENCH_RESULT_FILE says where.
    explicit_file = os.environ.get("BENCH_RESULT_FILE")
    result_file = explicit_file
    if not result_file and not wanted:
        canonical = os.path.join(REPO_ROOT, "bench_result.json")
        try:
            with open(canonical) as fh:
                recorded_sf = json.load(fh).get("sf")
        except (OSError, ValueError, AttributeError):
            recorded_sf = None  # absent or unreadable: claim it
        if recorded_sf in (None, sf_num):
            result_file = canonical
    if result_file:
        try:
            # atomic tmp+replace: a bare open('w') truncates FIRST, so
            # a crash/ENOSPC mid-write would destroy the previous record
            from dask_felleskomponenter_spark.ioutil import atomic_json_dump

            atomic_json_dump(result_file, result)
        except OSError as e:
            if explicit_file:
                # an EXPLICITLY requested durable record must not
                # silently evaporate (the stdout line is tail-truncated
                # at 100+ queries)
                sys.exit(f"cannot write BENCH_RESULT_FILE "
                         f"{result_file!r}: {e}")
            print(f"bench: could not write {result_file!r}: {e}",
                  file=sys.stderr)
    # LAST line: a compact summary sized to survive a ~2000-char tail
    # capture — the headline totals plus the slowest queries (the ones
    # perf work cares about) and a pointer to the complete map.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:30]
    )
    map_loc = (
        os.path.basename(result_file)
        if result_file
        else "stdout full line only (guarded run: no file written)"
    )
    summary = {
        "metric": "declared_query_set_runtime",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "sf": sf_num,
        "n_queries": len(timings),
        "cpu_s": total_cpu,
        "queries_note": f"30 slowest shown; full map: {map_loc}",
    }
    line = json.dumps(summary, separators=(",", ":"))
    # TRIM UNTIL IT FITS, not one fixed fallback: a single 15-entry
    # retry can still exceed the ~2000-char tail capture under long
    # query names, truncating the final line mid-JSON and losing the
    # headline total — the exact failure that cost round 3's artifact.
    keep = 30
    while len(line) > 1800 and keep > 0:
        keep //= 2
        summary["queries"] = dict(list(slowest.items())[:keep])
        summary["queries_note"] = (
            f"{keep} slowest shown; full map: {map_loc}"
        )
        line = json.dumps(summary, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
