#!/usr/bin/env python
"""Benchmark harness: runs the declared query set and prints ONE JSON line.

Config via env:
  SPARK_GRAFT_SF_DIR  data directory (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default: all cores)
  BENCH_QUERIES       comma-separated subset (default: all declared)
  BENCH_REPEATS       passes over the set; per-query MIN is reported
                      (default 2)
  BENCH_PRIOR_FILE    prior-round result JSON for the outlier protocol
                      (default: newest BENCH_r*.json at the same sf)
  BENCH_NO_RERUN      set to disable the isolated outlier re-runs
  BENCH_RESULT_FILE   where to write the full result (default
                      bench_result.json)

The result carries a normalized per-query physical-plan hash
("plan_hashes"): an unchanged hash across rounds proves a timing drift
is environmental, not a plan change. Queries >1.3x their prior-round
time are automatically re-timed alone in a fresh subprocess
(min-of-3) and both numbers reported under "isolated_reruns". On a HOT
box (start loadavg over BENCH_MAX_LOAD) subprocess isolation is
meaningless — the children inherit the contention and historically ran
HOTTER — so outliers are re-timed IN-PROCESS (min-of-3 extra passes,
later in time, when a transient spike has often passed) and reported
under the same key with mode "inprocess_hot". Either way both numbers
land in the emitted JSON line; the canonical "queries" map always
keeps the in-set number.

Each query is materialized through the noop sink so every output column
is computed but nothing is collected to the driver.

Output: the full result JSON line (also written to bench_result.json),
followed by a compact summary JSON line as the FINAL line — sized to
fit a bounded tail capture, carrying the total and the slowest queries.

Why min-of-N: the bench box is multi-tenant and a single pass can catch
a transient I/O/CPU spike that inflates one query 5-20× (measured 45s ↔
300s full-set swings with identical plans). Two-rounds-in-one-session
profiling shows zero in-session degradation (round 2 is faster: the
JIT is warm, and the session's codegen class cache, sized by
``session.CODEGEN_CACHE_ENTRIES``, holds every class round 1 compiled;
at Spark's default 100 entries round 2 recompiled nearly all of them),
so the minimum over passes measures the engine and discards the
neighbors.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def plan_hash(df) -> str:
    """Stable 12-hex digest of a DataFrame's compiled physical plan.

    Expression ids (``#123``) and plan ids are fresh per session, so the
    raw plan string never matches across runs — normalize them away
    before hashing. With AQE on this is the pre-execution plan
    (``AdaptiveSparkPlan isFinalPlan=false`` + the initial plan), which
    is exactly what attribution needs: if the hash is unchanged between
    rounds, a timing drift is environmental, not a plan change.
    """
    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+", "#", s)
    s = re.sub(r"(plan_id|id|subquery)=#?\d+", r"\1=", s)
    return hashlib.sha1(s.encode()).hexdigest()[:12]


def _read_json_dict(path):
    """Parse ``path`` as JSON, returning the dict or None (missing,
    unreadable, bad JSON, or a non-object top level). One tolerant
    reader shared by load_prior and _prior_file_sf so a robustness fix
    lands once."""
    try:
        with open(path) as fh:
            obj = json.load(fh)
    except (OSError, ValueError):
        return None
    return obj if isinstance(obj, dict) else None


def load_prior(sf_num) -> dict[str, float]:
    """Per-query timings of the last committed full run at the SAME sf
    (or $BENCH_PRIOR_FILE). The committed bench_result.json is the
    canonical prior — the driver's BENCH_r*.json records carry only a
    truncated tail, never a full query map — but any BENCH_r*.json
    that does have one is accepted as fallback. Read BEFORE this run
    overwrites the file. Empty dict = no comparable prior, so the
    outlier re-run pass is skipped."""
    path = os.environ.get("BENCH_PRIOR_FILE")
    if path:
        # An EXPLICIT prior that is unusable must be loud: silently
        # returning {} disables the outlier protocol while the run
        # completes looking normal — the opposite of the fail-fast
        # contract BENCH_QUERIES/BENCH_REPEATS get (round-9 review).
        prior = _read_json_dict(path)
        if prior is None:
            sys.exit(f"BENCH_PRIOR_FILE {path!r} is missing or not a "
                     f"JSON object")
        if prior.get("sf") != sf_num:
            sys.exit(f"BENCH_PRIOR_FILE {path!r} records sf="
                     f"{prior.get('sf')!r}, this run is sf={sf_num!r}")
        if not isinstance(prior.get("queries"), dict):
            sys.exit(f"BENCH_PRIOR_FILE {path!r} has no per-query map")
        return prior["queries"]
    candidates = [os.path.join(REPO_ROOT, "bench_result.json")] + sorted(
        glob.glob(os.path.join(REPO_ROOT, "BENCH_r*.json"))
    )[::-1]
    for cand in candidates:
        prior = _read_json_dict(cand)
        # a prior whose top level isn't an object (list, string, …)
        # is just as unreadable as bad JSON — skip, don't crash the
        # bench after the timing loop already ran
        if prior is None:
            continue
        if prior.get("sf") == sf_num and isinstance(prior.get("queries"), dict):
            return prior["queries"]
    return {}


def _prior_file_sf():
    """The sf recorded in the canonical bench_result.json, or None if
    the file is absent/unreadable. A full-set run at a DIFFERENT sf
    (e.g. an sf0.001 smoke) must not replace a canonical prior of
    another sf — that clobber silently disables the outlier-rerun
    protocol for the sf the file actually tracked."""
    prior = _read_json_dict(os.path.join(REPO_ROOT, "bench_result.json"))
    return prior.get("sf") if prior is not None else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num: float | str = float(sf)
    except ValueError:
        sf_num = sf

    from dask_felleskomponenter_spark.plans import QUERIES
    from dask_felleskomponenter_spark.session import get_spark

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
    if os.environ.get("BENCH_PRIOR_FILE"):
        # validate the explicit prior NOW (load_prior exits loudly on
        # an unusable one) — not after the timing loop already ran
        load_prior(sf_num)
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

    # Idle gate (round-6 protocol defect: a canonical prior captured on
    # a hot box — 139.1s vs the same code's 101.9s — ratchets the
    # outlier detector's baseline up and masks later real regressions,
    # and isolated re-runs taken hot ran HOTTER than the sampled pass).
    # A hot start still runs and prints the full result, but it may not
    # claim bench_result.json and the isolated-rerun verdicts are
    # skipped as meaningless.
    try:
        load_start = os.getloadavg()[0]
    except OSError:  # non-unix fallback: never gate
        load_start = 0.0
    raw_max_load = os.environ.get("BENCH_MAX_LOAD", "2.0").strip()
    try:
        max_load = float(raw_max_load)
    except ValueError:
        # same pre-run validation contract as BENCH_REPEATS: a typo'd
        # env must die with a clear message, not a traceback
        sys.exit(f"BENCH_MAX_LOAD must be a number, got {raw_max_load!r}")
    hot_box = load_start > max_load
    if hot_box:
        print(
            f"bench: 1-min load {load_start:.1f} > {max_load:.1f} at start "
            f"— hot box: result will not claim the canonical prior and "
            f"outlier re-runs happen in-process instead of in isolated "
            f"subprocesses",
            file=sys.stderr,
        )

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

    timings: dict[str, float] = {}
    for rnd in range(repeats):
        for name in names:
            fn = QUERIES[name]
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - start, 3)
            # `name not in timings`, not `rnd == 0`: duplicate names in
            # BENCH_QUERIES would otherwise let a later slower round-0
            # run overwrite an earlier faster one, breaking min-of-N
            if name not in timings or elapsed < timings[name]:
                timings[name] = elapsed
        # Drop any cached state between passes so every pass measures
        # cold plans.
        spark.catalog.clearCache()

    # Sample the END loadavg HERE, right after the timing loop: sampling
    # after the isolated-rerun subprocesses would measure the bench's
    # OWN 32-core children, falsely flagging every rerun-bearing run as
    # a contended box (round-9 review) — the provenance field exists to
    # attribute drift to AMBIENT load.
    try:
        load_end = os.getloadavg()[0]
    except OSError:
        load_end = 0.0

    # Plan-hash pass AFTER the timing loop (compiling the plan costs
    # ~10-100ms/query and must not sit inside the timed region): the
    # hash makes a timing drift attributable — same hash across rounds
    # means the plan didn't change, so the drift is environmental.
    hashes = {name: plan_hash(QUERIES[name](spark, sf_dir)) for name in names}

    # Outlier protocol (round-5 lesson: per-query "regressions" of
    # 1.5-2x under neighbor load all vanished in isolation): any query
    # >1.3x its prior-round time at the same sf is re-run ALONE in a
    # fresh interpreter+JVM via a subprocess, min-of-3. BOTH numbers are
    # reported under isolated_reruns, but the canonical "queries" map
    # keeps the in-set number: recording min(contended, isolated) would
    # ratchet the prior down to best-case isolated figures and re-flag
    # the same queries as outliers under normal load every round —
    # in-set-vs-in-set comparisons keep the provenance uniform.
    reruns: dict[str, dict[str, object]] = {}
    prior = {} if os.environ.get("BENCH_NO_RERUN") else load_prior(sf_num)
    # worst drift FIRST: the rerun budget is capped below, and silently
    # dropping the biggest regression while re-timing mild ones would
    # read as "covered" exactly where coverage matters most
    outliers = sorted(
        (
            n
            for n in names
            if n in prior and prior[n] > 0 and timings[n] > 1.3 * prior[n]
        ),
        key=lambda n: timings[n] / prior[n],
        reverse=True,
    )
    skipped_outliers = outliers[8:]
    spark_stopped = False
    if hot_box:
        # In-process re-time (round-10 protocol: four consecutive driver
        # runs fired hot, and the old behavior — skip the protocol
        # entirely — left the official record noise-dominated with zero
        # attribution). Subprocess isolation can't help here (the child
        # inherits the contention and measured HOTTER than the sampled
        # pass), but three more in-session passes LATER IN TIME separate
        # a transient neighbor spike (isolated min recovers toward the
        # prior) from genuine code cost (it doesn't).
        for name in outliers[:8]:
            best = None
            for _ in range(3):
                start = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                elapsed = round(time.perf_counter() - start, 3)
                if best is None or elapsed < best:
                    best = elapsed
                spark.catalog.clearCache()
            reruns[name] = {
                "sampled": timings[name],
                "isolated": best,
                "prior": prior[name],
                "mode": "inprocess_hot",
            }
    else:
        if outliers:
            spark.stop()  # free the 32 local cores for the isolated child
            spark_stopped = True
        for name in outliers[:8]:  # bound the extra wall-clock
            child_out = os.path.join(REPO_ROOT, f".bench_rerun_{name}.json")
            env = dict(
                os.environ,
                BENCH_QUERIES=name,
                BENCH_REPEATS="3",
                BENCH_NO_RERUN="1",
                BENCH_RESULT_FILE=child_out,
            )
            try:
                subprocess.run(
                    [sys.executable, os.path.abspath(__file__)],
                    env=env,
                    capture_output=True,
                    timeout=600,
                    check=True,
                )
                with open(child_out) as fh:
                    isolated = json.load(fh)["queries"][name]
            except Exception:
                continue  # keep the contended number; the rerun is advisory
            finally:
                try:
                    os.remove(child_out)
                except OSError:
                    pass
            reruns[name] = {
                "sampled": timings[name],
                "isolated": isolated,
                "prior": prior[name],
                "mode": "isolated_subprocess",
            }

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "declared_query_set_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
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
    if hot_box:
        result["hot_box"] = True
    if reruns:
        result["isolated_reruns"] = reruns
    if skipped_outliers:
        result["outliers_not_rerun"] = skipped_outliers
    # Full result: one line to stdout AND a file — the harness that
    # invokes this script captures only a bounded TAIL of the output,
    # and with 100+ queries the full line exceeds it (the head, with
    # the total, gets cut). The file is the durable record.
    full_line = json.dumps(result)
    print(full_line)
    # bench_result.json is the CANONICAL PRIOR the outlier protocol
    # reads — only a full-set run may claim it by default. A subset or
    # off-sf run overwriting it would hand the next full run a partial
    # or sf-mismatched map, silently disabling the rerun protocol;
    # such runs write nowhere unless BENCH_RESULT_FILE says where.
    prior_sf = _prior_file_sf()
    result_file = os.environ.get("BENCH_RESULT_FILE") or (
        os.path.join(REPO_ROOT, "bench_result.json")
        if not wanted and prior_sf in (None, sf_num) and not hot_box
        else None
    )
    if result_file:
        try:
            # atomic tmp+replace: a bare open('w') truncates FIRST, so
            # a crash/ENOSPC mid-write would destroy the previous good
            # canonical prior and silently disable the outlier protocol
            from dask_felleskomponenter_spark.ioutil import atomic_json_dump

            atomic_json_dump(result_file, result)
        except OSError as e:
            if os.environ.get("BENCH_RESULT_FILE"):
                # an EXPLICITLY requested durable record must not
                # silently evaporate (the stdout line is tail-truncated
                # at 100+ queries; the child-rerun parent also reads
                # this file)
                sys.exit(f"cannot write BENCH_RESULT_FILE "
                         f"{result_file!r}: {e}")
            print(f"bench: could not write {result_file!r}: {e}",
                  file=sys.stderr)
    # LAST line: a compact summary sized to survive a ~2000-char tail
    # capture — the headline total plus the slowest queries (the ones
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
        "n_isolated_reruns": len(reruns),
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
    if not spark_stopped:  # hot in-process reruns keep the session live
        spark.stop()


if __name__ == "__main__":
    main()
