"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload lakehouse_sql --seed 1 --seconds 12 --trace 0

Workloads: ``lakehouse_sql``, ``corpus_pipeline``, ``publish_ingest``
(see ``workloads.py``). With ``--trace 0`` the run measures the
end-to-end metrics; with ``--trace 1`` it alternates untraced and traced
passes and reports the per-layer metrics of ``layers.LAYER_MAP`` plus the
tracing overhead. Standard output carries one detailed JSON record
(every metric with its unit and sample count, the correctness verdict,
the run's provenance and, traced, every span) and then, as the last
line, the summary ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes to ``.perfbench_work/`` under the current
directory and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

#: name -> unit of the end-to-end metrics in the summary line. The tail
#: latency is in the detailed record only: with 3-10 operations a run it
#: is the slowest operation's time, too unsteady from run to run to gate
#: a change on.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "cpu_s": "s",
    "rss_peak_mb": "MiB",
}


def _library_present() -> bool:
    """The library must come from this checkout, not from elsewhere."""
    try:
        import dask_felleskomponenter_spark.plans as plans
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}", file=sys.stderr)
        return False
    where = os.path.abspath(plans.__file__)
    if not where.startswith(REPO + os.sep):
        print(f"perfbench: library found outside the checkout: {where}",
              file=sys.stderr)
        return False
    return True


def _loadavg() -> float:
    return os.getloadavg()[0]


def _git_head() -> str | None:
    """HEAD commit read from ``.git`` without running git; None when the
    checkout is not a repository."""
    git = os.path.join(REPO, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(git, head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return None


def end_to_end(res) -> dict:
    """Name -> {value, unit, samples[, percentile]} for every end-to-end
    metric, plus the workload-specific ones of the detailed record.

    Each operation (a query or a publish batch) runs once per pass; its
    latency is its best over the passes, and ``pass_s`` sums those best
    latencies over the operation list. The best of a few passes is the
    latency estimate least disturbed by other load on the host and by the
    JIT still settling in early passes. CPU is the mean over the timed
    passes: the JIT's own compile threads are part of it, and their share
    falls pass by pass, so the mean varies less from run to run than the
    lowest pass does."""
    import stats

    best = res.op_best
    p, tail = stats.tail(list(best.values()))
    setup_s = sum(v for k, v in res.setup.items() if k.endswith("_s"))
    kind = res.op_kind
    n_pass = len(res.pass_s)
    out = {
        "setup_s": {"value": setup_s, "unit": "s", "samples": 1},
        "pass_s": {"value": sum(best.values()), "unit": "s", "samples": n_pass},
        f"{kind}_p50_s": {"value": stats.median(best.values()), "unit": "s",
                          "samples": len(best), "passes": n_pass},
        f"{kind}_tail_s": {"value": tail, "unit": "s", "samples": len(best),
                           "passes": n_pass, "percentile": p},
        "cpu_s": {"value": sum(res.pass_cpu_s) / n_pass, "unit": "s",
                  "samples": n_pass, "per": "pass"},
        "rss_peak_mb": {"value": res.rss_peak_mb, "unit": "MiB", "samples": 1},
        "failed_frac": {"value": res.failed / max(1, res.attempted),
                        "unit": "ratio", "samples": res.attempted},
    }
    for name, unit in (("write_amp", "ratio"), ("rows_per_s", "1/s")):
        if name in res.extra:
            out[name] = {"value": res.extra[name], "unit": unit,
                         "samples": n_pass}
    return out


def summary_metrics(e2e: dict, kind: str) -> dict:
    """The summary line's end-to-end metrics (``op`` = query or batch)."""
    alias = {"op_p50_s": f"{kind}_p50_s"}
    return {
        name: {"value": e2e[alias.get(name, name)]["value"], "unit": unit}
        for name, unit in END_TO_END.items()
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=("lakehouse_sql", "corpus_pipeline", "publish_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float,
                    help="scale factor of the generated inputs "
                         "(default: workloads.SF)")
    args = ap.parse_args(argv)

    if not _library_present():
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    import layers
    import session
    import workloads

    cores = session.cpu_count()
    load_start = _loadavg()
    run = session.RunDir(f"{args.workload}-{args.seed}")
    session.isolate_env(run, cores)
    spark = None
    try:
        spark, session_s = session.start_session(run)
        setup = {"session_s": session_s}
        sf = args.sf or workloads.SF
        if args.workload == "publish_ingest":
            res = workloads.run_publish(spark, run, args.seed, args.seconds,
                                        bool(args.trace), setup, sf)
        else:
            res = workloads.run_read(args.workload, spark, run, args.seed,
                                     args.seconds, bool(args.trace), setup, sf)
        tracer = res.tracer
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        session.stop(spark)
        run.close()

    e2e = end_to_end(res)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "operations": res.ops,
        "end_to_end": e2e,
        "setup_parts_s": res.setup,
        "passes_s": res.pass_s,
        "passes_cpu_s": res.pass_cpu_s,
        "op_best_s": res.op_best,
        "warmup_op_s": res.extra.get("warmup_op_s"),
        "correct": res.failed == 0 and not res.failures,
        "attempted": res.attempted,
        "failed": res.failed,
        "failures": res.failures[:20],
        "gate": res.extra.get("gate"),
        "provenance": {
            "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "git_head": _git_head(),
            **versions,
        },
    }
    if args.trace:
        record["per_layer"] = layers.per_layer(tracer, res)
        record["self_s_by_layer"] = layers.self_time_by_layer(tracer, res)
        record["spans"] = tracer.records()
        metrics = {
            name: {"value": record["per_layer"][name], "unit": unit}
            for name, (unit, _) in layers.LAYER_MAP.items()
        }
    else:
        metrics = summary_metrics(e2e, res.op_kind)
    print(json.dumps(record))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
