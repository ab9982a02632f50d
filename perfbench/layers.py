"""Per-layer metrics, computed from the spans of the traced passes.

``LAYER_MAP`` is the contract later changes cite: each per-layer metric,
its unit, and the end-to-end metric it should move on which workload
(the read workloads are ``corpus_pipeline`` and ``lakehouse_sql``; the
tail latencies ``query_tail_s``/``batch_tail_s`` are in the detailed record).
Every time and count is a total per traced pass unless its unit says
otherwise; a layer that does no work on a workload reads 0 there.
"""

from __future__ import annotations

import statistics

#: name -> (unit, "moves <end-to-end metric> on <workload>")
LAYER_MAP = {
    "plans.build_s": ("s", "op_p50_s and pass_s on corpus_pipeline; op_p50_s on lakehouse_sql"),
    "plans.build_jobs": ("count", "pass_s on corpus_pipeline; 0 on lakehouse_sql"),
    "plans.build_cpu_s": ("s", "pass_s and cpu_s on corpus_pipeline; 0 on lakehouse_sql"),
    "engine.compile_s": ("s", "op_p50_s on the read workloads; 0 on publish_ingest"),
    "engine.execute_s": ("s", "pass_s on the read workloads; 0 on publish_ingest"),
    "engine.jobs": ("count", "pass_s on all workloads"),
    "engine.stages": ("count", "pass_s on all workloads"),
    "engine.tasks": ("count", "pass_s on all workloads"),
    "engine.executor_run_s": ("s", "pass_s on all workloads"),
    "engine.executor_cpu_s": ("s", "cpu_s on all workloads"),
    "engine.gc_s": ("s", "the tail latency and rss_peak_mb on all workloads"),
    "engine.spill_mb": ("MiB", "the tail latency and rss_peak_mb on all workloads"),
    "engine.shuffle_read_mb": ("MiB", "pass_s on corpus_pipeline"),
    "engine.shuffle_write_mb": ("MiB", "pass_s on corpus_pipeline"),
    "engine.input_mb": ("MiB", "write_amp on publish_ingest"),
    "engine.output_mb": ("MiB", "write_amp on publish_ingest"),
    "engine.failed_tasks": ("count", "failed_frac on all workloads"),
    "engine.persisted_rdds": ("count", "rss_peak_mb on the read workloads"),
    "functions.python_stages": ("count", "pass_s and query_tail_s on corpus_pipeline; 0 elsewhere"),
    "functions.python_gap_s": ("s", "pass_s and query_tail_s on corpus_pipeline; 0 elsewhere"),
    "operators.calls": ("count", "pass_s on corpus_pipeline; op_p50_s on publish_ingest"),
    "operators.call_s": ("s", "pass_s on corpus_pipeline; op_p50_s on publish_ingest"),
    "operators.eager_jobs": ("count", "pass_s on corpus_pipeline; op_p50_s on publish_ingest"),
    "sources.load_table_calls": ("count", "plans.build_s on the read workloads"),
    "sources.load_table_s": ("s", "plans.build_s on the read workloads"),
    "sources.screen_s": ("s", "op_p50_s and batch_tail_s on publish_ingest"),
    "sources.record_s": ("s", "op_p50_s and batch_tail_s on publish_ingest"),
    "sources.compact_s": ("s", "op_p50_s and batch_tail_s on publish_ingest"),
    "sources.history_files": ("count", "op_p50_s and batch_tail_s on publish_ingest"),
    "sync.merge_s": ("s", "write_amp and op_p50_s on publish_ingest"),
    "sync.merge_jobs": ("count", "write_amp and op_p50_s on publish_ingest"),
    "sync.output_mb": ("MiB", "write_amp and op_p50_s on publish_ingest"),
    "sync.rewrite_ratio": ("ratio", "write_amp and op_p50_s on publish_ingest"),
    "governance.validate_s": ("s", "op_p50_s on publish_ingest"),
    "governance.jobs": ("count", "op_p50_s on publish_ingest"),
    "session.start_s": ("s", "setup_s on all workloads"),
    "session.warmup_s": ("s", "setup_s on all workloads"),
    "trace.overhead_frac": ("ratio", "none: traced over untraced operation latency, minus 1"),
}


def _under(tracer, spans):
    """``spans`` and all their descendants, each once."""
    out = {}
    for s in spans:
        out[s.sid] = s
        for d in tracer.descendants(s):
            out[d.sid] = d
    return list(out.values())


def traced_passes(res) -> float:
    """How many passes' worth of operations were traced."""
    return sum(t for _, _, t in res.op_log) / max(1, len(res.ops))


def overhead(res) -> float:
    """Traced over untraced latency, minus one: per operation the median
    of each side, summed over the operations seen both ways."""
    by_op: dict[str, tuple[list, list]] = {}
    for name, s, traced in res.op_log:
        by_op.setdefault(name, ([], []))[traced].append(s)
    both = [(u, t) for u, t in by_op.values() if u and t]
    if not both:
        return 0.0
    return (sum(statistics.median(t) for _, t in both)
            / sum(statistics.median(u) for u, _ in both) - 1)


def per_layer(tracer, res) -> dict[str, float]:
    """The ``LAYER_MAP`` metrics of a traced run."""
    spans = [s for s in tracer.spans if s.layer != "run"]
    n = traced_passes(res) or 1.0

    def named(layer, name=None):
        return [s for s in spans if s.layer == layer and (name is None or s.name == name)]

    def dur(ss):
        return sum(s.duration for s in ss) / n

    def total(ss, key):
        return sum(s.metrics[key] for s in _under(tracer, ss)) / n

    build, merge = named("plans", "build"), named("sync", "merge")
    ops = named("op")
    out = {
        "plans.build_s": dur(build),
        "plans.build_jobs": total(build, "jobs"),
        "plans.build_cpu_s": total(build, "cpu_s"),
        "engine.compile_s": dur(named("engine", "compile")),
        "engine.execute_s": dur(named("engine", "execute")) - dur(named("engine", "compile")),
        "engine.jobs": total(ops, "jobs"),
        "engine.stages": total(ops, "stages"),
        "engine.tasks": total(ops, "tasks"),
        "engine.executor_run_s": total(ops, "run_s"),
        "engine.executor_cpu_s": total(ops, "cpu_s"),
        "engine.gc_s": total(ops, "gc_s"),
        "engine.spill_mb": total(ops, "spill_mb"),
        "engine.shuffle_read_mb": total(ops, "shuffle_read_mb"),
        "engine.shuffle_write_mb": total(ops, "shuffle_write_mb"),
        "engine.input_mb": total(ops, "input_mb"),
        "engine.output_mb": total(ops, "output_mb"),
        "engine.failed_tasks": total(ops, "failed_tasks"),
        "engine.persisted_rdds": res.extra.get("persisted_rdds", 0) / n,
        "functions.python_stages": total(ops, "python_stages"),
        "functions.python_gap_s": total(ops, "python_gap_s"),
        "operators.calls": len(named("operators")) / n,
        "operators.call_s": dur(named("operators")),
        "operators.eager_jobs": total(named("operators"), "jobs"),
        "sources.load_table_calls": len(named("sources", "load_table")) / n,
        "sources.load_table_s": dur(named("sources", "load_table")),
        "sources.screen_s": dur(named("sources", "screen")),
        "sources.record_s": dur(named("sources", "record")),
        "sources.compact_s": dur(named("sources", "compact")),
        "sources.history_files": res.extra.get("history_files", 0),
        "sync.merge_s": dur(merge),
        "sync.merge_jobs": total(merge, "jobs"),
        "sync.output_mb": total(merge, "output_mb"),
        "sync.rewrite_ratio": (
            total(merge, "output_rows") / res.extra["cdc_rows"]
            if res.extra.get("cdc_rows") else 0.0
        ),
        "governance.validate_s": dur(named("governance", "validate")),
        "governance.jobs": total(named("governance"), "jobs"),
        "session.start_s": res.setup.get("session_s", 0.0),
        "session.warmup_s": res.setup.get("warmup_s", 0.0),
        "trace.overhead_frac": overhead(res),
    }
    return out


def self_time_by_layer(tracer, res) -> dict[str, float]:
    """Self time per layer, per traced pass. The run spans are left out:
    their self time is mostly the untraced operations."""
    n = traced_passes(res) or 1.0
    out: dict[str, float] = {}
    for rec in tracer.records():
        if rec["layer"] != "run":
            out[rec["layer"]] = out.get(rec["layer"], 0.0) + rec["self_s"] / n
    return out
