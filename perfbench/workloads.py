"""The three workloads, each one client in a closed loop.

Every timed operation goes through the library's public entry points:
``plans.QUERIES[name](spark, sf_dir)`` ending in a noop sink for the
read workloads, and the ``sync`` / ``sources`` / ``governance`` write
APIs for ``publish_ingest``. A run sets up (session, inputs, a warm-up
pass whose outputs the correctness gate checks), then runs whole passes
over its operation list until ``--seconds`` have passed (at least
``MIN_PASSES``). In a traced run every other operation is traced (see
``Loop``); the untraced ones give the tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import gate
import procstat
from instrument import instrumented
from session import cpu_count
from spans import Tracer, group_totals

HERE = os.path.dirname(os.path.abspath(__file__))

# Sizes keep a run near 50 s on 4 cores: set-up (session, cold warm-up)
# is about 22 s of it, and a benchmark round runs every workload 22
# times. Passes take 5-9 s, so four of them outlast a 15 s ``--seconds``
# and every run measures the same number of passes: a time-based count
# gave slow runs fewer passes, and the JIT is still speeding passes up at
# the fourth, so runs with fewer passes read slower still.
MIN_PASSES = 4

#: Scale factor of the generated inputs (``lineitem`` = 6M x SF rows).
SF = 0.01

#: The read workloads' queries: a fixed sample of the declared queries,
#: picked by their plans at sf0.01 on 4 cores. ``lakehouse_sql`` plans
#: read only the star schema and ``events``; ``corpus_pipeline`` plans
#: read ``documents``/``embeddings``. Within each, the picks spread over
#: plain-JVM plans and plans with a Python exec node (in proportion to
#: how many declared queries have each) and over warm-time strata:
#: 0.2-0.8 s for lakehouse_sql, 0.3-1.7 s for corpus_pipeline. Queries
#: that build or read the ANN store are left out: the store build alone
#: takes about 30 s on 4 cores. All have oracles.
QUERY_SETS = {
    "lakehouse_sql": (
        "agg_orders_stats", "date_fns_events", "join_left_outer_counts",
        "q11_important_parts", "q16_supplier_count_by_part",
        "q21_single_blame_supplier", "robust_stats_lineitem",
        "set_except_inactive", "str_to_map_event_kv", "variant_fns_events",
    ),
    "corpus_pipeline": (
        "dedup_exact_docs", "fuzzy_blocked_match", "mixture_temperature_sample",
        "pii_redact_profile",
        "multimodal_audio_profile", "semantic_cluster_assign",  # Python exec nodes
    ),
}

#: publish_ingest shape: batches per pass, compaction cadence, rows.
N_BATCHES = 3
COMPACT_EVERY = 2
CDC_FRACTION = 0.01
DOCS_PER_BATCH = 200


def query_order(workload: str, seed: int) -> list[str]:
    """The read workload's query list for ``seed``: the same queries for
    every seed, so different seeds measure the same work; the seed
    shapes the order (and the generated data)."""
    names = list(QUERY_SETS[workload])
    random.Random(seed).shuffle(names)
    return names


@dataclass
class Result:
    """What a run measured; ``run.py`` turns it into the report."""

    op_kind: str
    setup: dict = field(default_factory=dict)
    op_log: list = field(default_factory=list)  # (name, seconds, traced)
    pass_s: list = field(default_factory=list)
    pass_cpu_s: list = field(default_factory=list)
    rss_peak_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    ops: list = field(default_factory=list)
    tracer: Tracer | None = None

    @property
    def op_best(self) -> dict[str, float]:
        """Each operation's best latency over the passes."""
        best: dict[str, float] = {}
        for name, s, _ in self.op_log:
            best[name] = min(s, best.get(name, s))
        return best


class Loop:
    """Closed-loop pass driver shared by the workloads.

    In a traced run every other operation is traced, shifted by one each
    pass, so each operation is seen traced and untraced equally often
    and at the same positions; comparing the two gives the overhead."""

    def __init__(self, spark, seconds: float, trace: bool):
        self.spark = spark
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(spark, enabled=trace)
        self.pid = os.getpid()
        self.sampler = procstat.RssSampler(self.pid)
        self.k = self.i = 0  # pass index, operation index in the pass
        self.cpu_acc = self.pass_acc = 0.0  # the current pass's totals
        self.persisted = 0  # persisted-RDD growth over traced operations

    def op(self, res: Result, name: str, body) -> bool:
        """Run one timed operation, ``body(traced)``, and record its
        latency; a failure is recorded instead of raised. Returns whether
        it completed."""
        traced = self.trace and (self.i + self.k) % 2 == 1
        self.i += 1
        jsc = self.spark.sparkContext._jsc
        before = jsc.getPersistentRDDs().size() if traced else 0
        c0 = procstat.cpu_seconds(self.pid)
        t0 = time.perf_counter()
        res.attempted += 1
        try:
            if traced:
                with self.tracer.span("op", name):
                    body(True)
            else:
                body(False)
        except Exception:  # one failed operation must not end the run
            res.failed += 1
            res.failures.append({"op": name, "error": traceback.format_exc(limit=3)})
            traceback.print_exc(file=sys.stderr)
            return False
        finally:
            took = time.perf_counter() - t0
            self.cpu_acc += procstat.cpu_seconds(self.pid) - c0
            self.pass_acc += took
            res.op_log.append((name, took, traced))
            if traced:
                self.persisted += jsc.getPersistentRDDs().size() - before
        return True

    def passes(self, res: Result, run_pass) -> None:
        """Run ``run_pass()`` until the time is up (at least
        ``MIN_PASSES`` times); a pass's time is its operations' summed
        latency."""
        deadline = time.perf_counter() + self.seconds
        with self.sampler:
            self.sampler.reset()
            while (self.k < MIN_PASSES or time.perf_counter() < deadline
                   or self.trace and self.k % 2):  # traced: each op equally often
                self.i = 0
                self.cpu_acc = self.pass_acc = 0.0
                with self.tracer.span("run", f"pass_{self.k}"):
                    run_pass()
                self.tracer.harvest()
                res.pass_s.append(self.pass_acc)
                res.pass_cpu_s.append(self.cpu_acc)
                self.k += 1
        res.rss_peak_mb = self.sampler.peak_mb
        res.extra["persisted_rdds"] = self.persisted
        res.tracer = self.tracer


# --- read workloads ------------------------------------------------------

def run_read(workload: str, spark, run, seed: int, seconds: float, trace: bool,
             setup: dict, sf: float) -> Result:
    from dask_felleskomponenter_spark.plans import ORACLES, QUERIES

    res = Result("query", setup=setup)
    sf_dir = run.sub("data")
    t0 = time.perf_counter()
    datagen.generate(sf_dir, seed, sf)
    setup["input_s"] = time.perf_counter() - t0
    names = query_order(workload, seed)
    res.ops = names

    # the gate's oracles run before the warm-up, outside set-up time
    con = gate.duck_connection(sf_dir)
    want = {n: gate.oracle_hash(con, ORACLES[n]) for n in names if n in ORACLES}
    con.close()

    # warm-up pass, spread over the cores: the cold run of each query is
    # mostly driver-side compilation. Only the Spark side is timed; the
    # outputs are checked afterwards.
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=min(4, cpu_count())) as pool:
        outputs = dict(zip(names, pool.map(
            lambda n: gate.collect_query(spark, sf_dir, n), names)))
    setup["warmup_s"] = time.perf_counter() - t0
    spark.catalog.clearCache()
    res.extra["warmup_op_s"] = {n: o["cold_s"] for n, o in outputs.items()}
    checks = {n: gate.check_query(outputs.pop(n), want.get(n)) for n in names}
    verdict = {n: c["ok"] for n, c in checks.items()}
    rows_only = {n: c["rows"] for n, c in checks.items() if c["rows_only"]}
    res.failures.extend({"op": n, "error": c["error"]}
                        for n, c in checks.items() if c["error"])

    loop = Loop(spark, seconds, trace)

    def query_body(name):
        fn = QUERIES[name]

        def body(traced):
            if not traced:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                return
            tr = loop.tracer
            with tr.span("plans", "build"):
                df = fn(spark, sf_dir)
            # planning happens inside the write; harvest() splits it out
            with tr.span("engine", "execute"):
                df.write.format("noop").mode("overwrite").save()
        return body

    def run_pass():
        for name in names:
            if loop.op(res, name, query_body(name)) and not verdict[name]:
                res.failed += 1  # a wrong output counts on every run of it
        spark.catalog.clearCache()

    with instrumented(loop.tracer):
        loop.passes(res, run_pass)

    # rows-only queries: same non-zero row count again after the timed passes
    for name, n in rows_only.items():
        try:
            again = len(QUERIES[name](spark, sf_dir).collect())
        except Exception as exc:  # reported like a wrong count
            again = repr(exc)
        if again != n:
            res.failed += 1
            res.failures.append({"op": name, "error": f"row count {n} then {again}"})
    res.extra["gate"] = {n: ("ok" if v else "WRONG") for n, v in verdict.items()}
    return res


# --- publish_ingest ------------------------------------------------------

TARGET_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")


def make_publish_inputs(root: str, seed: int, sf: float) -> dict:
    """Seeded publish inputs: the initial target (``orders``), CDC
    batches and document batches, as parquet files under ``root``.

    The seed draws the insert/update/delete mix, which keys change, the
    new values, and the share of documents that repeat earlier ones."""
    rng = np.random.default_rng(seed)
    tables = datagen.make_tables(seed, sf)
    orders = tables["orders"].select(list(TARGET_COLS))
    pq.write_table(orders, os.path.join(root, "orders.parquet"))
    live = dict(zip(orders.column("o_orderkey").to_pylist(),
                    zip(*(orders.column(c).to_pylist() for c in TARGET_COLS))))
    initial = dict(live)
    next_key = max(live) + 1
    p_delete, p_insert = rng.uniform(0.1, 0.3), rng.uniform(0.2, 0.4)
    dup_share = rng.uniform(0.2, 0.4)
    n_cdc = max(10, int(CDC_FRACTION * len(live)))
    vocab = np.asarray(datagen.VOCAB, dtype=object)
    history_texts: list[str] = []
    doc_id = 0
    batches = []
    for b in range(N_BATCHES):
        kinds = rng.choice(["delete", "insert", "update"], n_cdc,
                           p=[p_delete, p_insert, 1 - p_delete - p_insert])
        snapshot = dict(live)
        keys = list(snapshot)
        existing = rng.choice(len(keys), n_cdc, replace=False)
        cdc = []
        for kind, idx in zip(kinds, existing):
            if kind == "insert":
                key, next_key = next_key, next_key + 1
            else:
                key = keys[idx]
            base = snapshot[keys[idx]]  # source of the unchanged columns
            row = (key, int(rng.integers(0, 1000)), str(rng.choice(["F", "O", "P"])),
                   float(np.round(rng.uniform(1000, 500000), 2)), base[4], base[5])
            cdc.append((key, str(kind), row))
            gate.replay_merge(live, [(key, str(kind), row)])
        cdc_path = os.path.join(root, f"cdc_{b:03d}.parquet")
        cols = list(zip(*(r for _, _, r in cdc)))
        pq.write_table(pa.table(
            {c: pa.array(v, orders.schema.field(c).type) for c, v in zip(TARGET_COLS, cols)}
            | {"update_type": pa.array([k for _, k, _ in cdc])}
        ), cdc_path)
        texts = []
        for _ in range(DOCS_PER_BATCH):
            if history_texts and rng.random() < dup_share:
                texts.append(history_texts[int(rng.integers(0, len(history_texts)))])
            else:
                texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
        history_texts.extend(texts)
        docs_path = os.path.join(root, f"docs_{b:03d}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(range(doc_id, doc_id + len(texts)), pa.int64()),
            "text": pa.array(texts),
        }), docs_path)
        doc_id += len(texts)
        batches.append({"cdc": cdc_path, "docs": docs_path, "changes": cdc, "texts": texts,
                        "bytes": os.path.getsize(cdc_path) + os.path.getsize(docs_path)})
    return {"orders": os.path.join(root, "orders.parquet"), "initial": initial,
            "batches": batches,
            "mix": {"delete": p_delete, "insert": p_insert, "dup_share": dup_share}}


GOLD_TAGS = {
    "tittel": "orders",
    "tilgangsnivaa": "http://publications.europa.eu/resource/authority/access-right/PUBLIC",
    "medaljongnivaa": "gold",
    "hovedkategori": "https://register.geonorge.no/metadata-kodelister/tematisk-hovedkategori/farming",
    "begrep": "https://register.geonorge.no/metadata-kodelister/nasjonal-temainndeling/Samfunnssikkerhet",
    "epsg_koder": "25835",
    "emneord": "bruksomraade",
    "sikkerhetsnivaa": "https://register.geonorge.no/metadata-kodelister/sikkerhetsnivaa/unclassified_sensitive",
}


def run_publish(spark, run, seed: int, seconds: float, trace: bool, setup: dict,
                sf: float) -> Result:
    from dask_felleskomponenter_spark.governance import (
        TblPropertiesMetadataStore,
        validate_table,
    )
    from dask_felleskomponenter_spark.sources import compact_history, dedup_against_history
    from dask_felleskomponenter_spark.sources.dedup_store import record_novel
    from dask_felleskomponenter_spark.sync import merge_into_path

    res = Result("batch", setup=setup)
    t0 = time.perf_counter()
    inp = make_publish_inputs(run.sub("data"), seed, sf)
    setup["input_s"] = time.perf_counter() - t0
    res.extra["mix"] = inp["mix"]
    res.ops = [f"batch_{b}" for b in range(N_BATCHES)]

    target = os.path.join(run.sub("target"), "orders_pub")
    corpus = os.path.join(run.sub("target"), "corpus")
    history = "perfbench.doc_history"
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    store = TblPropertiesMetadataStore(spark)
    loop = Loop(spark, seconds, trace)
    tr = loop.tracer

    def reset():
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(corpus, ignore_errors=True)
        os.makedirs(target)
        shutil.copy(inp["orders"], os.path.join(target, "part-0.parquet"))
        spark.sql(f"DROP TABLE IF EXISTS {history}")
        shutil.rmtree(os.path.join(run.sub("warehouse"), "perfbench.db", "doc_history"),
                      ignore_errors=True)

    t0 = time.perf_counter()
    spark.sql("CREATE DATABASE IF NOT EXISTS perfbench")
    reset()
    spark.sql(f"CREATE TABLE perfbench.orders_pub USING parquet LOCATION '{target}'")
    store.set_tags("perfbench", "orders_pub", GOLD_TAGS)
    store.set_comment("perfbench", "orders_pub", "orders published by the benchmark")
    setup["tables_s"] = time.perf_counter() - t0

    def span(layer, name, traced):
        return tr.span(layer, name) if traced else contextlib.nullcontext()

    def batch_body(b, outcome):
        bt = inp["batches"][b]

        def body(traced):
            with span("sync", "merge", traced):
                merge_into_path(target, spark.read.parquet(bt["cdc"]), ["o_orderkey"])
            with span("sources", "screen", traced):
                novel = dedup_against_history(
                    spark, spark.read.parquet(bt["docs"]), "doc_id", "text", history,
                    batch_label=f"b{b}", n_buckets=n_buckets, update=False)
                novel.write.parquet(os.path.join(corpus, f"b{b}"))
            with span("sources", "record", traced):
                record_novel(spark.read.parquet(os.path.join(corpus, f"b{b}")),
                             "doc_id", history, f"b{b}", n_buckets)
            if b % COMPACT_EVERY == COMPACT_EVERY - 1:
                with span("sources", "compact", traced):
                    compact_history(spark, history, n_buckets)
            with span("governance", "validate", traced):
                store.set_tags("perfbench", "orders_pub", {"publisert_batch": str(b)})
                md = store.get_table_metadata("spark_catalog", "perfbench", "orders_pub")
                outcome["errors"] = validate_table(md)
                outcome["tag"] = md.optional_params.get("publisert_batch")
        return body

    def check_batch(b, live, seen) -> list[str]:
        """Replay batch ``b`` and compare; returns the mismatches."""
        bt = inp["batches"][b]
        bad = []
        gate.replay_merge(live, bt["changes"])
        got = pq.read_table(target).select(list(TARGET_COLS)).sort_by("o_orderkey")
        want = sorted(live.values())
        if list(zip(*(got.column(c).to_pylist() for c in TARGET_COLS))) != want:
            bad.append(f"target differs from replay after batch {b}")
        n_novel = pq.read_table(os.path.join(corpus, f"b{b}")).num_rows
        n_want = gate.replay_novel(seen, bt["texts"])
        if n_novel != n_want:
            bad.append(f"batch {b}: {n_novel} novel documents, replay says {n_want}")
        return bad

    history_files = []

    def run_pass(timed=True) -> float:
        """One pass over the batches, each checked after it ran; returns
        the summed time of the batches when untimed (the warm-up)."""
        reset()
        live, seen = dict(inp["initial"]), set()
        untimed_s = 0.0
        for b in range(N_BATCHES):
            outcome = {}
            if timed:
                ok = loop.op(res, f"batch_{b}", batch_body(b, outcome))
            else:
                t0 = time.perf_counter()
                batch_body(b, outcome)(False)
                untimed_s += time.perf_counter() - t0
                ok = True
            bad = check_batch(b, live, seen)
            if outcome.get("errors") or outcome.get("tag") != str(b):
                bad.append(f"batch {b}: governance {outcome}")
            if bad:
                res.failures.extend({"op": f"batch_{b}", "error": e} for e in bad)
                res.failed += int(timed and ok)
            history_files.append(_count_files(os.path.join(
                run.sub("warehouse"), "perfbench.db", "doc_history")))
        return untimed_s

    # warm-up, checked like the timed passes; set-up counts only the batches
    setup["warmup_s"] = run_pass(timed=False)

    group = "perfbench-publish"
    spark.sparkContext.setJobGroup(group, "publish passes")
    with instrumented(tr):
        loop.passes(res, run_pass)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    res.extra.update({
        "rows_per_s": len(res.pass_s) * N_BATCHES * (
            len(inp["batches"][0]["changes"]) + DOCS_PER_BATCH) / sum(res.pass_s),
        "history_files": max(history_files, default=0),
        "cdc_rows": sum(len(bt["changes"]) for bt in inp["batches"]),
    })
    if not trace:  # traced passes run their jobs under span groups
        user_mb = sum(bt["bytes"] for bt in inp["batches"]) / 2**20 * len(res.pass_s)
        res.extra["write_amp"] = group_totals(spark, group)["output_mb"] / user_mb
    return res


def _count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))
