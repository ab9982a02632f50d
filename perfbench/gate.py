"""Correctness checks, run outside the timed region.

Read workloads: each oracle-backed query's output, in emitted order, is
hashed and compared with DuckDB running ``ORACLES[name]`` on the same
parquet files; a rows-only query must return rows, and the same number
in every checked pass. ``publish_ingest`` is checked against plain
Python replays (``replay_merge``, ``replay_novel``).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

from datagen import TABLES


def norm(v):
    """Engine-neutral form of one output value."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    return v


def ordered_hash(cols: list[str], rows: list) -> str:
    """Order-sensitive digest of ``rows`` (sequences aligned with
    ``cols``), with columns taken in name order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in rows:
        h.update(repr(tuple(norm(row[i]) for i in idx)).encode())
    return h.hexdigest()[:16]


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_hash(con, sql: str) -> tuple[str, int]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return ordered_hash(cols, rows), len(rows)


def collect_query(spark, sf_dir: str, name: str) -> dict:
    """Run ``QUERIES[name]`` once and collect its output; a failure is
    recorded, not raised. Safe to call from several threads."""
    import time
    import traceback

    from dask_felleskomponenter_spark.plans import QUERIES

    out = {"cols": [], "rows": [], "cold_s": 0.0, "error": None}
    t0 = time.perf_counter()
    try:
        df = QUERIES[name](spark, sf_dir)
        out["rows"] = df.collect()
        out["cols"] = df.columns
    except Exception:  # a failing query is reported, not raised
        out["error"] = traceback.format_exc(limit=3)
    out["cold_s"] = time.perf_counter() - t0
    return out


def check_query(got: dict, want: tuple[str, int] | None) -> dict:
    """Check a collected output (``collect_query``) against its oracle's
    ``(hash, rows)``, or, with no oracle (``want`` None), for a
    non-empty result."""
    rows = got["rows"]
    out = {"ok": False, "rows": len(rows), "rows_only": want is None,
           "error": got["error"]}
    if out["error"]:
        return out
    if want is None:
        out["ok"] = len(rows) > 0
        if not out["ok"]:
            out["error"] = "rows-only query returned no rows"
        return out
    digest = ordered_hash(got["cols"], rows)
    out["ok"] = digest == want[0]
    if not out["ok"]:
        out["error"] = (f"output hash {digest} != oracle {want[0]} "
                        f"({len(rows)} vs {want[1]} rows)")
    return out


def replay_merge(target: dict, batch) -> None:
    """Apply one CDC batch to ``target`` (key -> row tuple) with the
    MERGE semantics of ``sync.merge``: delete removes, anything else
    upserts."""
    for key, kind, row in batch:
        if kind == "delete":
            target.pop(key, None)
        else:
            target[key] = row


def replay_novel(seen: set, texts: list[str]) -> int:
    """Documents in ``texts`` whose SHA-256 was not seen before (each
    distinct text counted once); adds them to ``seen``."""
    fresh = {hashlib.sha256(t.encode()).hexdigest() for t in texts} - seen
    seen |= fresh
    return len(fresh)
