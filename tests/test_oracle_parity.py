"""Local twin of the driver's t2 gate: every declared query with an
oracle must match DuckDB on row count, column names, and values, row by
row in emitted order (the output hash is order-sensitive), with each
row's values taken in column-name order, at the test scale factor.
Every query must also leave the session's cache as it found it, and the
registry must hold exactly the declared set."""

from __future__ import annotations

import math

import pytest

from dask_felleskomponenter_spark.plans import ORACLES, QUERIES

#: The declared queries without an oracle twin (plans/oracles.py names
#: why each has none). A query that loses its ``@query`` decorator
#: leaves QUERIES silently; this list makes that a failure.
ROWS_ONLY = {
    "agg_approx_distinct",
    "sketch_rollup_users",
    "agg_approx_percentiles",
    "kll_quantile_rollup_prices",
    "neardup_minhash_lsh",
    "simhash_documents",
    "neardup_crossbatch_screen",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    "ann_pq_topk",
    "raster_contours_tiles",
}


def _normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    def norm_val(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            # collapse -0.0 and fix float repr noise at the edge of the
            # explicit rounding the queries already perform
            return round(v + 0.0, 9)
        if isinstance(v, list):
            return tuple(norm_val(x) for x in v)
        try:  # decimals → float-ish string
            import decimal

            if isinstance(v, decimal.Decimal):
                return round(float(v), 9)
        except Exception:
            pass
        return v

    ordered_cols = sorted(cols)
    return [tuple(norm_val(r[c]) for c in ordered_cols) for r in rows]


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _run_uncached(spark, sf_dir, name):
    """Build and collect one query from an empty cache; it must leave
    no CacheManager entry behind (a cached subtree left registered is
    substituted into later plans of the same session), and no temp view
    (a fixed view name clobbers the caller's view of that name)."""
    spark.catalog.clearCache()
    views = _temp_views(spark)
    sdf = QUERIES[name](spark, sf_dir)
    rows = sdf.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a cached plan registered in the session"
    )
    added = _temp_views(spark) - views
    assert not added, f"{name} left temp views {sorted(added)} in the session"
    if not QUERIES[name].order:
        assert len(rows) <= 1, f"{name} declares no order but emits {len(rows)} rows"
    return sdf, rows


def test_registry_is_the_declared_set():
    assert not set(ORACLES) & ROWS_ONLY
    assert set(QUERIES) == set(ORACLES) | ROWS_ONLY
    assert len(QUERIES) == 158


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, sf_dir, name):
    sdf, rows = _run_uncached(spark, sf_dir, name)
    spark_rows = [r.asDict() for r in rows]
    spark_cols = sdf.columns

    ddf = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in ddf.description]
    duck_rows = [dict(zip(duck_cols, row)) for row in ddf.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s_norm = _normalize(spark_rows, spark_cols)
    d_norm = _normalize(duck_rows, duck_cols)
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:5]
        pytest.fail(f"{name}: value mismatch; first diffs: {diffs}")


@pytest.mark.parametrize("name", sorted(ROWS_ONLY))
def test_rows_only_queries_run(spark, sf_dir, name):
    sdf, _ = _run_uncached(spark, sf_dir, name)
    assert len(sdf.columns) > 0


# --- type faithfulness -----------------------------------------------------
#
# The driver's value hash is TYPE-sensitive: an uncast DuckDB SUM(BIGINT)
# widens to HUGEINT and fails hash_match even when every value matches
# (round-6 lesson: interval_coalesce_events / twap_events /
# scd2_event_type_runs). The value-level parity test above normalizes
# Python values, so it is structurally blind to type drift — this check
# compares DuckDB's DESCRIBE output against the Spark result schema at
# the type-family level and hard-forbids HUGEINT/UHUGEINT.

_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER",
}
_DUCK_FORBIDDEN = {"HUGEINT", "UHUGEINT", "UBIGINT"}
_DUCK_FLOAT = {"FLOAT", "REAL", "DOUBLE"}


def _duck_family(t: str):
    t = t.strip().upper()
    if t.endswith("[]"):
        return ("array", _duck_family(t[:-2]))
    if t in _DUCK_FORBIDDEN:
        return ("FORBIDDEN", t)
    if t in _DUCK_INT:
        return ("int",)
    if t in _DUCK_FLOAT:
        return ("float",)
    if t.startswith("DECIMAL") or t.startswith("NUMERIC"):
        return ("decimal",)
    if t in {"VARCHAR", "TEXT", "STRING", "CHAR", "BPCHAR"}:
        return ("string",)
    if t in {"BOOLEAN", "BOOL"}:
        return ("bool",)
    if t == "DATE":
        return ("date",)
    if t.startswith("TIMESTAMP") or t == "DATETIME":
        return ("timestamp",)
    if t in {"BLOB", "BYTEA", "BINARY"}:
        return ("binary",)
    return ("other", t)


def _spark_family(dt):
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return ("array", _spark_family(dt.elementType))
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return ("int",)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return ("float",)
    if isinstance(dt, T.DecimalType):
        return ("decimal",)
    if isinstance(dt, T.StringType):
        return ("string",)
    if isinstance(dt, T.BooleanType):
        return ("bool",)
    if isinstance(dt, T.DateType):
        return ("date",)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return ("timestamp",)
    if isinstance(dt, T.BinaryType):
        return ("binary",)
    return ("other", str(dt))


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_oracle_types_match_spark(spark, duck, sf_dir, name):
    """DESCRIBE the oracle in DuckDB; every column's type family must
    match the Spark result schema, with HUGEINT/UHUGEINT forbidden
    outright (they widen to pandas float64/object in the driver's hash
    path and fail hash_match on identical values)."""
    sdf = QUERIES[name](spark, sf_dir)
    spark_fams = {f.name: _spark_family(f.dataType) for f in sdf.schema.fields}

    desc = duck.execute(f"DESCRIBE ({ORACLES[name]})").fetchall()
    duck_fams = {row[0]: _duck_family(row[1]) for row in desc}

    assert set(duck_fams) == set(spark_fams), (
        f"{name}: column set mismatch {sorted(spark_fams)} vs {sorted(duck_fams)}"
    )
    bad = []
    for col in sorted(spark_fams):
        dfam = duck_fams[col]
        if "FORBIDDEN" in repr(dfam) or dfam != spark_fams[col]:
            bad.append((col, "spark", spark_fams[col], "duckdb", dfam))
    assert not bad, f"{name}: type-family drift (driver hash hazard): {bad}"


def test_tokenizer_fragment_has_single_point_of_change():
    """Round-10 review: the DuckDB tokenizer idiom was copy-pasted ~23
    times, and the round-6 \\x0b / round-9 \\p{Z} whitespace fixes each
    had to be hand-applied to every inline copy (a missed copy breaks
    hash parity only on planted unicode-whitespace docs). Oracles now
    write __TOKS(expr)__ and a module-end expansion substitutes the one
    real fragment. This pins the invariant: the idiom exists exactly
    once in the SOURCE (inside _toks_sql), macros are all expanded at
    import, and the expansion matches the Spark tokenizer's class."""
    import inspect

    import dask_felleskomponenter_spark.plans.oracles as om

    src = inspect.getsource(om)
    assert src.count("string_split_regex") == 1, (
        "tokenizer idiom inlined again — route it through __TOKS()__"
    )
    # the jaccard chain likewise: one shingle/cap/pair derivation
    # (__JACCARD_CTES__) shared by the three near-dup oracles
    assert src.count("HAVING COUNT(*) > 64") == 1, (
        "jaccard hot-shingle chain inlined again — route it through "
        "__JACCARD_CTES()__"
    )
    assert not any(
        "__TOKS" in s or "__JACCARD" in s or "__JPAIRS" in s or "__CC_" in s
        for s in om.ORACLES.values()
    )
    frag = om._toks_sql("text")
    assert frag == (
        "list_filter(string_split_regex(TRIM(text), "
        r"'[\s\x0b\p{Z}]+'), x -> x <> '')"
    )
    # every documents-family tokenizing oracle carries the expansion
    assert frag in om.ORACLES["neardup_jaccard_pairs"]
