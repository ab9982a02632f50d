"""Differential & property tests.

Two layers:
- hypothesis property tests for pure-Python cores (no Spark round-trip
  per example, so thousands of cases are cheap);
- seeded-random differential tests that feed ONE DataFrame of many
  generated cases through the JVM column expressions and assert they
  agree element-wise with the Python reference implementations — the
  strongest check that the codegen'd scale paths compute the same
  function as the readable cores.
"""

from __future__ import annotations

import os
import random
import struct
import sys

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from dask_felleskomponenter_spark.functions.multimodal import fakm_decode, fakm_encode
from dask_felleskomponenter_spark.functions.wkb import (
    EWKB_SRID_FLAG,
    geom_type_of_wkb,
    strip_ewkb_srid_bytes,
    wkb_geom_type_col,
)
from dask_felleskomponenter_spark.functions.json_schema import (
    convert_json_schema_to_spark,
)


# --- hypothesis: pure-Python cores ---------------------------------------

@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=300, deadline=None)
def test_geom_type_never_raises(data):
    out = geom_type_of_wkb(data)
    assert isinstance(out, str) and out


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=300, deadline=None)
def test_strip_srid_idempotent_and_length_sane(data):
    once = strip_ewkb_srid_bytes(data)
    assert once is not None
    # idempotent: a stripped header has no SRID flag left to strip
    assert strip_ewkb_srid_bytes(once) == once
    # length shrinks by exactly 4 when an SRID was present, else unchanged
    if len(data) >= 9:
        # the engine-wide byte-order rule: 0 → big-endian, else little
        fmt = ">I" if data[0] == 0 else "<I"
        code = struct.unpack(fmt, bytes(data[1:5]))[0]
        expected = len(data) - 4 if code & EWKB_SRID_FLAG else len(data)
        assert len(once) == expected


_coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@st.composite
def _curved_wkb(draw):
    """Random curved WKB: CircularString / CompoundCurve / CurvePolygon
    in any of the four dimension variants (2-D / Z / M / ZM), ISO or
    EWKB-flag encoded, optional EWKB SRID."""
    z, m = draw(st.booleans()), draw(st.booleans())
    nd = 2 + int(z) + int(m)

    def pt():
        return tuple(draw(_coord) for _ in range(nd))

    def code_for(base):
        if draw(st.booleans()):  # ISO offsets
            return base + (1000 if z else 0) + (2000 if m else 0)
        return base | (0x80000000 if z else 0) | (0x40000000 if m else 0)

    def write(base, payload):
        return b"\x01" + struct.pack("<II", code_for(base), len(payload)) + b"".join(
            struct.pack("<" + "d" * nd, *p) for p in payload
        )

    n_arcs = draw(st.integers(1, 3))
    pts = [pt() for _ in range(2 * n_arcs + 1)]  # odd count, >= 3
    kind = draw(st.sampled_from(["cs", "compound", "curvepoly"]))
    if kind == "cs":
        wkb = write(8, pts)
    elif kind == "compound":
        # LineString lead-in ending at the arc's start (shared junction)
        seg = [pt(), pts[0]]
        wkb = (
            b"\x01"
            + struct.pack("<II", code_for(9), 2)
            + write(2, seg)
            + write(8, pts)
        )
    else:
        ring_pts = pts[:-1] + [pts[0]]  # closed ring, odd count kept
        wkb = b"\x01" + struct.pack("<II", code_for(10), 1) + write(8, ring_pts)
    if draw(st.booleans()):  # EWKB SRID wrapper
        code = struct.unpack_from("<I", wkb, 1)[0] | EWKB_SRID_FLAG
        wkb = b"\x01" + struct.pack("<II", code, 4326) + wkb[5:]
    return wkb, z, m, kind


@given(_curved_wkb(), st.sampled_from([0.0, 4.0, 22.5, 90.0]))
@settings(max_examples=250, deadline=None)
def test_linearize_idempotent_all_dims(case, step):
    """Idempotence + dims/type preservation of the pure-Python
    linearizer over RANDOM curved geometries in every dimension variant
    — the hypothesis twin of the golden Z/M cases (round-10, extending
    the round-9 Z/M support to property coverage)."""
    from dask_felleskomponenter_spark.functions.wkb import linearize_wkb_py

    wkb, z, m, kind = case
    out = linearize_wkb_py(wkb, step)
    assert out is not None, "valid curved WKB must linearize"
    suffix = " ZM" if (z and m) else (" Z" if z else (" M" if m else ""))
    want = {"cs": "LineString", "compound": "LineString", "curvepoly": "Polygon"}
    assert geom_type_of_wkb(out) == want[kind] + suffix
    # idempotent: linear output re-linearizes byte-identically
    assert linearize_wkb_py(out, step) == out
    # endpoint preservation (exact doubles) for the open curves
    if kind in ("cs", "compound"):
        n = struct.unpack_from("<I", out, 5)[0]
        nd = 2 + int(z) + int(m)
        first = struct.unpack_from("<" + "d" * nd, out, 9)
        last = struct.unpack_from("<" + "d" * nd, out, 9 + 8 * nd * (n - 1))
        # input layout: outer header = order(1) + code(4) [+ srid(4)]
        # + count(4); compound's first point sits behind its child
        # LineString's own 9-byte header
        srid = bool(struct.unpack_from("<I", wkb, 1)[0] & EWKB_SRID_FLAG)
        in_first_off = (13 if srid else 9) + (9 if kind == "compound" else 0)
        in_first = struct.unpack_from("<" + "d" * nd, wkb, in_first_off)
        assert first == in_first
        assert len(last) == nd


@given(
    st.sampled_from("iavx"),
    st.integers(0, 2**16),
    st.integers(0, 2**16),
    st.integers(0, 255),
    st.binary(max_size=128),
)
@settings(max_examples=200, deadline=None)
def test_fakm_roundtrip(mt, w, h, ch, payload):
    d = fakm_decode(fakm_encode(mt, w, h, ch, payload))
    assert (d["media_type"], d["width"], d["height"], d["channels"]) == (mt, w, h, ch)
    assert d["payload"] == payload


_json_schemas = st.recursive(
    st.fixed_dictionaries(
        {"type": st.sampled_from(
            ["string", "integer", "number", "boolean", "date", "nonsense"]
        )}
    ),
    lambda children: st.one_of(
        st.fixed_dictionaries(
            {
                "type": st.just("object"),
                "properties": st.dictionaries(
                    st.text(
                        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                        min_size=1,
                        max_size=8,
                    ),
                    children,
                    max_size=4,
                ),
            }
        ),
        st.fixed_dictionaries({"type": st.just("array"), "items": children}),
        st.fixed_dictionaries({"enum": st.lists(st.text(max_size=5), max_size=3)}),
    ),
    max_leaves=10,
)


@given(_json_schemas)
@settings(max_examples=200, deadline=None)
def test_json_schema_compiler_total(schema):
    """The compiler is total over structurally-valid schema shapes: it
    never raises and always yields a StructType."""
    root = {"type": "object", "properties": {"f": schema}}
    st_ = convert_json_schema_to_spark(root)
    assert st_.typeName() == "struct"


# --- differential: JVM expression vs Python core -------------------------

def _wkb_cases(n: int = 400) -> list[bytes | None]:
    """Structured + adversarial WKB headers: every known type code with
    every flag/offset scheme, both byte orders, plus random garbage,
    truncated buffers, and nulls."""
    rng = random.Random(1234)
    cases: list[bytes | None] = [None, b"", b"\x00", b"\x01\x02\x03\x04"]
    from dask_felleskomponenter_spark.functions.wkb import WKB_GEOM_TYPES

    codes = list(WKB_GEOM_TYPES) + [99, 3025, 777]
    schemes = (
        lambda c: c,
        lambda c: c + 1000,
        lambda c: c + 2000,
        lambda c: c + 3000,
        lambda c: c | 0x80000000,
        lambda c: c | 0x40000000,
        lambda c: c | 0xC0000000,
        lambda c: c | 0x20000000,
        lambda c: c | 0xA0000000,
    )
    for code in codes:
        for scheme in schemes:
            v = scheme(code) & 0xFFFFFFFF
            for fmt, bo in (("<I", b"\x01"), (">I", b"\x00")):
                body = rng.randbytes(rng.randint(0, 16))
                cases.append(bo + struct.pack(fmt, v) + body)
    while len(cases) < n:
        cases.append(rng.randbytes(rng.randint(0, 24)))
    return cases


def test_wkb_column_expression_matches_python_core(spark):
    cases = _wkb_cases()
    df = spark.createDataFrame(
        [Row(i=i, wkb=c) for i, c in enumerate(cases)],
        schema="i long, wkb binary",
    )
    got = {
        r["i"]: r["t"]
        for r in df.select("i", wkb_geom_type_col("wkb").alias("t")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == geom_type_of_wkb(c), f"case {i}: {c!r}"


def test_wkb_column_expression_matches_python_core_hex(spark):
    cases = [c.hex() for c in _wkb_cases(120) if c is not None] + [
        None,
        "zz-not-hex",
        "0",
    ]
    df = spark.createDataFrame(
        [Row(i=i, h=c) for i, c in enumerate(cases)], schema="i long, h string"
    )
    got = {
        r["i"]: r["t"]
        for r in df.select(
            "i", wkb_geom_type_col("h", hex_input=True).alias("t")
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == geom_type_of_wkb(c), f"case {i}: {c!r}"


def test_shingles_match_python_reference(spark):
    from dask_felleskomponenter_spark.functions.text import word_shingles

    rng = random.Random(99)
    words = ["alpha", "beta", "gamma", "delta", "x", "longword" * 3]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 12)))
        for _ in range(150)
    ] + ["", "   ", "one", "one two"]

    def py_shingles(text: str, k: int) -> list[str]:
        # round-9 contract: split-then-drop-empties tokenization; a
        # zero-token text (empty/whitespace-only) has NO shingles
        toks = [t for t in text.split() if t != ""]
        if not toks:
            return []
        if len(toks) < k:
            return list(dict.fromkeys([" ".join(toks)]))
        out = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        return list(dict.fromkeys(out))

    for k in (1, 2, 3, 5):
        df = spark.createDataFrame(
            [Row(i=i, t=t) for i, t in enumerate(texts)], schema="i long, t string"
        )
        got = {
            r["i"]: r["sh"]
            for r in df.select("i", word_shingles("t", k).alias("sh")).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == py_shingles(t, k), f"k={k} text={t!r}"


def test_word_shingles_null_text_stays_null_without_ansi(spark):
    """On ANSI-off sessions size(NULL) is -1, which used to satisfy the
    short-document branch and hand NULL docs a phantom [''] shingle —
    fingerprinting them identically to empty-string docs (round-6
    review finding). NULL must stay NULL in both modes."""
    from dask_felleskomponenter_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [Row(i=0, t=None), Row(i=1, t="")], schema="i long, t string"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            got = {
                r["i"]: r["sh"]
                for r in df.select(
                    "i", word_shingles("t", 3).alias("sh")
                ).collect()
            }
            assert got[0] is None, f"ansi={ansi}"
            # round-9 contract: zero-token text has NO shingles (the
            # phantom [''] whole-text shingle near-dup-clustered every
            # blank doc and DuckDB can't even express it)
            assert got[1] == [], f"ansi={ansi}"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_wkb_surfaces_agree_on_malformed_byte_order():
    """All WKB surfaces share one byte-order rule (0 → big, else
    little); strip_ewkb_srid_bytes used to read non-{0,1} order bytes
    big-endian while geom_type_of_wkb read them little-endian, so the
    two could disagree about the SRID flag on the same blob (round-6
    review finding)."""
    import struct as _struct

    # order byte 0x02, little-endian type word with the SRID flag set
    code = 1 | EWKB_SRID_FLAG
    blob = b"\x02" + _struct.pack("<I", code) + _struct.pack("<I", 4326) + b"\x00" * 16
    assert geom_type_of_wkb(blob) == "Point"  # LE decode sees the flag
    stripped = strip_ewkb_srid_bytes(blob)
    # consistent LE interpretation: flag cleared, 4-byte SRID dropped
    assert stripped[0] == 0x02
    assert _struct.unpack("<I", stripped[1:5])[0] == 1
    assert len(stripped) == len(blob) - 4


def test_merge_upsert_matches_model(spark):
    """Randomized MERGE cases checked against a dict-based model of the
    reference's MERGE semantics."""
    from dask_felleskomponenter_spark.sync.merge import merge_upsert

    rng = random.Random(7)
    target_rows = [(k, f"t{k}") for k in rng.sample(range(40), 25)]
    staging_rows = [
        (k, f"s{k}", rng.choice(["delete", "upsert", "other"]))
        for k in rng.sample(range(50), 30)
    ]

    # model
    model = {k: v for k, v in target_rows}
    for k, v, ut in staging_rows:
        if k in model:
            if ut == "delete":
                del model[k]
            else:
                model[k] = v
        elif ut != "delete":
            model[k] = v

    target = spark.createDataFrame(target_rows, ["id", "val"])
    staging = spark.createDataFrame(staging_rows, ["id", "val", "update_type"])
    got = {r["id"]: r["val"] for r in merge_upsert(target, staging, ["id"]).collect()}
    assert got == model


def test_asof_join_semantics(spark):
    """<=-inclusive as-of matching, null-payload build rows winning the
    race, LEFT semantics for unmatched keys."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import asof_join

    probe = spark.createDataFrame(
        [
            Row(pid=1, k=1, t=10),
            Row(pid=2, k=1, t=20),   # equal ts as a build row -> matches it (<=)
            Row(pid=3, k=1, t=5),    # before any build row -> NULL
            Row(pid=4, k=2, t=100),  # key with no build rows -> NULL
        ]
    )
    build = spark.createDataFrame(
        [
            Row(k=1, bt=8, v="early"),
            Row(k=1, bt=20, v=None),   # null payload must still WIN at t>=20
            Row(k=1, bt=15, v="mid"),
        ]
    )
    out = {
        r["pid"]: r["asof_v"]
        for r in asof_join(
            probe, build, on=["k"], left_ts="t", right_ts="bt", value_cols=["v"]
        ).collect()
    }
    assert out == {1: "early", 2: None, 3: None, 4: None}

    # distinguish "matched a null-payload row" from "no match": carry a
    # build-side key column as a value too
    out2 = {
        r["pid"]: (r["asof_bt"], r["asof_v"])
        for r in asof_join(
            probe, build, on=["k"], left_ts="t", right_ts="bt",
            value_cols=["bt", "v"],
        ).collect()
    }
    assert out2[2] == (20, None)     # matched the ts-20 null-payload row
    assert out2[3] == (None, None)   # genuinely unmatched
    assert out2[1] == (8, "early")


def test_asof_join_null_build_timestamps_never_match(spark):
    """A build row with NULL right_ts is no match under SQL ASOF
    semantics (right_ts <= left_ts is NULL); before the fix the
    NULLS-FIRST window order treated it as infinitely old and its
    payload leaked into probe rows with no true predecessor."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import asof_join

    probe = spark.createDataFrame([Row(pid=1, k=1, t=10)])
    build = spark.createDataFrame(
        [(1, None, 99)], schema="k bigint, bt bigint, v bigint"
    )
    out = asof_join(
        probe, build, on=["k"], left_ts="t", right_ts="bt", value_cols=["v"]
    ).collect()
    assert len(out) == 1 and out[0]["asof_v"] is None


def test_asof_join_value_column_with_space(spark):
    """Value columns needing backticks must survive the NULL-struct
    type construction (schema objects, not DDL text)."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import asof_join

    probe = spark.createDataFrame([Row(pid=1, k=1, t=10)])
    build = (
        spark.createDataFrame([Row(k=1, bt=5, v=2.5)])
        .withColumnRenamed("v", "unit price")
    )
    out = asof_join(
        probe, build, on=["k"], left_ts="t", right_ts="bt",
        value_cols=["unit price"],
    ).collect()
    assert out[0]["asof_unit price"] == 2.5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="value column"):
        asof_join(
            probe, build, on=["k"], left_ts="t", right_ts="bt", value_cols=[]
        )


def test_connected_components_rejects_string_ids(spark):
    """String ids (UUIDs, content hashes) must fail loudly: the silent
    cast('long') previously NULLed every edge endpoint and returned
    component NULL for all rows — corrupt clustering with no error."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.graph import (
        assign_components,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [Row(id_a="doc-8f3a", id_b="doc-77b1")]
    )
    with _pytest.raises(TypeError, match="integral id"):
        connected_components(pairs)
    docs = spark.createDataFrame([Row(doc_id="doc-8f3a")])
    with _pytest.raises(TypeError, match="integral id"):
        assign_components(docs, "doc_id", pairs).collect()


def test_lsh_overlong_band_config_does_not_go_quadratic(spark):
    """bands × rows_per_band > len(signature) previously made the
    overhanging bands hash an EMPTY slice — one shared bucket, full
    all-pairs candidates. They must be dropped instead."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=f"totally distinct document number {i} "
                               f"with its own unique words {i*7} {i*13}")
            for i in range(12)
        ]
    )
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    # 16 bands × 4 rows = 64 >> 8 available hashes: the 14 overhanging
    # bands must vanish, not collide everything into n^2/2 pairs.
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", bands=16, rows_per_band=4
    ).collect()
    assert len(pairs) < 12 * 11 / 2


def test_operator_helper_columns_never_shadow_user_columns(spark):
    """Internal helper columns (salts, range buckets, grid cells, asof
    stream tags) are picked collision-free: a user column that happens
    to share the reserved name must come through intact (round-6 review
    finding — withColumn used to replace it and drop() deleted it)."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.aggregates import (
        two_phase_salted_agg,
    )
    from dask_felleskomponenter_spark.operators.joins import (
        asof_join,
        grid_box_join,
        interval_join,
        salted_join,
    )

    # salted_join: big side carries its own "_salt" data column
    big = spark.createDataFrame(
        [Row(user_id=i % 3, _salt=f"keep{i}") for i in range(12)]
    )
    small = spark.createDataFrame([Row(user_id=i, seg=f"s{i}") for i in range(3)])
    out = salted_join(big, small, on=["user_id"], salt_buckets=4)
    assert "_salt" in out.columns
    assert {r["_salt"] for r in out.collect()} == {f"keep{i}" for i in range(12)}

    # two_phase_salted_agg: "_salt" as a grouping key must group, not
    # be overwritten by the internal salt (which would explode groups)
    agg = two_phase_salted_agg(
        big.withColumn("v", F.lit(1)),
        keys=["_salt"],
        aggs={"n": ("count", "v")},
        salt_buckets=4,
    )
    assert agg.count() == 12 and agg.filter(F.col("n") != 1).isEmpty()

    # two_phase_salted_agg: partial aliases must be reserved as they are
    # chosen — a df column "_p_a" plus outputs "a" AND "a0" used to make
    # fresh_name pick "_p_a0" twice (duplicate phase-1 alias → ambiguous
    # merge reference)
    tricky = spark.createDataFrame(
        [Row(k=i % 2, _p_a=f"x{i}", v=i) for i in range(8)]
    )
    collide = two_phase_salted_agg(
        tricky,
        keys=["k"],
        aggs={"a": ("sum", "v"), "a0": ("count", "v")},
        salt_buckets=3,
    )
    plain = {
        (r["k"], r["a"], r["a0"])
        for r in tricky.groupBy("k")
        .agg(F.sum("v").alias("a"), F.count("v").alias("a0"))
        .collect()
    }
    assert {(r["k"], r["a"], r["a0"]) for r in collide.collect()} == plain

    # two_phase_salted_agg: a key or value column literally named with a
    # dot must resolve as the EXACT column in every phase — phase 2
    # groups on the partial's literal output name, where a bare-string
    # groupBy would path-parse "user.id" and fail UNRESOLVED_COLUMN
    # (round-10 review finding)
    dotted = spark.createDataFrame(
        [Row(**{"user.id": i % 2, "v.al": float(i)}) for i in range(10)]
    )
    dot_out = two_phase_salted_agg(
        dotted,
        keys=["user.id"],
        aggs={"n": ("count", "v.al"), "s": ("sum", "v.al")},
        salt_buckets=3,
    )
    got = {(r["user.id"], r["n"], r["s"]) for r in dot_out.collect()}
    want = {
        (r["user.id"], r["n"], r["s"])
        for r in dotted.groupBy(F.col("`user.id`"))
        .agg(F.count("`v.al`").alias("n"), F.sum("`v.al`").alias("s"))
        .collect()
    }
    assert got == want

    # asof_join: left side carries "_asof_ts" as user data
    left = spark.createDataFrame(
        [Row(k=1, ts=10, _asof_ts="mine"), Row(k=1, ts=20, _asof_ts="also")]
    )
    right = spark.createDataFrame([Row(k=1, rts=5, val="x")])
    a = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                  value_cols=["val"])
    assert sorted(r["_asof_ts"] for r in a.collect()) == ["also", "mine"]
    assert all(r["asof_val"] == "x" for r in a.collect())

    # interval_join: left side carries "_rng_bkt" as user data
    ev_l = spark.createDataFrame(
        [Row(k=1, ts="2026-01-01 00:00:10", _rng_bkt="keep-me")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev_r = spark.createDataFrame(
        [Row(k=1, rts="2026-01-01 00:00:05", msg="hello")]
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    ij = interval_join(
        ev_l, ev_r, on=["k"], left_ts="ts", right_ts="rts",
        lower_seconds=-30, upper_seconds=0, value_cols=["msg"],
    )
    rows = ij.collect()
    assert [r["_rng_bkt"] for r in rows] == ["keep-me"]
    assert [r["rng_msg"] for r in rows] == ["hello"]

    # grid_box_join: left side carries "_cell_x" as user data
    pts_l = spark.createDataFrame([Row(x=0.0, y=0.0, _cell_x="keep")])
    pts_r = spark.createDataFrame([Row(x=1.0, y=1.0, tag="near")])
    gb = grid_box_join(
        pts_l, pts_r, left_xy=("x", "y"), right_xy=("x", "y"), radius=2.0
    )
    rows = gb.collect()
    assert [r["_cell_x"] for r in rows] == ["keep"]
    assert [r["nb_tag"] for r in rows] == ["near"]


def test_salted_join_tolerates_map_columns(spark):
    """xxhash64 cannot hash MapType; the salt must skip such columns
    instead of failing analysis."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [Row(user_id=i % 3, v=float(i)) for i in range(30)]
    ).withColumn("props", F.create_map(F.lit("a"), F.col("v")))
    small = spark.createDataFrame([Row(user_id=i, seg=f"s{i}") for i in range(3)])
    got = salted_join(big, small, on=["user_id"], salt_buckets=4)
    expected = big.join(small, on=["user_id"])
    assert got.count() == 30
    assert (
        got.select("user_id", "v", "seg").exceptAll(
            expected.select("user_id", "v", "seg")
        ).isEmpty()
    )


def test_lag_sessionize_fractional_gap_and_ntz_dst(spark):
    """Two round-6 review findings: int(gap_seconds) silently truncated
    fractional gaps (0.5 → 0: every event its own session), and the
    unix_micros round-trip through the SESSION timezone made NTZ gap
    measurement non-uniform across DST transitions."""
    import datetime as dt

    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.windows import lag_sessionize

    # fractional gap honored at sub-second precision
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    ev = spark.createDataFrame(
        [
            Row(u=1, ts=base),
            Row(u=1, ts=base + dt.timedelta(milliseconds=300)),  # same
            Row(u=1, ts=base + dt.timedelta(milliseconds=1000)),  # new
        ]
    )
    got = {
        r["ts"].microsecond // 1000 + r["ts"].second * 1000: r["session_id"]
        for r in lag_sessionize(ev, "u", "ts", gap_seconds=0.5).collect()
    }
    assert got[0] == got[300] and got[1000] == got[300] + 1

    # NTZ wall clocks across Europe/Oslo spring-forward: 01:30 → 03:30
    # is a 2h wall-clock gap; a session-tz round-trip would measure 1h
    ntz = spark.createDataFrame(
        [
            Row(u=1, ts=dt.datetime(2026, 3, 29, 1, 30)),
            Row(u=1, ts=dt.datetime(2026, 3, 29, 3, 30)),
        ],
        "u int, ts timestamp_ntz",
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Oslo")
        sessions = {
            r["session_id"]
            for r in lag_sessionize(ntz, "u", "ts", gap_seconds=5400).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert sessions == {1, 2}  # 7200s > 5400s gap → two sessions

    # Case-insensitive dtype resolution (round-7 review finding): the
    # column is declared 'TS' but referenced as 'ts' — Spark resolves
    # the COLUMN case-insensitively, so the NTZ dtype must be found the
    # same way or the silent cast-to-TIMESTAMP reintroduces the DST bug
    ntz_uc = spark.createDataFrame(
        [
            Row(u=1, TS=dt.datetime(2026, 3, 29, 1, 30)),
            Row(u=1, TS=dt.datetime(2026, 3, 29, 3, 30)),
        ],
        "u int, TS timestamp_ntz",
    )
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Oslo")
        sessions_uc = {
            r["session_id"]
            for r in lag_sessionize(
                ntz_uc, "u", "ts", gap_seconds=5400
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert sessions_uc == {1, 2}


def test_cosine_neardup_pairs_null_and_zero_vectors(spark):
    """NULL embeddings must be filtered (np.stack would raise on None)
    and zero vectors must score 0, not NaN."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0]),
            Row(vec_id=2, embedding=[1.0, 0.0]),
            Row(vec_id=3, embedding=None),
            Row(vec_id=4, embedding=[0.0, 0.0]),
        ]
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(emb, threshold=0.9, n_blocks=2).collect()
    }
    assert pairs == {(1, 2)}


def test_interval_join_matches_naive_model(spark):
    """Bucketed interval join == brute-force pairs model, including
    boundary inclusivity and rows that straddle bucket edges."""
    import datetime as dt
    import itertools
    import random

    from dask_felleskomponenter_spark.operators.joins import interval_join

    rng = random.Random(7)
    base = dt.datetime(2024, 1, 1)
    lefts = [
        (i, rng.choice(["u1", "u2"]), base + dt.timedelta(seconds=rng.randint(0, 900)))
        for i in range(40)
    ]
    rights = [
        (100 + i, rng.choice(["u1", "u2"]),
         base + dt.timedelta(seconds=rng.randint(0, 900)), float(i))
        for i in range(40)
    ]
    # plant exact-boundary cases: right at left_ts-300 and at left_ts
    lid, user, lts = lefts[0]
    rights.append((900, user, lts - dt.timedelta(seconds=300), 9.0))
    rights.append((901, user, lts, 9.5))
    rights.append((902, user, lts - dt.timedelta(seconds=300, microseconds=1), -9.0))

    ldf = spark.createDataFrame(lefts, "lid bigint, user string, ts timestamp")
    rdf = spark.createDataFrame(
        rights, "rid bigint, user string, rts timestamp, value double"
    )
    got = {
        (r["lid"], r["rng_rid"])
        for r in interval_join(
            ldf, rdf, on=["user"], left_ts="ts", right_ts="rts",
            lower_seconds=-300, upper_seconds=0,
            value_cols=["rid", "value"],
        ).collect()
    }
    want = {
        (l[0], r[0])
        for l, r in itertools.product(lefts, rights)
        if l[1] == r[1]
        and l[2] - dt.timedelta(seconds=300) <= r[2] <= l[2]
    }
    assert got == want
    assert (lid, 900) in got and (lid, 901) in got  # inclusive bounds
    assert (lid, 902) not in got  # 1us outside


def test_salted_agg_matches_plain_groupby_on_skew(spark):
    """Two-phase salted aggregation must be value-identical to plain
    groupBy, including on pathologically skewed keys and NULL values."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.operators.aggregates import (
        two_phase_salted_agg,
    )

    rows = [("hot", float(i % 7)) for i in range(5000)]
    rows += [(f"u{i}", float(i)) for i in range(50)]
    rows += [("hot", None), ("u0", None)]
    df = spark.createDataFrame(rows, "k string, v double")

    salted = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in two_phase_salted_agg(
            df, ["k"],
            {"n": ("count", "v"), "s": ("sum", "v"), "mx": ("max", "v")},
            salt_buckets=8,
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    assert salted == plain

    with _pytest.raises(ValueError, match="non-decomposable"):
        two_phase_salted_agg(df, ["k"], {"bad": ("avg", "v")})


def test_multikey_blocking_hot_block_bounded_and_recall_via_redundancy(spark):
    """The per-block size guard must exclude an oversized block from its
    own family WITHOUT losing pairs that a redundant key family still
    covers, and the candidate count must stay bounded (no hidden
    quadratic) when one key value goes hot."""
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.operators.joins import (
        multikey_blocking_candidates,
    )

    # 600 rows share one hot primary key; their secondary key fans them
    # out into 60 blocks of 10. 40 more rows are fully distinct.
    rows = [(i, "hot", f"sub{i % 60}") for i in range(600)]
    rows += [(1000 + i, f"cold{i}", f"csub{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, k1 string, k2 string")

    cands = multikey_blocking_candidates(
        df, id_col="id", key_cols=["k1", "k2"], max_block_size=100
    )
    n = cands.count()
    # primary family is over-cap (600 > 100) → contributes nothing;
    # secondary blocks of 10 contribute C(10,2) pairs each
    assert n == 60 * 45, n
    # sanity: without the guard the hot block alone is C(600,2) pairs
    uncapped = multikey_blocking_candidates(
        df, id_col="id", key_cols=["k1", "k2"], max_block_size=10**9
    ).count()
    assert uncapped == 600 * 599 // 2

    # redundancy recall: a pair split across two families survives the
    # other family's guard
    df2 = spark.createDataFrame(
        [(1, "hot", "a"), (2, "hot", "a"), (3, "hot", "b")],
        "id long, k1 string, k2 string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in multikey_blocking_candidates(
            df2, id_col="id", key_cols=["k1", "k2"], max_block_size=2
        ).collect()
    }
    # k1 block 'hot' is size 3 > 2 → guarded out; (1,2) survives via k2
    assert got == {(1, 2)}


def test_fuzzy_blocked_match_finds_cross_token_near_duplicates(spark, tmp_path):
    """The minhash-band family must surface near-identical prefixes that
    single first-token blocking can never pair (different first word)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "alpha the quick brown fox jumps over it",
        "clpha the quick brown fox jumps over it",  # 1 edit, new 1st token
        "completely unrelated content about parquet files",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "url": pa.array([f"u{i}" for i in range(len(texts))]),
            "fetch_ts": pa.array([0] * len(texts), pa.int64()),
            "quality_hint": pa.array([0.5] * len(texts)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    from dask_felleskomponenter_spark.plans.queries import fuzzy_blocked_match

    got = {
        (r.id_a, r.id_b): r.distance
        for r in fuzzy_blocked_match(spark, str(tmp_path)).collect()
    }
    assert (0, 1) in got and got[(0, 1)] == 1


def test_fuzzy_blocked_match_escalates_hot_first_token_block(
    spark, tmp_path, monkeypatch
):
    """A first-token block bigger than the cap must not go quadratic OR
    silently lose its matches: family B re-blocks it on (first, second
    token) and every within-subgroup near-duplicate still surfaces."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_felleskomponenter_spark.plans import queries as Q

    monkeypatch.setattr(Q, "FUZZY_MAX_BLOCK", 50)

    # 200 docs all sharing first token "hot" (block of 200 > cap 50);
    # second token partitions them into 50 groups of 4 near-identical
    # prefixes; cross-group prefixes differ in ~32 hex chars (> 10 edits)
    texts = []
    for i in range(200):
        g = hashlib.md5(f"group{i // 4}".encode()).hexdigest()
        texts.append(f"hot {g} t{i % 4}")
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * len(texts)),
            "url": pa.array([f"u{i}" for i in range(len(texts))]),
            "fetch_ts": pa.array([0] * len(texts), pa.int64()),
            "quality_hint": pa.array([0.5] * len(texts)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    rows = Q.fuzzy_blocked_match(spark, str(tmp_path)).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    want = {
        (4 * g + a, 4 * g + b)
        for g in range(50)
        for a in range(4)
        for b in range(a + 1, 4)
    }
    assert got == want  # all within-group pairs, nothing cross-group
    assert all(r.distance == 1 for r in rows)


def test_multikey_blocking_null_keys_never_pair(spark):
    """Regression: rows whose only common trait is a NULL key value must
    NOT become candidates — concat_ws used to collapse NULLs into one
    shared 'key unknown' block per family."""
    from dask_felleskomponenter_spark.operators.joins import (
        multikey_blocking_candidates,
    )

    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, "y"), (3, "k", None), (4, "k", None)],
        "id long, k1 string, k2 string",
    )
    got = {
        (r.id_a, r.id_b)
        for r in multikey_blocking_candidates(
            df, id_col="id", key_cols=["k1", "k2"], max_block_size=100
        ).collect()
    }
    # only (3,4) share an actual value ('k'); the NULL rows share nothing
    assert got == {(3, 4)}


def test_canonicalize_text_matches_duckdb_chain(spark, duck):
    """The canonical-dedup oracle assumes Spark's and DuckDB's regex
    semantics agree on the normalization chain — fuzz the agreement on
    punctuation-heavy, whitespace-heavy, and non-ASCII samples."""
    import duckdb as _duckdb

    from dask_felleskomponenter_spark.functions.text import canonicalize_text

    samples = [
        "",
        "   ",
        "Hello, World!",
        "a\tb\nc\r\nd",
        "UPPER lower MiXeD",
        "dots...and---dashes___underscores",
        "number 42 & symbol #@%",
        'quotes "double" \'single\'',
        "trailing spaces   ",
        "   leading",
        "æøå ÆØÅ blåbær",     # non-ASCII letters survive (\p{L}, not \w)
        "深度学习模型训练 in CJK",   # regression: \w mangled this to ''
        "Привет мир кириллица",
        "emoji 😀 stays out",
        "tab\t\t\tmultiple",
        "a!b?c.d,e;f:g",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], ["i", "t"])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonicalize_text("t").alias("c")).collect()
    }
    con = _duckdb.connect()
    want = {}
    for i, s in enumerate(samples):
        want[i] = con.execute(
            """SELECT TRIM(regexp_replace(regexp_replace(
                   LOWER(?), '[^\\p{L}\\p{N}\\s_]', '', 'g'), '\\s+', ' ', 'g'))""",
            [s],
        ).fetchone()[0]
    assert got == want


def test_lag_sessionize_string_timestamps_nonlexicographic(spark):
    """Round-6 review finding: the session windows ordered by the RAW
    ts column while gap math used the cast — string timestamps in a
    non-lexicographic format ('... 9:00:00' sorts after '... 10:00:00'
    as text) paired lag() with the wrong neighbor, so sessions that
    should split stayed merged. Both windows now order by the cast."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.windows import lag_sessionize

    ev = spark.createDataFrame(
        [
            Row(u=1, ts="2024-01-01 9:00:00"),
            Row(u=1, ts="2024-01-01 9:00:30"),     # same session
            Row(u=1, ts="2024-01-01 10:00:00"),    # 59.5 min gap → new
        ]
    )
    got = {
        r["ts"]: r["session_id"]
        for r in lag_sessionize(ev, "u", "ts", gap_seconds=60).collect()
    }
    assert got["2024-01-01 9:00:00"] == 1
    assert got["2024-01-01 9:00:30"] == 1
    assert got["2024-01-01 10:00:00"] == 2


def test_helper_columns_do_not_clobber_user_columns(spark):
    """keep_first's rank column and exact_dedup's hash column are
    internal staging names; a user column that happens to be called
    '_rn' or '_content_sha' must survive untouched (round-6 review:
    withColumn overwrites, the final drop then deletes user data)."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.dedup import exact_dedup
    from dask_felleskomponenter_spark.operators.windows import keep_first

    df = spark.createDataFrame(
        [
            Row(k=1, v=10, _rn="keep-me-a", _content_sha="keep-me-b"),
            Row(k=1, v=20, _rn="keep-me-c", _content_sha="keep-me-d"),
            Row(k=2, v=30, _rn="keep-me-e", _content_sha="keep-me-f"),
        ]
    )
    kf = keep_first(df, ["k"], [F.col("v").asc()])
    assert set(kf.columns) == {"k", "v", "_rn", "_content_sha"}
    assert {r["_rn"] for r in kf.collect()} == {"keep-me-a", "keep-me-e"}

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="same", _content_sha="user-x"),
            Row(doc_id=2, text="same", _content_sha="user-y"),
            Row(doc_id=3, text="other", _content_sha="user-z"),
        ]
    )
    dd = exact_dedup(docs, "text", order_by=[F.col("doc_id").asc()])
    assert set(dd.columns) == {"doc_id", "text", "_content_sha"}
    assert {r["_content_sha"] for r in dd.collect()} == {"user-x", "user-z"}


def test_cosine_neardup_pairs_ragged_vectors(spark):
    """A single odd-dimension row must not crash the GEMM tile
    (np.stack raises on ragged input): cosine is defined per
    equal-length pair — mismatched-length pairs are no-match (the JVM
    zip_with twin scores them NULL), same-length pairs still match."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),   # dup of 0
        Row(vec_id=2, embedding=[1.0, 0.0]),              # ragged 2-dim
        Row(vec_id=3, embedding=[1.0, 0.0]),              # dup of 2
        Row(vec_id=4, embedding=[0.0, 1.0, 0.0, 0.0]),   # orthogonal
    ]
    df = spark.createDataFrame(rows)
    for n_blocks in (1, 4):
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_neardup_pairs(
                df, threshold=0.9, n_blocks=n_blocks
            ).collect()
        }
        assert got == {(0, 1), (2, 3)}, f"n_blocks={n_blocks}"


def test_pq_adc_topk_rejects_mismatched_query_dim(spark):
    """The build path validates dims loudly; the query path must too —
    a 60-dim query against 64-dim codebooks used to silently truncate
    the subspace width and rank against misaligned slices."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.similarity import pq_adc_topk

    codebooks = [[[0.0, 0.0], [1.0, 1.0]] for _ in range(2)]  # m=2, d=2
    # the store writes pq_codes as array<int> (F.lit(code) literals)
    codes = spark.createDataFrame(
        [Row(vec_id=0, pq_codes=[0, 1])],
        "vec_id bigint, pq_codes array<int>",
    )
    with _pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(codes, codebooks, query_vec=[1.0, 0.0, 0.0])  # dim 3 != 4
    # matching dim still works
    assert pq_adc_topk(codes, codebooks, query_vec=[1.0, 0.0, 0.0, 1.0]).count() == 1


def test_ann_builders_skip_null_embeddings(spark):
    """A NULL embedding among the lowest-id rows used to abort the
    whole index build with a bare TypeError; the builders now skip
    NULLs, matching the scorers' no-match convention."""
    import random as _random

    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.similarity import (
        build_ivf_centroids,
        build_pq_codebooks,
    )

    rng = _random.Random(3)
    rows = [Row(vec_id=0, embedding=None)] + [
        Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(4)])
        for i in range(1, 9)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    cents = build_ivf_centroids(df, n_cells=2, iters=1)
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)
    cbs = build_pq_codebooks(df, dim=4, m=2, k=2, iters=1)
    assert len(cbs) == 2 and all(len(cb) == 2 for cb in cbs)


def test_salted_agg_schema_matches_plain_groupby_exactly(spark):
    """The salted twin must reproduce the PLAIN groupBy's result schema,
    not just its values: sum-of-sum widens decimals twice and
    sum-of-count is nullable where count is not — either breaks a
    downstream unionByName/insertInto against the unsalted shape."""
    from decimal import Decimal

    from dask_felleskomponenter_spark.operators.aggregates import (
        two_phase_salted_agg,
    )

    df = spark.createDataFrame(
        [(1, Decimal("1.25"), 3), (1, Decimal("2.50"), 4),
         (2, Decimal("9.99"), 5)],
        "k bigint, v decimal(10,2), n bigint",
    )
    plain = df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count("n").alias("c"), F.min("n").alias("mn")
    )
    salted = two_phase_salted_agg(
        df, ["k"],
        {"s": ("sum", "v"), "c": ("count", "n"), "mn": ("min", "n")},
        salt_buckets=4,
    )
    assert salted.schema == plain.schema  # dtypes AND nullability
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )

    # a grouping key named like a phase-1 partial alias must not make
    # the merge reference ambiguous
    out = two_phase_salted_agg(
        df.withColumnRenamed("n", "_p_s"), ["_p_s"],
        {"s": ("sum", "v")}, salt_buckets=4,
    )
    assert sorted(r["_p_s"] for r in out.collect()) == [3, 4, 5]


def test_prefixed_output_collisions_fail_loudly(spark):
    """Round-7 review finding: the {prefix}{col} OUTPUT names are API
    and cannot be fresh-named away — when a left column already holds
    one, the operators must raise at plan-build time instead of
    producing an ambiguous reference (batch) or a silently duplicated
    output schema (streaming)."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import (
        asof_join,
        grid_box_join,
        interval_join,
    )
    from dask_felleskomponenter_spark.streaming.ops import (
        stream_interval_join,
    )

    left = spark.createDataFrame(
        [Row(k=1, ts="2024-01-01 00:00:00", rng_v="mine", asof_v="mine")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [Row(k=1, rts="2024-01-01 00:00:00", v="x")]
    ).withColumn("rts", F.col("rts").cast("timestamp"))

    with _pytest.raises(ValueError, match="collide"):
        interval_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                      lower_seconds=-300.0, upper_seconds=0.0,
                      value_cols=["v"], prefix="rng_")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                  value_cols=["v"], prefix="asof_")

    pts_l = spark.createDataFrame([Row(x=0.0, y=0.0, nb_x="mine")])
    pts_r = spark.createDataFrame([Row(x=0.1, y=0.1)])
    with _pytest.raises(ValueError, match="collide"):
        grid_box_join(pts_l, pts_r, left_xy=("x", "y"), right_xy=("x", "y"),
                      radius=1.0, prefix="nb_")

    # streaming twin: validated at plan-build, no query start needed
    s_left = spark.readStream.format("rate").load().select(
        F.col("timestamp").alias("ts"), F.col("value").alias("k"),
        F.lit("mine").alias("rng_ts"),
    )
    s_right = spark.readStream.format("rate").load().select(
        F.col("timestamp").alias("ts"), F.col("value").alias("k"),
    )
    with _pytest.raises(ValueError, match="collide"):
        stream_interval_join(s_left, s_right, on=["k"])


def test_multikey_blocking_preserves_reserved_payload_names(spark):
    """Round-7 review finding: payload columns named _bs/_k/_id used to
    be silently overwritten (block sizes returned as user data) or to
    duplicate in the tagged select — helper names are now fresh."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import (
        multikey_blocking_candidates,
    )

    df = spark.createDataFrame(
        [
            Row(doc=1, key="a", _bs="keep1", _k="k1", _id="i1"),
            Row(doc=2, key="a", _bs="keep2", _k="k2", _id="i2"),
        ]
    )
    pairs = multikey_blocking_candidates(
        df, id_col="doc", key_cols=["key"], payload_cols=["_bs", "_k", "_id"]
    ).collect()
    assert len(pairs) == 1
    r = pairs[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert (r["a__bs"], r["b__bs"]) == ("keep1", "keep2")
    assert (r["a__k"], r["b__k"]) == ("k1", "k2")
    assert (r["a__id"], r["b__id"]) == ("i1", "i2")


class TestRound8ShuffleAndIngestFindings:
    def test_fresh_name_is_case_insensitive(self, spark):
        """Spark's default caseSensitive=false resolves _SALT against a
        helper named _salt — withColumn would overwrite and the final
        drop delete the user's column; fresh_name must detect the
        case-variant collision."""
        from dask_felleskomponenter_spark.operators.shuffle import fresh_name

        df = spark.createDataFrame([(1, "x")], ["id", "_SALT"])
        assert fresh_name("_salt", df) not in ("_salt", "_SALT")
        assert fresh_name("_salt", df).lower() != "_salt"

    def test_row_salt_requires_a_hashable_column(self, spark):
        """All-map schemas have no retry-deterministic per-row value:
        the salt would be constant per partition, silently rebuilding
        the hot reducer — loud error instead."""
        import pytest as _pytest
        from pyspark.sql import functions as F

        from dask_felleskomponenter_spark.operators.shuffle import (
            deterministic_row_salt,
        )

        df = spark.range(4).select(
            F.create_map(F.lit("k"), F.col("id")).alias("m")
        )
        with _pytest.raises(ValueError, match="hashable"):
            deterministic_row_salt(df, 16)

    def test_pii_scan_survives_dotted_column(self, spark):
        """A governance gate must not abort on a legal dotted column
        name (quoted_col class)."""
        from dask_felleskomponenter_spark.governance.data_checks import (
            scan_text_pii,
        )

        df = spark.createDataFrame(
            [("mail me at a@b.no",), ("clean",)], ["user.contact"]
        )
        findings = scan_text_pii(df, ["user.contact"], table="s.t")
        assert any(f.column == "user.contact" for f in findings)

    def test_pii_remedy_doubles_backticks(self, spark):
        from dask_felleskomponenter_spark.governance.data_checks import (
            scan_text_pii,
        )

        df = spark.createDataFrame([("a@b.no",)], ["we`ird"])
        findings = scan_text_pii(df, ["we`ird"], table="s.t")
        assert findings and "`we``ird`" in findings[0].solution

    def test_evolved_reader_extras_alias_collision_proof(self, spark, tmp_path):
        """A target field literally named _extras must not duplicate in
        the output (AMBIGUOUS_REFERENCE downstream)."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from dask_felleskomponenter_spark.sources.files import (
            read_parquet_evolved,
        )

        p = str(tmp_path / "d")
        spark.createDataFrame(
            [(1, "keep", "extra-val")], ["id", "_extras", "surprise"]
        ).write.parquet(p)
        target = StructType(
            [StructField("id", LongType()), StructField("_extras", StringType())]
        )
        out = read_parquet_evolved(spark, p, target, extras="keep")
        assert len(out.columns) == len(set(out.columns)), out.columns
        row = out.collect()[0]
        assert row["_extras"] == "keep"


def test_prefix_collision_is_case_insensitive(spark):
    """ensure_prefix_free (round-8 consolidation of three copy-pasted
    checks) must match CASE-INSENSITIVELY: under Spark's default
    spark.sql.caseSensitive=false a left column RNG_V resolves against
    the prefixed output rng_v just as ambiguously as an exact-case twin,
    but the old `set &` checks let it through to a broken plan."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.joins import (
        asof_join,
        grid_box_join,
        interval_join,
    )
    from dask_felleskomponenter_spark.operators.shuffle import (
        ensure_prefix_free,
    )

    ensure_prefix_free("p_", ["a"], ["x", "y"])  # no clash: no raise
    with _pytest.raises(ValueError, match="collide"):
        ensure_prefix_free("p_", ["a"], ["P_A"])

    left = spark.createDataFrame(
        [Row(k=1, ts="2024-01-01 00:00:00", RNG_V="mine", ASOF_V="mine")]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [Row(k=1, rts="2024-01-01 00:00:00", v="x")]
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    with _pytest.raises(ValueError, match="collide"):
        interval_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                      lower_seconds=-300.0, upper_seconds=0.0,
                      value_cols=["v"], prefix="rng_")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                  value_cols=["v"], prefix="asof_")
    pts_l = spark.createDataFrame([Row(x=0.0, y=0.0, NB_X="mine")])
    pts_r = spark.createDataFrame([Row(x=0.1, y=0.1)])
    with _pytest.raises(ValueError, match="collide"):
        grid_box_join(pts_l, pts_r, left_xy=("x", "y"), right_xy=("x", "y"),
                      radius=1.0, prefix="nb_")


def test_lag_sessionize_drops_null_timestamps(spark):
    """Round-8 finding: a NULL ts made lag() NULL for the row AND its
    successor — one phantom session per NULL row, diverging from both
    streaming twins (session_window and the stateful sessionizer drop
    NULL-ts rows). The batch operator now drops them too."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.windows import lag_sessionize

    ev = spark.createDataFrame(
        [
            Row(u=1, ts="2024-01-01 00:00:00"),
            Row(u=1, ts="2024-01-01 00:10:00"),  # same session (gap 600s)
            Row(u=1, ts=None),
            Row(u=1, ts=None),
            Row(u=1, ts=None),
        ],
        "u long, ts string",
    )
    out = lag_sessionize(ev, "u", "ts", gap_seconds=1800).collect()
    assert len(out) == 2  # NULL/uncastable rows are gone, not sessions
    assert {r["session_id"] for r in out} == {1}


def test_rank_topn_rejects_colliding_rank_col(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.windows import (
        rank_topn_per_group,
    )

    df = spark.createDataFrame([Row(k=1, v=2, rn=9)])
    with _pytest.raises(ValueError, match="rank_col"):
        rank_topn_per_group(df, ["k"], [F.col("v").desc()], n=1)
    with _pytest.raises(ValueError, match="rank_col"):  # case-insensitive
        rank_topn_per_group(
            df, ["k"], [F.col("v").desc()], n=1, rank_col="RN"
        )
    out = rank_topn_per_group(
        df, ["k"], [F.col("v").desc()], n=1, rank_col="rank2"
    ).collect()
    assert out[0]["rn"] == 9 and out[0]["rank2"] == 1


def test_streaming_col_dtype_is_case_insensitive(spark):
    import pytest as _pytest
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.streaming.ops import _col_dtype

    df = spark.createDataFrame([Row(user_id=1, value=2.0)])
    assert _col_dtype(df, "user_id") == "bigint"
    assert _col_dtype(df, "USER_ID") == "bigint"  # groupBy accepts this
    with _pytest.raises(ValueError, match="not found"):
        _col_dtype(df, "nope")
    # Round-9 finding (ADVICE): two columns differing only by case with
    # no exact match must raise like Spark's AMBIGUOUS_REFERENCE, not
    # silently return the first match's dtype.
    amb = df.select(
        F.col("user_id").alias("Key"),
        F.col("value").alias("KEY"),
    )
    with _pytest.raises(ValueError, match="ambiguous"):
        _col_dtype(amb, "key")
    # an exact match still wins over the case-insensitive twin
    assert _col_dtype(amb, "KEY") == "double"


def test_salted_agg_dotted_output_name_matches_plain(spark):
    """Round-8 finding: the phase-2 merge referenced the partial alias
    by bare string, so an output name containing a dot parsed as a
    struct path and crashed where plain groupBy succeeds — breaking the
    exact-equality contract. quoted_col restores it."""
    from pyspark.sql import Row

    from dask_felleskomponenter_spark.operators.aggregates import (
        two_phase_salted_agg,
    )

    df = spark.createDataFrame(
        [Row(k=i % 3, v=float(i)) for i in range(30)]
    )
    salted = two_phase_salted_agg(
        df, ["k"], {"p.total": ("sum", "v"), "n": ("count", "v")}
    )
    plain = df.groupBy("k").agg(
        F.sum("v").alias("p.total"), F.count("v").alias("n")
    )
    assert salted.schema == plain.schema
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_bench_records_cpu_seconds_and_plan_hash_per_query(tmp_path):
    """bench.py attributes a timing drift with the plan hash and the
    CPU seconds of the Spark process tree, taken from the pass whose
    wall time it keeps. The summary line carries the CPU total."""
    import json as _json
    import re as _re
    import subprocess as sp

    from tests.conftest import REPO_ROOT, SF_DIR

    names = ["q6_forecast_revenue", "dedup_exact_docs"]
    out_file = tmp_path / "result.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_DIR,
        BENCH_QUERIES=",".join(names),
        BENCH_REPEATS="1",
        BENCH_RESULT_FILE=str(out_file),
    )
    proc = sp.run(
        [sys.executable, os.path.join(REPO_ROOT, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]

    result = _json.loads(out_file.read_text())
    for q in names:
        assert result["queries"][q] > 0
        assert result["cpu_s"][q] > 0
        assert _re.fullmatch(r"[0-9a-f]{12}", result["plan_hashes"][q])
    summary = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["value"] == result["value"]
    assert summary["cpu_s"] == round(sum(result["cpu_s"].values()), 3)
    assert "n_isolated_reruns" not in summary


def test_bench_plan_hash_ignores_jvm_wide_counters(spark):
    """Building the same query twice in one session must hash the same.
    Python-built lambda variables (``x_17``) and common subexpressions
    (``_common_expr_4``) take their suffix from JVM-wide counters, and a
    scan's DataFilters text is cut at a length that moves with the
    expression-id widths; none of them is a plan change."""
    import importlib.util

    from tests.conftest import REPO_ROOT, SF_DIR

    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO_ROOT, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from dask_felleskomponenter_spark.plans import QUERIES

    for name in ("map_fns_events", "try_cast_typed_backfill",
                 "q2_min_cost_supplier"):
        first = bench.plan_hash(QUERIES[name](spark, SF_DIR))
        assert bench.plan_hash(QUERIES[name](spark, SF_DIR)) == first, name

    # the 100-character cut can land after a line break inside a trim
    # whitespace literal (wide ids) or before it (narrow ids)
    scan = (
        "+- FileScan parquet [doc_id#{a}L,text#{b}] Batched: true, "
        "DataFilters: [(size(trim(text#{b}, Some(\t\n\r ){cut}, "
        "Format: Parquet, PushedFilters: []"
    )
    narrow = scan.format(a=1, b=2, cut="), false) > 0)]")
    wide = scan.format(a=1234567, b=1234568, cut="...")
    assert bench.plan_digest(narrow) == bench.plan_digest(wide)


def test_window_output_columns_raise_on_collision(spark):
    """Round-9 review: lag_sessionize and running_total silently
    overwrote a same-named user column where the sibling operators
    raise; keep_first's EXPLICIT rn_col had the same hole. All four now
    share shuffle.ensure_absent."""
    import datetime as dt

    import pytest as _pytest

    from dask_felleskomponenter_spark.operators.windows import (
        keep_first,
        lag_sessionize,
        running_total,
    )

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 5.0, 9, 3)],
        "user_id bigint, ts timestamp, v double, session_id int, "
        "running_total int",
    )
    with _pytest.raises(ValueError, match="session_col"):
        lag_sessionize(df, "user_id", "ts", 60.0)
    with _pytest.raises(ValueError, match="out_col"):
        running_total(df, ["user_id"], [F.col("ts")], "v")
    with _pytest.raises(ValueError, match="rn_col"):
        keep_first(df, ["user_id"], [F.col("ts")], rn_col="v")
    # case-insensitive: SESSION_ID resolves against session_id
    with _pytest.raises(ValueError, match="session_col"):
        lag_sessionize(df, "user_id", "ts", 60.0, session_col="SESSION_ID")
    # non-colliding names still work
    out = lag_sessionize(df, "user_id", "ts", 60.0, session_col="sess2")
    assert out.collect()[0]["sess2"] == 1


def test_window_partition_keys_normalized(spark):
    """Round-9 review: a bare-string partition_by *-splatted into
    per-character column names, and an empty key list silently windowed
    globally (the single-reducer shape the module forbids). Strings now
    wrap; empty raises."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.operators.windows import (
        rank_topn_per_group,
        running_total,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0)], "uid bigint, v double"
    )
    # bare string no longer splats into partitionBy('u','i','d')
    top = rank_topn_per_group(
        df, "uid", [F.col("v").desc()], n=1
    ).collect()
    assert sorted((r["uid"], r["v"]) for r in top) == [(1, 2.0), (2, 3.0)]
    with _pytest.raises(ValueError, match="empty"):
        running_total(df, [], [F.col("v")], "v", out_col="rt")
