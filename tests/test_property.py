"""Property tests (SURVEY.md §5.2 property tier).

Fixed-width parser invariants under randomly generated schemas, widths,
multibyte UTF-8 content, CRLF edge rows, and footer placement:
format→parse must be the identity on typed values, and on dirty feeds
(ragged lines, bad values, LF-only or unterminated files) the columnar
kernel's two readers must equal the expression tier. Plus the B28
bounded check (approx_count_distinct within ±5% of exact).

Hypothesis drives the generation; examples are batched (many rows per
generated table) so each example costs one Spark job, and the Spark
work stays in local[8] from conftest.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

from shredder_spark.avro_schema import parse_avro_fixed_schema
from shredder_spark.catalog import load_table
from shredder_spark.sinks.avro import read_avro_ocf
from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused
from shredder_spark.sources.fixedwidth import read_fixed_width
from shredder_spark.sources.fixedwidth_arrow import read_fixed_width_arrow

CRLF = "\r\n"

# ---------------------------------------------------------------- strategies

_TYPES = ["int", "long", "float", "double", "boolean", "string",
          "timestamp-micros", "date"]

_WIDTH = {"int": (6, 10), "long": (8, 14), "float": (10, 12),
          "double": (12, 16), "boolean": (1, 3), "string": (3, 12),
          "timestamp-micros": (26, 26), "date": (26, 26)}

# string alphabet mixes ASCII with 2- and 3-byte runes (no spaces: the
# reference pads with spaces, and its strings are width-exact anyway)
_ALPHABET = st.sampled_from(list("abcXYZ019_-") + list("åßçñé") + list("中文語"))


@st.composite
def _schema(draw):
    n = draw(st.integers(min_value=2, max_value=7))
    types = [draw(st.sampled_from(_TYPES)) for _ in range(n)]
    fields = []
    for i, t in enumerate(types):
        lo, hi = _WIDTH[t]
        fields.append({"name": f"C{i}", "type": {"type": t, "len": draw(st.integers(lo, hi))}})
    return {"type": "record", "name": "prop", "fields": fields}


def _fmt_ts(v: dt.datetime) -> str:
    return v.strftime("%Y-%m-%d-%H.%M.%S.%f")


@st.composite
def _cell(draw, type_name: str, width: int):
    """(text, expected_value) for one field."""
    if type_name in ("int", "long"):
        digits = min(width, 9 if type_name == "int" else 14)
        v = draw(st.integers(-(10 ** (digits - 1)) + 1, 10 ** (digits - 1) - 1))
        return str(v).rjust(width), v
    if type_name in ("float", "double"):
        v = draw(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                           allow_infinity=False))
        text = f"{v:.4f}".rjust(width)
        if len(text) > width:  # pathological float repr; fall back to 0
            text, v = "0.0".rjust(width), 0.0
        expected = float(np.float32(text.strip())) if type_name == "float" else float(text.strip())
        return text, expected
    if type_name == "boolean":
        c = draw(st.sampled_from("JjYyNnXq "))
        expected = True if c in "JjYy" else (False if c in "Nn" else None)
        return (c + " " * (width - 1)), expected
    if type_name == "string":
        s = "".join(draw(st.lists(_ALPHABET, min_size=width, max_size=width)))
        return s, s  # width-exact, rune-counted — no padding ambiguity
    if type_name == "timestamp-micros":
        v = draw(st.datetimes(min_value=dt.datetime(1970, 1, 2),
                              max_value=dt.datetime(2199, 12, 31)))
        return _fmt_ts(v), v
    if type_name == "date":
        v = draw(st.datetimes(min_value=dt.datetime(1970, 1, 2),
                              max_value=dt.datetime(2199, 12, 31)))
        return _fmt_ts(v), v.date()
    raise AssertionError(type_name)


# Dirty values: ones the expression tier reads as NULL, and ones it
# reads by a rule a second parser must copy exactly (signs, padding,
# overflow, Java float suffixes, calendar limits, multibyte digits).
_INT_JUNK = ["x9", "1.5", "--5", "+7", "1_0", "0x1F", "12a", "99999999999",
             "-", "\u0661\u0662"]
_FLOAT_JUNK = ["1.2.3", "1.5d", "+nan", "NaN", "-Infinity", "1e", "0x1p3",
               "1_0.5", "inf", "1e39"]
_TS_JUNK = [" 1995-06-15-10.30.00", "1995-02-30-10.30.00",
            "1995-06-15-24.00.00", "1995-06-15-10.30.60",
            "1995-06-15-10.30.00.1 2", "+995-06-15-10.30.00",
            "1995-06-15-10.30.00.-1", "1995-6-15-10.30.00", "not-a-timestamp"]
_JUNK = {"int": _INT_JUNK, "long": _INT_JUNK, "float": _FLOAT_JUNK,
         "double": _FLOAT_JUNK, "boolean": ["\u00f1", "yes", " n"],
         "timestamp-micros": _TS_JUNK, "date": _TS_JUNK}


@st.composite
def _table(draw, dirty=False):
    """(schema, rows); a row is (cell texts, expected values). With
    ``dirty``, cells may hold junk and lines may be cut short (down to
    blank) or run long — the expected values then no longer hold."""
    schema = draw(_schema())
    fields = [(f["name"], f["type"]["type"], f["type"]["len"])
              for f in schema["fields"]]
    n_rows = draw(st.integers(min_value=1, max_value=8))
    rows = []
    for _ in range(n_rows):
        cells = [draw(_cell(t, w)) for (_, t, w) in fields]
        texts = [c[0] for c in cells]
        if dirty:
            for i, (_, t, w) in enumerate(fields):
                if t in _JUNK and draw(st.integers(0, 4)) == 0:
                    junk = draw(st.sampled_from(_JUNK[t]))[:w]
                    texts[i] = junk.ljust(w) if t in (
                        "boolean", "timestamp-micros", "date") \
                        else junk.rjust(w)
            shape = draw(st.sampled_from(["exact"] * 3 + ["short", "long"]))
            line = "".join(texts)
            if shape == "short":
                texts = [line[:draw(st.integers(0, len(line) - 1))]]
            elif shape == "long":
                texts.append("".join(draw(
                    st.lists(_ALPHABET, min_size=1, max_size=6))))
        rows.append((texts, [c[1] for c in cells]))
    return schema, rows


# ------------------------------------------------------------------ helpers

def _write_file(tmp_path, rows_text, footer_at=None, eol=CRLF,
                final_eol=True):
    lines = ["".join(cells) for cells in rows_text]
    if footer_at is not None:
        lines.insert(footer_at, "*" * 12 + " trailer")
    p = tmp_path / "data.txt"
    p.write_bytes((eol.join(lines) + (eol if final_eol else ""))
                  .encode("utf-8"))
    return str(p)


def _collect_typed(spark, path, schema):
    df = read_fixed_width(spark, path, json.dumps(schema))
    fs = parse_avro_fixed_schema(json.dumps(schema))
    return [tuple(r) for r in df.collect()], fs


# ------------------------------------------------------------------- tests

@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=_table())
def test_format_parse_roundtrip(spark, tmp_path_factory, data):
    """parse(format(v)) == v for every generated schema/row, including
    multibyte runes in string columns (rune-counted widths)."""
    schema, rows = data
    tmp = tmp_path_factory.mktemp("prop")
    path = _write_file(tmp, [texts for texts, _ in rows])
    got, _ = _collect_typed(spark, path, schema)
    assert len(got) == len(rows)
    # compare as multisets (text source preserves order per file, but
    # don't depend on it); float cells parse bit-identically on both
    # sides (same text → same IEEE value), so repr-keyed sort pairs up
    exp = sorted(map(tuple, (e for _, e in rows)), key=repr)
    act = sorted(got, key=repr)
    for e_row, a_row in zip(exp, act):
        for e, a in zip(e_row, a_row):
            if isinstance(e, float):
                assert a == pytest.approx(e, rel=1e-6)
            else:
                assert a == e, (e_row, a_row)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=_table(), footer_pos=st.integers(min_value=0, max_value=8))
def test_footer_terminates(spark, tmp_path_factory, data, footer_pos):
    """Rows at/after a 12-star footer line are dropped (reference
    semantics: `ColumnBuilder.go:211-214`); rows before it survive."""
    schema, rows = data
    footer_pos = min(footer_pos, len(rows))
    tmp = tmp_path_factory.mktemp("prop")
    path = _write_file(tmp, [texts for texts, _ in rows], footer_at=footer_pos)
    got, _ = _collect_typed(spark, path, schema)
    # Spark filter drops the footer line itself everywhere; rows after a
    # footer are kept only if they parse (single-split local file keeps
    # them — the reference stops mid-chunk; we declare filter semantics)
    assert len(got) == len(rows)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(data=_table(dirty=True), footer_pos=st.integers(0, 8),
       lf_only=st.booleans(), final_eol=st.booleans())
def test_kernel_tiers_match_expression_tier(spark, tmp_path_factory, data,
                                            footer_pos, lf_only, final_eol):
    """Differential: on dirty feeds, the kernel's mapInArrow read and
    the fused Avro writer (any task count, read back from OCF) equal
    the byte-slicing expression tier; on single-byte feeds, also the
    default utf8 tier. The fused writer ends lines at LF either way."""
    schema, rows = data
    texts = [t for t, _ in rows]
    eol = "\n" if lf_only else CRLF
    tmp = tmp_path_factory.mktemp("prop")
    path = _write_file(tmp, texts, footer_at=min(footer_pos, len(rows)),
                       eol=eol, final_eol=final_eol)
    sj = json.dumps(schema)
    tiers = {"arrow": read_fixed_width_arrow(spark, path, sj, line_sep=eol)}
    for tasks in (1, 2, 3, 7):
        out = str(tmp / f"fused{tasks}")
        fixed_width_to_avro_fused(spark, path, sj, out, tasks=tasks)
        tiers[f"fused{tasks}"] = read_avro_ocf(spark, out)
    refs = {"ascii": read_fixed_width(spark, path, sj, line_sep=eol,
                                      encoding="ascii")}
    if all("".join(t).isascii() for t in texts):
        refs["utf8"] = read_fixed_width(spark, path, sj, line_sep=eol)
    for rname, ref in refs.items():
        for tname, tier in tiers.items():
            diff = tier.exceptAll(ref).union(ref.exceptAll(tier))
            assert diff.count() == 0, (rname, tname, diff.collect())


def test_quarantine_splits_bad_rows(spark, tmp_path):
    schema = {"type": "record", "name": "q", "fields": [
        {"name": "I", "type": {"type": "int", "len": 4}},
        {"name": "S", "type": {"type": "string", "len": 4}},
    ]}
    good = ["  12abcd", "  34efgh"]
    bad = [" x9zwxyz", "  99ok"]  # bad int; bad row width
    p = tmp_path / "data.txt"
    p.write_bytes((CRLF.join(good + bad) + CRLF).encode())
    res = read_fixed_width(spark, str(p), json.dumps(schema), with_quarantine=True)
    assert res.clean.count() == 2
    q = {r["_raw_line"]: list(r["_errors"]) for r in res.quarantine.collect()}
    assert q[" x9zwxyz"] == ["bad_I"]
    assert q["  99ok"][0].startswith("row_width:")


def test_approx_count_distinct_bound(spark):
    """B28: approx_count_distinct within ±5% of exact (SURVEY §2 B28)."""
    orders = load_table(spark, "/root/testdata/sf0.01", "orders")
    exact, approx = orders.agg(
        F.countDistinct("o_custkey"), F.approx_count_distinct("o_custkey", 0.02)
    ).first()
    assert abs(approx - exact) / exact <= 0.05, (exact, approx)


def test_hll_sketch_bound(spark):
    """q94's HLL estimate within ±5% of exact per group."""
    from shredder_spark import queries as Q

    est = {r.o_orderpriority: r.u for r in
           Q.registry()["q94_hll_sketch"].run(spark, "/root/testdata/sf0.01").collect()}
    exact = {r.o_orderpriority: r.u for r in spark.sql("""
        SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS u
        FROM orders GROUP BY o_orderpriority""").collect()}
    for k, e in exact.items():
        assert abs(est[k] - e) / e <= 0.05, (k, est[k], e)


# ------------------------------------------- pure-Python Avro codec tier

_AVRO_TYPES = ["boolean", "int", "long", "float", "double", "string", "bytes"]


@st.composite
def _avro_schema_and_rows(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    types = [draw(st.sampled_from(_AVRO_TYPES)) for _ in range(n)]
    fields = [{"name": f"F{i}", "type": ["null", t]} for i, t in enumerate(types)]
    schema = {"type": "record", "name": "prop", "fields": fields}

    def cell(t):
        if draw(st.booleans()) and draw(st.integers(0, 4)) == 0:
            return None
        if t == "boolean":
            return draw(st.booleans())
        if t == "int":
            return draw(st.integers(-(2**31) + 1, 2**31 - 1))
        if t == "long":
            return draw(st.integers(-(2**62), 2**62))
        if t == "float":
            return float(np.float32(draw(st.floats(-1e30, 1e30,
                                                   allow_nan=False))))
        if t == "double":
            return draw(st.floats(allow_nan=False, allow_infinity=True))
        if t == "string":
            return draw(st.text(max_size=40))
        if t == "bytes":
            return bytes(draw(st.binary(max_size=40)))
        raise AssertionError(t)

    rows = [tuple(cell(t) for t in types)
            for _ in range(draw(st.integers(0, 10)))]
    return schema, rows


@settings(max_examples=40, deadline=None, derandomize=True)
@given(data=_avro_schema_and_rows())
def test_avro_codec_roundtrip(data):
    """Pure-Python OCF fallback: decode(encode(rows)) == rows for random
    nullable schemas/values over the whole supported type surface
    (Avro 1.11 binary spec). No Spark needed — codec-level invariant."""
    import io as _io
    import json as _json

    from shredder_spark.sinks.avro_codec import (
        RecordCodec, read_ocf_all, write_ocf)

    schema, rows = data
    rc = RecordCodec(_json.dumps(schema))
    for codec in ("null", "snappy"):
        buf = _io.BytesIO()
        write_ocf(buf, rc, iter(rows), codec=codec)
        buf.seek(0)
        got_schema, got_rows = read_ocf_all(buf)
        assert got_schema["fields"] == schema["fields"]
        assert len(got_rows) == len(rows)
        for exp, act in zip(rows, got_rows):
            assert tuple(act) == exp


# ------------------------------------------------- incremental merge
# algebra: any split of the rows must merge to the direct rollup.

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),         # group key
              st.integers(min_value=-10**6, max_value=10**6),  # additive
              st.integers(min_value=0, max_value=10**9)),      # extremal
    min_size=1, max_size=40),
    cut=st.integers(min_value=0, max_value=40))
def test_merge_rollups_equals_direct(spark, rows, cut):
    from shredder_spark.operators.incremental import merge_rollups

    df = spark.createDataFrame(rows, "k string, v long, w long")
    base = df.limit(min(cut, len(rows)))
    # delta = the complement (exceptAll keeps duplicate multiplicity)
    delta = df.exceptAll(base)

    def rollup(d):
        return d.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("s"),
            F.min("w").alias("lo"), F.max("w").alias("hi"))

    merged = merge_rollups(rollup(base), rollup(delta), keys=["k"],
                           add_cols=["n", "s"], min_cols=["lo"],
                           max_cols=["hi"])
    got = {r.k: (r.n, r.s, r.lo, r.hi) for r in merged.collect()}
    want = {r.k: (r.n, r.s, r.lo, r.hi) for r in rollup(df).collect()}
    assert got == want


# ------------------------------------------------- grouped two-phase ranks

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.lists(
    st.tuples(st.integers(0, 3),          # group key (low-cardinality)
              st.integers(-50, 50)),      # order value (heavy ties)
    min_size=5, max_size=400))
def test_grouped_ranks_property(spark, data):
    """with_grouped_ranks == the window formulation for arbitrary
    group/value multisets (ties on group AND value, groups of wildly
    different sizes, values straddling every bucket boundary)."""
    from pyspark.sql import Window

    from shredder_spark.operators import scale_windows as sw

    rows = [(i, str(g), float(v)) for i, (g, v) in enumerate(data)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
    want = {(r.id, r.rn, r.rk, r.drk, r.nt) for r in
            (df.withColumn("rn", F.row_number().over(w))
               .withColumn("rk", F.rank().over(w))
               .withColumn("drk", F.dense_rank().over(w))
               .withColumn("nt", F.ntile(3).over(w))).collect()}
    got = {(r.id, r.rn, r.rk, r.drk, r.nt) for r in
           sw.with_grouped_ranks(
               df, ["g"], [("v", "desc"), ("id", "asc")],
               row_number_col="rn", rank_col="rk",
               dense_rank_col="drk", ntile=(3, "nt"),
               buckets=5).collect()}
    assert got == want


# ------------------------------------------------- kafka wire codec

@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62),
                min_size=1, max_size=50))
def test_wire_varint_roundtrip_property(ns):
    from shredder_spark.sinks import kafka_wire as kw

    buf = b"".join(kw.write_varint(n) for n in ns)
    pos, got = 0, []
    while pos < len(buf):
        v, pos = kw.read_varint(buf, pos)
        got.append(v)
    assert got == ns


@given(st.lists(
    st.tuples(st.one_of(st.none(), st.binary(max_size=64)),
              st.binary(max_size=256)),
    min_size=1, max_size=40))
def test_wire_record_batch_roundtrip_property(records):
    from shredder_spark.sinks import kafka_wire as kw

    batch = kw.encode_record_batch(records)
    got = list(kw.decode_record_batches(batch))
    assert [(i, k, v) for i, (k, v) in enumerate(records)] == got


@given(st.binary(min_size=1, max_size=512), st.integers(0, 6000))
def test_wire_batch_crc_catches_any_single_flip(value, flip_seed):
    from shredder_spark.sinks import kafka_wire as kw

    batch = bytearray(kw.encode_record_batch([(None, value)]))
    # flip one bit anywhere in the CRC-protected region (byte 21+)
    idx = 21 + flip_seed % (len(batch) - 21)
    batch[idx] ^= 1 << (flip_seed % 8)
    with pytest.raises(ValueError):
        list(kw.decode_record_batches(bytes(batch)))
