"""The columnar fixed-width kernel vs the expression tier.

The contract is EQUALITY: both of the kernel's callers — the
``mapInArrow`` read and the fused Avro writer (read back from its OCF
files) — produce the rows of ``read_fixed_width`` (the semantics
reference, itself golden-tested in test_fixedwidth.py). Edge legs
cover bad numerics → null, footer lines, blank lines, fraction-less
timestamps, pre-1970 dates, ragged lines, multi-file directories and
line alignment at any split count. test_property.py runs the same
comparison on generated feeds.
"""

from __future__ import annotations

import pytest

from shredder_spark.sinks.avro import read_avro_ocf
from shredder_spark.sinks.avro_vec import fixed_width_to_avro_fused
from shredder_spark.sources.fixedwidth import read_fixed_width
from shredder_spark.sources.fixedwidth_arrow import (
    plan_ranges,
    read_fixed_width_arrow,
)
from tests.fixtures import (
    F1_WEBLOG_SCHEMA, F2_ALLTYPES_SCHEMA, F3_UTF8_SCHEMA,
    write_f1, write_f2, write_f3,
)

SCHEMA = {
    "type": "record",
    "name": "edge",
    "encoding": "ascii",
    "fields": [
        {"name": "id", "type": "long", "len": 6},
        {"name": "qty", "type": "int", "len": 4},
        {"name": "price", "type": "double", "len": 10},
        {"name": "ratio", "type": "float", "len": 8},
        {"name": "flag", "type": "boolean", "len": 1},
        {"name": "name", "type": "string", "len": 8},
        {"name": "ts", "type": {"type": "long",
                                "logicalType": "timestamp-micros",
                                "len": 26}},
        {"name": "d", "type": {"type": "int", "logicalType": "date",
                               "len": 26}},
    ],
}
W = 6 + 4 + 10 + 8 + 1 + 8 + 26 + 26


def _row(id_, qty, price, ratio, flag, name, ts, d) -> str:
    line = (f"{id_:>6}{qty:>4}{price:>10}{ratio:>8}{flag:1}"
            f"{name:<8}{ts:<26}{d:<26}")
    assert len(line) == W, (len(line), W)
    return line


LINES = [
    _row(1, 10, "12.50", "0.25", "J", "alpha", "1995-06-15-10.30.00.123456",
         "1995-06-15-00.00.00"),
    _row(-22, 0, "-99.99", "1e3", "N", "beta  x", "1970-01-01-00.00.00",
         "1970-01-01-00.00.00"),
    # bad numerics + bad bool + bad ts -> nulls everywhere fallible
    _row("xx", "y", "zz", "pp", "Q", "gamma", "not-a-ts-aa.bb.cc",
         "9999-99-99-00.00.00"),
    # pre-1970 and 2038 boundary, fraction-less + fractional
    _row(4, 7, "0.0", "0.5", "Y", "", "1969-12-31-23.59.59",
         "2038-01-19-03.14.07"),
    _row(5, 1, "3.25", "2.5", "j", "padded  ", "2000-02-29-12.00.00.5",
         "2000-02-29-12.00.00"),
    # a pre-1970 date with a time of day floors to its own day
    _row(6, 2, "1.0", "1.0", "N", "pre", "1969-12-31-12.00.00",
         "1969-12-31-12.00.00"),
]


def _write(path, lines, end="\r\n"):
    path.write_bytes((end.join(lines) + end).encode())
    return str(path)


@pytest.fixture()
def feed(tmp_path):
    return _write(tmp_path / "feed.txt", LINES)


def _fused(spark, path, schema, out, tasks):
    fixed_width_to_avro_fused(spark, path, schema, str(out), tasks=tasks)
    return read_avro_ocf(spark, str(out))


def _assert_equal(a, e):
    assert a.count() == e.count()
    assert a.exceptAll(e).count() == 0
    assert e.exceptAll(a).count() == 0


def test_arrow_map_tier_equals_expression_tier(spark, feed):
    a = read_fixed_width_arrow(spark, feed, SCHEMA)
    e = read_fixed_width(spark, feed, SCHEMA)
    _assert_equal(a, e)


def test_fused_tier_equals_expression_tier(spark, feed, tmp_path):
    a = _fused(spark, feed, SCHEMA, tmp_path / "out", tasks=3)
    e = read_fixed_width(spark, feed, SCHEMA)
    _assert_equal(a, e)


@pytest.mark.parametrize("schema,writer", [
    (F1_WEBLOG_SCHEMA, write_f1),
    (F2_ALLTYPES_SCHEMA, write_f2),
    (F3_UTF8_SCHEMA, write_f3),
], ids=["f1", "f2", "f3"])
def test_fixture_files_match_expression_tier(spark, tmp_path, schema, writer):
    # F2 ends in a footer line; F3 holds multibyte runes, so the
    # reference is the byte-slicing expression tier
    path = str(tmp_path / "feed.txt")
    writer(path)
    e = read_fixed_width(spark, path, schema, encoding="ascii")
    a = read_fixed_width_arrow(spark, path, schema)
    assert a.schema == e.schema
    _assert_equal(a, e)
    _assert_equal(_fused(spark, path, schema, tmp_path / "out", 5), e)


def test_fused_footer_rows_independent_of_tasks(spark, tmp_path):
    # A footer line is dropped wherever it sits — the expression tier's
    # filter rule — so no split count cuts the rows after it.
    body = [_row(i, i % 10, "1.5", "2.5", "J", f"n{i}",
                 "1995-06-15-10.30.00", "1995-06-15-00.00.00")
            for i in range(200)]
    body.insert(50, "*" * 12 + " trailer".ljust(W - 12))
    path = _write(tmp_path / "footer.txt", body)
    e = read_fixed_width(spark, path, SCHEMA)
    assert e.count() == 200
    for tasks in (1, 2, 4):
        _assert_equal(
            _fused(spark, path, SCHEMA, tmp_path / f"out{tasks}", tasks), e)


def test_ragged_lines_fallback(spark, tmp_path):
    # short and over-long lines take the ragged fallback: fields past a
    # short line's end are null (numbers) or clipped (strings), bytes
    # past the declared width are ignored — as substring does
    schema = {"type": "record", "name": "r", "encoding": "ascii",
              "fields": [{"name": "id", "type": "long", "len": 4},
                         {"name": "s", "type": "string", "len": 8},
                         {"name": "v", "type": "double", "len": 6}]}
    lines = ["   1abcdefgh   2.5", "   2s005", "   3abcdefgh   4.5xyz",
             "   4ab"]
    path = _write(tmp_path / "ragged.txt", lines)
    e = read_fixed_width(spark, path, schema)
    assert e.filter("id = 2").first().s == "s005"
    _assert_equal(read_fixed_width_arrow(spark, path, schema), e)
    _assert_equal(_fused(spark, path, schema, tmp_path / "out", 2), e)


def test_bad_numerics_null_not_throw(spark, feed, tmp_path):
    for a in (read_fixed_width_arrow(spark, feed, SCHEMA),
              _fused(spark, feed, SCHEMA, tmp_path / "out", 2)):
        bad = [r for r in a.collect() if r.id is None]
        assert len(bad) == 1
        r = bad[0]
        assert r.qty is None and r.price is None and r.flag is None \
            and r.ts is None and r.name == "gamma   "


def test_multifile_directory(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    _write(d / "a.txt", LINES[:2])
    _write(d / "b.txt", LINES[3:5])
    (d / "_SUCCESS").write_bytes(b"")
    for a in (read_fixed_width_arrow(spark, str(d), SCHEMA),
              _fused(spark, str(d), SCHEMA, tmp_path / "out", 4)):
        assert a.count() == 4
        assert {r.id for r in a.collect()} == {1, -22, 4, 5}


def test_fused_partition_planning_and_boundary_alignment(spark, tmp_path):
    # Odd task counts put range boundaries mid-line; every row must
    # appear exactly once (reference CRLF-alignment semantics,
    # common/fixed.go:150-164).
    path = str(tmp_path / "f1.txt")
    write_f1(path, rows=1000)
    for tasks in (1, 3, 7, 16):
        assert len(plan_ranges(path, tasks)) == tasks
        df = _fused(spark, path, F1_WEBLOG_SCHEMA, tmp_path / f"o{tasks}",
                    tasks)
        ids = sorted(r[0] for r in df.select(df.columns[0]).collect())
        assert ids == list(range(1000)), f"tasks={tasks}"
