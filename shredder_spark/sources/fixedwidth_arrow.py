"""Columnar fixed-width kernel: line bytes → byte matrix → typed Arrow batch.

The expression tier (`fixedwidth.read_fixed_width`) is the semantic
spec; this module is its one numpy implementation, shared by two
callers:

- :func:`read_fixed_width_arrow` — ``spark.read.text`` does the
  distributed split (HDFS-style byte ranges + line fixup), then one
  ``mapInArrow`` pass parses each batch of lines;
- ``sinks.avro_vec.fixed_width_to_avro_fused`` — plans byte ranges
  once, before the job, with :func:`plan_ranges`; each task turns its
  ranges into typed batches with :func:`range_batches` and encodes
  them to Avro without the rows ever entering the JVM.

Within a batch, all rows of a clean fixed-width feed have one width,
so the line bytes ARE an ``n × width`` byte matrix (zero copies;
column slices are views). Numerics go through Arrow's C++ trim + cast
kernels, and the custom ``yyyy-MM-dd-HH.mm.ss[.ffffff]`` timestamps
are composed from sliced digit fields with the days-from-civil
formula — no per-row formatter. A batch whose rows differ in width
takes the one ragged fallback (:func:`_ragged_matrix`): rows are
padded/truncated to the declared width, and string/bytes values are
clipped to the row's real bytes, as ``substring`` is past a short
line's end. Values the vector paths reject (malformed numbers, odd
timestamps) are re-read per element with the expression tier's own
rules, so a bad field yields NULL (the ``try_cast`` contract) and
never a different value.

Semantics: equal to ``read_fixed_width(..., encoding="ascii")`` — both
slice bytes — on any feed (property-tested in tests/test_property.py),
and so to the default utf8 tier on single-byte feeds. Footer lines
(``FOOTER_PREFIX``) and blank lines are dropped wherever they occur,
the expression tier's filter rule. Lines end at ``\\n`` with one
trailing ``\\r`` stripped in the byte-range path, which therefore reads
CRLF and LF-only feeds alike; the ``mapInArrow`` read splits on its
``line_sep`` like the expression tier.

Reference parity: same A6-A21 surface as sources/fixedwidth.py
(`fixed2avro/ColumnBuilder.go:98-227` field loop, reimplemented as
columnar batch ops).
"""

from __future__ import annotations

import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from shredder_spark.avro_schema import FixedSchema, parse_avro_fixed_schema
from shredder_spark.sources.fixedwidth import FOOTER_PREFIX

_SPARK_TYPES = {
    "boolean": "boolean",
    "bytes": "binary",
    "Bytes": "binary",
    "float": "float",
    "double": "double",
    "int": "int",
    "long": "long",
    "string": "string",
    "date": "date",
    "timestamp-millis": "timestamp",
    "timestamp-micros": "timestamp",
}

# rows per typed batch in the byte-range path (bounds a task's memory)
_BATCH_ROWS = 65536


def _ddl(fs: FixedSchema) -> str:
    return ", ".join(f"{f.name} {_SPARK_TYPES[f.type_name]}"
                     for f in fs.fields)


def _field(mat: np.ndarray, start: int, length: int) -> list[bytes]:
    """One field's raw bytes per row (the per-element slow paths)."""
    return [r.tobytes() for r in mat[:, start:start + length]]


def _var_array(mat: np.ndarray, start: int, length: int,
               row_len: np.ndarray | None, pa_type) -> pa.Array:
    """Fixed-width string/binary column: one contiguous byte blob +
    arithmetic offsets (pa.py_buffer wraps the numpy memory — no
    tobytes round trip). With ``row_len`` (ragged rows) each value is
    clipped to the row's real bytes."""
    n = mat.shape[0]
    sl = np.ascontiguousarray(mat[:, start:start + length])
    if row_len is None:
        blob = sl.reshape(-1)
        offsets = np.arange(0, (n + 1) * length, length, dtype=np.int32)
    else:
        lens = np.clip(row_len - start, 0, length)
        blob = sl[np.arange(length) < lens[:, None]]
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
    return pa.Array.from_buffers(
        pa_type, n, [None, pa.py_buffer(offsets), pa.py_buffer(blob)])


# Spark's string → number casts, per element: trim bytes ≤ 0x20, then
# an optional sign and ASCII digits (ints), or Java's decimal / hex
# float grammar with an optional d/f suffix, or an inf/nan word
# (floats). Anything else is NULL, as under try_cast.
_WS = bytes(range(33))
_INT_RE = re.compile(rb"[+-]?[0-9]+")
_DEC_RE = re.compile(rb"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)")
_FLOAT_RE = re.compile(
    rb"([+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?)[dDfF]?")
_HEX_FLOAT_RE = re.compile(
    rb"([+-]?0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)"
    rb"[pP][+-]?[0-9]+)[dDfF]?")
# looked up as written (Java's signed NaN), then lower-cased (Spark)
_FLOAT_WORDS = {b"+NaN": math.nan, b"-NaN": math.nan, b"nan": math.nan,
                b"inf": math.inf, b"+inf": math.inf,
                b"infinity": math.inf, b"+infinity": math.inf,
                b"-inf": -math.inf, b"-infinity": -math.inf}
_INT_RANGE = {"int": (-2 ** 31, 2 ** 31 - 1),
              "long": (-2 ** 63, 2 ** 63 - 1)}


def _int_exact(b: bytes, lo: int = -2 ** 31, hi: int = 2 ** 31 - 1):
    b = b.strip(_WS)
    if _INT_RE.fullmatch(b) is None:
        return None
    v = int(b)
    return v if lo <= v <= hi else None


def _float_exact(b: bytes):
    b = b.strip(_WS)
    m = _FLOAT_RE.fullmatch(b)
    if m is not None:
        return float(m.group(1))
    m = _HEX_FLOAT_RE.fullmatch(b)
    if m is not None:
        return float.fromhex(m.group(1).decode())
    return _FLOAT_WORDS.get(b, _FLOAT_WORDS.get(b.lower()))


def _num_array(mat: np.ndarray, start: int, length: int, tname: str,
               pa_type) -> pa.Array:
    # fast path (the parse leg of the ingest bar): zero-copy string
    # view → Arrow C++ ascii-trim + cast kernels. Arrow also reads hex
    # ints ("0x1f") and signed NaN, which Spark's casts reject, so a
    # column holding either takes the exact per-element path too.
    strs = _var_array(mat, start, length, None, pa.string())
    try:
        vals = pc.cast(pc.ascii_trim_whitespace(strs), pa_type)
        if tname in _INT_RANGE:  # any x or X byte
            suspect = ((np.frombuffer(strs.buffers()[2], np.uint8) | 32)
                       == ord("x")).any()
        else:
            suspect = pc.any(pc.is_nan(vals)).as_py()
        if not suspect:
            return vals
    except pa.ArrowInvalid:
        pass
    raw = _field(mat, start, length)
    if tname in _INT_RANGE:
        lo, hi = _INT_RANGE[tname]
        return pa.array([_int_exact(b, lo, hi) for b in raw], type=pa_type)
    return pa.array([_float_exact(b) for b in raw], type=pa_type)


def _days_from_civil(y: np.ndarray, m: np.ndarray,
                     d: np.ndarray) -> np.ndarray:
    """Vectorized Howard Hinnant days-from-civil (public algorithm):
    days since 1970-01-01 for proleptic-Gregorian y/m/d."""
    y = y - (m <= 2)
    era = y // 400  # floor division: no negative-year adjustment
    yoe = y - era * 400
    doy = (153 * (m + np.where(m > 2, -3, 9)) + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


_MONTH_DAYS = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31])


def _days_in_month(y: np.ndarray, mo: np.ndarray) -> np.ndarray:
    leap = (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    return _MONTH_DAYS[np.clip(mo, 0, 12)] + ((mo == 2) & leap)


def _spark_chars(b: bytes) -> list[bytes]:
    """Split bytes into characters the way Spark's UTF8String counts
    them (by lead byte), so substring offsets match on any input."""
    out, i = [], 0
    while i < len(b):
        c = b[i]
        k = (2 if 0xC2 <= c <= 0xDF else 3 if 0xE0 <= c <= 0xEF
             else 4 if 0xF0 <= c <= 0xF4 else 1)
        out.append(b[i:i + k])
        i += k
    return out


def _ts_exact(field: bytes):
    """One timestamp field → epoch micros or None, exactly as
    ``fixedwidth._ts_micros_expr`` reads it: trim spaces, slice the
    components by character, ``try_cast`` each, validate as
    ``try_make_timestamp`` does, add the rpad'ed fraction. The slow
    path for rows the vector parse in :func:`_ts_micros` rejects."""
    t = _spark_chars(field.strip(b" "))

    def sub(pos: int, n: int) -> bytes:
        return b"".join(t[pos - 1:pos - 1 + n])

    y, mo, d, hh, mi = (_int_exact(sub(p, n)) for p, n in
                        ((1, 4), (6, 2), (9, 2), (12, 2), (15, 2)))
    sec = sub(18, 2).strip(_WS)  # seconds: try_cast decimal(2,0)
    if None in (y, mo, d, hh, mi) or _DEC_RE.fullmatch(sec) is None:
        return None
    ss = int(Decimal(sec.decode()).quantize(
        Decimal(1), rounding=ROUND_HALF_UP))
    if not (1 <= mo <= 12 and 0 <= hh <= 23 and 0 <= mi <= 59
            and 0 <= ss <= 60):
        return None
    if not 1 <= d <= int(_days_in_month(np.array(y), np.array(mo))):
        return None
    frac = 0
    if len(t) > 20:
        text = b"".join(t[20:26])
        if len(text) != len(t[20:26]):  # multibyte: not a number
            return None
        frac = _int_exact(text.ljust(6, b"0"), *_INT_RANGE["long"])
        if frac is None:
            return None
    days = int(_days_from_civil(np.array(y), np.array(mo), np.array(d)))
    return (((days * 24 + hh) * 60 + mi) * 60 + ss) * 1_000_000 + frac


# `yyyy-MM-dd-HH.mm.ss` component digit positions (relative to field
# start) and one (19 × 6) weight matrix: components = digits @ _TS_M —
# a single BLAS matvec replaces six per-component `_digits` loops
# (the parse leg of the ingest bar; ~4× on this stage).
_TS_WINDOWS = ((0, 4), (5, 7), (8, 10), (11, 13), (14, 16), (17, 19))
_TS_DIGIT_POS = np.array(
    [j for lo, hi in _TS_WINDOWS for j in range(lo, hi)])
_TS_SEP_POS = np.array([4, 7, 10, 13, 16, 19])
# float32 is exact here: every weighted digit sum is an integer
# ≤ 9999 (components) or ≤ 999999 (fraction), far under 2^24
_TS_M = np.zeros((19, 6), dtype=np.float32)
for _c, (_lo, _hi) in enumerate(_TS_WINDOWS):
    for _j in range(_lo, _hi):
        _TS_M[_j, _c] = 10.0 ** (_hi - 1 - _j)


def _ts_micros(mat: np.ndarray, start: int, length: int):
    """`yyyy-MM-dd-HH.mm.ss[.ffffff]` → (epoch micros, null mask).

    Vector path for the well-formed shape: ASCII digits at the 19
    component positions, ASCII separators (not re-validated,
    reference parity), a valid calendar date and time, and a fraction
    that is a digit prefix followed by spaces, right-padded to micros.
    Every other row is either blank (→ null) or re-read by
    :func:`_ts_exact`."""
    n = mat.shape[0]
    fld = mat[:, start:start + length].view(np.uint8)
    sl = fld[:, :20]
    if sl.shape[1] < 20:  # truncated field → pad (those rows go slow)
        sl = np.concatenate(
            [sl, np.full((n, 20 - sl.shape[1]), ord(" "),
                         dtype=np.uint8)], axis=1)
    is_digit = (sl[:, :19] >= ord("0")) & (sl[:, :19] <= ord("9"))
    ok = is_digit[:, _TS_DIGIT_POS].all(axis=1) \
        & (sl[:, _TS_SEP_POS] < 0x80).all(axis=1)
    # (byte-48) wraps for non-digits; ×is_digit zeroes them — all in
    # uint8, then one float32 sgemm extracts every component at once
    dv = ((sl[:, :19] - np.uint8(48)) * is_digit).astype(np.float32)
    comps = (dv @ _TS_M).astype(np.int64)  # y mo d hh mi ss
    y, mo, d = comps[:, 0], comps[:, 1], comps[:, 2]
    hh, mi, ss = comps[:, 3], comps[:, 4], comps[:, 5]
    # fraction: a DIGIT PREFIX right-padded to micros, then field pad
    # spaces (the expression tier trims the value before rpad'ing the
    # fraction with zeros — '.5    ' means 500000 µs). Weight of
    # fraction digit i is 10^(5-i) regardless of how many digits
    # follow. Bytes past the 6-digit window must be spaces too.
    frac = np.zeros(n, dtype=np.int64)
    fw = min(6, max(0, length - 20))
    if fw > 0:
        fsl = fld[:, 20:20 + fw]
        digit = (fsl >= ord("0")) & (fsl <= ord("9"))
        pref = np.logical_and.accumulate(digit, axis=1)
        ok &= (pref | (fsl == ord(" "))).all(axis=1)
        fd = ((fsl - np.uint8(48)) * pref).astype(np.float32)
        frac = (fd @ (10.0 ** np.arange(5, 5 - fw, -1,
                                        dtype=np.float32))) \
            .astype(np.int64)
    if length > 26:
        ok &= (fld[:, 26:] == ord(" ")).all(axis=1)
    ok &= (mo >= 1) & (mo <= 12) & (d >= 1) & (hh <= 23) & (mi <= 59) \
        & (ss <= 60)
    late = np.flatnonzero(ok & (d > 28))
    ok[late] = d[late] <= _days_in_month(y[late], mo[late])
    safe = lambda a, lo: np.where(ok, a, lo)  # noqa: E731
    days = _days_from_civil(safe(y, 1970), safe(mo, 1), safe(d, 1))
    micros = (((days * 24 + safe(hh, 0)) * 60 + safe(mi, 0)) * 60
              + safe(ss, 0)) * 1_000_000 + frac
    null = ~ok
    slow = np.flatnonzero(null)
    slow = slow[(fld[slow] != ord(" ")).any(axis=1)]
    for i, b in zip(slow, _field(fld[slow], 0, length)):
        v = _ts_exact(b)
        if v is not None:
            micros[i], null[i] = v, False
    return micros, null


def _bool_array(mat: np.ndarray, start: int, length: int) -> pa.Array:
    """First non-space char: J/Y → true, N → false, else null
    (fixedwidth._cast_expr boolean parity; fields are 1-char in
    practice, ltrim handled by taking the first non-space)."""
    sl = mat[:, start:start + length].view(np.uint8)
    first = sl[:, 0].copy()
    for i in range(1, sl.shape[1]):  # ltrim across the (tiny) width
        is_space = first == ord(" ")
        first = np.where(is_space, sl[:, i], first)
    up = np.where((first >= ord("a")) & (first <= ord("z")),
                  first - 32, first)
    t = (up == ord("J")) | (up == ord("Y"))
    f = up == ord("N")
    return pa.array(t, type=pa.bool_(), mask=~(t | f))


_NUM_TYPES = {"int": pa.int32(), "long": pa.int64(),
              "float": pa.float32(), "double": pa.float64()}


def _parse_batch(mat: np.ndarray, fs: FixedSchema,
                 row_len: np.ndarray | None = None) -> pa.RecordBatch:
    """n × width byte matrix → typed batch. ``row_len`` carries each
    row's real byte length when the rows were ragged."""
    cols, pos = [], 0
    for f in fs.fields:
        t = f.type_name
        if t == "string":
            cols.append(_var_array(mat, pos, f.length, row_len,
                                   pa.string()))
        elif t in ("bytes", "Bytes"):
            cols.append(_var_array(mat, pos, f.length, row_len,
                                   pa.binary()))
        elif t in _NUM_TYPES:
            cols.append(_num_array(mat, pos, f.length, t, _NUM_TYPES[t]))
        elif t == "boolean":
            cols.append(_bool_array(mat, pos, f.length))
        elif t in ("timestamp-millis", "timestamp-micros"):
            micros, null = _ts_micros(mat, pos, f.length)
            cols.append(pa.array(micros, type=pa.timestamp("us"),
                                 mask=null))
        elif t == "date":
            micros, null = _ts_micros(mat, pos, f.length)
            cols.append(pa.array(
                (micros // 86_400_000_000).astype(np.int32),
                type=pa.date32(), mask=null))
        else:  # pragma: no cover
            raise ValueError(f"unsupported type {t!r}")
        pos += f.length
    names = [f.name for f in fs.fields]
    return pa.RecordBatch.from_arrays(cols, names=names)


def _ragged_matrix(lines: list[bytes], width: int):
    """The ragged-row fallback of both reads: rows of any byte length
    → (n × width matrix, each row space-padded or truncated; each
    row's real byte length, for :func:`_parse_batch`'s clipping)."""
    row_len = np.fromiter(map(len, lines), dtype=np.int64,
                          count=len(lines))
    blob = b"".join(ln[:width].ljust(width, b" ") for ln in lines)
    mat = np.frombuffer(blob, dtype="S1").reshape(len(lines), width)
    return mat, row_len


# ------------------------------------------------------ byte-range path

def plan_ranges(path: str, tasks: int) -> list[tuple[str, int, int]]:
    """Split a feed (one file, or a directory's data files) into
    ``(file, start, end)`` byte ranges of about ``total / tasks`` bytes
    each. A range owns every line that STARTS inside it (the HDFS split
    convention), so any split reads every line exactly once."""
    if os.path.isdir(path):
        # Spark text-source directory convention: skip _SUCCESS,
        # _manifest and dotfiles
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith(("_", "."))
            and os.path.isfile(os.path.join(path, f)))
    else:
        files = [path]
    sizes = [os.path.getsize(f) for f in files]
    chunk = max(1, math.ceil(sum(sizes) / max(tasks, 1)))
    return [(f, s, min(s + chunk, size))
            for f, size in zip(files, sizes)
            for s in range(0, size, chunk)]


def _read_range(path: str, start: int, end: int) -> bytes:
    """The bytes of the whole lines that start in ``[start, end)``."""
    with open(path, "rb") as fh:
        if start > 0:
            fh.seek(start - 1)
            fh.readline()  # the previous range owns this line
        a = fh.tell()
        if a >= end:
            return b""
        data = fh.read(end - a)
        if not data.endswith(b"\n"):
            data += fh.readline()  # finish our final line
    return data


def _lines_matrix(data: bytes, width: int, footer: bytes):
    """Line bytes → (matrix, row_len or None), footer and blank lines
    dropped. Fast path: uniform width + CRLF rows reshape in place."""
    w2 = width + 2
    if data and len(data) % w2 == 0:
        mat = np.frombuffer(data, dtype="S1").reshape(-1, w2)
        if (mat[:, width] == b"\r").all() \
                and (mat[:, width + 1] == b"\n").all():
            mat = mat[:, :width]
            if footer and len(footer) <= width:
                is_footer = (mat[:, :len(footer)].view(np.uint8)
                             == np.frombuffer(footer, np.uint8)).all(axis=1)
                if is_footer.any():
                    mat = mat[~is_footer]
            return mat, None
    lines = (ln[:-1] if ln.endswith(b"\r") else ln
             for ln in data.split(b"\n"))
    return _ragged_matrix(
        [ln for ln in lines
         if ln and not (footer and ln.startswith(footer))], width)


def range_batches(fs: FixedSchema, path: str, start: int,
                  end: int) -> Iterator[pa.RecordBatch]:
    """Typed batches of the lines one :func:`plan_ranges` range owns."""
    mat, row_len = _lines_matrix(_read_range(path, start, end),
                                 fs.row_width, FOOTER_PREFIX.encode())
    for j in range(0, mat.shape[0], _BATCH_ROWS):
        yield _parse_batch(
            mat[j:j + _BATCH_ROWS], fs,
            None if row_len is None else row_len[j:j + _BATCH_ROWS])


# ------------------------------------------------------- mapInArrow read

def read_fixed_width_arrow(
    spark: SparkSession,
    path: str,
    schema: str | dict | FixedSchema,
    *,
    line_sep: str = "\r\n",
    footer_prefix: str = FOOTER_PREFIX,
) -> DataFrame:
    """Arrow-tier fixed-width read: same result as
    ``read_fixed_width(..., encoding="ascii")``, parsed in numpy
    batches instead of per-column JVM casts."""
    from shredder_spark.utils import ensure_package_on_executors

    fs = schema if isinstance(schema, FixedSchema) \
        else parse_avro_fixed_schema(schema)
    width = fs.row_width
    ensure_package_on_executors(spark)

    lines = spark.read.text(path, lineSep=line_sep)
    if footer_prefix:
        lines = lines.filter(~F.col("value").startswith(footer_prefix))
    lines = lines.filter(F.length("value") > 0)

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            col = batch.column(0)
            n = len(col)
            if n == 0:
                continue
            big = pa.types.is_large_string(col.type)
            offsets = np.frombuffer(
                col.buffers()[1], dtype=np.int64 if big else np.int32,
                count=n + 1, offset=col.offset * (8 if big else 4))
            if col.null_count == 0 \
                    and offsets[-1] - offsets[0] == n * width \
                    and (np.diff(offsets) == width).all():
                data = np.frombuffer(col.buffers()[2], dtype="S1")
                yield _parse_batch(
                    data[offsets[0]:offsets[-1]].reshape(n, width), fs)
            else:
                mat, row_len = _ragged_matrix(
                    [b or b"" for b in col.cast(pa.binary()).to_pylist()],
                    width)
                yield _parse_batch(mat, fs, row_len)

    return lines.mapInArrow(parse, _ddl(fs))
