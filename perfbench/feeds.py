"""Seeded fixed-width feeds in the reference's benchmark shape
(30 fields, 528 runes per row, CRLF line ends) and the typed rows each
feed is expected to parse to.

The feed is built column by column in a ``(rows, 528)`` byte matrix
with numpy, so the expected values are the generator's own arrays and
never come from the program's parser.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# (name, type, len, decimals); 30 fields, Σ len = 528
FIELDS = [
    ("order_key", "long", 12, None),
    ("part_key", "long", 12, None),
    ("supp_key", "long", 12, None),
    ("line_no", "int", 4, None),
    ("quantity", "double", 12, 2),
    ("ext_price", "double", 14, 2),
    ("discount", "double", 8, 3),
    ("tax", "double", 8, 3),
    ("return_flag", "string", 1, None),
    ("line_status", "string", 1, None),
    ("ship_ts", "timestamp-micros", 26, None),
    ("commit_ts", "timestamp-micros", 26, None),
    ("receipt_ts", "timestamp-micros", 26, None),
    ("ship_instruct", "string", 25, None),
    ("ship_mode", "string", 10, None),
    ("comment", "string", 59, None),
    ("is_return", "boolean", 1, None),
    ("is_open", "boolean", 1, None),
    ("qty_int", "int", 6, None),
    ("price_cents", "long", 12, None),
    ("disc_bp", "int", 6, None),
    ("tax_bp", "int", 6, None),
    ("pad1", "string", 40, None),
    ("pad2", "string", 40, None),
    ("pad3", "string", 40, None),
    ("pad4", "string", 40, None),
    ("pad5", "string", 40, None),
    ("key_str", "string", 20, None),
    ("region_code", "int", 4, None),
    ("checksum", "long", 16, None),
]
ROW_WIDTH = sum(f[2] for f in FIELDS)
assert ROW_WIDTH == 528
LINE_BYTES = ROW_WIDTH + 2


def schema(ascii_declared: bool) -> dict:
    """The feed's Avro schema with per-field ``len``; ``ascii_declared``
    adds the top-level ``"encoding": "ascii"`` declaration."""
    fields = []
    for name, t, ln, _ in FIELDS:
        if t == "timestamp-micros":
            fields.append({"name": name, "type": {"type": "long", "logicalType": t, "len": ln}})
        else:
            fields.append({"name": name, "type": t, "len": ln})
    out = {"type": "record", "name": "bench528", "fields": fields}
    if ascii_declared:
        out["encoding"] = "ascii"
    return out


_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
_WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "quick", "brown", "fox",
          "pending", "final", "deposits", "sleep", "carefully", "ironic"]
_MULTIBYTE = ["é", "ß", "中", "ö", "ñ", "€", "文", "å"]
# shares of the dirty feed's rows with a multibyte comment, a malformed
# numeric (quarantined) and a short ragged line (quarantined)
MULTIBYTE_SHARE, MALFORMED_SHARE, RAGGED_SHARE = 0.05, 0.01, 0.01
_TS_LO = 788_918_400_000_000          # 1995-01-01 UTC, micros
_TS_HI = 1_009_843_200_000_000        # 2002-01-01 UTC


def _digits(out: np.ndarray, col: int, width: int, v: np.ndarray, zero_pad: bool = False) -> None:
    """Write non-negative ints right-aligned into ``out[:, col:col+width]``
    (leading blanks, or zeros with ``zero_pad``)."""
    v = v.astype(np.int64).copy()
    for j in range(col + width - 1, col - 1, -1):
        if zero_pad or j == col + width - 1:
            out[:, j] = 48 + v % 10
        else:
            out[:, j] = np.where(v == 0, 32, 48 + v % 10)
        v //= 10


def _decimal(out, col, width, hundredths, dec):
    """Fixed-point text ``iii.ff`` right-aligned in ``width``."""
    scale = 10 ** dec
    _digits(out, col, width - dec - 1, hundredths // scale)
    out[:, col + width - dec - 1] = ord(".")
    _digits(out, col + width - dec, dec, hundredths % scale, zero_pad=True)


def _timestamp(out, col, micros):
    dt = micros.astype("datetime64[us]")
    days = dt.astype("datetime64[D]")
    y = dt.astype("datetime64[Y]").astype(np.int64) + 1970
    m = dt.astype("datetime64[M]").astype(np.int64) % 12 + 1
    d = (days - dt.astype("datetime64[M]").astype("datetime64[D]")).astype(np.int64) + 1
    sod = (micros // 1_000_000) % 86400
    parts = [(y, 4), (m, 2), (d, 2), (sod // 3600, 2), (sod // 60 % 60, 2), (sod % 60, 2),
             (micros % 1_000_000, 6)]
    seps = "---..."                   # yyyy-MM-dd-HH.mm.ss.ffffff
    pos = col
    for i, (v, w) in enumerate(parts):
        _digits(out, pos, w, v, zero_pad=True)
        pos += w
        if i < len(seps):
            out[:, pos] = ord(seps[i])
            pos += 1


def _strings(out, col, width, vocab: list[bytes], idx: np.ndarray) -> None:
    """Left-aligned, blank-padded ASCII strings ``vocab[idx]``."""
    table = np.frombuffer(b"".join(v.ljust(width) for v in vocab), dtype=np.uint8)
    out[:, col:col + width] = table.reshape(len(vocab), width)[idx]


def _text_column(mat: np.ndarray, start: int, width: int) -> np.ndarray:
    """The ASCII text of ``mat[:, start:start+width]`` as str objects."""
    import pyarrow as pa

    raw = np.ascontiguousarray(mat[:, start:start + width]).tobytes()
    offsets = np.arange(0, len(raw) + 1, width, dtype=np.int32)
    arr = pa.Array.from_buffers(pa.string(), len(offsets) - 1,
                                [None, pa.py_buffer(offsets), pa.py_buffer(raw)])
    return arr.to_numpy(zero_copy_only=False)


class Feed:
    """One generated feed: the file's bytes, the expected clean rows and
    the injected-defect bookkeeping."""

    def __init__(self, seed: int, rows: int, *, dirty: bool) -> None:
        rng = np.random.default_rng(seed)
        n = rows
        self.rows = n
        cols: dict[str, np.ndarray] = {}
        # ten digits on every row, unique within the feed
        cols["order_key"] = (1_000_000_000 + int(rng.integers(0, 1000)) * 1_000_000
                             + np.arange(n, dtype=np.int64))
        cols["part_key"] = rng.integers(0, 200_000, n)
        cols["supp_key"] = rng.integers(0, 10_000, n)
        cols["line_no"] = rng.integers(1, 8, n)
        qty = rng.integers(100, 5001, n)
        cols["quantity"] = qty
        cols["ext_price"] = rng.integers(90_000, 10_500_000, n)
        cols["discount"] = rng.integers(0, 101, n)
        cols["tax"] = rng.integers(0, 81, n)
        # string fields: (vocabulary, index) pairs, laid out by fancy indexing
        strs: dict[str, tuple[list[bytes], np.ndarray]] = {}
        strs["return_flag"] = ([b"A", b"N", b"R"], rng.integers(0, 3, n))
        strs["line_status"] = ([b"F", b"O"], rng.integers(0, 2, n))
        ship = rng.integers(_TS_LO, _TS_HI, n)
        cols["ship_ts"] = ship
        cols["commit_ts"] = ship + 30 * 86_400_000_000 + rng.integers(0, 86_400_000_000, n)
        cols["receipt_ts"] = ship + 45 * 86_400_000_000 + rng.integers(0, 86_400_000_000, n)
        strs["ship_instruct"] = ([s.encode() for s in _INSTRUCT], rng.integers(0, 4, n))
        strs["ship_mode"] = ([s.encode() for s in _MODES], rng.integers(0, 7, n))
        comments = [" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), 7)).encode()[:59]
                    for _ in range(4096)]
        strs["comment"] = (comments, rng.integers(0, 4096, n))
        cols["is_return"] = rng.integers(0, 2, n).astype(bool)
        cols["is_open"] = rng.integers(0, 2, n).astype(bool)
        cols["qty_int"] = qty // 100
        cols["price_cents"] = cols["ext_price"]
        cols["disc_bp"] = cols["discount"] * 10
        cols["tax_bp"] = cols["tax"] * 10
        for i, tag in enumerate(["one", "two", "three", "four", "five"]):
            strs[f"pad{i + 1}"] = ([f"pad-{tag}-{k}".encode() for k in range(1000)],
                                   rng.integers(0, 1000, n))
        cols["region_code"] = rng.integers(0, 5, n)
        cols["checksum"] = cols["order_key"] + cols["part_key"] + cols["supp_key"]

        mat = np.full((n, LINE_BYTES), 32, dtype=np.uint8)
        mat[:, -2] = 13
        mat[:, -1] = 10
        self.offsets: dict[str, tuple[int, int]] = {}
        pos = 0
        for name, t, ln, dec in FIELDS:
            self.offsets[name] = (pos, ln)
            v = cols.get(name)
            if t == "double":
                _decimal(mat, pos, ln, v, dec)
            elif t in ("long", "int"):
                _digits(mat, pos, ln, v)
            elif t == "timestamp-micros":
                _timestamp(mat, pos, v)
            elif t == "boolean":
                yes = b"J" if name == "is_open" else b"Y"
                mat[:, pos] = np.where(v, yes[0], ord("N"))
            elif name == "key_str":           # "<order_key>:<line_no>"
                _digits(mat, pos, 10, cols["order_key"])
                mat[:, pos + 10] = ord(":")
                _digits(mat, pos + 11, 1, cols["line_no"])
            else:
                vocab, idx = strs[name]
                _strings(mat, pos, ln, vocab, idx)
            pos += ln
        self._cols = cols

        # injected defects (disjoint row sets); none on a clean feed
        self.multibyte = np.zeros(n, dtype=bool)
        self.malformed = np.zeros(n, dtype=bool)
        self.ragged = np.zeros(n, dtype=bool)
        self.comment_text = None
        special: dict[int, bytes] = {}
        if dirty:
            kind = rng.random(n)
            mb_end, bad_end = MULTIBYTE_SHARE, MULTIBYTE_SHARE + MALFORMED_SHARE
            self.multibyte = kind < mb_end
            self.malformed = (kind >= mb_end) & (kind < bad_end)
            self.ragged = (kind >= bad_end) & (kind < bad_end + RAGGED_SHARE)
            c0, cl = self.offsets["comment"]
            q0, ql = self.offsets["qty_int"]
            text = [None] * n
            for i in np.flatnonzero(self.multibyte):
                s = bytes(mat[i, c0:c0 + cl]).decode()
                k = int(rng.integers(0, cl - 3))
                mb = _MULTIBYTE[int(rng.integers(0, len(_MULTIBYTE)))]
                s = s[:k] + mb * 3 + s[k + 3:]
                text[i] = s
                special[i] = bytes(mat[i, :c0]) + s.encode() + bytes(mat[i, c0 + cl:])
            for i in np.flatnonzero(self.malformed):
                row = mat[i].copy()
                row[q0 + ql - 2] = ord("x")
                special[i] = bytes(row)
            for i in np.flatnonzero(self.ragged):
                cut = int(rng.integers(60, ROW_WIDTH - 10))
                special[i] = bytes(mat[i, :cut]) + b"\r\n"
            self.comment_text = text
        self._mat = mat
        self._special = special

    # ------------------------------------------------------------ output

    def write(self, path: str) -> int:
        """Write the feed; → bytes written."""
        with open(path, "wb") as fh:
            if not self._special:
                fh.write(self._mat.tobytes())
            else:
                start = 0
                for i in sorted(self._special):
                    fh.write(self._mat[start:i].tobytes())
                    fh.write(self._special[i])
                    start = i + 1
                fh.write(self._mat[start:].tobytes())
            return fh.tell()

    @property
    def bad_rows(self) -> int:
        return int(self.malformed.sum() + self.ragged.sum())

    @property
    def clean_mask(self) -> np.ndarray:
        return ~(self.malformed | self.ragged)

    def shares(self) -> dict:
        n = self.rows
        return {"multibyte": float(self.multibyte.sum() / n),
                "malformed": float(self.malformed.sum() / n),
                "ragged": float(self.ragged.sum() / n)}

    def expected(self) -> pd.DataFrame:
        """Typed values of the clean rows, in canonical dtypes."""
        keep = self.clean_mask
        out = {}
        for name, t, ln, dec in FIELDS:
            v = self._cols.get(name)
            v = None if v is None else v[keep]
            if t == "double":
                out[name] = v.astype(np.float64) / (10 ** dec)
            elif t in ("long", "int", "timestamp-micros"):
                out[name] = v.astype(np.int64)
            elif t == "boolean":
                out[name] = v.astype(bool)
            else:
                text = _text_column(self._mat[keep], *self.offsets[name])
                if name == "comment" and self.comment_text is not None:
                    for j, i in enumerate(np.flatnonzero(keep)):
                        if self.comment_text[i] is not None:
                            text[j] = self.comment_text[i]
                out[name] = text
        return pd.DataFrame(out)


def canonical(table) -> pd.DataFrame:
    """A pyarrow table of parsed feed rows in the canonical dtypes of
    :meth:`Feed.expected` (timestamps as epoch micros)."""
    import pyarrow as pa

    out = {}
    for name, t, ln, dec in FIELDS:
        col = table.column(name)
        if t == "timestamp-micros":
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
            out[name] = col.to_numpy().astype(np.int64)
        elif t in ("long", "int"):
            out[name] = col.to_numpy().astype(np.int64)
        elif t == "double":
            out[name] = col.to_numpy().astype(np.float64)
        elif t == "boolean":
            out[name] = col.to_numpy().astype(bool)
        else:
            out[name] = col.to_numpy(zero_copy_only=False).astype(object)
    return pd.DataFrame(out)


def row_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash of a frame's rows."""
    if df.isna().any().any():
        return -1
    h = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return int(h.sum(dtype=np.uint64))
