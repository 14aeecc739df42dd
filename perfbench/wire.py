"""The benchmark's own codecs for what crosses the Kafka wire: Kafka
record batch v2 (with CRC-32C), Confluent framing and flat Avro
records. They follow the public specifications and share no code with
the program, so load generation and output checks do not depend on
the producer or decoder under test.
"""

from __future__ import annotations

import struct

_POLY = 0x82F63B78
_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ _POLY if _c & 1 else _c >> 1
    _TABLE.append(_c)
del _n, _c


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    table = _TABLE
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------- varints


def _varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z & ~0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = z = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            return (z >> 1) ^ -(z & 1), pos
        shift += 7


# ---------------------------------------------------------------- record batch v2


def encode_batch(records: list[tuple[bytes | None, bytes]], timestamp_ms: int = 0) -> bytes:
    """One record batch v2 (base offset 0, no compression)."""
    body = bytearray()
    for i, (key, value) in enumerate(records):
        rec = bytearray(b"\x00")                 # attributes
        rec += _varint(0) + _varint(i)           # timestamp delta, offset delta
        rec += _varint(-1) if key is None else _varint(len(key)) + key
        rec += _varint(len(value)) + value
        rec += _varint(0)                        # headers
        body += _varint(len(rec)) + rec
    after_crc = struct.pack(">hiqqqhii", 0, len(records) - 1, timestamp_ms, timestamp_ms,
                            -1, -1, -1, len(records)) + bytes(body)
    head = struct.pack(">iBI", 0, 2, crc32c(after_crc))   # leader epoch, magic, crc
    batch = head + after_crc
    return struct.pack(">qi", 0, len(batch)) + batch


def decode_batches(data: bytes):
    """Yield (offset, key, value) from concatenated v2 batches, checking
    each CRC."""
    pos = 0
    while pos + 61 <= len(data):
        base, length = struct.unpack_from(">qi", data, pos)
        end = pos + 12 + length
        (crc,) = struct.unpack_from(">I", data, pos + 17)
        if crc32c(data[pos + 21:end]) != crc:
            raise ValueError(f"crc mismatch in batch at offset {base}")
        (count,) = struct.unpack_from(">i", data, pos + 57)
        p = pos + 61
        for _ in range(count):
            _, p = _read_varint(data, p)         # record length
            p += 1                               # attributes
            _, p = _read_varint(data, p)
            delta, p = _read_varint(data, p)
            klen, p = _read_varint(data, p)
            key = None if klen < 0 else data[p:p + klen]
            p += max(klen, 0)
            vlen, p = _read_varint(data, p)
            value = data[p:p + vlen]
            p += vlen
            nh, p = _read_varint(data, p)
            for _ in range(nh):
                hk, p = _read_varint(data, p)
                p += hk
                hv, p = _read_varint(data, p)
                p += max(hv, 0)
            yield base + delta, key, value
        pos = end


# ---------------------------------------------------------------- Confluent + Avro


def frame(schema_id: int, payload: bytes) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + payload


def unframe(message: bytes) -> tuple[int, int, bytes]:
    """→ (magic byte, schema id, Avro payload)."""
    return message[0], struct.unpack_from(">I", message, 1)[0], message[5:]


def avro_encode(types: list[str], row) -> bytes:
    """Flat non-nullable record: long/int, double, string."""
    out = bytearray()
    for t, v in zip(types, row):
        if t in ("long", "int"):
            out += _varint(int(v))
        elif t == "double":
            out += struct.pack("<d", v)
        elif t == "string":
            b = v.encode()
            out += _varint(len(b)) + b
        else:
            raise ValueError(t)
    return bytes(out)


def avro_decode(fields: list[tuple[str, bool]], payload: bytes) -> tuple:
    """Flat record; ``fields`` = [(type, nullable)] where a nullable
    field is the union ["null", type]."""
    pos, out = 0, []
    for t, nullable in fields:
        if nullable:
            branch, pos = _read_varint(payload, pos)
            if branch == 0:
                out.append(None)
                continue
        if t in ("long", "int"):
            v, pos = _read_varint(payload, pos)
        elif t == "double":
            (v,) = struct.unpack_from("<d", payload, pos)
            pos += 8
        elif t == "float":
            (v,) = struct.unpack_from("<f", payload, pos)
            pos += 4
        elif t == "boolean":
            v = payload[pos] == 1
            pos += 1
        elif t in ("string", "bytes"):
            n, pos = _read_varint(payload, pos)
            v = payload[pos:pos + n]
            v = v.decode() if t == "string" else bytes(v)
            pos += n
        else:
            raise ValueError(t)
        out.append(v)
    if pos != len(payload):
        raise ValueError(f"{len(payload) - pos} trailing bytes")
    return tuple(out)
