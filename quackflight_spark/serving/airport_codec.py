"""Airport action-reply envelope: msgpack + zstd, as the reference's
`list_schemas` emits it (reference main.py:581-594):

    Result 1: 4-byte little-endian length of the UNcompressed msgpack blob
    Result 2: zstd-compressed msgpack of the catalog_root dict

The envelope is built from public building blocks, without the
`msgpack` / `zstandard` wheels: the msgpack wire format is implemented
minimally here straight from the public spec (msgpack.org) for the value
shapes the catalog payload uses (None/bool/int/float/str/bytes/list/dict),
with canonical shortest-form encodings, and zstd frames come from
pyarrow's bundled codec (`pa.Codec("zstd")`).
"""

from __future__ import annotations

import struct

import pyarrow as pa


# --- minimal msgpack (public spec: https://msgpack.org) ------------------

def _pack_into(out: bytearray, v) -> None:
    if v is None:
        out.append(0xC0)
    elif v is True:
        out.append(0xC3)
    elif v is False:
        out.append(0xC2)
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            out.append(v)
        elif -32 <= v < 0:
            out.append(0x100 + v)
        elif 0 < v <= 0xFF:
            out += struct.pack(">BB", 0xCC, v)
        elif 0 < v <= 0xFFFF:
            out += struct.pack(">BH", 0xCD, v)
        elif 0 < v <= 0xFFFFFFFF:
            out += struct.pack(">BI", 0xCE, v)
        elif v > 0:
            out += struct.pack(">BQ", 0xCF, v)
        elif v >= -0x80:
            out += struct.pack(">Bb", 0xD0, v)
        elif v >= -0x8000:
            out += struct.pack(">Bh", 0xD1, v)
        elif v >= -0x80000000:
            out += struct.pack(">Bi", 0xD2, v)
        else:
            out += struct.pack(">Bq", 0xD3, v)
    elif isinstance(v, float):
        out += struct.pack(">Bd", 0xCB, v)
    elif isinstance(v, str):
        b = v.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += struct.pack(">BB", 0xD9, n)
        elif n <= 0xFFFF:
            out += struct.pack(">BH", 0xDA, n)
        else:
            out += struct.pack(">BI", 0xDB, n)
        out += b
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            out += struct.pack(">BB", 0xC4, n)
        elif n <= 0xFFFF:
            out += struct.pack(">BH", 0xC5, n)
        else:
            out += struct.pack(">BI", 0xC6, n)
        out += bytes(v)
    elif isinstance(v, (list, tuple)):
        n = len(v)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out += struct.pack(">BH", 0xDC, n)
        else:
            out += struct.pack(">BI", 0xDD, n)
        for item in v:
            _pack_into(out, item)
    elif isinstance(v, dict):
        n = len(v)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out += struct.pack(">BH", 0xDE, n)
        else:
            out += struct.pack(">BI", 0xDF, n)
        for k, item in v.items():
            _pack_into(out, k)
            _pack_into(out, item)
    else:
        raise TypeError(f"msgpack: unsupported type {type(v).__name__}")


def packb(v) -> bytes:
    out = bytearray()
    _pack_into(out, v)
    return bytes(out)


def _unpack_one(b: bytes, i: int):
    t = b[i]
    i += 1
    if t <= 0x7F:
        return t, i
    if t >= 0xE0:
        return t - 0x100, i
    if 0x80 <= t <= 0x8F:
        return _unpack_map(b, i, t & 0x0F)
    if 0x90 <= t <= 0x9F:
        return _unpack_array(b, i, t & 0x0F)
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return b[i:i + n].decode("utf-8"), i + n
    if t == 0xC0:
        return None, i
    if t == 0xC2:
        return False, i
    if t == 0xC3:
        return True, i
    if t in (0xC4, 0xD9):
        n = b[i]
        i += 1
        raw = b[i:i + n]
        return (raw if t == 0xC4 else raw.decode("utf-8")), i + n
    if t in (0xC5, 0xDA):
        n = struct.unpack_from(">H", b, i)[0]
        i += 2
        raw = b[i:i + n]
        return (raw if t == 0xC5 else raw.decode("utf-8")), i + n
    if t in (0xC6, 0xDB):
        n = struct.unpack_from(">I", b, i)[0]
        i += 4
        raw = b[i:i + n]
        return (raw if t == 0xC6 else raw.decode("utf-8")), i + n
    if t == 0xCA:
        return struct.unpack_from(">f", b, i)[0], i + 4
    if t == 0xCB:
        return struct.unpack_from(">d", b, i)[0], i + 8
    if t in (0xCC, 0xD0):
        fmt = ">B" if t == 0xCC else ">b"
        return struct.unpack_from(fmt, b, i)[0], i + 1
    if t in (0xCD, 0xD1):
        fmt = ">H" if t == 0xCD else ">h"
        return struct.unpack_from(fmt, b, i)[0], i + 2
    if t in (0xCE, 0xD2):
        fmt = ">I" if t == 0xCE else ">i"
        return struct.unpack_from(fmt, b, i)[0], i + 4
    if t in (0xCF, 0xD3):
        fmt = ">Q" if t == 0xCF else ">q"
        return struct.unpack_from(fmt, b, i)[0], i + 8
    if t == 0xDC:
        n = struct.unpack_from(">H", b, i)[0]
        return _unpack_array(b, i + 2, n)
    if t == 0xDD:
        n = struct.unpack_from(">I", b, i)[0]
        return _unpack_array(b, i + 4, n)
    if t == 0xDE:
        n = struct.unpack_from(">H", b, i)[0]
        return _unpack_map(b, i + 2, n)
    if t == 0xDF:
        n = struct.unpack_from(">I", b, i)[0]
        return _unpack_map(b, i + 4, n)
    raise ValueError(f"msgpack: unsupported type byte 0x{t:02x}")


def _unpack_array(b: bytes, i: int, n: int):
    items = []
    for _ in range(n):
        v, i = _unpack_one(b, i)
        items.append(v)
    return items, i


def _unpack_map(b: bytes, i: int, n: int):
    d = {}
    for _ in range(n):
        k, i = _unpack_one(b, i)
        v, i = _unpack_one(b, i)
        d[k] = v
    return d, i


def unpackb(b: bytes):
    v, i = _unpack_one(bytes(b), 0)
    if i != len(b):
        raise ValueError("msgpack: trailing bytes")
    return v


# --- zstd (pyarrow's bundled codec) --------------------------------------

def zstd_compress(data: bytes) -> bytes:
    return pa.Codec("zstd").compress(data, asbytes=True)


def zstd_decompress(data: bytes, decompressed_size: int) -> bytes:
    return pa.Codec("zstd").decompress(
        data, decompressed_size=decompressed_size, asbytes=True
    )


# --- the envelope --------------------------------------------------------

def encode_action_reply(payload) -> tuple[bytes, bytes]:
    """(length_bytes, compressed): the two Result bodies of the reference
    envelope — 4-byte LE uncompressed-msgpack length, then
    zstd(msgpack(payload))."""
    packed = packb(payload)
    return len(packed).to_bytes(4, byteorder="little"), zstd_compress(packed)


def decode_action_reply(length_bytes: bytes, compressed: bytes):
    """Inverse of encode_action_reply (what an Airport client does)."""
    n = int.from_bytes(length_bytes[:4], byteorder="little")
    return unpackb(zstd_decompress(compressed, n))
