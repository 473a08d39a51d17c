"""Protobuf wire-format primitives: the one varint/field/zigzag codec
behind the PBF reader and writer (sources/pbf.py, sinks/pbf.py), the
MVT sink (sinks/mvt.py) and the o5m reader's varints (sources/o5m.py).

Public encoding spec: protobuf.dev/programming-guides/encoding. Stdlib
only. Executor kernels call these functions directly; the module that
builds a kernel calls `ship_by_value()` first, so the functions travel
by value inside the pickled closure to workers that do not have the
package on sys.path.
"""

from __future__ import annotations

import sys


def ship_by_value(*modules: str) -> None:
    """Register this module, plus the modules named in ``modules`` (a
    caller passes its own ``__name__`` when its kernel calls that
    module's functions), with cloudpickle's register_pickle_by_value.
    Pass the kernels to Spark as closures, never through `sc.broadcast`:
    broadcast uses plain pickle, which pickles functions by reference."""
    from pyspark import cloudpickle

    for name in (__name__, *modules):
        cloudpickle.register_pickle_by_value(sys.modules[name])


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    """Unsigned varint at ``buf[i]`` -> (value, index after it)."""
    result = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7


def fields(buf: bytes):
    """Yield (tag, wiretype, value) triples of a protobuf message:
    varints as int, length-delimited and fixed32/fixed64 as bytes."""
    i = 0
    n = len(buf)
    while i < n:
        k, i = read_varint(buf, i)
        tag, wt = k >> 3, k & 7
        if wt == 0:
            val, i = read_varint(buf, i)
        elif wt == 2:
            ln, i = read_varint(buf, i)
            val = buf[i:i + ln]
            i += ln
        elif wt == 5:
            val = buf[i:i + 4]
            i += 4
        elif wt == 1:
            val = buf[i:i + 8]
            i += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield tag, wt, val


def unzigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def unpack(buf: bytes, signed: bool = False) -> list[int]:
    """Packed repeated varints -> ints (zigzag-decoded if ``signed``)."""
    out, i, n = [], 0, len(buf)
    while i < n:
        v, i = read_varint(buf, i)
        out.append(unzigzag(v) if signed else v)
    return out


def varint(v: int) -> bytes:
    """Unsigned varint; negatives take the int64 two's-complement
    (10-byte) form."""
    if v < 0:
        v += 1 << 64
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def svarint(v: int) -> bytes:
    """Zigzag-encoded sint64."""
    return varint((v << 1) ^ (v >> 63))


def key(tag: int, wt: int) -> bytes:
    return varint((tag << 3) | wt)


def ld(payload: bytes) -> bytes:
    """Length-delimited payload (length varint + bytes)."""
    return varint(len(payload)) + payload
