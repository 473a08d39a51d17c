"""O5M/O5C reader — the last read-only interchange format the reference
supports (man/osmium-file-formats.md:48: "reading only").

Public wire format (wiki.openstreetmap.org/wiki/O5m): a byte-stream of
length-prefixed datasets (0x10 node, 0x11 way, 0x12 relation, 0xDB
bbox, 0xDC file timestamp, 0xE0 header, 0xFF delta-reset, 0xFE end).
Numbers are 7-bit little-endian varints (signed = lowest-bit sign with
offset, i.e. protobuf zigzag; both decode via functions/protowire.py),
ids/coords/timestamps/changesets/refs delta-coded against running
counters, and strings flow through a 15000-entry most-recently-used
reference table. Deleted objects (change files) carry only their id +
version block.

Unlike PBF, o5m has no independently decodable blocks — the string
table and delta counters thread through the whole stream, so a split
reader would have to re-scan from the last 0xFF reset (which typical
files emit only once, at the start). Parsing therefore runs on the
DRIVER, like small XML: o5m is an interchange format; bulk data
belongs in PBF/OPL/parquet. A size guard enforces this honestly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.protowire import read_varint, unzigzag

# driver-side parse guard; o5m is not splittable (see module docstring)
MAX_O5M_BYTES = 1 << 30


class _Reader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u8(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def uvarint(self) -> int:
        v, self.pos = read_varint(self.buf, self.pos)
        return v

    def svarint(self) -> int:
        return unzigzag(self.uvarint())

    def cstring(self) -> bytes:
        end = self.buf.index(0, self.pos)
        s = self.buf[self.pos:end]
        self.pos = end + 1
        return s

    def eof(self) -> bool:
        return self.pos >= len(self.buf)


class _State:
    """Delta counters + MRU string-pair table (reset by 0xFF)."""

    def __init__(self):
        self.reset()

    def reset(self):
        self.id = [0, 0, 0]  # node/way/relation dataset ids
        self.lon = 0
        self.lat = 0
        self.ts = 0
        self.cs = 0
        self.wref = 0
        self.mref = [0, 0, 0]  # relation member ids per member type
        self.table: list[tuple[bytes, ...]] = []

    def store(self, entry, size: int):
        # only strings of combined length <= 250 enter the table
        if size <= 250:
            self.table.append(entry)
            if len(self.table) > 15000:
                self.table.pop(0)

    def lookup(self, n: int):
        return self.table[-n]


def _read_string_parts(r: _Reader, st: _State, n_parts: int) -> tuple[bytes, ...]:
    """A string reference (uvarint >= 1) or an inline string (leading
    0x00, n_parts zero-terminated segments, then stored in the table)."""
    if r.buf[r.pos] == 0:
        r.pos += 1
        parts = tuple(r.cstring() for _ in range(n_parts))
        st.store(parts, sum(len(p) for p in parts))
        return parts
    return st.lookup(r.uvarint())


def _read_uid_user(r: _Reader, st: _State) -> tuple[int, str]:
    """The uid/user pair: the first segment is the uid as BINARY varint
    bytes (not text), so uid=0 encodes as 0x00 — a plain cstring split
    would mis-parse it. Parse the varint, consume its terminator, then
    the username cstring."""
    if r.buf[r.pos] == 0:
        r.pos += 1
        uid = r.uvarint()
        if r.buf[r.pos] != 0:
            raise ValueError("malformed o5m uid string pair")
        r.pos += 1
        user = r.cstring().decode("utf-8")
        entry = ("uu", uid, user)
        st.store(entry, 1 + len(user))
        return uid, user
    entry = st.lookup(r.uvarint())
    return entry[1], entry[2]


def _read_meta(r: _Reader, st: _State, row: dict) -> None:
    version = r.uvarint()
    if version == 0:
        return
    row["version"] = version
    st.ts += r.svarint()
    if st.ts != 0:
        row["ts"] = st.ts * 1_000_000  # seconds -> epoch micros
        st.cs += r.svarint()
        row["changeset"] = st.cs
        row["uid"], row["user"] = _read_uid_user(r, st)


def _blank(t: int, eid: int) -> dict:
    return {
        "type": t, "id": eid, "version": None, "visible": True,
        "changeset": None, "ts": None, "uid": None, "user": None,
        "tags": [], "lon": None, "lat": None, "refs": None, "members": None,
    }


def parse_o5m(buf: bytes) -> list[dict]:
    """o5m/o5c bytes -> entity row dicts in stream order."""
    r = _Reader(buf)
    st = _State()
    rows: list[dict] = []
    while not r.eof():
        dtype = r.u8()
        if dtype == 0xFF:
            st.reset()
            continue
        if dtype == 0xFE:
            break
        ln = r.uvarint()
        body = _Reader(r.buf[r.pos:r.pos + ln])
        r.pos += ln
        if dtype == 0xE0:  # header: b"o5m2" / b"o5c2"
            magic = body.buf
            if magic not in (b"o5m2", b"o5c2"):
                raise ValueError(f"unsupported o5m header {magic!r}")
            continue
        if dtype not in (0x10, 0x11, 0x12):
            continue  # bbox (0xDB), file timestamp (0xDC), future types
        t = dtype - 0x10
        st.id[t] += body.svarint()
        row = _blank(t, st.id[t])
        if body.eof():  # deleted object: id only
            row["visible"] = False
            rows.append(row)
            continue
        _read_meta(body, st, row)
        if body.eof():  # deleted object with meta
            row["visible"] = False
            rows.append(row)
            continue
        if t == 0:
            st.lon += body.svarint()
            st.lat += body.svarint()
            # o5m coords are 100-nanodeg units == our fixed-point 1e-7
            row["lon"] = st.lon
            row["lat"] = st.lat
        else:
            ref_len = body.uvarint()
            ref_end = body.pos + ref_len
            if t == 1:
                refs = []
                while body.pos < ref_end:
                    st.wref += body.svarint()
                    refs.append(st.wref)
                row["refs"] = refs
            else:
                members = []
                while body.pos < ref_end:
                    delta = body.svarint()
                    ms = _read_string_parts(body, st, 1)[0]
                    mtype = ms[0] - 0x30  # '0'/'1'/'2' + role
                    role = ms[1:].decode("utf-8")
                    st.mref[mtype] += delta
                    members.append(
                        {"mtype": mtype, "ref": st.mref[mtype], "role": role}
                    )
                row["members"] = members
        tags = []
        while not body.eof():
            k, v = _read_string_parts(body, st, 2)
            tags.append({"key": k.decode("utf-8"), "value": v.decode("utf-8")})
        row["tags"] = tags
        if t == 1 and row["refs"] is None:
            row["refs"] = []
        if t == 2 and row["members"] is None:
            row["members"] = []
        rows.append(row)
    return rows


def read_o5m(spark: SparkSession, path: str) -> DataFrame:
    """Read a .o5m/.o5c file into the canonical entity frame."""
    import os

    from pyspark.sql import functions as F

    from ..schema import ENTITY_SCHEMA
    from .osmxml import _tag_entries_schema

    size = os.path.getsize(path)
    if size > MAX_O5M_BYTES:
        raise ValueError(
            f"{path} is {size >> 20} MiB; o5m is not splittable (stateful "
            "deltas + string table span the stream) and parses on the "
            "driver. Convert to .osm.pbf, .opl, or parquet for bulk data."
        )
    with open(path, "rb") as f:
        buf = f.read()
    rows = parse_o5m(buf)
    df = spark.createDataFrame(rows, _tag_entries_schema())
    return df.withColumn("tags", F.map_from_entries("tags")).select(
        *[f.name for f in ENTITY_SCHEMA.fields]
    )
