"""OSM PBF writer — closes the binary interchange loop opened by
sources/pbf.py (reference: man/osmium-file-formats.md:42-66; writer
plumbing src/io.cpp:131-230; wire format
wiki.openstreetmap.org/wiki/PBF_Format).

Spark shape: entities are canonically sorted with ONE balanced range
shuffle, then each executor partition serializes its rows into framed
[len][BlobHeader][Blob] chunks of <=8000 entities per PrimitiveBlock
(osmium's block size) inside a mapInPandas closure — all encoding
(string tables, delta/zigzag coding, zlib) is executor-side and scales
with the data. One job writes the frames as base64 text parts; the
driver decodes part files in name order (= partition order = frame
order) into the single output stream — constant driver memory, no
parsing, the same single-output-stream shape as the reference's writer
thread. Nodes are written as DenseNodes (the required_features we
declare), ways/relations as plain messages; metadata (Info/DenseInfo)
is included only when present, matching the -nometadata variants.

Undefined locations (deleted nodes in history files) are encoded as
libosmium's undefined_coordinate sentinel (fixed 0x7FFFFFFF) and mapped
back to NULL by sources/pbf.py on read.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..functions.protowire import key, ld, ship_by_value, svarint, varint

GENERATOR = "osmium_tool_spark/0.1.0"

# libosmium osmium::Location undefined coordinate (fixed 1e-7 units)
UNDEFINED_COORD = 0x7FFFFFFF

_BLOCK_SIZE = 8000  # entities per PrimitiveBlock, osmium's default


def _encode_header_blob(
    generator: str, with_history: bool, bbox: tuple | None
) -> bytes:
    """OSMHeader frame: HeaderBlock{bbox?, required_features,
    writingprogram} wrapped in an uncompressed Blob."""
    parts = []
    if bbox is not None:
        left, bottom, right, top = bbox  # fixed 1e-7 -> nanodeg sint64
        bb = b"".join(
            [
                key(1, 0), svarint(left * 100),
                key(2, 0), svarint(right * 100),
                key(3, 0), svarint(top * 100),
                key(4, 0), svarint(bottom * 100),
            ]
        )
        parts.append(key(1, 2) + ld(bb))
    feats = ["OsmSchema-V0.6", "DenseNodes"]
    if with_history:
        feats.append("HistoricalInformation")
    for ft in feats:
        parts.append(key(4, 2) + ld(ft.encode()))
    parts.append(key(16, 2) + ld(generator.encode()))
    header_block = b"".join(parts)
    return _frame(b"OSMHeader", key(2, 0) + varint(len(header_block))
                  + key(1, 2) + ld(header_block))


def _frame(btype: bytes, blob: bytes) -> bytes:
    """[4-byte length][BlobHeader{type, datasize}][Blob] file frame."""
    bh = key(1, 2) + ld(btype) + key(3, 0) + varint(len(blob))
    return struct.pack(">I", len(bh)) + bh + blob


def _make_block_encoder(with_history: bool):
    """mapInPandas closure: rows (pre-sorted within partitions) ->
    framed OSMData blob chunks. Scalar fields use the protowire
    encoders and `_frame`; both modules ship by value with the closure,
    so executors need only stdlib + numpy + pandas.

    Round-4 rework: the varint/delta packing is numpy-vectorized — all
    DenseNodes columns (id/lat/lon deltas, DenseInfo) and way/relation
    ref lists encode as whole-array operations (zigzag, per-value byte
    counts, scatter into one uint8 buffer), so per-row Python survives
    only for tag string-table fills and way/relation message framing.
    String-table fill ORDER differs from the old per-row encoder (node
    runs intern all tags, then users) — still deterministic, and PBF
    semantics don't depend on table order; the write->read->write
    stability matrix pins it."""
    ship_by_value(__name__)

    def encode(batches):
        import zlib

        import numpy as np
        import pandas as pd

        U7 = np.uint64(7)
        U0x7F = np.uint64(0x7F)

        def to_u64(a):
            # two's-complement reinterpretation == the 10-byte varint
            # form the scalar encoder uses for negatives
            a = np.asarray(a)
            if a.dtype != np.int64:
                a = a.astype(np.int64)
            return a.view(np.uint64)

        def zz(a):
            # zigzag: (n << 1) ^ (n >> 63 arithmetic), in uint64 domain
            a = np.asarray(a)
            if a.dtype != np.int64:
                a = a.astype(np.int64)
            u = a.view(np.uint64)
            sign = np.where(a < 0, np.uint64(0xFFFFFFFFFFFFFFFF), np.uint64(0))
            return (u << np.uint64(1)) ^ sign

        def varints_arr(u):
            """uint64 array -> (varint-concatenated bytes, per-value
            byte counts). Vectorized: a byte-count pass, then one
            scatter pass per byte position (<=10)."""
            n = len(u)
            if n == 0:
                return b"", np.zeros(0, dtype=np.int64)
            nb = np.ones(n, dtype=np.int64)
            v = u >> U7
            while v.any():
                nb += (v != 0)
                v >>= U7
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(nb[:-1], out=starts[1:])
            out = np.zeros(int(nb.sum()), dtype=np.uint8)
            for i in range(int(nb.max())):
                sel = nb > i
                b = ((u[sel] >> np.uint64(7 * i)) & U0x7F).astype(np.uint8)
                cont = ((nb[sel] - 1 > i).astype(np.uint8)) << np.uint8(7)
                out[starts[sel] + i] = b | cont
            return out.tobytes(), nb

        def packed_arr(tag, arr, signed=False):
            if len(arr) == 0:
                return b""
            body, _ = varints_arr(zz(arr) if signed else to_u64(arr))
            return key(tag, 2) + ld(body)

        def delta(a):
            a = np.asarray(a, dtype=np.int64)
            d = np.empty_like(a)
            if len(a):
                d[0] = a[0]
                d[1:] = a[1:] - a[:-1]
            return d

        def isnull(v):  # None or NaN (pandas nullable scalars)
            return v is None or (isinstance(v, float) and v != v)

        def aslist(v):  # pandas delivers arrays as np.ndarray (no bool())
            return [] if v is None or (isinstance(v, float) and v != v) else list(v)

        def int_col(s, fill):
            # nullable int column -> int64 with `fill` for nulls (Arrow
            # nulls surface as float64 NaN; values stay exact <= 2^53)
            arr = s.fillna(fill).to_numpy()
            return arr if arr.dtype == np.int64 else arr.astype(np.int64)

        class Strings:
            def __init__(self):
                self.idx = {"": 0}
                self.lst = [""]

            def get(self, s):
                if s is None:
                    s = ""
                i = self.idx.get(s)
                if i is None:
                    i = len(self.lst)
                    self.idx[s] = i
                    self.lst.append(s)
                return i

        def info_bytes(r, st):
            parts = []
            if not isnull(r["version"]):
                parts.append(key(1, 0) + varint(int(r["version"])))
            if not isnull(r["ts"]):
                parts.append(key(2, 0) + varint(int(r["ts"]) // 1_000_000))
            if not isnull(r["changeset"]):
                parts.append(key(3, 0) + varint(int(r["changeset"])))
            if not isnull(r["uid"]):
                parts.append(key(4, 0) + varint(int(r["uid"])))
            if not isnull(r["user"]):
                parts.append(key(5, 0) + varint(st.get(r["user"])))
            if with_history:
                parts.append(key(6, 0) + varint(1 if r["visible"] else 0))
            if not parts:
                return b""
            return key(4, 2) + ld(b"".join(parts))

        def tags_bytes(r, st):
            ks, vs = [], []
            for e in aslist(r["tags"]):
                ks.append(st.get(e["key"]))
                vs.append(st.get(e["value"]))
            if not ks:
                return b""
            return (packed_arr(2, np.array(ks, dtype=np.int64))
                    + packed_arr(3, np.array(vs, dtype=np.int64)))

        def dense_group(sub, st):
            ids = int_col(sub["id"], 0)
            lats = int_col(sub["lat"], UNDEFINED_COORD)
            lons = int_col(sub["lon"], UNDEFINED_COORD)
            kv = []
            for t in sub["tags"]:
                for e in aslist(t):
                    kv.append(st.get(e["key"]))
                    kv.append(st.get(e["value"]))
                kv.append(0)
            body = packed_arr(1, delta(ids), signed=True)
            has_meta = bool(sub["version"].notna().any())
            if has_meta:
                versions = int_col(sub["version"], 0)
                tss = int_col(sub["ts"], 0) // 1_000_000
                css = int_col(sub["changeset"], 0)
                uids = int_col(sub["uid"], 0)
                codes, uniques = pd.factorize(sub["user"])
                # trailing st.get(None) doubles as the code==-1 target
                lut = np.array([st.get(u) for u in uniques] + [st.get(None)],
                               dtype=np.int64)
                usids = lut[codes]
                di = packed_arr(1, versions)
                di += packed_arr(2, delta(tss), signed=True)
                di += packed_arr(3, delta(css), signed=True)
                di += packed_arr(4, delta(uids), signed=True)
                di += packed_arr(5, delta(usids), signed=True)
                if with_history:
                    vis = (sub["visible"].fillna(False).to_numpy()
                           .astype(np.int64))
                    di += packed_arr(6, vis)
                body += key(5, 2) + ld(di)
            body += packed_arr(8, delta(lats), signed=True)
            body += packed_arr(9, delta(lons), signed=True)
            kvbytes, _ = varints_arr(np.array(kv, dtype=np.uint64))
            body += key(10, 2) + ld(kvbytes)
            return key(2, 2) + ld(body)

        def packed_rows(tag, lists, signed=True, delta_coded=True):
            """Per-row packed fields for variable-length int lists, all
            rows encoded in ONE vectorized pass: flatten, per-segment
            prepend-0 delta, zigzag-varint the whole thing, then slice
            per row by cumulative byte counts. Returns list[bytes]."""
            clean = [None if r is None or (isinstance(r, float) and r != r)
                     else r for r in lists]
            lengths = np.array([0 if r is None else len(r) for r in clean],
                               dtype=np.int64)
            if int(lengths.sum()) == 0:
                return [b""] * len(lengths)
            flat = np.concatenate(
                [np.asarray(r, dtype=np.int64) for r in clean
                 if r is not None and len(r)]
            )
            starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
            if delta_coded:
                d = delta(flat)
                firsts = starts[lengths > 0]
                d[firsts] = flat[firsts]  # prev resets to 0 at each row
            else:
                d = flat
            body, nb = varints_arr(zz(d) if signed else to_u64(d))
            nb_cum = np.concatenate(([0], np.cumsum(nb)))
            b0 = nb_cum[starts]
            b1 = nb_cum[starts + lengths]
            prefix = key(tag, 2)
            return [
                prefix + ld(body[int(b0[i]):int(b1[i])]) if lengths[i] else b""
                for i in range(len(lengths))
            ]

        def way_group(sub, st):
            rows = sub.to_dict("records")
            ref_fields = packed_rows(8, list(sub["refs"]), signed=True)
            out = []
            for r, rf in zip(rows, ref_fields):
                body = key(1, 0) + varint(int(r["id"]))
                body += tags_bytes(r, st)
                body += info_bytes(r, st)
                body += rf
                out.append(key(3, 2) + ld(body))
            return b"".join(out)

        def rel_group(sub, st):
            rows = sub.to_dict("records")
            members = [aslist(r["members"]) for r in rows]
            ref_fields = packed_rows(
                9, [[int(m["ref"]) for m in ms] for ms in members],
                signed=True)
            type_fields = packed_rows(
                10, [[int(m["mtype"]) for m in ms] for ms in members],
                signed=False, delta_coded=False)
            out = []
            for r, ms, rf, tf in zip(rows, members, ref_fields, type_fields):
                body = key(1, 0) + varint(int(r["id"]))
                body += tags_bytes(r, st)
                body += info_bytes(r, st)
                roles = np.array([st.get(m["role"]) for m in ms],
                                 dtype=np.int64)
                body += packed_arr(8, roles)
                body += rf
                body += tf
                out.append(key(4, 2) + ld(body))
            return b"".join(out)

        def make_block(pdf):
            st = Strings()
            groups = []
            types = pdf["type"].to_numpy()
            bounds = ([0] + (np.flatnonzero(np.diff(types)) + 1).tolist()
                      + [len(types)])
            for s, e in zip(bounds[:-1], bounds[1:]):
                sub = pdf.iloc[s:e]
                t = types[s]
                if t == 0:
                    groups.append(dense_group(sub, st))
                elif t == 1:
                    groups.append(way_group(sub, st))
                else:
                    groups.append(rel_group(sub, st))
            stbody = b"".join(
                key(1, 2) + ld(s.encode("utf-8")) for s in st.lst
            )
            block = key(1, 2) + ld(stbody)
            for g in groups:
                block += key(2, 2) + ld(g)
            # granularity/date_granularity left at proto defaults (100, 1000)
            return block

        def frame(block):
            return _frame(b"OSMData", key(2, 0) + varint(len(block))
                          + key(3, 2) + ld(zlib.compress(block)))

        pending = None
        for pdf in batches:
            pending = pdf if pending is None else pd.concat(
                [pending, pdf], ignore_index=True)
            frames = []
            while len(pending) >= _BLOCK_SIZE:
                frames.append(frame(make_block(pending.iloc[:_BLOCK_SIZE])))
                pending = pending.iloc[_BLOCK_SIZE:].reset_index(drop=True)
            if frames:
                yield pd.DataFrame({"frame": frames})
        if pending is not None and len(pending):
            yield pd.DataFrame({"frame": [frame(make_block(pending))]})

    return encode


def write_osm_pbf(
    entities: DataFrame,
    path: str,
    generator: str = GENERATOR,
    with_history: bool = False,
    bbox: tuple | None = None,
) -> None:
    """Write the canonical entity frame as a .osm.pbf file.

    Sorting + serialization + compression run distributed (one balanced
    range exchange, then per-partition encoding); the driver streams
    the ready frames to disk in order without inspecting them. PBF is a
    single-file format — for 100 TB-scale persistent storage use the
    parquet sink (sinks/writer.py); this sink is the interchange exit.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..functions.sortkeys import id_sort_key

    spark = entities.sparkSession
    n = spark.sparkContext.defaultParallelism
    skey = [F.col("type"), id_sort_key(F.col("id")).alias("__k"), F.col("version")]
    # tags travel as an entries array (map dicts lose insertion order
    # through Arrow — same shape as the reader). Null array columns are
    # coalesced to EMPTY arrays: the encoder treats both identically,
    # and Spark's Arrow writer has a pathological slow path for mostly-
    # null nested columns (measured 103s -> 5.5s for 2M all-null rows
    # at local[2] — nodes always have null refs/members, so every
    # node-heavy write paid it)
    empty_refs = F.expr("array()").cast("array<long>")
    empty_members = F.expr(
        "array()").cast("array<struct<mtype:int,ref:long,role:string>>")
    empty_tags = F.expr("array()").cast("array<struct<key:string,value:string>>")
    prepped = (
        entities.repartitionByRange(n, *skey)
        .sortWithinPartitions(*skey)
        .withColumn("tags", F.coalesce(F.map_entries("tags"), empty_tags))
        .withColumn("refs", F.coalesce(F.col("refs"), empty_refs))
        .withColumn("members", F.coalesce(F.col("members"), empty_members))
        .select(
            "type", "id", "version", "visible", "changeset", "ts", "uid",
            "user", "tags", "lon", "lat", "refs", "members",
        )
    )
    frames = prepped.mapInPandas(
        _make_block_encoder(with_history),
        schema=T.StructType([T.StructField("frame", T.BinaryType(), False)]),
    )
    # ONE job writes base64 text parts (toLocalIterator re-executes the
    # whole upstream once per partition under AQE — measured 60x slower);
    # the driver then decodes part files in name order = partition order
    # = frame order. Spark's base64 emits no line wrapping, so each text
    # line is exactly one framed blob.
    import base64
    import glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="osmpbf-", dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        frames.select(F.base64(F.col("frame")).alias("value")).write \
            .mode("overwrite").option("compression", "none") \
            .text(os.path.join(tmp, "parts"))
        with open(path, "wb") as f:
            f.write(_encode_header_blob(generator, with_history, bbox))
            for part in sorted(glob.glob(os.path.join(tmp, "parts", "part-*"))):
                with open(part, "rb") as pf:
                    for line in pf:
                        f.write(base64.b64decode(line))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
