"""OSM PBF reader — the reference's binary interchange format.

Public wire format (wiki.openstreetmap.org/wiki/PBF_Format; reference
man/osmium-file-formats.md:42-66): a sequence of
[4-byte big-endian length][BlobHeader protobuf][Blob protobuf] frames;
each OSMData blob holds a (usually zlib-compressed) PrimitiveBlock with
a string table, dense or plain nodes, ways, and relations; coordinates
are (offset + granularity * raw) nanodegrees, ids/coords/refs/member
ids delta-coded, sint fields zigzag-encoded.

Decoding is hand-rolled varint protobuf (functions/protowire.py; no
codegen or proto deps) and runs DISTRIBUTED: the driver makes one
seek-only pass over the framing to index blob byte ranges (blobs are
independently decompressible — the property that makes PBF splittable),
then executors decode blobs in parallel via mapInPandas. The decoder
calls this module's `decompress_blob` and the protowire functions; both
modules ship by value with it (`protowire.ship_by_value`), so executors
need no package on sys.path and run the same codec code as the driver.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..functions.protowire import fields, ship_by_value, unpack, unzigzag
from ..schema import ENTITY_SCHEMA

# Blob compression fields by protobuf tag (fileformat.proto). raw (1),
# zlib (3), lzma (4) and bzip2 (5) decode via the stdlib, lz4 (6) and
# zstd (7) via their optional packages; like the reference built
# without a codec, a missing package raises rather than skipping blobs.
_BLOB_CODECS = {1: "raw", 3: "zlib", 4: "lzma", 5: "bzip2", 6: "lz4", 7: "zstd"}

# HeaderBlock required_features the reader actually honors
# (osmformat.proto; reference checks in libosmium pbf_input_format).
_SUPPORTED_FEATURES = {"OsmSchema-V0.6", "DenseNodes", "HistoricalInformation"}


def decompress_blob(blob: bytes) -> bytes:
    """Decode one Blob message -> uncompressed payload bytes.

    raw/zlib/lzma/bzip2 decode via the stdlib; lz4/zstd decode when the
    optional `lz4` / `zstandard` packages are importable (libosmium's
    optional codecs — reference reads planet files recompressed with
    zstd) and otherwise raise a LOUD ValueError naming the missing
    package — a valid .osm.pbf must never silently read as empty.
    """
    import bz2
    import lzma
    import zlib

    raw_size = None
    data = None
    for tag, _wt, val in fields(blob):
        if tag == 2:
            raw_size = val  # uncompressed size (required by lz4 blocks)
        elif tag in _BLOB_CODECS:
            data = (tag, val)
    if data is None:
        raise ValueError(
            "unsupported PBF blob: no data field; "
            "raw/zlib/lzma/bzip2 (+lz4/zstd if installed) are supported"
        )
    tag, val = data
    if tag == 1:
        return val
    if tag == 3:
        return zlib.decompress(val)
    if tag == 4:
        return lzma.decompress(val)
    if tag == 5:
        return bz2.decompress(val)
    if tag == 6:
        try:
            import lz4.block
        except ImportError as e:
            raise ValueError(
                "PBF blob is lz4-compressed but the optional `lz4` package "
                "is not installed (pip install lz4)"
            ) from e
        if raw_size is None:
            raise ValueError("lz4 PBF blob is missing the raw_size field")
        return lz4.block.decompress(val, uncompressed_size=raw_size)
    if tag == 7:
        try:
            import zstandard
        except ImportError as e:
            raise ValueError(
                "PBF blob is zstd-compressed but the optional `zstandard` "
                "package is not installed (pip install zstandard)"
            ) from e
        return zstandard.ZstdDecompressor().decompress(
            val, max_output_size=raw_size or 0
        )
    raise ValueError(
        f"unsupported PBF blob compression {_BLOB_CODECS[tag]!r}"
    )


def _check_header_features(blob: bytes) -> None:
    """Parse the OSMHeader HeaderBlock and reject unknown
    required_features (tag 4), mirroring the reference's error."""
    header_block = decompress_blob(blob)
    for tag, _wt, val in fields(header_block):
        if tag == 4:
            feature = val.decode("utf-8")
            if feature not in _SUPPORTED_FEATURES:
                raise ValueError(
                    f"required PBF feature not supported: {feature!r}"
                )


def index_blobs(path: str) -> list[tuple[str, int, int]]:
    """One seek-only pass over the frame structure -> [(blob_type,
    blob_offset, blob_size)]. The driver-side analog of a splittable
    input format's split enumeration. Validates OSMHeader
    required_features (raising on unsupported ones)."""
    out = []
    with open(path, "rb") as f:
        while True:
            hdr_len_raw = f.read(4)
            if len(hdr_len_raw) < 4:
                break
            (hdr_len,) = struct.unpack(">I", hdr_len_raw)
            header = f.read(hdr_len)
            btype, datasize = "", 0
            for tag, _wt, val in fields(header):
                if tag == 1:
                    btype = val.decode()
                elif tag == 3:
                    datasize = val
            if btype == "OSMHeader":
                blob = f.read(datasize)
                _check_header_features(blob)
                out.append((btype, f.tell() - datasize, datasize))
            else:
                out.append((btype, f.tell(), datasize))
                f.seek(datasize, 1)
    return out


def _make_blob_decoder(path: str):
    """mapInPandas closure: blob byte ranges -> entity rows. It calls
    `decompress_blob` and the protowire functions, which ship by value
    with it; executors need only stdlib + pandas."""
    ship_by_value(__name__)
    cols = [f.name for f in ENTITY_SCHEMA.fields]

    def decode(batches):
        import pandas as pd

        def trunc100(v):  # nanodeg -> fixed-1e-7, C-style trunc division
            return v // 100 if v >= 0 else -((-v) // 100)

        def parse_info(buf, strings):
            info = {"version": None, "ts": None, "changeset": None, "uid": None,
                    "user": None, "visible": True}
            for tag, _wt, val in fields(buf):
                if tag == 1:
                    info["version"] = val
                elif tag == 2:
                    info["ts"] = val  # scaled by date_granularity later
                elif tag == 3:
                    info["changeset"] = val
                elif tag == 4:
                    info["uid"] = val  # int32, not sint
                elif tag == 5:
                    info["user"] = strings[val]
                elif tag == 6:
                    info["visible"] = bool(val)
            return info

        def blank_row():
            return {
                "type": None, "id": None, "version": None, "visible": True,
                "changeset": None, "ts": None, "uid": None, "user": None,
                "tags": [], "lon": None, "lat": None, "refs": None, "members": None,
            }

        def parse_block(buf):
            strings = []
            gran, lat_off, lon_off, date_gran = 100, 0, 0, 1000
            groups = []
            for tag, _wt, val in fields(buf):
                if tag == 1:  # stringtable
                    strings = [
                        v.decode("utf-8") for t2, _w, v in fields(val) if t2 == 1
                    ]
                elif tag == 2:
                    groups.append(val)
                elif tag == 17:
                    gran = val
                elif tag == 18:
                    date_gran = val
                elif tag == 19:
                    lat_off = val
                elif tag == 20:
                    lon_off = val

            def coord(off, raw):
                v = trunc100(off + gran * raw)
                # libosmium undefined_coordinate (deleted/locationless
                # nodes in history files) -> NULL
                return None if v == 0x7FFFFFFF else v

            def finish_meta(row, info):
                if info is None:
                    return
                row["version"] = info["version"]
                row["changeset"] = info["changeset"]
                row["uid"] = info["uid"]
                row["user"] = info["user"]
                row["visible"] = info["visible"]
                if info["ts"] is not None:
                    row["ts"] = info["ts"] * date_gran * 1000  # ms->us

            rows = []
            for g in groups:
                for tag, _wt, val in fields(g):
                    if tag == 1:  # plain Node
                        row = blank_row()
                        row["type"] = 0
                        keys = vals = []
                        info = None
                        for t2, _w, v in fields(val):
                            if t2 == 1:
                                row["id"] = unzigzag(v)
                            elif t2 == 2:
                                keys = unpack(v)
                            elif t2 == 3:
                                vals = unpack(v)
                            elif t2 == 4:
                                info = parse_info(v, strings)
                            elif t2 == 8:
                                row["lat"] = coord(lat_off, unzigzag(v))
                            elif t2 == 9:
                                row["lon"] = coord(lon_off, unzigzag(v))
                        row["tags"] = [
                            {"key": strings[k], "value": strings[x]}
                            for k, x in zip(keys, vals)
                        ]
                        finish_meta(row, info)
                        rows.append(row)
                    elif tag == 2:  # DenseNodes
                        ids = lats = lons = kv = []
                        dense_info = {}
                        for t2, _w, v in fields(val):
                            if t2 == 1:
                                ids = unpack(v, signed=True)
                            elif t2 == 5:
                                for t3, _w3, v3 in fields(v):
                                    dense_info[t3] = unpack(
                                        v3, signed=t3 in (2, 3, 4, 5)
                                    )
                            elif t2 == 8:
                                lats = unpack(v, signed=True)
                            elif t2 == 9:
                                lons = unpack(v, signed=True)
                            elif t2 == 10:
                                kv = unpack(v)
                        # delta decode
                        def cumsum(xs):
                            acc, out = 0, []
                            for x in xs:
                                acc += x
                                out.append(acc)
                            return out

                        ids, lats, lons = cumsum(ids), cumsum(lats), cumsum(lons)
                        d_ver = dense_info.get(1)
                        d_ts = cumsum(dense_info[2]) if 2 in dense_info else None
                        d_cs = cumsum(dense_info[3]) if 3 in dense_info else None
                        d_uid = cumsum(dense_info[4]) if 4 in dense_info else None
                        d_usid = cumsum(dense_info[5]) if 5 in dense_info else None
                        d_vis = dense_info.get(6)
                        ki = 0
                        for n_i, node_id in enumerate(ids):
                            row = blank_row()
                            row["type"] = 0
                            row["id"] = node_id
                            row["lat"] = coord(lat_off, lats[n_i])
                            row["lon"] = coord(lon_off, lons[n_i])
                            tags = []
                            while ki < len(kv) and kv[ki] != 0:
                                tags.append(
                                    {"key": strings[kv[ki]], "value": strings[kv[ki + 1]]}
                                )
                                ki += 2
                            ki += 1  # skip the 0 terminator
                            row["tags"] = tags
                            if d_ver is not None:
                                row["version"] = d_ver[n_i]
                            if d_ts is not None:
                                row["ts"] = d_ts[n_i] * date_gran * 1000
                            if d_cs is not None:
                                row["changeset"] = d_cs[n_i]
                            if d_uid is not None:
                                row["uid"] = d_uid[n_i]
                            if d_usid is not None:
                                row["user"] = strings[d_usid[n_i]]
                            if d_vis is not None:
                                row["visible"] = bool(d_vis[n_i])
                            rows.append(row)
                    elif tag in (3, 4):  # Way / Relation
                        row = blank_row()
                        row["type"] = 1 if tag == 3 else 2
                        keys = vals = []
                        info = None
                        refs = roles = memids = mtypes = []
                        for t2, _w, v in fields(val):
                            if t2 == 1:
                                # int64 (not sint): negatives arrive as
                                # 64-bit two's complement
                                row["id"] = v - (1 << 64) if v >= 1 << 63 else v
                            elif t2 == 2:
                                keys = unpack(v)
                            elif t2 == 3:
                                vals = unpack(v)
                            elif t2 == 4:
                                info = parse_info(v, strings)
                            elif t2 == 8 and tag == 3:
                                refs = unpack(v, signed=True)
                            elif t2 == 8 and tag == 4:
                                roles = unpack(v)
                            elif t2 == 9:
                                memids = unpack(v, signed=True)
                            elif t2 == 10:
                                mtypes = unpack(v)
                        row["tags"] = [
                            {"key": strings[k], "value": strings[x]}
                            for k, x in zip(keys, vals)
                        ]
                        finish_meta(row, info)
                        if tag == 3:
                            acc, out = 0, []
                            for d in refs:
                                acc += d
                                out.append(acc)
                            row["refs"] = out
                        else:
                            acc, mem = 0, []
                            for j, d in enumerate(memids):
                                acc += d
                                mem.append(
                                    {"mtype": mtypes[j], "ref": acc,
                                     "role": strings[roles[j]]}
                                )
                            row["members"] = mem
                        rows.append(row)
            return rows

        for pdf in batches:
            all_rows = []
            with open(path, "rb") as f:
                for off, size in zip(pdf["offset"], pdf["size"]):
                    f.seek(int(off))
                    all_rows.extend(parse_block(decompress_blob(f.read(int(size)))))
            yield pd.DataFrame(all_rows, columns=cols)

    return decode


def read_osm_pbf(spark: SparkSession, path: str) -> DataFrame:
    """Read a .osm.pbf file into the canonical entity frame; blob decode
    runs distributed (one task per batch of blob ranges)."""
    import os

    path = os.path.abspath(path)
    data = [
        (off, size) for btype, off, size in index_blobs(path) if btype == "OSMData"
    ]
    if not data:
        return spark.createDataFrame([], ENTITY_SCHEMA)
    from pyspark.sql import functions as F

    from .osmxml import _tag_entries_schema

    # tags travel as an entries ARRAY through Arrow (a python-dict map does
    # not preserve insertion order) and become a map via map_from_entries —
    # PBF tag order is the reference's output order
    n_parts = min(len(data), spark.sparkContext.defaultParallelism)
    ranges = spark.createDataFrame(data, "offset long, size long").repartition(n_parts)
    decoded = ranges.mapInPandas(_make_blob_decoder(path), schema=_tag_entries_schema())
    return decoded.withColumn("tags", F.map_from_entries("tags")).select(
        *[f.name for f in ENTITY_SCHEMA.fields]
    )
