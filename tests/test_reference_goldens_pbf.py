"""Golden parity for the PBF reader (test/formats conversion matrix):
every f1*.osm.pbf variant (dense/non-dense nodes, zlib/uncompressed
blobs, with/without metadata) must decode to the same entities as
f1.osm, and the pbf -> opl path must be BYTE-identical to the committed
f1.osm.opl."""

import pytest

from osmium_tool_spark.sources.osmxml import read_osm_xml
from osmium_tool_spark.sources.pbf import read_osm_pbf
from tests.test_reference_goldens_xml import canon_rows

REF = "/root/reference/test"


def meta_rows(df):
    # PBF has no "absent" encoding for uid/user in dense info: uid 0 and
    # empty user mean unset (the reference's own f1.osm.opl golden prints
    # "i0 u" for the XML node without uid/user) — normalize both sides
    return sorted(
        (r.type, r.id, r.version, r.ts, r.uid or 0, r.user or "", r.changeset,
         tuple(sorted((r.tags or {}).items())), r.lon, r.lat,
         tuple(r.refs or ()),
         tuple((m.mtype, m.ref, m.role) for m in (r.members or ())))
        for r in df.collect()
    )


def hist_rows(df):
    return sorted(
        (r.type, r.id, r.version, r.visible, r.ts, r.uid or 0,
         r.user or "", r.changeset,
         tuple(sorted((r.tags or {}).items())), r.lon, r.lat,
         tuple(r.refs or ()),
         tuple((m.mtype, m.ref, m.role) for m in (r.members or ())))
        for r in df.collect()
    )


def nometa_rows(df):
    return sorted(
        (r.type, r.id, tuple(sorted((r.tags or {}).items())), r.lon, r.lat,
         tuple(r.refs or ()),
         tuple((m.mtype, m.ref, m.role) for m in (r.members or ())))
        for r in df.collect()
    )


@pytest.mark.parametrize(
    "fname",
    ["f1.osm.pbf", "f1-nodensenodes.osm.pbf", "f1-nocompression.osm.pbf"],
)
def test_pbf_full_metadata_matches_xml(spark, fname):
    got = meta_rows(read_osm_pbf(spark, f"{REF}/formats/{fname}"))
    want = meta_rows(read_osm_xml(spark, f"{REF}/formats/f1.osm"))
    assert got == want


@pytest.mark.parametrize(
    "fname", ["f1-nometadata.osm.pbf", "f1-nodensenodes-nometadata.osm.pbf"]
)
def test_pbf_nometadata_matches_xml_content(spark, fname):
    got = nometa_rows(read_osm_pbf(spark, f"{REF}/formats/{fname}"))
    want = nometa_rows(read_osm_xml(spark, f"{REF}/formats/f1.osm"))
    assert got == want


@pytest.mark.parametrize(
    "fname",
    ["empty.osm.pbf", "empty-nodensenodes.osm.pbf", "empty-nocompression.osm.pbf",
     "empty-nometadata.osm.pbf", "empty-nodensenodes-nometadata.osm.pbf"],
)
def test_pbf_empty_variants(spark, fname):
    assert read_osm_pbf(spark, f"{REF}/formats/{fname}").count() == 0


def test_pbf_to_opl_byte_parity(spark):
    # "cat f1.osm.pbf -f opl" golden: serialized lines == f1.osm.opl bytes
    from osmium_tool_spark.functions.sortkeys import canonical_sort
    from osmium_tool_spark.sources.opl import to_opl_lines

    df = read_osm_pbf(spark, f"{REF}/formats/f1.osm.pbf")
    got = [r.value for r in to_opl_lines(canonical_sort(df)).collect()]
    want = [ln.rstrip("\n") for ln in open(f"{REF}/formats/f1.osm.opl") if ln.strip()]
    assert got == want


def test_pbf_cat_input1(spark):
    got = meta_rows(read_osm_pbf(spark, f"{REF}/cat/input1.osm.pbf"))
    want = meta_rows(read_osm_xml(spark, f"{REF}/cat/input1.osm"))
    assert got == want


def test_cli_pbf_to_opl_and_xml(spark, tmp_path):
    # "cat f1.osm.pbf -f opl" end-to-end through the CLI == f1.osm.opl bytes
    from osmium_tool_spark.cli import main

    out = str(tmp_path / "out.opl")
    rc = main(["cat", f"{REF}/formats/f1.osm.pbf", "-o", out], spark=spark)
    assert rc == 0
    # single-file OPL output (reference parity)
    want = open(f"{REF}/formats/f1.osm.opl").read()
    assert open(out).read() == want
    # pbf -> sort -> xml: byte-identical to the committed f1.osm
    out2 = str(tmp_path / "out.osm")
    rc = main(["--generator", "test", "sort", f"{REF}/formats/f1.osm.pbf", "-o", out2], spark=spark)
    assert rc == 0
    want_xml = open(f"{REF}/formats/f1.osm").read().replace(
        '<osm version="0.6" upload="false" generator="test">',
        '<osm version="0.6" generator="test">',
    )
    assert open(out2).read() == want_xml


class TestPbfWriter:
    """sinks/pbf.py: the write half of the interchange loop. Parity
    target: read(write(frame)) == frame for every fixture shape, and
    write(read(write(x))) byte-identical to write(x) (stability)."""

    def _roundtrip(self, spark, df, tmp_path, with_history=False):
        from osmium_tool_spark.sinks.pbf import write_osm_pbf

        out = str(tmp_path / "rt.osm.pbf")
        write_osm_pbf(df, out, with_history=with_history)
        return out, read_osm_pbf(spark, out)

    @pytest.mark.parametrize(
        "fname", ["f1.osm.pbf", "f1-nodensenodes.osm.pbf", "f1-nocompression.osm.pbf"]
    )
    def test_roundtrip_formats_matrix(self, spark, fname, tmp_path):
        src = read_osm_pbf(spark, f"{REF}/formats/{fname}")
        _, back = self._roundtrip(spark, src, tmp_path)
        assert meta_rows(back) == meta_rows(src)

    @pytest.mark.parametrize(
        "fname", ["f1-nometadata.osm.pbf", "f1-nodensenodes-nometadata.osm.pbf"]
    )
    def test_roundtrip_nometadata(self, spark, fname, tmp_path):
        src = read_osm_pbf(spark, f"{REF}/formats/{fname}")
        _, back = self._roundtrip(spark, src, tmp_path)
        assert nometa_rows(back) == nometa_rows(src)
        # metadata must stay absent, not become zeros
        assert all(r.version is None for r in back.collect())

    def test_roundtrip_xml_fixture_via_pbf(self, spark, tmp_path):
        src = read_osm_xml(spark, f"{REF}/formats/f1.osm")
        _, back = self._roundtrip(spark, src, tmp_path)
        assert meta_rows(back) == meta_rows(src)

    def test_roundtrip_negative_ids(self, spark, tmp_path):
        # sort/input-neg.osm: negative node/way/relation ids (int64
        # two's-complement varints for way/relation ids)
        src = read_osm_xml(spark, f"{REF}/sort/input-neg.osm")
        _, back = self._roundtrip(spark, src, tmp_path)
        assert meta_rows(back) == meta_rows(src)

    def test_roundtrip_history_with_deleted(self, spark, tmp_path):
        # history file: visible flags + undefined locations on deleted
        # nodes must survive (undefined_coordinate sentinel -> NULL)
        src = read_osm_xml(spark, f"{REF}/apply-changes/input-patch-old-version.osh")
        _, back = self._roundtrip(spark, src, tmp_path, with_history=True)
        assert hist_rows(back) == hist_rows(src)

    def test_write_is_byte_stable(self, spark, tmp_path):
        from osmium_tool_spark.sinks.pbf import write_osm_pbf

        src = read_osm_pbf(spark, f"{REF}/formats/f1.osm.pbf")
        a = str(tmp_path / "a.osm.pbf")
        write_osm_pbf(src, a)
        b = str(tmp_path / "b.osm.pbf")
        write_osm_pbf(read_osm_pbf(spark, a), b)
        assert open(a, "rb").read() == open(b, "rb").read()

    def test_header_features_and_bbox(self, spark, tmp_path):
        from osmium_tool_spark.sinks.pbf import write_osm_pbf
        from osmium_tool_spark.sources.pbf import index_blobs

        src = read_osm_pbf(spark, f"{REF}/formats/f1.osm.pbf")
        out = str(tmp_path / "h.osm.pbf")
        write_osm_pbf(src, out, bbox=(10000000, 10000000, 20000000, 20000000))
        blobs = index_blobs(out)  # also validates required_features
        assert blobs[0][0] == "OSMHeader"
        # one OSMData blob per non-empty partition
        assert set(b[0] for b in blobs[1:]) == {"OSMData"}

    def test_cli_cat_to_pbf_roundtrip(self, spark, tmp_path):
        from osmium_tool_spark.cli import main

        out = str(tmp_path / "out.osm.pbf")
        rc = main(["cat", f"{REF}/formats/f1.osm", "-o", out], spark=spark)
        assert rc == 0
        got = meta_rows(read_osm_pbf(spark, out))
        want = meta_rows(read_osm_xml(spark, f"{REF}/formats/f1.osm"))
        assert got == want

    def test_multiblock_output(self, spark, tmp_path):
        # >8000 entities forces multiple OSMData blobs; ordering and
        # delta chains must restart cleanly per block
        from osmium_tool_spark.sinks.pbf import write_osm_pbf
        from osmium_tool_spark.sources.pbf import index_blobs
        from pyspark.sql import functions as F

        n = 20000
        src = (
            spark.range(1, n + 1)
            .select(
                F.lit(0).alias("type"), F.col("id"),
                F.lit(1).alias("version").cast("int"),
                F.lit(True).alias("visible"),
                F.lit(7).alias("changeset").cast("long"),
                F.lit(1_420_074_000_000_000).alias("ts").cast("long"),
                F.lit(3).alias("uid").cast("int"), F.lit("u").alias("user"),
                F.map_from_arrays(
                    F.array(F.lit("k")), F.array(F.col("id").cast("string"))
                ).alias("tags"),
                (F.col("id") % 1800000000).cast("int").alias("lon"),
                (F.col("id") % 900000000).cast("int").alias("lat"),
                F.lit(None).cast("array<long>").alias("refs"),
                F.lit(None).cast(
                    "array<struct<mtype:int,ref:long,role:string>>"
                ).alias("members"),
            )
        )
        out = str(tmp_path / "big.osm.pbf")
        write_osm_pbf(src, out)
        assert len([b for b in index_blobs(out) if b[0] == "OSMData"]) >= 3
        back = read_osm_pbf(spark, out)
        assert back.count() == n
        assert back.agg(F.sum("id")).collect()[0][0] == n * (n + 1) // 2

    def test_roundtrip_fixture_entities(self, spark, tmp_path):
        # reference-free codec coverage built from the fixture helpers:
        # negative ids, relation members, a history write with a deleted
        # locationless node, a header bbox, byte stability, and a frame
        # without metadata. PBF keeps whole seconds, so ts is a whole
        # second in micros.
        from pyspark.sql import functions as F

        from osmium_tool_spark.functions.protowire import fields, unzigzag
        from osmium_tool_spark.sinks.pbf import write_osm_pbf
        from tests.fixtures import _df, _node, _rel, _way
        from osmium_tool_spark.sources.pbf import decompress_blob, index_blobs

        ts = 1_420_074_000_000_000
        deleted = {**_node(4, 0.0, 0.0, ts=ts, version=2, visible=False),
                   "lon": None, "lat": None}
        src = _df(spark, [
            _node(-5, -12.5, -45.25, {"name": "neg", "a": "1"}, ts=ts),
            _node(1, 0.0, 0.0, ts=ts),
            _node(2, 179.9999999, 89.9999999, {"k": "v"}, ts=ts, uid=7, user="ü"),
            deleted,
            _way(-10, [-5, 1, 2, -5], {"highway": "x"}, ts=ts),
            _way(11, [1, 2], ts=ts, changeset=1 << 40),
            _rel(-20, [(1, -10, "outer"), (0, -5, ""), (2, 21, "sub")],
                 {"type": "multipolygon"}, ts=ts),
            _rel(21, [], ts=ts),
        ])
        bbox = (-1800000000, -900000000, 1799999999, 899999999)
        a, b = str(tmp_path / "a.osm.pbf"), str(tmp_path / "b.osm.pbf")
        write_osm_pbf(src, a, with_history=True, bbox=bbox)
        back = read_osm_pbf(spark, a)
        assert hist_rows(back) == hist_rows(src)
        write_osm_pbf(back, b, with_history=True, bbox=bbox)
        assert open(a, "rb").read() == open(b, "rb").read()

        btype, off, size = index_blobs(a)[0]
        with open(a, "rb") as f:
            f.seek(off)
            header = decompress_blob(f.read(size))
        box = {t: unzigzag(v)
               for tag, _w, msg in fields(header) if tag == 1
               for t, _w2, v in fields(msg)}
        left, bottom, right, top = bbox
        assert btype == "OSMHeader"
        assert box == {1: left * 100, 2: right * 100, 3: top * 100, 4: bottom * 100}

        bare = src.filter("visible").select(
            "type", "id", *[F.lit(None).cast(t).alias(c) for c, t in [
                ("version", "int"), ("visible", "boolean"), ("changeset", "long"),
                ("ts", "long"), ("uid", "int"), ("user", "string")]],
            "tags", "lon", "lat", "refs", "members")
        c = str(tmp_path / "c.osm.pbf")
        write_osm_pbf(bare, c)
        back = read_osm_pbf(spark, c)
        assert nometa_rows(back) == nometa_rows(bare)
        assert all(r.version is None and r.ts is None for r in back.collect())


class TestBlobCodecs:
    """Blob codec matrix (fileformat.proto tags): lzma (4) and bzip2 (5)
    decode via the stdlib; lz4/zstd (6/7) raise the reference-style
    unsupported-compression error instead of reading as empty."""

    SRC = "/root/reference/test/formats/f1.osm.pbf"

    @staticmethod
    def _recompress(src_path, dst_path, tag, compress):
        """Rewrite every Blob's zlib_data/raw payload under another
        codec tag, preserving the BlobHeader framing."""
        import struct
        import zlib as _z

        from osmium_tool_spark.functions.protowire import fields
        from osmium_tool_spark.sources.pbf import decompress_blob

        with open(src_path, "rb") as f, open(dst_path, "wb") as out:
            while True:
                hdr_len_raw = f.read(4)
                if len(hdr_len_raw) < 4:
                    break
                (hdr_len,) = struct.unpack(">I", hdr_len_raw)
                hdr = f.read(hdr_len)
                datasize = None
                for t, wt, val in fields(hdr):
                    if t == 3:
                        datasize = val
                blob = f.read(datasize)
                raw = decompress_blob(blob)
                comp = compress(raw)
                # Blob: raw_size (tag 2, varint) + payload (tag, bytes)
                def varint(n):
                    b = b""
                    while True:
                        lo, n = n & 0x7F, n >> 7
                        b += bytes([lo | (0x80 if n else 0)])
                        if not n:
                            return b
                new_blob = (bytes([2 << 3]) + varint(len(raw))
                            + bytes([(tag << 3) | 2]) + varint(len(comp)) + comp)
                # BlobHeader datasize (tag 3) must be rewritten
                new_hdr = b""
                for t, wt, val in fields(hdr):
                    if t == 3:
                        new_hdr += bytes([3 << 3]) + varint(len(new_blob))
                    elif wt == 2:
                        new_hdr += bytes([(t << 3) | 2]) + varint(len(val)) + val
                    else:
                        new_hdr += bytes([t << 3]) + varint(val)
                out.write(struct.pack(">I", len(new_hdr)))
                out.write(new_hdr)
                out.write(new_blob)

    @pytest.mark.parametrize("tag,mod", [(4, "lzma"), (5, "bz2")])
    def test_lzma_bzip2_blobs_decode(self, spark, tmp_path, tag, mod):
        import importlib

        from osmium_tool_spark.sources.pbf import read_osm_pbf

        m = importlib.import_module(mod)
        dst = str(tmp_path / f"f1-{mod}.osm.pbf")
        self._recompress(self.SRC, dst, tag, m.compress)
        got = read_osm_pbf(spark, dst).orderBy("type", "id").collect()
        want = read_osm_pbf(spark, self.SRC).orderBy("type", "id").collect()
        assert got == want and len(got) > 0

    def test_unsupported_codec_raises(self, spark, tmp_path):
        from osmium_tool_spark.sources.pbf import read_osm_pbf

        dst = str(tmp_path / "f1-zstd.osm.pbf")
        self._recompress(self.SRC, dst, 7, lambda b: b)  # fake zstd
        try:
            import zstandard  # noqa: F401

            # zstd installed: garbage payload must still fail loud
            with pytest.raises(Exception):
                read_osm_pbf(spark, dst).collect()
        except ImportError:
            # no zstandard: the loud missing-package error names it
            with pytest.raises(Exception, match="zstandard"):
                read_osm_pbf(spark, dst).collect()
