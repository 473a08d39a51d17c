"""MVT sink (sinks/mvt.py): independent protobuf decode + framing."""

import random

from pyspark.sql import functions as F

from osmium_tool_spark.sinks.mvt import EXTENT, write_mvt_tiles


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        b = buf[i]
        i += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, i
        shift += 7


def parse_message(buf: bytes) -> list[tuple[int, int, object]]:
    """Independent minimal protobuf reader: [(field, wire, value)]."""
    out, i = [], 0
    while i < len(buf):
        tag, i = read_varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = read_varint(buf, i)
        elif wire == 2:
            ln, i = read_varint(buf, i)
            v = buf[i : i + ln]
            i += ln
        else:
            raise AssertionError(f"unexpected wire type {wire}")
        out.append((field, wire, v))
    return out


def decode_tile(blob: bytes):
    """-> (layer_name, version, extent, keys, values,
           [(fid, px, py, attrs_dict)])."""
    tile = parse_message(blob)
    assert [f for f, _, _ in tile] == [3], "exactly one layer field"
    layer = parse_message(tile[0][2])
    fields = {}
    feats, keys, values = [], [], []
    for f, _, v in layer:
        if f == 2:
            feats.append(v)
        elif f == 3:
            keys.append(v.decode())
        elif f == 4:
            vm = {ff: vv for ff, _, vv in parse_message(v)}
            assert set(vm) == {4}, "int_value only"
            values.append(vm[4])
        else:
            fields[f] = v
    name = fields[1].decode()
    version = fields[15]
    extent = fields[5]
    decoded = []
    for body in feats:
        fm = {f: v for f, _, v in parse_message(body)}
        geom = fm[4]
        cmd, i = read_varint(geom, 0)
        assert cmd == 9  # MoveTo count=1
        zx, i = read_varint(geom, i)
        zy, i = read_varint(geom, i)
        assert i == len(geom)
        attrs = {}
        if 2 in fm:
            pk, j = [], 0
            while j < len(fm[2]):
                v, j = read_varint(fm[2], j)
                pk.append(v)
            assert len(pk) % 2 == 0
            for a in range(0, len(pk), 2):
                attrs[keys[pk[a]]] = values[pk[a + 1]]
        decoded.append((fm[1], zx >> 1, zy >> 1, attrs))  # zigzag of >=0
        assert fm[3] == 1  # POINT
    return name, version, extent, keys, values, decoded


def test_decode_conformance_and_coords(spark):
    rng = random.Random(31)
    rows = [
        (
            i,
            rng.randrange(-1800000000, 1800000000),
            rng.randrange(-900000000, 900000000),
        )
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, lon long, lat long")
    df = df.withColumn("rk", F.col("id") % 13)
    out = write_mvt_tiles(df, res=3, attr_col="rk", attr_key="rank").collect()
    assert sum(r.n_features for r in out) == 500
    total = 0
    seen = set()
    ge = (1 << 3) * EXTENT
    for r in out:
        assert len(bytes(r.mvt)) == r.mvt_bytes
        name, version, extent, keys, values, feats = decode_tile(bytes(r.mvt))
        assert (name, version, extent) == ("points", 2, EXTENT)
        assert keys == ["rank"]
        assert values == sorted(set(values)) and len(values) >= 1
        assert len(feats) == r.n_features
        assert [f[0] for f in feats] == sorted(f[0] for f in feats)
        for fid, px, py, attrs in feats:
            assert attrs == {"rank": fid % 13}
            seen.add(fid)
            lon = dict((i, lo) for i, lo, la in rows)[fid]
            lat = dict((i, la) for i, lo, la in rows)[fid]
            gx = min((lon + 1800000000) * ge // 3600000000, ge - 1)
            gy = min((lat + 900000000) * ge // 1800000000, ge - 1)
            assert (r.tile_x, r.tile_y) == (gx >> 12, gy >> 12)
            assert (px, py) == (gx & 4095, gy & 4095)
        total += len(feats)
    assert total == 500 and len(seen) == 500


def test_deterministic_across_partitions(spark):
    rows = [(i, i * 1000003 % 3600000000 - 1800000000, i * 999983 % 1800000000 - 900000000) for i in range(300)]
    a = write_mvt_tiles(
        spark.createDataFrame(rows, "id long, lon long, lat long"), res=4
    ).collect()
    b = write_mvt_tiles(
        spark.createDataFrame(rows, "id long, lon long, lat long").repartition(7),
        res=4,
    ).collect()
    fa = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in a}
    fb = {(r.tile_x, r.tile_y): bytes(r.mvt) for r in b}
    assert fa == fb


def test_res_validation(spark):
    import pytest

    df = spark.range(1).select(
        F.col("id"), F.lit(0).alias("lon"), F.lit(0).alias("lat")
    )
    with pytest.raises(ValueError):
        write_mvt_tiles(df, res=19)


def test_negative_feature_id_raises(spark):
    """MVT Feature.id is uint64: a negative id must fail the encode task
    with a ValueError naming it. A timer cancels the job group after
    60 s so an encoder that loops on the id fails here instead of
    hanging the suite."""
    import threading

    import pytest

    sc = spark.sparkContext
    df = spark.createDataFrame([(-7, 10, 10), (3, 10, 10)], "id long, lon long, lat long")
    sc.setJobGroup("mvt-negative-id", "negative MVT feature id", interruptOnCancel=True)
    timer = threading.Timer(60, sc.cancelJobGroup, ("mvt-negative-id",))
    timer.start()
    try:
        with pytest.raises(Exception, match="negative id -7"):
            write_mvt_tiles(df, res=2).collect()
    finally:
        timer.cancel()
        sc.setLocalProperty("spark.jobGroup.id", None)
