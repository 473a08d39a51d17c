"""Mapbox Vector Tile (MVT) sink: real protobuf tile bytes from Spark.

The reference exports to GeoJSON/text/PG (src/export/*); the format web
maps actually serve is the MVT protobuf (spec 2.1,
github.com/mapbox/vector-tile-spec — public). This sink renders a POINT
layer per slippy tile entirely from integer arithmetic:

  - tile assignment + in-tile pixel coords are exact fixed-point math
    (no float geometry), so every byte of the output is a deterministic
    function of the input rows;
  - the protobuf wire format is hand-rolled (varint / length-delimited
    framing per the public protobuf encoding spec) — no protobuf
    dependency, and the byte LENGTH of every tile is a closed-form
    function of its feature deltas, which is what the DuckDB oracle
    recomputes (any framing/varint/zigzag bug shifts it);
  - one shuffle keyed by tile (groupBy -> applyInPandas, one task per
    tile; the kernel's protobuf framing is functions/protowire.py,
    shipped by value), features ordered by id within the tile.

Layer shape kept deliberately minimal-but-conformant: version 2, one
layer, POINT features with an integer id and no attributes (keys/values
empty — attribute encoding is orthogonal to the geometry/framing path
and the first thing a consumer varies anyway). Extent 4096.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.protowire import key, ld, ship_by_value, svarint, varint

EXTENT = 4096
LAYER_NAME = "points"  # the one layer of every tile


def varint_len_sql(v: str) -> str:
    """SQL expression: encoded varint byte length of non-negative ``v``
    (values here are < 2^28, so four terms suffice)."""
    return (
        f"(CASE WHEN ({v}) < 128 THEN 1 WHEN ({v}) < 16384 THEN 2 "
        f"WHEN ({v}) < 2097152 THEN 3 ELSE 4 END)"
    )


def tile_pixel_cols(
    lon: Column, lat: Column, res: int
) -> tuple[Column, Column, Column, Column]:
    """(tile_x, tile_y, px, py) on the engine's equirectangular grid at
    ``res``: the tile is the res-level cell, the pixel is the EXTENT
    subdivision inside it — all exact integer floor math, mirrored
    verbatim by the oracle."""
    n = 1 << res
    span_x = 3_600_000_000
    span_y = 1_800_000_000
    gx = ((lon.cast("long") + span_x // 2) * (n * EXTENT)) / F.lit(span_x)
    gy = ((lat.cast("long") + span_y // 2) * (n * EXTENT)) / F.lit(span_y)
    gx = F.least(F.floor(gx).cast("long"), F.lit(n * EXTENT - 1))
    gy = F.least(F.floor(gy).cast("long"), F.lit(n * EXTENT - 1))
    return (
        F.shiftright(gx, 12),  # EXTENT = 2^12
        F.shiftright(gy, 12),
        gx.bitwiseAND(F.lit(EXTENT - 1)),
        gy.bitwiseAND(F.lit(EXTENT - 1)),
    )


def write_mvt_tiles(
    points: DataFrame,
    res: int,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    attr_col: str | None = None,
    attr_key: str = "rank",
) -> DataFrame:
    """One MVT protobuf blob per occupied tile, with one layer named
    LAYER_NAME.

    ``attr_col`` (optional, non-negative int64 column): attaches one
    attribute per feature through the spec's keys/values indirection —
    the layer's keys table holds ``attr_key``, its values table the
    tile's DISTINCT attribute values (ascending — deterministic), and
    each feature's packed ``tags`` field is the [key_idx, value_idx]
    pair. This is the complete attribute path; multi-key maps differ
    only in fan-out.

    Feature ids are uint64 in MVT: a negative id fails the encode task
    with a ValueError naming it.

    Returns (tile_x, tile_y, n_features, mvt: binary, mvt_bytes: long).
    Scale shape: one exchange keyed by tile; the encode kernel is
    Python over the tile's features (bounded by tile occupancy; dense
    metros are exactly the cells the salting machinery elsewhere
    splits), calling the protowire encoders, which ship by value.
    """
    if not 0 <= res <= 18:
        raise ValueError(f"res 0..18, got {res}")
    tx, ty, px, py = tile_pixel_cols(F.col(lon_col), F.col(lat_col), res)
    staged = points.select(
        F.col(id_col).cast("long").alias("fid"),
        tx.alias("tile_x"),
        ty.alias("tile_y"),
        px.alias("px"),
        py.alias("py"),
        *([F.col(attr_col).cast("long").alias("attr")] if attr_col else []),
    )

    lname = LAYER_NAME
    with_attr = attr_col is not None
    key_b = attr_key.encode("utf-8")

    ship_by_value()

    def _encode(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["fid"], kind="mergesort")
        low = int(pdf["fid"].iloc[0])
        if low < 0:
            raise ValueError(f"MVT feature ids are uint64; got negative id {low}")
        vidx = {}
        if with_attr:
            for i, v in enumerate(sorted(set(int(v) for v in pdf["attr"]))):
                vidx[v] = i
        feats = bytearray()
        for row in pdf.itertuples(index=False):
            geom = (
                varint((1 << 3) | 1)  # MoveTo, count 1
                + svarint(int(row.px))
                + svarint(int(row.py))
            )
            tags = b""
            if with_attr:
                tags = key(2, 2) + ld(varint(0) + varint(vidx[int(row.attr)]))
            body = (
                key(1, 0) + varint(int(row.fid))  # id
                + tags  # packed [key_idx, value_idx]
                + key(3, 0) + varint(1)  # type POINT
                + key(4, 2) + ld(geom)  # geometry
            )
            feats += key(2, 2) + ld(body)  # Layer.features
        kv = b""
        if with_attr:
            kv = key(3, 2) + ld(key_b)  # Layer.keys
            for v in sorted(vidx):  # Layer.values: Value{int_value}
                kv += key(4, 2) + ld(key(4, 0) + varint(v))
        layer = (
            key(15, 0) + varint(2)  # version
            + key(1, 2) + ld(lname.encode("utf-8"))
            + bytes(feats)
            + kv
            + key(5, 0) + varint(EXTENT)
        )
        tile = key(3, 2) + ld(layer)
        return pd.DataFrame(
            [
                {
                    "tile_x": int(pdf["tile_x"].iloc[0]),
                    "tile_y": int(pdf["tile_y"].iloc[0]),
                    "n_features": len(pdf),
                    "mvt": bytes(tile),
                    "mvt_bytes": len(tile),
                }
            ]
        )

    return staged.groupBy("tile_x", "tile_y").applyInPandas(
        _encode,
        "tile_x long, tile_y long, n_features long, mvt binary, mvt_bytes long",
    )


def mvt_bytes_sql(attr: bool = False) -> str:
    """Closed-form SQL for a tile's total byte length, given per-feature
    columns px, py, fid (and, with ``attr``, the attribute key "rank",
    per-feature value index
    ``vix`` = dense rank of the attribute among the tile's distinct
    values, 0-based, plus ``n_vals``/``vals_bytes`` aggregates) — the
    oracle's twin of `_encode`'s framing. MVT zigzag here is
    non-negative (px/py, in-tile): z = 2*coord."""
    # geometry: 1 byte command + varint(2*px) + varint(2*py)
    geom = f"(1 + {varint_len_sql('2 * px')} + {varint_len_sql('2 * py')})"
    # feature body: id field (1 + varint(fid)) + type field (2) + geom
    # field (1 + varint(len(geom)) + geom); geom len < 128 -> 1 byte
    tags = f"(2 + 1 + {varint_len_sql('vix')})" if attr else "0"
    body = f"(1 + {varint_len_sql('fid')} + {tags} + 2 + 1 + 1 + {geom})"
    # feature framing: tag byte + varint(body len); body < 128 -> 1 byte
    feat = f"(1 + 1 + {body})"
    name_len = len(LAYER_NAME.encode("utf-8"))
    # layer: version (2) + name (1 + 1 + len) + features + extent (2 +
    # varint(4096) = 2 bytes) -> fixed part + sum(feat); with attr, add
    # the keys entry (1 + 1 + len("rank")) and the values section
    # (per distinct value: framing 1 + 1 + msg(1 + varint(v)))
    fixed = 2 + 1 + 1 + name_len + 1 + 2
    if attr:
        fixed += 1 + 1 + len(b"rank")
    layer = f"({fixed} + sum({feat})" + (" + max(vals_bytes)" if attr else "") + ")"
    # tile: tag byte + varint(layer len) + layer
    return f"(1 + {varint_len_sql(layer)} + {layer})"
