"""Seeded input generators. The same seed gives the same inputs.

- `image_table`: the standing parquet image table of the tile workloads,
  with the columns of `sources.images.synth_images` over a seed-shifted
  id range and seed-mixed captions.
- `tile_extracts`: 8 bounding boxes and 2 small polygons (a diamond and a
  hexagon) of fixed sizes at seed-drawn positions, so every seed does the
  same amount of containment work.
- `graph_tables`: TPC-H-shaped part/customer/orders/lineitem parquet
  tables (the columns `sources.testdata` derives entities from), written
  with pyarrow so the registry queries and their DuckDB oracles run on
  them unchanged.
- `codec_base`: (image_id, key, w, h, val) rows for the mixed PNG/JPEG
  payload table, with the registry's `jpeg_decode_invariant` geometry.
"""

from __future__ import annotations

import os

import numpy as np

TILE_PREDICATES = ["n/fmt=png,jpeg", "n/caption=caption*"]
TILE_CELL_RES = 8
KEY_STRIDE = 997  # distinct seeds map to distinct id ranges, ids stay < 2^31


def _offset(seed: int, n: int) -> int:
    return (seed % KEY_STRIDE) * n


def image_table(spark, seed: int, n: int, partitions: int):
    from pyspark.sql import functions as F

    from osmium_tool_spark.sources.images import FMTS, MIX2, _phash

    off = _offset(seed, n)
    k = F.col("id")
    untitled = ((k * MIX2) % 1000003) % 10 < 4
    return spark.range(off, off + n, 1, partitions).select(
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        F.encode(F.conv(_phash(k).cast("string"), 10, 16), "UTF-8").alias("bytes"),
        (64 + (k * 37) % 448).cast("int").alias("w"),
        (64 + (k * 53) % 448).cast("int").alias("h"),
        F.element_at(F.array(*[F.lit(f) for f in FMTS]), (k % 3 + 1).cast("int")).alias("fmt"),
        F.concat(
            F.when(untitled, F.lit("untitled ")).otherwise(F.lit("caption for image ")),
            k.cast("string"),
        ).alias("caption"),
        _phash(k).alias("phash"),
    )


def _ring(cx: float, cy: float, r: float, sides: int) -> np.ndarray:
    """Closed regular polygon in fixed-point (1e-7 degree) coordinates."""
    ang = np.arange(sides + 1) * (2 * np.pi / sides)
    xs = np.round((cx + r * np.cos(ang)) * 1e7).astype(np.int64)
    ys = np.round((cy + r * np.sin(ang)) * 1e7).astype(np.int64)
    xs[-1], ys[-1] = xs[0], ys[0]
    return np.stack([xs, ys], axis=1)


def tile_extracts(seed: int):
    from osmium_tool_spark.functions.geometry import Extract

    rng = np.random.default_rng(seed)
    out = []
    w, h, r = 50.0, 80.0, 20.0  # degrees
    for i in range(8):
        left, bottom = rng.uniform(-180, 180 - w), rng.uniform(-90, 90 - h)
        out.append(Extract.bbox(i, left, bottom, left + w, bottom + h))
    for i, sides in ((8, 4), (9, 6)):
        cx, cy = rng.uniform(-180 + r, 180 - r), rng.uniform(-90 + r, 90 - r)
        out.append(Extract.polygon(i, [_ring(cx, cy, r, sides)]))
    return out


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
NAME_A = ["small", "red", "green", "large", "shiny", "plain"]
NAME_B = ["ring", "widget", "bolt", "gear", "valve", "panel"]


# a tenth of sf0.1 (TESTDATA.md), 1-7 lines per order (~60k lineitems):
# at full sf0.1 one osm_graph run takes ~110 s on 4 cores, and the
# benchmark's runs no longer fit their time budget
N_PART, N_CUST, N_ORDERS = 2_000, 1_500, 15_000


def graph_tables(seed: int, sf_dir: str) -> int:
    """Write part/customer/orders/lineitem parquet under sf_dir; returns
    the entity count (nodes + ways + relations) they derive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_part, n_cust, n_orders = N_PART, N_CUST, N_ORDERS
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))

    pick = lambda vals, n: np.array(vals, dtype=object)[rng.integers(0, len(vals), n)]  # noqa: E731
    write("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(NAME_A, n_part), pick(NAME_B, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 56, n_part)],
        "p_type": pick(TYPES, n_part),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    days = rng.integers(0, 2400, n_orders)
    write("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": pick(STATUSES, n_orders),
        "o_orderdate": (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": pick(PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    write("lineitem", {
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n_part, int(lines.sum())).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, m + 1, dtype=np.int32) for m in lines]),
    })
    return n_part + n_orders + n_cust


def codec_base(spark, seed: int, n: int):
    from pyspark.sql import functions as F

    off = _offset(seed, n)
    k = F.col("id")
    return spark.range(off, off + n, 1, 4).select(
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        k.alias("key"),
        (16 + k % 17).cast("int").alias("w"),
        (12 + k % 13).cast("int").alias("h"),
        ((k * 37) % 256).cast("int").alias("val"),
    )


def codec_expected(seed: int, n: int) -> dict[str, tuple[int, int, str, float]]:
    """image_id -> (w, h, fmt, exact mean of the gradient pattern)."""
    out = {}
    for key in range(_offset(seed, n), _offset(seed, n) + n):
        w, h, val = 16 + key % 17, 12 + key % 13, (key * 37) % 256
        xs = np.arange(w, dtype=np.int64) * 7
        ys = np.arange(h, dtype=np.int64) * 13
        mean = float(((val * 31 + ys[:, None] + xs[None, :]) % 256).mean())
        out[f"img{key}"] = (w, h, "png" if key % 2 == 0 else "jpeg", mean)
    return out
