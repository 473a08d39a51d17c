"""geo_buffered_split (operators/curation.py): spatially leakage-safe
train/val/test assignment with a buffer ring."""

import random

import pytest

from osmium_tool_spark.functions.cells import morton_py
from osmium_tool_spark.operators.curation import geo_buffered_split

LON_SPAN, LAT_SPAN = 3_600_000_000, 1_800_000_000
P, MIX = 1_000_000_007, 2654435761


def py_split(x, y, n, weights, seed=0):
    h = ((((x * n + y) % P + P) % P + seed) * MIX) % P
    if h * 100 < weights[0] * P:
        return "train"
    if h * 100 < (weights[0] + weights[1]) * P:
        return "val"
    return "test"


def py_expected(lon, lat, res, weights, ring=1, seed=0):
    n = 1 << res
    x = min((lon + LON_SPAN // 2) * n // LON_SPAN, n - 1)
    y = min((lat + LAT_SPAN // 2) * n // LAT_SPAN, n - 1)
    own = py_split(x, y, n, weights, seed)
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            if dx == dy == 0:
                continue
            nx = (x + dx) % n  # lon wraps
            ny = min(max(y + dy, 0), n - 1)  # lat clamps
            if (nx, ny) != (x, y) and py_split(nx, ny, n, weights, seed) != own:
                return (res << 56) | morton_py(x, y, res), "buffer"
    return (res << 56) | morton_py(x, y, res), own


def _points(spark, k=600, seed=5):
    rng = random.Random(seed)
    rows = [
        (
            i,
            rng.randrange(-LON_SPAN // 2, LON_SPAN // 2),
            rng.randrange(-LAT_SPAN // 2, LAT_SPAN // 2),
        )
        for i in range(k)
    ]
    # force seam + pole coverage
    rows += [
        (k, -LON_SPAN // 2, 0),
        (k + 1, LON_SPAN // 2 - 1, 0),
        (k + 2, 0, LAT_SPAN // 2 - 1),
        (k + 3, 0, -LAT_SPAN // 2),
    ]
    return rows, spark.createDataFrame(rows, "image_id long, lon long, lat long")


def test_matches_python_replica(spark):
    rows, df = _points(spark)
    out = {
        r.image_id: (r.cell, r.split)
        for r in geo_buffered_split(df, res=6, buffer_ring=1).collect()
    }
    for i, lon, lat in rows:
        assert out[i] == py_expected(lon, lat, 6, (80, 10, 10)), (i, lon, lat)


def test_no_cross_split_adjacency(spark):
    # the guarantee itself: among non-buffer points, no two cells of
    # different splits are Chebyshev-adjacent (with lon wrap)
    _, df = _points(spark, k=1500, seed=9)
    res = 5
    n = 1 << res
    out = geo_buffered_split(df, res=res, buffer_ring=1).collect()
    by_cell = {}
    for r in out:
        if r.split == "buffer":
            continue
        m = r.cell & ((1 << 56) - 1)
        x = y = 0
        for b in range(res):
            x |= ((m >> (2 * b)) & 1) << b
            y |= ((m >> (2 * b + 1)) & 1) << b
        by_cell[(x, y)] = r.split
    for (x, y), s in by_cell.items():
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = ((x + dx) % n, min(max(y + dy, 0), n - 1))
                if nb in by_cell:
                    assert by_cell[nb] == s, ((x, y), nb)


def test_ring2_and_weights(spark):
    rows, df = _points(spark, k=300, seed=11)
    out2 = {
        r.image_id: (r.cell, r.split)
        for r in geo_buffered_split(
            df, res=6, buffer_ring=2, weights=(50, 25, 25)
        ).collect()
    }
    for i, lon, lat in rows:
        assert out2[i] == py_expected(lon, lat, 6, (50, 25, 25), ring=2)


def test_validation(spark):
    _, df = _points(spark, k=2)
    with pytest.raises(ValueError):
        geo_buffered_split(df, res=6, weights=(80, 10, 5))
    with pytest.raises(ValueError):
        geo_buffered_split(df, res=6, buffer_ring=0)
