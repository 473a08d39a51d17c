"""Hierarchical grid-cell index (H3/S2-style) as pure Column expressions.

A Morton (Z-order) quadtree over the fixed-point equirectangular plane:
at resolution ``r`` (0..30) the world splits into 2^r × 2^r cells; a cell id
packs (resolution, interleaved x/y bits) into one int64. All of encode /
parent / children / neighbor-ring are JVM-side Column math (whole-stage
codegen) — no Python in the hot path — so cell assignment, tile partitioning
and kNN cell-ring expansion ride Catalyst/Tungsten.

Design notes for 100 TB scale:
  - cell ids are a natural Iceberg partition/sort column: range predicates on
    a parent cell prune child files (min/max stats on the packed id work
    because children share the parent's bit prefix at fixed resolution).
  - kNN via cell-ring expansion (north rule): candidate pairs are generated
    by equi-joining on neighbor cell ids (ring k), so the join is a plain
    shuffle-hash/broadcast equi-join — no cross product.
  - skewed (dense) cells get salted sub-splits (operators/extract.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..schema import COORD_SCALE

# world extents in fixed-point units
_LON_SPAN = 360 * COORD_SCALE  # 3_600_000_000
_LAT_SPAN = 180 * COORD_SCALE  # 1_800_000_000
_LON_MIN = -180 * COORD_SCALE
_LAT_MIN = -90 * COORD_SCALE

MAX_RES = 30


def _ix(lon: Column, res: int) -> Column:
    """Cell x ordinate: floor((lon - lon_min) * 2^res / lon_span), clamped."""
    n = 1 << res
    raw = ((lon.cast("long") - _LON_MIN) * n) / F.lit(_LON_SPAN)
    return F.least(F.floor(raw).cast("long"), F.lit(n - 1))


def _iy(lat: Column, res: int) -> Column:
    n = 1 << res
    raw = ((lat.cast("long") - _LAT_MIN) * n) / F.lit(_LAT_SPAN)
    return F.least(F.floor(raw).cast("long"), F.lit(n - 1))


def ord_x(c: Column, res: int) -> Column:
    """Cell x ordinate at `res` clamped to [0, 2^res - 1] on both sides
    (_ix clamps only the top); double division of exactly-representable
    longs, mirrored verbatim in the DuckDB oracle twins."""
    n = 1 << res
    raw = ((c - F.lit(_LON_MIN)) * n) / F.lit(_LON_SPAN)
    return F.greatest(F.least(F.floor(raw).cast("long"), F.lit(n - 1)), F.lit(0))


def ord_y(c: Column, res: int) -> Column:
    n = 1 << res
    raw = ((c - F.lit(_LAT_MIN)) * n) / F.lit(_LAT_SPAN)
    return F.greatest(F.least(F.floor(raw).cast("long"), F.lit(n - 1)), F.lit(0))


def _interleave(x: Column, y: Column, res: int) -> Column:
    """Interleave res-bit x and y into a 2*res-bit Morton code (Column)."""
    code = F.lit(0).cast("long")
    for b in range(res):
        xb = F.shiftright(x, b).bitwiseAND(F.lit(1))
        yb = F.shiftright(y, b).bitwiseAND(F.lit(1))
        code = code.bitwiseOR(F.shiftleft(xb, 2 * b)).bitwiseOR(F.shiftleft(yb, 2 * b + 1))
    return code


def cell_id(lon: Column, lat: Column, res: int) -> Column:
    """Pack (res, morton(x,y)) into int64: (res << 56) | morton."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of range")
    morton = _interleave(_ix(lon, res), _iy(lat, res), res)
    return F.shiftleft(F.lit(res).cast("long"), 56).bitwiseOR(morton)


def cell_parent(cell: Column, res: int, parent_res: int) -> Column:
    """Parent cell id at a coarser resolution (drop low Morton bits)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    morton = cell.bitwiseAND(F.lit((1 << 56) - 1))
    pm = F.shiftright(morton, 2 * (res - parent_res))
    return F.shiftleft(F.lit(parent_res).cast("long"), 56).bitwiseOR(pm)


def cell_from_xy(x: Column, y: Column, res: int) -> Column:
    n = 1 << res
    xv = F.when(x < 0, x + n).when(x >= n, x - n).otherwise(x)  # lon wraps ±180
    yv = F.greatest(F.lit(0).cast("long"), F.least(y, F.lit(n - 1).cast("long")))
    return F.shiftleft(F.lit(res).cast("long"), 56).bitwiseOR(_interleave(xv, yv, res))


# ---------------------------------------------------------------------------
# driver-side Morton math (plain ints) — query planning over the cell space:
# bbox -> packed-cell-id ranges for file/row-group pruning on clustered
# tables (the Iceberg partition-pruning analog; see sources/layout.py)
# ---------------------------------------------------------------------------


def morton_py(x: int, y: int, res: int) -> int:
    """Interleave res-bit x and y (plain-int twin of _interleave)."""
    code = 0
    for b in range(res):
        code |= ((x >> b) & 1) << (2 * b)
        code |= ((y >> b) & 1) << (2 * b + 1)
    return code


def cell_id_py(lon_fp: int, lat_fp: int, res: int) -> int:
    """Packed cell id for fixed-point coords (plain-int twin of cell_id)."""
    n = 1 << res
    ix = min((lon_fp - _LON_MIN) * n // _LON_SPAN, n - 1)
    iy = min((lat_fp - _LAT_MIN) * n // _LAT_SPAN, n - 1)
    return (res << 56) | morton_py(ix, iy, res)


def morton_ranges(
    lon_min: int, lat_min: int, lon_max: int, lat_max: int,
    res: int, max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Decompose a fixed-point bbox into inclusive packed-cell-id ranges at
    resolution ``res`` — the standard Z-order quadtree descent: a quad
    fully inside the box emits one contiguous Morton range (children share
    the parent's bit prefix), a disjoint quad prunes, a straddling quad
    recurses. Descending children in Morton order (yx bit = 00,01,10,11)
    yields sorted ranges; adjacent ranges coalesce, and if more than
    ``max_ranges`` remain the smallest gaps are merged (a SUPERSET — safe
    because callers re-apply the exact bbox predicate after the scan).

    O(4 * res * perimeter_quads) driver work — query planning, not data.
    """
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of range")
    n = 1 << res
    x0 = min(max((lon_min - _LON_MIN) * n // _LON_SPAN, 0), n - 1)
    x1 = min(max((lon_max - _LON_MIN) * n // _LON_SPAN, 0), n - 1)
    y0 = min(max((lat_min - _LAT_MIN) * n // _LAT_SPAN, 0), n - 1)
    y1 = min(max((lat_max - _LAT_MIN) * n // _LAT_SPAN, 0), n - 1)

    out: list[tuple[int, int]] = []

    def rec(d: int, qx: int, qy: int, code: int) -> None:
        s = res - d
        cx0, cy0 = qx << s, qy << s
        cx1, cy1 = cx0 + (1 << s) - 1, cy0 + (1 << s) - 1
        if cx1 < x0 or cx0 > x1 or cy1 < y0 or cy0 > y1:
            return
        if cx0 >= x0 and cx1 <= x1 and cy0 >= y0 and cy1 <= y1:
            m0 = code << (2 * s)
            out.append((m0, m0 + (1 << (2 * s)) - 1))
            return
        for child in range(4):  # yx bits: Morton-ascending
            rec(d + 1, qx * 2 + (child & 1), qy * 2 + (child >> 1), code * 4 + child)

    rec(0, 0, 0, 0)

    tag = res << 56
    return [(tag | lo, tag | hi) for lo, hi in _merge_ranges(out, max_ranges)]


# ---------------------------------------------------------------------------
# Hilbert curve index — the fourth cell-index family (Morton quadtree,
# kNN cell rings, geohash, Hilbert). S2's locality ingredient: consecutive
# Hilbert codes are always grid-adjacent, so a clustered layout keyed by
# Hilbert distance turns a bbox into FEWER, longer contiguous scan ranges
# than the equivalent Z-order key (Morton jumps at every quadrant seam).
#
# The classic xy2d rotation recurrence (reflect = bitwise complement,
# rotate = swap x/y) is re-expressed as a 4-state machine so the Column
# form needs no mutation of x/y: at each bit level the (state, xbit, ybit)
# pair looks up the emitted base-4 digit and the next state. State chains
# linearly (one element_at per level), so the codegen'd expression is
# O(res^2) nodes, not the 2^res blowup the literal recurrence would cost.
# The state tables are DERIVED at import from the recurrence itself (the
# reflect/swap group has only 4 reachable elements), and the identical
# tables generate the DuckDB oracle's chained-CTE twin.
# ---------------------------------------------------------------------------


def _gen_hilbert_luts() -> tuple[list[int], list[int]]:
    """Derive (digit, next-state) tables from the xy2d recurrence.

    A state is the accumulated transform (swap?, complement-x?,
    complement-y?) applied to the original ordinates: the recurrence's
    `x = n-1-x` is a bitwise complement of the remaining low bits and its
    rotate is an x/y swap, so every reachable transform is one of these
    eight (four occur). Tables are flat: index = state*4 + xbit*2 + ybit.
    """
    states: list[tuple[int, int, int]] = [(0, 0, 0)]
    index = {(0, 0, 0): 0}
    digit_lut: list[int] = []
    next_lut: list[int] = []
    i = 0
    while i < len(states):
        sw, cx, cy = states[i]
        for xo in (0, 1):
            for yo in (0, 1):
                rx = (yo if sw else xo) ^ cx
                ry = (xo if sw else yo) ^ cy
                digit = (3 * rx) ^ ry
                nsw, ncx, ncy = sw, cx, cy
                if ry == 0:
                    if rx == 1:  # reflect both (complement low bits)
                        ncx ^= 1
                        ncy ^= 1
                    nsw, ncx, ncy = 1 - nsw, ncy, ncx  # then swap x/y
                key = (nsw, ncx, ncy)
                if key not in index:
                    index[key] = len(states)
                    states.append(key)
                digit_lut.append(digit)
                next_lut.append(index[key])
        i += 1
    return digit_lut, next_lut


HILBERT_DIGIT, HILBERT_NEXT = _gen_hilbert_luts()
_H_NSTATES = len(HILBERT_DIGIT) // 4
# inverse per state: digit -> (xbit, ybit), for top-down descent (d2xy)
HILBERT_INV: list[list[tuple[int, int]]] = [
    [next((xo, yo) for xo in (0, 1) for yo in (0, 1)
          if HILBERT_DIGIT[s * 4 + xo * 2 + yo] == d) for d in range(4)]
    for s in range(_H_NSTATES)
]


def hilbert_py(x: int, y: int, res: int) -> int:
    """Hilbert distance of grid cell (x, y) on the 2^res square (plain-int
    twin of hilbert_d; identical to the classic xy2d recurrence)."""
    d = 0
    state = 0
    for i in range(res - 1, -1, -1):
        idx = state * 4 + ((x >> i) & 1) * 2 + ((y >> i) & 1)
        d |= HILBERT_DIGIT[idx] << (2 * i)
        state = HILBERT_NEXT[idx]
    return d


def hilbert_xy_py(d: int, res: int) -> tuple[int, int]:
    """Inverse: Hilbert distance -> (x, y) grid ordinates (d2xy twin)."""
    x = y = 0
    state = 0
    for i in range(res - 1, -1, -1):
        digit = (d >> (2 * i)) & 3
        xo, yo = HILBERT_INV[state][digit]
        x |= xo << i
        y |= yo << i
        state = HILBERT_NEXT[state * 4 + xo * 2 + yo]
    return x, y


def hilbert_d(x: Column, y: Column, res: int) -> Column:
    """Hilbert distance as a pure Column expression: per bit level one
    lookup into the digit/next-state literal arrays. Whole-stage codegen,
    no UDF; the state column chains linearly so expression size is
    O(res^2), safe through res 16 (d < 2^32 fits int64 at any res<=30)."""
    dig = F.array(*[F.lit(v) for v in HILBERT_DIGIT])
    nxt = F.array(*[F.lit(v) for v in HILBERT_NEXT])
    state = F.lit(0)
    d = F.lit(0).cast("long")
    for i in range(res - 1, -1, -1):
        xb = F.shiftright(x, i).bitwiseAND(F.lit(1)).cast("int")
        yb = F.shiftright(y, i).bitwiseAND(F.lit(1)).cast("int")
        idx = state * 4 + xb * 2 + yb + 1  # element_at is 1-based
        d = d.bitwiseOR(F.shiftleft(F.element_at(dig, idx).cast("long"), 2 * i))
        state = F.element_at(nxt, idx)
    return d


def hilbert_cell(lon: Column, lat: Column, res: int) -> Column:
    """Packed Hilbert cell id: (res << 56) | hilbert_d(ix, iy) — same
    packing envelope as cell_id so layout pruning and range predicates
    work unchanged on either curve."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of range")
    return F.shiftleft(F.lit(res).cast("long"), 56).bitwiseOR(
        hilbert_d(_ix(lon, res), _iy(lat, res), res)
    )


def hilbert_cell_py(lon_fp: int, lat_fp: int, res: int) -> int:
    n = 1 << res
    ix = min((lon_fp - _LON_MIN) * n // _LON_SPAN, n - 1)
    iy = min((lat_fp - _LAT_MIN) * n // _LAT_SPAN, n - 1)
    return (res << 56) | hilbert_py(ix, iy, res)


def _merge_ranges(out: list[tuple[int, int]], max_ranges: int) -> list[list[int]]:
    """Coalesce adjacent [lo, hi] ranges, then cap the list by merging the
    smallest inter-range gaps (yields a SUPERSET — callers re-apply the
    exact predicate after the scan)."""
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo == merged[-1][1] + 1:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        gaps = [
            (merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)
        ]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return merged


def hilbert_ranges(
    lon_min: int, lat_min: int, lon_max: int, lat_max: int,
    res: int, max_ranges: int = 64,
) -> list[tuple[int, int]]:
    """Decompose a fixed-point bbox into inclusive packed Hilbert-cell-id
    ranges (the morton_ranges twin): quadrant descent that tracks the
    curve's rotation state and visits children in ascending-digit order,
    so ranges emerge sorted; a quad fully inside the box is one contiguous
    range (a Hilbert subtree is a contiguous d interval). Because the
    curve is continuous, a bbox decomposes into FEWER ranges than under
    Morton — fewer footer-interval probes and fewer OR terms in the pushed
    predicate on a Hilbert-clustered layout."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution {res} out of range")
    n = 1 << res
    x0 = min(max((lon_min - _LON_MIN) * n // _LON_SPAN, 0), n - 1)
    x1 = min(max((lon_max - _LON_MIN) * n // _LON_SPAN, 0), n - 1)
    y0 = min(max((lat_min - _LAT_MIN) * n // _LAT_SPAN, 0), n - 1)
    y1 = min(max((lat_max - _LAT_MIN) * n // _LAT_SPAN, 0), n - 1)

    out: list[tuple[int, int]] = []

    def rec(depth: int, qx: int, qy: int, state: int, code: int) -> None:
        s = res - depth
        cx0, cy0 = qx << s, qy << s
        cx1, cy1 = cx0 + (1 << s) - 1, cy0 + (1 << s) - 1
        if cx1 < x0 or cx0 > x1 or cy1 < y0 or cy0 > y1:
            return
        if cx0 >= x0 and cx1 <= x1 and cy0 >= y0 and cy1 <= y1:
            d0 = code << (2 * s)
            out.append((d0, d0 + (1 << (2 * s)) - 1))
            return
        for digit in range(4):  # ascending d order under this state
            xo, yo = HILBERT_INV[state][digit]
            rec(depth + 1, qx * 2 + xo, qy * 2 + yo,
                HILBERT_NEXT[state * 4 + xo * 2 + yo], code * 4 + digit)

    rec(0, 0, 0, 0, 0)
    tag = res << 56
    return [(tag | lo, tag | hi) for lo, hi in _merge_ranges(out, max_ranges)]


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_col(lon: Column, lat: Column, precision: int) -> Column:
    """Standard geohash string (Niemeyer base32) as a pure Column
    expression — the third cell-index family next to the Morton quadtree
    and the kNN cell rings: bits alternate lon/lat starting with lon,
    5 bits per character, alphabet 0-9b-z minus a/i/l/o.

    Fixed-point bin math mirrors _ix/_iy (floor-divide the world span,
    clamp the +180/+90 edge), so the whole encode is integer Column
    arithmetic + one substring per character — whole-stage codegen,
    no UDF, and an exactly mirrorable SQL twin.
    """
    if not 1 <= precision <= 12:
        raise ValueError(f"geohash precision 1..12, got {precision}")
    nbits = 5 * precision
    nlon = (nbits + 1) // 2  # lon owns the even (MSB-first) positions
    nlat = nbits // 2
    lonb = F.least(
        F.floor(((lon.cast("long") - _LON_MIN) * (1 << nlon)) / F.lit(_LON_SPAN))
        .cast("long"),
        F.lit((1 << nlon) - 1),
    )
    latb = F.least(
        F.floor(((lat.cast("long") - _LAT_MIN) * (1 << nlat)) / F.lit(_LAT_SPAN))
        .cast("long"),
        F.lit((1 << nlat) - 1),
    )
    chars = []
    for k in range(precision):
        code = F.lit(0).cast("long")
        for j in range(5):
            i = 5 * k + j  # global bit index, MSB-first
            if i % 2 == 0:
                bit = F.shiftright(lonb, nlon - 1 - i // 2).bitwiseAND(F.lit(1))
            else:
                bit = F.shiftright(latb, nlat - 1 - i // 2).bitwiseAND(F.lit(1))
            code = code.bitwiseOR(F.shiftleft(bit, 4 - j))
        chars.append(F.lit(GEOHASH_BASE32).substr((code + 1).cast("int"), F.lit(1)))
    return F.concat(*chars)


# ---------------------------------------------------------------------------
# Slippy-map (XYZ / Web-Mercator) tile scheme + Bing quadkey — the tile
# addressing every web map stack serves (OSM tile servers, Bing, MVT
# pyramids). The engine's own pyramid (tiles.py) is equirectangular by
# design (exact integer math); this is the interop encoding for systems
# that expect z/x/y or quadkey addressing.
# ---------------------------------------------------------------------------

WEBMERCATOR_MAX_LAT = 85.05112878  # tan/sec projection pole cutoff


def slippy_tile_cols(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """(tile_x, tile_y) at ``zoom`` per the slippy-map convention:
    x = floor((lon_deg+180)/360 * 2^z) — pure double arithmetic, IEEE-
    deterministic across engines; y uses the Mercator stretch written as
    ln(tan(phi) + 1/cos(phi)) — the ONE formulation kept verbatim in the
    SQL oracle so both engines evaluate the same call tree (asinh is
    absent in DuckDB; a different composition would move the ulps).
    Latitudes beyond the Web-Mercator cutoff clamp to the edge rows,
    like every tile server does."""
    if not 0 <= zoom <= 22:
        raise ValueError(f"zoom 0..22, got {zoom}")
    n = 1 << zoom
    lon_deg = lon.cast("double") / 1e7
    lat_deg = lat.cast("double") / 1e7
    tx = F.floor((lon_deg + 180.0) / 360.0 * n).cast("long")
    tx = F.greatest(F.lit(0).cast("long"), F.least(tx, F.lit(n - 1).cast("long")))
    # clamp to the projection cutoff BEFORE the stretch (every tile
    # server does; also keeps tan+sec away from its 0/inf pole where
    # ln(0) differs across engines)
    lat_c = F.greatest(
        F.lit(-WEBMERCATOR_MAX_LAT), F.least(F.lit(WEBMERCATOR_MAX_LAT), lat_deg)
    )
    # radians via one literal multiply (NOT F.radians: toRadians is
    # x/180*pi, a different op order than DuckDB's x*(pi/180) — the
    # single-multiply form is bit-identical across engines)
    phi = lat_c * F.lit(math.pi / 180.0)
    merc = F.log(F.tan(phi) + 1.0 / F.cos(phi))
    ty = F.floor((1.0 - merc / F.lit(math.pi)) / 2.0 * n).cast("long")
    ty = F.greatest(F.lit(0).cast("long"), F.least(ty, F.lit(n - 1).cast("long")))
    return tx, ty


def quadkey_col(tx: Column, ty: Column, zoom: int) -> Column:
    """Bing Maps quadkey string for a slippy tile: zoom characters, each
    the base-4 digit (ybit<<1 | xbit) at that level, MSB first — the
    string form of the Morton prefix (a parent tile's quadkey is the
    child's prefix, so string prefix-range scans prune like the packed
    cell ids). Pure bit math + substring, codegen, exact SQL twin."""
    if not 1 <= zoom <= 22:
        raise ValueError(f"zoom 1..22, got {zoom}")
    chars = []
    for i in range(zoom - 1, -1, -1):
        digit = (
            F.shiftleft(F.shiftright(ty, i).bitwiseAND(F.lit(1)), 1)
            .bitwiseOR(F.shiftright(tx, i).bitwiseAND(F.lit(1)))
        )
        chars.append(F.lit("0123").substr((digit + 1).cast("int"), F.lit(1)))
    return F.concat(*chars)


def compact_cover(
    cells: "DataFrame",
    res: int,
    min_res: int = 0,
    key_cols: list[str] | None = None,
    cell_col: str = "cell",
):
    """Compact a cell cover: wherever all FOUR children of a parent are
    present, replace them by the parent, repeated down to `min_res` —
    the H3 `compact` / S2 cell-union normalization, for this engine's
    Morton quadtree ids. A polygon's res-12 cover shrinks by ~4x per
    fully-interior level; the compacted set is what a standing index
    stores and what Iceberg partition pruning matches with RANGE
    predicates (a parent's children share its bit prefix, so one
    parent row subsumes four child ranges — fewer manifest entries,
    same pruning power).

    Input: distinct cell ids at exactly resolution `res` (packed
    (res<<56)|morton form, `cell_col`), optionally grouped by
    `key_cols` (per-polygon covers compact independently). Output:
    the same columns with MIXED-resolution cell ids covering exactly
    the same area. Precondition: rows distinct per (key, cell) —
    duplicates would fake a full quad; enforce upstream (every cover
    producer in this engine emits distinct cells).

    Scale shape: res - min_res rounds, each ONE hash aggregate keyed
    by (key, parent) over only the CURRENT level's rows; a full quad
    (count == 4) emits its parent into the next level, partial quads
    emit their children to the output. The frame shrinks
    geometrically, so total work is ~4/3 of the input — the same
    cascading-re-agg argument as tile_pyramid. No joins at all: the
    anti-join ("children of non-full parents") is expressed inside
    the aggregate via collect_list, which is bounded (<= 4 entries)
    by construction.
    """
    from pyspark.sql import functions as _F

    if not 0 <= min_res <= res <= MAX_RES:
        raise ValueError(f"compact_cover: need 0 <= min_res <= res <= {MAX_RES}")
    keys = list(key_cols or [])
    cur = cells.select(*keys, _F.col(cell_col).alias("cell"))
    done = []
    for r in range(res, min_res, -1):
        parent = cell_parent(_F.col("cell"), r, r - 1)
        agg = cur.groupBy(*keys, parent.alias("__p")).agg(
            _F.count("*").alias("__n"),
            _F.collect_list("cell").alias("__kids"),
        )
        full = agg.filter(_F.col("__n") == 4).select(
            *keys, _F.col("__p").alias("cell")
        )
        partial = (
            agg.filter(_F.col("__n") != 4)
            .select(*keys, _F.explode("__kids").alias("cell"))
        )
        done.append(partial)
        cur = full
        # lineage grows one agg per level (<= 30); no checkpoint needed
    done.append(cur)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out
