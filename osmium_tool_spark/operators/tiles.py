"""Multi-resolution tile pyramid rollup (raster↔vector tiling surface).

The reference assigns features to tiles at one zoom at a time (export/tiling
per SURVEY.md §2.9); a tile *server* over the 10^12-image table needs every
zoom level of the pyramid at once. Computing each level independently would
re-scan the fact table Z times; this operator instead aggregates the finest
resolution once (the only shuffle proportional to the input) and derives each
coarser level by re-aggregating the previous level's ~4×-smaller output —
parent cell ids are a bit-shift of child ids (`functions/cells.cell_parent`),
so level r's rollup is exactly level r+1's partial aggregate. Floor-division
nesting guarantees the cascade equals a direct per-level group-by:
floor(floor(a/b)/c) == floor(a/(b*c)), hence parent(cell_R(p)) == cell_r(p).

At 100 TB: one input-sized hash aggregate (map-side combine absorbs the
dense-cell skew), then log₂-many shuffles over geometrically shrinking
aggregate frames — versus Z full scans for the naive plan, or one scan with
Z-way grouping-sets (which multiplies the shuffle write by Z).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import (
    _LAT_MIN,
    _LAT_SPAN,
    _LON_MIN,
    _LON_SPAN,
    cell_id,
    cell_parent,
)
from ..functions.geometry import (
    box_cells, rings_from_structs, scanline_runs, segments, ship_by_value,
)


def tile_pyramid(
    df: DataFrame,
    res: int,
    min_res: int = 0,
    lon: str | Column = "lon",
    lat: str | Column = "lat",
    measures: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-cell aggregates at every resolution in [min_res, res].

    ``measures`` maps output column name -> SUM-combinable input expression
    (counts, sums; anything re-aggregable by + across children). The result
    always carries ``n`` (feature count). Output schema:
    (res:int, cell:long, n:long, <measures...>).
    """
    if not 0 <= min_res <= res:
        raise ValueError(f"need 0 <= min_res <= res, got {min_res}..{res}")
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    measures = measures or {}

    base = df.select(
        cell_id(lon, lat, res).alias("cell"),
        F.lit(1).cast("long").alias("n"),
        *[expr.cast("long").alias(name) for name, expr in measures.items()],
    )
    sums = [F.sum("n").alias("n")] + [
        F.sum(name).alias(name) for name in measures
    ]
    # Each level is persisted: the final UNION's branches would otherwise
    # re-derive every level from the raw input (a DataFrame union does not
    # share subplans across branches), turning the cascade back into Z full
    # scans — .explain showed one input-sized Exchange chain PER level
    # before this. A level frame is aggregate-sized (≤4^r cells), so the
    # cache cost is negligible next to the input.
    level = base.groupBy("cell").agg(*sums).persist()

    out = level.select(F.lit(res).alias("res"), "cell", "n", *measures)
    for r in range(res - 1, min_res - 1, -1):
        level = (
            level.select(
                cell_parent(F.col("cell"), r + 1, r).alias("cell"),
                "n",
                *measures,
            )
            .groupBy("cell")
            .agg(*sums)
            .persist()
        )
        out = out.unionByName(
            level.select(F.lit(r).alias("res"), "cell", "n", *measures)
        )
    return out


def zonal_stats(
    points: DataFrame,
    extracts: list,
    measures: dict[str, Column] | None = None,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Per-zone aggregates of the points inside each region — the classic
    raster/vector ZONAL STATISTICS operator (per-polygon count / sum /
    mean of a measure), built on the extract PIP machinery.

    The reference's extract emits the cut-out rows; a tile/analytics
    server over the 10^12-image table more often wants the per-region
    AGGREGATE (image count, mean quality, etc. per admin polygon). This
    fuses assignment and aggregation in one plan: assign_extracts runs
    the codegen/JVM PIP (small polygons) or the Arrow y-band kernel with
    the cell-cover interior shortcut (large ones), carrying
    `payload_cols` through the kernel so the aggregate NEVER re-joins
    the fact table on id — at 10^12 rows that re-join is a full shuffle.

    `measures` maps output name -> aggregate Column over the assigned
    frame (F.sum/avg/min/max of payload columns); `n` (point count) is
    always included. Plan shape: scan -> PIP filter -> ONE hash
    aggregate keyed by extract_id (<=500 distinct keys, map-side combine
    reduces each task to <=500 rows before the exchange).
    """
    from .extract import assign_extracts

    aggs = [F.count("*").alias("n")]
    for name, expr in (measures or {}).items():
        aggs.append(expr.alias(name))
    assigned = assign_extracts(points, extracts, payload_cols=payload_cols or [])
    return assigned.groupBy("extract_id").agg(*aggs)


# loud safety caps: a larger cover means the resolution is wrong for the input
MAX_RASTER_CELLS = 1 << 24  # polygon_rasterize's bbox cells per polygon
MAX_TILES_PER_SEG = 4096  # segment_tile_assign's bbox tiles per segment

# 3x3 binomial (Gaussian-approximating) kernel; integer weights sum to 16
BINOMIAL_3X3: dict[tuple[int, int], int] = {
    (0, 0): 4,
    (1, 0): 2, (-1, 0): 2, (0, 1): 2, (0, -1): 2,
    (1, 1): 1, (1, -1): 1, (-1, 1): 1, (-1, -1): 1,
}


def density_surface(
    points: DataFrame,
    res: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Smoothed point-density raster (heatmap): rasterize + 3x3 convolve.

    The raster half of the raster<->vector story: cell counts convolved
    with the integer binomial 1-2-1 kernel (BINOMIAL_3X3, the separable
    Gaussian approximation) give the density surface a tile renderer or
    a sampling-weight map reads. Integer weights keep the math exact —
    no float accumulation to diverge between engines or reruns.

    Scale shape: ONE corpus-sized hash aggregate (the rasterize), then
    the convolution runs on the OCCUPIED-CELL frame — each cell scatters
    count x weight to its 9 targets via one explode + one re-aggregate
    (9x a cell-bounded frame, not the point count; no join, no window).
    The cell's own raw count rides INSIDE the scatter structs (self_n on
    the (0,0) target, 0 elsewhere) so the re-aggregate produces both
    density and n_points in one pass — no cell-frame self-join to fetch
    the raw count back. Longitude wraps at the antimeridian; latitude
    targets outside the grid are dropped (clamping would double-count
    the pole rows).

    Before the scatter, the cell frame re-clusters by 32x32-cell spatial
    block, so a task holds a contiguous tile of cells and the 9x
    explosion collapses back to ~1x in the map-side PARTIAL aggregate (a
    scatter target is almost always inside the same block; only
    block-edge halos cross tasks). Trades one cell-frame-sized exchange
    for a kernel-factor reduction of the big one — at planet cell counts
    that is the difference between shuffling 9x cells and ~1.1x cells.
    Results do not depend on it (aggregation is commutative; the
    clustering only moves WHERE the combine happens).

    Returns (ix, iy, n_points, density): every cell that RECEIVES any
    contribution appears; n_points is its own raw count (0 if the cell
    is empty but lit by a neighbor); density = sum of count x weight.
    """
    from ..functions.cells import _ix, _iy

    n = 1 << res
    counts = points.select(
        _ix(F.col(lon_col), res).alias("ix"), _iy(F.col(lat_col), res).alias("iy")
    ).groupBy("ix", "iy").agg(F.count("*").alias("n_points"))

    # Each occupied cell scatters one struct per kernel offset; the (0,0)
    # struct additionally carries the cell's raw count (self_n).
    structs = []
    for (dx, dy), w in sorted(BINOMIAL_3X3.items()):
        structs.append(
            F.when(
                (F.col("iy") + dy >= 0) & (F.col("iy") + dy < n),
                F.struct(
                    ((F.col("ix") + dx + n) % n).alias("tx"),
                    (F.col("iy") + dy).alias("ty"),
                    (F.col("n_points") * F.lit(w)).alias("contrib"),
                    (
                        F.col("n_points") if (dx, dy) == (0, 0) else F.lit(0)
                    ).alias("self_n"),
                ),
            )
        )
    scatter = F.filter(F.array(*structs), lambda x: x.isNotNull())
    counts = counts.repartition(F.shiftright("ix", 5), F.shiftright("iy", 5))
    return (
        counts.select(F.explode(scatter).alias("s"))
        .groupBy(F.col("s.tx").alias("ix"), F.col("s.ty").alias("iy"))
        .agg(
            F.sum("s.self_n").cast("long").alias("n_points"),
            F.sum("s.contrib").cast("long").alias("density"),
        )
        .select("ix", "iy", "n_points", "density")
    )


def tile_buffer_assign(
    points: DataFrame,
    res: int,
    buffer: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "id",
) -> DataFrame:
    """Buffered tile assignment (the vector-tile cut): each point lands in
    its home tile plus every neighbor tile whose extent, expanded by
    ``buffer`` fixed-point units per side, still contains it.

    This is how every tile pipeline ships edge features: a tile is
    rendered/processed standalone, so geometry within the buffer margin
    of a shared edge must be DUPLICATED into both tiles or seams appear
    (the reference cuts extracts one region at a time with overlapping
    polygons by hand; at 10^12 features the margin-duplication must be
    part of the one assignment pass). Returns one row per (point, tile):
    (id, tile_ix, tile_iy, is_core) — is_core marks the home tile, so
    downstream dedup after per-tile processing is `filter(is_core)`.

    All edge tests run in the integer-scaled domain
    s = (coord - min) * 2^res compared against edge*span and
    buffer * 2^res — exact, no float cell-boundary ambiguity, and an
    exact ANSI-SQL twin exists. Longitude wraps at the antimeridian
    (a point near lon 180 duplicates into tile 0); latitude does not
    wrap — margins beyond the poles are dropped.

    Scale shape: one projection + an explode over <=9 candidate structs
    (at most 4 survive when 2*buffer < cell size) — map-only, no
    shuffle, no join; the per-tile fan-out factor is 1 + O(perimeter/
    area), the same output inflation any tiler pays.
    """
    from ..functions.cells import _LAT_MIN, _LAT_SPAN, _LON_MIN, _LON_SPAN, _ix, _iy

    n = 1 << res
    if buffer < 0 or buffer * n >= min(_LON_SPAN, _LAT_SPAN):
        raise ValueError(
            f"tile_buffer_assign: buffer must be in [0, cell_size); got "
            f"buffer={buffer} at res={res} (cell height "
            f"{_LAT_SPAN // n} fixed-point units)"
        )
    sx = (F.col(lon_col).cast("long") - F.lit(_LON_MIN)) * n
    sy = (F.col(lat_col).cast("long") - F.lit(_LAT_MIN)) * n
    bxn = F.lit(buffer * n)
    pts = points.select(
        F.col(id_col).alias("id"),
        _ix(F.col(lon_col), res).alias("hx"),
        _iy(F.col(lat_col), res).alias("hy"),
        sx.alias("sx"),
        sy.alias("sy"),
    )

    def x_ok(dx: int):
        if dx == 0:
            return F.lit(True)
        if dx < 0:  # within buffer of the home tile's low-x edge
            return F.col("sx") - F.col("hx") * F.lit(_LON_SPAN) < bxn
        return (F.col("hx") + 1) * F.lit(_LON_SPAN) - F.col("sx") <= bxn

    def y_ok(dy: int):
        if dy == 0:
            return F.lit(True)
        if dy < 0:
            return F.col("sy") - F.col("hy") * F.lit(_LAT_SPAN) < bxn
        return (F.col("hy") + 1) * F.lit(_LAT_SPAN) - F.col("sy") <= bxn

    cands = F.filter(
        F.array(
            *[
                F.when(
                    x_ok(dx)
                    & y_ok(dy)
                    & (F.col("hy") + dy >= 0)
                    & (F.col("hy") + dy < n),
                    F.struct(
                        ((F.col("hx") + dx + n) % n).alias("tile_ix"),
                        (F.col("hy") + dy).alias("tile_iy"),
                        F.lit(dx == 0 and dy == 0).alias("is_core"),
                    ),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return pts.select("id", F.explode(cands).alias("t")).select(
        "id",
        F.col("t.tile_ix").alias("tile_ix"),
        F.col("t.tile_iy").alias("tile_iy"),
        F.col("t.is_core").alias("is_core"),
    )


def polygon_rasterize(
    polygons: DataFrame,
    res: int = 9,
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """Vector->raster conversion: the res-`res` cells whose CENTER lies
    inside the polygon (pooled even-odd over all rings — the engine's
    multipolygon model; cf. the reference's extract_polygon y-band
    segment index, extract_polygon.cpp:77-84, and the export tiling
    surface). Output: (poly_id, cx, cy), one row per interior cell.

    One mapInPandas over the polygons emits `geometry.scanline_runs`
    (exact centres, BandIndex's rule; no band index is built); Spark
    repartitions them on (poly_id, cy) and only then explodes them, so
    one continent-scale polygon's cells spread across tasks. A polygon
    whose bbox holds more than `MAX_RASTER_CELLS` cells fails loud.
    """
    import pandas as pd

    r = int(res)
    cap = MAX_RASTER_CELLS
    ship_by_value()

    def runs(batches):
        for pdf in batches:
            out = []
            for pid, rings in zip(pdf[poly_id], pdf[rings_col]):
                segs = segments(rings_from_structs(rings if rings is not None else []))
                if box_cells(segs, r) > cap:
                    raise ValueError(
                        f"polygon bbox covers more than {cap} cells at res {r}: coarsen res"
                    )
                frame = pd.DataFrame(scanline_runs(segs, r), columns=["cy", "cx0", "cx1"])
                out.append(frame.assign(**{poly_id: pid}))
            if out:
                yield pd.concat(out)

    schema = f"{poly_id} {dict(polygons.dtypes)[poly_id]}, cy long, cx0 long, cx1 long"
    spread = polygons.select(poly_id, rings_col).mapInPandas(runs, schema=schema).repartition(poly_id, "cy")
    return spread.select(poly_id, F.explode(F.sequence("cx0", "cx1")).alias("cx"), "cy")


def density_pixels(
    points: DataFrame,
    res: int = 10,
    tile_shift: int = 8,
    saturation: int = 16,
    lon_col: str = "lon",
    lat_col: str = "lat",
    weight_col: str | None = None,
) -> DataFrame:
    """Rasterize points into per-tile 8-bit pixels (the math half of the
    tile renderer; `render_density_tiles` encodes these into PNG bytes).

    World pixel grid = 2^res x 2^res (`functions/cells` equirectangular
    ordinates); a tile is 2^tile_shift x 2^tile_shift pixels, so
    tile_ix = world_px >> tile_shift. Pixel value is the exact integer
    ramp least(255, n * 255 div saturation): `saturation` points (or
    weight, with `weight_col`) saturate a pixel to white — a fixed
    contract, not a data-dependent normalization, so tiles render
    identically across partitions, reruns and engines (no global max
    aggregate, no floats). `py` is in IMAGE row order (row 0 = top =
    max latitude), i.e. the y-flip happens here, not in the encoder.

    Returns (tile_ix, tile_iy, px, py, val): one row per OCCUPIED pixel
    (empty pixels are background and never materialize). Scale shape:
    ONE corpus-sized hash aggregate (map-side combine absorbs dense-
    pixel skew); everything downstream is bounded by occupied pixels,
    not points.
    """
    if not 0 < tile_shift <= res:
        raise ValueError("density_pixels: need 0 < tile_shift <= res")
    if saturation < 1:
        raise ValueError("density_pixels: saturation must be >= 1")
    from ..functions.cells import _ix, _iy

    mask = (1 << tile_shift) - 1
    w = F.count("*") if weight_col is None else F.sum(weight_col)
    px = points.select(
        _ix(F.col(lon_col), res).alias("wx"),
        _iy(F.col(lat_col), res).alias("wy"),
        *([weight_col] if weight_col else []),
    ).groupBy("wx", "wy").agg(w.cast("long").alias("n"))
    return px.select(
        F.shiftright("wx", tile_shift).alias("tile_ix"),
        F.shiftright("wy", tile_shift).alias("tile_iy"),
        F.col("wx").bitwiseAND(F.lit(mask)).alias("px"),
        (F.lit(mask) - F.col("wy").bitwiseAND(F.lit(mask))).alias("py"),
        F.least(F.lit(255), (F.col("n") * 255) / F.lit(saturation))
        .cast("long")
        .alias("val"),
    )


def render_density_tiles(
    points: DataFrame,
    res: int = 10,
    tile_shift: int = 8,
    saturation: int = 16,
    lon_col: str = "lon",
    lat_col: str = "lat",
    weight_col: str | None = None,
) -> DataFrame:
    """Vector -> raster -> IMAGE: render point density as grayscale PNG
    map tiles (the standard tile-server heatmap pipeline — points in,
    one 2^tile_shift-square 8-bit PNG per occupied tile out), entirely
    distributed. The reference's export/tiling surface hands features
    to a downstream renderer; at 10^12 points the rendering itself must
    ride the cluster, so the tile image becomes just another binary
    column (the same contract as `sources/images.py` payloads — the
    tiles can feed straight back into phash dedup or the shard packer).

    Plan shape: `density_pixels` (one corpus hash agg) -> groupBy tile
    -> applyInPandas. A group is AT MOST 4^tile_shift pixel rows
    (65,536 at the default 256px) REGARDLESS of corpus size — the
    renderer's memory is bounded by the tile contract, not the data.
    PNG encoding is stdlib zlib over a numpy scanline buffer (PNG spec:
    8-bit grayscale, filter 0), deterministic bytes for a given pixel
    set; no image library, no driver collect.

    Returns (tile_ix, tile_iy, n_px, max_val, png): n_px = occupied
    pixels, max_val = brightest value, png = the encoded tile.
    """
    import pandas as pd

    pixels = density_pixels(
        points, res=res, tile_shift=tile_shift, saturation=saturation,
        lon_col=lon_col, lat_col=lat_col, weight_col=weight_col,
    )
    ts = 1 << tile_shift

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        # nested imports + by-value closure: executors need no repo path
        import struct
        import zlib

        import numpy as np
        import pandas as pd

        img = np.zeros((ts, ts), np.uint8)
        img[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = np.clip(
            pdf["val"].to_numpy(), 0, 255
        ).astype(np.uint8)
        # PNG (public spec, RFC 2083): signature + IHDR + IDAT + IEND;
        # scanlines are filter-byte 0 + raw row, zlib level 9.
        raw = np.concatenate(
            [np.zeros((ts, 1), np.uint8), img], axis=1
        ).tobytes()

        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data))
            )

        ihdr = struct.pack(">IIBBBBB", ts, ts, 8, 0, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 9))
            + chunk(b"IEND", b"")
        )
        return pd.DataFrame(
            {
                "tile_ix": [int(pdf["tile_ix"].iloc[0])],
                "tile_iy": [int(pdf["tile_iy"].iloc[0])],
                "n_px": [len(pdf)],
                "max_val": [int(pdf["val"].max())],
                "png": [png],
            }
        )

    return pixels.groupBy("tile_ix", "tile_iy").applyInPandas(
        render,
        schema="tile_ix long, tile_iy long, n_px long, max_val long, png binary",
    )


def contour_segments(
    points: DataFrame,
    res: int = 6,
    threshold: float = 2.5,
    lon_col: str = "lon",
    lat_col: str = "lat",
    weight_col: str | None = None,
) -> DataFrame:
    """Marching-squares contour extraction: the raster -> VECTOR inverse
    of `polygon_rasterize` (isolines of the point-density field at
    `threshold`, the standard cartographic density-contour layer).

    Field samples are the res-`res` cell counts (or weight sums) taken
    at integer grid nodes; every 2x2 node block whose corners straddle
    the threshold emits 1-2 line segments with linear interpolation
    along the crossed edges (the classic 16-case table; the two
    ambiguous saddle cases 5/10 use the fixed "separated" convention,
    identical in the DuckDB twin). The field is 0 outside the grid and
    beyond the antimeridian (no lon wrap — contours CLOSE around data
    at the world edge; a wrapping variant would scatter edge cells to
    (ix+n) blocks).

    Plan shape: ONE corpus-sized hash aggregate (rasterize) -> each
    occupied cell scatters to the <=4 blocks it corners (explode 4,
    cell-frame-sized) -> block re-aggregate (max-pivot the 4 corners)
    -> 16-way codegen'd CASE emits segment structs -> explode. No join,
    no window, no UDF; everything after the rasterize is bounded by
    occupied cells, not points.

    Returns (bx, by, x1, y1, x2, y2): block lower-left node coords and
    segment endpoints, all in GRID units (node (i,j) = cell (i,j)'s
    index; multiply by the cell span to georeference). Interpolated
    coordinates are IEEE doubles computed as node + (t-a)/(b-a) — the
    single-division form both engines evaluate bit-identically.
    """
    from ..functions.cells import _ix, _iy

    t = float(threshold)
    w = F.count("*") if weight_col is None else F.sum(weight_col)
    cells = points.select(
        _ix(F.col(lon_col), res).alias("ix"),
        _iy(F.col(lat_col), res).alias("iy"),
        *([weight_col] if weight_col else []),
    ).groupBy("ix", "iy").agg(w.cast("long").alias("v"))

    # scatter: cell (ix,iy) is corner (dx,dy) of block (ix-dx, iy-dy)
    scat = F.array(*[
        F.struct(
            (F.col("ix") - dx).alias("bx"),
            (F.col("iy") - dy).alias("by"),
            F.lit(dx).alias("dx"),
            F.lit(dy).alias("dy"),
            F.col("v").alias("v"),
        )
        for dx in (0, 1) for dy in (0, 1)
    ])
    blocks = (
        cells.select(F.explode(scat).alias("s"))
        .groupBy(F.col("s.bx").alias("bx"), F.col("s.by").alias("by"))
        .agg(*[
            F.coalesce(
                F.max(F.when((F.col("s.dx") == dx) & (F.col("s.dy") == dy),
                             F.col("s.v"))),
                F.lit(0).cast("long"),
            ).alias(f"v{dx}{dy}")
            for dx, dy in ((0, 0), (1, 0), (1, 1), (0, 1))
        ])
    )

    v00, v10, v11, v01 = (F.col(c).cast("double")
                          for c in ("v00", "v10", "v11", "v01"))
    case = (
        (v00 >= t).cast("int")
        + (v10 >= t).cast("int") * 2
        + (v11 >= t).cast("int") * 4
        + (v01 >= t).cast("int") * 8
    )
    bx, by = F.col("bx").cast("double"), F.col("by").cast("double")
    # edge crossing points (evaluated lazily — only referenced by cases
    # where the two corners straddle t, so the denominator is never 0)
    eb = (bx + (F.lit(t) - v00) / (v10 - v00), by)            # bottom
    er = (bx + 1, by + (F.lit(t) - v10) / (v11 - v10))        # right
    et = (bx + (F.lit(t) - v01) / (v11 - v01), by + 1)        # top
    el = (bx, by + (F.lit(t) - v00) / (v01 - v00))            # left

    def seg(p, q):
        return F.struct(p[0].alias("x1"), p[1].alias("y1"),
                        q[0].alias("x2"), q[1].alias("y2"))

    table = {
        1: [seg(el, eb)], 2: [seg(eb, er)], 3: [seg(el, er)],
        4: [seg(er, et)], 5: [seg(el, eb), seg(er, et)],
        6: [seg(eb, et)], 7: [seg(el, et)], 8: [seg(et, el)],
        9: [seg(eb, et)], 10: [seg(eb, er), seg(et, el)],
        11: [seg(er, et)], 12: [seg(el, er)], 13: [seg(eb, er)],
        14: [seg(el, eb)],
    }
    segs = F.lit(None)
    expr = None
    for k, ss in table.items():
        branch = F.array(*ss)
        expr = (F.when(case == k, branch) if expr is None
                else expr.when(case == k, branch))
    segs = expr  # cases 0/15 fall through to NULL -> no rows after explode
    return (
        blocks.select("bx", "by", F.explode(segs).alias("s"))
        .select(
            F.col("bx"), F.col("by"),
            F.col("s.x1").alias("x1"), F.col("s.y1").alias("y1"),
            F.col("s.x2").alias("x2"), F.col("s.y2").alias("y2"),
        )
    )


def quadtree_leaves(
    df: DataFrame,
    capacity: int,
    max_res: int,
    min_res: int = 0,
    lon: str | Column = "lon",
    lat: str | Column = "lat",
) -> DataFrame:
    """Adaptive quadtree tiling: the balanced-extract PLANNER. Starting
    from the 2^min_res grid, any tile holding more than ``capacity``
    features splits into its four children, recursively, until every
    leaf holds <= capacity features or sits at ``max_res``. Output is
    the leaf set (res:int, cell:long, n:long) — a disjoint cover of the
    input: every feature lies in exactly one leaf, so
    sum(n) == count(input).

    The reference's extract command takes a HAND-WRITTEN region list
    (config mode caps at 500 regions, command_extract.cpp); at 10^12
    features nobody hand-balances extract regions — this operator
    derives them from the data so every cut-out is roughly equal work
    (the classic planet-extract skew killer: one Tokyo tile at res 6
    outweighs whole res-3 ocean tiles).

    Plan shape — NO iteration, NO recursion, despite the recursive
    definition. Per-cell counts are monotone non-decreasing up the
    tree (a parent counts at least its child), so "every ancestor
    over capacity" collapses to "the immediate parent is over
    capacity". A cell is therefore a leaf iff
        (res == min_res  OR  parent_n > capacity)      -- it was opened
    AND (n <= capacity   OR  res == max_res)           -- and not split.
    Both terms read from the tile_pyramid cascade (ONE fact-table
    aggregate + log-many shrinking re-aggs), then a single equi-join of
    adjacent pyramid levels on the bit-shifted parent id — child levels
    vs parent levels, both aggregate-sized frames; AQE broadcasts the
    parent side when small. A naive top-down driver loop would run
    (max_res - min_res) dependent jobs; this is two.
    """
    if not 0 <= min_res <= max_res:
        raise ValueError(f"need 0 <= min_res <= max_res, got {min_res}..{max_res}")
    pyr = tile_pyramid(df, res=max_res, min_res=min_res, lon=lon, lat=lat)
    if min_res == max_res:
        return pyr.select("res", "cell", "n")

    mask = F.lit((1 << 56) - 1)
    # uniform parent-id formula: ((res-1) << 56) | (morton >> 2) — works
    # for every row regardless of its resolution, no per-res CASE chain
    parent_of = F.shiftleft(
        (F.shiftright(F.col("cell"), 56).bitwiseAND(F.lit(0xFF)) - 1).cast("long"), 56
    ).bitwiseOR(F.shiftright(F.col("cell").bitwiseAND(mask), 2))

    parents = pyr.filter(F.col("res") < max_res).select(
        F.col("cell").alias("pcell"), F.col("n").alias("parent_n")
    )
    child = pyr.withColumn("pcell", parent_of)
    joined = child.join(parents, "pcell", "left")
    return joined.filter(
        ((F.col("res") == min_res) | (F.col("parent_n") > capacity))
        & ((F.col("n") <= capacity) | (F.col("res") == max_res))
    ).select("res", "cell", "n")


def segment_tile_assign(segs: DataFrame, res: int) -> DataFrame:
    """Exact segment→tile cut: one row per (segment, tile) where the CLOSED
    segment truly intersects the CLOSED tile rectangle — the line-feature
    analogue of `tile_buffer_assign` and the vector-tile cut the reference
    performs one extract at a time (extract bbox cutting, osmium-tool
    extract/strategy_simple.cpp; export tiling surface SURVEY.md §2.9).

    A bbox cell cover over-assigns diagonal segments (a 45° chord's bbox
    covers O(L²) cells but the segment passes through O(L)); this operator
    refines the cover with the exact separating-axis test, so per-tile
    work downstream is proportional to geometry actually present in the
    tile. Two candidate separating axes exist for segment-vs-AABB: the
    box axes (excluded by the cover) and the segment's normal — the
    segment intersects the tile iff the tile's four corners do not lie
    strictly on one side of the segment's supporting line.

    All math is exact: scaled domain s = (coord - min) * 2^res puts tile
    (cx, cy) at [cx·LON_SPAN, (cx+1)·LON_SPAN] × [cy·LAT_SPAN,
    (cy+1)·LAT_SPAN] with integer corners; corner orientations are
    decimal(15,0)×decimal(15,0) → decimal(31,0) Column determinants
    (DuckDB twin uses HUGEINT). Closed-closed semantics: a segment
    touching a shared tile edge lands in BOTH tiles (seam-free cut —
    downstream per-tile rendering needs edge features on each side).

    Scale shape: projection → bounded double explode (loudly capped at
    `MAX_TILES_PER_SEG`) → codegen'd predicate. Map-only: no shuffle, no
    join, no Python. Output inflation is the O(L/cell) pass-through
    count every tiler pays.

    Input: (way_id, seq, x1, y1, x2, y2) long fixed-point coords.
    Output: (way_id, seq, tile_ix, tile_iy).
    """
    if not 0 <= res <= 16:
        raise ValueError(f"segment_tile_assign: res must be in [0,16], got {res}")
    n = 1 << res
    dec = "decimal(15,0)"

    def sx(c: str) -> Column:
        return (F.col(c).cast("long") - F.lit(_LON_MIN)) * n

    def sy(c: str) -> Column:
        return (F.col(c).cast("long") - F.lit(_LAT_MIN)) * n

    s = segs.select(
        "way_id", "seq",
        sx("x1").alias("sx1"), sy("y1").alias("sy1"),
        sx("x2").alias("sx2"), sy("y2").alias("sy2"),
    )
    # CLOSED cover: cell cx intersects [smin, smax] iff cx*SPAN <= smax
    # and (cx+1)*SPAN >= smin -> cxmin = ceil(smin/SPAN)-1 = (smin-1) div
    # SPAN for smin >= 1 (the smin = 0 truncation mismatch clamps away).
    boxed = s.select(
        "way_id", "seq", "sx1", "sy1", "sx2", "sy2",
        F.greatest(
            F.expr(f"(least(sx1, sx2) - 1) div {_LON_SPAN}"), F.lit(0)
        ).alias("cxmin"),
        F.least(
            F.expr(f"greatest(sx1, sx2) div {_LON_SPAN}"), F.lit(n - 1)
        ).alias("cxmax"),
        F.greatest(
            F.expr(f"(least(sy1, sy2) - 1) div {_LAT_SPAN}"), F.lit(0)
        ).alias("cymin"),
        F.least(
            F.expr(f"greatest(sy1, sy2) div {_LAT_SPAN}"), F.lit(n - 1)
        ).alias("cymax"),
    ).filter(
        # A segment wholly outside the tile domain (e.g. antimeridian-
        # unwrapped lon > 180) clamps to an inverted range (cxmin >
        # cxmax); drop it here — F.sequence would otherwise generate a
        # DESCENDING sequence where SQL generate_series is empty.
        (F.col("cxmin") <= F.col("cxmax"))
        & (F.col("cymin") <= F.col("cymax"))
    ).filter(
        F.when(
            (F.col("cxmax") - F.col("cxmin") + 1)
            * (F.col("cymax") - F.col("cymin") + 1)
            > MAX_TILES_PER_SEG,
            F.raise_error(
                F.lit(
                    f"segment covers more than {MAX_TILES_PER_SEG} tiles at "
                    f"res {res}: coarsen res"
                )
            ).isNull(),
        ).otherwise(F.lit(True))
    )
    cells = boxed.select(
        "way_id", "seq", "sx1", "sy1", "sx2", "sy2",
        F.explode(F.sequence("cxmin", "cxmax")).alias("cx"),
        "cymin", "cymax",
    ).select(
        "way_id", "seq", "sx1", "sy1", "sx2", "sy2", "cx",
        F.explode(F.sequence("cymin", "cymax")).alias("cy"),
    )
    dx = (F.col("sx2") - F.col("sx1")).cast(dec)
    dy = (F.col("sy2") - F.col("sy1")).cast(dec)

    def orient(rx: Column, ry: Column) -> Column:
        return dx * (ry - F.col("sy1")).cast(dec) - dy * (
            rx - F.col("sx1")
        ).cast(dec)

    x0 = F.col("cx") * F.lit(_LON_SPAN)
    x1 = (F.col("cx") + 1) * F.lit(_LON_SPAN)
    y0 = F.col("cy") * F.lit(_LAT_SPAN)
    y1 = (F.col("cy") + 1) * F.lit(_LAT_SPAN)
    o1, o2 = orient(x0, y0), orient(x0, y1)
    o3, o4 = orient(x1, y0), orient(x1, y1)
    hit = (F.least(o1, o2, o3, o4) <= 0) & (F.greatest(o1, o2, o3, o4) >= 0)
    return cells.filter(hit).select(
        "way_id", "seq",
        F.col("cx").alias("tile_ix"), F.col("cy").alias("tile_iy"),
    )


def polygon_overlap(
    a: DataFrame,
    b: DataFrame,
    res: int,
    id_a: str = "poly_id",
    id_b: str = "poly_id",
) -> DataFrame:
    """Overlap matrix between two polygon LAYERS at raster resolution
    `res` — the layer-cross-layer analytics op (admin x landuse,
    extract-region x coverage): for every pair sharing at least one
    interior cell, (id_a, id_b, n_shared, n_a, n_b, iou) where the
    counts are res-cell areas and iou = n_shared/(n_a + n_b - n_shared)
    (one division of exact BIGINTs).

    Scale shape: each layer rasterizes independently (the scanline runs
    of `polygon_rasterize`), then ONE equi-join on the cell
    key + one hash-agg — no polygon x polygon pairing ever forms; the
    cell IS the spatial index, so two layers of 10^6 polygons meet only
    where they actually overlap. Precision is the cell grid (raise
    `res` to tighten); exact vector overlay is a different op this one
    deliberately is not — at corpus scale the raster matrix is the
    screening pass that makes any exact refinement affordable."""
    ra = polygon_rasterize(a, res).select(
        F.col("poly_id").alias("ida"), "cx", "cy"
    )
    rb = polygon_rasterize(b, res).select(
        F.col("poly_id").alias("idb"), "cx", "cy"
    )
    na = ra.groupBy("ida").agg(F.count("*").alias("n_a"))
    nb = rb.groupBy("idb").agg(F.count("*").alias("n_b"))
    shared = (
        ra.join(rb, ["cx", "cy"])
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(na, "ida")
        .join(nb, "idb")
        .select(
            F.col("ida").alias(id_a if id_a != id_b else "id_a"),
            F.col("idb").alias(id_b if id_a != id_b else "id_b"),
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
            ).alias("iou"),
        )
    )


def idw_surface(
    samples: DataFrame,
    radius: int,
    val_col: str = "val",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Inverse-distance-weighted interpolation surface: estimate a value
    at every grid-cell center from the samples within `radius`
    fixed-point units — (ix, iy, res, n_samples, est). The classic
    scattered-points -> raster operator (Shepard 1968 interpolation;
    the gridding step behind every "sensor readings -> heatmap layer"
    pipeline), complementing density_surface (which counts) with a
    VALUE surface.

    The grid resolution `res` is derived from the search radius so a
    cell's lat span is in (radius/4, radius/2], which guarantees every
    sample reaches at least one center (its own cell's center is within
    ~0.56 r). Each
    sample scatters to its deduplicated clamped (2kx+1)x(2ky+1)
    neighbor ring, with kx/ky = floor(r/span + 1/2) per axis computed
    in exact rational arithmetic — tight completeness: every center
    within `radius` of the sample is in the ring (offset k is needed
    iff (k - 1/2)*span <= r), and each (cell, sample) pair is
    generated exactly once. One explode + ONE hash aggregate keyed by
    cell, never a join at all (the "query side" is the cell centers
    themselves, which exist implicitly as column math). The derived
    grid keeps the ring at most 5 x 9 cells.

    Determinism, the part float IDW gets wrong: weights are EXACT
    integers — d2 (exact squared planar distance from sample to cell
    center) is first rescaled by integer division with
    s = max(1, (2 r^2) div 1e6), so the rescaled distance spans
    [0, ~1e6] REGARDLESS of radius, then w = 10^15 div (q + 1):
    weights span ~6 decades, never vanish (a vanishing rim weight
    would zero a cell's denominator), and the +1 caps w at 10^15
    for a sample dead on a center. The aggregate sums ride
    decimal(38,0), so they are exact and ORDER-FREE — a float 1/d^p
    weight sum would differ between partitionings and engines, this
    cannot. The single division est = num/den happens once,
    double/double (decimal->double is correctly rounded in both
    engines — the way_area precedent), so est is bit-stable across
    engines and reruns.

    Scale shape: ring-factor sample explode (15-45x) -> hash aggregate with
    map-side combine (cells are spatially clustered within a task, so
    partial aggregation collapses most of the explosion before the
    exchange, the density_surface block argument). No corpus join, no
    window, no UDF. Dense-region skew is bounded: a cell receives only
    samples within one ring, i.e. local density, and AQE handles the
    hot-cell aggregate case.
    """
    if radius <= 0:
        raise ValueError(f"idw_surface: radius must be positive, got {radius}")
    import math as _math

    from ..functions.cells import _LAT_MIN, _LAT_SPAN, _LON_MIN, _LON_SPAN, _ix, _iy

    if radius > _LAT_SPAN:
        raise ValueError(f"idw_surface: radius {radius} exceeds the domain")
    # lat cell span <= radius/2: every sample reaches >=1 center
    res = min(30, max(0, int(_math.ceil(_math.log2(2 * _LAT_SPAN / radius)))))
    n = 1 << res
    # exact rational kx/ky = floor(r/span + 1/2); span = SPAN/n
    kx = (2 * radius * n + _LON_SPAN) // (2 * _LON_SPAN)
    ky = (2 * radius * n + _LAT_SPAN) // (2 * _LAT_SPAN)
    d38 = "decimal(38,0)"

    base = samples.select(
        F.col(val_col).cast("long").alias("v"),
        F.col(lon_col).cast("long").alias("slon"),
        F.col(lat_col).cast("long").alias("slat"),
        _ix(F.col(lon_col), res).alias("cx"),
        _iy(F.col(lat_col), res).alias("cy"),
    )
    ring = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.greatest(
                        F.lit(0), F.least(F.lit(n - 1), F.col("cx") + dx)
                    ).alias("jx"),
                    F.greatest(
                        F.lit(0), F.least(F.lit(n - 1), F.col("cy") + dy)
                    ).alias("jy"),
                )
                for dx in range(-kx, kx + 1)
                for dy in range(-ky, ky + 1)
            ]
        )
    )
    cand = base.select("v", "slon", "slat", F.explode(ring).alias("c")).select(
        "v",
        "slon",
        "slat",
        F.col("c.jx").alias("ix"),
        F.col("c.jy").alias("iy"),
    )
    # cell-center coordinates in fixed-point units: the exact integer
    # midpoint of the cell's span (floor of the real-valued center —
    # identical formula in the SQL twin).
    ccx = F.lit(_LON_MIN) + (
        (F.col("ix") * 2 + 1) * F.lit(_LON_SPAN)
    ) / F.lit(2 * n)
    ccy = F.lit(_LAT_MIN) + (
        (F.col("iy") * 2 + 1) * F.lit(_LAT_SPAN)
    ) / F.lit(2 * n)
    dx = F.floor(ccx).cast("long") - F.col("slon")
    dy = F.floor(ccy).cast("long") - F.col("slat")
    r = int(radius)
    scored = (
        cand.withColumn("dx", dx)
        .withColumn("dy", dy)
        .filter((F.abs(F.col("dx")) <= r) & (F.abs(F.col("dy")) <= r))
        .withColumn(
            "d2", F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
        )
        .filter(F.col("d2") <= F.lit(r * r))
        .withColumn(
            "w",
            F.expr(
                f"CAST({10**15} AS BIGINT) div "
                f"((d2 div {max(1, (2 * r * r) // 10**6)}) + 1)"
            ),
        )
    )
    agg = scored.groupBy("ix", "iy").agg(
        F.count("*").cast("long").alias("n_samples"),
        F.sum(F.col("w").cast(d38) * F.col("v").cast(d38)).cast(d38).alias("_num"),
        F.sum(F.col("w").cast(d38)).cast(d38).alias("_den"),
    )
    return agg.select(
        "ix",
        "iy",
        F.lit(res).cast("int").alias("res"),
        "n_samples",
        (F.col("_num").cast("double") / F.col("_den").cast("double")).alias("est"),
    )
