"""Many-polygon spatial join — point-in-polygon beyond the extract cap.

`extract`/`assign_extracts` mirror the reference's <=500-region fan-out
(command_extract.cpp:77): regions are driver-side literals compiled into
the plan. An analytics engine over the 10^12-image table also needs the
join against MANY polygons (all admin boundaries, 10^4-10^6 geofences) —
more than fits in a plan literal or a driver loop.

This operator makes the polygon set a DATAFRAME and the join a plain
equi-join through a distributed cell index:

  1. index build (mapInPandas over polygons): each polygon emits its
     cells at resolution `res` (the Morton cells of
     functions/cells.cell_id): BOUNDARY cells (`geometry.boundary_cells`),
     which a segment may touch, and INSIDE cells, the other cells of
     `geometry.scanline_runs`, whose whole extent is in the polygon.
  2. points compute their cell id as pure Column math and EQUI-JOIN the
     index on the cell — no cross product anywhere; Catalyst picks
     broadcast vs shuffle by index size, AQE handles dense-cell skew.
  3. INSIDE hits are accepted with zero further work (for large polygons
     the interior dominates — the S2/H3 covering trick); BOUNDARY
     candidates join their polygon's geometry and are verified by the
     exact int64 even-odd ray cast (same rule as the extract kernel:
     endpoint==point -> inside), batched per polygon in numpy.

Scale notes: the index is polygon-perimeter-sized (interiors collapse to
cell rows). The verify
stage groups by polygon — a polygon with a huge boundary-candidate set
serializes within its group (raise `res` to shrink boundary cells). A
polygon whose bbox covers more than `MAX_CELLS_PER_POLYGON` cells at
`res` fails LOUD with the resolution to use instead — silent coarsening
would make the interior shortcut quietly disappear.

Polygon geometry rides a DataFrame column: rings as
array<array<struct<x:long,y:long>>> (outer + inner pooled, even-odd —
the multipolygon model of functions/geometry.BandIndex);
geometry.ship_by_value() lets both kernels carry that module to
executors that do not have this package on sys.path.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import _LAT_SPAN, _LON_SPAN, cell_id, morton_py, ord_x, ord_y
from ..functions.geometry import (
    BandIndex, boundary_cells, box_cells, rings_from_structs, run_cells, scanline_runs,
    segments, ship_by_value,
)

RINGS_TYPE = "array<array<struct<x:long,y:long>>>"

# loud safety caps: exceeding one means the resolution (or snap) is wrong
# for the input, so the operator fails instead of exploding its rows
MAX_CELLS_PER_POLYGON = 65536  # spatial_join's bbox cells per polygon
MAX_CELLS_PER_SEG = 256  # cells per segment in the crossing joins
MAX_SNAP_CELLS_PER_SEG = 1024  # padded cells per segment in snap_points
MAX_WAYS_PER_VERTEX = 10_000  # way_junctions' pairs grow with its square


def build_polygon_cell_index(
    polygons: DataFrame,
    res: int,
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """(cell:long, poly_id, interior:boolean) covering-cell index: each
    polygon's `geometry.boundary_cells` with interior=false, the other
    cells of its `geometry.scanline_runs` with interior=true. Distributed
    over the polygon table (mapInPandas) — the driver never sees a
    geometry."""
    r = int(res)
    n = 1 << r
    cap = MAX_CELLS_PER_POLYGON
    pid_name, rings_name = poly_id, rings_col
    ship_by_value()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        import numpy as np

        for pdf in batches:
            cells_out, pid_out, int_out = [], [], []
            for pid, rings in zip(pdf[pid_name], pdf[rings_name]):
                segs = segments(rings_from_structs(rings))
                ncells = box_cells(segs, r)
                if ncells > cap:
                    fit = max(1, r - math.ceil(math.log2(ncells / cap) / 2))
                    raise ValueError(
                        f"spatial_join: polygon {pid} covers {ncells} cells at "
                        f"res {r} > MAX_CELLS_PER_POLYGON={cap}; use res<={fit}"
                    )
                boundary = boundary_cells(segs, r)
                ix, iy = run_cells(scanline_runs(segs, r))
                inner = ~np.isin(iy << r | ix, boundary)
                cx = np.r_[boundary & (n - 1), ix[inner]]
                cy = np.r_[boundary >> r, iy[inner]]
                cells_out.append((r << 56) | morton_py(cx, cy, r))
                pid_out.append(np.full(len(cx), pid))
                int_out.append(np.arange(len(cx)) >= len(boundary))
            if cells_out:
                yield pd.DataFrame(
                    {
                        "cell": np.concatenate(cells_out),
                        "poly_id": np.concatenate(pid_out),
                        "interior": np.concatenate(int_out),
                    }
                )

    pid_type = dict(polygons.dtypes)[poly_id]
    return polygons.mapInPandas(
        gen, schema=f"cell long, poly_id {pid_type}, interior boolean"
    )


def spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    id_col: str = "id",
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """(poly_id, id) pairs: point contained in polygon."""
    index = build_polygon_cell_index(polygons, res, poly_id=poly_id, rings_col=rings_col)

    pts = points.select(
        F.col(id_col).alias("id"),
        F.col("lon"),
        F.col("lat"),
        cell_id(F.col("lon"), F.col("lat"), int(res)).alias("cell"),
    )
    cand = pts.join(index, on="cell")

    accepted = cand.filter(F.col("interior")).select("poly_id", "id")
    border = cand.filter(~F.col("interior")).select("poly_id", "id", "lon", "lat")

    geoms = polygons.select(
        F.col(poly_id).alias("poly_id"), F.col(rings_col).alias("__rings")
    )
    ship_by_value()

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        index = BandIndex.build(rings_from_structs(pdf["__rings"].iloc[0]))
        ok = index.contains(pdf["lon"].to_numpy("int64"), pdf["lat"].to_numpy("int64"))
        return pd.DataFrame({"poly_id": pdf["poly_id"][ok], "id": pdf["id"][ok]})

    dtypes = dict(border.dtypes)
    schema = f"poly_id {dtypes['poly_id']}, id {dtypes['id']}"
    verified = border.join(geoms, on="poly_id").groupBy("poly_id").applyInPandas(
        verify, schema=schema
    )
    return accepted.unionByName(verified)


def grid_cluster(
    points: DataFrame,
    res: int = 6,
    min_pts: int = 5,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "id",
) -> DataFrame:
    """Grid-density spatial clustering (the ST_ClusterDBSCAN analog).

    DBSCAN at 10^12 points is infeasible as written (eps-neighborhood
    queries per point); the standard distributed relaxation is grid
    granularity (GriDBSCAN / GriT-DBSCAN family): a cell of the
    equirectangular 2^res x 2^res grid is DENSE when it holds >= min_pts
    points; dense cells that are 8-neighbors (longitude wraps at the
    antimeridian, latitude clamps at the poles) merge into one cluster;
    points in dense cells take their cell's cluster label, points in
    sparse cells are noise (cluster_id NULL). eps is implied by the cell
    size — pick res so a cell edge ~ the intended radius.

    Scale shape, stage by stage:
      1. cell counts: ONE hash aggregate over the points (map-side
         combine) — the only corpus-sized shuffle;
      2. the dense-cell adjacency graph is OCCUPIED-CELL sized (orders of
         magnitude below the point count); edges come from an equi-join
         of exploded neighbor keys against the dense set — no cross
         product, no window;
      3. connected components run alternating large-star/small-star on
         that cell graph (dedup.dup_clusters — O(log^2) rounds);
      4. labels re-join the points by cell key, a plain equi-join that
         Catalyst broadcasts when the dense set is small.

    Cluster labels are the MINIMUM grid key (ix * 2^res + iy) in the
    component — deterministic across engines and runs. Returns
    (id, gkey, cluster_id, cluster_size) with NULLs for noise points;
    cluster_size counts points, not cells.

    Parameter note: min_pts must sit ABOVE the background cell density
    (mean points per cell), or every cell is dense and the component
    graph degenerates to the whole grid — correctness holds, but the CC
    loop then runs O(log grid) rounds over a grid-sized edge frame and
    its fixed per-round latency dominates (measured in BENCH.md). With
    min_pts above background, the dense set is hotspot-sized and the
    corpus-proportional stages (rasterize, label join) dominate — the
    intended DBSCAN regime: clusters are the anomalously dense regions.
    """
    from ..functions.cells import _ix, _iy
    from .dedup import dup_clusters

    n = 1 << res
    pts = points.select(
        F.col(id_col).alias("id"),
        _ix(F.col(lon_col), res).alias("ix"),
        _iy(F.col(lat_col), res).alias("iy"),
    ).withColumn("gkey", F.col("ix") * n + F.col("iy"))

    # The dense-cell frame is consumed three times (neighbor explode, the
    # edge join's build side, the CC seed) — materialize it ONCE so the
    # corpus-sized rasterize aggregate runs exactly once, not per consumer.
    # localCheckpoint is cheap here: the frame is hotspot-sized, orders of
    # magnitude below the point count (same pattern as dup_clusters).
    dense = (
        pts.groupBy("gkey", "ix", "iy")
        .agg(F.count("*").alias("n_pts"))
        .filter(F.col("n_pts") >= min_pts)
        .localCheckpoint(eager=True)
    )

    # 8-neighborhood keys: lon (ix) wraps modulo 2^res, lat (iy) does not —
    # out-of-range iy would alias another cell under ix*n+iy packing, so it
    # is emitted as NULL and filtered before the explode
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)]
    nbr = F.filter(
        F.array(
            *[
                F.when(
                    (F.col("iy") + dy >= 0) & (F.col("iy") + dy < n),
                    ((F.col("ix") + dx + n) % n) * n + (F.col("iy") + dy),
                )
                for dx, dy in offsets
            ]
        ),
        lambda x: x.isNotNull(),
    )
    cand = dense.select("gkey", F.explode(nbr).alias("nkey"))
    edges = cand.join(dense.select(F.col("gkey").alias("nkey")), "nkey").select(
        "gkey", "nkey"
    )

    labels = dup_clusters(edges, a="gkey", b="nkey", ids=dense.select("gkey"))
    # cluster_size (points per cluster) aggregates the DENSE-CELL counts,
    # not the corpus: sum(n_pts) per component over the checkpointed cell
    # frame — the labeled point frame is consumed exactly once, by the
    # final label equi-join.
    cell_labels = labels.select(F.col("id").alias("gkey"), "cluster_id")
    sizes = (
        cell_labels.join(dense.select("gkey", "n_pts"), "gkey")
        .groupBy("cluster_id")
        .agg(F.sum("n_pts").alias("cluster_size"))
    )
    return pts.select("id", "gkey").join(
        cell_labels.join(sizes, "cluster_id"), "gkey", "left"
    ).select("id", "gkey", "cluster_id", "cluster_size")


def _segment_cells(
    segs: DataFrame, res: int, cap: int, pad_x: int = 0, pad_y: int = 0
) -> DataFrame:
    """Bbox cell cover per segment: (way_id, seq, x1, y1, x2, y2, cx, cy),
    one row per covering cell at `res` (same equirectangular ordinates as
    functions/cells._ix). Map-side double explode; cells-per-segment is
    capped LOUDLY at `cap` — a planet-chord input is a modelling bug, not
    something to coarsen silently. `pad_x`/`pad_y` widen the cover by
    whole cells on each side (clamped at the domain edge) — the
    within-distance completeness pad used by snap_points."""
    n = 1 << res
    boxed = segs.select(
        "way_id", "seq", "x1", "y1", "x2", "y2",
        F.greatest(ord_x(F.least("x1", "x2"), res) - pad_x, F.lit(0)).alias("cxmin"),
        F.least(ord_x(F.greatest("x1", "x2"), res) + pad_x, F.lit(n - 1)).alias("cxmax"),
        F.greatest(ord_y(F.least("y1", "y2"), res) - pad_y, F.lit(0)).alias("cymin"),
        F.least(ord_y(F.greatest("y1", "y2"), res) + pad_y, F.lit(n - 1)).alias("cymax"),
    ).filter(
        # loud cap as a FILTER predicate (a projected assert column would
        # be pruned away by Catalyst the moment it's dropped)
        F.when(
            (F.col("cxmax") - F.col("cxmin") + 1)
            * (F.col("cymax") - F.col("cymin") + 1)
            > cap,
            F.raise_error(
                F.lit(
                    f"segment covers more than {cap} cells at res {res}: "
                    "coarsen res"
                )
            ).isNull(),
        ).otherwise(F.lit(True))
    )
    return boxed.select(
        "way_id", "seq", "x1", "y1", "x2", "y2",
        F.explode(F.sequence("cxmin", "cxmax")).alias("cx"),
        "cymin", "cymax",
    ).select(
        "way_id", "seq", "x1", "y1", "x2", "y2", "cx",
        F.explode(F.sequence("cymin", "cymax")).alias("cy"),
    )


# exact orientation math: long coordinate DIFFS are exact (span <= 4e9)
# but their products reach 1.3e19 > 2^63 on world-span inputs — int64
# would overflow silently. decimal(12,0) x decimal(12,0) -> decimal(25,0)
# stays exact in Spark (DuckDB oracle twins use HUGEINT) and the
# predicate remains whole-stage-codegen'd Column math, no UDF.
_DEC = "decimal(12,0)"


def _orient(px, py, qx, qy, rx, ry) -> Column:
    return (F.col(qx) - F.col(px)).cast(_DEC) * (F.col(ry) - F.col(py)).cast(
        _DEC
    ) - (F.col(qy) - F.col(py)).cast(_DEC) * (F.col(rx) - F.col(px)).cast(_DEC)


def _proper_cross() -> Column:
    """Strict proper-intersection predicate over columns a{x,y}{1,2} /
    b{x,y}{1,2}: endpoint touches and collinear overlaps fail (orientation
    zeros fail the strict sign test)."""
    d1 = _orient("ax1", "ay1", "ax2", "ay2", "bx1", "by1")
    d2 = _orient("ax1", "ay1", "ax2", "ay2", "bx2", "by2")
    d3 = _orient("bx1", "by1", "bx2", "by2", "ax1", "ay1")
    d4 = _orient("bx1", "by1", "bx2", "by2", "ax2", "ay2")
    return (
        ((d1 > 0) & (d2 < 0) | (d1 < 0) & (d2 > 0))
        & ((d3 > 0) & (d4 < 0) | (d3 < 0) & (d4 > 0))
    )


def segment_crossings(segs: DataFrame, res: int = 7) -> DataFrame:
    """Way-crossing detection: distinct pairs of ways whose segments
    PROPERLY intersect (the OSM-QA "highways cross without a junction
    node" check; the reference assembles the same segment geometry for
    its area/export paths, command_export.cpp:619-631, but ships the
    crossing test to downstream GIS — at training-data scale the
    crossing graph IS the feature: conflict candidates between
    trajectory polylines, layout-line intersections in document images).

    Input `segs`: (way_id:long, seq:long, x1,y1,x2,y2:long) — one row
    per polyline segment, fixed-point 1e-7-degree coords.
    Output: (way_a, way_b, n_crossings) with way_a < way_b; n_crossings
    counts distinct PROPERLY-crossing segment pairs (endpoint touches
    and collinear overlaps are excluded — orientation zeros fail the
    strict sign test; two ways sharing a junction node therefore do
    NOT count, matching the QA semantics).

    Plan shape (the scale story):
      1. each segment emits its bbox's covering cells at `res` (same
         equirectangular ordinates as functions/cells._ix) — a map-side
         double explode, cells-per-segment capped LOUDLY at
         `MAX_CELLS_PER_SEG` (a planet-chord input is a modelling bug,
         not something to coarsen silently).
      2. candidates = cell equi-join (a.cell = b.cell, way_a < way_b) —
         no cross product anywhere; AQE splits dense-cell skew.
      3. pairs deduped (a crossing pair shares >=1 cell, maybe more)
         then verified by the exact orientation predicate.

    The orientation determinant is computed in DECIMAL(25,0): long
    coordinate DIFFS are exact (span <= 4e9), but their products reach
    1.3e19 > 2^63 for world-span inputs — int64 would overflow
    silently. Decimal(12,0) x decimal(12,0) -> decimal(25,0) stays
    exact in Spark (and the DuckDB oracle twin uses HUGEINT); the
    predicate remains whole-stage-codegen'd Column math, no UDF.
    """
    cells = _segment_cells(segs, res, MAX_CELLS_PER_SEG)
    a = cells.select(
        F.col("way_id").alias("wa"), F.col("seq").alias("sa"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
        "cx", "cy",
    )
    b = cells.select(
        F.col("way_id").alias("wb"), F.col("seq").alias("sb"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
        "cx", "cy",
    )
    pairs = (
        a.join(b, on=["cx", "cy"])
        .filter(F.col("wa") < F.col("wb"))
        .drop("cx", "cy")
        .distinct()
    )
    return (
        pairs.filter(_proper_cross())
        .groupBy(F.col("wa").alias("way_a"), F.col("wb").alias("way_b"))
        .agg(F.count(F.lit(1)).alias("n_crossings"))
    )


def way_self_intersections(segs: DataFrame, res: int = 7) -> DataFrame:
    """Self-intersection detection: per way, the count of its own
    segment pairs that PROPERLY cross (the OSM-QA "self-intersecting
    way" check; the reference's area assembler REJECTS such rings —
    osmium/area/assembler.hpp flags them as invalid locations — so
    surfacing them at corpus scale is the upstream QA pass that decides
    which ways can become polygons at all).

    Input/coordinates as segment_crossings. Output: (way_id,
    n_self_intersections), ways with zero omitted. ADJACENT segments
    share a vertex, so they can never properly cross — the strict sign
    test excludes them with no explicit seq-adjacency rule; closed
    rings (last vertex == first) are likewise not flagged for the
    closure touch. Zero-length segments have all orientations 0 and
    drop out.

    Plan shape: the same cell cover as segment_crossings, but the
    candidate equi-join keys on (way_id, cx, cy) — candidates never
    leave the way, so the join output is bounded by per-way geometry,
    not by cell density; (sa < sb) halves the pair space and the
    multi-cell dedup runs per way. One corpus exchange on the join
    key; AQE splits long-way skew.
    """
    cells = _segment_cells(segs, res, MAX_CELLS_PER_SEG)
    a = cells.select(
        "way_id", F.col("seq").alias("sa"),
        F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
        F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
        "cx", "cy",
    )
    b = cells.select(
        "way_id", F.col("seq").alias("sb"),
        F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
        F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
        "cx", "cy",
    )
    pairs = (
        a.join(b, on=["way_id", "cx", "cy"])
        .filter(F.col("sa") < F.col("sb"))
        .drop("cx", "cy")
        .distinct()
    )
    return (
        pairs.filter(_proper_cross())
        .groupBy("way_id")
        .agg(F.count(F.lit(1)).alias("n_self_intersections"))
    )


def way_junctions(segs: DataFrame, snap: int = 1) -> DataFrame:
    """Junction detection: pairs of ways sharing >= 1 vertex — the
    complement of segment_crossings (ways that CONNECT rather than
    cross; together they are the OSM-QA crossing/junction matrix, and
    the junction graph is the road-network adjacency the reference's
    downstream routers consume). `snap` > 1 coarsens vertices to a
    snap-unit grid first (map-conflation tolerance matching); snap=1 is
    exact node identity.

    Input as segment_crossings (vertices are recovered from segment
    endpoints). Output: (way_a, way_b, n_shared) with way_a < way_b,
    n_shared = count of DISTINCT shared (snapped) vertex points.

    Plan shape: distinct (way, vertex) -> vertex equi-join, way_a <
    way_b. A vertex of degree d emits d*(d-1)/2 pairs — real road
    junctions have single-digit degree, but a too-coarse `snap` can
    manufacture mega-vertices, so per-vertex degree is capped LOUDLY
    at `MAX_WAYS_PER_VERTEX` (the degree aggregate shares the join's
    (vx, vy) exchange). Snapping uses pure integer math —
    x - pmod(x, snap) is exactly divisible by snap — with identical
    expressions in the DuckDB oracle twin.
    """
    s = int(snap)
    cap = MAX_WAYS_PER_VERTEX

    def snapc(c: str) -> Column:
        x = F.col(c)
        pm = ((x % s) + s) % s
        return ((x - pm) / s).cast("long")

    # three consumers below (degree agg + both join sides) would each
    # re-run the scan+window+distinct otherwise — checkpoint the
    # vertex frame once (it is input-sized, not pair-sized)
    verts = (
        segs.select(
            "way_id", snapc("x1").alias("vx"), snapc("y1").alias("vy")
        )
        .unionAll(
            segs.select(
                "way_id", snapc("x2").alias("vx"), snapc("y2").alias("vy")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = verts.groupBy("vx", "vy").agg(F.count(F.lit(1)).alias("deg")).filter(
        F.when(
            F.col("deg") > cap,
            F.raise_error(
                F.lit(
                    f"vertex shared by more than {cap} ways at snap {s}: refine snap"
                )
            ).isNull(),
        ).otherwise(F.lit(True))
    )
    capped = verts.join(deg.select("vx", "vy"), on=["vx", "vy"])
    a = capped.select(F.col("way_id").alias("way_a"), "vx", "vy")
    b = capped.select(F.col("way_id").alias("way_b"), "vx", "vy")
    return (
        a.join(b, on=["vx", "vy"])
        .filter(F.col("way_a") < F.col("way_b"))
        .groupBy("way_a", "way_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def snap_points(
    points: DataFrame,
    segs: DataFrame,
    res: int = 10,
    max_dist: int = 1_000_000,
) -> DataFrame:
    """Map-matching: snap each point to its nearest way segment within
    `max_dist` fixed-point units (planar, same equirectangular frame as
    every cell op) — the GPS-trace→road join. The reference answers "what
    is here" through its location index (create/query-locations-index,
    command_query_locations_index.cpp) one coordinate at a time; at
    training-data scale the inverse question — attach every image/ping to
    road geometry — is a corpus-sized join, built here from the same
    cell-cover machinery as segment_crossings (SURVEY.md §2.4 spatial
    join family).

    Candidate generation is COMPLETE by construction: each segment emits
    its bbox cell cover at `res` padded by ceil(max_dist / cell_span)
    whole cells per axis; any point within max_dist of the segment lies
    inside the segment's bbox inflated by max_dist, hence inside the
    padded cover — so the single-cell point side equi-joins (cx, cy)
    without ring expansion or a second pass. Domain-edge clamping is
    identical on both sides, so boundary cells still meet.

    Distance is EXACT where it decides: the projection parameter
    comparisons (t_num vs 0 vs t_den) and all dot/cross products are
    decimal(25,0) integer math (DuckDB twin: HUGEINT); only the final
    dist², t are doubles, converted from the SAME exact integers in both
    engines (IEEE round-to-nearest — bitwise-reproducible), so the
    argmin and the hash-compared output are deterministic. Ties break by
    (way_id, seq).

    Scale shape: map-side bounded explode (cover, capped LOUDLY) →
    ONE equi-join on (cx, cy) (AQE splits dense-cell skew) → ONE
    partial-aggregatable min(struct) per point. No window over the
    candidate set, no cross join, no Python.

    Input `points`: (point_id:long, lon:long, lat:long);
    `segs`: (way_id, seq, x1, y1, x2, y2) fixed-point.
    Output: (point_id, way_id, seq, dist2:double, t:double) — points
    with no segment within max_dist are absent (inner-join semantics);
    t is the clamped projection parameter along (x1,y1)→(x2,y2).
    """
    if max_dist <= 0:
        raise ValueError(f"snap_points: max_dist must be positive, got {max_dist}")
    n = 1 << res
    pad_x = -((-max_dist * n) // _LON_SPAN)
    pad_y = -((-max_dist * n) // _LAT_SPAN)
    if max(pad_x, pad_y) > 8:
        raise ValueError(
            f"snap_points: max_dist {max_dist} spans {max(pad_x, pad_y)} cells "
            f"at res {res} — coarsen res (pad is capped at 8 cells/axis)"
        )
    cells = _segment_cells(segs, res, MAX_SNAP_CELLS_PER_SEG, pad_x, pad_y)
    pts = points.select(
        F.col("point_id"),
        F.col("lon").alias("px"), F.col("lat").alias("py"),
        ord_x(F.col("lon"), res).alias("cx"),
        ord_y(F.col("lat"), res).alias("cy"),
    )
    cand = pts.join(cells, on=["cx", "cy"])

    wx = (F.col("px") - F.col("x1")).cast(_DEC)
    wy = (F.col("py") - F.col("y1")).cast(_DEC)
    dxx = (F.col("x2") - F.col("x1")).cast(_DEC)
    dyy = (F.col("y2") - F.col("y1")).cast(_DEC)
    vx = (F.col("px") - F.col("x2")).cast(_DEC)
    vy = (F.col("py") - F.col("y2")).cast(_DEC)
    tnum = wx * dxx + wy * dyy
    tden = dxx * dxx + dyy * dyy
    cross = wx * dyy - wy * dxx
    dist2 = (
        F.when(tnum <= 0, (wx * wx + wy * wy).cast("double"))
        .when(tnum >= tden, (vx * vx + vy * vy).cast("double"))
        .otherwise(
            cross.cast("double") * cross.cast("double") / tden.cast("double")
        )
    )
    t = (
        F.when(tnum <= 0, F.lit(0.0))
        .when(tnum >= tden, F.lit(1.0))
        .otherwise(tnum.cast("double") / tden.cast("double"))
    )
    md2 = float(max_dist) * float(max_dist)
    scored = cand.select(
        "point_id", "way_id", "seq", dist2.alias("dist2"), t.alias("t")
    ).filter(F.col("dist2") <= F.lit(md2))
    best = scored.groupBy("point_id").agg(
        F.min(F.struct("dist2", "way_id", "seq", "t")).alias("m")
    )
    return best.select(
        "point_id",
        F.col("m.way_id").alias("way_id"),
        F.col("m.seq").alias("seq"),
        F.col("m.dist2").alias("dist2"),
        F.col("m.t").alias("t"),
    )


def dist_join(
    points: DataFrame,
    radius: int,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Distance-band spatial join: every pair of points within `radius`
    fixed-point units — (id_a, id_b, dist2). The all-pairs-within-r
    primitive (co-location mining, duplicate-capture detection, spatial
    autocorrelation neighborhoods) that complements the kNN family:
    knn_cellring answers "the k nearest", this answers "everything
    within r" with an exact integer predicate.

    osmium-tool has no pairwise spatial join; this extends its
    location-index machinery (SURVEY.md §2.4 spatial join family) the
    same way snap_points does, over the shared fixed-point
    equirectangular frame (planar distance; no antimeridian wrap —
    documented contract of the planar cell ops).

    Scale shape, and why it is never all-pairs: the cell resolution is
    derived from the radius so one cell spans >= radius in both axes.
    The left side emits ONE row per point (its own cell); the right
    side emits its deduplicated clamped 3x3 neighbor ring (<=9 rows).
    Any pair within r differs by <=1 cell per axis, so candidates meet
    in EXACTLY the left point's cell — one equi-join on (ix, iy), no
    ring re-probe, no second pass, and each surviving pair appears
    exactly once (the ring is array_distinct-ed, so edge clamping
    cannot double-emit). Candidate volume is sum over cells of
    n_left(cell) x n_right(3x3 ring) — bounded by local density, not
    corpus size. Dense-cell skew is AQE's skew-join case; at planet
    hotspots pre-split with salt_column (operators/skew.py).

    Exactness: the predicate is integer math end-to-end — |dx|,|dy|
    <= radius pre-filter (which also bounds the squares away from
    int64 overflow: radius <= 1.8e9 keeps dx^2+dy^2 < 6.5e18), then
    dx*dx + dy*dy <= radius*radius in long arithmetic. `dist2` is the
    exact squared planar distance; callers take sqrt only for display.

    Each unordered pair is returned once (id_a < id_b, self-pairs
    excluded).
    """
    if radius <= 0:
        raise ValueError(f"dist_join: radius must be positive, got {radius}")
    if radius > _LAT_SPAN:
        raise ValueError(f"dist_join: radius {radius} exceeds the domain")
    import math as _math

    res = min(30, max(0, int(_math.floor(_math.log2(_LAT_SPAN / radius)))))
    n = 1 << res

    def _cells(df: DataFrame, side: str, ring: bool) -> DataFrame:
        from ..functions.cells import _ix, _iy

        base = df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(lon_col).cast("long").alias(f"lon_{side}"),
            F.col(lat_col).cast("long").alias(f"lat_{side}"),
            _ix(F.col(lon_col), res).alias("cx"),
            _iy(F.col(lat_col), res).alias("cy"),
        )
        if not ring:
            return base.withColumnRenamed("cx", "jx").withColumnRenamed("cy", "jy")
        offs = F.array_distinct(
            F.array(
                *[
                    F.struct(
                        F.greatest(
                            F.lit(0),
                            F.least(F.lit(n - 1), F.col("cx") + dx),
                        ).alias("jx"),
                        F.greatest(
                            F.lit(0),
                            F.least(F.lit(n - 1), F.col("cy") + dy),
                        ).alias("jy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        )
        return base.select(
            f"id_{side}", f"lon_{side}", f"lat_{side}", F.explode(offs).alias("c")
        ).select(
            f"id_{side}",
            f"lon_{side}",
            f"lat_{side}",
            F.col("c.jx").alias("jx"),
            F.col("c.jy").alias("jy"),
        )

    left = _cells(points, "a", ring=False)
    right = _cells(points, "b", ring=True)
    cand = left.join(right, ["jx", "jy"]).filter(F.col("id_a") < F.col("id_b"))
    r = int(radius)
    return (
        cand.select(
            "id_a",
            "id_b",
            (F.col("lon_a") - F.col("lon_b")).alias("dx"),
            (F.col("lat_a") - F.col("lat_b")).alias("dy"),
        )
        .filter((F.abs(F.col("dx")) <= r) & (F.abs(F.col("dy")) <= r))
        .select(
            "id_a",
            "id_b",
            (F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")).alias("dist2"),
        )
        .filter(F.col("dist2") <= F.lit(r * r))
    )
