"""Geometry kernels: ring normalization, y-band segment index, vectorized
exact point-in-polygon.

Semantics-parity notes (vs the reference, /root/reference):
  - PIP is pnpoly even-odd crossing in *exact int64 arithmetic* over
    fixed-point 1e-7-degree coordinates, with points equal to a segment
    endpoint counted INSIDE (src/extract/extract_polygon.cpp:103-156).
  - The polygon's segments (all outer+inner rings pooled) are bucketed into
    <=10,000 equal y-bands targeting ~10 segments/band
    (src/extract/extract_polygon.cpp:77-100); holes fall out of even-odd
    parity automatically.
  - Envelope (bbox) pre-test is inclusive on all edges
    (src/extract/extract_bbox.cpp:30-32).
  - Ring orientation is normalized on ingest: outer rings CCW, inner CW
    (src/extract/geometry_util.cpp:22-34, poly_file_parser.cpp:80-96) —
    orientation does not affect even-odd parity, but we keep the invariant
    for export/WKT parity.

Implementation is numpy-vectorized (Arrow batches via mapInPandas), never
per-row Python: for each batch we group points by band and evaluate the
(points_in_band × segments_in_band) crossing matrix with broadcasting.
This module is the only numpy PIP code, and `boundary_cells` with
`scanline_runs` the only code that puts a polygon on the global cell grid
(CellCover, spatial_join's cell index, polygon_rasterize). Executor kernels close over these objects
after `ship_by_value()`, so they travel with the pickled closure to
executors that lack the package on sys.path.
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass, field

import numpy as np

from ..schema import fp
from .cells import _LAT_MIN, _LAT_SPAN, _LON_MIN, _LON_SPAN

SEGMENTS_PER_BAND = 10
MAX_BANDS = 10_000


def ship_by_value() -> None:
    """Register this module and functions/cells.py with cloudpickle's
    register_pickle_by_value so every kernel closure that references
    BandIndex/CellCover or `cells.morton_py` ships them with it. Call it
    where the kernel is built, and pass the objects in the closure, never
    through `sc.broadcast`: broadcast uses plain pickle, which pickles
    classes by reference."""
    from pyspark import cloudpickle

    from . import cells

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(cells)


def rings_from_structs(rings) -> list[np.ndarray]:
    """A `rings` cell of array<array<struct<x:long,y:long>>> as delivered
    to a pandas kernel -> list of closed (k,2) int64 arrays: an open ring
    gets its closing vertex, as `normalize_ring` gives file sources."""
    return [closed_ring([[p["x"], p["y"]] for p in ring]) for ring in rings]


def signed_area2(ring: np.ndarray) -> int:
    """Twice the signed area of a closed ring (int64 shoelace).

    Positive => counter-clockwise. Reference: geometry_util.cpp:22-34.
    """
    x = ring[:, 0].astype(np.int64)
    y = ring[:, 1].astype(np.int64)
    return int(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def is_ccw(ring: np.ndarray) -> bool:
    return signed_area2(ring) >= 0


def closed_ring(ring) -> np.ndarray:
    """(k,2) int64 ring, its first vertex repeated at the end if open."""
    ring = np.asarray(ring, dtype=np.int64).reshape(-1, 2)
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    return ring


def normalize_ring(ring: np.ndarray, outer: bool) -> np.ndarray:
    """Close the ring if open, orient outer CCW / inner CW."""
    ring = closed_ring(ring)
    if len(ring) >= 4 and is_ccw(ring) != outer:
        ring = ring[::-1].copy()
    return ring


def segments(rings: list[np.ndarray]) -> np.ndarray:
    """(N,4) int64 [x1,y1,x2,y2]: the rings' segments, zero-length ones
    skipped; an unclosed ring gets no closing segment."""
    seg_list = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.int64)
        if len(r) >= 2:
            keep = ~np.all(r[:-1] == r[1:], axis=1)
            seg_list.append(np.hstack([r[:-1][keep], r[1:][keep]]))
    return np.vstack(seg_list) if seg_list else np.empty((0, 4), np.int64)


@dataclass
class BandIndex:
    """Y-band segment index of one (multi)polygon."""

    # segments: (N,4) int64 [x1,y1,x2,y2]
    segs: np.ndarray
    minx: int
    miny: int
    maxx: int
    maxy: int
    num_bands: int
    dy: int
    # per-band segment arrays, len num_bands+1 (reference resizes to nb+1)
    bands: list = field(default_factory=list)

    @classmethod
    def build(cls, rings: list[np.ndarray]) -> "BandIndex":
        """rings: list of closed (k,2) int arrays (outer and inner pooled,
        per extract_polygon.cpp:66-74)."""
        segs = segments(rings)
        if len(segs) == 0:
            return cls(segs, 0, 0, 0, 0, 1, 1, [np.empty((0, 4), np.int64)] * 2)
        xy = segs.reshape(-1, 2)
        (minx, miny), (maxx, maxy) = xy.min(axis=0).tolist(), xy.max(axis=0).tolist()
        num_bands = max(1, min(MAX_BANDS, len(segs) // SEGMENTS_PER_BAND))
        dy = max(1, (maxy - miny + num_bands - 1) // num_bands)
        # each segment goes to every band its y-range reaches, in segment order
        ylo, yhi = np.minimum(segs[:, 1], segs[:, 3]), np.maximum(segs[:, 1], segs[:, 3])
        i, b = _spans((ylo - miny) // dy, (yhi - miny) // dy)
        order = np.argsort(b, kind="stable")
        bands = np.split(segs[i[order]], np.searchsorted(b[order], np.arange(1, num_bands + 1)))
        return cls(segs, minx, miny, maxx, maxy, num_bands, dy, bands)

    def contains(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """Vectorized exact PIP for int fixed-point coordinate arrays."""
        xs = np.asarray(xs, dtype=np.int64)
        ys = np.asarray(ys, dtype=np.int64)
        out = np.zeros(len(xs), dtype=bool)
        if len(self.segs) == 0:
            return out
        env = (xs >= self.minx) & (xs <= self.maxx) & (ys >= self.miny) & (ys <= self.maxy)
        if not env.any():
            return out
        band_of = (ys - self.miny) // self.dy
        cand = np.flatnonzero(env)
        for b in np.unique(band_of[cand]):
            segs = self.bands[int(b)]
            sel = cand[band_of[cand] == b]
            if len(segs) == 0:
                continue
            px = xs[sel][:, None]
            py = ys[sel][:, None]
            x1, y1, x2, y2 = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
            on_vertex = ((px == x1) & (py == y1)) | ((px == x2) & (py == y2))
            straddle = (y2 > py) != (y1 > py)
            ax = x1 - x2
            ay = y1 - y2
            tx = px - x2
            ty = py - y2
            comp = tx * ay < ax * ty
            toggle = straddle & ((ay > 0) == comp)
            inside = (toggle.sum(axis=1) & 1).astype(bool)
            out[sel] = on_vertex.any(axis=1) | inside
        return out


# --- cover on the global cell grid ----------------------------------------
# functions/cells' grid at resolution `res`: n = 2^res cells per axis, cell
# (cx, cy) numbered cy * n + cx, its centre (2n*lon_min + (2cx+1)*lon_span,
# 2n*lat_min + (2cy+1)*lat_span) in 2n-scaled integers. A run
# (cy, cx_start, cx_end) holds cells cx_start..cx_end of row cy.


def _ordinate(v, vmin: int, span: int, res: int):
    """floor((v - vmin) * 2^res / span), clamped to the grid. Spark's double
    division in cells.ord_x/_ix gives the same up to res 30: the spans' odd
    factor keeps a non-integer quotient over half an ulp from an integer."""
    n = 1 << res
    return np.clip((np.asarray(v, dtype=np.int64) - vmin) * n // span, 0, n - 1)


def _cell_box(segs: np.ndarray, res: int) -> list[int]:
    """[ix0, ix1, iy0, iy1]: the cells of the segments' bbox at `res` (the
    cell of (0, 0) when there are none, as BandIndex's empty bbox)."""
    xy = segs.reshape(-1, 2) if len(segs) else np.zeros((1, 2), np.int64)
    return [*_ordinate([xy[:, 0].min(), xy[:, 0].max()], _LON_MIN, _LON_SPAN, res).tolist(),
            *_ordinate([xy[:, 1].min(), xy[:, 1].max()], _LAT_MIN, _LAT_SPAN, res).tolist()]


def box_cells(segs: np.ndarray, res: int) -> int:
    """How many cells the segments' bbox holds at `res`."""
    ix0, ix1, iy0, iy1 = _cell_box(segs, res)
    return (ix1 - ix0 + 1) * (iy1 - iy0 + 1)


def _spans(lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(i, v) for every integer v in [lo[i], hi[i]], i ascending."""
    k = np.maximum(hi - lo + 1, 0)
    i = np.repeat(np.arange(len(k)), k)
    return i, lo[i] + np.arange(int(k.sum())) - np.repeat(np.cumsum(k) - k, k)


def _touching(lo, hi, vmin: int, span: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """First and last ordinates of the cells whose closed extent meets [lo, hi]."""
    return (
        np.clip(((lo - vmin) * n - 1) // span, 0, n - 1),
        np.clip(((hi - vmin) * n) // span, 0, n - 1),
    )


def run_cells(runs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(cx, cy) of every cell of the runs."""
    i, cx = _spans(runs[:, 1], runs[:, 2])
    return cx, runs[i, 0]


def boundary_cells(segs: np.ndarray, res: int) -> np.ndarray:
    """The sorted numbers of the cells whose closed extent a segment may
    touch, marked row by row from the segment's x-extent in each row,
    rounded outward (a segment's bbox would wipe out a long diagonal's
    interior). For closed rings one verdict holds across any other cell."""
    n = 1 << res
    x1, y1, x2, y2 = segs.T
    # the segment's x-extent in each row it reaches, from floats exact to
    # well under a unit, padded by one unit on each side
    i, cy = _spans(*_touching(np.minimum(y1, y2), np.maximum(y1, y2), _LAT_MIN, _LAT_SPAN, n))
    dy = (y2 - y1)[i]
    flat, step = dy == 0, np.where(dy == 0, 1, dy)
    ta = np.where(flat, 0, np.clip((_LAT_MIN + cy * (_LAT_SPAN / n) - y1[i]) / step, 0, 1))
    tb = np.where(flat, 1, np.clip((_LAT_MIN + (cy + 1) * (_LAT_SPAN / n) - y1[i]) / step, 0, 1))
    xa, xb = x1[i] + ta * (x2 - x1)[i], x1[i] + tb * (x2 - x1)[i]
    lo = np.floor(np.minimum(xa, xb)).astype(np.int64) - 1
    hi = np.ceil(np.maximum(xa, xb)).astype(np.int64) + 1
    j, cx = _spans(*_touching(lo, hi, _LON_MIN, _LON_SPAN, n))
    return np.unique(cy[j] * n + cx)


def scanline_runs(segs: np.ndarray, res: int) -> np.ndarray:
    """Sorted disjoint runs (cy, cx_start, cx_end) of the bbox's cells whose
    exact centre passes `BandIndex.contains`'s rule (even-odd parity, its
    tie rule, a centre on a vertex inside): each row's centre-line
    crossings, sorted and paired (Raptor, VLDB 2019), so work grows with
    edges x rows, not bbox area. Crossing products pass 2^63 (about 5e25
    at res 12): each crossing is converted once, with Python ints."""
    n = 1 << res
    ix0, ix1, iy0, iy1 = _cell_box(segs, res)
    x1, y1, x2, y2 = segs.T
    ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
    # rows whose centre line PY a segment straddles, i.e.
    # 2n*ylo <= PY < 2n*yhi with PY = 2n*lat_min + (2cy+1)*lat_span
    lo_k = -((-2 * n * (ylo - _LAT_MIN)) // _LAT_SPAN)
    hi_k = -((-2 * n * (yhi - _LAT_MIN)) // _LAT_SPAN) - 1
    i, cy = _spans(np.maximum(lo_k // 2, iy0), np.minimum((hi_k - 1) // 2, iy1))
    ty = (2 * n * _LAT_MIN + (2 * cy + 1) * _LAT_SPAN - 2 * n * y2[i]).astype(object)
    ax, ay = (x1 - x2)[i].astype(object), (y1 - y2)[i]
    # the edge toggles centre px while px < X (ay > 0) or px <= X (ay < 0),
    # X its crossing; t is the first cx past X, from the rational
    # q = (X - 2n*lon_min) / lon_span = num / den, den > 0
    sign = np.where(ay > 0, 1, -1)
    num = ((2 * n * (x2[i] - _LON_MIN)).astype(object) * ay + ax * ty) * sign
    den = (np.abs(ay) * 2).astype(object) * _LON_SPAN
    t = np.where(ay > 0, -((den // 2 - num) // den), (num - den // 2) // den + 1)
    t = np.clip(t, ix0, ix1 + 1).astype(np.int64)
    # sorted and paired per row: inside from each odd threshold to the
    # next; an open ring leaves a row's count odd, so it starts inside
    rows, count = np.unique(cy, return_counts=True)
    cy, t = np.r_[cy, rows[count % 2 == 1]], np.r_[t, np.full(int((count % 2).sum()), ix0)]
    order = np.lexsort((t, cy))
    cy, t = cy[order], t[order]
    runs = np.stack([cy[0::2], t[0::2], t[1::2] - 1], axis=1)
    runs = runs[runs[:, 1] <= runs[:, 2]]

    # a centre on a vertex is inside: vertex ordinates that are odd
    # multiples of the half-cell in 2n-scaled integers, unless in a run
    qx, rx = np.divmod(2 * n * (np.r_[x1, x2] - _LON_MIN), _LON_SPAN)
    qy, ry = np.divmod(2 * n * (np.r_[y1, y2] - _LAT_MIN), _LAT_SPAN)
    on_centre = (rx == 0) & (ry == 0) & (qx % 2 == 1) & (qy % 2 == 1)
    on_centre &= (0 < qx) & (qx < 2 * n) & (0 < qy) & (qy < 2 * n)  # off-world vertices
    v = np.unique(((qy - 1) // 2 * n + (qx - 1) // 2)[on_centre])
    i = np.searchsorted(np.r_[-1, runs[:, 0] * n + runs[:, 1]], v, side="right") - 1
    v = v[v > np.r_[-1, runs[:, 0] * n + runs[:, 2]][i]]
    runs = np.r_[runs, np.stack([v // n, v % n, v % n], axis=1)]
    return runs[np.lexsort((runs[:, 1], runs[:, 0]))]


@dataclass
class CellCover:
    """Interior cover of a (multi)polygon — the S2/H3-style covering trick
    for PIP at scale: `boundary_cells` and `scanline_runs` classify the
    cells of the polygon's bbox ONCE (driver-side) as outside(0) /
    inside(1) / boundary(2); a point test is then an O(1) int8 lookup,
    and only points in boundary cells (the ~perimeter/area fraction) run
    the exact ray cast. Verdicts match BandIndex bit-for-bit for closed
    rings, endpoint==point->inside included (endpoints lie in boundary
    cells)."""

    index: BandIndex
    res: int
    box: list[int]  # [ix0, ix1, iy0, iy1], _cell_box
    classes: np.ndarray  # int8, shape (iy1 - iy0 + 1, ix1 - ix0 + 1)

    @classmethod
    def build(cls, index: BandIndex, res: int) -> "CellCover":
        ix0, ix1, iy0, iy1 = box = _cell_box(index.segs, res)
        classes = np.zeros((iy1 - iy0 + 1, ix1 - ix0 + 1), dtype=np.int8)
        cx, cy = run_cells(scanline_runs(index.segs, res))
        classes[cy - iy0, cx - ix0] = 1
        cy, cx = np.divmod(boundary_cells(index.segs, res), 1 << res)
        keep = (ix0 <= cx) & (cx <= ix1) & (iy0 <= cy) & (cy <= iy1)
        classes[cy[keep] - iy0, cx[keep] - ix0] = 2
        return cls(index, res, box, classes)

    def lookup(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """The class of each point's cell; the points lie in the bbox."""
        cx = _ordinate(xs, _LON_MIN, _LON_SPAN, self.res) - self.box[0]
        return self.classes[_ordinate(ys, _LAT_MIN, _LAT_SPAN, self.res) - self.box[2], cx]

    def contains(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """Same verdicts as `index.contains`: envelope test, then the
        cell lookup; only points in boundary cells run the ray cast."""
        xs = np.asarray(xs, dtype=np.int64)
        ys = np.asarray(ys, dtype=np.int64)
        idx = self.index
        out = np.zeros(len(xs), dtype=bool)
        env = (xs >= idx.minx) & (xs <= idx.maxx) & (ys >= idx.miny) & (ys <= idx.maxy)
        sel = np.flatnonzero(env)
        cls = self.lookup(xs[sel], ys[sel])
        out[sel[cls == 1]] = True
        edge = sel[cls == 2]
        out[edge] = idx.contains(xs[edge], ys[edge])
        return out


@dataclass
class Extract:
    """One extract region: bbox or polygon, mirroring the reference's
    Extract/ExtractBBox/ExtractPolygon (src/extract/extract.hpp)."""

    extract_id: int
    kind: str  # "bbox" | "polygon"
    minx: int = 0
    miny: int = 0
    maxx: int = 0
    maxy: int = 0
    index: BandIndex | None = None

    @classmethod
    def bbox(cls, extract_id: int, left: float, bottom: float, right: float, top: float) -> "Extract":
        x1, y1, x2, y2 = fp(left), fp(bottom), fp(right), fp(top)
        # envelope extends from two corners given in any order
        # (reference command_extract.cpp:79-170)
        return cls(extract_id, "bbox", min(x1, x2), min(y1, y2), max(x1, x2), max(y1, y2))

    @classmethod
    def polygon(cls, extract_id: int, rings: list[np.ndarray]) -> "Extract":
        idx = BandIndex.build(rings)
        return cls(extract_id, "polygon", idx.minx, idx.miny, idx.maxx, idx.maxy, idx)

    def contains(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        xs = np.asarray(xs, dtype=np.int64)
        ys = np.asarray(ys, dtype=np.int64)
        if self.kind == "bbox":
            return (xs >= self.minx) & (xs <= self.maxx) & (ys >= self.miny) & (ys <= self.maxy)
        return self.index.contains(xs, ys)


# --- polygon source parsers (driver side) ---------------------------------


def parse_poly(text: str) -> list[np.ndarray]:
    """Osmosis .poly format -> normalized rings (outer CCW, inner CW).

    Reference semantics (src/extract/poly_file_parser.cpp): first line is a
    name, sections start with a ring name (leading '!' marks an inner ring),
    coordinate lines are 'lon lat' floats, sections end with END, the file
    ends with a final END; rings auto-close (:76-78).
    """
    lines = [ln.strip() for ln in text.replace("\r\n", "\n").split("\n")]
    if not lines or all(not ln for ln in lines):
        raise ValueError("empty polygon file")
    rings: list[np.ndarray] = []
    i = 1  # skip file name line
    saw_end = False
    while i < len(lines):
        ln = lines[i]
        if not ln:
            i += 1
            continue
        if ln == "END":
            saw_end = True
            i += 1
            continue
        inner = ln.startswith("!")
        i += 1
        coords = []
        while i < len(lines) and lines[i] != "END":
            if lines[i]:
                parts = lines[i].split()
                coords.append((fp(float(parts[0])), fp(float(parts[1]))))
            i += 1
        if i >= len(lines):
            raise ValueError("missing END in polygon file")
        i += 1  # consume ring END
        if len(coords) < 3:
            raise ValueError("ring with fewer than 3 points")
        rings.append(normalize_ring(np.array(coords, dtype=np.int64), outer=not inner))
    if not rings:
        raise ValueError("polygon file contains no rings")
    if not saw_end:
        raise ValueError("missing final END in polygon file")
    return rings


def _rings_from_geojson_coords(coords) -> list[np.ndarray]:
    rings = []
    for gi, ring in enumerate(coords):
        pts = np.array([(fp(float(x)), fp(float(y))) for x, y in ring], dtype=np.int64)
        rings.append(normalize_ring(pts, outer=(gi == 0)))
    return rings


def parse_geojson(text: str) -> list[np.ndarray]:
    """GeoJSON Polygon / MultiPolygon / Feature / FeatureCollection (first
    feature) -> normalized rings.

    Reference: src/extract/geojson_file_parser.cpp:222-282.
    """
    obj = json.loads(text)
    t = obj.get("type")
    if t == "FeatureCollection":
        feats = obj.get("features") or []
        if not feats:
            raise ValueError("FeatureCollection with no features")
        obj = feats[0]
        t = obj.get("type")
    if t == "Feature":
        obj = obj.get("geometry") or {}
        t = obj.get("type")
    if t == "Polygon":
        return _rings_from_geojson_coords(obj["coordinates"])
    if t == "MultiPolygon":
        rings = []
        for poly in obj["coordinates"]:
            rings.extend(_rings_from_geojson_coords(poly))
        return rings
    raise ValueError(f"unsupported GeoJSON geometry type: {t!r}")


def parse_osm_file(text: str, fmt: str = "xml") -> list[np.ndarray]:
    """OSM file as polygon source -> normalized rings.

    Reference: src/extract/osm_file_parser.cpp:48-91 — assemble areas from
    the file's type=multipolygon/boundary relations (member ways stitched
    into closed rings via node locations); missing nodes and ring-less
    files are hard errors. Region files are config-sized, so this parses
    on the driver (mirroring the reference doing it in setup()); supported
    encodings are minimal .osm XML (the reference fixture shape) and OPL.

    Ring orientation is normalized but irrelevant downstream: BandIndex
    pools all segments and tests even-odd parity, so holes work without
    outer/inner classification (extract_polygon.cpp:66-74 does the same).
    """
    from ..operators.export import _stitch_rings_impl

    if fmt == "opl":
        from ..sources.opl import _make_parser

        rows = map(_make_parser(), text.splitlines())
    else:
        from ..sources.osmxml import parse_osm_xml

        rows = parse_osm_xml(text)
    nodes: dict[int, tuple[int, int]] = {}
    ways: dict[int, list[int]] = {}
    rels: list[list[int]] = []
    for row in rows:
        if row is None:
            continue
        if row["type"] == 0 and row["lon"] is not None:
            nodes[row["id"]] = (row["lon"], row["lat"])
        elif row["type"] == 1:
            ways[row["id"]] = list(row["refs"] or [])
        elif row["type"] == 2 and dict(row["tags"]).get("type") in ("multipolygon", "boundary"):
            rels.append([m["ref"] for m in (row["members"] or []) if m["mtype"] == 1])
    if not rels:
        raise ValueError("No multipolygon/boundary relations found in the OSM file.")
    stitch = _stitch_rings_impl()
    rings: list[np.ndarray] = []
    for way_ids in rels:
        segs = []
        for wid in way_ids:
            refs = ways.get(wid)
            if refs is None:
                raise ValueError(f"Missing way {wid} in boundary (multi)polygon.")
            try:
                segs.append([nodes[r] for r in refs])
            except KeyError as e:
                raise ValueError(
                    f"Missing node {e.args[0]} in boundary (multi)polygon."
                ) from None
        for ring in stitch(segs):
            rings.append(normalize_ring(np.array(ring, dtype=np.int64), outer=True))
    if not rings:
        raise ValueError("No areas found in the OSM file.")
    return rings
