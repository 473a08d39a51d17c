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
This module is the only numpy PIP code. Executor kernels (extract's
large-polygon path, spatial_join's index builder and verifier) close over
BandIndex/CellCover objects after `ship_by_value()`, so the classes travel
with the pickled closure to executors that lack the package on sys.path.
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass, field

import numpy as np

from ..schema import fp

SEGMENTS_PER_BAND = 10
MAX_BANDS = 10_000


def ship_by_value() -> None:
    """Register this module with cloudpickle's register_pickle_by_value so
    every kernel closure that references BandIndex/CellCover ships the
    classes with it. Call it where the kernel is built, and pass the
    objects in the closure, never through `sc.broadcast`: broadcast uses
    plain pickle, which pickles classes by reference."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


def rings_from_structs(rings) -> list[np.ndarray]:
    """A `rings` cell of array<array<struct<x:long,y:long>>> as delivered
    to a pandas kernel -> list of (k,2) int64 arrays for BandIndex.build."""
    return [np.asarray([[p["x"], p["y"]] for p in ring], dtype=np.int64) for ring in rings]


def signed_area2(ring: np.ndarray) -> int:
    """Twice the signed area of a closed ring (int64 shoelace).

    Positive => counter-clockwise. Reference: geometry_util.cpp:22-34.
    """
    x = ring[:, 0].astype(np.int64)
    y = ring[:, 1].astype(np.int64)
    return int(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def is_ccw(ring: np.ndarray) -> bool:
    return signed_area2(ring) >= 0


def normalize_ring(ring: np.ndarray, outer: bool) -> np.ndarray:
    """Close the ring if open, orient outer CCW / inner CW."""
    ring = np.asarray(ring, dtype=np.int64)
    if len(ring) and not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    if len(ring) >= 4 and is_ccw(ring) != outer:
        ring = ring[::-1].copy()
    return ring


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
        seg_list = []
        for ring in rings:
            r = np.asarray(ring, dtype=np.int64)
            if len(r) < 2:
                continue
            a, b = r[:-1], r[1:]
            keep = ~np.all(a == b, axis=1)  # skip zero-length segments
            seg_list.append(np.hstack([a[keep], b[keep]]))
        segs = np.vstack(seg_list) if seg_list else np.empty((0, 4), np.int64)
        if len(segs) == 0:
            return cls(segs, 0, 0, 0, 0, 1, 1, [np.empty((0, 4), np.int64)] * 2)
        minx = int(min(segs[:, 0].min(), segs[:, 2].min()))
        maxx = int(max(segs[:, 0].max(), segs[:, 2].max()))
        miny = int(min(segs[:, 1].min(), segs[:, 3].min()))
        maxy = int(max(segs[:, 1].max(), segs[:, 3].max()))
        num_bands = max(1, min(MAX_BANDS, len(segs) // SEGMENTS_PER_BAND))
        dy = max(1, (maxy - miny + num_bands - 1) // num_bands)
        bands: list[list] = [[] for _ in range(num_bands + 1)]
        ymins = np.minimum(segs[:, 1], segs[:, 3])
        ymaxs = np.maximum(segs[:, 1], segs[:, 3])
        b_lo = (ymins - miny) // dy
        b_hi = (ymaxs - miny) // dy
        for i in range(len(segs)):
            for b in range(int(b_lo[i]), int(b_hi[i]) + 1):
                bands[b].append(segs[i])
        band_arrays = [
            np.array(b, dtype=np.int64) if b else np.empty((0, 4), np.int64)
            for b in bands
        ]
        return cls(segs, minx, miny, maxx, maxy, num_bands, dy, band_arrays)

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


@dataclass
class CellCover:
    """Uniform-grid interior cover of a (multi)polygon — the S2/H3-style
    covering trick for PIP at scale: classify each grid cell of the
    envelope ONCE (driver-side) as outside(0) / inside(1) / boundary(2);
    point tests then become an O(1) int8 lookup, and only points in
    BOUNDARY cells (the ~perimeter/area fraction) run the exact ray cast.

    Soundness: a cell is marked boundary if ANY segment's bbox overlaps it
    (conservative — over-marking only costs speed, never correctness); a
    cell no segment bbox touches contains no polygon edge, so even-odd
    parity is constant across it and its center's exact-PIP verdict holds
    for every point in the cell. Exactness therefore matches BandIndex
    bit-for-bit, including the endpoint==point->inside rule (endpoints lie
    in boundary cells by construction, where the ray cast decides).
    """

    index: BandIndex
    gx: int  # cell width  (fixed-point units)
    gy: int  # cell height
    classes: np.ndarray  # int8, shape (nrows, ncols), origin (index.minx, index.miny)

    MAX_CELLS = 16384  # ~128x128: 16 KiB shipped per polygon

    @classmethod
    def build(cls, index: BandIndex, max_cells: int = MAX_CELLS) -> "CellCover | None":
        if len(index.segs) == 0:
            return None
        w = index.maxx - index.minx + 1
        h = index.maxy - index.miny + 1
        side = max(1, int(max_cells ** 0.5))
        gx = max(1, (w + side - 1) // side)
        gy = max(1, (h + side - 1) // side)
        ncols = (w + gx - 1) // gx
        nrows = (h + gy - 1) // gy
        grid = np.zeros((nrows, ncols), dtype=np.int8)

        segs = index.segs
        c0 = (np.minimum(segs[:, 0], segs[:, 2]) - index.minx) // gx
        c1 = (np.maximum(segs[:, 0], segs[:, 2]) - index.minx) // gx
        r0 = (np.minimum(segs[:, 1], segs[:, 3]) - index.miny) // gy
        r1 = (np.maximum(segs[:, 1], segs[:, 3]) - index.miny) // gy
        one_cell = (c0 == c1) & (r0 == r1)
        grid[r0[one_cell], c0[one_cell]] = 2  # vectorized common case
        for i in np.flatnonzero(~one_cell):  # once per polygon, driver-side
            grid[r0[i] : r1[i] + 1, c0[i] : c1[i] + 1] = 2

        rows, cols = np.nonzero(grid != 2)
        if len(rows):
            cx = index.minx + cols.astype(np.int64) * gx + gx // 2
            cy = index.miny + rows.astype(np.int64) * gy + gy // 2
            grid[rows, cols] = index.contains(cx, cy).astype(np.int8)
        return cls(index, gx, gy, grid)

    def contains(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """Same verdicts as `index.contains`: envelope test, then the
        cell lookup; only points in boundary cells run the ray cast."""
        xs = np.asarray(xs, dtype=np.int64)
        ys = np.asarray(ys, dtype=np.int64)
        idx = self.index
        out = np.zeros(len(xs), dtype=bool)
        env = (xs >= idx.minx) & (xs <= idx.maxx) & (ys >= idx.miny) & (ys <= idx.maxy)
        sel = np.flatnonzero(env)
        cls = self.classes[(ys[sel] - idx.miny) // self.gy, (xs[sel] - idx.minx) // self.gx]
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
