"""Z-order (Morton) clustered table layout + manifest-style file pruning.

The reference's planet extract reads the WHOLE input to cut out a region
(src/command_extract.cpp — every strategy is a full pass). At 10^12 rows
the winning move is to not read the data at all: write the standing
image/entity table CLUSTERED by Morton cell id, then answer a bbox
extract by (1) decomposing the bbox into Morton ranges
(`functions/cells.morton_ranges` — query planning, driver-side ints),
(2) pruning files whose footer [min, max] cell interval misses every
range (the Iceberg manifest-pruning analog; parquet footers are the
manifest here), and (3) pushing the range predicate into the surviving
scans so parquet row-group stats prune within files too. Only the
perimeter cells need the exact lon/lat refinement.

Scale notes:
  - `write_clustered` is one range-exchange on the cell id; because
    children share parent bit prefixes, ONE layout serves every
    coarser-resolution query (a res-6 range is a contiguous res-12
    range) — no per-query re-clustering, the Z-order property.
  - Footer reads are metadata-scale (KBs/file, driver-side) exactly like
    an Iceberg manifest scan; at 100 TB the same [min, max]-interval
    logic runs against the table format's column stats instead.
  - Pruning is a SUPERSET selection; correctness never depends on it
    (the pushed range predicate + exact refinement re-filter), so a
    capped/merged range list (max_ranges) is safe.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import cell_id, hilbert_cell, morton_ranges

CELL_COL = "cell"


def write_clustered(
    df: DataFrame,
    path: str,
    res: int,
    lon: str | Column = "lon",
    lat: str | Column = "lat",
    partitions: int | None = None,
    curve: str = "morton",
) -> None:
    """Write ``df`` parquet, range-clustered by space-filling-curve cell id
    at resolution ``res``: one range exchange + in-partition sort, so every
    file covers a tight [min, max] cell interval (the property pruning
    needs). Adds the ``cell`` column.

    ``curve="hilbert"`` keys the layout by Hilbert distance instead of
    Morton: the continuous curve turns a bbox into ~2x fewer contiguous
    ranges (functions/cells.hilbert_ranges), so fewer files straddle a
    range boundary and the pushed predicate has fewer OR terms. Pruning
    (`clustered_scan`) is curve-agnostic — pass the matching ranges."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"unknown curve {curve!r} (morton|hilbert)")
    key = (hilbert_cell if curve == "hilbert" else cell_id)(lon, lat, res)
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    (
        df.withColumn(CELL_COL, key)
        .repartitionByRange(n, F.col(CELL_COL))
        .sortWithinPartitions(CELL_COL)
        .write.mode("overwrite")
        .parquet(path)
    )


def _file_cell_interval(fpath: str) -> tuple[int, int] | None:
    """[min, max] of the cell column from the parquet footer (no data IO)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(fpath)
    try:
        ci = md.schema.names.index(CELL_COL)
    except ValueError:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (lo, hi)


def clustered_scan(
    spark: SparkSession,
    path: str,
    ranges: list[tuple[int, int]],
) -> tuple[DataFrame, dict]:
    """Scan a clustered table reading only files whose footer cell
    interval overlaps a range; the range predicate is also pushed into
    the scan for row-group pruning. Returns (df, stats) where stats
    reports files_total / files_read — the pruning evidence."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    keep = []
    for f in files:
        iv = _file_cell_interval(f)
        if iv is None or any(lo <= iv[1] and iv[0] <= hi for lo, hi in ranges):
            keep.append(f)
    stats = {"files_total": len(files), "files_read": len(keep)}
    if not keep:
        empty = spark.read.parquet(path).limit(0)
        return empty, stats
    df = spark.read.parquet(*keep)
    pred = None
    for lo, hi in ranges:
        c = F.col(CELL_COL).between(lo, hi)
        pred = c if pred is None else pred | c
    return df.filter(pred), stats


def bbox_scan_clustered(
    spark: SparkSession,
    path: str,
    bbox_fp: tuple[int, int, int, int],
    res: int,
    lon: str = "lon",
    lat: str = "lat",
    curve: str = "morton",
) -> tuple[DataFrame, dict]:
    """Bbox extract over a clustered table: curve-range decomposition ->
    file pruning -> pushed range predicate -> EXACT fixed-point bbox
    refinement (pruning is a superset; this is the correctness filter).
    bbox_fp = (lon_min, lat_min, lon_max, lat_max) in fixed-point.
    ``curve`` must match the layout's write_clustered curve: "morton"
    (Z-order) or "hilbert" (continuous curve — same bbox decomposes into
    ~2x fewer ranges, so the same cap of 8 ranges loses less precision).

    The range cap trades pruning precision against predicate size: every
    extra range is another OR clause through Catalyst planning + codegen
    (measured: 64 clauses cost ~1.3s of fixed overhead vs ~0.1s at 8 on
    a 4M-row table, while file selection was identical) — 8 is plenty
    because file pruning works on [min, max] intervals anyway and the
    exact bbox refinement restores precision."""
    from ..functions.cells import hilbert_ranges
    from ..schema import COORD_SCALE

    range_fn = {"morton": morton_ranges, "hilbert": hilbert_ranges}[curve]
    max_ranges = 8
    lon_min, lat_min, lon_max, lat_max = bbox_fp
    if lon_min > lon_max:
        # antimeridian-crossing box (the reference models it as two
        # regions, man/osmium-extract.md): split at ±180° and union the
        # curve ranges; the exact predicate is the wrapped disjunction
        east = range_fn(
            lon_min, lat_min, 180 * COORD_SCALE, lat_max, res, max_ranges // 2 or 1
        )
        west = range_fn(
            -180 * COORD_SCALE, lat_min, lon_max, lat_max, res, max_ranges // 2 or 1
        )
        ranges = sorted(east + west)
        lon_pred = (F.col(lon) >= lon_min) | (F.col(lon) <= lon_max)
    else:
        ranges = range_fn(lon_min, lat_min, lon_max, lat_max, res, max_ranges)
        lon_pred = F.col(lon).between(lon_min, lon_max)
    df, stats = clustered_scan(spark, path, ranges)
    exact = lon_pred & F.col(lat).between(lat_min, lat_max)
    stats["n_ranges"] = len(ranges)
    return df.filter(exact), stats
