"""The flagship end-to-end pipeline: image table -> tags-filter ->
multi-extract spatial join -> tile-cell assignment -> rollup.

This is the north-star composition (BASELINE.json metric: "images/sec
through extract + tags-filter + tile-assign") expressed as ONE declarative
plan so Catalyst fuses it:

  - tag predicates compile against the image table's physical columns
    (matches_node_columns) => pushed into the parquet/Iceberg scan
    (PushedFilters), no per-row map materialization;
  - only `phash` (+ predicate columns) is read — column pruning does the
    rest (ReadSchema stays narrow);
  - geo-referencing (phash -> fixed-point lon/lat) is integer Column math;
  - extract assignment is the codegen'd bbox/PIP fan-out of
    operators/extract.py with the tile cell riding through as a payload
    column — zero joins, zero shuffles until the final partial-agg rollup
    (map-side combine => the only shuffle moves ~n_tiles rows per task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_id
from ..functions.geometry import Extract
from ..functions.tagexpr import CompiledFilter
from .extract import assign_extracts


def _filter_georef(images: DataFrame, filt: CompiledFilter, cell_res: int) -> DataFrame:
    """(id, lon, lat, cell) of the images passing the tag filter: lon/lat
    are fixed-point slices of the phash, cell their tile at cell_res."""
    colmap = {"fmt": F.col("fmt"), "caption": F.col("caption")}
    return (
        images.filter(filt.matches_node_columns(colmap))
        .select(
            F.col("image_id").alias("id"),
            (F.col("phash") % F.lit(3_600_000_000) - F.lit(1_800_000_000)).alias("lon"),
            (F.shiftright(F.col("phash"), 16) % F.lit(1_800_000_000) - F.lit(900_000_000)).alias("lat"),
        )
        .withColumn("cell", cell_id(F.col("lon"), F.col("lat"), cell_res))
    )


def image_extract_tile(
    images: DataFrame,
    tag_expressions: list[str],
    extracts: list[Extract],
    cell_res: int = 8,
) -> DataFrame:
    """Returns (extract_id, cell, n_images) tile rollup of the images
    passing the tag filter, assigned to every containing extract region."""
    nodes = _filter_georef(images, CompiledFilter(tag_expressions), cell_res)
    assigned = assign_extracts(nodes, extracts, payload_cols=["cell"])
    return assigned.groupBy("extract_id", "cell").agg(F.count("*").alias("n_images"))


def image_extract_tile_checkpointed(
    spark,
    images_path: str,
    tag_expressions: list[str],
    extracts: list[Extract],
    root: str,
    cell_res: int = 8,
    force_from: str | None = None,
) -> DataFrame:
    """The flagship pipeline as a checkpoint-resumable plan (north rule:
    10^12-row jobs resume from the last completed stage with per-partition
    lineage + metrics persisted — plans/checkpointed.py).

    Three stages, split at the natural restart points:
      filter_georef  scan + pushed tag filter + geo-reference + cell assign
                     (the input-sized stage; its checkpoint bounds rework
                     after a mid-job failure to one scan)
      assign         multi-extract bbox/PIP fan-out over the filtered frame
      rollup         per-(extract, cell) partial-agg tile counts

    Re-running with the same `root` skips completed stages; `force_from`
    invalidates a stage and everything after it. Each stage directory has
    metrics.json (rows, wall, per-partition histogram — the skew
    detector's input) and the run appends to lineage.jsonl.

    The single-plan `image_extract_tile` remains the throughput path (no
    intermediate materialization); this variant trades two parquet
    round-trips for resumability on long jobs.
    """
    from ..plans.checkpointed import CheckpointedPipeline

    filt = CompiledFilter(tag_expressions)
    p = CheckpointedPipeline(root)

    @p.stage("filter_georef")
    def filter_georef(spark, _prev):
        return _filter_georef(spark.read.parquet(images_path), filt, cell_res)

    @p.stage("assign")
    def assign(spark, prev):
        return assign_extracts(prev, extracts, payload_cols=["cell"])

    @p.stage("rollup")
    def rollup(spark, prev):
        return prev.groupBy("extract_id", "cell").agg(F.count("*").alias("n_images"))

    return p.run(spark, force_from=force_from)
