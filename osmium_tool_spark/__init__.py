"""osmium_tool_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query/data-processing capabilities of
osmcode/osmium-tool (reference read-only at /root/reference) as idiomatic
DataFrame/SQL pipelines, designed for 100 TB-scale Iceberg tables of
image+caption pairs where every image is a geo-referenced raster cell keyed
by a hierarchical grid-cell (H3/S2-style) index.

Architecture (NOT a port):
  - One canonical "entity" DataFrame schema (see ``schema.py``) carries the
    node/way/relation data model (SURVEY.md §1); operators are declarative
    DataFrame transformations so Catalyst handles pushdown/pruning/join
    planning.
  - The only Python-side hot path is the vectorized (Arrow-batched)
    point-in-polygon kernel in ``functions/geometry.py``, driven through
    ``mapInPandas``/``pandas_udf`` — never per-row Python.
  - Multi-pass streaming strategies of the reference become semi-joins
    over id DataFrames; relation nesting is closed on the driver, as the
    reference keeps it in RAM (``functions/idsets.py``).
"""

__version__ = "0.1.0"
