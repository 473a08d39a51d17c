"""Canonical entity ordering (type, id, version) as sortable Columns.

Reference order contract (man/osmium-sort.md:16-28, command_sort.cpp):
objects sort by type (nodes, ways, relations), then id with NEGATIVE ids
first ordered by absolute value, then positive ids ascending, then version
ascending. ``id_sort_key`` encodes that as a single monotone bigint so
Spark's range partitioner and per-partition sort both use plain ASC order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# a negative id -i sorts as i - NEG_ID_BASE, below every positive id
NEG_ID_BASE = 1 << 62


def id_sort_key(id_col: Column) -> Column:
    """Monotone key: negative ids (by |id|) sort before positive ids.

    neg id -i  ->  |i| - 2^62   (ascending |id|)
    pos id  i  ->  i            (>= 0)
    """
    return F.when(id_col < 0, -id_col - F.lit(NEG_ID_BASE)).otherwise(id_col)


def id_sort_keys(ids):
    """id_sort_key over a numpy int64 array, for orderings built on the
    driver."""
    import numpy as np

    return np.where(ids < 0, -ids - NEG_ID_BASE, ids)


def canonical_sort(df: DataFrame, extra_first: list[str] | None = None) -> DataFrame:
    """Globally sort an entity DataFrame by the reference contract.

    Spark's orderBy = range partition + per-partition external sort; this is
    the distributed analog of the reference's 'multipass' strategy (spills
    instead of 3 re-reads). ``extra_first`` (e.g. ["extract_id"]) prefixes
    grouping columns so each group is contiguous and internally ordered.
    """
    keys = [F.col(c) for c in (extra_first or [])]
    keys += [F.col("type"), id_sort_key(F.col("id")), F.col("version")]
    return df.orderBy(*keys)
