"""Distributed dense indexing (the "zipWithIndex" recipe).

A `row_number() over (partition by <3 type values> order by key)` window
serializes the whole table through <=3 tasks — the classic
single-partition-window scale killer (flagged for renumber/tags_count in
round-1 VERDICT). The scalable equivalent:

  1. repartitionByRange(group, key) + sortWithinPartitions — partitions
     hold contiguous key ranges, each bounded by total/n rows, rows
     ordered within;
  2. stamp each row with monotonically_increasing_id(), which increments
     by 1 per row within a partition — evaluated after the sort, it IS
     the within-partition sequence number;
  3. localCheckpoint — freezes partitioning AND the stamped ids so the
     stats job and the assignment job read identical rows;
  4. aggregate (count, min_id) per (physical partition, group) — a tiny
     n_partitions x n_groups result collected to the driver;
  5. prefix-sum the counts per group on the driver; the final index is
     `stamp + (prefix_offset - min_stamp + 1)`, applied via a broadcast
     join + projection.

No window, no extra exchange: the only wide op is the one balanced range
shuffle. Result is bit-identical to the global window (given a total
order on the key within each group). This mirrors the reference's
renumber id_map (/root/reference/src/command_renumber.cpp:61-91), a
sequential in-RAM scan, distributed via the prefix-sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stamp_order(
    df: DataFrame, index_name: str = "__seq"
) -> tuple[DataFrame, int]:
    """Add a consecutive 1-based index in the frame's CURRENT global
    order (partition order + within-partition order) WITHOUT reordering
    it: steps 2-5 of dense_index with the range shuffle skipped. The
    result is localCheckpointed (stamps pinned across jobs) and keeps
    the input's partitioning, so part files written from it concatenate
    in index order. Returns (stamped_df, total_row_count)."""
    d = (
        df.withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    stats = d.groupBy("__pid").agg(
        F.count("*").alias("__cnt"), F.min("__mid").alias("__mn")
    ).collect()
    stats.sort(key=lambda r: r["__pid"])
    acc = 0
    rows = []
    for r in stats:
        rows.append((r["__pid"], acc - r["__mn"] + 1))
        acc += r["__cnt"]
    spark = df.sparkSession
    off = spark.createDataFrame(rows or [(0, 1)], "__pid int, __base long")
    out = (
        d.join(F.broadcast(off), on="__pid", how="left")
        .withColumn(index_name, (F.col("__mid") + F.col("__base")).cast("long"))
        .drop("__pid", "__mid", "__base")
    )
    return out, acc


def dense_index(
    df: DataFrame,
    order_cols: list[Column],
    part_col: str | None = None,
    index_name: str = "new_id",
) -> DataFrame:
    """Add a 1-based dense index column in `order_cols` order (per
    `part_col` group if given) without a global single-task window.

    `order_cols` may include sort directions (F.desc(...)); they must
    totally order rows within each group (ties would make the index
    nondeterministic — same contract as row_number).
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    range_cols = ([F.col(part_col)] if part_col else []) + list(order_cols)
    d = (
        df.repartitionByRange(n, *range_cols)
        .sortWithinPartitions(*range_cols)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)  # pin partitioning + stamps across jobs
    )

    group = ["__pid"] + ([part_col] if part_col else [])
    stats = d.groupBy(*group).agg(
        F.count("*").alias("__cnt"), F.min("__mid").alias("__mn")
    ).collect()
    key_of = (lambda r: r[part_col]) if part_col else (lambda r: None)
    stats.sort(key=lambda r: ((key_of(r) is None, key_of(r)), r["__pid"]))
    acc: dict = {}
    rows = []
    for r in stats:
        g = key_of(r)
        # index = __mid + base, where base folds the cross-partition prefix
        # offset and the partition-local min stamp into one constant
        rows.append((r["__pid"], g, acc.get(g, 0) - r["__mn"] + 1))
        acc[g] = acc.get(g, 0) + r["__cnt"]

    if part_col:
        from pyspark.sql import types as T

        off_schema = T.StructType(
            [
                T.StructField("__pid", T.IntegerType(), False),
                T.StructField(part_col, df.schema[part_col].dataType, True),
                T.StructField("__base", T.LongType(), False),
            ]
        )
        off = spark.createDataFrame(rows, off_schema)
        join_on = ["__pid", part_col]
    else:
        off = spark.createDataFrame(
            [(p, b) for p, _g, b in rows], "__pid int, __base long"
        )
        join_on = ["__pid"]

    return (
        d.join(F.broadcast(off), on=join_on)
        .withColumn(index_name, (F.col("__mid") + F.col("__base")).cast("long"))
        .drop("__pid", "__mid", "__base")
    )
