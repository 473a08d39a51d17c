"""sort / merge / merge-changes / cat — ordering and union operators.

Reference: /root/reference/src/command_sort.cpp (type, then id with negative
ids first by absolute value, then version — man/osmium-sort.md:16-28),
command_merge.cpp (k-way sorted union, identical objects once, strict input
order validation :140-165), command_merge_changes.cpp (union change files +
optional latest-wins simplify), command_cat.cpp (concatenate + type filter +
attribute cleaning).

Spark shape: the reference's memory-bound simple/multipass sort strategies
both collapse into Spark's external sort (range partition + spill); the
priority-queue merge becomes union + dropDuplicates + the same sort. The
order contract is restored on write (sortWithinPartitions after range
partitioning by the canonical key).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sortkeys import canonical_sort, id_sort_key


CLEANABLE_ATTRS = ("version", "changeset", "ts", "uid", "user")


def sort_entities(df: DataFrame) -> DataFrame:
    """Global canonical sort. Duplicates are kept (command_sort.cpp)."""
    return canonical_sort(df)


def _order_violations(df: DataFrame) -> DataFrame:
    """Rows where (__k, version) regressed vs (__pk, __pv), classified."""
    return (
        df.filter(
            F.col("__pk").isNotNull()
            & (
                (F.col("__k") < F.col("__pk"))
                | ((F.col("__k") == F.col("__pk")) & (F.col("version") < F.col("__pv")))
                | ((F.col("__k") == F.col("__pk")) & (F.col("version") == F.col("__pv")))
            )
        )
        .withColumn(
            "reason",
            F.when(F.col("__k") < F.col("__pk"), F.lit("out-of-order"))
            .when(F.col("version") < F.col("__pv"), F.lit("out-of-order-version"))
            .otherwise(F.lit("duplicate-version")),
        )
        .select("seq", "type", "id", "version", "reason")
    )


def validate_order(df: DataFrame) -> DataFrame:
    """Order-violation assertion job (merge's CheckOrder analog,
    command_merge.cpp:140-165): returns violations of the canonical
    (type, id, version) order *within the physical order given by a
    `seq` column* — callers supply seq (e.g. input line number).
    Returns a DataFrame of (seq, type, id, version, reason).

    Scale shape: range-partition by seq, lag WITHIN partitions, then stitch
    the partition boundaries with a tiny (n_partitions-row) aggregate — a
    global `Window.orderBy(seq)` would funnel every row through one task.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    key = F.struct(F.col("type").alias("t"), id_sort_key(F.col("id")).alias("k"))
    slim = df.select("seq", "type", "id", "version").withColumn("__k", key)
    d = (
        slim.repartitionByRange(n, F.col("seq"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin partitioning across the two jobs
    )
    w = Window.partitionBy("__pid").orderBy("seq")
    inner = _order_violations(
        d.withColumn("__pk", F.lag("__k").over(w)).withColumn("__pv", F.lag("version").over(w))
    )
    # boundary rows: first row of each partition vs last row of the
    # previous NON-EMPTY partition (range partitions can be empty). The
    # window below runs over n_partitions rows — driver-scale by design.
    row = F.struct("seq", "type", "id", "version", "__k")
    agg = d.groupBy("__pid").agg(
        F.min_by(row, "seq").alias("__first"), F.max_by(row, "seq").alias("__last")
    )
    wb = Window.orderBy("__pid")
    boundary = (
        agg.withColumn("__prev", F.lag("__last").over(wb))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col("__first.seq").alias("seq"),
            F.col("__first.type").alias("type"),
            F.col("__first.id").alias("id"),
            F.col("__first.version").alias("version"),
            F.col("__first.__k").alias("__k"),
            F.col("__prev.__k").alias("__pk"),
            F.col("__prev.version").alias("__pv"),
        )
    )
    return inner.unionByName(_order_violations(boundary))


def merge(dfs: list[DataFrame]) -> DataFrame:
    """k-way merge of sorted inputs: identical (type,id,version) emitted once
    (command_merge.cpp:260-262), output canonically sorted."""
    out = reduce(DataFrame.unionByName, dfs)
    return canonical_sort(out.dropDuplicates(["type", "id", "version"]))


def merge_changes(dfs: list[DataFrame], simplify: bool = False) -> DataFrame:
    """Union change batches; --simplify keeps only the last version of each
    object, ties on (type,id,version) broken by LAST input winning
    (command_merge_changes.cpp:125-150). Inputs get source_seq = position."""
    tagged = [df.withColumn("source_seq", F.lit(i)) for i, df in enumerate(dfs)]
    out = reduce(DataFrame.unionByName, tagged)
    if simplify:
        w = Window.partitionBy("type", "id").orderBy(
            F.desc("version"), F.desc("source_seq")
        )
        out = out.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    return canonical_sort(out.drop("source_seq"))


def cat(
    dfs: list[DataFrame],
    object_types: list[int] | None = None,
    clean_attrs: list[str] | None = None,
) -> DataFrame:
    """Concatenate inputs with optional type filter + attribute cleaning
    (command_cat.cpp:156-234, option_clean.hpp:32-57). No re-sort: cat is a
    single streaming pass in the reference; we preserve input order per
    input via union order (Spark does not guarantee global order without a
    sort — callers wanting the contract call sort_entities)."""
    out = reduce(DataFrame.unionByName, dfs)
    if object_types is not None:
        out = out.filter(F.col("type").isin(object_types))
    for attr in clean_attrs or []:
        if attr not in CLEANABLE_ATTRS:
            raise ValueError(f"cannot clean attribute {attr!r}")
        if attr == "user":
            out = out.withColumn("user", F.lit(""))
        elif attr == "version":
            out = out.withColumn("version", F.lit(0))
        else:
            out = out.withColumn(attr, F.lit(0).cast(dict(changeset="long", ts="long", uid="int")[attr]))
    return out
