"""Driver-side id sets: the in-RAM half of the ID engine.

The reference keeps every id set in RAM (IdSetDense) and streams its
input past them. getid -r, renumber, extract and tags-filter do the same
whenever Spark would broadcast their input (`broadcastable`): they
collect ids, refs and members to the driver, close their sets there
(`close_relations`) and send the result back to the executors as an IN
filter (`id_in`) or an Arrow-backed local relation (`ids_frame`).
"""

from __future__ import annotations

from typing import Callable, Hashable, TypeVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

T = TypeVar("T", bound=Hashable)


def broadcastable(df: DataFrame) -> bool:
    """Whether Spark would broadcast `df`: its plan's size estimate is
    within spark.sql.autoBroadcastJoinThreshold (negative disables
    broadcasts). This picks the ID engine's in-RAM path."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def id_in(sel: dict[int, set[int]]) -> Column:
    """(type, id) in a driver-side id set, as one filter that the scan can
    take as a pushed-down IN. Built from SQL text: Column.isin makes one
    JVM call per value, about 0.5 ms each."""
    conds = [
        f"(`type` = {t} AND `id` IN ({','.join(map(str, sorted(ids)))}))"
        for t, ids in sorted(sel.items())
        if ids
    ]
    return F.expr(" OR ".join(conds) or "false")


def ids_frame(spark, sel: dict[int, set[int]]) -> DataFrame:
    """A driver-side id set as a (type, id) frame: an Arrow-backed local
    relation, so a join reads the ids as a table rather than as SQL
    literals."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "type": pa.array([t for t, ids in sel.items() for _ in ids], pa.int32()),
                "id": pa.array([i for ids in sel.values() for i in ids], pa.int64()),
            }
        )
    )


def close_relations(seed: set[T], step: Callable[[set[T]], set[T]], rounds: int, who: str) -> set[T]:
    """Close `seed` under `step` on the driver, semi-naively: each round
    calls `step` on the items the previous round added (the seed first)
    and keeps what is new. The items are relations, or (extract_id,
    relation) pairs; `step` follows members down or parents up.

    Like functions.fixpoint on the join path, a closure still growing
    after `rounds` rounds means relations nested deeper than any real
    input, so it raises with each round's frontier size."""
    have, frontier = set(seed), set(seed)
    sizes: list[int] = []
    while frontier:
        if len(sizes) == rounds:
            raise ValueError(f"{who}: relations nested over {rounds} deep, frontier sizes {sizes}")
        frontier = step(frontier) - have
        sizes.append(len(frontier))
        have |= frontier
    return have


def list_items(lists) -> tuple:
    """(row index, value) numpy arrays of every element of an Arrow list
    column, rows in order and each list in order; null lists add
    nothing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(lists, pa.ChunkedArray):
        lists = lists.combine_chunks()
    return (
        pc.list_parent_indices(lists).to_numpy(zero_copy_only=False),
        pc.list_flatten(lists).to_numpy(zero_copy_only=False),
    )
