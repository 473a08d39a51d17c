"""Driver-side id sets: the in-RAM half of the ID engine.

The reference keeps every id set in RAM (IdSetDense) and streams its
input past them. getid -r, renumber, extract and tags-filter do the same
whenever Spark would broadcast their input (`broadcastable`): they
collect ids, refs and members to the driver, close their sets there
(`close_relations`) and send the result back to the executors as an IN
filter (`id_in`) or an Arrow-backed local relation (`ids_frame`).

Relation nesting stays on the driver for larger inputs too, as the
reference keeps it in RAM whatever the file size (RelationsMapStash):
the join paths collect only the relation-in-relation edges and the seed
rows they touch (`close_nested`); node and way marks stay joins.
"""

from __future__ import annotations

from typing import Callable, Hashable, TypeVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

T = TypeVar("T", bound=Hashable)

# Round cap of the relation closures. The reference runs them with no cap;
# a nesting depth this deep means a malformed input, so callers raise.
CLOSURE_ROUNDS = 50

# Cap on the relation-in-relation edges a join path closes on the driver.
# Their successor map, a dict of sets, took 174 MB and 4.2 s of driver
# Python per 1M random int64 edges, so 5M edges hold about 0.9 GB.
MAX_NESTED_EDGES = 5_000_000


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

    A closure still growing after `rounds` rounds means relations nested
    deeper than any real input, so it raises with each round's frontier
    size."""
    have, frontier = set(seed), set(seed)
    sizes: list[int] = []
    while frontier:
        if len(sizes) == rounds:
            raise ValueError(f"{who}: relations nested over {rounds} deep, frontier sizes {sizes}")
        frontier = step(frontier) - have
        sizes.append(len(frontier))
        have |= frontier
    return have


def edge_step(src, dst) -> Callable[[set[tuple]], set[tuple]]:
    """The close_relations step along the edges src[i] -> dst[i] (int64
    numpy arrays or pandas Series): items are (*keys, id) tuples, and
    each follows every edge out of its id with its keys kept."""
    succ: dict[int, set[int]] = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        succ.setdefault(a, set()).add(b)
    return lambda frontier: {(*k, n) for *k, r in frontier for n in succ.get(r, ())}


def close_nested(seed: DataFrame, edges: DataFrame, rounds: int, who: str) -> DataFrame:
    """`seed` ([*keys, "id"] rows) closed over the relation-in-relation
    `edges` (id, to) on the driver, for the join paths: one Arrow collect
    fetches the edges, a second the seed rows whose id is an edge's end,
    and the rows the closure adds come back as an Arrow local relation.
    The seed itself stays distributed, so a planet-sized id set never
    reaches the driver. A row the closure reaches is an edge's end, so it
    is in the seed only if it was collected: the added rows hold no seed
    row twice."""
    import numpy as np
    import pyarrow as pa

    e = edges.select("id", "to").toArrow()
    if e.num_rows > MAX_NESTED_EDGES:
        raise ValueError(f"{who}: {e.num_rows} relation-in-relation edges > MAX_NESTED_EDGES={MAX_NESTED_EDGES}")
    if not e.num_rows:
        return seed
    src, dst = (e[c].to_numpy() for c in ("id", "to"))
    spark = seed.sparkSession
    ends = spark.createDataFrame(pa.table({"id": np.unique(np.concatenate([src, dst]))}))
    touched = seed.join(ends, "id", "left_semi").toArrow()
    start = set(zip(*(touched[c].to_pylist() for c in seed.columns)))
    added = close_relations(start, edge_step(src, dst), rounds, who) - start
    if not added:
        return seed
    table = pa.table({c: pa.array(v, touched.schema.field(c).type) for c, v in zip(seed.columns, zip(*added))})
    return seed.unionByName(spark.createDataFrame(table))


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
