"""Driver-side id sets: the in-RAM half of the ID engine.

The reference keeps every id set in RAM (IdSetDense) and streams its
input past them. getid -r, renumber, extract and tags-filter do the same
whenever Spark would broadcast what they collect (`broadcastable`) and
close their sets there (`close_relations`, over `edge_step` and
`list_items`). getid -r and renumber collect the whole input once and
return their result as an Arrow local relation in canonical order
(`canonical_order`, `sorted_frame`); extract and tags-filter collect the
(type, id, refs, members) projection and emit with one join.

Relation nesting stays on the driver for larger inputs too, as the
reference keeps it in RAM whatever the file size (RelationsMapStash):
the join paths collect only the relation-in-relation edges and the seed
rows they touch (`close_nested`); node and way marks stay joins.
"""

from __future__ import annotations

from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame

from .sortkeys import id_sort_keys

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


def canonical_order(table):
    """The permutation that puts the rows of an Arrow entity table in
    canonical (type, id_sort_key(id), version) order, a null version
    first, as canonical_sort orders them in Spark. The sort is stable."""
    import numpy as np
    import pyarrow.compute as pc

    version = table["version"]
    return np.lexsort(
        (
            pc.fill_null(version, 0).to_numpy(),
            pc.is_valid(version).to_numpy(),
            id_sort_keys(table["id"].to_numpy()),
            table["type"].to_numpy(),
        )
    )


def sorted_frame(entities: DataFrame, table) -> DataFrame:
    """`table`, an Arrow table of `entities` rows, as an Arrow local
    relation with the input's schema and in canonical order. An action on
    it launches no job, and no sort is left to run."""
    return entities.sparkSession.createDataFrame(table.take(canonical_order(table)), schema=entities.schema)


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
