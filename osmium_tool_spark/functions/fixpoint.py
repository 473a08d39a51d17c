"""Semi-naive fixpoint: grow a set of rows until a round adds nothing —
the one loop behind getid -r (command_getid.cpp:235-333), tags-filter's
mark_rel_ids (command_tags_filter.cpp:247-254), complete-ways parent
marking (strategy_complete_ways.cpp:36-43,178-186) and hop BFS."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Round cap of the relation closures. The reference runs them with no cap;
# a nesting depth this deep means a malformed input, so callers raise.
CLOSURE_ROUNDS = 50


def fixpoint(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    keys: list[str],
    max_rounds: int,
) -> tuple[DataFrame, bool, list[int]]:
    """Close `seed` under `step`, semi-naively.

    Round r (from 1) calls `step(frontier, r)` on the rows the previous
    round added (the seed in round 1); its distinct rows whose `keys`
    columns are not in the accumulated set yet are the next frontier. An
    eager localCheckpoint materializes the frontier and counts it through
    an Observation in the same job; a non-empty round adds one job that
    checkpoints the grown set.

    Returns (closed, converged, frontier_sizes): the seed plus every row
    added, whether a round within `max_rounds` added nothing, and each
    round's frontier row count.
    """
    acc = frontier = seed.localCheckpoint(eager=True)
    sizes = []
    for r in range(1, max_rounds + 1):
        seen = Observation()
        new = (
            step(frontier, r)
            .join(acc.select(*keys), on=keys, how="left_anti")
            .distinct()
            .observe(seen, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        sizes.append(seen.get["n"])
        if sizes[-1] == 0:
            return acc, True, sizes
        acc = acc.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return acc, False, sizes
