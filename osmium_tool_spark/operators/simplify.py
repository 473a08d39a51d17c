"""Polyline simplification (Douglas-Peucker) over the way table.

The reference assembles way linestrings for export
(command_export.cpp:619-631) and leaves generalization to downstream
GIS; at training-data scale the simplification IS the pipeline step —
zoom-dependent vector-tile generalization, trajectory compression
before sequence packing, map-matching preprocessing.

Semantics: classic recursive Douglas-Peucker with EXACT integer
geometry. Keep a vertex iff its distance to the current chord exceeds
``epsilon`` (fixed-point units, 1e7 = 1 degree); the split point is
the max-distance vertex, ties broken to the smallest index; a
degenerate chord (closed ring: endpoints equal) falls back to point
distance from the shared endpoint. All comparisons are integer:
|cross|^2 > eps^2 * |chord|^2 replaces the float distance, so the kept
set is bit-reproducible and has an exact DuckDB twin (recursive CTE,
HUGEINT squares — oracle_sql 'simplify').

Scale shape: the WAY is the parallelism unit (OSM caps ways at 2,000
nodes, so a row is bounded regardless of corpus size) — one
mapInPandas over the assembled coordinate arrays, no shuffle beyond
the locations_join assembly the caller already owns. The numpy kernel
vectorizes the per-chord scan; only the split bookkeeping is scalar.
Ways wider than ``MAX_SPAN`` fixed-point units fail LOUD: the int64
cross products are exactness-guaranteed only under the span cap
(5 degrees — continental chords need a projected variant).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SIMPLIFY_SCHEMA = "id long, pos int, x long, y long"
MAX_SPAN = 50_000_000  # 5 degrees: the int64 exactness bound


def simplify_polylines(
    lines: DataFrame,
    epsilon: int,
    id_col: str = "id",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """(id, xs, ys) arrays -> kept vertices (id, pos, x, y).

    Rows with fewer than 2 vertices are dropped; 2-vertex lines keep
    both endpoints. ``epsilon`` is strict: a vertex survives iff its
    chord distance EXCEEDS epsilon.
    """
    eps = int(epsilon)
    span = MAX_SPAN
    if eps < 0:
        raise ValueError("simplify_polylines: epsilon must be >= 0")
    cols = lines.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(xs_col).alias("xs"),
        F.col(ys_col).alias("ys"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as pd

        eps2 = eps * eps

        def dp_keep(xs, ys):
            n = len(xs)
            keep = [False] * n
            keep[0] = keep[n - 1] = True
            stack = [(0, n - 1)]
            while stack:
                i, j = stack.pop()
                if j <= i + 1:
                    continue
                ax, ay = int(xs[i]), int(ys[i])
                bx, by = int(xs[j]), int(ys[j])
                dx, dy = bx - ax, by - ay
                seg_x = xs[i + 1 : j]
                seg_y = ys[i + 1 : j]
                if dx == 0 and dy == 0:
                    # closed/degenerate chord: point distance to endpoint
                    c = (seg_x - ax) ** 2 + (seg_y - ay) ** 2
                    k = i + 1 + int(np.argmax(c))  # first max = smallest k
                    if int(c[k - i - 1]) > eps2:
                        keep[k] = True
                        stack.append((i, k))
                        stack.append((k, j))
                else:
                    c = np.abs(dx * (seg_y - ay) - dy * (seg_x - ax))
                    k = i + 1 + int(np.argmax(c))
                    cbest = int(c[k - i - 1])
                    if cbest * cbest > eps2 * (dx * dx + dy * dy):
                        keep[k] = True
                        stack.append((i, k))
                        stack.append((k, j))
            return keep

        for pdf in batches:
            out = {"id": [], "pos": [], "x": [], "y": []}
            for wid, xs, ys in zip(pdf["id"], pdf["xs"], pdf["ys"]):
                xs = np.asarray(xs, np.int64)
                ys = np.asarray(ys, np.int64)
                if len(xs) < 2:
                    continue
                if (
                    int(xs.max()) - int(xs.min()) > span
                    or int(ys.max()) - int(ys.min()) > span
                ):
                    raise ValueError(
                        f"simplify_polylines: way {wid} spans more than "
                        f"{span} fixed-point units — int64 cross products "
                        "would overflow; use a projected/smaller coordinate frame"
                    )
                for p, kept in enumerate(dp_keep(xs, ys)):
                    if kept:
                        out["id"].append(int(wid))
                        out["pos"].append(p)
                        out["x"].append(int(xs[p]))
                        out["y"].append(int(ys[p]))
            yield pd.DataFrame(out)

    return cols.mapInPandas(kernel, schema=SIMPLIFY_SCHEMA)
