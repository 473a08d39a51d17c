"""Douglas-Peucker simplification (operators/simplify.py), pinned
against an independent recursive reference implementation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.operators.simplify import simplify_polylines


def ref_dp(xs, ys, eps):
    """Independent recursive DP (same tie/degenerate conventions)."""
    n = len(xs)
    keep = {0, n - 1}

    def rec(i, j):
        if j <= i + 1:
            return
        ax, ay, bx, by = xs[i], ys[i], xs[j], ys[j]
        dx, dy = bx - ax, by - ay
        best, bestc = -1, -1
        for k in range(i + 1, j):
            if dx == 0 and dy == 0:
                c = (xs[k] - ax) ** 2 + (ys[k] - ay) ** 2
            else:
                c = abs(dx * (ys[k] - ay) - dy * (xs[k] - ax))
            if c > bestc:
                best, bestc = k, c
        over = (
            bestc > eps * eps
            if dx == 0 and dy == 0
            else bestc * bestc > eps * eps * (dx * dx + dy * dy)
        )
        if over:
            keep.add(best)
            rec(i, best)
            rec(best, j)

    rec(0, n - 1)
    return sorted(keep)


def run(spark, polys, eps, **kw):
    df = spark.createDataFrame(
        [(i, [int(x) for x, _ in p], [int(y) for _, y in p]) for i, p in enumerate(polys)],
        "id long, xs array<long>, ys array<long>",
    )
    out = {}
    for r in simplify_polylines(df, eps, **kw).collect():
        out.setdefault(r.id, []).append((r.pos, r.x, r.y))
    return {k: sorted(v) for k, v in out.items()}


def test_straight_line_collapses(spark):
    line = [(0, 0), (100, 100), (200, 200), (300, 300)]
    got = run(spark, [line], 0)
    assert got[0] == [(0, 0, 0), (3, 300, 300)]


def test_spike_survives(spark):
    line = [(0, 0), (100, 0), (200, 5000), (300, 0), (400, 0)]
    got = run(spark, [line], 1000)
    assert [p for p, _, _ in got[0]] == [0, 2, 4]
    got = run(spark, [line], 6000)
    assert [p for p, _, _ in got[0]] == [0, 4]


def test_ring_degenerate_chord(spark):
    ring = [(0, 0), (1000, 0), (1000, 1000), (0, 1000), (0, 0)]
    got = run(spark, [ring], 100)
    xs = [x for _, x in enumerate(ring)]
    want = ref_dp([p[0] for p in ring], [p[1] for p in ring], 100)
    assert [p for p, _, _ in got[0]] == want
    assert 0 in [p for p, _, _ in got[0]] and 4 in [p for p, _, _ in got[0]]


def test_random_parity_vs_reference(spark):
    rng = np.random.default_rng(5)
    polys = []
    for _ in range(40):
        n = int(rng.integers(2, 60))
        xs = np.cumsum(rng.integers(-9000, 9000, n))
        ys = np.cumsum(rng.integers(-9000, 9000, n))
        polys.append(list(zip(xs.tolist(), ys.tolist())))
    for eps in (0, 500, 5000, 50000):
        got = run(spark, polys, eps)
        for i, p in enumerate(polys):
            want = ref_dp([q[0] for q in p], [q[1] for q in p], eps)
            assert [k for k, _, _ in got[i]] == want, (i, eps)


def test_two_vertex_and_short_rows(spark):
    got = run(spark, [[(5, 5), (9, 9)], [(1, 1)]], 100)
    assert got == {0: [(0, 5, 5), (1, 9, 9)]}


def test_span_cap_fails_loud(spark):
    wide = [(0, 0), (60_000_000, 0), (120_000_000, 0)]
    with pytest.raises(Exception, match="spans more than"):
        run(spark, [wide], 100)
