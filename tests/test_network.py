"""network_components (operators/network.py): way graph -> connected
components (routing islands)."""

from pyspark.sql import functions as F

from osmium_tool_spark.operators.network import network_components, way_edges


def _ways(spark, rows):
    return spark.createDataFrame(rows, "id long, refs array<long>")


def test_way_edges_pairs_and_self_loops(spark):
    df = _ways(
        spark,
        [
            (1, [10, 11, 12]),
            (2, [20, 20, 21]),  # self-loop dropped, (20,21) kept
            (3, [30]),  # too short: no edges
            (4, []),
            (5, None),
        ],
    )
    got = sorted((r.u, r.v) for r in way_edges(df).collect())
    assert got == [(10, 11), (11, 12), (20, 21)]


def test_components_two_islands_and_singleton(spark):
    df = _ways(
        spark,
        [
            (1, [1, 2, 3]),
            (2, [3, 4]),  # joins component of 1..4
            (3, [10, 11]),  # island
            (4, [20]),  # singleton node 20
            (5, [11, 11]),  # self-loop only: adds no connectivity
        ],
    )
    out = {
        r.node_id: (r.component_id, r.component_size)
        for r in network_components(df).collect()
    }
    assert out == {
        1: (1, 4),
        2: (1, 4),
        3: (1, 4),
        4: (1, 4),
        10: (10, 2),
        11: (10, 2),
        20: (20, 1),
    }


def test_long_chain_converges(spark):
    # a 200-node path: label propagation would need 200 rounds, the
    # large/small-star loop needs ~log^2
    refs = list(range(1000, 1200))
    df = _ways(spark, [(i, refs[i : i + 2]) for i in range(199)])
    out = network_components(df).collect()
    assert len(out) == 200
    assert {r.component_id for r in out} == {1000}
    assert all(r.component_size == 200 for r in out)


def test_cycle(spark):
    df = _ways(spark, [(1, [5, 6, 7, 8, 5])])  # closed ring
    out = network_components(df).collect()
    assert {r.node_id for r in out} == {5, 6, 7, 8}
    assert all(r.component_id == 5 and r.component_size == 4 for r in out)


class TestHopDistance:
    def _ways(self, spark, chains):
        return spark.createDataFrame(
            [(i, refs) for i, refs in enumerate(chains)],
            "id long, refs array<long>",
        )

    def test_chain_and_branch(self, spark):
        from osmium_tool_spark.operators.network import hop_distance

        # 1-2-3-4-5 chain, plus branch 3-10-11; island 20-21
        ways = self._ways(spark, [[1, 2, 3, 4, 5], [3, 10, 11], [20, 21]])
        src = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.hops for r in hop_distance(ways, src).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: 3, 11: 4}

    def test_multi_source_min_and_cap(self, spark):
        from osmium_tool_spark.operators.network import hop_distance

        ways = self._ways(spark, [[1, 2, 3, 4, 5, 6, 7]])
        src = spark.createDataFrame([(1,), (7,)], "node long")
        got = {r.node: r.hops for r in hop_distance(ways, src).collect()}
        assert got == {1: 0, 7: 0, 2: 1, 6: 1, 3: 2, 5: 2, 4: 3}
        capped = {r.node: r.hops for r in hop_distance(ways, src, max_hops=1).collect()}
        assert capped == {1: 0, 7: 0, 2: 1, 6: 1}

    def test_unreachable_absent_and_validation(self, spark):
        from osmium_tool_spark.operators.network import hop_distance

        import pytest as _pt

        ways = self._ways(spark, [[1, 2], [20, 21]])
        src = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.hops for r in hop_distance(ways, src).collect()}
        assert 20 not in got and 21 not in got
        with _pt.raises(ValueError):
            hop_distance(ways, src, max_hops=-1)


class TestShortestDistance:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "u long, v long, w long")

    def test_weighted_vs_hops_divergence(self, spark):
        from osmium_tool_spark.operators.network import shortest_distance

        # 1->3 direct (w=10) vs 1->2->3 (w=2+3): weighted picks the detour
        e = self._edges(spark, [(1, 3, 10), (1, 2, 2), (2, 3, 3)])
        src = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.dist for r in shortest_distance(e, src).collect()}
        assert got == {1: 0, 2: 2, 3: 5}

    def test_multi_source_and_round_cap(self, spark):
        from osmium_tool_spark.operators.network import shortest_distance

        chain = self._edges(spark, [(i, i + 1, 1) for i in range(1, 7)])
        src = spark.createDataFrame([(1,), (7,)], "node long")
        got = {r.node: r.dist for r in shortest_distance(chain, src).collect()}
        assert got == {1: 0, 7: 0, 2: 1, 6: 1, 3: 2, 5: 2, 4: 3}
        capped = {
            r.node: r.dist
            for r in shortest_distance(chain, src, max_rounds=1).collect()
        }
        assert capped == {1: 0, 7: 0, 2: 1, 6: 1}

    def test_relaxation_improves_early_round_result(self, spark):
        from osmium_tool_spark.operators.network import shortest_distance

        # node 4 first reached expensively (1->4 w=100), later improved
        # via the long cheap chain 1->2->3->4 (3 edges, total 3)
        e = self._edges(spark, [(1, 4, 100), (1, 2, 1), (2, 3, 1), (3, 4, 1)])
        src = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.dist for r in shortest_distance(e, src).collect()}
        assert got[4] == 3

    def test_validation(self, spark):
        from osmium_tool_spark.operators.network import shortest_distance

        import pytest as _pt

        e = self._edges(spark, [(1, 2, 1)])
        src = spark.createDataFrame([(1,)], "node long")
        with _pt.raises(ValueError):
            shortest_distance(e, src, max_rounds=-1)


class TestWayPagerank:
    def _ways(self, spark, refs_lists):
        return spark.createDataFrame(
            [(i + 1, refs) for i, refs in enumerate(refs_lists)],
            "id long, refs array<long>")

    def test_star_graph_center_ranks_highest(self, spark):
        from osmium_tool_spark.operators.network import way_pagerank

        # star: center 1 connected to 2..5
        ways = self._ways(spark, [[2, 1, 3], [4, 1, 5]])
        ranks = {r.node_id: r.rank
                 for r in way_pagerank(ways, iters=5).collect()}
        assert len(ranks) == 5
        center = ranks[1]
        leaves = [ranks[i] for i in (2, 3, 4, 5)]
        assert all(center > v for v in leaves)
        assert len(set(leaves)) == 1  # symmetry: all leaves identical

    def test_regular_graph_uniform(self, spark):
        from osmium_tool_spark.operators.network import way_pagerank

        # cycle of 4: every node degree 2 -> ranks identical and
        # EXACTLY preserved by the integer update
        ways = self._ways(spark, [[1, 2, 3, 4, 1]])
        ranks = {r.node_id: r.rank
                 for r in way_pagerank(ways, iters=3).collect()}
        assert len(set(ranks.values())) == 1
        # closed form: r = base + (85 * r') // 100 converges from 1e12
        s = 10**12
        r = s
        for _ in range(3):
            r = (s * 15) // 100 + (85 * r) // 100
        assert ranks[1] == r

    def test_deterministic_across_partitionings(self, spark):
        from osmium_tool_spark.operators.network import way_pagerank

        refs = [[(i * 7) % 50, (i * 13) % 50, (i * 29) % 50]
                for i in range(2, 40)]
        ways = self._ways(spark, refs)
        a = sorted(map(tuple, way_pagerank(ways, iters=3).collect()))
        b = sorted(map(tuple,
                       way_pagerank(ways.repartition(7), iters=3).collect()))
        assert a == b

    def test_no_overflow_at_hub_with_huge_scale(self, spark):
        """r5 ADVICE pin: the damped multiply damping_num * sum(c) used
        to ride int64 and wrapped ~100x below the documented bound; it
        now accumulates in decimal(38,0). A hub with 120k leaves: the
        old path wrapped negative, the decimal path matches the exact
        python replay."""
        from osmium_tool_spark.operators.network import way_pagerank

        # hub 0 with n leaves at scale 1e12: 85 * sum(c) = 1.02e19 > 2^63
        n = 120_000
        ways = spark.range(1, n + 1).select(
            "id", F.array(F.lit(0).cast("long"), F.col("id")).alias("refs")
        )
        ranks = dict(way_pagerank(ways, iters=1).filter("node_id <= 1").collect())
        # exact integer replay: hub deg n, leaves deg 1
        s = 10**12
        base = (s * 15) // 100
        assert ranks[0] == base + (85 * (n * s)) // 100
        assert ranks[1] == base + (85 * (s // n)) // 100

    def test_bad_args(self, spark):
        import pytest as _pytest

        from osmium_tool_spark.operators.network import way_pagerank

        ways = self._ways(spark, [[1, 2]])
        with _pytest.raises(ValueError, match="iters"):
            way_pagerank(ways, iters=0)


class TestWayTriangles:
    def _ways(self, spark, refs_lists):
        return spark.createDataFrame(
            [(i + 1, refs) for i, refs in enumerate(refs_lists)],
            "id long, refs array<long>")

    def test_k4_plus_pendant(self, spark):
        from osmium_tool_spark.operators.network import way_triangles

        ways = self._ways(spark, [[1, 2, 3, 1], [1, 4, 2], [3, 4], [4, 5]])
        got = {r.node_id: r.n_triangles
               for r in way_triangles(ways).collect()}
        # K4: every node sits in C(3,2)=3 triangles; pendant 5 in none
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_triangle_free(self, spark):
        from osmium_tool_spark.operators.network import way_triangles

        ways = self._ways(spark, [[1, 2, 3, 4, 5]])  # path: no triangles
        assert way_triangles(ways).count() == 0

    def test_duplicate_edges_counted_once(self, spark):
        from osmium_tool_spark.operators.network import way_triangles

        # the same triangle drawn by two overlapping ways
        ways = self._ways(spark, [[1, 2, 3, 1], [2, 1, 3]])
        got = {r.node_id: r.n_triangles
               for r in way_triangles(ways).collect()}
        assert got == {1: 1, 2: 1, 3: 1}
