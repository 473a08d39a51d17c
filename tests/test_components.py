"""Connected components (dedup.dup_clusters and network.network_components)
checked against a pure-Python union-find over random small graphs: chains,
stars, isolated ids, repeated edges and self edges."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmium_tool_spark.operators import dedup
from osmium_tool_spark.operators.dedup import dup_clusters
from osmium_tool_spark.operators.network import network_components
from tests.conftest import job_count

# each example runs a few large/small-star rounds of Spark jobs
PROPS = settings(max_examples=5, deadline=None)


def union_find(nodes, edges):
    """{node: min node of its component}."""
    parent = {v: v for v in nodes}

    def root(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: root(v) for v in nodes}


@st.composite
def pair_graphs(draw):
    """(edges, ids): chains and stars over ids 1..n, random pairs that may
    be self edges, some edges repeated reversed, and an id universe that
    reaches past n so some ids sit in no pair."""
    n = draw(st.integers(1, 12))
    node = st.integers(1, n)
    edges = []
    for chain in draw(st.lists(st.lists(node, min_size=2, max_size=6), max_size=3)):
        edges += list(zip(chain, chain[1:]))
    for hub, leaves in draw(st.lists(st.tuples(node, st.lists(node, max_size=4)), max_size=2)):
        edges += [(hub, leaf) for leaf in leaves]
    edges += draw(st.lists(st.tuples(node, node), max_size=4))
    if edges:
        edges += [(b, a) for a, b in draw(st.lists(st.sampled_from(edges), max_size=3))]
    ids = draw(st.one_of(st.none(), st.sets(st.integers(1, n + 3), max_size=n + 3)))
    return edges, ids


def labels(df):
    """{id: cluster_id} of dup_clusters' output; no id may appear twice."""
    rows = [(r.id, r.cluster_id) for r in df.collect()]
    got = dict(rows)
    assert len(got) == len(rows), "an id appears twice"
    return got


@PROPS
@given(g=pair_graphs())
def test_dup_clusters_matches_union_find(spark, g):
    edges, ids = g
    linked = [(a, b) for a, b in edges if a != b]
    nodes = {v for e in linked for v in e} | (ids or set())
    want = union_find(nodes, linked)

    pairs = spark.createDataFrame(edges, "a long, b long")
    universe = None if ids is None else spark.createDataFrame([(i,) for i in ids], "id long")
    assert labels(dup_clusters(pairs, ids=universe)) == want


@PROPS
@given(ways=st.lists(st.lists(st.integers(1, 10), min_size=1, max_size=6), max_size=5))
def test_network_components_matches_union_find(spark, ways):
    linked = [(a, b) for refs in ways for a, b in zip(refs, refs[1:]) if a != b]
    nodes = {v for refs in ways for v in refs}
    want = union_find(nodes, linked)
    sizes = {}
    for root in want.values():
        sizes[root] = sizes.get(root, 0) + 1

    df = spark.createDataFrame([(i, refs) for i, refs in enumerate(ways)], "id long, refs array<long>")
    rows = network_components(df).collect()
    assert {r.node_id: r.component_id for r in rows} == want
    assert len(rows) == len(want)
    assert all(r.component_size == sizes[r.component_id] for r in rows)


def test_dup_clusters_raises_when_rounds_run_out(spark, monkeypatch):
    """A 64-node chain needs more than two rounds; labelling the edge set
    a round cap cut short would give ids two rows and split the chain."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(64)], "a long, b long")
    for rounds in (1, 2):
        monkeypatch.setattr(dedup, "CC_ROUNDS", rounds)
        with pytest.raises(ValueError, match=f"not converged after {rounds} rounds"):
            dup_clusters(chain)
    monkeypatch.undo()
    assert set(labels(dup_clusters(chain)).values()) == {0}


def star(spark, n):
    return spark.createDataFrame([(0, i) for i in range(1, n)], "a long, b long")


def test_dup_clusters_min_rooted_star_takes_one_round(spark, monkeypatch):
    """The input's own fingerprint counts: a star already rooted at its
    minimum id is converged after the first round leaves it unchanged."""
    monkeypatch.setattr(dedup, "CC_ROUNDS", 1)
    assert labels(dup_clusters(star(spark, 5))) == {i: 0 for i in range(5)}


def test_dup_clusters_job_counts(spark):
    """One eager checkpoint per round, each observing its fingerprint in
    the same job, plus the input's checkpoint and the final collect: a
    5-node star runs 1 round and a 16-node chain 5 (AQE off)."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(15)], "a long, b long")
    assert job_count(spark, lambda: dup_clusters(star(spark, 5)).collect()) == 3
    assert job_count(spark, lambda: dup_clusters(chain).collect()) == 7
