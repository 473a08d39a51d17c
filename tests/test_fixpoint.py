"""The semi-naive fixpoint helper and the four operators built on it,
checked against pure-Python set / BFS references over random small
entity graphs (relations nested in relations, cycles, self-members and
dangling member refs included)."""

from collections import deque

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osmium_tool_spark.functions.fixpoint import fixpoint
from osmium_tool_spark.functions.geometry import Extract
from osmium_tool_spark.operators import extract as extract_mod
from osmium_tool_spark.operators import idops
from osmium_tool_spark.operators import tags_filter as tags_filter_mod
from osmium_tool_spark.operators.network import hop_distance
from osmium_tool_spark.schema import NODE, RELATION, WAY
from tests.fixtures import _df, _node, _rel, _way

# each example of the entity-graph properties costs 30-45 Spark jobs
PROPS = settings(max_examples=2, deadline=None)


@st.composite
def graphs(draw):
    """(nodes {id: (lon, lat)}, ways {id: refs}, rels {id: [(mtype, ref)]},
    tagged rel ids). Each id range has one id past its end, so members
    and refs may dangle."""
    n_nodes = draw(st.integers(1, 6))
    coord = st.integers(0, 3)
    nodes = {i: (draw(coord), draw(coord)) for i in range(1, n_nodes + 1)}
    node_ref = st.integers(1, n_nodes + 1)
    n_ways = draw(st.integers(0, 4))
    ways = {i: draw(st.lists(node_ref, min_size=1, max_size=4)) for i in range(1, n_ways + 1)}
    n_rels = draw(st.integers(1, 6))
    member = st.one_of(
        st.tuples(st.just(NODE), node_ref),
        st.tuples(st.just(WAY), st.integers(1, n_ways + 1)),
        st.tuples(st.just(RELATION), st.integers(1, n_rels + 1)),
    )
    rels = {i: draw(st.lists(member, max_size=4)) for i in range(1, n_rels + 1)}
    tagged = draw(st.sets(st.sampled_from(sorted(rels))))
    return nodes, ways, rels, tagged


# r1 -> r2 -> r3 -> r4 -> r2: a nesting chain that closes into a cycle
NESTED = (
    {1: (0, 0), 2: (3, 3)},
    {1: [1, 2]},
    {1: [(RELATION, 2)], 2: [(RELATION, 3)], 3: [(RELATION, 4), (WAY, 1)],
     4: [(RELATION, 2), (NODE, 2)], 5: [(RELATION, 1)]},
    {1},
)


def entities(spark, g):
    nodes, ways, rels, tagged = g
    rows = [_node(i, lon, lat) for i, (lon, lat) in nodes.items()]
    rows += [_way(i, refs) for i, refs in ways.items()]
    rows += [
        _rel(i, [(t, r, "") for t, r in mem], {"k": "a"} if i in tagged else {})
        for i, mem in rels.items()
    ]
    return _df(spark, rows)


def result_set(df, *cols):
    return {tuple(r) for r in df.select(*cols, "type", "id").collect()}


def rel_children(rels, r):
    return {m for t, m in rels.get(r, []) if t == RELATION}


def closure(start, succ):
    seen, todo = set(start), list(start)
    while todo:
        for nxt in succ(todo.pop()) - seen:
            seen.add(nxt)
            todo.append(nxt)
    return seen


def present(g, per_type):
    nodes, ways, rels, _ = g
    have = {NODE: nodes, WAY: ways, RELATION: rels}
    return {(t, i) for t, ids in per_type.items() for i in ids if i in have[t]}


def members_of(rels, rel_ids, mtype):
    return {m for r in rel_ids for t, m in rels.get(r, []) if t == mtype}


def check_getid_recursive(spark, g, picks):
    nodes, ways, rels, _ = g
    rel_ids = closure(picks, lambda r: rel_children(rels, r))
    way_ids = members_of(rels, rel_ids, WAY)
    node_ids = members_of(rels, rel_ids, NODE)
    node_ids |= {n for w in way_ids if w in ways for n in ways[w]}
    want = present(g, {NODE: node_ids, WAY: way_ids, RELATION: rel_ids})

    got = idops.getid(entities(spark, g), {RELATION: sorted(picks)}, recursive=True)
    assert result_set(got) == want


@PROPS
@given(g=graphs(), picks=st.sets(st.integers(1, 7), max_size=3))
@example(g=NESTED, picks={1})
def test_getid_recursive_matches_reference(spark, g, picks):
    check_getid_recursive(spark, g, picks)


# the fixture only sets a session conf, which every example shares
@settings(PROPS, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(g=graphs(), picks=st.sets(st.integers(1, 7), max_size=3))
@example(g=NESTED, picks={1})
def test_getid_recursive_matches_reference_distributed(spark, distributed_ids, g, picks):
    check_getid_recursive(spark, g, picks)


def check_tags_filter_relation_closure(spark, g):
    nodes, ways, rels, tagged = g
    rel_ids = closure(tagged & set(rels), lambda r: rel_children(rels, r))
    way_ids = members_of(rels, rel_ids, WAY)
    node_ids = members_of(rels, rel_ids, NODE)
    node_ids |= {n for w in way_ids if w in ways for n in ways[w]}
    want = present(g, {NODE: node_ids, WAY: way_ids, RELATION: rel_ids})

    got = tags_filter_mod.tags_filter(entities(spark, g), ["r/k=a"])
    assert result_set(got) == want


@PROPS
@given(g=graphs())
@example(g=NESTED)
def test_tags_filter_relation_closure_matches_reference(spark, g):
    check_tags_filter_relation_closure(spark, g)


@settings(PROPS, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(g=graphs())
@example(g=NESTED)
def test_tags_filter_relation_closure_matches_reference_distributed(spark, distributed_ids, g):
    check_tags_filter_relation_closure(spark, g)


BOXES = [Extract.bbox(0, 0, 0, 1.5, 1.5), Extract.bbox(1, 1, 1, 3, 3)]


def check_extract_complete_ways(spark, g):
    nodes, ways, rels, _ = g
    parents = {}
    for r, mem in rels.items():
        for t, m in mem:
            if t == RELATION:
                parents.setdefault(m, set()).add(r)
    want = set()
    for box in BOXES:
        lo_x, lo_y, hi_x, hi_y = (v / 1e7 for v in (box.minx, box.miny, box.maxx, box.maxy))
        inside = {i for i, (x, y) in nodes.items() if lo_x <= x <= hi_x and lo_y <= y <= hi_y}
        way_ids = {w for w, refs in ways.items() if inside & set(refs)}
        node_ids = inside | {n for w in way_ids for n in ways[w]}
        marked = {
            r for r, mem in rels.items()
            if any((t == NODE and m in inside) or (t == WAY and m in way_ids) for t, m in mem)
        }
        rel_ids = closure(marked, lambda r: parents.get(r, set()))
        ids = present(g, {NODE: node_ids, WAY: way_ids, RELATION: rel_ids})
        want |= {(box.extract_id, t, i) for t, i in ids}

    got = extract_mod.extract(entities(spark, g), BOXES, strategy="complete_ways")
    assert result_set(got, "extract_id") == want


@PROPS
@given(g=graphs())
@example(g=NESTED)
def test_extract_complete_ways_matches_reference(spark, g):
    check_extract_complete_ways(spark, g)


@settings(PROPS, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(g=graphs())
@example(g=NESTED)
def test_extract_complete_ways_matches_reference_distributed(spark, distributed_ids, g):
    check_extract_complete_ways(spark, g)


@settings(max_examples=5, deadline=None)
@given(
    chains=st.lists(st.lists(st.integers(1, 8), min_size=1, max_size=5), max_size=4),
    sources=st.sets(st.integers(1, 9), min_size=1, max_size=2),
    max_hops=st.integers(0, 4),
)
def test_hop_distance_matches_bfs(spark, chains, sources, max_hops):
    adj = {}
    for refs in chains:
        for u, v in zip(refs, refs[1:]):
            if u != v:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
    want = {s: 0 for s in sources}
    todo = deque(sources)
    while todo:
        u = todo.popleft()
        if want[u] == max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                todo.append(v)

    ways = spark.createDataFrame(
        [(i, refs) for i, refs in enumerate(chains)] or [(0, [])], "id long, refs array<long>"
    )
    src = spark.createDataFrame([(s,) for s in sorted(sources)], "node long")
    got = {r.node: r.hops for r in hop_distance(ways, src, max_hops=max_hops).collect()}
    assert got == want


def _chain(spark, n):
    """Seed {0} and a step following the edge chain 0 -> 1 -> ... -> n."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "parent_id long, member_id long")
    seed = spark.createDataFrame([(0,)], "id long")

    def step(frontier, _):
        return edges.join(frontier.withColumnRenamed("id", "parent_id"), "parent_id").select(
            F.col("member_id").alias("id")
        )

    return seed, step


def test_overrun_reports_not_converged(spark):
    seed, step = _chain(spark, 5)
    closed, converged, sizes = fixpoint(seed, step, ["id"], 3)
    assert not converged
    assert sizes == [1, 1, 1]
    assert sorted(r.id for r in closed.collect()) == [0, 1, 2, 3]


# r1 -> r2 -> r3 -> r4, tagged at the top and with a node at the bottom,
# so every closure caller needs 4 rounds
CHAIN = (
    {1: (1, 1)},
    {},
    {1: [(RELATION, 2)], 2: [(RELATION, 3)], 3: [(RELATION, 4)], 4: [(NODE, 1)]},
    {1},
)


CLOSURE_CALLERS = pytest.mark.parametrize(
    "module, run",
    [
        (idops, lambda ents: idops.getid(ents, {RELATION: [1]}, recursive=True)),
        (tags_filter_mod, lambda ents: tags_filter_mod.tags_filter(ents, ["r/k=a"])),
        (extract_mod, lambda ents: extract_mod.extract(ents, BOXES[:1])),
    ],
    ids=["getid", "tags_filter", "extract"],
)


@CLOSURE_CALLERS
def test_closure_callers_raise_at_round_cap(spark, monkeypatch, module, run):
    ents = entities(spark, CHAIN)
    monkeypatch.setattr(module, "CLOSURE_ROUNDS", 2)
    with pytest.raises(ValueError, match=r"relations nested over 2 deep, frontier sizes \[1, 1\]"):
        run(ents).collect()


@CLOSURE_CALLERS
def test_closure_callers_raise_at_round_cap_distributed(spark, distributed_ids, monkeypatch, module, run):
    test_closure_callers_raise_at_round_cap(spark, monkeypatch, module, run)


def test_one_job_per_frontier(spark):
    """Without AQE (which runs each shuffle stage as its own job) every
    eager checkpoint is exactly one job: the seed, then per round the
    frontier, plus the grown set when the frontier is non-empty. A separate
    emptiness probe would add one job per round."""
    sc = spark.sparkContext
    seed, step = _chain(spark, 3)
    conf = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        sc.setJobGroup("fixpoint-jobs", "fixpoint job count")
        _, converged, sizes = fixpoint(seed, step, ["id"], 10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert converged and sizes == [1, 1, 1, 0]
    assert len(sc.statusTracker().getJobIdsForGroup("fixpoint-jobs")) == 1 + 2 * 3 + 1
