"""`extract` — spatial cut-outs (bbox / multipolygon) with the reference's
three strategies, as DataFrame semi-join pipelines.

Reference semantics (/root/reference/src/extract/):
  - simple (strategy_simple.cpp:50-119): 1 pass. Node in region -> emit+mark;
    way with >=1 marked node -> emit+mark; relation: the FIRST node/way
    member alone decides (the switch returns after the first n/w member
    regardless of match — strategy_simple.cpp:89-106). No completion.
  - complete_ways (strategy_complete_ways.cpp): 2 passes. Marks nodes in
    region; ways touching a marked node (+ ALL their refs as extra nodes);
    relations with ANY marked n/w member; then the recursive PARENT-relation
    closure over the member->parent index (:36-43,178-186). Emit by id-set
    membership. `relations=False` drops relation handling (:57-59).
  - smart (strategy_smart.cpp): complete_ways + member-completion of
    qualifying relations (type in `types`, default {multipolygon}, or
    >=pct% members already marked; optional tags filter) — all n/w members
    of qualifying relations are added, then nodes of all (marked+extra) ways
    (:205-264).

Spark shape: the multi-pass streaming of the reference collapses into one
cached scan + iterative semi-joins; multi-extract fan-out (<=500 regions,
command_extract.cpp:77) becomes a single pass that assigns an `extract_id`
column — the tile/cell assignment — after which the writer partitions by it.

Scale design: node->region assignment (assign_extracts) uses a cheap
cell/bbox Column pre-filter so the vectorized PIP kernel (Arrow batches,
numpy int64 ray-cast) only sees envelope candidates; dense regions are
handled by AQE skew-join. The mark sets after it take one of two paths,
chosen per call by Spark's own broadcast rule
(functions/idsets.broadcastable), as getid -r and renumber choose theirs:
  - in RAM, when the plan's size estimate for the input's (type, id, refs,
    members) projection is within spark.sql.autoBroadcastJoinThreshold.
    The reference keeps its mark sets in RAM too. One collect fetches the
    marked nodes, one Arrow collect the ways' refs and the relations'
    members; the driver marks ways, extra nodes and relations, closes the
    parents and completes smart's relations, then one join against an
    Arrow local relation (extract_id, type, id) emits (_marks_in_ram).
    Nothing is persisted.
  - distributed, for larger inputs or a threshold of -1: mark sets are
    (extract_id, id) DataFrames, every join an equi-join on id that AQE
    can convert to broadcast when a region is small, and the parent
    closure a fixpoint of joins.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.fixpoint import CLOSURE_ROUNDS, fixpoint
from ..functions.cells import MAX_RES
from ..functions.geometry import CellCover, Extract, box_cells, ship_by_value
from ..functions.idsets import broadcastable, close_relations, list_items
from ..functions.sortkeys import canonical_sort
from ..schema import NODE, RELATION, WAY

MAX_EXTRACTS = 500  # reference command_extract.cpp:77

# polygons up to this many segments run the even-odd test as pure Column
# math (whole-stage codegen, zero Python); larger ones use the y-band
# numpy kernel via mapInPandas. The crossing products fit int64 exactly:
# |px-x2| <= 3.6e9 (lon span) and |py-y2|,|ay| <= 1.8e9 (lat span), so
# products <= 6.5e18 < 2^63.
MAX_JVM_PIP_SEGMENTS = 64

# larger polygons get a CellCover at the finest res whose bbox holds at most
# this many cells: an int8 grid, <= 64 KiB shipped per polygon
MAX_COVER_CELLS = 65536


def _pip_column(lon, lat, segs_lit) -> "F.Column":
    """Exact int64 even-odd ray cast as a Column expression over a literal
    segment array (parity with the Arrow kernel / reference
    extract_polygon.cpp:103-156, including endpoint==point -> inside)."""
    def on_vertex(s):
        return ((s.x1 == lon) & (s.y1 == lat)) | ((s.x2 == lon) & (s.y2 == lat))

    def crosses(s):
        ay = s.y1 - s.y2
        straddle = (s.y2 > lat) != (s.y1 > lat)
        comp = (lon - s.x2) * ay < (s.x1 - s.x2) * (lat - s.y2)
        return straddle & ((ay > 0) == comp)

    toggles = F.size(F.filter(segs_lit, crosses))
    return F.exists(segs_lit, on_vertex) | (toggles % 2 == 1)


def _segs_literal(e: Extract):
    segs = e.index.segs
    # literals MUST be long: int32 literals make `x1 - x2` 32-bit, which
    # overflows for planet-spanning segments (lon deltas up to 3.6e9 > 2^31)
    return F.array(
        *[
            F.struct(
                F.lit(int(s[0])).cast("long").alias("x1"),
                F.lit(int(s[1])).cast("long").alias("y1"),
                F.lit(int(s[2])).cast("long").alias("x2"),
                F.lit(int(s[3])).cast("long").alias("y2"),
            )
            for s in segs
        ]
    )


def _union(dfs: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, dfs)


def assign_extracts(
    nodes: DataFrame,
    extracts: list[Extract],
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """(extract_id:int, id:long[, payload...]) rows of nodes contained in
    each region.

    Pure-Column path for bboxes (whole-stage codegen, zero Python); Arrow-
    batched numpy PIP for polygons, gated by an envelope pre-filter so only
    candidate rows cross into Python.

    `payload_cols` are carried through the assignment so downstream stages
    (tile rollups etc.) avoid re-joining the (huge) node table on id — at
    10^12 rows that re-join is a full shuffle of the fact table.
    """
    if len(extracts) > MAX_EXTRACTS:
        raise ValueError(f"Expected at most {MAX_EXTRACTS} extracts")
    payload_cols = payload_cols or []
    valid = nodes.filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())

    out: list[DataFrame] = []

    bboxes = [e for e in extracts if e.kind == "bbox"]
    small_polys = [
        e for e in extracts if e.kind == "polygon" and len(e.index.segs) <= MAX_JVM_PIP_SEGMENTS
    ]
    if bboxes or small_polys:
        lon, lat = F.col("lon").cast("long"), F.col("lat").cast("long")
        conds = [
            (
                (lon >= e.minx) & (lon <= e.maxx) & (lat >= e.miny) & (lat <= e.maxy),
                e.extract_id,
            )
            for e in bboxes
        ] + [
            (
                # envelope pre-test then codegen'd even-odd ray cast
                (lon >= e.minx) & (lon <= e.maxx) & (lat >= e.miny) & (lat <= e.maxy)
                & _pip_column(lon, lat, _segs_literal(e)),
                e.extract_id,
            )
            for e in small_polys
        ]
        hits = F.array_compact(
            F.array(*[F.when(cond, F.lit(eid)) for cond, eid in conds])
        )
        out.append(
            valid.select(F.col("id"), F.explode(hits).alias("extract_id"), *payload_cols)
            .select("extract_id", "id", *payload_cols)
        )

    polys = [
        e for e in extracts if e.kind == "polygon" and len(e.index.segs) > MAX_JVM_PIP_SEGMENTS
    ]
    if polys:
        # envelope pre-filter (Column math) before the Python stage
        env = reduce(
            lambda a, b: a | b,
            [
                (F.col("lon") >= e.minx) & (F.col("lon") <= e.maxx)
                & (F.col("lat") >= e.miny) & (F.col("lat") <= e.maxy)
                for e in polys
            ],
        )
        cand = valid.filter(env).select("id", "lon", "lat", *payload_cols)

        # the cell cover (S2/H3-style interior covering, CellCover
        # docstring) classifies grid cells driver-side ONCE so executors
        # ray-cast only the points in boundary cells
        ship_by_value()
        regions = []
        for e in polys:
            res = max(r for r in range(MAX_RES + 1) if box_cells(e.index.segs, r) <= MAX_COVER_CELLS)
            regions.append((e.extract_id, CellCover.build(e.index, res)))

        def pip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                xs = pdf["lon"].to_numpy("int64")
                ys = pdf["lat"].to_numpy("int64")
                frames = []
                for eid, region in regions:
                    mask = region.contains(xs, ys)
                    if mask.any():
                        cols = {"extract_id": eid, "id": pdf["id"].to_numpy()[mask]}
                        for c in payload_cols:
                            cols[c] = pdf[c].to_numpy()[mask]
                        frames.append(pd.DataFrame(cols))
                if frames:
                    yield pd.concat(frames)

        dtypes = dict(cand.dtypes)
        schema = f"extract_id int, id {dtypes['id']}"
        if payload_cols:
            schema += ", " + ", ".join(f"{c} {dtypes[c]}" for c in payload_cols)
        out.append(cand.mapInPandas(pip, schema=schema))

    if not out:
        raise ValueError("no extracts given")
    return _union(out)


def _explode_refs(ways: DataFrame) -> DataFrame:
    return ways.select(F.col("id").alias("way_id"), F.explode("refs").alias("ref"))


def _mark_ways(ways_refs: DataFrame, marked_nodes: DataFrame) -> DataFrame:
    """Ways with ANY ref in the marked node set -> (extract_id, way_id)."""
    return (
        ways_refs.join(
            marked_nodes.withColumnRenamed("id", "ref"),
            on="ref",
        )
        .select("extract_id", F.col("way_id").alias("id"))
        .distinct()
    )


def _member_edges(relations: DataFrame) -> DataFrame:
    """(rel_id, mtype, ref) exploded member table."""
    return relations.select(
        F.col("id").alias("rel_id"), F.explode("members").alias("m")
    ).select("rel_id", F.col("m.mtype").alias("mtype"), F.col("m.ref").alias("ref"))


def _mark_relations_any(members: DataFrame, marked_nodes: DataFrame, marked_ways: DataFrame) -> DataFrame:
    """Relations with ANY marked node/way member (complete_ways & smart rule,
    strategy_complete_ways.cpp:107-126)."""
    n = members.filter(F.col("mtype") == NODE).join(
        marked_nodes.withColumnRenamed("id", "ref"), on="ref"
    )
    w = members.filter(F.col("mtype") == WAY).join(
        marked_ways.withColumnRenamed("id", "ref"), on="ref"
    )
    return _union([n, w]).select("extract_id", F.col("rel_id").alias("id")).distinct()


def _mark_relations_first_member(
    relations: DataFrame, marked_nodes: DataFrame, marked_ways: DataFrame
) -> DataFrame:
    """Simple-strategy quirk: only the FIRST node-or-way member is tested;
    the switch returns afterwards regardless (strategy_simple.cpp:89-106)."""
    first_nw = relations.select(
        F.col("id").alias("rel_id"),
        F.get(F.filter(F.col("members"), lambda m: m.mtype != RELATION), 0).alias("m"),
    ).filter(F.col("m").isNotNull())
    n = (
        first_nw.filter(F.col("m.mtype") == NODE)
        .select("rel_id", F.col("m.ref").alias("ref"))
        .join(marked_nodes.withColumnRenamed("id", "ref"), on="ref")
    )
    w = (
        first_nw.filter(F.col("m.mtype") == WAY)
        .select("rel_id", F.col("m.ref").alias("ref"))
        .join(marked_ways.withColumnRenamed("id", "ref"), on="ref")
    )
    return _union([n, w]).select("extract_id", F.col("rel_id").alias("id")).distinct()


def _relation_parent_closure(members: DataFrame, marked_rels: DataFrame) -> DataFrame:
    """Fixpoint: add parents of marked relations, recursively
    (strategy_complete_ways.cpp:36-43,178-186). Relation nesting is rare,
    so the rel-in-rel edge set is probed once and the fixpoint skipped
    when it is empty."""
    edges = members.filter(F.col("mtype") == RELATION).select(F.col("ref").alias("id"), "rel_id").persist()
    if edges.isEmpty():
        edges.unpersist()
        return marked_rels
    closed, converged, sizes = fixpoint(
        marked_rels,
        lambda frontier, _: edges.join(frontier, "id").select("extract_id", F.col("rel_id").alias("id")),
        ["extract_id", "id"],
        CLOSURE_ROUNDS,
    )
    edges.unpersist()
    if not converged:
        raise ValueError(f"extract: relations nested over {CLOSURE_ROUNDS} deep, frontier sizes {sizes}")
    return closed


def _emit(entities: DataFrame, per_type_ids: dict[int, DataFrame]) -> DataFrame:
    """Join entity rows against per-type (extract_id, id) sets and restore
    the reference's output order contract (sorting=Type_then_ID)."""
    parts = []
    for etype, ids in per_type_ids.items():
        if ids is None:
            continue
        parts.append(entities.filter(F.col("type") == etype).join(ids, on="id").select("extract_id", *entities.columns))
    out = _union(parts)
    return canonical_sort(out, extra_first=["extract_id"])


def _qualifies(smart_types: list[str] | None, smart_tags: list[str] | None) -> Column:
    """smart's relation check: type in `smart_types` (default
    multipolygon; an empty list is "any", strategy_smart.cpp:72-80) and,
    with `smart_tags`, any of those tag expressions."""
    smart_types = ["multipolygon"] if smart_types is None else smart_types
    cond = F.lit(True)
    if smart_types:
        cond = cond & F.col("tags").getItem("type").isin(smart_types)
    if smart_tags:
        from ..functions.tagexpr import TagMatcher

        cond = cond & reduce(lambda a, b: a | b, [TagMatcher.parse(t).col(F.col("tags")) for t in smart_tags])
    return cond


def extract(
    entities: DataFrame,
    extracts: list[Extract],
    strategy: str = "complete_ways",
    relations: bool = True,
    smart_types: list[str] | None = None,
    smart_tags: list[str] | None = None,
    complete_partial_relations_pct: int | None = None,
    persist_input: bool = True,
) -> DataFrame:
    """Run the extract pipeline; returns entity rows + `extract_id`.

    On the distributed path `entities` is scanned by several stages
    (mirroring the reference's 1-3 passes over the input), so it is
    persisted here — the distributed analog of the reference re-reading
    its input file per pass. Set persist_input=False when the input is an
    already-materialized columnar table (re-caching a scan is waste).
    """
    if strategy == "complete_ways_with_history":
        # the history variant (strategy_complete_ways_with_history.cpp:
        # 30-188) marks ids when ANY version matches and emits EVERY
        # version of marked ids — which is exactly what the id-keyed
        # semi-joins below do when the input carries all versions: the
        # version dimension rides along for free (SURVEY.md §2.3)
        strategy = "complete_ways"
    if strategy not in ("simple", "complete_ways", "smart"):
        raise ValueError(f"unknown strategy {strategy!r}")
    qual = _qualifies(smart_types, smart_tags) if strategy == "smart" else None
    pct = complete_partial_relations_pct
    if not broadcastable(entities.select("type", "id", "refs", "members")):
        return _extract_distributed(entities, extracts, strategy, relations, qual, pct, persist_input)
    marks = _marks_in_ram(entities, extracts, strategy, relations, qual, pct)
    out = entities.join(marks, ["type", "id"]).select("extract_id", *entities.columns)
    return canonical_sort(out, extra_first=["extract_id"])


def _marks_in_ram(
    entities: DataFrame, extracts: list[Extract], strategy: str, relations: bool, qual: Column | None, pct: int | None
) -> DataFrame:
    """(extract_id, type, id) of every object to emit, computed on the
    driver from the collected node assignment and one Arrow collect of
    the ways' refs and the relations' members (and, for smart, whether
    each relation qualifies); shipped back as a local relation."""
    import pyarrow as pa
    import pyarrow.compute as pc

    marked_nodes = assign_extracts(entities.filter(F.col("type") == NODE), extracts).toArrow().to_pandas()
    marked_nodes = marked_nodes[["extract_id", "id"]].drop_duplicates()
    cols = ["type", "id", "refs", F.col("members.mtype").alias("mt"), F.col("members.ref").alias("mr")]
    if qual is not None:
        cols.append(qual.alias("qual"))
    t = entities.filter(F.col("type").isin(WAY, RELATION)).select(*cols).toArrow()
    ways = t.filter(pc.equal(t["type"], WAY))
    rels = t.filter(pc.equal(t["type"], RELATION))
    row, ref = list_items(ways["refs"])
    way_refs = pd.DataFrame({"way": ways["id"].to_numpy()[row], "id": ref})
    row, mtype = list_items(rels["mt"])
    rel_id = rels["id"].to_numpy()
    members = pd.DataFrame({"row": row, "rel": rel_id[row], "mtype": mtype, "ref": list_items(rels["mr"])[1]})

    def nodes_of(way_marks: pd.DataFrame) -> pd.DataFrame:
        return way_refs.merge(way_marks.rename(columns={"id": "way"}), on="way")[["extract_id", "id"]]

    marked_ways = (
        way_refs.merge(marked_nodes, on="id")[["extract_id", "way"]].rename(columns={"way": "id"}).drop_duplicates()
    )
    marks = pd.concat([marked_nodes.assign(mtype=NODE), marked_ways.assign(mtype=WAY)]).rename(columns={"id": "ref"})
    # simple: only the first node-or-way member decides (strategy_simple.cpp:89-106)
    tested = members[members["mtype"] != RELATION].drop_duplicates("row") if strategy == "simple" else members
    hits = tested.merge(marks, on=["mtype", "ref"])
    rel_marks = hits[["extract_id", "rel"]].drop_duplicates()

    node_marks, way_marks = marked_nodes, marked_ways
    if strategy == "complete_ways":
        node_marks = pd.concat([marked_nodes, nodes_of(marked_ways)])
    elif strategy == "smart":
        # member completion of qualifying relations (strategy_smart.cpp:205-264)
        qualified = rel_id[pc.fill_null(rels["qual"], False).to_numpy(zero_copy_only=False)]
        completing = [rel_marks[rel_marks["rel"].isin(qualified)]]
        if pct:
            wanted = hits.groupby(["extract_id", "rel"]).size().rename("wanted").reset_index()
            size = pc.list_value_length(rels["mt"]).to_numpy(zero_copy_only=False)
            w = wanted.merge(pd.DataFrame({"rel": rel_id, "size": size}), on="rel")
            completing.append(w[w["wanted"] * 100 >= w["size"] * pct][["extract_id", "rel"]])
        completed = pd.concat(completing).drop_duplicates().merge(members, on="rel")
        extra = completed[["extract_id", "ref"]].rename(columns={"ref": "id"})
        way_marks = pd.concat([marked_ways, extra[completed["mtype"] == WAY]]).drop_duplicates()
        # nodes of all (marked + extra) ways (strategy_smart.cpp:257-264)
        node_marks = pd.concat([marked_nodes, nodes_of(way_marks), extra[completed["mtype"] == NODE]])

    parts = [node_marks.assign(type=NODE), way_marks.assign(type=WAY)]
    if relations:
        if strategy != "simple":
            # parents of marked relations, recursively (strategy_complete_ways.cpp:36-43,178-186)
            parents: dict[int, set[int]] = {}
            nested = members[members["mtype"] == RELATION]
            for child, parent in zip(nested["ref"].tolist(), nested["rel"].tolist()):
                parents.setdefault(child, set()).add(parent)
            closed = close_relations(
                set(zip(rel_marks["extract_id"].tolist(), rel_marks["rel"].tolist())),
                lambda frontier: {(e, p) for e, r in frontier for p in parents.get(r, ())},
                CLOSURE_ROUNDS,
                "extract",
            )
            rel_marks = pd.DataFrame(sorted(closed), columns=["extract_id", "rel"], dtype="int64")
        parts.append(rel_marks.rename(columns={"rel": "id"}).assign(type=RELATION))
    out = pd.concat(parts).drop_duplicates()
    table = pa.table(
        {
            "extract_id": pa.array(out["extract_id"].to_numpy("int64"), pa.int32()),
            "type": pa.array(out["type"].to_numpy("int64"), pa.int32()),
            "id": pa.array(out["id"].to_numpy("int64"), pa.int64()),
        }
    )
    return entities.sparkSession.createDataFrame(table)


def _extract_distributed(
    entities: DataFrame,
    extracts: list[Extract],
    strategy: str,
    relations: bool,
    qual: Column | None,
    pct: int | None,
    persist_input: bool,
) -> DataFrame:
    """The mark sets as (extract_id, id) DataFrames, for inputs too large
    for the driver."""
    if persist_input:
        # skip for inputs that are already materialized columnar tables —
        # re-caching a parquet scan costs a full pass for little gain
        entities = entities.persist()
    nodes = entities.filter(F.col("type") == NODE)
    ways = entities.filter(F.col("type") == WAY)
    rels = entities.filter(F.col("type") == RELATION)

    marked_nodes = assign_extracts(nodes, extracts).persist()
    ways_refs = _explode_refs(ways).persist()
    marked_ways = _mark_ways(ways_refs, marked_nodes).persist()

    if strategy == "simple":
        rel_ids = _mark_relations_first_member(rels, marked_nodes, marked_ways) if relations else None
        return _emit(entities, {NODE: marked_nodes, WAY: marked_ways, RELATION: rel_ids})

    # complete_ways & smart: extra nodes = ALL refs of marked ways
    extra_nodes = (
        ways_refs.join(marked_ways.withColumnRenamed("id", "way_id"), on="way_id")
        .select("extract_id", F.col("ref").alias("id"))
        .distinct()
    )

    members = _member_edges(rels).persist() if relations else None
    rel_ids = None
    if relations:
        rel_ids = _mark_relations_any(members, marked_nodes, marked_ways)
        rel_ids = _relation_parent_closure(members, rel_ids)

    if strategy == "complete_ways":
        node_ids = marked_nodes.unionByName(extra_nodes).distinct()
        return _emit(entities, {NODE: node_ids, WAY: marked_ways, RELATION: rel_ids})

    # --- smart: member completion of qualifying relations ------------------
    qual_ids = rels.filter(qual).select("id")

    # relations with >=1 marked member AND passing type/tags checks complete
    marked_any = _mark_relations_any(members, marked_nodes, marked_ways)
    completing = marked_any.join(qual_ids, on="id", how="left_semi")

    if pct:
        sizes = rels.select(F.col("id"), F.size("members").alias("sz"))
        wanted_n = members.filter(F.col("mtype") == NODE).join(
            marked_nodes.withColumnRenamed("id", "ref"), on="ref"
        )
        wanted_w = members.filter(F.col("mtype") == WAY).join(
            marked_ways.withColumnRenamed("id", "ref"), on="ref"
        )
        wanted = (
            _union([wanted_n, wanted_w])
            .groupBy("extract_id", F.col("rel_id").alias("id"))
            .agg(F.count("*").alias("wanted"))
        )
        pct_rels = (
            wanted.join(sizes, on="id")
            .filter(F.col("wanted") * 100 >= F.col("sz") * pct)
            .select("extract_id", "id")
        )
        completing = completing.unionByName(pct_rels).distinct()

    comp_members = completing.join(
        members.withColumnRenamed("rel_id", "id"), on="id"
    ).select("extract_id", "mtype", "ref")
    extra_way_ids = (
        comp_members.filter(F.col("mtype") == WAY).select("extract_id", F.col("ref").alias("id")).distinct()
    )
    extra_node_member_ids = (
        comp_members.filter(F.col("mtype") == NODE).select("extract_id", F.col("ref").alias("id")).distinct()
    )

    all_ways = marked_ways.unionByName(extra_way_ids).distinct().persist()
    # pass2: nodes of ALL (marked + extra) ways (strategy_smart.cpp:257-264)
    extra_nodes_smart = (
        ways_refs.join(all_ways.withColumnRenamed("id", "way_id"), on="way_id")
        .select("extract_id", F.col("ref").alias("id"))
        .distinct()
    )
    node_ids = _union([marked_nodes, extra_nodes_smart, extra_node_member_ids]).distinct()
    return _emit(entities, {NODE: node_ids, WAY: all_ways, RELATION: rel_ids})
