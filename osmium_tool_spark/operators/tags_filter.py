"""`tags-filter` — predicate filter with reference-completion closure.

Reference: /root/reference/src/command_tags_filter.cpp. The reference's <=3
preparatory scans + 1 emit scan (:392) collapse into one cached DataFrame
and a handful of semi-joins; entity-type scan pruning (:171-189) becomes
Catalyst partition/filter pushdown on the `type` column.

Semantics (verified against test/tags-filter golden outputs):
  with reference completion (default, no -R):
    1. If relation/area filters exist OR invert: matching relations
       (matches XOR invert) mark their n/w members referenced; the rel-in-rel
       closure walks DOWNWARD (parent->member) from matching relations
       marking member relations referenced, recursively (:245-288).
    2. n/w members of referenced relations become referenced (:290-309).
    3. Matching ways (matches XOR invert) and referenced ways mark all their
       node refs referenced (:311-327).
    4. Emit: matching objects keep tags; referenced-only objects are
       emitted too (tags stripped when remove_tags / -t) (:346-366).
  with -R (omit_referenced): plain filter `matches XOR invert`.

Reference completion has two paths, chosen per call by Spark's own
broadcast rule (functions/idsets.broadcastable), as getid -r and renumber
choose theirs. When the plan's size estimate for the input's (type, id,
refs, members) projection is within spark.sql.autoBroadcastJoinThreshold,
the matching and referenced id sets live on the driver, as the
reference's do: one Arrow collect fetches (type, id, matches XOR invert,
refs, member types and refs) of the ways and relations the passes need,
the driver closes the sets, and one left join against an Arrow local
relation (type, id, __m, __r) emits (_marks_in_ram). Larger inputs, or a
threshold of -1, keep the sets as DataFrames, joined once per set and
type (_emit_distributed); only the relation closure runs on the driver
there, over the collected relation-in-relation edges
(idsets.close_nested). Neither path persists anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.idsets import CLOSURE_ROUNDS, broadcastable, close_nested, close_relations, edge_step, list_items
from ..functions.sortkeys import canonical_sort
from ..functions.tagexpr import CompiledFilter
from ..schema import NODE, RELATION, WAY


def _xor(col, invert: bool):
    return ~col if invert else col


def tags_filter(
    entities: DataFrame,
    expressions: list[str],
    invert: bool = False,
    omit_referenced: bool = False,
    remove_tags: bool = False,
) -> DataFrame:
    f = CompiledFilter(expressions)
    tags, refs = F.col("tags"), F.col("refs")

    if omit_referenced:
        out = entities.filter(_xor(f.matches_entity(F.col("type"), tags, refs), invert))
        return canonical_sort(out)

    run_rel_pass = f.has_relation_or_area or bool(f.banks["r"]) or invert
    run_way_pass = f.has_way_or_area or run_rel_pass  # referenced ways may exist
    if not broadcastable(entities.select("type", "id", "refs", "members")):
        return _emit_distributed(entities, f, invert, remove_tags, run_rel_pass, run_way_pass)

    marks = _marks_in_ram(entities, f, invert, run_rel_pass, run_way_pass)
    # nodes match inline; ways and relations through __m
    node_match = (F.col("type") == NODE) & _xor(f.matches_node(tags), invert)
    matching = F.coalesce(F.col("__m"), F.lit(False)) | node_match
    out = entities.join(marks, ["type", "id"], "left").filter(matching | F.coalesce(F.col("__r"), F.lit(False)))
    if remove_tags:
        out = out.withColumn("tags", F.when(matching, tags).otherwise(F.map_from_arrays(F.array(), F.array())))
    return canonical_sort(out.select(*entities.columns))


def _marks_in_ram(entities: DataFrame, f: CompiledFilter, invert: bool, rel_pass: bool, way_pass: bool) -> DataFrame:
    """(type, id, __m, __r) of every matching way and relation and every
    referenced object, computed on the driver from one Arrow collect and
    shipped back as a local relation."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    types = [t for t, run in ((WAY, way_pass), (RELATION, rel_pass)) if run]
    match = F.when(F.col("type") == WAY, f.matches_way(F.col("tags"), F.col("refs"))).otherwise(
        f.matches_relation(F.col("tags"))
    )
    t = (
        entities.filter(F.col("type").isin(types))
        .select(
            "type", "id", _xor(match, invert).alias("m"), "refs",
            F.col("members.mtype").alias("mt"), F.col("members.ref").alias("mr"),
        )
        .toArrow()
    )

    def part(ty):
        sub = t.filter(pc.equal(t["type"], ty))
        return sub, sub["id"].to_numpy(), pc.fill_null(sub["m"], False).to_numpy(zero_copy_only=False)

    rels, rel_id, rel_m = part(RELATION)
    row, mtype = list_items(rels["mt"])
    _, mref = list_items(rels["mr"])
    owner = rel_id[row]
    nested = mtype == RELATION
    # descendants over parent->member edges (mark_rel_ids, command_tags_filter.cpp:247-254);
    # the seed ids all match, so counting them as referenced leaves emit unchanged
    ref_rel = close_relations(
        {(r,) for r in rel_id[rel_m].tolist()}, edge_step(owner[nested], mref[nested]), CLOSURE_ROUNDS, "tags_filter"
    )
    ref_rel_ids = np.fromiter((r for (r,) in ref_rel), np.int64, len(ref_rel))
    in_ref = np.isin(owner, ref_rel_ids)
    ref_way = mref[in_ref & (mtype == WAY)]

    ways, way_id, way_m = part(WAY)
    row, node = list_items(ways["refs"])
    sources = way_m | np.isin(way_id, ref_way)
    ref_node = np.concatenate([mref[in_ref & (mtype == NODE)], node[sources[row]]])

    def marks(ty, matching, referenced):
        ids = np.unique(np.concatenate([matching, referenced]).astype(np.int64))
        return ty, ids, np.isin(ids, matching), np.isin(ids, referenced)

    parts = [
        marks(NODE, np.array([], np.int64), ref_node),
        marks(WAY, way_id[way_m], ref_way),
        marks(RELATION, rel_id[rel_m], ref_rel_ids),
    ]
    return entities.sparkSession.createDataFrame(
        pa.table(
            {
                "type": pa.array(np.concatenate([np.full(len(p[1]), p[0]) for p in parts]), pa.int32()),
                "id": np.concatenate([p[1] for p in parts]),
                "__m": np.concatenate([p[2] for p in parts]),
                "__r": np.concatenate([p[3] for p in parts]),
            }
        )
    )


def _emit_distributed(
    entities: DataFrame, f: CompiledFilter, invert: bool, remove_tags: bool, run_rel_pass: bool, run_way_pass: bool
) -> DataFrame:
    """Reference completion with the id sets as DataFrames, for inputs too
    large for the driver."""
    tags, refs = F.col("tags"), F.col("refs")
    nodes = entities.filter(F.col("type") == NODE)
    ways = entities.filter(F.col("type") == WAY)
    rels = entities.filter(F.col("type") == RELATION)

    empty_ids = entities.select("id").limit(0)
    ref_node_ids = empty_ids
    ref_way_ids = empty_ids
    ref_rel_ids = empty_ids
    matching_rel_ids = empty_ids

    if run_rel_pass:
        matching_rel_ids = rels.filter(_xor(f.matches_relation(tags), invert)).select("id")
        # descendants over parent->member edges (mark_rel_ids, command_tags_filter.cpp:247-254);
        # the seed ids all match, so counting them as referenced leaves emit unchanged
        ref_rel_ids = close_nested(
            matching_rel_ids,
            rels.select("id", F.explode("members").alias("m"))
            .filter(F.col("m.mtype") == RELATION)
            .select("id", F.col("m.ref").alias("to")),
            CLOSURE_ROUNDS,
            "tags_filter",
        )
        ref_members = rels.join(ref_rel_ids, on="id", how="left_semi").select(
            F.explode("members").alias("m")
        ).select(F.col("m.mtype").alias("mtype"), F.col("m.ref").alias("ref"))
        ref_node_ids = ref_members.filter(F.col("mtype") == NODE).select(F.col("ref").alias("id")).distinct()
        ref_way_ids = ref_members.filter(F.col("mtype") == WAY).select(F.col("ref").alias("id")).distinct()

    matching_way_ids = empty_ids
    if run_way_pass:
        way_match = ways.filter(_xor(f.matches_way(tags, refs), invert))
        matching_way_ids = way_match.select("id")
        node_source = ways.join(
            matching_way_ids.unionByName(ref_way_ids).distinct(), on="id", how="left_semi"
        )
        way_nodes = node_source.select(F.explode("refs").alias("id")).distinct()
        ref_node_ids = ref_node_ids.unionByName(way_nodes).distinct()

    def emit(df: DataFrame, matching_ids: DataFrame, referenced_ids: DataFrame, inline_match) -> DataFrame:
        is_matching = (
            df.join(matching_ids.withColumn("__m", F.lit(True)), on="id", how="left")
            if matching_ids is not None
            else df.withColumn("__m", F.lit(None))
        )
        with_ref = is_matching.join(
            referenced_ids.distinct().withColumn("__r", F.lit(True)), on="id", how="left"
        )
        cond = F.coalesce(F.col("__m"), F.lit(False)) | F.coalesce(F.col("__r"), F.lit(False))
        if inline_match is not None:
            cond = cond | inline_match
        out = with_ref.filter(cond)
        if remove_tags:
            keep = F.coalesce(F.col("__m"), F.lit(False))
            if inline_match is not None:
                keep = keep | inline_match
            out = out.withColumn("tags", F.when(keep, F.col("tags")).otherwise(F.map_from_arrays(F.array(), F.array())))
        return out.drop("__m", "__r")

    out_nodes = emit(nodes, None, ref_node_ids, _xor(f.matches_node(tags), invert))
    out_ways = emit(ways, matching_way_ids, ref_way_ids, None)
    out_rels = emit(rels, matching_rel_ids, ref_rel_ids, None)

    return canonical_sort(out_nodes.unionByName(out_ways).unionByName(out_rels).select(*entities.columns))
