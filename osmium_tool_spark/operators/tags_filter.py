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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.fixpoint import CLOSURE_ROUNDS, fixpoint
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

    nodes = entities.filter(F.col("type") == NODE)
    ways = entities.filter(F.col("type") == WAY)
    rels = entities.filter(F.col("type") == RELATION)

    empty_ids = entities.select("id").limit(0)
    ref_node_ids = empty_ids
    ref_way_ids = empty_ids
    ref_rel_ids = empty_ids
    matching_rel_ids = empty_ids

    run_rel_pass = f.has_relation_or_area or bool(f.banks["r"]) or invert
    if run_rel_pass:
        rel_match = rels.filter(_xor(f.matches_relation(tags), invert)).persist()
        matching_rel_ids = rel_match.select("id")
        members = rel_match.select(F.explode("members").alias("m")).select(
            F.col("m.mtype").alias("mtype"), F.col("m.ref").alias("ref")
        )
        rel_edges = (
            rels.select("id", F.explode("members").alias("m"))
            .filter(F.col("m.mtype") == RELATION)
            .select("id", F.col("m.ref").alias("member_id"))
        )
        # descendants over parent->member edges (mark_rel_ids, command_tags_filter.cpp:247-254);
        # the seed ids all match, so counting them as referenced leaves emit unchanged
        ref_rel_ids, converged, sizes = fixpoint(
            matching_rel_ids,
            lambda frontier, _: rel_edges.join(frontier, "id").select(F.col("member_id").alias("id")),
            ["id"],
            CLOSURE_ROUNDS,
        )
        if not converged:
            raise ValueError(f"tags_filter: relations nested over {CLOSURE_ROUNDS} deep, frontier sizes {sizes}")
        ref_members = rels.join(ref_rel_ids, on="id", how="left_semi").select(
            F.explode("members").alias("m")
        ).select(F.col("m.mtype").alias("mtype"), F.col("m.ref").alias("ref"))
        ref_node_ids = ref_members.filter(F.col("mtype") == NODE).select(F.col("ref").alias("id")).distinct()
        ref_way_ids = ref_members.filter(F.col("mtype") == WAY).select(F.col("ref").alias("id")).distinct()

    matching_way_ids = empty_ids
    run_way_pass = f.has_way_or_area or run_rel_pass  # referenced ways may exist
    if run_way_pass:
        way_match = ways.filter(_xor(f.matches_way(tags, refs), invert))
        matching_way_ids = way_match.select("id")
        node_source = ways.join(
            matching_way_ids.unionByName(ref_way_ids).distinct(), on="id", how="left_semi"
        )
        way_nodes = node_source.select(F.explode("refs").alias("id")).distinct()
        ref_node_ids = ref_node_ids.unionByName(way_nodes).distinct()

    # ---- emit -------------------------------------------------------------
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

    return canonical_sort(out_nodes.unionByName(out_ways).unionByName(out_rels))
