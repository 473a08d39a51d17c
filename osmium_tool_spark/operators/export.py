"""`export` — geometry assembly + GeoJSON/GeoJSONSeq/PG serialization.

Reference: /root/reference/src/command_export.cpp (two passes: relation
scan priming the multipolygon assembler, then the node/way/area pipeline),
src/export/export_handler.cpp:42-157 (what becomes a feature):

  - tagged nodes -> Point (untagged only with keep_untagged, :94-110)
  - ways that are open OR "linear" -> LineString (:112-134); a closed way
    is linear unless it has area tags; `area=yes` forces area,
    `area=no` forces linear (:42-68)
  - closed ways with area tags and type=multipolygon/boundary relations ->
    (Multi)Polygon (:136-157); rings assembled from member ways
  - GeoJSON coords: 7 decimals, trailing zeros trimmed
    (src/export/export_format_json.cpp:199-265)
  - PG text: tab-separated with escaping, tags as json/hstore
    (src/export/export_format_pg.cpp:48-130)

Spark shape: the location index (id->lon/lat) becomes a posexplode join of
way refs against the node table + collect back in order — one shuffle keyed
on node id (broadcastable when the node side is small); multipolygon ring
stitching is a grouped Arrow UDF (applyInPandas per relation — relations
are tiny relative to the fact table, and each group is one polygon's
member rings). All serialization is Column string math (codegen).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import COORD_SCALE, NODE, RELATION, WAY

def _matches_any_tag(tags: Column, matchers: list[str]) -> Column:
    from functools import reduce

    from ..functions.tagexpr import TagMatcher

    conds = [TagMatcher.parse(m).col(tags) for m in matchers]
    return reduce(lambda a, b: a | b, conds) if conds else F.lit(False)


def _ruleset_col(tags: Column, rule, other_rule) -> Column:
    """One side of the linear_tags/area_tags ruleset pair
    (command_export.cpp parse_tags_ruleset + export_handler.cpp
    check_conditions:42-58), golden-verified against the full
    test/export/config-*.json matrix:

      True or []   -> 'any': any TAGGED object matches
      False        -> 'none': nothing matches
      list[expr]   -> match any of the tag expressions
      None (unset) -> 'other': match_none_of(other side's filter)
                      (export_handler.cpp:53-55); both-unset promotes
                      BOTH sides to 'any' (command_export.cpp:222-225)
    """
    has_tags = F.size(F.map_keys(tags)) > 0
    if rule is None:
        if other_rule is None:
            return has_tags  # both-unset -> promoted to both-'any'
        if isinstance(other_rule, (list, tuple)) and len(other_rule) > 0:
            return ~_matches_any_tag(tags, list(other_rule))
        if other_rule is False:
            # none-of(a filter matching nothing) -> everything matches
            return F.lit(True)
        # other side is 'any' (default-true filter): none of the tags may
        # match a match-everything filter -> true only for untagged objects
        return ~has_tags
    if rule is True or (isinstance(rule, (list, tuple)) and len(rule) == 0):
        return has_tags
    if rule is False:
        return F.lit(False)
    return _matches_any_tag(tags, list(rule))


def way_rules(
    tags: Column, refs: Column, linear_tags=None, area_tags=None,
    keep_untagged: bool = False,
) -> tuple[Column, Column]:
    """(emit_linestring, emit_area) for a way (export_handler.cpp:112-157):
    open ways are always linear; an explicit area=no/yes tag overrides
    both rulesets; untagged ways are linear (only) when keep_untagged."""
    closed = is_closed(refs)
    area_yes = tags.getItem("area").eqNullSafe("yes")
    area_no = tags.getItem("area").eqNullSafe("no")
    untagged = F.size(F.map_keys(tags)) == 0
    lin = (
        F.when(area_no, F.lit(True))
        .when(area_yes, F.lit(False))
        .otherwise(_ruleset_col(tags, linear_tags, area_tags))
    )
    ar = (
        F.when(area_no, F.lit(False))
        .when(area_yes, F.lit(True))
        .otherwise(_ruleset_col(tags, area_tags, linear_tags))
    )
    emit_line = (~closed) | lin | (untagged & F.lit(keep_untagged))
    emit_area = closed & ar & ~untagged
    return emit_line, emit_area


def coord_str(fixed: Column) -> Column:
    """Fixed-point int -> decimal-degree string for GeoJSON: 7 decimals,
    trailing zeros trimmed but AT LEAST ONE fractional digit kept —
    byte parity with export_format_json.cpp:201-211 ('2.0', not '2';
    the trim loop stops when the char before the zero is the dot)."""
    s = F.format_string("%.7f", fixed.cast("double") / COORD_SCALE)
    return F.regexp_replace(s, r"(\.\d+?)0+$", "$1")


def coord_str_compact(fixed: Column) -> Column:
    """Fixed-point int -> degree string for WKT: trailing zeros AND a bare
    trailing dot trimmed ('1', not '1.0') — parity with the reference's
    WKT factory output (test/export/way-all.txt 'LINESTRING(1 1,...)')."""
    s = F.format_string("%.7f", fixed.cast("double") / COORD_SCALE)
    return F.regexp_replace(s, r"\.?0+$", "")


def is_closed(refs: Column) -> Column:
    return (F.size(refs) >= 4) & (refs.getItem(0) == F.element_at(refs, -1))


def locations_join(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """ways + ordered coords array<struct<lon,lat>> via the location index
    join (NodeLocationsForWays analog, command_export.cpp:619-631).

    posexplode keeps ref order; the join is the engine's id->location map.
    Ways referencing missing nodes keep NULL entries (callers decide the
    error policy, mirroring --show-errors)."""
    locs = nodes.select(
        F.col("id").alias("__nid"), F.col("lon").alias("__lon"), F.col("lat").alias("__lat")
    )
    ex = ways.select("id", "version", F.posexplode("refs").alias("pos", "__nid"))
    joined = ex.join(locs, on="__nid", how="left")
    coords = joined.groupBy("id", "version").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos", F.struct("__lon", "__lat").alias("c")))
            ),
            lambda s: s.c,
        ).alias("coords")
    )
    return ways.join(coords, on=["id", "version"], how="left")


def way_length_m(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Geodesic polyline length of each way: (id, n_nodes, length_m).

    The measure half of the export geometry assembly (the reference
    assembles way linestrings the same way, command_export.cpp:619-631,
    but leaves length to downstream GIS); at training-data scale the
    length IS the feature — road/track km per tile, trajectory length
    distributions, way-size sampling weights.

    Per-segment great-circle distance (similarity.haversine_m, IUGG
    radius) quantized to mm (round 3) and folded SEQUENTIALLY in ref
    order — a deterministic left fold, not a groupBy sum, so the result
    is bit-stable across partitionings and engines (float addition is
    order-sensitive; a shuffle-order sum would not replay). Ways with
    any unresolved ref yield NULL length (the fold propagates NULL —
    callers decide the error policy, mirroring export --show-errors);
    ways with fewer than two resolved coords are dropped.

    Scale shape: locations_join is the one corpus-sized exchange pair
    (posexplode -> ref equi-join -> way-keyed re-agg); the fold itself
    is a codegen'd higher-order function over the per-way array — zero
    additional shuffle, no UDF, arrays bounded by the 2000-node way cap.
    """
    from .similarity import haversine_m

    joined = locations_join(ways, nodes)
    c = F.col("coords")

    def seg(i: Column) -> Column:
        p, q = F.element_at(c, i), F.element_at(c, i + F.lit(1))
        return F.round(
            haversine_m(p["__lon"], p["__lat"], q["__lon"], q["__lat"]), 3
        )

    return (
        joined.filter(F.size("coords") >= 2)
        .select(
            "id",
            F.size("coords").cast("long").alias("n_nodes"),
            F.round(
                F.aggregate(
                    F.sequence(F.lit(1), F.size("coords") - 1),
                    F.lit(0.0),
                    lambda acc, i: acc + seg(i),
                ),
                3,
            ).alias("length_m"),
        )
    )


def _stitch_rings_impl():
    """Ring-stitching kernel, returned as a self-contained closure so the
    grouped UDF ships it by value: executors do not have this package on
    sys.path, so a kernel imported from it by name would fail there."""

    def stitch(segments):
        # simplified osmium-area-assembler: endpoint matching, no
        # self-intersection repair
        segs = [list(s) for s in segments if len(s) >= 2]
        rings = []
        while segs:
            ring = segs.pop(0)
            progress = True
            while ring[0] != ring[-1] and progress:
                progress = False
                for i, s in enumerate(segs):
                    if s[0] == ring[-1]:
                        ring.extend(s[1:]); segs.pop(i); progress = True; break
                    if s[-1] == ring[-1]:
                        ring.extend(reversed(s[:-1])); segs.pop(i); progress = True; break
                    if s[-1] == ring[0]:
                        ring[0:0] = s[:-1]; segs.pop(i); progress = True; break
                    if s[0] == ring[0]:
                        ring[0:0] = list(reversed(s[1:])); segs.pop(i); progress = True; break
            if ring[0] == ring[-1] and len(ring) >= 4:
                rings.append(ring)
        return rings

    return stitch


_stitch_rings = _stitch_rings_impl()


def assemble_multipolygons(relations: DataFrame, ways_with_coords: DataFrame) -> DataFrame:
    """type=multipolygon/boundary relations -> assembled rings.

    Returns (id, tags, rings: array<array<struct<lon,lat>>>) with outer
    rings CCW-first ordering not enforced (even-odd parity downstream).
    Grouped Arrow UDF per relation — each group is one relation's member
    way geometries (relations are ~1e-3 of the entity count; the heavy
    side is the member->way join, an equi-join on way id)."""
    mp = relations.filter(
        F.col("tags").getItem("type").isin("multipolygon", "boundary")
    ).select(
        F.col("id").alias("rel_id"),
        F.col("tags"),
        # member ORDER matters: the assembler stitches starting from the
        # first member way, and the output ring keeps that way's first
        # node as ring start (golden output-mp.geojson) — the join below
        # would otherwise scramble it
        F.posexplode("members").alias("mpos", "m"),
    ).filter(F.col("m.mtype") == WAY).select(
        "rel_id", "tags", "mpos", F.col("m.ref").alias("way_id")
    )
    wc = ways_with_coords.select(F.col("id").alias("way_id"), F.col("coords"))
    joined = mp.join(wc, on="way_id", how="left")

    stitch = _stitch_rings_impl()

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # ring classification mirrors the osmium area assembler's outcome:
        # a ring contained in an odd number of other rings is a HOLE,
        # assigned to its smallest containing outer; outers wind CCW,
        # inners CW (geometry_util.cpp:22-34 orientation convention)
        def area2(r):
            return sum(
                r[i][0] * r[i + 1][1] - r[i + 1][0] * r[i][1]
                for i in range(len(r) - 1)
            )

        def contains_pt(ring, px, py):
            cnt = 0
            for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                if (y2 > py) != (y1 > py):
                    ay = y1 - y2
                    if (ay > 0) == ((px - x2) * ay < (x1 - x2) * (py - y2)):
                        cnt += 1
            return cnt % 2 == 1

        segs = []
        for coords in pdf.sort_values("mpos")["coords"]:
            if coords is None:
                continue
            seg = [
                (int(c["__lon"]), int(c["__lat"]))
                for c in coords
                if c is not None and c["__lon"] is not None
            ]
            if len(seg) >= 2:
                segs.append(seg)
        rings = stitch(segs)
        if not rings:
            return pd.DataFrame(
                {"id": pd.Series(dtype="int64"), "tags": pd.Series(dtype="object"),
                 "polys": pd.Series(dtype="object")}
            )

        depth = []
        for i, r in enumerate(rings):
            d = sum(
                1 for j, other in enumerate(rings)
                if j != i and contains_pt(other, r[0][0], r[0][1])
            )
            depth.append(d)
        outers = [i for i, d in enumerate(depth) if d % 2 == 0]
        polys: dict[int, list] = {}
        for i in outers:
            ring = rings[i]
            if area2(ring) < 0:
                ring = ring[::-1]  # outer CCW
            polys[i] = [ring]
        for i, d in enumerate(depth):
            if d % 2 == 0:
                continue
            # smallest containing outer by |area|
            cands = [
                j for j in outers if contains_pt(rings[j], rings[i][0][0], rings[i][0][1])
            ]
            if not cands:
                continue
            j = min(cands, key=lambda j_: abs(area2(rings[j_])))
            hole = rings[i]
            if area2(hole) > 0:
                hole = hole[::-1]  # inner CW
            polys[j].append(hole)

        out = [
            [[{"lon": p[0], "lat": p[1]} for p in ring] for ring in rings_of_poly]
            for rings_of_poly in polys.values()
        ]
        return pd.DataFrame(
            {"id": [key[0]], "tags": [pdf["tags"].iloc[0]], "polys": [out]}
        )

    schema = (
        "id long, tags map<string,string>, "
        "polys array<array<array<struct<lon:long,lat:long>>>>"
    )
    return joined.groupBy("rel_id").applyInPandas(assemble, schema=schema)


def features(
    entities: DataFrame,
    keep_untagged: bool = False,
    linear_tags=None,
    area_tags=None,
    geometry_format: str = "geojson",
) -> DataFrame:
    """Feature DataFrame: (ftype: point|linestring|polygon|multipolygon,
    type, id, tags, geometry string).

    `linear_tags`/`area_tags` are the reference's rulesets (see
    _ruleset_col / way_rules): a CLOSED tagged way can legitimately emit
    BOTH a linestring and an area — the reference default does exactly
    that (config-*.json golden matrix, way-all.txt).

    `geometry_format`: "geojson" (JSON geometry objects) or "wkt"
    (POINT/LINESTRING/POLYGON/MULTIPOLYGON — what the reference's `text`
    export format emits via its WKT factory, export_format_text.cpp).
    Both share the 7-decimal trimmed coordinate formatting."""
    if geometry_format not in ("geojson", "wkt"):
        raise ValueError(f"unknown geometry format {geometry_format!r}")
    wkt = geometry_format == "wkt"
    nodes = entities.filter(F.col("type") == NODE)
    ways = entities.filter(F.col("type") == WAY)
    rels = entities.filter(F.col("type") == RELATION)

    pts = nodes if keep_untagged else nodes.filter(F.size(F.map_keys("tags")) > 0)
    if wkt:
        point_geom = F.concat(
            F.lit("POINT("), coord_str_compact(F.col("lon")), F.lit(" "),
            coord_str_compact(F.col("lat")), F.lit(")"),
        )
    else:
        point_geom = F.concat(
            F.lit('{"type":"Point","coordinates":['),
            coord_str(F.col("lon")), F.lit(","), coord_str(F.col("lat")),
            F.lit("]}"),
        )
    points = pts.select(
        F.lit("point").alias("ftype"), "type", "id", "tags", point_geom.alias("geometry")
    )

    # ONE location join feeds both the line/area features and the
    # multipolygon assembly — persisted so the two consumers share a single
    # posexplode+shuffle pass over the (huge) way table instead of two
    wc_all = locations_join(ways, nodes).persist()
    # drop ways with unresolvable refs — a NULL coordinate would silently
    # shorten the ring (the reference counts these as errors and skips the
    # feature, export_handler.cpp error handling)
    complete = F.forall(F.col("coords"), lambda c: c["__lon"].isNotNull())
    wc = wc_all.filter((F.size("coords") >= 2) & complete)

    def seq_of(coords_col):
        if wkt:
            return F.concat_ws(
                ",",
                F.transform(
                    coords_col,
                    lambda c: F.concat(
                        coord_str_compact(c["__lon"]), F.lit(" "), coord_str_compact(c["__lat"])
                    ),
                ),
            )
        return F.concat_ws(
            ",",
            F.transform(
                coords_col,
                lambda c: F.concat(
                    F.lit("["), coord_str(c["__lon"]), F.lit(","), coord_str(c["__lat"]), F.lit("]")
                ),
            ),
        )

    line_geom = (
        F.concat(F.lit("LINESTRING("), seq_of(F.col("coords")), F.lit(")"))
        if wkt
        else F.concat(
            F.lit('{"type":"LineString","coordinates":['), seq_of(F.col("coords")), F.lit("]}")
        )
    )
    # a closed way rendered as an area becomes a single-ring MULTIPOLYGON
    # with the ring normalized CCW keeping its start vertex — exactly what
    # the reference's area assembler emits for way-areas (way-all.txt,
    # output-mp.geojson). Shoelace sign decides the flip; F.reverse of a
    # closed ring preserves first==last.
    shoelace = F.aggregate(
        F.zip_with(
            F.slice(F.col("coords"), 1, F.size("coords") - 1),
            F.slice(F.col("coords"), 2, F.size("coords") - 1),
            lambda a, b: a["__lon"].cast("double") * b["__lat"].cast("double")
            - b["__lon"].cast("double") * a["__lat"].cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    oriented = F.when(shoelace < 0, F.reverse(F.col("coords"))).otherwise(F.col("coords"))
    wpoly_geom = (
        F.concat(F.lit("MULTIPOLYGON((("), seq_of(oriented), F.lit(")))"))
        if wkt
        else F.concat(
            F.lit('{"type":"MultiPolygon","coordinates":[[['), seq_of(oriented), F.lit("]]]}")
        )
    )
    # untagged features are skipped unless keep_untagged — the rule applies
    # to ALL feature classes, not just nodes (export_handler add_tags:
    # a feature with no tags produces no output)
    if not keep_untagged:
        wc = wc.filter(F.size(F.map_keys("tags")) > 0)
    emit_line, emit_area = way_rules(
        F.col("tags"), F.col("refs"), linear_tags, area_tags, keep_untagged
    )
    lines = wc.filter(emit_line).select(
        F.lit("linestring").alias("ftype"), "type", "id", "tags",
        line_geom.alias("geometry"),
    )
    way_polys = wc.filter(emit_area).select(
        F.lit("polygon").alias("ftype"), "type", "id", "tags",
        wpoly_geom.alias("geometry"),
    )

    mp = assemble_multipolygons(rels, wc_all)

    open_r, close_r = ("(", ")") if wkt else ("[", "]")
    pair_sep = " " if wkt else ","

    def ring_txt(ring):
        inner = F.concat_ws(
            ",",
            F.transform(
                ring,
                lambda c: (
                    F.concat(coord_str_compact(c.lon), F.lit(pair_sep), coord_str_compact(c.lat))
                    if wkt
                    else F.concat(
                        F.lit("["), coord_str(c.lon), F.lit(","), coord_str(c.lat), F.lit("]")
                    )
                ),
            ),
        )
        return F.concat(F.lit(open_r), inner, F.lit(close_r))

    polys_txt = F.concat_ws(
        ",",
        F.transform(
            F.col("polys"),
            lambda poly: F.concat(
                F.lit(open_r), F.concat_ws(",", F.transform(poly, ring_txt)), F.lit(close_r)
            ),
        ),
    )
    mp_geom = (
        F.concat(F.lit("MULTIPOLYGON("), polys_txt, F.lit(")"))
        if wkt
        else F.concat(F.lit('{"type":"MultiPolygon","coordinates":['), polys_txt, F.lit("]}"))
    )
    # the assembler strips the type=multipolygon/boundary selector tag from
    # area properties (golden output.geojson: {"landuse":"forest"} only)
    mp_tags = F.map_filter(F.col("tags"), lambda k, _v: k != "type")
    mpolys = mp.select(
        F.lit("multipolygon").alias("ftype"),
        F.lit(RELATION).alias("type"),
        "id",
        mp_tags.alias("tags"),
        mp_geom.alias("geometry"),
    )
    if not keep_untagged:
        mpolys = mpolys.filter(F.size(F.map_keys("tags")) > 0)

    return points.unionByName(lines).unionByName(way_polys).unionByName(mpolys)


def filter_tags(
    feats: DataFrame,
    include_tags: list[str] | None = None,
    exclude_tags: list[str] | None = None,
) -> DataFrame:
    """Export-config tag projection (command_export.cpp:201-230):
    include_tags keeps ONLY listed keys (`prefix*` wildcards allowed);
    exclude_tags drops listed keys; the two are mutually exclusive in the
    reference — include wins here if both given."""

    def key_pred(patterns: list[str]):
        def pred(k, _v):
            c = None
            for p in patterns:
                m = k.startswith(p[:-1]) if p.endswith("*") else (k == F.lit(p))
                c = m if c is None else (c | m)
            return c if c is not None else F.lit(False)

        return pred

    if include_tags:
        return feats.withColumn("tags", F.map_filter("tags", key_pred(include_tags)))
    if exclude_tags:
        drop = key_pred(exclude_tags)
        return feats.withColumn(
            "tags", F.map_filter("tags", lambda k, v: ~drop(k, v))
        )
    return feats


def with_attributes(
    feats: DataFrame, entities: DataFrame, attrs: list[str] | None = None
) -> DataFrame:
    """Fold object attributes into the tag map with '@' prefixes
    (--attributes, command_export.cpp; keys @id,@type,@version,@changeset,
    @timestamp,@uid,@user)."""
    attrs = attrs or ["id", "type", "version", "changeset", "timestamp", "uid", "user"]
    # latest version wins deterministically on history/multi-version input
    meta = (
        entities.groupBy("type", "id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("version").alias("__v"), F.col("changeset").alias("__c"),
                    F.col("ts").alias("__t"), F.col("uid").alias("__u"),
                    F.col("user").alias("__n"),
                ),
                F.col("version"),
            ).alias("__m")
        )
        .select("type", "id", "__m.*")
    )
    j = feats.join(meta, on=["type", "id"], how="left")
    pairs = []
    mapping = {
        "id": F.col("id").cast("string"),
        "type": F.when(F.col("type") == NODE, "node").when(F.col("type") == WAY, "way").otherwise("relation"),
        "version": F.col("__v").cast("string"),
        "changeset": F.col("__c").cast("string"),
        "timestamp": F.col("__t").cast("string"),
        "uid": F.col("__u").cast("string"),
        "user": F.col("__n"),
    }
    for a in attrs:
        pairs += [F.lit("@" + a), mapping[a]]
    attr_map = F.map_filter(F.create_map(*pairs), lambda _k, v: v.isNotNull())
    return j.withColumn("tags", F.map_concat(attr_map, F.col("tags"))).drop(
        "__v", "__c", "__t", "__u", "__n"
    )


ATTR_ORDER = ("type", "id", "version", "changeset", "uid", "user", "timestamp", "way_nodes")


def attributes_props_json(
    feats: DataFrame, entities: DataFrame, attrs: list[str]
) -> DataFrame:
    """Build a `props` JSON-string column with object attributes as '@'
    keys holding JSON NUMBERS (and @way_nodes as a number array) followed
    by the tags — byte parity with the reference's -a output
    (test/export/output-attr.geojson: {"@id":10,...}, not {"@id":"10"}).
    A map<string,string> + to_json cannot express unquoted numerics, so
    the JSON assembles via Column string math in the reference's FIXED
    attribute order (independent of the CLI order). `concat_ws` skips
    NULL fragments, which drops inapplicable parts (way_nodes on nodes,
    empty tag sets) for free."""
    wanted = set(attrs)
    unknown = wanted - set(ATTR_ORDER)
    if unknown:
        raise ValueError(f"unknown attributes: {sorted(unknown)}")
    # latest version wins deterministically on history/multi-version input
    meta = (
        entities.groupBy("type", "id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("version").alias("__v"), F.col("changeset").alias("__c"),
                    F.col("ts").alias("__t"), F.col("uid").alias("__u"),
                    F.col("user").alias("__n"), F.col("refs").alias("__r"),
                ),
                F.col("version"),
            ).alias("__m")
        )
        .select("type", "id", "__m.*")
    )
    j = feats.join(meta, on=["type", "id"], how="left")

    def jstr(key: str, val: Column) -> Column:
        # JSON string escaping via to_json of a one-entry map, braces cut
        one = F.to_json(F.create_map(F.lit(key), val))
        return F.substring(one, 2, F.length(one) - 2)

    tname = (
        F.when(F.col("type") == NODE, "node")
        .when(F.col("type") == WAY, "way")
        .otherwise("relation")
    )
    frags = {
        "type": F.concat(F.lit('"@type":"'), tname, F.lit('"')),
        "id": F.concat(F.lit('"@id":'), F.col("id").cast("string")),
        "version": F.concat(F.lit('"@version":'), F.col("__v").cast("string")),
        "changeset": F.concat(F.lit('"@changeset":'), F.col("__c").cast("string")),
        "uid": F.concat(F.lit('"@uid":'), F.col("__u").cast("string")),
        "user": jstr("@user", F.col("__n")),
        # epoch SECONDS (export_format_json.cpp:144-148); ts is micros
        "timestamp": F.concat(
            F.lit('"@timestamp":'), (F.col("__t") / 1_000_000).cast("long").cast("string")
        ),
        "way_nodes": F.when(
            (F.col("type") == WAY) & F.col("__r").isNotNull(),
            F.concat(
                F.lit('"@way_nodes":['),
                F.concat_ws(",", F.transform(F.col("__r"), lambda r: r.cast("string"))),
                F.lit("]"),
            ),
        ),
    }
    tags_json = F.to_json(F.col("tags"))
    tags_inner = F.when(
        F.size(F.map_keys("tags")) > 0,
        F.substring(tags_json, 2, F.length(tags_json) - 2),
    )
    parts = [frags[a] for a in ATTR_ORDER if a in wanted] + [tags_inner]
    props = F.concat(F.lit("{"), F.concat_ws(",", *parts), F.lit("}"))
    return j.withColumn("props", props).drop("__v", "__c", "__t", "__u", "__n", "__r")


def to_geojsonseq(
    feats: DataFrame,
    with_id: bool = True,
    unique_id: str | None = None,
    props_col: str | None = None,
    record_separator: bool = False,
) -> DataFrame:
    """One GeoJSON Feature per row (geojsonseq format,
    export_format_json.cpp). ``record_separator`` prepends the RFC 7464
    RS byte (0x1E) to every record — the REFERENCE'S DEFAULT for
    geojsonseq (its goldens without `-x print_record_separator=false`
    all carry it); the library default stays RS-free framing.
    `props_col` overrides the default tags-map properties with a
    prebuilt JSON-string column (attributes_props_json).

    `unique_id` mirrors the reference's -u option: None (default — no id
    in the reference; here controlled by `with_id` emitting the numeric
    object id), "type_id" ('"id":"n14"'), or "counter" (1-based over the
    canonical (type, id) output order, assigned via the distributed
    zipWithIndex — no single-task window)."""
    props = F.col(props_col) if props_col else F.to_json(F.col("tags"))
    if unique_id == "type_id":
        # areas use the osmium area-id convention: 2*way_id for way-areas,
        # 2*rel_id+1 for relation-areas, type char 'a' (output-mp.geojson
        # ids a185/a183/a181 = relations 92/91/90)
        tchar = (
            F.when(F.col("type") == NODE, "n").when(F.col("type") == WAY, "w").otherwise("r")
        )
        is_area = F.col("ftype").isin("polygon", "multipolygon")
        area_id = F.when(
            F.col("ftype") == "polygon", F.col("id") * 2
        ).otherwise(F.col("id") * 2 + 1)
        idtxt = F.when(
            is_area, F.concat(F.lit("a"), area_id.cast("string"))
        ).otherwise(F.concat(tchar, F.col("id").cast("string")))
        idpart = F.concat(F.lit('"id":"'), idtxt, F.lit('",'))
    elif unique_id == "counter":
        from ..functions.zipindex import dense_index

        # ftype rank makes the order total: a closed way can emit BOTH a
        # linestring and a polygon feature under the same (type, id)
        frank = (
            F.when(F.col("ftype") == "point", 0)
            .when(F.col("ftype") == "linestring", 1)
            .when(F.col("ftype") == "polygon", 2)
            .otherwise(3)
        )
        feats = dense_index(
            feats, [F.asc("type"), F.asc("id"), frank.asc()], index_name="__cnt"
        )
        idpart = F.concat(F.lit('"id":'), F.col("__cnt").cast("string"), F.lit(","))
    elif unique_id is not None:
        raise ValueError(f"unknown unique_id mode {unique_id!r}")
    elif with_id:
        idpart = F.concat(F.lit('"id":'), F.col("id").cast("string"), F.lit(","))
    else:
        idpart = F.lit("")
    rs = F.lit("\x1e") if record_separator else F.lit("")
    return feats.select(
        F.concat(
            rs, F.lit('{"type":"Feature",'), idpart,
            F.lit('"geometry":'), F.col("geometry"),
            F.lit(',"properties":'), props, F.lit("}"),
        ).alias("feature")
    )


def export_errors(entities: DataFrame) -> DataFrame:
    """Error records the reference counts (and -E stops on): ways
    referencing missing nodes, ways with fewer than two resolvable
    points, and multipolygon/boundary relations with missing member ways
    (which the assembler cannot complete). Returns (type, id, reason) —
    three anti-/semi-join jobs over the same scan, no Python."""
    nodes = entities.filter(F.col("type") == NODE).select("id").distinct()
    ways = entities.filter(F.col("type") == WAY)
    rels = entities.filter(F.col("type") == RELATION)

    refs = ways.select(F.col("id"), F.explode("refs").alias("ref"))
    missing_ref = (
        refs.join(nodes.withColumnRenamed("id", "ref"), on="ref", how="left_anti")
        .select("id")
        .distinct()
        .select(F.lit(WAY).alias("type"), "id", F.lit("missing_node").alias("reason"))
    )
    short_ways = ways.filter(F.size(F.coalesce("refs", F.array())) < 2).select(
        F.lit(WAY).alias("type"), "id", F.lit("way_too_short").alias("reason")
    )
    mp_members = (
        rels.filter(F.col("tags").getItem("type").isin("multipolygon", "boundary"))
        .select(F.col("id"), F.explode("members").alias("m"))
        .filter(F.col("m.mtype") == WAY)
        .select("id", F.col("m.ref").alias("way_id"))
    )
    incomplete_rels = (
        mp_members.join(
            ways.select(F.col("id").alias("way_id")).distinct(), on="way_id", how="left_anti"
        )
        .select("id")
        .distinct()
        .select(
            F.lit(RELATION).alias("type"), "id",
            F.lit("incomplete_relation").alias("reason"),
        )
    )
    return missing_ref.unionByName(short_ways).unionByName(incomplete_rels)


def filter_geometry_types(feats: DataFrame, types: list[str]) -> DataFrame:
    """--geometry-types selection (command_export.cpp:396-415): keep only
    the listed feature geometry kinds; 'polygon' and 'multipolygon' are
    the same switch in the reference (both enable the polygon output)."""
    allowed: set[str] = set()
    for t in types:
        if t == "point":
            allowed.add("point")
        elif t == "linestring":
            allowed.add("linestring")
        elif t in ("polygon", "multipolygon"):
            allowed.update(("polygon", "multipolygon"))
        else:
            raise ValueError(f"Unknown geometry type in --geometry-types option: {t}.")
    if not allowed:
        raise ValueError("No geometry types in --geometry-types option.")
    return feats.filter(F.col("ftype").isin(sorted(allowed)))


def to_text(feats: DataFrame, keep_untagged: bool = False) -> DataFrame:
    """`text` export format (src/export/export_format_text.cpp:128-160):
    one feature per line, WKT geometry + space + 'k=v,k=v' tag list; a
    feature with no tags (and no requested attributes) is SKIPPED unless
    keep_untagged. Build the input with features(geometry_format='wkt')."""
    out = feats if keep_untagged else feats.filter(F.size(F.map_keys("tags")) > 0)
    tags_txt = F.concat_ws(
        ",",
        F.transform(
            F.map_entries("tags"), lambda e: F.concat(e.key, F.lit("="), e.value)
        ),
    )
    return out.select(F.concat(F.col("geometry"), F.lit(" "), tags_txt).alias("row"))


def to_geojson_features(feats: DataFrame) -> DataFrame:
    """The per-feature rows of a plain-GeoJSON FeatureCollection (same
    Feature objects as geojsonseq — the two formats differ only in
    framing, export_format_json.cpp)."""
    return to_geojsonseq(feats)


def write_geojson(
    feats: DataFrame,
    path: str,
    with_id: bool = True,
    props_col: str | None = None,
    unique_id: str | None = None,
) -> None:
    """Plain GeoJSON — the reference's DEFAULT export format
    (command_export.cpp:527-545): ONE FeatureCollection document.

    A single JSON document is an inherently serial byte stream, so the
    features are produced distributed (sorted part files) and stitched on
    the driver with O(1) memory (line-streamed, comma-framed) — the same
    shape as the reference's single-writer output stage."""
    import glob
    import shutil

    tmp = path + ".parts"
    to_geojsonseq(
        feats, with_id=with_id, props_col=props_col, unique_id=unique_id
    ).write.mode("overwrite").text(tmp)
    with open(path, "w") as out:
        out.write('{"type":"FeatureCollection","features":[\n')
        first = True
        for part in sorted(glob.glob(f"{tmp}/part-*")):
            with open(part) as f:
                for line in f:
                    line = line.rstrip("\n")
                    if not line:
                        continue
                    if not first:
                        out.write(",\n")
                    out.write(line)
                    first = False
        out.write("\n]}\n")
    shutil.rmtree(tmp, ignore_errors=True)


def _ewkb_impl():
    """GeoJSON-geometry-string -> EWKB hex (SRID 4326, little-endian),
    self-contained closure for the Arrow stage. Byte layout per the
    reference's pg output (test/export/output.pg): every polygon element
    carries its own byte-order/type/SRID header."""
    import json as _json
    import struct

    SRID = struct.pack("<I", 4326)

    def pts(coords):
        return struct.pack("<I", len(coords)) + b"".join(
            struct.pack("<dd", x, y) for x, y in coords
        )

    def encode(geom_str: str) -> str:
        g = _json.loads(geom_str)
        t, c = g["type"], g["coordinates"]
        if t == "Point":
            raw = b"\x01" + struct.pack("<I", 0x20000001) + SRID + struct.pack("<dd", *c)
        elif t == "LineString":
            raw = b"\x01" + struct.pack("<I", 0x20000002) + SRID + pts(c)
        elif t == "MultiPolygon":
            polys = b"".join(
                b"\x01" + struct.pack("<I", 0x20000003) + SRID
                + struct.pack("<I", len(rings)) + b"".join(pts(r) for r in rings)
                for rings in c
            )
            raw = (
                b"\x01" + struct.pack("<I", 0x20000006) + SRID
                + struct.pack("<I", len(c)) + polys
            )
        else:
            raise ValueError(f"unsupported geometry type {t}")
        return raw.hex().upper()

    return encode


def to_pg(feats: DataFrame) -> DataFrame:
    """PG COPY text rows (export_format_pg.cpp): EWKB hex geometry
    (SRID 4326) + tab + tags as JSON — byte parity with the reference's
    pg format (test/export/output.pg).

    Escaping per export_format_pg.cpp:48-75 (backslash, tab, newline, CR).
    The EWKB encode is an Arrow-batched stage — an export SINK edge, not a
    query hot path (mirrors the reference doing serialization in the
    single writer thread)."""

    def esc(c: Column) -> Column:
        c = F.regexp_replace(c, r"\\", r"\\\\")
        c = F.regexp_replace(c, "\t", r"\\t")
        c = F.regexp_replace(c, "\n", r"\\n")
        return F.regexp_replace(c, "\r", r"\\r")

    staged = feats.select(
        F.col("geometry"), esc(F.to_json(F.col("tags"))).alias("props")
    )
    encode = _ewkb_impl()

    def batches(it):
        for pdf in it:
            yield pd.DataFrame(
                {"row": [encode(g) + "\t" + p for g, p in zip(pdf["geometry"], pdf["props"])]}
            )

    return staged.mapInPandas(batches, schema="row string")


def way_area_centroid(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """EXACT signed ring area + centroid per way:
    (id, n_nodes, area2, is_ccw, x1, y1, cx_num, cy_num, cx, cy).

    The area half of the export geometry assembly — the reference
    computes ring orientation the same way to assemble multipolygons
    (area::detail CCW test; our `functions/geometry.py:38-52` uses it
    for ring pooling) but leaves the area VALUE to downstream GIS; at
    training-data scale the value is the feature (building footprint
    m², region weights, size-stratified sampling).

    Exactness: shoelace on coordinates TRANSLATED to the first vertex.
    Translation is mathematically area-invariant and makes both closing
    terms vanish (dx₁ = dy₁ = 0), so ONE index range — pairs
    (vᵢ, vᵢ₊₁), i = 1..m-1 — handles closed rings (last==first) and
    open rings (implicit close) identically, no branches. Cross
    products reach ~1.3e19 at world span (> int64), so every product
    and sum rides decimal(38,0): exact for rings up to 2000 vertices at
    full world coordinates (sums bounded ~1e32 << 1e38). `area2` is
    twice the signed area in fixed-point units², emitted as its exact
    decimal digits (a string both engines print identically);
    `is_ccw` = area2 > 0 (the reference's orientation rule).

    Centroid exactness contract (round-5 fix): the EXACT surface is the
    integer quadruple (x1, y1, cx_num, cy_num) — first-vertex anchor
    plus the translated shoelace centroid numerators as decimal digit
    strings, with the shared denominator 3*area2 derivable from
    `area2`. The full centroid is cx = x1 + cx_num/(3*area2). The
    convenience doubles `cx`/`cy` perform that division in IEEE double;
    they are accurate to ~1 ulp but NOT cross-engine bit-identical:
    Spark's decimal(38,0)->double conversion and e.g. DuckDB's
    HUGEINT->double round differently above 2^53 (observed: ~10/11k
    real rows differ in the last ulps), so equality checks must use the
    integer columns, never the doubles (CORRECTNESS_r04 way_area
    red-row lesson). cx/cy are NULL for degenerate (zero-area) rings.
    Unresolved refs propagate NULL through the fold (callers decide
    error policy, mirroring export --show-errors).

    Scale shape: identical to way_length_m — locations_join is the one
    corpus-sized exchange pair; the folds are codegen'd higher-order
    functions over per-way arrays, zero extra shuffle, no UDF.
    """
    joined = locations_join(ways, nodes).filter(F.size("coords") >= 3)
    c = F.col("coords")
    d19 = "decimal(19,0)"
    d38 = "decimal(38,0)"
    x1, y1 = F.element_at(c, 1)["__lon"], F.element_at(c, 1)["__lat"]

    def pair(i: Column):
        p, q = F.element_at(c, i), F.element_at(c, i + F.lit(1))
        dxp = (p["__lon"] - x1).cast(d19)
        dyp = (p["__lat"] - y1).cast(d19)
        dxq = (q["__lon"] - x1).cast(d19)
        dyq = (q["__lat"] - y1).cast(d19)
        return dxp, dyp, dxq, dyq

    def cross(i: Column) -> Column:
        dxp, dyp, dxq, dyq = pair(i)
        return (dxp * dyq - dxq * dyp).cast(d38)

    def fold(term) -> Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.size(c) - 1),
            F.lit(0).cast(d38),
            lambda acc, i: (acc + term(i)).cast(d38),
        )

    def num_term(sel):
        def term(i: Column) -> Column:
            dxp, dyp, dxq, dyq = pair(i)
            s = (dxp + dxq) if sel == "x" else (dyp + dyq)
            return (s.cast(d38) * (dxp * dyq - dxq * dyp).cast(d38)).cast(d38)

        return term

    area2 = fold(cross)
    nx = fold(num_term("x"))
    ny = fold(num_term("y"))
    staged = joined.select(
        "id",
        F.size(c).cast("long").alias("n_nodes"),
        x1.alias("__x1"),
        y1.alias("__y1"),
        area2.alias("__a2"),
        nx.alias("__nx"),
        ny.alias("__ny"),
    )
    a2d = F.col("__a2").cast("double")
    return staged.select(
        "id",
        "n_nodes",
        F.col("__a2").cast("string").alias("area2"),
        F.when(F.col("__a2").isNotNull(), F.col("__a2") > 0).alias("is_ccw"),
        F.col("__x1").cast("long").alias("x1"),
        F.col("__y1").cast("long").alias("y1"),
        F.col("__nx").cast("string").alias("cx_num"),
        F.col("__ny").cast("string").alias("cy_num"),
        F.when(F.col("__a2") != 0,
               F.col("__x1").cast("double")
               + F.col("__nx").cast("double") / (F.lit(3.0) * a2d)).alias("cx"),
        F.when(F.col("__a2") != 0,
               F.col("__y1").cast("double")
               + F.col("__ny").cast("double") / (F.lit(3.0) * a2d)).alias("cy"),
    )


DEG2RAD = 0.017453292519943295  # pi/180 as the shared double literal

# 1/3!..1/13! with alternating signs — the odd Taylor coefficients of
# sin past the leading x, as exact double literals shared with the SQL
# twin (sin_poly_sql).
SIN_POLY_COEFFS = (
    -0.16666666666666666,      # -1/6
    0.008333333333333333,      # 1/120
    -0.0001984126984126984,    # -1/5040
    2.7557319223985893e-06,    # 1/362880
    -2.505210838544172e-08,    # -1/39916800
    1.6059043836821613e-10,    # 1/6227020800
)


def sin_poly(x: Column) -> Column:
    """Degree-13 odd Taylor sine in Horner form — a pure-IEEE
    reproducible sine for |x| <= pi/2 (max error ~7e-10 at the poles):
    identical multiplies/adds with identical literals produce
    bit-identical doubles in every IEEE engine, which builtin sin()
    does not (JVM vs libm differ at ulp level)."""
    x2 = x * x
    acc = F.lit(SIN_POLY_COEFFS[-1])
    for coef in reversed(SIN_POLY_COEFFS[:-1]):
        acc = F.lit(coef) + x2 * acc
    return x * (F.lit(1.0) + x2 * acc)


def sin_poly_sql(x: str) -> str:
    """DuckDB twin of sin_poly — same Horner order, same literals
    (CAST AS DOUBLE so no literal lands in DECIMAL arithmetic)."""
    x2 = f"(({x})*({x}))"
    acc = f"CAST({SIN_POLY_COEFFS[-1]!r} AS DOUBLE)"
    for coef in reversed(SIN_POLY_COEFFS[:-1]):
        acc = f"(CAST({coef!r} AS DOUBLE) + {x2}*{acc})"
    return f"(({x}) * (1.0 + {x2}*{acc}))"


def way_area_geodesic(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """Spherical (geodesic) ring area per way:
    (id, n_nodes, area_m2, is_ccw_sph).

    way_area_centroid gives the EXACT planar fixed-point area — the
    reference's own orientation frame (area::detail CCW test). On the
    sphere that planar value distorts by cos(lat): a building footprint
    at lat 60 reads 2x small. This is the meters-true companion, the
    same relationship way_length_m has to planar dist2: the spherical
    polygon area by the line-integral formula of Chamberlain & Duquette
    2007 (JPL Publication 07-3, "Some algorithms for polygons on a
    sphere"; the formula GIS engines ship publicly):

        total = sum over directed edges (lam2 - lam1) *
                                        (2 + sin(phi1) + sin(phi2))
        area  = |total| * R^2 / 2      (sign = orientation)

    folded SEQUENTIALLY in ref order (deterministic left fold — float
    addition is order-sensitive; a shuffle-order sum would not replay
    bit-identically), with the closing edge last->first added
    explicitly (closed rings contribute a zero term there, so open and
    closed inputs need no branch).

    Cross-engine bit-exactness: builtin sin()/radians() are NOT
    reproducible between engines (JVM Math.sin vs libm differ at ulp
    level; Math.toRadians computes x/180*pi while DuckDB computes
    x*(pi/180)), and for continent-sized rings those ulps survive the
    x R^2/2 scaling, while quantizing edge terms would destroy
    small-ring precision instead. So the metric is DEFINED over a
    pure-IEEE sine: the degree-13 odd Taylor polynomial in Horner
    form (`sin_poly`, max error 7e-10 at the poles — far below any
    analytic use of a ring area), with degrees->radians as one
    multiply by the DEG2RAD literal. Every operation is then plain
    IEEE +,*,fold in a fixed order with identical literals in both
    engines, so the doubles match bit-for-bit with NO rounding
    anywhere. Unresolved refs propagate NULL; rings with fewer than 3
    resolved coords are dropped.

    CONTRACT — no antimeridian wrap (r5 ADVICE): longitude deltas
    (lam2 - lam1) are taken as-is, NOT wrapped to (-pi, pi]. A ring
    whose edges cross the +/-180 meridian with coordinates stored on
    opposite signs (Fiji, Chukotka) gets a grossly wrong spherical
    area; split such rings at the antimeridian first (the extract
    module's two-polygon-region treatment) or store the ring in a
    continuous longitude frame. This mirrors the planar cell ops'
    stated no-wrap contract; wrapping inside the fold would have to
    be replicated bit-identically in every SQL twin for no gain on
    the 99.99% of rings that never cross.

    Scale shape: identical to way_length_m — locations_join is the one
    corpus-sized exchange pair; the fold is a codegen'd higher-order
    function over per-way arrays, zero extra shuffle, no UDF.
    """
    from .similarity import EARTH_RADIUS_M, FIXED_POINT

    joined = locations_join(ways, nodes).filter(F.size("coords") >= 3)
    c = F.col("coords")
    fx = float(FIXED_POINT)

    def term(p, q) -> Column:
        lam1 = (p["__lon"] / fx) * F.lit(DEG2RAD)
        lam2 = (q["__lon"] / fx) * F.lit(DEG2RAD)
        phi1 = (p["__lat"] / fx) * F.lit(DEG2RAD)
        phi2 = (q["__lat"] / fx) * F.lit(DEG2RAD)
        return (lam2 - lam1) * (F.lit(2.0) + sin_poly(phi1) + sin_poly(phi2))

    def edge(i: Column) -> Column:
        return term(F.element_at(c, i), F.element_at(c, i + F.lit(1)))

    closing = term(F.element_at(c, F.size(c)), F.element_at(c, 1))
    total = (
        F.aggregate(
            F.sequence(F.lit(1), F.size(c) - 1),
            F.lit(0.0),
            lambda acc, i: acc + edge(i),
        )
        + closing
    )
    half_r2 = EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0
    return joined.select(
        "id",
        F.size(c).cast("long").alias("n_nodes"),
        (F.abs(total) * F.lit(half_r2)).alias("area_m2"),
        F.when(total.isNotNull(), total < 0).alias("is_ccw_sph"),
    )


def _polyline_enc(d: Column) -> Column:
    """Encoded-polyline chunk string for ONE signed delta: zigzag to a
    non-negative int, 5-bit little-endian chunks, 0x20 continuation bit,
    +63 into printable ASCII (the Google Encoded Polyline Algorithm; the
    OSRM/Valhalla interchange encoding). Deltas here are < 2^33 (world
    span in fixed-point), so 7 chunks always suffice."""
    z = F.when(d < 0, -(d * 2) - 1).otherwise(d * 2)
    parts = []
    for j in range(7):
        has = F.lit(j == 0) | (z >= F.lit(1 << (5 * j)))
        more = z >= F.lit(1 << (5 * (j + 1)))
        code = (
            F.shiftright(z, 5 * j).bitwiseAND(F.lit(31))
            + F.when(more, F.lit(32)).otherwise(F.lit(0))
            + F.lit(63)
        ).cast("int")
        parts.append(F.when(has, F.char(code)).otherwise(F.lit("")))
    return F.concat(*parts)


def polyline_col(coords: Column, divisor: int = 100) -> Column:
    """Encoded polyline string from an ordered array<struct<__lon,__lat>>
    (locations_join's coords): coordinates floor-scaled by ``divisor``
    (fixed-point is 1e7; divisor 100 = the standard precision-5 polyline,
    divisor 1 = the OSRM "polyline7" variant — both exact integer paths,
    no float coordinate math beyond one correctly-rounded division),
    delta-encoded lat-first per the algorithm spec. A way with any
    unresolved ref yields NULL (concat propagates null — the
    way_length_m error policy)."""
    if divisor < 1:
        raise ValueError(f"divisor must be >= 1, got {divisor}")

    def scale(v: Column) -> Column:
        # double division is correctly rounded and the quotient is
        # >= 1/divisor away from the nearest wrong integer while ulp is
        # ~2e-9 at world scale, so floor() is exact — and the SQL twin
        # evaluates the IDENTICAL expression
        return F.floor(v / F.lit(float(divisor))).cast("long")

    slat = F.transform(coords, lambda s: scale(s["__lat"]))
    slon = F.transform(coords, lambda s: scale(s["__lon"]))

    def deltas(vals: Column) -> Column:
        prev = F.concat(
            F.array(F.lit(0).cast("long")),
            F.slice(vals, 1, F.greatest(F.size(vals) - 1, F.lit(0))),
        )
        return F.zip_with(vals, prev, lambda a, b: a - b)

    pairs = F.zip_with(
        deltas(slat), deltas(slon),
        lambda a, b: F.struct(a.alias("dlat"), b.alias("dlon")),
    )
    return F.aggregate(
        pairs,
        F.lit(""),
        lambda acc, s: F.concat(acc, _polyline_enc(s["dlat"]), _polyline_enc(s["dlon"])),
    )


def way_polylines(ways: DataFrame, nodes: DataFrame, divisor: int = 100) -> DataFrame:
    """(id, n_nodes, polyline) per way — the compact-trajectory export
    format routers and map APIs exchange. Same scale shape as
    way_length_m: locations_join is the one exchange pair, the encode is
    a codegen'd higher-order fold, zero extra shuffle, no UDF."""
    joined = locations_join(ways, nodes)
    c = F.col("coords")
    return (
        joined.filter(F.size(c) >= 2)
        .select(
            "id",
            F.size(c).alias("n_nodes"),
            polyline_col(c, divisor).alias("polyline"),
        )
    )
