"""OSM XML writer — byte parity with the reference's XML output format
(the shape of every committed golden file, e.g. test/sort/output-*.osm):

    <?xml version='1.0' encoding='UTF-8'?>
    <osm version="0.6" generator="...">
      <node id=".." version=".." timestamp=".." uid=".." user=".."
            changeset=".." [visible=".."] lat=".." lon=".."/>
      <way ...><nd ref=".."/><tag k=".." v=".."/></way>
      <relation ...><member type=".." ref=".." role=".."/></relation>
    </osm>

Attribute order, 2/4-space indentation, compact coordinate trimming
('1', not '1.0000000'), and the trailing newline all match. `visible`
is emitted only when requested (history files carry it, data files
don't — man/osmium-file-formats.md).

Scale shape (same as the PBF writer): the whole element renders as ONE
codegen'd Column expression (xml_element_col — zero Python anywhere),
one job writes text parts, and the driver stream-concatenates the part
files in name order (= partition order = the frame's current global
order, the contract callers already arranged via canonical sort or
cat's concatenation order). Single-partition frames are stamped and
range-exchanged first, purely to parallelize rendering. XML remains
the interchange exit; the engine-scale table sink is the sorted
parquet writer (sinks/writer.py)."""

from __future__ import annotations

import time as _time
from xml.sax.saxutils import quoteattr

from pyspark.sql import DataFrame

from ..schema import COORD_SCALE, NODE, RELATION, TYPE_NAMES, WAY


def _coord(v: int) -> str:
    # exact integer fixed-point rendering (libosmium Location::as_string)
    sign = "-" if v < 0 else ""
    av = -v if v < 0 else v
    ip, fp = divmod(av, COORD_SCALE)
    frac = f"{fp:07d}".rstrip("0")
    return f"{sign}{ip}.{frac}" if frac else f"{sign}{ip}"


def _ts(ts) -> str:
    return _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime(ts // 1_000_000))


def _attr(v) -> str:
    return quoteattr(str(v))


def make_row_serializer(with_visible: bool = False, indent: int = 2):
    """Row-dict -> XML element string: the Python oracle that the tests
    compare xml_element_col's output against, byte for byte."""
    pad = " " * indent
    cpad = " " * (indent + 2)

    def ser(r: dict) -> str:
        tag = TYPE_NAMES[r["type"]]
        parts = [f'<{tag} id="{r["id"]}"']
        # 0 = unset for version/timestamp/changeset (libosmium convention;
        # --clean zeroes attributes and the reference XML omits them —
        # golden test/extract/output-clean.osm)
        if r.get("version"):
            parts.append(f' version="{r["version"]}"')
        if r.get("ts"):
            parts.append(f' timestamp="{_ts(r["ts"])}"')
        # anonymous objects (uid 0 / empty user — PBF's encoding for
        # unset) omit both attributes, like the reference XML writer
        if r.get("uid"):
            parts.append(f' uid="{r["uid"]}"')
        if r.get("user"):
            parts.append(f" user={_attr(r['user'])}")
        if r.get("changeset"):
            parts.append(f' changeset="{r["changeset"]}"')
        if with_visible:
            parts.append(f' visible="{"true" if r.get("visible", True) else "false"}"')
        if r["type"] == NODE and r.get("lat") is not None:
            parts.append(f' lat="{_coord(r["lat"])}" lon="{_coord(r["lon"])}"')
        children = []
        if r["type"] == WAY:
            refs = list(r.get("refs") or [])
            locs = list(r.get("locations") or [])
            if locs and len(locs) == len(refs):
                # locations-on-ways output: nd carries lat/lon
                # (reference apply-changes/add-locations-to-ways goldens)
                children += [
                    f'{cpad}<nd ref="{ref}" lat="{_coord(lo["lat"])}" lon="{_coord(lo["lon"])}"/>'
                    for ref, lo in zip(refs, locs)
                ]
            else:
                children += [f'{cpad}<nd ref="{ref}"/>' for ref in refs]
        elif r["type"] == RELATION:
            children += [
                f'{cpad}<member type="{TYPE_NAMES[m["mtype"]]}" ref="{m["ref"]}" '
                f"role={_attr(m['role'] or '')}/>"
                for m in (r.get("members") or [])
            ]
        children += [
            f"{cpad}<tag k={_attr(k)} v={_attr(v)}/>"
            for k, v in (r.get("tags") or {}).items()
        ]
        if not children:
            return pad + "".join(parts) + "/>"
        return pad + "".join(parts) + ">\n" + "\n".join(children) + f"\n{pad}</{tag}>"

    return ser


def _deg(v: float) -> str:
    s = f"{v:.7f}".rstrip("0").rstrip(".")
    return s if s else "0"


def write_osm_xml(
    entities: DataFrame,
    path: str,
    generator: str = "test",
    with_visible: bool = False,
    upload_false: bool = False,
    boxes: list | None = None,
    compression: str | None = None,
) -> None:
    """Stream the frame to one .osm/.osh XML file in its CURRENT order
    (callers sort first — the reference writes in stream order too).
    boxes: header bounding boxes [minlon, minlat, maxlon, maxlat] in
    degrees (golden test/sort/output-bounds.osm prints minlat first,
    location-trimmed). compression: 'gzip'/'bzip2' for .osm.gz/.osm.bz2
    targets (reference suffix rules io.cpp:39-61) — parts are compressed
    executor-side and concatenated as codec members (sinks/textfile.py).

    Executors serialize Arrow batches and write text parts in ONE job;
    the driver stream-concatenates the part files in partition order
    (sequential disk copy, no row ever passes through driver memory)."""
    import os
    import shutil
    import tempfile

    from .textfile import concat_parts

    hdr_opts = ' upload="false"' if upload_false else ""
    head = b"<?xml version='1.0' encoding='UTF-8'?>\n"
    head += f'<osm version="0.6"{hdr_opts} generator={_attr(generator)}>\n'.encode()
    for b in boxes or []:
        head += (f'  <bounds minlat="{_deg(b[1])}" minlon="{_deg(b[0])}"'
                 f' maxlat="{_deg(b[3])}" maxlon="{_deg(b[2])}"/>\n').encode()
    tmp = tempfile.mkdtemp(prefix="osmxml-", dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        _write_serialized_parts(entities, os.path.join(tmp, "parts"),
                                with_visible, codec=compression)
        concat_parts(path, os.path.join(tmp, "parts"), compression,
                     head=head, tail=b"</osm>\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _quoteattr_col(c):
    """Column replica of xml.sax.saxutils.quoteattr: entity-escape
    & < > \\n \\r \\t, then pick the quote style ("..." normally, '...'
    when the value holds a double quote, "..." + &quot; when it holds
    both)."""
    from pyspark.sql import functions as F

    esc = c
    for a, b in [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                 ("\n", "&#10;"), ("\r", "&#13;"), ("\t", "&#9;")]:
        esc = F.replace(esc, F.lit(a), F.lit(b))
    has_dq = c.contains('"')
    has_sq = c.contains("'")
    return (
        F.when(has_dq & has_sq,
               F.concat(F.lit('"'), F.replace(esc, F.lit('"'), F.lit("&quot;")), F.lit('"')))
        .when(has_dq, F.concat(F.lit("'"), esc, F.lit("'")))
        .otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
    )


def _coord_col(c):
    """Column replica of _coord: exact fixed-point digits, trailing
    zeros trimmed, no float anywhere."""
    from pyspark.sql import functions as F

    av = F.abs(c)
    ip = (av / COORD_SCALE).cast("long")
    fp = av % COORD_SCALE
    frac = F.rtrim(F.lpad(fp.cast("string"), 7, "0"), F.lit("0"))
    sign = F.when(c < 0, F.lit("-")).otherwise(F.lit(""))
    return F.concat(
        sign, ip.cast("string"),
        F.when(frac != "", F.concat(F.lit("."), frac)).otherwise(F.lit("")),
    )


def _ts_col(c):
    """Column replica of _ts: epoch-micros -> yyyy-MM-ddTHH:mm:ssZ in
    UTC via pure integer civil-from-days math — independent of the
    session time zone."""
    from pyspark.sql import functions as F

    secs = F.floor(c / 1_000_000).cast("long")
    days = F.floor(secs / 86400).cast("long")
    rem = (secs - days * 86400).cast("long")
    # Howard Hinnant's civil_from_days (public-domain algorithm)
    z = days + 719468
    era = F.floor(z / 146097).cast("long")
    doe = (z - era * 146097).cast("long")
    yoe = F.floor((doe - F.floor(doe / 1460) + F.floor(doe / 36524)
                   - F.floor(doe / 146096)) / 365).cast("long")
    doy = (doe - (yoe * 365 + F.floor(yoe / 4) - F.floor(yoe / 100))).cast("long")
    mp = F.floor((doy * 5 + 2) / 153).cast("long")
    d = (doy - F.floor((mp * 153 + 2) / 5) + 1).cast("long")
    m = F.when(mp < 10, mp + 3).otherwise(mp - 9)
    y = (yoe + era * 400 + F.when(m <= 2, 1).otherwise(0)).cast("long")
    two = lambda x: F.lpad(x.cast("string"), 2, "0")  # noqa: E731
    return F.concat(
        F.lpad(y.cast("string"), 4, "0"), F.lit("-"), two(m), F.lit("-"), two(d),
        F.lit("T"), two(F.floor(rem / 3600)), F.lit(":"),
        two(F.floor(rem / 60) % 60), F.lit(":"), two(rem % 60), F.lit("Z"),
    )


def xml_element_col(entities: DataFrame, with_visible: bool = False,
                    indent: int = 2):
    """The whole XML element as ONE Column expression — byte-equal to
    make_row_serializer's output, but entirely JVM-side (whole-stage
    codegen; the property test in test_reference_goldens_xml pins the
    two serializers against each other)."""
    from pyspark.sql import functions as F

    pad = " " * indent
    cpad = " " * (indent + 2)
    tagname = (
        F.when(F.col("type") == NODE, F.lit("node"))
        .when(F.col("type") == WAY, F.lit("way"))
        .otherwise(F.lit("relation"))
    )
    e = F.lit("")

    def opt(cond, col):
        return F.when(cond, col).otherwise(e)

    head = F.concat(
        F.lit(pad + "<"), tagname, F.lit(' id="'), F.col("id").cast("string"), F.lit('"'),
        opt(F.col("version").isNotNull() & (F.col("version") != 0),
            F.concat(F.lit(' version="'), F.col("version").cast("string"), F.lit('"'))),
        opt(F.col("ts").isNotNull() & (F.col("ts") != 0),
            F.concat(F.lit(' timestamp="'), _ts_col(F.col("ts")), F.lit('"'))),
        opt(F.col("uid").isNotNull() & (F.col("uid") != 0),
            F.concat(F.lit(' uid="'), F.col("uid").cast("string"), F.lit('"'))),
        opt(F.col("user").isNotNull() & (F.col("user") != ""),
            F.concat(F.lit(" user="), _quoteattr_col(F.col("user")))),
        opt(F.col("changeset").isNotNull() & (F.col("changeset") != 0),
            F.concat(F.lit(' changeset="'), F.col("changeset").cast("string"), F.lit('"'))),
        (F.concat(F.lit(' visible="'),
                  F.when(F.coalesce(F.col("visible"), F.lit(True)), F.lit("true"))
                  .otherwise(F.lit("false")), F.lit('"'))
         if with_visible else e),
        opt((F.col("type") == NODE) & F.col("lat").isNotNull(),
            F.concat(F.lit(' lat="'), _coord_col(F.col("lat")),
                     F.lit('" lon="'), _coord_col(F.col("lon")), F.lit('"'))),
    )
    refs = F.coalesce(F.col("refs"), F.expr("array()").cast("array<long>"))
    if "locations" in entities.columns:
        locs = F.col("locations")
        nd = F.when(
            locs.isNotNull() & (F.size(locs) == F.size(refs)) & (F.size(locs) > 0),
            F.zip_with(
                refs, locs,
                lambda r, lo: F.concat(
                    F.lit(cpad + '<nd ref="'), r.cast("string"),
                    F.lit('" lat="'), _coord_col(lo["lat"]),
                    F.lit('" lon="'), _coord_col(lo["lon"]), F.lit('"/>')),
            ),
        ).otherwise(
            F.transform(refs, lambda r: F.concat(
                F.lit(cpad + '<nd ref="'), r.cast("string"), F.lit('"/>')))
        )
    else:
        nd = F.transform(refs, lambda r: F.concat(
            F.lit(cpad + '<nd ref="'), r.cast("string"), F.lit('"/>')))
    nd = F.when(F.col("type") == WAY, nd).otherwise(F.expr("array()").cast("array<string>"))
    mtype_name = {NODE: "node", WAY: "way", RELATION: "relation"}
    members = F.when(
        (F.col("type") == RELATION) & F.col("members").isNotNull(),
        F.transform(
            F.col("members"),
            lambda m: F.concat(
                F.lit(cpad + '<member type="'),
                F.when(m["mtype"] == NODE, F.lit("node"))
                .when(m["mtype"] == WAY, F.lit("way"))
                .otherwise(F.lit("relation")),
                F.lit('" ref="'), m["ref"].cast("string"), F.lit('" role='),
                _quoteattr_col(F.coalesce(m["role"], F.lit(""))), F.lit("/>")),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))
    tags = F.transform(
        F.map_entries(F.coalesce(F.col("tags"), F.expr("map()").cast("map<string,string>"))),
        lambda t: F.concat(F.lit(cpad + "<tag k="), _quoteattr_col(t["key"]),
                           F.lit(" v="), _quoteattr_col(t["value"]), F.lit("/>")),
    )
    children = F.concat(nd, members, tags)
    return F.when(
        F.size(children) == 0, F.concat(head, F.lit("/>"))
    ).otherwise(
        F.concat(head, F.lit(">\n"), F.array_join(children, "\n"),
                 F.lit(f"\n{pad}</"), tagname, F.lit(">"))
    )


def _write_serialized_parts(entities: DataFrame, parts_dir: str,
                            with_visible: bool = False,
                            codec: str | None = None) -> None:
    """Distributed XML rendering: render every element JVM-side
    (xml_element_col — whole-stage codegen, zero Python) and write one
    text part per partition. Part file NAME order == partition order ==
    the frame's current global order (the same contract the sink's old
    toLocalIterator path used), so no exchange is needed at all — the
    usual case (canonical_sort output) is already range-partitioned and
    balanced. Only a single-partition frame is stamped with a monotonic
    id and range-exchanged first, purely to parallelize rendering.
    Elements carry inner newlines; the text sink appends the final one
    per row, so the concatenation is byte-exact."""
    from pyspark.sql import functions as F

    spark = entities.sparkSession
    staged = entities
    if entities.rdd.getNumPartitions() <= 1:
        n = spark.sparkContext.defaultParallelism
        staged = (
            entities.withColumn("__seq", F.monotonically_increasing_id())
            .repartitionByRange(n, "__seq")
            .sortWithinPartitions("__seq")
        )
    from .textfile import write_parts

    write_parts(
        staged.select(xml_element_col(staged, with_visible).alias("value")),
        parts_dir, codec,
    )


def _entries_iter(entities: DataFrame):
    """Row dicts with tag ORDER taken from a JVM-side map_entries
    projection (collecting a Spark map to a Python dict can scramble
    entry order; the entries array cannot)."""
    from pyspark.sql import functions as F

    staged = entities.withColumn("__tag_entries", F.map_entries("tags"))
    for row in staged.toLocalIterator():
        r = row.asDict(recursive=True)
        ents = r.pop("__tag_entries", None) or []
        r["tags"] = {e["key"]: e["value"] for e in ents}
        yield r


def serialize_changeset_row(r: dict) -> str:
    """One <changeset> element, byte-equal to the reference's changeset
    XML writer (golden test/changeset-filter/output1-*.osm): 1-space
    indent, attribute order id/created_at/closed_at/open/user/uid/
    bbox(min_lat,min_lon,max_lat,max_lon)/num_changes/comments_count;
    closed_at omitted while open, bbox omitted when unset, coordinates
    trailing-zero-trimmed like node lat/lon."""
    parts = [f' <changeset id="{r["id"]}"']
    if r.get("created_at") is not None:
        parts.append(f' created_at="{_ts(r["created_at"])}"')
    if not r.get("open") and r.get("closed_at") is not None:
        parts.append(f' closed_at="{_ts(r["closed_at"])}"')
    parts.append(f' open="{"true" if r.get("open") else "false"}"')
    if r.get("user"):
        parts.append(f" user={_attr(r['user'])}")
    if r.get("uid") is not None:
        parts.append(f' uid="{r["uid"]}"')
    if r.get("min_lon") is not None and r.get("min_lat") is not None:
        parts.append(
            f' min_lat="{_coord(r["min_lat"])}" min_lon="{_coord(r["min_lon"])}"'
            f' max_lat="{_coord(r["max_lat"])}" max_lon="{_coord(r["max_lon"])}"'
        )
    parts.append(f' num_changes="{r.get("num_changes") or 0}"')
    parts.append(f' comments_count="{r.get("num_comments") or 0}"')
    tags = r.get("tags") or []  # array<struct<k,v>> — document order
    if not tags:
        parts.append("/>")
        return "".join(parts)
    parts.append(">\n")
    for t in tags:
        parts.append(f"  <tag k={_attr(t['k'])} v={_attr(t['v'])}/>\n")
    parts.append(" </changeset>")
    return "".join(parts)


def changeset_element_col():
    """The whole <changeset> element as ONE Column expression — byte-
    equal to serialize_changeset_row (pinned by a property test), but
    entirely JVM-side like xml_element_col."""
    from pyspark.sql import functions as F

    e = F.lit("")

    def opt(cond, col):
        return F.when(cond, col).otherwise(e)

    opn = F.coalesce(F.col("open"), F.lit(False))
    head = F.concat(
        F.lit(' <changeset id="'), F.col("id").cast("string"), F.lit('"'),
        opt(F.col("created_at").isNotNull(),
            F.concat(F.lit(' created_at="'), _ts_col(F.col("created_at")), F.lit('"'))),
        opt((~opn) & F.col("closed_at").isNotNull(),
            F.concat(F.lit(' closed_at="'), _ts_col(F.col("closed_at")), F.lit('"'))),
        F.concat(F.lit(' open="'),
                 F.when(opn, F.lit("true")).otherwise(F.lit("false")), F.lit('"')),
        opt(F.col("user").isNotNull() & (F.col("user") != ""),
            F.concat(F.lit(" user="), _quoteattr_col(F.col("user")))),
        opt(F.col("uid").isNotNull(),
            F.concat(F.lit(' uid="'), F.col("uid").cast("string"), F.lit('"'))),
        opt(F.col("min_lon").isNotNull() & F.col("min_lat").isNotNull(),
            F.concat(F.lit(' min_lat="'), _coord_col(F.col("min_lat")),
                     F.lit('" min_lon="'), _coord_col(F.col("min_lon")),
                     F.lit('" max_lat="'), _coord_col(F.col("max_lat")),
                     F.lit('" max_lon="'), _coord_col(F.col("max_lon")), F.lit('"'))),
        F.lit(' num_changes="'),
        F.coalesce(F.col("num_changes"), F.lit(0)).cast("string"),
        F.lit('" comments_count="'),
        F.coalesce(F.col("num_comments"), F.lit(0)).cast("string"), F.lit('"'),
    )
    tags = F.coalesce(
        F.col("tags"), F.expr("array()").cast("array<struct<k:string,v:string>>")
    )
    body = F.transform(
        tags,
        lambda t: F.concat(F.lit("  <tag k="), _quoteattr_col(t["k"]),
                           F.lit(" v="), _quoteattr_col(t["v"]), F.lit("/>")),
    )
    return F.when(F.size(body) == 0, F.concat(head, F.lit("/>"))).otherwise(
        F.concat(head, F.lit(">\n"), F.array_join(body, "\n"),
                 F.lit("\n </changeset>"))
    )


def write_changesets_xml(
    changesets: DataFrame, path: str, generator: str = "test",
    compression: str | None = None,
) -> None:
    """Write a changeset frame (sources/osmxml.CHANGESET_SCHEMA) to one
    XML file, id-ordered (the reference streams input order; every
    committed fixture is id-ordered, so the id sort is the same order
    made deterministic).

    Distributed shape: orderBy(id) range-partitions the frame; every
    element renders JVM-side (changeset_element_col) into text parts in
    ONE job, and the driver concatenates parts in partition order — no
    toLocalIterator, no per-row Python."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .textfile import concat_parts, write_parts

    if "tags" not in changesets.columns:
        changesets = changesets.withColumn(
            "tags", F.lit(None).cast("array<struct<k:string,v:string>>")
        )
    head = (b"<?xml version='1.0' encoding='UTF-8'?>\n"
            + f'<osm version="0.6" generator={_attr(generator)}>\n'.encode())
    tmp = tempfile.mkdtemp(prefix="osmcs-",
                           dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        write_parts(
            changesets.orderBy("id").select(changeset_element_col().alias("value")),
            os.path.join(tmp, "parts"), compression,
        )
        concat_parts(path, os.path.join(tmp, "parts"), compression,
                     head=head, tail=b"</osm>\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def change_action_col():
    """Per-object osmChange action: visible=false -> delete, version 1 ->
    create, else modify (the golden test/sort/output-change.osc
    derivation), as a Column."""
    from pyspark.sql import functions as F

    return (
        F.when(F.col("visible").isNotNull() & (~F.col("visible")), F.lit("delete"))
        .when(F.col("version") == 1, F.lit("create"))
        .otherwise(F.lit("modify"))
    )


def change_sections(
    entities: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """The cross-row inputs of the .osc section logic, distributed:
    every row of `entities` (in its CURRENT order) gains
      __seq  — consecutive 1-based global index (stamp_order: per-
               partition stamps + driver prefix-sum, zero exchange),
      __act  — its create/modify/delete action (change_action_col),
      __prev — the PREVIOUS row's action (null on row 1), via lag()
               over bucket-local windows (__b = (__seq-1) div
               rows_per_bucket; many parallel window groups, never a
               single-partition window) with per-bucket boundary rows
               filled from a broadcast of the bucket-last rows.
    The result is range-partitioned by __b (ONE exchange; satisfies the
    window's clustering AND keeps partition order == global order since
    __b is monotone in __seq — part files concatenate directly).
    Returns (staged_df, total_rows, last_action). Used by
    write_osm_change and gated directly (a DuckDB lag() window is the
    oracle)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.zipindex import stamp_order

    spark = entities.sparkSession
    nparts = num_partitions or spark.sparkContext.defaultParallelism
    stamped, n = stamp_order(entities, "__seq")
    stamped = stamped.withColumn("__act", change_action_col())
    if n == 0:
        empty = stamped.withColumn("__prev", F.lit(None).cast("string"))
        return empty, 0, None
    pb = max(math.ceil(n / nparts), 1)
    # bucket-last rows (plus the final row) collected to the driver —
    # nparts tiny rows; they seed the boundary broadcast AND give the
    # writer the last action without a separate job
    brows = (
        stamped.filter(((F.col("__seq") % pb) == 0) | (F.col("__seq") == n))
        .select("__seq", "__act").collect()
    )
    last_act = next(r["__act"] for r in brows if r["__seq"] == n)
    boundaries = spark.createDataFrame(
        [(r["__seq"] + 1, r["__act"]) for r in brows if r["__seq"] % pb == 0]
        or [(0, None)],
        "__seq long, __prevb string",
    )
    # ONE exchange: range partitioning on the bucket id both satisfies
    # the window's clustering (no extra hash exchange — plan-verified)
    # and, because __b is monotone in __seq, leaves partition order ==
    # global order, so the writer's part files concatenate directly
    w = Window.partitionBy("__b").orderBy("__seq")
    staged = (
        stamped.withColumn("__b", ((F.col("__seq") - 1) / pb).cast("long"))
        .repartitionByRange(nparts, "__b")
        .join(F.broadcast(boundaries), on="__seq", how="left")
        .withColumn("__prev", F.coalesce(F.lag("__act").over(w), F.col("__prevb")))
        .drop("__prevb")
    )
    return staged, n, last_act


def write_osm_change(
    entities: DataFrame, path: str, generator: str = "test",
    compression: str | None = None,
) -> None:
    """Write the frame as one .osc osmChange file in its CURRENT order;
    consecutive objects with the same action share a <create>/<modify>/
    <delete> section.

    Distributed shape (no toLocalIterator — that path re-executes the
    upstream once per partition under AQE, measured 6.8x pathological):
      1. stamp_order gives every row a consecutive global index __seq in
         the frame's current order (per-partition stamps + driver
         prefix-sum, zero exchange);
      2. the previous row's action (the ONLY cross-row dependency — it
         decides section breaks) comes from lag() over bucket-local
         windows (__b = (__seq-1) div rows_per_bucket; many parallel
         window groups, never a single-partition window), with the
         per-bucket boundary rows filled from a broadcast of the
         bucket-last rows (n/bucket_size rows, tiny);
      3. each row renders as [optional close+open section tags] +
         element, entirely JVM-side (xml_element_col);
      4. ONE job writes text parts in __seq range order; the driver
         concatenates and appends the final section close.
    """
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .textfile import concat_parts, write_parts

    spark = entities.sparkSession
    staged, n, last_act = change_sections(entities, spark.sparkContext.defaultParallelism)
    head = (b"<?xml version='1.0' encoding='UTF-8'?>\n"
            + f'<osmChange version="0.6" generator={_attr(generator)}>\n'.encode())
    if n == 0:
        with open(path, "wb") as f:
            from .textfile import _encode_member

            f.write(_encode_member(head + b"</osmChange>\n", compression))
        return
    section = F.when(
        F.col("__prev").isNull() | (F.col("__prev") != F.col("__act")),
        F.concat(
            F.when(F.col("__prev").isNotNull(),
                   F.concat(F.lit("  </"), F.col("__prev"), F.lit(">\n")))
            .otherwise(F.lit("")),
            F.lit("  <"), F.col("__act"), F.lit(">\n"),
        ),
    ).otherwise(F.lit(""))
    value = F.concat(section, xml_element_col(staged, indent=4))
    # change_sections left the frame range-partitioned by __b with the
    # window's output sorted (__b, __seq) == __seq — partition order IS
    # the file order, so the parts write needs no further exchange
    ordered = staged.select(value.alias("value"))
    tail = f"  </{last_act}>\n</osmChange>\n".encode()
    tmp = tempfile.mkdtemp(prefix="osmosc-",
                           dir=os.path.dirname(os.path.abspath(path)) or ".")
    try:
        write_parts(ordered, os.path.join(tmp, "parts"), compression)
        concat_parts(path, os.path.join(tmp, "parts"), compression,
                     head=head, tail=tail)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
