"""Plan-shape invariants of the executed physical plans.

One table-driven test over the 16 `bench.py` headline rows, the flagship
`image_extract_tile` over a small parquet image table, and the operators
whose plan shape is the point of their design. Rows named `*_distributed`
run with broadcasts disabled (`distributed_ids`), which sends the ID
engine down its join path. Each row's plan is read from
`_jdf.queryExecution().executedPlan()` and checked for:

- no CartesianProduct or BroadcastNestedLoopJoin, unless the row names one;
- no Window fed by a SinglePartition exchange, unless the row names one;
- at most `shuffles` shuffle Exchange nodes (the count when the row was
  pinned; raise a ceiling only with a CHANGES.md line giving the reason);
- each predicate in `pushed` among some scan's PushedFilters: a row whose
  filter can reach a scan names what must arrive there;
- every node in `has` present and none in `lacks` (PYTHON = any Python
  stage); a pattern with a space matches the start of a node's line.

Two checks stand apart: the Arrow point-in-polygon kernel of an extract
over more than 64 segments reads from the envelope filter, and each kind
of assertion fails on a planted regression.

Plans are read before execution, so with AQE on the initial plan is what
is checked; where a cached subplan already ran, its "Final Plan" section
is skipped and its "Initial Plan" kept. Run the file after any change
under `operators/` or `functions/`.
"""

from __future__ import annotations

import re
from typing import Callable, NamedTuple

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entry
from osmium_tool_spark.functions.cells import hilbert_cell, quadkey_col, slippy_tile_cols
from osmium_tool_spark.functions.geometry import Extract
from osmium_tool_spark.functions.sortkeys import canonical_sort, id_sort_key
from osmium_tool_spark.functions.zipindex import dense_index
from osmium_tool_spark.operators.curation import (
    domain_cap, epoch_shuffle, geo_buffered_split, pack_sequences, shard_manifest,
)
from osmium_tool_spark.operators.export import way_length_m, way_polylines
from osmium_tool_spark.operators.extract import MAX_JVM_PIP_SEGMENTS, assign_extracts
from osmium_tool_spark.operators.hexbin import hexbin_counts
from osmium_tool_spark.operators.multimodal import (
    alignment_scores, aspect_bucket_batches, sample_frames,
)
from osmium_tool_spark.operators.pipeline import image_extract_tile
from osmium_tool_spark.operators.retrieval import bm25_topk, rrf_fuse, tokens
from osmium_tool_spark.operators.similarity import ann_topk, cluster_assign
from osmium_tool_spark.operators.sketches import (
    bloom_build, bloom_probe, cm_build, cm_lookup, hist_bins, hist_quantiles, hll_distinct,
)
from osmium_tool_spark.operators.sort_merge import validate_order
from osmium_tool_spark.operators.spatial_join import grid_cluster, snap_points, spatial_join
from osmium_tool_spark.operators.tags_filter import tags_filter
from osmium_tool_spark.operators.text import contamination_flags, lm_quality_score
from osmium_tool_spark.operators.tiles import (
    contour_segments, density_surface, polygon_overlap, polygon_rasterize,
    render_density_tiles, segment_tile_assign, tile_buffer_assign, zonal_stats,
)
from osmium_tool_spark.operators.trajectory import resample_track
from osmium_tool_spark.schema import NODE, WAY
from osmium_tool_spark.sinks.mvt import write_mvt_tiles
from osmium_tool_spark.sinks.osmxml import change_sections
from osmium_tool_spark.sources import testdata as td
from osmium_tool_spark.sources.images import synth_images, synth_images_from_documents
from tests.conftest import SF_DIR

PYTHON = frozenset({
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas",
})
CROSS = ("CartesianProduct", "BroadcastNestedLoopJoin")


class Node(NamedTuple):
    name: str
    text: str
    children: list


def parse(plan: str) -> Node:
    """The tree of a plan's toString(), one Node per line."""
    root = Node("", "", [])
    stack = [(-1, root)]
    skip = None
    for line in plan.splitlines():
        indent = len(re.match(r"[ :+\-]*", line).group(0))
        text = re.sub(r"^\*\(\d+\) ", "", line[indent:]).strip()
        if not text or (skip is not None and indent > skip):
            continue
        skip = None
        if text.startswith("== "):
            if text.startswith("== Final Plan"):
                skip = indent
            continue
        while stack[-1][0] >= indent:
            stack.pop()
        node = Node(re.match(r"\w*", text).group(0), text, [])
        stack[-1][1].children.append(node)
        stack.append((indent, node))
    return root


def walk(node: Node):
    yield node
    for c in node.children:
        yield from walk(c)


def first_exchange_below(node: Node) -> Node | None:
    """The Exchange a single-child chain under `node` reaches, if any."""
    while len(node.children) == 1:
        node = node.children[0]
        if node.name == "Exchange":
            return node
    return None


def pushed_filters(scan: Node) -> str:
    return re.search(r"PushedFilters: \[(.*?)\](?:, \w+:|$)", scan.text).group(1)


class Shape(NamedTuple):
    shuffles: int
    cross: int = 0
    single_windows: int = 0
    pushed: tuple = ()
    has: set | frozenset = frozenset()
    lacks: set | frozenset = frozenset()


def matches(node: Node, pattern: str) -> bool:
    """A node name, or the start of a node's text when it has a space."""
    return node.name == pattern or (" " in pattern and node.text.startswith(pattern))


def violations(plan: str, shape: Shape) -> list[str]:
    nodes = list(walk(parse(plan)))
    out = []
    cross = sum(n.name in CROSS for n in nodes)
    if cross > shape.cross:
        out.append(f"{cross} cross joins, expected at most {shape.cross}")
    single = sum(
        n.name == "Window" and "SinglePartition" in getattr(first_exchange_below(n), "text", "")
        for n in nodes
    )
    if single > shape.single_windows:
        out.append(f"{single} Window over a SinglePartition exchange, at most {shape.single_windows} named")
    shuffles = sum(n.name == "Exchange" for n in nodes)
    if shuffles > shape.shuffles:
        out.append(f"{shuffles} shuffle Exchanges, ceiling {shape.shuffles}")
    scans = [n for n in nodes if n.name == "FileScan"]
    pushed = " ".join(pushed_filters(s) for s in scans)
    out += [f"{p} not pushed into any scan" for p in shape.pushed if p not in pushed]
    out += [f"no {h} node" for h in sorted(shape.has) if not any(matches(n, h) for n in nodes)]
    out += [f"unexpected {h} node" for h in sorted(shape.lacks) if any(matches(n, h) for n in nodes)]
    return out


def plan_of(df) -> str:
    """The executed plan's string, scan metadata untruncated."""
    conf = df.sparkSession.conf
    key = "spark.sql.maxMetadataStringLength"
    saved = conf.get(key)
    conf.set(key, "100000")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, saved)


# ---------------------------------------------------------------------------
# rows
# ---------------------------------------------------------------------------


class Data:
    """The frames the rows share, built once per module."""

    def __init__(self, spark, image_table):
        self.spark = spark
        self.image_table = image_table
        self.ents = td.entities(spark, SF_DIR)
        self.nodes = td.nodes_from_part(spark, SF_DIR)
        self.ways = td.ways_from_orders(spark, SF_DIR)
        self.docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        self.emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        self.values = spark.range(1, 100_001).select(
            (F.col("id") % 64).alias("g"), ((F.col("id") * 2654435761) % 65536).alias("v")
        )
        self.probes = spark.range(200).select(F.col("id").alias("v"))
        self.segments = self.nodes.select(
            F.col("id").alias("way_id"), F.lit(1).alias("seq"),
            F.col("lon").alias("x1"), F.col("lat").alias("y1"),
            (F.col("lon") + 100_000).alias("x2"), (F.col("lat") + 70_000).alias("y2"),
        )


def headline(name: str) -> Callable:
    return lambda d: entry.queries()[name](d.spark, SF_DIR)


def diamond(r: int) -> np.ndarray:
    return np.array([(r, 0), (0, r), (-r, 0), (0, -r), (r, 0)], np.int64)


def flagship(d, images=None):
    return image_extract_tile(
        d.spark.read.parquet(d.image_table) if images is None else images,
        ["n/fmt=png,jpeg", "n/caption=caption*"],
        [Extract.bbox(0, -60, -45, 80, 60), Extract.polygon(1, [diamond(800_000_000)])],
        cell_res=8,
    )


def ellipse(n: int, rx: float, ry: float) -> np.ndarray:
    t = np.linspace(0, 2 * np.pi, n + 1)[:-1]
    ring = np.stack([rx * np.cos(t), ry * np.sin(t)], axis=1).astype(np.int64)
    return np.vstack([ring, ring[:1]])


RING_96 = ellipse(96, 6e8, 3e8)


def many_gon_extract(d):
    """assign_extracts over a 96-segment ring: above MAX_JVM_PIP_SEGMENTS,
    so the Arrow PIP kernel runs, behind the envelope filter."""
    assert len(RING_96) - 1 > MAX_JVM_PIP_SEGMENTS
    return assign_extracts(d.nodes, [Extract.polygon(0, [RING_96])])


def ring_polys(spark, n, r0, dr):
    """n diamond polygons at hashed centres, radius r0 + (id % 5) * dr."""
    k = F.col("id")
    cx = (k * 2654435761) % 3_200_000_000 - 1_600_000_000
    cy = (k * 2246822519) % 1_600_000_000 - 800_000_000
    r = r0 + (k % 5) * dr

    def pt(x, y):
        return F.struct(x.cast("long").alias("x"), y.cast("long").alias("y"))

    ring = [pt(cx + r, cy), pt(cx, cy + r), pt(cx - r, cy), pt(cx, cy - r), pt(cx + r, cy)]
    return spark.range(n).select(k.alias("poly_id"), F.array(F.array(*ring)).alias("rings"))


def bm25(d, k):
    queries = d.docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(tokens(F.col("text")), 1, 8), " ").alias("qtext"),
    )
    return bm25_topk(d.docs, queries, k=k)


def hybrid_rrf(d):
    q = d.emb.filter(F.col("vec_id") % 97 == 0)
    vec = ann_topk(d.emb, q, k=20).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([bm25(d, 20), vec], k=10)


def osc_sections(d):
    ch = d.nodes.withColumn("version", (F.col("id") % 4 + 1).cast("int")).withColumn(
        "visible", F.col("id") % 7 != 0
    )
    return change_sections(canonical_sort(ch), 4)[0]


def zonal(d):
    pts = d.nodes.withColumn("size", (F.col("id") % 50).cast("long"))
    regions = [Extract.polygon(0, [diamond(999_999_999)]), Extract.bbox(1, -120.0, -60.0, 45.5, 70.25)]
    return zonal_stats(pts, regions, measures={"sum_size": F.sum("size")}, payload_cols=["size"])


def slippy_quadkey(d):
    tx, ty = slippy_tile_cols(F.col("lon"), F.col("lat"), 10)
    return d.nodes.select("id", tx.alias("tx"), ty.alias("ty")).select(
        "id", quadkey_col(F.col("tx"), F.col("ty"), 10).alias("qk")
    )


def aspect_batches(d):
    imgs = d.spark.range(1, 50_001).select(
        F.col("id").alias("image_id"),
        (64 + (F.col("id") * 37) % 448).cast("int").alias("w"),
        (64 + (F.col("id") * 53) % 448).cast("int").alias("h"),
    )
    return aspect_bucket_batches(imgs, [(512, 512), (576, 448), (448, 576)], batch_size=16)


def alignment(d):
    vec = F.transform(F.sequence(F.lit(1), F.lit(64)), lambda i: (F.xxhash64("id", i) % 1000) / 500.0)
    return alignment_scores(d.spark.range(1, 10_001).select(vec.alias("va"), vec.alias("vb")), "va", "vb")


def urls(d):
    return d.spark.range(1, 50_001).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://site"), (F.col("id") % 97).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url"),
    )


NO_JOIN = frozenset({"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", *CROSS})
# one-row scalar frames (corpus statistics, vocabulary size) broadcast by crossJoin
SCALAR_CROSS = 1
TYPES = ("EqualTo(type,0)", "EqualTo(type,1)", "EqualTo(type,2)")


# the in-RAM mark sets of extract and tags-filter: one join of the input
# against a local relation, then the sort's range exchange; nothing cached,
# exploded or sort-merge joined
IN_RAM_EMIT = Shape(
    1, has={"BroadcastHashJoin", "LocalTableScan"}, lacks=PYTHON | {"SortMergeJoin", "InMemoryTableScan", "Generate"}
)


# a result computed on the driver: nothing left to scan, shuffle or run in Python
IN_RAM_RESULT = Shape(
    0, has={"LocalTableScan"}, lacks=PYTHON | {"FileScan", "BroadcastExchange", "Sort", "InMemoryTableScan"}
)


ROWS: dict[str, tuple[Callable, Shape]] = {
    # bench.py headline rows
    "extract_bbox_simple": (headline("extract_bbox_simple"), IN_RAM_EMIT),
    "extract_complete_ways": (headline("extract_complete_ways"), IN_RAM_EMIT),
    "extract_polygon": (headline("extract_polygon"), Shape(0, lacks=PYTHON)),
    "tags_filter_closure": (headline("tags_filter_closure"), IN_RAM_EMIT),
    # the same three on the ID engine's join path (rows named *_distributed
    # run with broadcasts disabled): every join sort-merges, and each cached
    # mark set's plan repeats under its InMemoryTableScan
    "extract_bbox_simple_distributed": (headline("extract_bbox_simple"), Shape(18, pushed=TYPES)),
    "extract_complete_ways_distributed": (headline("extract_complete_ways"), Shape(25, pushed=TYPES)),
    "tags_filter_closure_distributed": (headline("tags_filter_closure"), Shape(7, pushed=TYPES[:2])),
    # getid -r and renumber on small inputs: one Arrow collect, the rest on
    # the driver, and the sorted result comes back as a local relation
    "getid_recursive": (headline("getid_recursive"), IN_RAM_RESULT),
    "renumber": (headline("renumber"), IN_RAM_RESULT),
    # their join paths: getid -r's member and way-node joins sort-merge, and
    # renumber numbers with dense_index, not a global Window
    "getid_recursive_distributed": (headline("getid_recursive"), Shape(13)),
    "renumber_distributed": (headline("renumber"), Shape(8, lacks={"Window"})),
    # the registry row ranks with an unpartitioned Window: all rows meet in one task
    "sort_canonical": (headline("sort_canonical"), Shape(1, single_windows=1)),
    "time_filter_range": (headline("time_filter_range"), Shape(3)),
    "apply_changes_latest": (headline("apply_changes_latest"), Shape(2)),
    "diff_status": (headline("diff_status"), Shape(5)),
    "tile_rollup": (headline("tile_rollup"), Shape(1, has={"HashAggregate"})),
    # candidates from an equi-join on cell ids, map-side top-k before the window
    "knn_cellring": (headline("knn_cellring"), Shape(2, has={"WindowGroupLimit"})),
    "dedup_minhash_lsh": (headline("dedup_minhash_lsh"), Shape(1)),
    "dedup_ngram_jaccard": (headline("dedup_ngram_jaccard"), Shape(3)),
    # per-partition top-k in Python, then one exchange of candidates only
    "ann_topk": (headline("ann_topk"), Shape(1, has={"MapInPandas", "WindowGroupLimit"})),
    "text_metrics": (headline("text_metrics"), Shape(0, lacks=PYTHON)),
    # the flagship: tags filter in the scan, no Python stage, one rollup exchange
    "image_extract_tile": (
        flagship, Shape(1, pushed=("In(fmt, [jpeg,png])", "StringStartsWith(caption,caption)"), lacks=PYTHON),
    ),
    # 12 segments: the JVM ray cast, no Python
    "extract_osm_polygon": (headline("extract_osm_polygon"), Shape(0, lacks=PYTHON)),
    "extract_96_gon": (many_gon_extract, Shape(0, has={"MapInPandas"})),
    # operators whose plan shape is their design
    "tags_filter_omit_referenced": (
        lambda d: tags_filter(d.ents, ["n/type=MEDIUM", "w/priority=1-URGENT"], omit_referenced=True),
        Shape(1, lacks=PYTHON | NO_JOIN),
    ),
    # dense ids: a broadcast join onto the checkpointed stamps, no Window
    "dense_index": (
        lambda d: dense_index(
            d.nodes.unionByName(d.ways).select("type", "id").distinct(),
            [id_sort_key(F.col("id"))], part_col="type",
        ),
        Shape(0, has={"BroadcastHashJoin"}, lacks={"Window"}),
    ),
    # the full-data lag partitions on the partition id; the one global
    # Window stitches n_partitions boundary rows
    "validate_order": (
        lambda d: validate_order(td.history_from_events(d.spark, SF_DIR).withColumn("seq", F.col("changeset"))),
        Shape(3, single_windows=1),
    ),
    "sample_frames": (
        lambda d: sample_frames(synth_images_from_documents(d.spark, SF_DIR), every_n=7), Shape(0, lacks=PYTHON)
    ),
    # one range exchange serves the lag window; no hash exchange
    "change_sections": (osc_sections, Shape(1, has={"Exchange rangepartitioning"})),
    "contamination_flags": (
        lambda d: contamination_flags(d.docs, d.docs.filter(F.col("doc_id") % 37 == 0), n=3),
        Shape(3, has={"BroadcastHashJoin"}),
    ),
    "bm25_topk": (
        lambda d: bm25(d, 10), Shape(9, cross=SCALAR_CROSS, has={"BroadcastHashJoin", "WindowGroupLimit"})
    ),
    # <= 64-segment polygons: codegen PIP, one partial/final aggregate pair
    "zonal_stats": (zonal, Shape(1, lacks=PYTHON)),
    # one exchange on the cluster id into the per-cluster gram kernel
    "semantic_dedup": (headline("semantic_dedup"), Shape(1, has={"FlatMapGroupsInPandas"})),
    "spatial_join": (
        lambda d: spatial_join(
            d.nodes.select("id", "lon", "lat"), ring_polys(d.spark, 600, 50_000_000, 10_000_000), res=6
        ),
        Shape(1, has={"BroadcastHashJoin"}),
    ),
    "cluster_assign": (
        lambda d: cluster_assign(
            d.emb,
            d.emb.filter(F.col("vec_id") % 61 == 0).select(F.col("vec_id").alias("cluster_id"), "embedding"),
        ),
        Shape(0),
    ),
    "lm_quality_score": (
        lambda d: lm_quality_score(d.docs), Shape(6, cross=SCALAR_CROSS, has={"BroadcastHashJoin"})
    ),
    "hybrid_rrf": (hybrid_rrf, Shape(10, cross=SCALAR_CROSS, has={"WindowGroupLimit"})),
    "grid_cluster": (lambda d: grid_cluster(d.nodes, res=5, min_pts=4), Shape(12)),
    "density_surface": (lambda d: density_surface(d.nodes, res=5), Shape(3, lacks=NO_JOIN)),
    "pack_sequences": (lambda d: pack_sequences(d.docs, capacity=256, n_packers=8), Shape(1)),
    "way_length_m": (
        lambda d: way_length_m(d.ents.filter(F.col("type") == WAY), d.ents.filter(F.col("type") == NODE)),
        Shape(1, pushed=TYPES[:2], lacks=PYTHON | {"Window"}),
    ),
    "tile_buffer_assign": (
        lambda d: tile_buffer_assign(d.nodes.select("id", "lon", "lat"), res=5, buffer=5_000_000), Shape(0)
    ),
    "shard_manifest": (
        lambda d: shard_manifest(
            d.nodes.select(
                F.col("id").alias("image_id"), "lon", "lat", (F.col("id") % 1000 + 64).alias("n_bytes")
            ),
            target_bytes=1 << 20, res=10, prefix_res=3,
        ),
        Shape(1),
    ),
    "polygon_rasterize": (
        lambda d: polygon_rasterize(ring_polys(d.spark, 16, 40_000_000, 0), res=9),
        Shape(1, has={"MapInPandas"}, lacks=NO_JOIN | {"HashAggregate", "Window"}),
    ),
    "render_density_tiles": (
        lambda d: render_density_tiles(d.nodes.select("lon", "lat"), res=8, tile_shift=5),
        Shape(2, has={"FlatMapGroupsInPandas"}),
    ),
    "contour_segments": (
        lambda d: contour_segments(d.nodes, res=5, threshold=2.5), Shape(2, lacks=NO_JOIN | PYTHON | {"Window"})
    ),
    "segment_tile_assign": (lambda d: segment_tile_assign(d.segments, res=7), Shape(0)),
    "snap_points": (
        lambda d: snap_points(
            d.nodes.select(F.col("id").alias("point_id"), "lon", "lat"), d.segments, res=7, max_dist=5_000_000
        ),
        Shape(1, lacks={"Window"}),
    ),
    "hilbert_cell": (lambda d: d.nodes.select("id", hilbert_cell(F.col("lon"), F.col("lat"), 12)), Shape(0)),
    "geo_buffered_split": (lambda d: geo_buffered_split(d.nodes, res=6, id_col="id"), Shape(0)),
    "slippy_quadkey": (slippy_quadkey, Shape(0)),
    "hexbin_counts": (lambda d: hexbin_counts(d.nodes, w=50_000_000, h=86_602_540), Shape(1)),
    "way_polylines": (lambda d: way_polylines(d.ways, d.nodes, divisor=100), Shape(1, lacks=PYTHON)),
    "resample_track": (
        lambda d: resample_track(
            d.nodes.select(F.col("id").alias("key"), (F.col("id") * 1000).alias("ts"),
                           F.col("lon").alias("x"), F.col("lat").alias("y")),
            step=7000,
        ),
        Shape(1),
    ),
    "write_mvt_tiles": (lambda d: write_mvt_tiles(d.nodes, res=5), Shape(1, has={"FlatMapGroupsInPandas"})),
    "hll_distinct": (lambda d: hll_distinct(d.values, ["g"], "v", p=10, hash="portable"), Shape(2)),
    "cm_lookup": (
        lambda d: cm_lookup(
            cm_build(d.values, "v", d=3, w=512, hash="portable"), d.probes, "v", 3, 512, "portable"
        ),
        Shape(1, has={"BroadcastHashJoin"}),
    ),
    "hist_quantiles": (
        lambda d: hist_quantiles(
            hist_bins(d.values, ["g"], "v", 0.0, 65536.0, 1024), ["g"], 0.0, 65536.0, 1024, [0.5, 0.9]
        ),
        Shape(2),
    ),
    "aspect_bucket_batches": (aspect_batches, Shape(1, lacks={"Window"})),
    "alignment_scores": (alignment, Shape(0)),
    "bloom_probe": (
        lambda d: bloom_probe(
            bloom_build(d.values, "v", k=4, m_bits=1 << 15, hash="portable"),
            d.probes, "v", 4, 1 << 15, "portable",
        ),
        Shape(1, has={"BroadcastHashJoin"}),
    ),
    "epoch_shuffle": (
        lambda d: epoch_shuffle(
            d.spark.range(1, 50_001).withColumnRenamed("id", "doc_id"), "doc_id", epoch=3, num_shards=64
        ),
        Shape(1),
    ),
    "domain_cap": (lambda d: domain_cap(urls(d), "url", cap=5), Shape(1, has={"WindowGroupLimit"})),
    "polygon_overlap": (
        lambda d: polygon_overlap(
            *[ring_polys(d.spark, 64, 30_000_000, 10_000_000)] * 2, res=8, id_a="id_a", id_b="id_b"
        ),
        Shape(7, has={"BroadcastHashJoin"}),
    ),
}


@pytest.fixture(scope="module")
def data(spark, tmp_path_factory):
    table = str(tmp_path_factory.mktemp("plan_shapes") / "images")
    synth_images(spark, 200, partitions=1).write.parquet(table)
    return Data(spark, table)


@pytest.mark.parametrize("name", ROWS)
def test_plan_shape(data, name, request):
    build, shape = ROWS[name]
    if name.endswith("_distributed"):
        request.getfixturevalue("distributed_ids")
    assert violations(plan_of(build(data)), shape) == []


def envelope_below_pip(plan: str, lo: int, hi: int) -> bool:
    """Every Arrow PIP node reads, with no exchange between, from a Filter
    that bounds x to [lo, hi]: the envelope test runs before Python."""
    pips = [n for n in walk(parse(plan)) if n.name == "MapInPandas"]
    for node in pips:
        while node.name not in ("Filter", "Exchange") and len(node.children) == 1:
            node = node.children[0]
        if not (node.name == "Filter" and f">= {lo})" in node.text and f"<= {hi})" in node.text):
            return False
    return bool(pips)


def test_envelope_filter_below_arrow_pip(data):
    xs = RING_96[:, 0]
    assert envelope_below_pip(plan_of(many_gon_extract(data)), xs.min(), xs.max())


def udf_before_tags_filter(d):
    ident = F.udf(lambda s: s, "string")
    return flagship(d, d.spark.read.parquet(d.image_table).withColumn("fmt", ident("fmt")))


def global_rank(d):
    return headline("text_metrics")(d).withColumn("r", F.row_number().over(Window.orderBy("id")))


PLANTS = {
    "cross join": (
        "extract_polygon", lambda d: headline("extract_polygon")(d).crossJoin(d.spark.range(2)), "cross joins"
    ),
    "extra repartition": (
        "tile_rollup", lambda d: headline("tile_rollup")(d).repartition(7), "shuffle Exchanges"
    ),
    "global window": ("text_metrics", global_rank, "SinglePartition"),
    "UDF before tags filter": ("image_extract_tile", udf_before_tags_filter, "not pushed"),
    "Python stage in the flagship": ("image_extract_tile", udf_before_tags_filter, "unexpected BatchEvalPython"),
}


@pytest.mark.parametrize("plant", PLANTS)
def test_checks_catch_planted_regressions(data, plant):
    row, build, message = PLANTS[plant]
    found = violations(plan_of(build(data)), ROWS[row][1])
    assert any(message in v for v in found), found


def test_envelope_check_catches_filter_above_pip(data):
    pts = data.nodes.select("id", "lon", "lat")
    late = pts.mapInPandas(lambda it: it, pts.schema).filter(F.col("lon").between(-5, 5))
    assert not envelope_below_pip(plan_of(late), -5, 5)
