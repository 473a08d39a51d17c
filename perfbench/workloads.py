"""The closed-loop workloads (one client each).

A workload generates and materializes its standing inputs during set-up,
yields a seeded schedule of ops, runs one op (a complete call plus its
action, the only timed part) and checks an op's output against
expectations computed outside the timed region.
"""

from __future__ import annotations

import math
import os
import random

from . import inputs, oracles

CKPT_STAGES = ("filter_georef", "assign", "rollup")
PREFIX_REPS = 3  # noop writes per plan prefix; the median is kept


def tile_fingerprint(tiles) -> tuple[int, int, int]:
    """(rows, images, checksum) of an (extract_id, cell, n_images) rollup,
    as one aggregate row; the DuckDB twin is oracles.tiles_expected."""
    from pyspark.sql import functions as F

    chk = ((F.col("cell") % oracles.CHECK_MOD) + 1) * (
        F.col("n_images") + F.col("extract_id") * oracles.CHECK_MIX
    )
    r = tiles.agg(F.count("*"), F.sum("n_images"), F.sum(chk)).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under path."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return size, files


class Workload:
    name = ""
    round_size = 1  # a run ends on a multiple of this many ops
    min_rounds = 1

    def __init__(self, seed: int, cpus: int):
        self.seed = seed
        self.cpus = cpus
        self.rng = random.Random(seed)

    def make_inputs(self, spark, root: str) -> None:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Compute the expected outputs (outside every timed region)."""

    def next_op(self, i: int):
        raise NotImplementedError

    def warmup_ops(self) -> list:
        """The ops each set-up ends with."""
        return [self.next_op(0)]

    def settle_ops(self) -> list:
        """Untimed ops run after the set-ups, right before measuring."""
        raise NotImplementedError

    def run_op(self, spark, spec):
        raise NotImplementedError

    def check(self, spec, result) -> bool:
        raise NotImplementedError

    def trace_extras(self, spark, tracer) -> tuple[dict, list[dict]]:
        """Workload-specific per-layer numbers measured in the traced
        phase, and the extra traced probe ops run for them."""
        return {}, []


class Tiles(Workload):
    """Fused image_extract_tile over the standing parquet image table."""

    name = "tiles"
    # planning one call costs ~1 CPU second and each 500k rows ~1.1 more:
    # at 100k, 500k and 1M rows an op cost 1.95, 2.88 and 3.97 CPU seconds
    n_images = 1_000_000

    def settle_ops(self):
        # every call plans anew and its generated code is compiled again, so
        # the JIT compiles ~0.7 s per op for good; what it compiles beyond
        # that dies down over ~8 ops from a cold JVM: ops 1-8 cost 7.5, 6.0,
        # 5.2, 5.2, 5.1, 4.5, 4.2 and 3.5 CPU seconds, later ones 3.1-4.1
        return [self.next_op(0)] * 6

    def make_inputs(self, spark, root):
        self.table = os.path.join(root, "images")
        self.rows_per_op = self.n_images
        self.extracts = inputs.tile_extracts(self.seed)
        parts = spark.sparkContext.defaultParallelism * 4
        inputs.image_table(spark, self.seed, self.n_images, parts).write.mode(
            "overwrite").parquet(self.table)

    def prepare_checks(self):
        self.expected = oracles.tiles_expected(
            self.table, self.extracts,
            "fmt IN ('png', 'jpeg') OR caption LIKE 'caption%'",
            inputs.TILE_CELL_RES, self.cpus,
        )

    def next_op(self, i):
        return ("tiles", i)

    def run_op(self, spark, spec):
        from osmium_tool_spark.operators.pipeline import image_extract_tile

        tiles = image_extract_tile(
            spark.read.parquet(self.table), inputs.TILE_PREDICATES,
            self.extracts, cell_res=inputs.TILE_CELL_RES,
        )
        return tile_fingerprint(tiles)

    def check(self, spec, result):
        return result == self.expected

    def trace_extras(self, spark, tracer):
        """Self time of each cumulative plan prefix of one image_extract_tile
        call, each timed as the median of PREFIX_REPS noop writes; the share
        of (row, extract) tests that hit; and the traced probes."""
        import statistics
        import time

        prefixes = plan_prefixes(spark, self.table, self.extracts)
        sc = spark.sparkContext
        out, prev = {}, 0.0
        for name, df in prefixes.items():
            sc.setJobGroup(f"prefix-{name}", name)
            ts = []
            for _ in range(PREFIX_REPS):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            cum = statistics.median(ts)
            out[f"tiles.{name}_s"] = cum - prev
            prev = cum
        sc.setJobGroup("prefix-counts", "counts")
        rollup_ok = tile_fingerprint(prefixes["rollup"]) == self.expected
        if "georef" in prefixes and "extract" in prefixes:
            out["extract.pip_hit_ratio"] = prefixes["extract"].count() / (
                prefixes["georef"].count() * len(self.extracts))
        probes = self.probes(spark, tracer, os.path.join(os.path.dirname(self.table), "probes"))
        probes.append({"group": "prefix-counts", "kind": "prefix", "ok": rollup_ok})
        return out, probes

    def probes(self, spark, tracer, root: str) -> list[dict]:
        """Traced runs of the checkpoint-resumable variant (a fresh run,
        then a resume with force_from="rollup") and of the codec decode
        over a small PNG/JPEG payload table."""
        from osmium_tool_spark.operators.pipeline import image_extract_tile_checkpointed
        from osmium_tool_spark.sources.images import decode_codec_meta

        ckpt = os.path.join(root, "ckpt")
        out = []
        for kind in ("fresh", "resume"):
            p = traced_probe(spark, tracer, f"ckpt-{kind}", kind, lambda kind=kind: tile_fingerprint(
                image_extract_tile_checkpointed(
                    spark, self.table, inputs.TILE_PREDICATES, self.extracts, ckpt,
                    cell_res=inputs.TILE_CELL_RES,
                    force_from="rollup" if kind == "resume" else None)))
            p["ok"] = p.pop("result") == self.expected
            p["extra"] = {st: dir_stats(os.path.join(ckpt, st)) for st in CKPT_STAGES}
            out.append(p)
        codec = CodecTable(spark, self.seed, os.path.join(root, "codec"))
        problems = codec.psnr_problems()
        for r in range(2):
            p = traced_probe(spark, tracer, f"codec-{r}", "codec", lambda: decode_codec_meta(
                spark.read.parquet(codec.table)).collect())
            p["ok"] = codec.check(p.pop("result")) and not problems
            out.append(p)
        return out


def plan_prefixes(spark, table: str, extracts) -> dict:
    """The cumulative plan prefixes of one image_extract_tile call, taken
    from inside the call: the scan it is given, the first filter applied to
    that scan, the input and output of its assign_extracts call, and its
    result. A prefix the call no longer builds is left out."""
    from osmium_tool_spark.operators import pipeline

    images = spark.read.parquet(table)
    cls = type(images)
    seen: dict = {}
    orig_filter, orig_assign = cls.filter, pipeline.assign_extracts

    def filter_(self, condition):
        out = orig_filter(self, condition)
        if self is images:
            seen.setdefault("tags_filter", out)
        return out

    def assign(nodes, *args, **kwargs):
        out = orig_assign(nodes, *args, **kwargs)
        seen["georef"], seen["extract"] = nodes, out
        return out

    cls.filter, pipeline.assign_extracts = filter_, assign
    try:
        rolled = pipeline.image_extract_tile(
            images, inputs.TILE_PREDICATES, extracts, cell_res=inputs.TILE_CELL_RES)
    finally:
        cls.filter, pipeline.assign_extracts = orig_filter, orig_assign
    # a noop write materializes every column of its input: the scan and
    # the filter keep only what the later prefixes read from the scan
    cols = scan_columns(seen.get("georef", rolled))
    out = {"scan": images.select(*cols)}
    if "tags_filter" in seen:
        out["tags_filter"] = seen["tags_filter"].select(*cols)
    out.update({k: seen[k] for k in ("georef", "extract") if k in seen})
    out["rollup"] = rolled
    return out


def scan_columns(df) -> list[str]:
    """The columns the physical plan of df reads from its parquet scan."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "FileSourceScanExec":
            return list(leaf.requiredSchema().fieldNames())
    return df.columns


def traced_probe(spark, tracer, group: str, kind: str, fn) -> dict:
    """Run fn as one traced op of its own job group (not a measured op)."""
    import time

    spark.sparkContext.setJobGroup(group, kind)
    tracer.op = group
    t0 = time.perf_counter()
    try:
        with tracer.span(f"op.{kind}", "op") as sp:
            result = fn()
    finally:
        tracer.op = None
    return {"group": group, "kind": kind, "start": sp["start"], "end": sp["end"],
            "seconds": time.perf_counter() - t0, "result": result}


class CodecTable:
    """A standing table of real PNG and baseline-JPEG payloads (the
    registry's jpeg_decode_invariant geometry), with its output checks:
    exact w/h/fmt, lossless PNG, JPEG mean luma within a bound, and a
    PSNR floor on a sample of JPEG payloads decoded in the driver."""

    n = 1000
    luma_bound = 2.0
    psnr_floor_db = 40.0
    psnr_sample = 64

    def __init__(self, spark, seed: int, table: str):
        from pyspark.sql import functions as F

        from osmium_tool_spark.sources.images import (
            encode_pattern_jpeg_images,
            encode_pattern_png_images,
        )

        self.table = table
        self.expected = inputs.codec_expected(seed, self.n)
        base = inputs.codec_base(spark, seed, self.n)
        png = encode_pattern_png_images(base.filter(F.col("key") % 2 == 0))
        jpg = encode_pattern_jpeg_images(base.filter(F.col("key") % 2 == 1), quality=95)
        png.unionByName(jpg).write.mode("overwrite").parquet(table)

    def psnr_problems(self) -> list[str]:
        import numpy as np
        import pyarrow.parquet as pq

        from osmium_tool_spark.functions import jpeg

        t = pq.read_table(self.table, columns=["image_id", "bytes", "w", "h", "val"])
        problems, checked = [], 0
        for iid, payload, w, h, val in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            if payload[:2] != b"\xff\xd8" or checked >= self.psnr_sample:
                continue
            checked += 1
            ref = (val * 31 + np.arange(h)[:, None] * 13 + np.arange(w)[None, :] * 7) % 256
            img = jpeg.decode(payload).reshape(h, w).astype(np.float64)
            mse = float(((img - ref) ** 2).mean())
            psnr = math.inf if mse == 0 else 10 * math.log10(255.0 ** 2 / mse)
            if psnr < self.psnr_floor_db:
                problems.append(f"{iid}: JPEG PSNR {psnr:.1f} dB < {self.psnr_floor_db}")
        if not checked:
            problems.append("no JPEG payloads in the codec table")
        return problems

    def check(self, rows) -> bool:
        if len(rows) != len(self.expected):
            return False
        for r in rows:
            exp = self.expected.get(r["image_id"])
            if exp is None or (r["w"], r["h"], r["fmt"]) != exp[:3]:
                return False
            bound = 1e-9 if exp[2] == "png" else self.luma_bound
            if abs(r["mean_luma"] - exp[3]) > bound:
                return False
        return True


class OsmGraph(Workload):
    """Registry id/closure queries over a seeded TPC-H-shaped entity set."""

    name = "osm_graph"
    # extract_bbox_simple is left out to fit the runs' time budget: it
    # exercises the same extract layer as extract_complete_ways
    queries = ["extract_complete_ways", "tags_filter_closure", "getid_recursive", "renumber"]
    round_size = len(queries)
    # two samples of every query, whether a round takes 8 s or 12 s
    min_rounds = 2

    def __init__(self, seed: int, cpus: int):
        from osmium_tool_spark.sources import testdata

        super().__init__(seed, cpus)
        self._derive = testdata.entities

    def make_inputs(self, spark, root):
        from osmium_tool_spark.sources import testdata

        self.sf_dir = os.path.join(root, "sf")
        self.rows_per_op = inputs.graph_tables(self.seed, self.sf_dir)
        # the standing entity table, materialized here instead of the
        # package's fixed temp location; the registry queries read it
        # through testdata.entities
        path = os.path.join(root, "entities")
        self._derive(spark, self.sf_dir, materialize=False).write.mode("overwrite").parquet(path)

        def entities(spark, sf_dir, materialize=True):
            return spark.read.parquet(path)

        testdata.entities = entities
        self._order: list[str] = []

    def prepare_checks(self):
        self.expected = oracles.graph_expected(self.sf_dir, self.queries, self.cpus)

    def next_op(self, i):
        if not self._order:
            self._order = self.queries[:]
            self.rng.shuffle(self._order)
        return self._order.pop()

    def warmup_ops(self):
        return self.queries[:1]

    def settle_ops(self):
        # every query once: all but one would be cold when measured
        return self.queries[:]

    def run_op(self, spark, spec):
        import __spark_entry__ as entry

        df = entry.queries()[spec](spark, self.sf_dir)
        return df.collect(), df.columns

    def check(self, spec, result):
        rows, cols = result
        return oracles.canon(rows, cols) == self.expected[spec]


WORKLOADS = {w.name: w for w in (Tiles, OsmGraph)}
