"""Executor kernels must run on Python workers that cannot import
osmium_tool_spark. A driver script in a temp directory (no PYTHONPATH,
cwd away from the repo) puts the repo on its own sys.path only; the
workers it spawns do not see it. A control `map` that calls a package
function by reference must fail there with ModuleNotFoundError, which
proves the harness; `polygon_rasterize` (checked against the driver's own
runs), the large-polygon `assign_extracts` and a two-polygon
`spatial_join` (each run with geometry's by-value registration cleared, as
it is process-wide), `decode_codec_meta` over
a PNG, a PBF write->read of nodes, ways and relations, the distributed
XML read, `write_mvt_tiles` and `read_opl` must then succeed, because
their kernels carry
`functions/geometry.py`, the image codecs, `functions/protowire.py`
and the PBF/XML source modules by value."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import sys
sys.path.insert(0, {repo!r})

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .appName("kernels-by-value")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from osmium_tool_spark import schema
from osmium_tool_spark.functions import png
from osmium_tool_spark.functions.geometry import (
    Extract, normalize_ring, run_cells, scanline_runs, segments,
)
from osmium_tool_spark.operators.extract import assign_extracts
from osmium_tool_spark.operators.spatial_join import spatial_join
from osmium_tool_spark.operators.tiles import polygon_rasterize
from osmium_tool_spark.sources.images import decode_codec_meta

try:
    spark.sparkContext.parallelize([1.5], 1).map(schema.fp).collect()
    print("CONTROL_IMPORTED")
except Exception as e:
    if "ModuleNotFoundError" in str(e):
        print("CONTROL_MODULE_NOT_FOUND")


def unship():
    # by-value registration is process-wide: forget what earlier kernels
    # registered, so the next kernel passes only on its own ship_by_value()
    for name in ("osmium_tool_spark.functions.geometry", "osmium_tool_spark.functions.cells"):
        if name in cloudpickle.list_registry_pickle_by_value():
            cloudpickle.unregister_pickle_by_value(sys.modules[name])


def ngon(n, r, cx=0, cy=0):
    t = 2 * np.pi * np.arange(n) / n
    pts = np.stack([np.round(cx + r * np.cos(t)), np.round(cy + r * np.sin(t))], axis=1)
    return np.vstack([pts, pts[:1]]).astype(np.int64)


rng = np.random.default_rng(5)
xs = rng.integers(-1_100_000, 1_100_001, 1500)
ys = rng.integers(-1_100_000, 1_100_001, 1500)
nodes = spark.createDataFrame(
    [(i, int(x), int(y)) for i, (x, y) in enumerate(zip(xs, ys))],
    "id long, lon long, lat long",
)

rings = {{7: [ngon(90, 600_000, -400_000, 0)], 8: [ngon(5, 500_000, 500_000, 200_000)]}}
polys = spark.createDataFrame(
    [(k, [[{{"x": int(x), "y": int(y)}} for x, y in ring] for ring in rs]) for k, rs in rings.items()],
    "poly_id long, rings array<array<struct<x:long,y:long>>>",
)

want = set()
for k, rs in rings.items():
    cx, cy = run_cells(scanline_runs(segments(rs), 16))
    want |= {{(k, x, y) for x, y in zip(cx.tolist(), cy.tolist())}}
unship()
got = {{tuple(r) for r in polygon_rasterize(polys, res=16).collect()}}
print("RASTERIZE", got == want and {{k for k, _, _ in want}} == {{7, 8}})

ex = Extract.polygon(1, [ngon(200, 1_000_000), normalize_ring(ngon(200, 500_000), outer=False)])
want = set(np.flatnonzero(ex.index.contains(xs, ys)).tolist())
unship()
got = {{r.id for r in assign_extracts(nodes, [ex]).collect()}}
print("EXTRACT", got == want and len(want) > 0)

want = {{
    (k, int(i))
    for k, rs in rings.items()
    for i in np.flatnonzero(Extract.polygon(k, rs).index.contains(xs, ys))
}}
unship()
got = {{tuple(r) for r in spatial_join(nodes, polys, res=16).select("poly_id", "id").collect()}}
print("SPATIAL_JOIN", got == want and {{k for k, _ in want}} == {{7, 8}})

img = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5).astype(np.uint8)
meta = decode_codec_meta(
    spark.createDataFrame([("a", png.encode_gray(img))], "image_id string, bytes binary")
).collect()[0]
print("DECODE", (meta.w, meta.h, meta.fmt) == (8, 6, "png"))

from osmium_tool_spark.sinks.mvt import write_mvt_tiles
from osmium_tool_spark.sinks.pbf import write_osm_pbf
from tests.fixtures import _df, _node, _rel, _way
from osmium_tool_spark.sources.opl import _make_parser, read_opl
from osmium_tool_spark.sources.osmxml import read_osm_xml
from osmium_tool_spark.sources.pbf import read_osm_pbf


def canon(df):
    return sorted(map(str, df.collect()))


ts = 1_420_074_000_000_000
ents = _df(spark, [
    _node(-1, 1.5, -2.25, {{"a": "1"}}, ts=ts), _node(2, 3.0, 4.0, ts=ts),
    _way(5, [-1, 2], {{"highway": "x"}}, ts=ts),
    _rel(-6, [(1, 5, "outer"), (0, -1, "")], {{"type": "multipolygon"}}, ts=ts),
])
write_osm_pbf(ents, "e.osm.pbf")
print("PBF", canon(read_osm_pbf(spark, "e.osm.pbf")) == canon(ents))

with open("e.osm", "w") as f:
    f.write('<osm version="0.6">\\n')
    for i in range(1, 41):
        f.write(f'  <node id="{{i}}" version="1" lat="{{i}}.5" lon="1.25">'
                f'<tag k="a" v="1"/><tag k="a" v="{{i}}"/></node>\\n')
    f.write('  <way id="1" version="1"><nd ref="1"/><nd ref="2"/></way>\\n')
    f.write('  <relation id="1"><member type="way" ref="1" role="r"/></relation>\\n')
    f.write("</osm>\\n")
dist = read_osm_xml(spark, "e.osm", distributed_min_bytes=1)
print("XML", canon(dist) == canon(read_osm_xml(spark, "e.osm")) and dist.count() == 42)

pts = spark.createDataFrame([(i, i * 7_000_000, i * 3_000_000) for i in range(50)],
                            "id long, lon long, lat long")
tiles = write_mvt_tiles(pts, res=3).collect()
print("MVT", sum(t.n_features for t in tiles) == 50
      and all(len(t.mvt) == t.mvt_bytes for t in tiles))

opl = ["n1 v1 dV c1 t2015-01-01T00:00:00Z i1 uu Ta=b x1.5 y2.5",
       "w2 v1 dV c1 t2015-01-01T00:00:00Z i1 uu Tk=v Nn1,n3",
       "r3 v1 dV c1 t2015-01-01T00:00:00Z i1 uu T Mw2@outer,n1@"]
with open("e.opl", "w") as f:
    f.write("\\n".join(opl) + "\\n")
want = _df(spark, [_make_parser()(ln) for ln in opl])
print("OPL", canon(read_opl(spark, "e.opl")) == canon(want))
spark.stop()
"""


def test_kernels_run_without_repo_on_worker_path(tmp_path):
    driver = tmp_path / "driver.py"
    driver.write_text(DRIVER.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    r = subprocess.run(
        [sys.executable, str(driver)],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # NOT the repo: workers must not import it
        env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    out = r.stdout
    assert "CONTROL_MODULE_NOT_FOUND" in out, out[-2000:]
    for marker in ("RASTERIZE True", "EXTRACT True", "SPATIAL_JOIN True", "DECODE True",
                   "PBF True", "XML True", "MVT True", "OPL True"):
        assert marker in out, out[-2000:]
