"""Executor kernels must run on Python workers that cannot import
osmium_tool_spark. A driver script in a temp directory (no PYTHONPATH,
cwd away from the repo) puts the repo on its own sys.path only; the
workers it spawns do not see it. A control `map` that calls a package
function by reference must fail there with ModuleNotFoundError, which
proves the harness; the large-polygon `assign_extracts`, a two-polygon
`spatial_join` and `decode_codec_meta` over a PNG must then succeed,
because their kernels carry `functions/geometry.py` and the codec
modules by value."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import sys
sys.path.insert(0, {repo!r})

import numpy as np
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .appName("kernels-by-value")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from osmium_tool_spark import schema
from osmium_tool_spark.functions import png
from osmium_tool_spark.functions.geometry import Extract, normalize_ring
from osmium_tool_spark.operators.extract import assign_extracts
from osmium_tool_spark.operators.spatial_join import spatial_join
from osmium_tool_spark.sources.images import decode_codec_meta

try:
    spark.sparkContext.parallelize([1.5], 1).map(schema.fp).collect()
    print("CONTROL_IMPORTED")
except Exception as e:
    if "ModuleNotFoundError" in str(e):
        print("CONTROL_MODULE_NOT_FOUND")


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

ex = Extract.polygon(1, [ngon(200, 1_000_000), normalize_ring(ngon(200, 500_000), outer=False)])
want = set(np.flatnonzero(ex.index.contains(xs, ys)).tolist())
got = {{r.id for r in assign_extracts(nodes, [ex]).collect()}}
print("EXTRACT", got == want and len(want) > 0)

rings = {{7: [ngon(90, 600_000, -400_000, 0)], 8: [ngon(5, 500_000, 500_000, 200_000)]}}
polys = spark.createDataFrame(
    [(k, [[{{"x": int(x), "y": int(y)}} for x, y in ring] for ring in rs]) for k, rs in rings.items()],
    "poly_id long, rings array<array<struct<x:long,y:long>>>",
)
want = {{
    (k, int(i))
    for k, rs in rings.items()
    for i in np.flatnonzero(Extract.polygon(k, rs).index.contains(xs, ys))
}}
got = {{tuple(r) for r in spatial_join(nodes, polys, res=16).select("poly_id", "id").collect()}}
print("SPATIAL_JOIN", got == want and {{k for k, _ in want}} == {{7, 8}})

img = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5).astype(np.uint8)
meta = decode_codec_meta(
    spark.createDataFrame([("a", png.encode_gray(img))], "image_id string, bytes binary")
).collect()[0]
print("DECODE", (meta.w, meta.h, meta.fmt) == (8, 6, "png"))
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
    for marker in ("EXTRACT True", "SPATIAL_JOIN True", "DECODE True"):
        assert marker in out, out[-2000:]
