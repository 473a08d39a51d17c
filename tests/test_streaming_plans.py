"""Structured Streaming CDC apply + checkpoint-resumable pipelines."""

import os

import pytest
from pyspark.sql import functions as F

from osmium_tool_spark.plans.checkpointed import CheckpointedPipeline, partition_histogram
from osmium_tool_spark.streaming.changes_stream import (
    SnapshotStore,
    apply_changes_stream,
    read_change_stream,
    stream_tile_counts,
)

CH_SCHEMA = (
    "type int, id long, version int, visible boolean, tags map<string,string>"
)


def test_apply_changes_stream_latest_wins(spark, tmp_path):
    chdir = str(tmp_path / "changes")
    os.makedirs(chdir)
    b1 = spark.createDataFrame(
        [(0, 1, 1, True, {"v": "a"}), (0, 2, 1, True, {"v": "b"})], CH_SCHEMA
    )
    b2 = spark.createDataFrame(
        [(0, 1, 2, True, {"v": "a2"}), (0, 2, 2, False, {})], CH_SCHEMA
    )
    b1.coalesce(1).write.parquet(chdir + "/b1")
    b2.coalesce(1).write.parquet(chdir + "/b2")
    # flatten into one stream dir (file source reads recursively via glob)
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    i = 0
    for sub in ("b1", "b2"):
        for fn in sorted(os.listdir(chdir + "/" + sub)):
            if fn.endswith(".parquet"):
                os.rename(f"{chdir}/{sub}/{fn}", f"{stream_dir}/{i:03d}.parquet")
                i += 1

    store = SnapshotStore(str(tmp_path / "snap"))
    changes = read_change_stream(spark, stream_dir, CH_SCHEMA)
    q = apply_changes_stream(changes, store, str(tmp_path / "ckpt")).start()
    q.awaitTermination(120)

    snap = store.read(spark)
    rows = {r.id: r for r in snap.collect()}
    assert rows[1].version == 2 and rows[1].tags["v"] == "a2"
    assert 2 not in rows  # deleted by the second batch
    assert store.current_version() >= 1  # one snapshot per micro-batch


def test_stream_tile_counts_plan_builds(spark):
    # streaming plan construction (watermark + window agg) over a rate-like
    # static frame converted via readStream is heavyweight; assert the
    # aggregation logic on a batch frame with identical expressions
    df = spark.createDataFrame(
        [(1, 0, 0, "2024-01-01 00:00:10"), (2, 0, 0, "2024-01-01 00:00:20")],
        "id long, lon long, lat long, ts string",
    ).withColumn("ts_ev", F.col("ts").cast("timestamp"))
    out = stream_tile_counts(df, res=4)  # batch DF: same API, no stream
    got = out.collect()
    assert got[0].n == 2  # same cell, same 1-minute window


def test_checkpointed_pipeline_resume(spark, tmp_path):
    root = str(tmp_path / "pipe")
    calls = {"a": 0, "b": 0}

    def build():
        p = CheckpointedPipeline(root)

        @p.stage("a")
        def a(s, prev):
            calls["a"] += 1
            return s.range(100).withColumnRenamed("id", "x")

        @p.stage("b")
        def b(s, prev):
            calls["b"] += 1
            return prev.filter(F.col("x") % 2 == 0)

        return p

    out1 = build().run(spark)
    assert out1.count() == 50
    assert calls == {"a": 1, "b": 1}

    # resume: nothing recomputes
    out2 = build().run(spark)
    assert out2.count() == 50
    assert calls == {"a": 1, "b": 1}

    # force from b: only b recomputes
    out3 = build().run(spark, force_from="b")
    assert out3.count() == 50
    assert calls == {"a": 1, "b": 2}

    # lineage + per-partition metrics persisted
    m = build().metrics("b")
    assert m["rows_out"] == 50 and m["rows_in"] == 100
    assert sum(m["partition_rows"]) == 50
    assert os.path.exists(os.path.join(root, "lineage.jsonl"))


def _two_stage(root, calls):
    p = CheckpointedPipeline(root)

    @p.stage("a")
    def a(s, prev):
        calls["a"] += 1
        return s.range(10).withColumnRenamed("id", "x")

    @p.stage("b")
    def b(s, prev):
        calls["b"] += 1
        return prev.filter(F.col("x") % 2 == 0)

    return p


def test_checkpointed_data_without_metrics_reruns(spark, tmp_path):
    root = str(tmp_path / "pipe")
    calls = {"a": 0, "b": 0}
    _two_stage(root, calls).run(spark)
    os.remove(os.path.join(root, "a", "metrics.json"))  # _SUCCESS data stays
    assert _two_stage(root, calls).run(spark).count() == 5
    assert calls == {"a": 2, "b": 1}


def test_checkpointed_metrics_without_data_reruns(spark, tmp_path):
    import shutil

    root = str(tmp_path / "pipe")
    calls = {"a": 0, "b": 0}
    _two_stage(root, calls).run(spark)
    shutil.rmtree(os.path.join(root, "a", "data"))  # metrics.json stays
    assert _two_stage(root, calls).run(spark).count() == 5
    assert calls == {"a": 2, "b": 1}


def test_checkpointed_lineage_failure_then_resume(spark, tmp_path):
    """A crash in the lineage append must not leave the stage complete:
    the resume reruns it, so every completed stage has a record."""
    import json

    root = str(tmp_path / "pipe")
    lineage = os.path.join(root, "lineage.jsonl")
    os.makedirs(lineage)  # a directory there makes the append fail
    calls = {"a": 0, "b": 0}
    with pytest.raises(OSError):
        _two_stage(root, calls).run(spark)
    os.rmdir(lineage)
    _two_stage(root, calls).run(spark)
    with open(lineage) as f:
        stages = [json.loads(line)["stage"] for line in f]
    assert stages == ["a", "b"]
    assert calls == {"a": 2, "b": 1}


def test_partition_histogram(spark):
    df = spark.range(0, 100, 1, 4)
    hist = partition_histogram(df)
    assert sum(hist) == 100 and len(hist) == 4


def test_stream_tile_counts_executes_as_stream(spark, tmp_path):
    """Run the watermarked tile rollup as an ACTUAL streaming query
    (file source, availableNow trigger, memory sink, append mode)."""
    src = str(tmp_path / "nodes_stream")
    os.makedirs(src)
    batch = spark.createDataFrame(
        [
            (1, 0, 0, "2024-01-01 00:00:10"),
            (2, 0, 0, "2024-01-01 00:00:40"),
            (3, 900_000_000, 450_000_000, "2024-01-01 00:00:20"),
        ],
        "id long, lon long, lat long, ts string",
    ).withColumn("ts_ev", F.col("ts").cast("timestamp")).drop("ts")
    batch.coalesce(1).write.parquet(src + "/b0")
    import shutil

    for fn in os.listdir(src + "/b0"):
        if fn.endswith(".parquet"):
            shutil.move(f"{src}/b0/{fn}", f"{src}/{fn}")
    shutil.rmtree(src + "/b0")

    stream = (
        spark.readStream.schema("id long, lon long, lat long, ts_ev timestamp")
        .parquet(src)
    )
    from osmium_tool_spark.streaming.changes_stream import stream_tile_counts

    out = stream_tile_counts(stream, res=4, watermark="1 minute", window="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("tiles_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM tiles_stream").collect()
    # two cells; the origin cell has 2 rows in the same 1-minute window
    by_cell = {}
    for r in rows:
        by_cell[r.cell] = by_cell.get(r.cell, 0) + r.n
    assert sorted(by_cell.values()) == [1, 2]


def test_stream_matches_batch_apply_changes_on_testdata(spark, tmp_path):
    """Equivalence proof: replaying the same change batches through the
    Structured Streaming CDC path yields exactly the batch
    apply_changes result (latest-wins, deletes dropped) on real
    testdata-derived objects."""
    from osmium_tool_spark.operators.changes import apply_changes
    from osmium_tool_spark.sources.testdata import load

    orders = load(spark, "/root/testdata/sf0.001", "orders")
    base = orders.select(
        F.lit(0).alias("type"),
        F.col("o_orderkey").alias("id"),
        F.lit(1).alias("version"),
        F.lit(True).alias("visible"),
        F.create_map(F.lit("status"), F.col("o_orderstatus")).alias("tags"),
    )
    c1 = (
        base.filter(F.col("id") % 3 == 0)
        .withColumn("version", F.lit(2))
        .withColumn("tags", F.map_concat("tags", F.create_map(F.lit("mark"), F.lit("1"))))
    )
    c2 = (
        base.filter(F.col("id") % 10 == 0)
        .withColumn("version", F.lit(3))
        .withColumn("visible", F.lit(False))
    )
    want = {
        (r.id, r.version, (r.tags or {}).get("mark"))
        for r in apply_changes(base, [c1, c2]).collect()
    }

    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    for i, df in enumerate((base, c1, c2)):
        sub = str(tmp_path / f"b{i}")
        df.coalesce(1).write.parquet(sub)
        for fn in sorted(os.listdir(sub)):
            if fn.endswith(".parquet"):
                os.rename(f"{sub}/{fn}", f"{stream_dir}/{i:03d}.parquet")

    store = SnapshotStore(str(tmp_path / "snap"))
    changes = read_change_stream(spark, stream_dir, CH_SCHEMA)
    q = apply_changes_stream(changes, store, str(tmp_path / "ckpt")).start()
    q.awaitTermination(180)
    got = {
        (r.id, r.version, (r.tags or {}).get("mark"))
        for r in store.read(spark).collect()
    }
    assert got == want and want


def test_flagship_checkpointed_resume(spark, tmp_path):
    """Checkpointed flagship == single-plan flagship; resume skips the
    input-sized stage; force_from invalidates a suffix only."""
    import json

    from pyspark.sql import functions as F

    from osmium_tool_spark.functions.geometry import Extract
    from osmium_tool_spark.operators.pipeline import (
        image_extract_tile,
        image_extract_tile_checkpointed,
    )
    from osmium_tool_spark.sources.images import synth_images

    img_path = str(tmp_path / "images")
    synth_images(spark, 5000, partitions=4).write.parquet(img_path)
    extracts = [Extract.bbox(0, -170, -60, -40, 60), Extract.bbox(1, -30, -60, 170, 60)]
    exprs = ["n/fmt=png,jpeg"]
    root = str(tmp_path / "ck_flagship")

    out1 = image_extract_tile_checkpointed(spark, img_path, exprs, extracts, root)
    direct = image_extract_tile(
        spark.read.parquet(img_path), exprs, extracts, cell_res=8
    )
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, direct.collect()))

    # lineage: one record per stage, input-sized stage first
    lines = [json.loads(l) for l in open(f"{root}/lineage.jsonl")]
    assert [l["stage"] for l in lines] == ["filter_georef", "assign", "rollup"]
    assert all(l["rows_out"] > 0 and l["partition_rows"] for l in lines)

    # resume: second run must not rewrite any stage (mtimes unchanged)
    import os

    mt = {s: os.path.getmtime(f"{root}/{s}/metrics.json") for s in ("filter_georef", "assign", "rollup")}
    out2 = image_extract_tile_checkpointed(spark, img_path, exprs, extracts, root)
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, out1.collect()))
    assert all(os.path.getmtime(f"{root}/{s}/metrics.json") == mt[s] for s in mt)

    # force_from=rollup recomputes only the rollup stage
    image_extract_tile_checkpointed(spark, img_path, exprs, extracts, root, force_from="rollup")
    assert os.path.getmtime(f"{root}/filter_georef/metrics.json") == mt["filter_georef"]
    assert os.path.getmtime(f"{root}/assign/metrics.json") == mt["assign"]
    assert os.path.getmtime(f"{root}/rollup/metrics.json") > mt["rollup"]
