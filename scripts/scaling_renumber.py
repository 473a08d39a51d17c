"""renumber on its distributed path over a synthetic entity set.

The benchmark's inputs are small enough for renumber's in-RAM id map; this
script covers the other side of that choice. It writes N nodes, N/10 ways
of 8 node refs and N/100 relations of 4 way and 2 node members to parquet,
sets spark.sql.autoBroadcastJoinThreshold=-1 so that renumber takes the
dense_index path, and runs it three times (the first is a warm-up) into
Spark's noop sink. Each run prints one JSON line with its wall time, jobs,
executor CPU, shuffle bytes and spill, read from Spark's event log.

`--package` imports osmium_tool_spark from another checkout, so that two
versions can be compared on the same data (`--data` keeps it between runs).

Usage: python scripts/scaling_renumber.py [--nodes N] [--data DIR] [--package DIR]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_entities(spark, path: str, n: int) -> None:
    from pyspark.sql import functions as F

    from osmium_tool_spark.schema import ENTITY_SCHEMA, NODE, RELATION, WAY

    def h(c, k):
        return F.abs(F.xxhash64(c, F.lit(k)))

    def meta(type_, id_):
        return [
            F.lit(type_).alias("type"),
            id_.alias("id"),
            F.lit(1).alias("version"),
            F.lit(True).alias("visible"),
            (h("id", 1) % 100000).alias("changeset"),
            (h("id", 2) % 10**9).alias("ts"),
            (h("id", 3) % 1000).cast("int").alias("uid"),
            F.lit("mapper").alias("user"),
        ]

    no_refs = F.lit(None).cast("array<bigint>").alias("refs")
    no_members = F.lit(None).cast(ENTITY_SCHEMA["members"].dataType).alias("members")
    no_coords = [F.lit(None).cast("int").alias("lon"), F.lit(None).cast("int").alias("lat")]

    def node_id(k):
        return k * 3 + 1  # sparse ids, as in real extracts

    nodes = spark.range(n).select(
        *meta(NODE, node_id(F.col("id"))),
        F.when(F.col("id") % 10 == 0, F.create_map(F.lit("amenity"), F.lit("bench"))).alias("tags"),
        (h("id", 4) % 3600000000 - 1800000000).cast("int").alias("lon"),
        (h("id", 5) % 1800000000 - 900000000).cast("int").alias("lat"),
        no_refs,
        no_members,
    )
    ways = spark.range(n // 10).select(
        *meta(WAY, F.col("id") + 1),
        F.create_map(F.lit("highway"), F.lit("residential")).alias("tags"),
        *no_coords,
        F.transform(F.sequence(F.lit(0), F.lit(7)), lambda i: node_id(h(F.col("id") * 8 + i, 6) % n)).alias("refs"),
        no_members,
    )

    def member(i):
        is_way = i < 4
        ref = F.when(is_way, h(F.col("id") * 6 + i, 7) % (n // 10) + 1).otherwise(
            node_id(h(F.col("id") * 6 + i, 8) % n)
        )
        return F.struct(
            F.when(is_way, F.lit(WAY)).otherwise(F.lit(NODE)).cast("int").alias("mtype"),
            ref.alias("ref"),
            F.lit("outer").alias("role"),
        )

    rels = spark.range(n // 100).select(
        *meta(RELATION, F.col("id") + 1),
        F.create_map(F.lit("type"), F.lit("route")).alias("tags"),
        *no_coords,
        no_refs,
        F.transform(F.sequence(F.lit(0), F.lit(5)), member).alias("members"),
    )
    ents = nodes.unionByName(ways).unionByName(rels)
    spark.createDataFrame(ents.rdd, ENTITY_SCHEMA).write.mode("overwrite").parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--nodes", type=int, default=3_000_000)
    ap.add_argument("--data", help="entity parquet directory, written if missing")
    ap.add_argument("--package", default=REPO, help="checkout to import osmium_tool_spark from")
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    sys.path.insert(0, args.package)
    sys.path.append(REPO)  # perfbench.eventlog
    work = tempfile.mkdtemp(prefix="scaling_renumber_")
    try:
        measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> None:
    from osmium_tool_spark.operators.idops import renumber
    from osmium_tool_spark.session import get_spark
    from perfbench.eventlog import parse

    data = args.data or os.path.join(work, "entities")
    spark = get_spark(
        "scaling-renumber",
        master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(data, "_SUCCESS")):
        write_entities(spark, data, args.nodes)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ents = spark.read.parquet(data)
    sc = spark.sparkContext
    walls = []
    for i in range(3):
        sc.setJobGroup(f"run{i}", "renumber")
        t0 = time.time()
        renumber(ents).write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()

    log = parse(max(glob.glob(os.path.join(work, "local-*")), key=os.path.getmtime))
    for i, wall in enumerate(walls):
        t = log.totals[f"run{i}"]
        print(
            json.dumps(
                {
                    "run": i,
                    "package": args.package,
                    "wall_s": round(wall, 2),
                    "jobs": t.jobs,
                    "executor_cpu_s": round(t.executor_cpu_ns / 1e9, 1),
                    "shuffle_write_mb": round(t.shuffle_write_bytes / 1e6, 1),
                    "shuffle_read_mb": round(t.shuffle_read_bytes / 1e6, 1),
                    "spill_mb": round(t.spill_bytes / 1e6, 1),
                }
            )
        )


if __name__ == "__main__":
    main()
