"""Checkpoint-resumable pipelines with per-partition lineage + metrics.

North-rule requirement: jobs over the 10^12-row table must be "resumable
from checkpoint with per-partition lineage and metrics persisted". The
reference has no analog (single-process, rerun-from-scratch); this is new
Spark-first surface:

  - a pipeline is an ordered list of named stages (DataFrame->DataFrame);
  - each completed stage is materialized to `<root>/<stage>/data`
    (parquet; Iceberg table in production) with `metrics.json` holding
    row counts, wall time, and PER-PARTITION row counts
    (spark_partition_id histogram — the skew detector's input);
  - `lineage.jsonl` appends one record per stage run: stage name, parent
    stage, rows in/out, partitions, duration;
  - re-running skips stages whose data + metrics already exist (resume
    from the last completed checkpoint); `force_from` invalidates a
    suffix of the plan. `metrics.json` is the stage's last write, after
    its lineage and metrics-table records, so a crash anywhere before it
    reruns the stage instead of leaving it complete without a record.

The per-partition histograms are what you read before choosing a salting
factor for skewed cells (SURVEY.md §4 skew row).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def partition_histogram(df: DataFrame) -> list[int]:
    """Rows per physical partition (skew diagnostic)."""
    counts = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .orderBy("pid")
        .collect()
    )
    return [int(r["count"]) for r in counts]


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, DataFrame | None], DataFrame]


METRICS_SCHEMA = (
    "run_root string, stage string, parent string, rows_in long, "
    "rows_out long, partitions int, partition_rows array<long>, "
    "max_partition_rows long, skew_ratio double, wall_s double"
)


@dataclass
class CheckpointedPipeline:
    """`metrics_table` (a sources.snapshots.SnapshotTable) additionally
    persists every stage's metrics record as an appended snapshot — the
    north rule's "per-partition lineage and metrics persisted to
    Iceberg": the metrics history is itself a queryable, time-travelable
    table (schema METRICS_SCHEMA), not just driver-side JSON."""

    root: str
    stages: list[Stage] = field(default_factory=list)
    metrics_table: "object | None" = None

    def stage(self, name: str):
        """Decorator: register fn(spark, prev_df|None) -> DataFrame."""

        def reg(fn):
            self.stages.append(Stage(name, fn))
            return fn

        return reg

    # --- paths -----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _data(self, name: str) -> str:
        return os.path.join(self._dir(name), "data")

    def _metrics(self, name: str) -> str:
        return os.path.join(self._dir(name), "metrics.json")

    def completed(self, name: str) -> bool:
        return os.path.exists(self._metrics(name)) and os.path.exists(
            os.path.join(self._data(name), "_SUCCESS")
        )

    def metrics(self, name: str) -> dict:
        with open(self._metrics(name)) as f:
            return json.load(f)

    def invalidate(self, name: str) -> None:
        shutil.rmtree(self._dir(name), ignore_errors=True)

    # --- execution -------------------------------------------------------
    def run(
        self, spark: SparkSession, force_from: str | None = None
    ) -> DataFrame:
        """Execute the plan, resuming past completed stages.

        Returns the final stage's DataFrame (read back from its
        checkpoint, so downstream work never recomputes the plan)."""
        os.makedirs(self.root, exist_ok=True)
        forcing = False
        prev: DataFrame | None = None
        prev_name: str | None = None
        prev_rows: int | None = None
        for st in self.stages:
            if st.name == force_from:
                forcing = True
            if forcing:
                self.invalidate(st.name)
            if self.completed(st.name):
                prev = spark.read.parquet(self._data(st.name))
                prev_rows = self.metrics(st.name)["rows_out"]
                prev_name = st.name
                continue
            t0 = time.time()
            out = st.fn(spark, prev)
            out.write.mode("overwrite").parquet(self._data(st.name))
            result = spark.read.parquet(self._data(st.name))
            hist = partition_histogram(result)
            rows_out = sum(hist)
            metrics = {
                "stage": st.name,
                "parent": prev_name,
                "rows_in": prev_rows,
                "rows_out": rows_out,
                "partitions": len(hist),
                "partition_rows": hist,
                "max_partition_rows": max(hist) if hist else 0,
                "skew_ratio": (
                    round(max(hist) * len(hist) / rows_out, 3)
                    if rows_out and hist
                    else None
                ),
                "wall_s": round(time.time() - t0, 3),
            }
            tmp = self._metrics(st.name) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(metrics, f)
            with open(os.path.join(self.root, "lineage.jsonl"), "a") as f:
                f.write(json.dumps(metrics) + "\n")
            if self.metrics_table is not None:
                row = (
                    self.root,
                    st.name,
                    prev_name,
                    prev_rows,
                    rows_out,
                    len(hist),
                    hist,
                    metrics["max_partition_rows"],
                    metrics["skew_ratio"],
                    metrics["wall_s"],
                )
                self.metrics_table.append(
                    spark,
                    spark.createDataFrame([row], METRICS_SCHEMA).coalesce(1),
                    stage=st.name,
                )
            os.replace(tmp, self._metrics(st.name))  # marks the stage complete
            prev, prev_name, prev_rows = result, st.name, rows_out
        if prev is None:
            raise ValueError("pipeline has no stages")
        return prev
