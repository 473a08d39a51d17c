"""Sorted entity writer with the reference's output contract.

Reference: the writer composes a header (`generator`,
`sorting=Type_then_ID`, optional bounds box) and writes objects in
canonical order (/root/reference/src/io.cpp:131-230,
command_extract.cpp:633-655, command_sort.cpp:148-154). Multi-extract
runs open one output per extract (command_extract.cpp:605-668).

Spark shape: the order contract is restored ON WRITE — range partition by
the canonical sort key then sortWithinPartitions, so every output file is
internally ordered and files are non-overlapping ranges (the distributed
equivalent of one ordered stream). Header key/values land in a
`_header.json` sidecar (Iceberg snapshot summary properties in
production). Multi-extract fan-out = `partitionBy("extract_id")` — one
directory per extract, written in a single pass.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sortkeys import id_sort_key

GENERATOR = "osmium_tool_spark/0.1.0"


def write_sorted(
    entities: DataFrame,
    path: str,
    header: dict | None = None,
) -> dict:
    """Write entities in canonical (type, id-order, version) order, as
    up to 8 range-partitioned parquet files.

    Returns the header dict that was persisted."""
    key = [F.col("type"), id_sort_key(F.col("id")).alias("__k"), F.col("version")]
    df = entities.repartitionByRange(8, *key)
    df.sortWithinPartitions(*key).write.mode("overwrite").parquet(path)

    hdr = {
        "generator": GENERATOR,
        "sorting": "Type_then_ID",
        **(header or {}),
    }
    with open(os.path.join(path, "_header.json"), "w") as f:
        json.dump(hdr, f)
    return hdr


def read_header(path: str) -> dict:
    with open(os.path.join(path, "_header.json")) as f:
        return json.load(f)
