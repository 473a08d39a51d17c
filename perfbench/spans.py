"""In-memory span recorder wrapped around the package's public calls.

Spans are recorded from outside the package: `Tracer.install` replaces
each target function (and every module-level alias of it inside the
package, e.g. `pipeline.assign_extracts`) with a wrapper that opens a
span. A span records name, start, end, parent and op id. While a span
is open the Spark local property `perfbench.span` carries its id, so
every job Spark submits from inside it names the span in the event log
and eager jobs are charged to the call that launched them.

Spans stay in memory; `dump` writes them out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from contextlib import contextmanager

# (layer, module, attribute) -- attribute may be "Class.method"
TARGETS = [
    ("sources", "osmium_tool_spark.sources.images", "decode_codec_meta"),
    ("sources", "osmium_tool_spark.sources.testdata", "entities"),
    ("sources", "pyspark.sql.readwriter", "DataFrameReader.parquet"),
    ("sources", "pyspark.sql.readwriter", "DataFrameWriter.parquet"),
    ("functions", "osmium_tool_spark.functions.tagexpr", "CompiledFilter.__init__"),
    ("functions", "osmium_tool_spark.functions.tagexpr", "CompiledFilter.matches_node_columns"),
    ("functions", "osmium_tool_spark.functions.cells", "cell_id"),
    ("functions", "osmium_tool_spark.functions.zipindex", "dense_index"),
    ("operators", "osmium_tool_spark.operators.pipeline", "image_extract_tile"),
    ("operators", "osmium_tool_spark.operators.pipeline", "image_extract_tile_checkpointed"),
    ("operators", "osmium_tool_spark.operators.extract", "assign_extracts"),
    ("operators", "osmium_tool_spark.operators.extract", "extract"),
    ("operators", "osmium_tool_spark.operators.tags_filter", "tags_filter"),
    ("operators", "osmium_tool_spark.operators.idops", "getid"),
    ("operators", "osmium_tool_spark.operators.idops", "renumber"),
    ("plans", "osmium_tool_spark.plans.checkpointed", "CheckpointedPipeline.run"),
    ("plans", "osmium_tool_spark.plans.checkpointed", "partition_histogram"),
]

SPAN_PROPERTY = "perfbench.span"


def span_name(module: str, attr: str) -> str:
    """Short span name: last module component + attribute."""
    return f"{module.rsplit('.', 1)[-1]}.{attr}"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "op": self.op, "start": time.time(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, None if parent is None else str(parent))

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name.endswith("Writer.parquet") and args[1:]:
                attrs["path"] = str(args[1])
            with self.span(name, layer, **attrs):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> None:
        for layer, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            owner = mod
            *cls, fname = attr.split(".")
            if cls:
                owner = getattr(mod, cls[0])
            orig = getattr(owner, fname)
            wrapper = self._wrap(orig, span_name(modname, attr), layer)
            self._patch(owner, fname, vars(owner)[fname], wrapper)
            if not cls:
                # module-level aliases (`from .extract import assign_extracts`)
                for other in list(sys.modules.values()):
                    name = getattr(other, "__name__", "") or ""
                    if other is mod or not name.startswith(("osmium_tool_spark", "__spark_entry__")):
                        continue
                    for k, v in list(vars(other).items()):
                        if v is orig:
                            self._patch(other, k, orig, wrapper)

    def _patch(self, owner, attr: str, orig, wrapper) -> None:
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its child spans."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        last_end = s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            start = max(c["start"], last_end)
            if c["end"] > start:
                covered += c["end"] - start
                last_end = c["end"]
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
