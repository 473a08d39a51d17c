"""Per-layer numbers of a traced phase: spans joined with the event log.

Every op is one job group. Its jobs are charged to the innermost span
that was open when Spark submitted them (the `perfbench.span` property;
jobs with none belong to the op's own span, i.e. its action).

`spark.driver_gap_s` is an op's wall time minus the union of all its job
intervals. The accounting check adds up two sides measured apart: the
Spark side, each span's job time as the event log records it, and the
Python side, each span's self time (`spans.self_times`) outside the jobs
it launched. Their sum is compared with the op's wall time on the
driver's clock; it drifts from 1 when the span tree does not cover the
op, or when jobs run outside the span that launched them (leaked or
concurrent jobs).
"""

from __future__ import annotations

import os
import statistics

from .eventlog import EventLog, union_ms
from .spans import self_times
from .workloads import CKPT_STAGES

# wrapped call (span name) -> report prefix
CALLS = {
    "idops.getid": "getid",
    "idops.renumber": "renumber",
    "zipindex.dense_index": "dense_index",
    "tags_filter.tags_filter": "tags_filter",
    "extract.extract": "extract",
    "extract.assign_extracts": "assign_extracts",
    "pipeline.image_extract_tile": "image_extract_tile",
    "images.decode_codec_meta": "decode_codec_meta",
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def op_breakdown(log: EventLog, spans: list[dict], selfs: dict[int, float], op: dict) -> dict:
    """Split one op's wall time into per-span job time plus driver gap."""
    lo, hi = op["start"] * 1000.0, op["end"] * 1000.0
    wall_ms = hi - lo
    mine = {sp["id"]: sp for sp in spans if sp["op"] == op["group"]}
    root = next(sp for sp in mine.values() if sp["parent"] is None)
    by_span: dict[int, list[tuple[float, float]]] = {}
    all_iv = []
    for job in log.jobs_of(op["group"]):
        end = job.end_ms if job.end_ms is not None else hi
        sid = int(job.span) if job.span is not None else root["id"]
        by_span.setdefault(sid, []).append((job.start_ms, end))
        iv = (max(lo, job.start_ms), min(hi, end))
        if iv[1] > iv[0]:
            all_iv.append(iv)
    busy = {sid: union_ms(ivs) for sid, ivs in by_span.items()}
    # Python side: each span's self time minus its own jobs inside the span
    python_ms = 0.0
    for sid, sp in mine.items():
        lo_s, hi_s = sp["start"] * 1000.0, sp["end"] * 1000.0
        own = [(max(lo_s, a), min(hi_s, b)) for a, b in by_span.get(sid, [])]
        python_ms += selfs[sid] * 1000.0 - union_ms([iv for iv in own if iv[1] > iv[0]])
    return {
        "driver_gap_s": (wall_ms - union_ms(all_iv)) / 1000.0,
        "span_job_s": {sid: ms / 1000.0 for sid, ms in busy.items()},
        "accounted_ratio": (sum(busy.values()) + python_ms) / (op["seconds"] * 1000.0),
    }


def report(log: EventLog, spans: list[dict], ops: list[dict]) -> dict:
    """Per-op means of the Spark counters, per-call span metrics and the
    accounting check, for the ops of one traced phase."""
    n = len(ops)
    out: dict[str, float] = {}
    totals = [log.totals.get(o["group"]) for o in ops]
    totals = [t for t in totals if t is not None]
    if not n:
        return out
    s = lambda attr: sum(getattr(t, attr) for t in totals) / n  # noqa: E731
    out["spark.jobs"] = s("jobs")
    out["spark.stages"] = s("stages")
    out["spark.tasks"] = s("tasks")
    out["spark.executor_run_s"] = s("executor_run_ms") / 1e3
    out["spark.executor_cpu_s"] = s("executor_cpu_ns") / 1e9
    out["spark.gc_s"] = s("gc_ms") / 1e3
    out["spark.input_bytes"] = s("input_bytes")
    out["spark.output_bytes"] = s("output_bytes")
    out["spark.shuffle_write_bytes"] = s("shuffle_write_bytes")
    out["spark.shuffle_read_bytes"] = s("shuffle_read_bytes")
    out["spark.spill_bytes"] = s("spill_bytes")
    out["arrow.to_python_bytes"] = s("arrow_to_python_bytes")
    out["arrow.from_python_bytes"] = s("arrow_from_python_bytes")
    out["python.eval_s"] = s("python_eval_ms") / 1e3
    skews = [k for k in (log.task_skew(o["group"]) for o in ops) if k is not None]
    out["spark.task_skew"] = statistics.median(skews) if skews else 1.0

    by_id = {sp["id"]: sp for sp in spans}
    selfs = self_times(spans)
    breakdowns = [op_breakdown(log, spans, selfs, o) for o in ops]
    out["spark.driver_gap_s"] = _mean(b["driver_gap_s"] for b in breakdowns)
    ratios = [b["accounted_ratio"] for b in breakdowns]
    out["trace.accounted_ratio_min"] = min(ratios)
    out["trace.accounted_ratio_max"] = max(ratios)

    # job seconds and Python self seconds per layer, per op
    layer_job: dict[str, float] = {}
    layer_self: dict[str, float] = {}
    for b in breakdowns:
        for sid, sec in b["span_job_s"].items():
            layer = by_id[sid]["layer"]
            layer_job[layer] = layer_job.get(layer, 0.0) + sec
    op_groups = {o["group"] for o in ops}
    for sp in spans:
        if sp["op"] in op_groups:
            layer_self[sp["layer"]] = layer_self.get(sp["layer"], 0.0) + selfs[sp["id"]]
    for layer, sec in layer_job.items():
        out[f"layer.{layer}.job_s"] = sec / n
    for layer, sec in layer_self.items():
        out[f"layer.{layer}.self_s"] = sec / n

    # per wrapped call: inclusive seconds and jobs per call
    job_span = {}
    for o in ops:
        for job in log.jobs_of(o["group"]):
            job_span[job.job_id] = int(job.span) if job.span is not None else None
    ancestors = {}
    for sp in spans:
        chain, p = [], sp["id"]
        while p is not None:
            chain.append(p)
            p = by_id[p]["parent"]
        ancestors[sp["id"]] = chain
    jobs_under: dict[int, int] = {}
    for sid in job_span.values():
        if sid is None:
            continue
        for a in ancestors[sid]:
            jobs_under[a] = jobs_under.get(a, 0) + 1
    for name, key in CALLS.items():
        calls = [sp for sp in spans if sp["name"] == name and sp["op"] in op_groups]
        if calls:
            out[f"{key}.calls"] = len(calls) / n
            out[f"{key}.s"] = _mean(sp["end"] - sp["start"] for sp in calls)
            out[f"{key}.jobs"] = _mean(jobs_under.get(sp["id"], 0) for sp in calls)

    return out


def ckpt_report(spans: list[dict], probes: list[dict]) -> dict[str, float]:
    """Checkpointed-plan numbers from the traced probe runs: per stage,
    the parquet write time (DataFrameWriter.parquet spans under the stage
    dir), bytes and data files on disk; the partition-histogram time; and
    the share of stages a run skipped because their checkpoint existed."""
    groups = {p["group"] for p in probes}
    if not groups:
        return {}
    mine = [sp for sp in spans if sp["op"] in groups]
    stage_of = lambda path: os.path.basename(os.path.dirname(path.rstrip("/")))  # noqa: E731
    writes = [(stage_of(sp["path"]), sp) for sp in mine
              if sp["name"] == "readwriter.DataFrameWriter.parquet" and sp.get("path")]
    out = {}
    for st in CKPT_STAGES:
        out[f"ckpt.{st}.write_s"] = _mean(sp["end"] - sp["start"] for s_, sp in writes if s_ == st)
        out[f"ckpt.{st}.bytes"] = float(probes[0]["extra"][st][0])
        out[f"ckpt.{st}.files"] = float(probes[0]["extra"][st][1])
    hist = [sp for sp in mine if sp["name"] == "checkpointed.partition_histogram"]
    out["ckpt.histogram_s"] = _mean(sp["end"] - sp["start"] for sp in hist)
    ran = sum(1 for s_, _ in writes if s_ in CKPT_STAGES)
    out["ckpt.resume_skipped_ratio"] = 1.0 - ran / (len(CKPT_STAGES) * len(probes))
    return out
