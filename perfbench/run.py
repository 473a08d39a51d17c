"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 16 --trace 0

Run from the repository root. Set-up runs `SETUP_REPS` times (session
start, generating and materializing the standing inputs, warm-up) and
`setup_s` is their median CPU time. A few untimed ops let the JIT and the
session settle. Then ops run back to back for `--seconds` seconds (the
osm_graph workload measures whole rounds of its four queries, at least
two). Each op's output is checked outside the timed region. Times are
CPU seconds of the machine (probes.machine_cpu_s), which a busy host
does not inflate; wall times are reported beside them.

`--trace 0` prints every end-to-end metric. `--trace 1` additionally runs
a traced phase of the same length in a fresh Spark session with the event
log on and the package's public calls wrapped in spans, then prints the
per-layer metrics; the full per-layer report and the spans are written to
.perfbench_work/trace/.

The last stdout line is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it records
the run's context (CPU count, nproc, load average, sample sizes).
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# The package defaults to an 8g heap; 2g holds every workload here and
# keeps a run small on a shared host. The heap is fixed and pre-touched:
# a growable heap's resident size follows GC timing, which spread
# peak_rss_mb by 0.12-0.20 across seeds. peak_rss_mb then moves with
# off-heap and Python-worker memory, and the heap the program retains
# is reported as jvm.heap_retained_mb.
DRIVER_MEM = "2g"
ACCOUNTED_RANGE = (0.9, 1.1)  # per-op accounting check of the traced phase


def tail(times: list[float]) -> tuple[int, float]:
    """(p, value): the highest whole percentile with at least 10 ops
    beyond it, floored at the median, by linear interpolation."""
    n = len(times)
    p = max(50, math.floor(100 * (n - 10) / n)) if n > 10 else 50
    xs = sorted(times)
    pos = p / 100 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return p, xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def typical(ops: list[dict], key: str) -> float:
    """The typical op: the median of `key` over the ops of each kind, and
    the geometric mean of those medians over the kinds. With one kind it
    is the plain median. With several kinds of different cost, a plain
    median is a single op of whichever kind lands in the middle."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o[key])
    return statistics.geometric_mean(statistics.median(v) for v in by_kind.values())


class Bench:
    def __init__(self, args, work: str, cpus: int):
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.cpus = cpus
        self.wl = WORKLOADS[args.workload](args.seed, cpus)
        self.spark = None

    # --- session -----------------------------------------------------------
    def start_session(self, eventlog_dir: str | None = None):
        from osmium_tool_spark.session import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file outside the checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData"),
            "spark.ui.showConsoleProgress": "false",
        }
        if eventlog_dir:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the gateway JVM (and with it the Python
        workers it forked), and wait for it to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is None or proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # --- set-up ------------------------------------------------------------
    def setup(self, rep: int) -> tuple[float, ...]:
        """One set-up: (session, inputs, warm-up, total) CPU seconds (see
        measure) and its wall seconds."""
        from perfbench.probes import machine_cpu_s

        w0, c0 = time.perf_counter(), machine_cpu_s()
        self.stop_session()
        self.start_session()
        c1 = machine_cpu_s()
        self.wl.make_inputs(self.spark, os.path.join(self.work, f"inputs-{rep}"))
        c2 = machine_cpu_s()
        for spec in self.wl.warmup_ops():
            self.wl.run_op(self.spark, spec)
        c3 = machine_cpu_s()
        if rep:
            shutil.rmtree(os.path.join(self.work, f"inputs-{rep - 1}"), ignore_errors=True)
        return c1 - c0, c2 - c1, c3 - c2, c3 - c0, time.perf_counter() - w0

    @staticmethod
    def setup_stats(reps: list[tuple[float, ...]]) -> dict:
        """The median of each part over the set-ups."""
        med = lambda i: statistics.median(r[i] for r in reps)  # noqa: E731
        return {"setup.session_s": med(0), "setup.inputs_s": med(1),
                "setup.warmup_s": med(2), "setup_s": med(3), "setup.wall_s": med(4),
                "setup_reps": [[round(x, 3) for x in r] for r in reps]}

    # --- measurement -------------------------------------------------------
    def measure(self, seconds: float, tag: str, tracer=None) -> list[dict]:
        """Run ops back to back; record each op's wall time and its CPU
        time: the CPU seconds the machine (this client, the driver JVM and
        its Python workers) spent working while the op ran."""
        from perfbench.probes import GroupStats, machine_cpu_s

        sc = self.spark.sparkContext
        stats = GroupStats(self.spark)
        ops: list[dict] = []
        t_start = time.perf_counter()
        unit_start = t_start
        i = 0
        while True:
            if i and i % self.wl.round_size == 0 and i >= self.wl.min_rounds * self.wl.round_size:
                # stop at the op (or round) boundary nearest to `seconds`
                now = time.perf_counter()
                if now - t_start + (now - unit_start) / 2 >= seconds:
                    break
            if i % self.wl.round_size == 0:
                unit_start = time.perf_counter()
            spec = self.wl.next_op(i)
            group = f"{tag}-{i}"
            sc.setJobGroup(group, str(spec)[:80])
            kind = spec if isinstance(spec, str) else spec[0]
            result, raised = None, False
            c0 = machine_cpu_s()
            start = time.time()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    result = self.wl.run_op(self.spark, spec)
                else:
                    tracer.op = group
                    with tracer.span(f"op.{kind}", "op"):
                        result = self.wl.run_op(self.spark, spec)
            except Exception:  # an op that raises counts as failed
                raised = True
                traceback.print_exc()
            dt = time.perf_counter() - t0
            end = time.time()
            cpu = machine_cpu_s() - c0
            stats.drain()
            jobs = stats.job_ids(group)
            ops.append({
                "group": group, "kind": kind, "seconds": dt, "cpu_s": cpu,
                "start": start, "end": end,
                "jobs": len(jobs), "io_bytes": stats.io_bytes(jobs),
                "rows": self.wl.rows_per_op,
                "_spec": spec, "_result": result, "_raised": raised,
            })
            i += 1
        if tracer is not None:
            tracer.op = None
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        return ops

    def check_ops(self, ops: list[dict]) -> None:
        """Check each op's output against the expected one; an op that
        raised or returned a wrong result is not ok."""
        for o in ops:
            spec, result, raised = o.pop("_spec"), o.pop("_result"), o.pop("_raised")
            o["ok"] = not raised and self.wl.check(spec, result)
            if not o["ok"]:
                print(f"perfbench: op {o['group']} ({o['kind']}) failed its check", file=sys.stderr)

    @staticmethod
    def end_to_end(ops: list[dict], setup: dict, peak_rss_mb: float) -> tuple[dict, dict]:
        cpu = [o["cpu_s"] for o in ops]
        n = len(ops)
        p, tail_s = tail(cpu)
        m = {
            "setup_s": (setup["setup_s"], "s"),
            "op_cpu_s": (typical(ops, "cpu_s"), "s"),
            "rows_per_cpu_s": (sum(o["rows"] for o in ops) / sum(cpu), "rows/s"),
            "jobs_per_op": (sum(o["jobs"] for o in ops) / n, "count"),
            "ok_ops": (sum(o["ok"] for o in ops) / n, "ratio"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "io_bytes_per_op": (sum(o["io_bytes"] for o in ops) / n, "bytes"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        return metrics, {"op_cpu_s_tail": tail_s, "op_cpu_s_tail_percentile": p, "ops": n,
                         "op_log": [(o["kind"], round(o["seconds"], 4), round(o["cpu_s"], 3), o["jobs"])
                                    for o in ops]}

    # --- traced phase ------------------------------------------------------
    def traced(self, seconds: float, untraced_ops: list[dict], setup: dict, trace_dir: str) -> dict:
        from perfbench import eventlog, layers
        from perfbench.spans import Tracer

        ev_dir = os.path.join(self.work, "eventlog")
        os.makedirs(ev_dir, exist_ok=True)
        self.stop_session()
        self.start_session(eventlog_dir=ev_dir)
        tracer = Tracer(self.spark.sparkContext)
        tracer.install()
        try:
            # the JVM is warm by now: one warm-up op and one round keep a
            # traced run of the slower workload well inside its time limit
            for spec in self.wl.warmup_ops():
                self.wl.run_op(self.spark, spec)
            ops = self.measure(seconds, "traced", tracer)
            self.check_ops(ops)
            extras, probes = self.wl.trace_extras(self.spark, tracer)
        finally:
            tracer.uninstall()
            self.stop_session()
        (log_path,) = glob.glob(os.path.join(ev_dir, "*"))
        log = eventlog.parse(log_path)
        rep = layers.report(log, tracer.spans, ops)
        rep.update(extras)
        rep.update(layers.ckpt_report(
            tracer.spans, [p for p in probes if p["kind"] in ("fresh", "resume")]))
        codec = [p for p in probes if p["kind"] == "codec"]
        if codec:
            crep = layers.report(log, tracer.spans, codec)
            rep.update({f"codec.{k}": v for k, v in crep.items() if k.startswith(
                ("arrow.", "python.", "decode_codec_meta."))})
        rep["trace.probes_ok"] = all(p["ok"] for p in probes)
        lo, hi = ACCOUNTED_RANGE
        rep["trace.accounted_ok"] = (lo <= rep["trace.accounted_ratio_min"]
                                     and rep["trace.accounted_ratio_max"] <= hi)
        for k in ("setup.session_s", "setup.inputs_s", "setup.warmup_s", "setup.wall_s"):
            rep[k] = setup[k]
        rep["op.wall_s"] = typical(untraced_ops, "seconds")
        rep["op.rows_per_wall_s"] = (sum(o["rows"] for o in untraced_ops)
                                     / sum(o["seconds"] for o in untraced_ops))
        for key, unit in (("seconds", ""), ("cpu_s", "_cpu")):
            traced, plain = typical(ops, key), typical(untraced_ops, key)
            rep[f"trace.overhead{unit}_s"] = traced - plain
            rep[f"trace.overhead{unit}_ratio"] = traced / plain - 1.0
        rep["trace.jobs_per_op"] = sum(o["jobs"] for o in ops) / len(ops)
        os.makedirs(trace_dir, exist_ok=True)
        stem = os.path.join(trace_dir, f"{self.args.workload}-seed{self.args.seed}")
        tracer.dump(stem + ".spans.json")
        with open(stem + ".layers.json", "w", encoding="utf-8") as f:
            json.dump({"per_layer": rep, "ops": ops}, f, indent=1, default=str)
        return {"report": rep, "ops": ops}

    # --- whole run ---------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        from perfbench.probes import RssSampler

        # the first set-up's session is the one measured: the later set-ups
        # run after the measurement, and so do the DuckDB checks, because
        # the first ops in a fresh session cost more
        reps = [self.setup(0)]
        # untimed: let the JIT and the session settle before measuring
        for spec in self.wl.settle_ops():
            self.wl.run_op(self.spark, spec)
        with RssSampler(self.spark) as rss:
            ops = self.measure(self.args.seconds, "op")
        reps += [self.setup(rep) for rep in range(1, SETUP_REPS)]
        setup = self.setup_stats(reps)
        self.wl.prepare_checks()
        self.check_ops(ops)
        metrics, info = self.end_to_end(ops, setup, rss.peak_mb)
        info["heap_retained_mb"] = rss.heap_retained_mb
        counted, correct = ops, all(o["ok"] for o in ops)
        if self.args.trace:
            traced = self.traced(self.args.seconds, ops, setup,
                                 os.path.join(ROOT, ".perfbench_work", "trace"))
            rep = traced["report"]
            rep["jvm.heap_retained_mb"] = rss.heap_retained_mb
            print(json.dumps({"per_layer_report": rep}, default=str))
            counted = traced["ops"]
            correct = correct and rep["trace.probes_ok"] and rep["trace.accounted_ok"]
            with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
                per_layer = json.load(f)["per_layer"]
            metrics = {m["name"]: {"value": rep[m["name"]], "unit": m["unit"]} for m in per_layer}
            info["traced_ops"] = len(counted)
        failed = sum(not o["ok"] for o in counted)
        result = {
            "correct": correct and failed == 0,
            "attempted": len(counted),
            "failed": failed,
            "metrics": metrics,
        }
        info["setup_reps"] = setup["setup_reps"]
        info["op_wall_s"] = typical(ops, "seconds")
        return result, info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tiles", "osm_graph"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401

        import __spark_entry__  # noqa: F401
        import osmium_tool_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    # one core stays free for the driver's Python process, the JIT
    # compiler and GC threads; at n = nproc a busy core makes whole runs
    # stall (the median op wall time spread twice as much across runs on
    # 4 cores)
    cpus = max(1, nproc - 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # the short-lived JVM spark-submit runs to build the command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp
    loadavg1 = os.getloadavg()[0]
    bench = Bench(args, work, cpus)
    try:
        result, info = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    info.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "cpus": cpus, "nproc": nproc, "loadavg1_at_start": loadavg1,
                 "loadavg1_at_end": os.getloadavg()[0]})
    print(json.dumps({"context": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
