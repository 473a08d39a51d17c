"""Steadiness check: run one workload K times, one seed per run, and
report each metric's median, quartiles and spread.

    python3 perfbench/steady.py --workload tiles --runs 10

Run k uses seed k. Spread is the distance between the first and third
quartile (`statistics.quantiles(values, n=4)`) as a share of the median.
A metric whose spread exceeds its bound in BENCHMARK.json is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    context = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
    return {"seed": seed, "wall_s": time.time() - t0, "context": context,
            "result": json.loads(lines[-1])}


def summarize(runs: list[dict], bounds: dict[str, float]) -> list[str]:
    names = list(runs[0]["result"]["metrics"])
    out = [f"{'metric':<28}{'unit':>8}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>8}"]
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        unit = runs[0]["result"]["metrics"][name]["unit"]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / abs(med) if med else float("inf") if q3 != q1 else 0.0
        bound = bounds.get(name)
        flag = ""
        if bound is not None and spread > bound:
            flag = "  SPREAD>BOUND"
        elif bound is not None and spread > bound / 3:
            flag = "  spread>bound/3"
        out.append(f"{name:<28}{unit:>8}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}{spread:>9.3f}"
                   f"{bound if bound is not None else '-':>8}{flag}")
    op_walls = [r["context"]["op_wall_s"] for r in runs]
    q1, _, q3 = statistics.quantiles(op_walls, n=4) if len(op_walls) > 1 else (op_walls[0],) * 3
    out.append(f"{'(context) op_wall_s':<28}{'s':>8}{statistics.median(op_walls):>14.6g}"
               f"{q1:>14.6g}{q3:>14.6g}{(q3 - q1) / statistics.median(op_walls):>9.3f}")
    ok = all(r["result"]["correct"] for r in runs)
    walls = [r["wall_s"] for r in runs]
    out.append(f"correct on every run: {ok}; run wall s: median {statistics.median(walls):.1f}, "
               f"max {max(walls):.1f}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    runs = [run_once(args.workload, k, spec["run_seconds"]) for k in range(1, args.runs + 1)]
    print(f"== {args.workload}: {args.runs} runs, seeds 1..{args.runs}")
    print("\n".join(summarize(runs, bounds)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
