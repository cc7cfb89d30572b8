"""Steadiness check: run workloads several times with different seeds and
report, per end-to-end metric, the median, quartiles and spread
(interquartile distance over median) against the metric's bound in
``BENCHMARK.json``, plus each run's machine-speed probe.

    python3 perfbench/steady.py --workload index_serve --runs 10 --first-seed 1

Runs are made one after another from this process, never side by side. The
probe gates nothing; it shows whether a run was made on a contended box.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if trace:
        # a traced run prints per-layer metrics; its end-to-end figures (which
        # carry the tracing overhead) are in the run's record
        record = json.loads((ROOT / ".bench_out" / f"trace-{workload}-s{seed}.json").read_text())
        result["per_layer"] = result["metrics"]
        result["metrics"] = {k: {"value": v} for k, v in record["end_to_end"].items()}
    side = {}
    for line in proc.stderr.splitlines():
        for key in ("probe", "extras"):
            if line.startswith(f"# {key} "):
                side[key] = json.loads(line[len(key) + 3:])
    return {"seed": seed, "wall_s": wall, **result, **side}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true", help="traced runs (for the tracing overhead)")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in args.workload:
        runs = []
        for i in range(args.runs):
            r = one_run(w, args.first_seed + i, seconds, int(args.trace))
            runs.append(r)
            p = r.get("probe", {})
            print(
                f"{w} seed={r['seed']} wall={r['wall_s']:.1f}s attempted={r['attempted']} "
                f"failed={r['failed']} correct={r['correct']} "
                + " ".join(f"probe_{k}={v['p50']:.3f}s" for k, v in p.items() if isinstance(v, dict))
                + " "
                + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                flush=True,
            )
        summary = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            summary[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                             "bound": bounds.get(name), "values": vals}
            ok = "" if bounds.get(name) is None else (
                "ok" if sp <= bounds[name] / 3 else ("within bound" if sp <= bounds[name] else "TOO WIDE"))
            print(f"  {name:14s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
                  f"spread={sp:.3%} bound={bounds.get(name)} {ok}")
        for key in sorted({k for r in runs for k in r.get("extras", {}) if isinstance(r["extras"][k], (int, float))}):
            vals = [r["extras"][key] for r in runs if key in r.get("extras", {})]
            if len(vals) >= 2 and statistics.median(vals):
                med, q1, q3, sp = spread(vals)
                summary[f"extra:{key}"] = {"median": med, "q1": q1, "q3": q3, "spread": sp}
                print(f"  (extra) {key:32s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={sp:.3%}")
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"  failed share per run: {sorted(shares)}; walls {[round(r['wall_s'], 1) for r in runs]}")
        report[w] = {"summary": summary, "runs": runs, "trace": args.trace}
    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (out / f"steady-{stamp}.json").write_text(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
