"""Run a workload on several seeds and report each metric's median and
quartile spread ((Q3 - Q1) / median, from ``statistics.quantiles(n=4)``).

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10 [--trace 0]

Runs are sequential subprocesses of run.py with BENCHMARK.json's
``run_seconds``; the summary is printed and written to
``.perfbench_out/spread-<workload>-t<trace>-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        runs.append({"seed": seed, "rc": proc.returncode, "run_s": time.time() - t0, "result": result})
        vals = {k: round(v["value"], 3) for k, v in result.get("metrics", {}).items()} if not args.trace else ""
        print(f"seed {seed}: rc={proc.returncode} correct={result.get('correct')} "
              f"run={time.time() - t0:.1f}s {vals}", flush=True)

    summary = {}
    names = {k for r in runs for k in r["result"].get("metrics", {})}
    for name in sorted(names):
        vals = [r["result"]["metrics"][name]["value"] for r in runs if name in r["result"].get("metrics", {})]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        summary[name] = {"median": med, "spread": (q[2] - q[0]) / med if med else 0.0, "n": len(vals)}
    out = {
        "workload": args.workload, "trace": args.trace, "seeds": args.seeds,
        "run_s": [round(r["run_s"], 1) for r in runs],
        "all_correct": all(r["rc"] == 0 and r["result"].get("correct") for r in runs),
        "metrics": summary,
    }
    if not args.trace:
        for m in spec["end_to_end"]:
            s = summary.get(m["name"])
            if s:
                print(f"{m['name']:16s} median={s['median']:.4f} spread={s['spread']:.4f} "
                      f"bound={m['bound']} third={m['bound'] / 3:.4f}"
                      f"{'' if s['spread'] < m['bound'] / 3 else '  <-- over a third of the bound'}")
    print(f"run seconds: {out['run_s']}  all correct: {out['all_correct']}")
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out",
                        f"spread-{args.workload}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    return 0 if out["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
