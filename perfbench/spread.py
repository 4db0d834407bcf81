"""Run one workload over several seeds and summarize the spread.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 \
        [--seconds 10] [--trace 0] [--out perfbench/results/x.json]

Each seed is one ``run.py`` process, run one after another. For every
metric it prints the median, the quartiles (``statistics.quantiles``,
n=4) and the spread (interquartile distance as a share of the median);
``--out`` also keeps every run's result and detail record.
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


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, "result": result,
                     "detail": json.loads(lines[-2])["detail"]})
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}"
                          for k, v in result["metrics"].items()
                          if not args.trace), file=sys.stderr)

    names = runs[0]["result"]["metrics"]
    summary = {k: summarize([r["result"]["metrics"][k]["value"] for r in runs])
               for k in names}
    summary["calib_s"] = {
        "pre": summarize([r["detail"]["calib_s"][0] for r in runs]),
        "post": summarize([r["detail"]["calib_s"][1] for r in runs])}
    record = {"workload": args.workload, "trace": args.trace,
              "seconds": args.seconds, "seeds": [r["seed"] for r in runs],
              "nproc": runs[0]["detail"]["nproc"],
              "all_correct": all(r["result"]["correct"] for r in runs),
              "summary": summary, "runs": runs}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(record, fh, indent=1)
    for k, s in summary.items():
        if s.get("spread") is not None:
            print(f"{k:>40s}  median {s['median']:.4g}  "
                  f"q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f}")
    return 0 if record["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
