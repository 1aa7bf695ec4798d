#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs `perfbench/run.py` once per seed for each workload (untraced) and
reports, per metric, the median and the distance between the first and third
quartiles as a share of the median (statistics.quantiles, n=4), next to the
bound BENCHMARK.json fixes. Run from a checkout root:

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/results/spread.json
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return json.loads(lines[-1]), wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    report = {}
    for w in names:
        vals, walls = {}, []
        for s in seeds(args.seeds):
            r, wall = run_once(w, s, bench["run_seconds"])
            walls.append(wall)
            if not r["correct"] or r["failed"]:
                raise SystemExit(f"{w} seed {s}: incorrect result {r}")
            for k, v in r["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: {wall:.1f} s wall", file=sys.stderr)
        rows = {}
        for k, xs in vals.items():
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else 0.0
            rows[k] = {"median": med, "q1": q[0], "q3": q[2],
                       "spread": spread, "bound": bounds.get(k),
                       "values": xs}
            flag = ""
            if k != "setup_s" and bounds.get(k) is not None:
                flag = ("  OVER BOUND" if spread > bounds[k] else
                        "  over 1/3 bound" if spread > bounds[k] / 3 else "")
            print(f"{w:14s} {k:14s} median {med:12.4f}  spread "
                  f"{spread:6.3f}  bound {bounds.get(k)}{flag}")
        report[w] = {"metrics": rows, "run_wall_s": walls}
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
