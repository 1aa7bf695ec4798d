#!/usr/bin/env python3
"""Traced-run artifact: per-layer numbers and tracing overhead per workload.

For each implemented workload, runs the benchmark untraced and traced with
the same seed, alternating, `--pairs` times, and writes
perfbench/results/TRACE.json and TRACE.md: the run environment, the median
untraced end-to-end metrics, the median traced per-layer table, and the
tracing overhead (median traced minus median untraced wall time, for the
whole process and per timed file). Medians keep one run that a CPU-steal
burst slowed from setting the table. Every run must pass the manifest
check. Run from a checkout root:

    python3 perfbench/trace_report.py --seed 101
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
# every implemented workload, including sensor_queue, which BENCHMARK.json
# leaves out only for the run budget (see README.md)
WORKLOADS = ("sensor_queue", "sensor_stats", "corpus_stream")


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    report = json.loads(Path(".bench_build/reports/"
                             f"{workload}-seed{seed}-trace{trace}.json")
                        .read_text())
    return report, wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=101)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--out", default=str(HERE / "results"))
    args = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    out = {}
    med = statistics.median
    for w in WORKLOADS:
        runs = {0: [], 1: []}
        for _ in range(args.pairs):
            for trace in (0, 1):
                runs[trace].append(run(w, args.seed, bench["run_seconds"],
                                       trace))
        plain, traced = runs[0], runs[1]

        def table(rs, key):
            return {k: med(r[key][k]["value"] for r, _ in rs)
                    for k in rs[0][0][key]}

        def per_file(rs):
            return med(statistics.mean(r["env"]["file_latencies_s"])
                       for r, _ in rs)
        wall0, wall1 = med(x for _, x in plain), med(x for _, x in traced)
        pf0, pf1 = per_file(plain), per_file(traced)
        out[w] = {
            "env": plain[0][0]["env"],
            "end_to_end": table(plain, "end_to_end"),
            "per_layer": table(traced, "per_layer"),
            "untraced_files": [r["env"]["file_samples"] for r, _ in plain],
            "traced_files": [r["env"]["file_samples"] for r, _ in traced],
            "tail_percentiles": [r["env"]["file_tail_percentile"]
                                 for r, _ in plain],
            "process_walls_s": {"untraced": [x for _, x in plain],
                                "traced": [x for _, x in traced]},
            "tracing_overhead": {
                "process_wall_s": wall1 - wall0,
                "per_file_s": pf1 - pf0,
                "per_file_share": (pf1 - pf0) / pf0,
            },
            "check_errors": [e for r, _ in plain + traced
                             for e in r["env"]["check_errors"]],
        }
        print(f"{w}: untraced {wall0:.1f} s, traced {wall1:.1f} s (medians)",
              file=sys.stderr)
    dst = Path(args.out)
    dst.mkdir(parents=True, exist_ok=True)
    (dst / "TRACE.json").write_text(json.dumps(out, indent=1) + "\n")

    names = list(out)
    lines = [f"# Traced runs, seed {args.seed}", "",
             f"{args.pairs} untraced and {args.pairs} traced runs per "
             "workload, alternating. Per-layer numbers are medians over the "
             "traced runs; end-to-end numbers medians over the untraced "
             "runs. Times and bytes are means per timed file (sweep).", "",
             "| metric | " + " | ".join(names) + " |",
             "|---|" + "---|" * len(names)]
    for m in bench["per_layer"]:
        cells = [f"{out[w]['per_layer'].get(m['name'], 0):.4g}" for w in names]
        lines.append(f"| {m['name']} ({m['unit']}) | " + " | ".join(cells) + " |")
    lines += ["", "| end-to-end (untraced) | " + " | ".join(names) + " |",
              "|---|" + "---|" * len(names)]
    for m in bench["end_to_end"]:
        cells = [f"{out[w]['end_to_end'][m['name']]:.4g}" for w in names]
        lines.append(f"| {m['name']} ({m['unit']}) | " + " | ".join(cells) + " |")
    lines += ["", "| tracing overhead | " + " | ".join(names) + " |",
              "|---|" + "---|" * len(names)]
    for k in ("process_wall_s", "per_file_s", "per_file_share"):
        cells = [f"{out[w]['tracing_overhead'][k]:+.3f}" for w in names]
        lines.append(f"| {k} | " + " | ".join(cells) + " |")
    lines += ["", "| run | " + " | ".join(names) + " |",
              "|---|" + "---|" * len(names)]
    for k in ("master", "default_parallelism", "nproc", "loadavg_start",
              "max_heap_mb", "commit"):
        lines.append(f"| {k} | " + " | ".join(
            str(out[w]["env"][k]) for w in names) + " |")
    lines.append("| timed files per run, untraced / traced | " + " | ".join(
        f"{out[w]['untraced_files']} / {out[w]['traced_files']}"
        for w in names) + " |")
    lines.append("| file_tail_s percentile per untraced run | " + " | ".join(
        " ".join(f"p{p:.0f}" for p in out[w]["tail_percentiles"])
        for w in names) + " |")
    (dst / "TRACE.md").write_text("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
