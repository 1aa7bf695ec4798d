#!/usr/bin/env python3
"""Product-path benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sensor_stats --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles the engine (src/main/scala) and the harness
(perfbench/scala) into .bench_build/; later calls reuse that build while the
sources are unchanged. The harness JVM prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}; with --trace 1 the metrics
are the per-layer table instead of the end-to-end ones. The exit code is 0
only when every sweep succeeded and the end state matched the manifest.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import uuid
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("sensor_queue", "sensor_stats", "corpus_stream")
TIMEOUT_S = 175


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    root = Path.cwd()
    try:
        jvm = build.ensure_built(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    out = root / build.BUILD_DIR
    work = out / "work" / uuid.uuid4().hex[:12]
    cmd = jvm + ["--work", str(work), "--reports", str(out / "reports"),
                 "--commit", git_commit(root)]
    if args.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.Popen(cmd, cwd=root, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s, killed",
              file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = 3
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
