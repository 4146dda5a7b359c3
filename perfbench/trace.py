"""Per-layer report for every workload, with the tracing overhead.

    python3 perfbench/trace.py [--seed 1] [--workloads batch_zipf ...]

For each batch workload it runs the benchmark twice as separate processes,
untraced (``--trace 0``) and traced (``--trace 1``), prints the per-layer
metrics with their counts and bases, and the tracing overhead: traced
``job_s`` over untraced ``job_s``.  ``follow_drip`` runs once, traced;
its session may take 900 s instead of a batch session's 170 s (see
README.md).  Run from the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]


def run(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    cmd = RUN + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"[trace={trace}] {line}", flush=True)
    if proc.returncode != 0:
        print(f"{workload} --trace {trace} exited {proc.returncode}", flush=True)
        return None
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="+", default=["batch_zipf", "batch_hot_conv", "follow_drip"])
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    ok = True
    for wl in args.workloads:
        if wl == "follow_drip":
            ok &= run(wl, args.seed, 60, 1) is not None
            continue
        plain = run(wl, args.seed, seconds, 0)
        traced = run(wl, args.seed, seconds, 1)
        if plain is None or traced is None:
            ok = False
            continue
        untraced_s = plain["metrics"]["job_s"]["value"]
        traced_s = traced["metrics"]["trace.job_s"]["value"]
        print(
            f"{wl} trace.overhead = {traced_s / untraced_s:.4f} ratio "
            f"(traced job_s {traced_s:.3f} s / untraced job_s {untraced_s:.3f} s)",
            flush=True,
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
