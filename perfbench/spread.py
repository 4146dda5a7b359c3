"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads batch_zipf batch_hot_conv --seeds 1 2 3 4 5

For every workload and end-to-end metric it prints the median over the
runs and the distance between the first and third quartile as a share of
the median (``statistics.quantiles(values, n=4)``), next to a third of
the metric's bound in BENCHMARK.json.  Run from the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in workloads:
        values: dict[str, list[float]] = {}
        for seed in args.seeds:
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True)
            if proc.returncode != 0:
                print(f"{wl} seed={seed} exited {proc.returncode}", flush=True)
                ok = False
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            ok &= res["correct"]
            print(f"{wl} seed={seed} correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vals in values.items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            limit = bounds.get(k, 0) / 3
            flag = "" if k not in bounds or spread < limit else "  TOO WIDE"
            ok &= not flag
            print(f"{wl} {k}: median={med:.6g} iqr/median={spread:.4f} (bound/3={limit:.4f}){flag}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
