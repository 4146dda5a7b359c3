"""Benchmark of the sqllog_analysis_spark pipeline, end to end or per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_zipf --seed 1 --seconds 15 --trace 0

It builds the workload's input from ``--seed`` (cached under
``.perfbench_work/inputs``), starts one benchmark session as a child
process in its own process group, waits for it and stops whatever is left
of the group.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
session.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = 4  # local[4]: the measured load fits a 4-core host

# input sizes: every batch iteration must finish well inside one run, and
# generating a new seed's input (per-row Python, ~0.17 ms a turn) is paid
# by the first run of that seed
WORKLOADS = {
    "batch_zipf": {"kind": "batch", "n_turns": 20_000, "hot_frac": 0.0},
    "batch_hot_conv": {"kind": "batch", "n_turns": 20_000, "hot_frac": 0.6},
    "follow_drip": {"kind": "follow", "n_turns": 20_000, "slices": 8},
}
# wall-clock limit of a session: a benchmark run must end within 180 s;
# follow mode pays ~50 s a file and only runs from trace.py (README)
TIMEOUT_S = {"batch": 170.0, "follow": 900.0}
# units of the metrics only follow_drip reports; every other unit is the
# one BENCHMARK.json declares
FOLLOW_UNITS = {
    "batch_latency_p50_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.triggers_per_file": "ratio",
    "stream.state_rows": "count",
    "stream.state_bytes": "B",
}
WARMUP_ITERS = 2
MIN_ITERS = 2


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def child_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)  # never attach to a foreign JVM
    env.update(
        PYTHONPATH=root,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # keep shuffle files and temp files inside the checkout
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the session's process group (the JVM, the
    Python worker daemon) and wait until all of it has exited."""
    pgid = proc.pid
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    proc.wait()
    deadline = time.monotonic() + 30
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_session(spec: dict, root: str, timeout: float) -> dict | None:
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log_path = os.path.join(spec["work"], "session.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "bench_session.py"), spec_path],
            cwd=root,
            env=child_env(root, spec["work"]),
            stdout=subprocess.PIPE,
            stderr=log,
            text=True,
            start_new_session=True,
        )
    killed = False

    def kill_session(signum, frame):
        nonlocal killed
        killed = True
        os.killpg(proc.pid, signal.SIGKILL)

    # the time limit, and a TERM sent to the benchmark, end the whole session
    signal.signal(signal.SIGALRM, kill_session)
    signal.signal(signal.SIGTERM, kill_session)
    signal.setitimer(signal.ITIMER_REAL, timeout)
    try:
        for line in proc.stdout:  # progress lines: iteration walls, JIT, GC
            print(line, end="", flush=True)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        stop_group(proc)
    if killed or proc.returncode != 0 or not os.path.exists(spec["result"]):
        why = "was killed" if killed else f"exited with code {proc.returncode}"
        with open(log_path, errors="replace") as fh:
            tail = fh.readlines()[-40:]
        print(f"benchmark session {why}; end of its log:\n{''.join(tail)}", file=sys.stderr)
        return None
    with open(spec["result"]) as fh:
        return json.load(fh)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sqllog_analysis_spark", "__init__.py")):
        print("run from the root of a sqllog_analysis_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import inputs

    wl = WORKLOADS[args.workload]
    base = os.path.join(root, ".perfbench_work")
    cache = os.path.join(base, "inputs")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    spec = {
        "kind": wl["kind"],
        "trace": bool(args.trace),
        "seconds": args.seconds,
        "cores": CORES,
        "warmup_iters": WARMUP_ITERS,
        "min_iters": MIN_ITERS,
        "work": work,
        "tmp": os.path.join(work, "tmp"),
        "eventlog": os.path.join(work, "eventlog"),
        "result": os.path.join(work, "result.json"),
    }
    t_inputs = time.perf_counter()
    try:
        if wl["kind"] == "batch":
            spec["input"], spec["expected"] = inputs.batch_input(
                cache, args.workload, wl["n_turns"], wl["hot_frac"], args.seed
            )
        else:
            spec["slices"] = inputs.follow_input(
                cache, args.workload, wl["n_turns"], wl["slices"], args.seed
            )
        print(f"inputs_s={time.perf_counter() - t_inputs:.3f}", flush=True)
        result = run_session(spec, root, TIMEOUT_S[wl["kind"]])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    attempted, failed = result["attempted"], result["failed"]
    units = declared_units(root)
    metrics = {
        name: {"value": value, "unit": units[name]}
        for name, value in result["metrics"].items()
    }
    notes = {name: f"n={n}" for name, n in result.get("samples", {}).items()}
    notes.update(result.get("bases", {}))
    for name, m in metrics.items():
        note = f" ({notes[name]})" if name in notes else ""
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}{note}")
    print(f"{args.workload} failed_frac = {failed / attempted:.6g} ({failed}/{attempted} operations)")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def declared_units(root: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    return {**FOLLOW_UNITS, **units}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
