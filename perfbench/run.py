"""Run one benchmark workload and print its result as one JSON line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload route_count --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics, from traced repetitions that
alternate with untraced ones. The last line of standard output is::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value": ..., "unit": ...}}}

``failed / attempted`` is the run's error rate. A run record (host state at
start and end, repetition times, all metrics, spans when traced) is written
to ``.perfbench_runs/`` in the checkout. Scratch data lives in
``.perfbench_work/`` and is removed when the run ends. Every process the run
starts (the Spark JVM, its Python workers, the reference process) has ended
before it exits, on every path out of it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(spec: dict, run, values: dict, trace: bool) -> dict:
    """The printed result: every metric the spec lists for this mode."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def execute(workload: str, seed: int, seconds: float, trace: bool, work_dir: str, size=None):
    """Run one workload in this process; returns ``(run, e2e, per_layer)``.
    ``size`` overrides the workload's input size."""
    t_start = time.perf_counter()
    from perfbench import workloads as W
    from perfbench.harness import Sessions

    size = size or W.SIZES[workload]
    sessions = Sessions(work_dir)
    run = W.Run(sessions, work_dir, seed, seconds, trace, size)
    run.extra["t_start"] = t_start
    try:
        with run.phase("session"):
            sessions.start(W.CORES)
        run.attach()
        e2e = W.WORKLOADS[workload](run)
    finally:
        if run.reference is not None:
            run.reference.close()
        sessions.close()
    return run, e2e, run.extra.get("layers", {})


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "shovel_spark")):
        print(f"perfbench: no shovel_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec(ROOT)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import adopt_orphans, reap_children

    adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_signal)
    try:
        return run_workload(args, spec)
    finally:
        stopped = reap_children()
        if stopped:
            print(f"[perfbench] stopped leftover processes {stopped}", file=sys.stderr)


def _exit_on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def run_workload(args: argparse.Namespace, spec: dict) -> int:
    from perfbench.harness import host_state

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    host_start = host_state()
    try:
        run, e2e, layers = execute(
            args.workload, args.seed, args.seconds, bool(args.trace), work_dir
        )
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    host_end = host_state()
    out = result_line(spec, run, layers if args.trace else e2e, bool(args.trace))

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host_start": host_start,
        "host_end": host_end,
        "phases_s": run.extra.get("phases", []),
        "rep_s": [[r.dur, r.traced] for r in run.reps],
        "end_to_end": e2e,
        "per_layer": layers,
        "prefix_wall_s": run.extra.get("prefixes", {}).get("prefix_wall_s"),
        "spans": run.tracer.to_json() if run.tracer else [],
    }
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(runs_dir, name), "w") as fh:
        json.dump(record, fh, indent=1)
    steal = (host_end.get("steal_s", 0.0) - host_start.get("steal_s", 0.0)) / (
        (host_end["ts"] - host_start["ts"]) * host_start["nproc"]
    )
    print(
        f"[perfbench] {args.workload} seed={args.seed} error_rate="
        f"{run.failed / max(run.attempted, 1):.4f} ({run.failed}/{run.attempted}) "
        f"load {host_start['loadavg'][0]:.2f}->{host_end['loadavg'][0]:.2f} "
        f"steal {steal:.1%} nproc={host_start['nproc']}",
        file=sys.stderr,
    )
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
