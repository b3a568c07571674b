"""Connector benchmark: one workload per invocation.

    python3 perfbench/run.py --workload backlog_restart --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics, measured with no wrapper installed; ``--trace 1`` prints the
per-layer metrics of a separate traced run and writes its spans to
``.perfbench_out/``. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``failed`` counts
announced files that are missing, duplicated or altered in the metadata
log or the sink, plus queue messages left behind.
"""

from __future__ import annotations

import argparse
import json
import sys

import harness
import layers
import workloads

UNITS = {"_s": "s", "_mb": "MB", "_pct": "%", "_bytes": "bytes"}
E2E_UNITS = {"files_per_s": "1/s", "rows_per_s": "1/s"}


def unit_of(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith("_ratio") or name.endswith("_per_round") else "count"


class Context:
    def __init__(self, work: harness.Work, seed: int, seconds: int, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None

    def start_session(self) -> None:
        self.spark = harness.build_session(self.work.dir, event_log=self.trace)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit: it exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = harness.checkout_root()
    harness.require_program(root)
    work = harness.Work(root, args.workload, args.seed)
    ctx = Context(work, args.seed, args.seconds, bool(args.trace))
    try:
        harness.prepare_env(root, work.dir)
        wl = workloads.WORKLOADS[args.workload](ctx)
        setup_s = wl.setup()
        harness.log(f"set-up done ({setup_s:.2f} s)")
        if args.trace:
            res, metrics = layers.traced_run(wl, ctx, setup_s, root)
        else:
            res = workloads.Result()
            wl.measure(res, setup_s)
            metrics = res.metrics
        harness.log("measured")
    finally:
        ctx.stop_session()
        work.close()
        harness.log("stopped")
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
