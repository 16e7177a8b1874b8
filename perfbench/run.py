"""Benchmark entry point.

    python3 perfbench/run.py --workload search_single --seed 1 --seconds 12 --trace 0

Builds the workload's inputs from the seed, starts the program in its own
process (perfbench/host.py), measures for --seconds, checks every output
against an oracle and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1.  Human-readable detail goes to stderr.

Exits non-zero without a result when the program is not beside it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(common.REPO, "fusionspark", "engine.py")):
        print("perfbench: the fusionspark package is not beside perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    from perfbench import layers, workloads

    fn = workloads.WORKLOADS.get(a.workload)
    if fn is None:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a TERM from whoever runs the benchmark unwinds through the workload's
    # `finally`, which stops the program's whole process tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(common.REPO, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = fn(workloads.Ctx(a.seed, a.seconds, bool(a.trace), work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    keys = ({n: layers.unit(n) for n in layers.names()} if a.trace
            else workloads.E2E_UNITS)
    metrics = res["layers"] if a.trace else res["e2e"]
    missing = [k for k in keys if not math.isfinite(metrics.get(k, math.nan))]
    if missing:
        print(f"perfbench: no value for {missing}; errors: {res['errors'][:5]}",
              file=sys.stderr)
        return 3
    print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": res["detail"],
                      "errors": res["errors"][:20]}), file=sys.stderr)
    out = {
        "correct": res["failed"] == 0 and not res["errors"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(metrics[k]), "unit": keys[k]} for k in keys},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
