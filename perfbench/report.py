"""One command for the whole benchmark: runs every workload untraced and
traced, and prints each end-to-end metric by name and unit with the run's
check status, then the per-layer metrics beside the tracing overhead.

    python3 perfbench/report.py [--seed 1] [--seconds 12]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench.workloads import DETAIL_UNITS, E2E_UNITS, WORKLOADS  # noqa: E402


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict | None, dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(common.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        capture_output=True, text=True, cwd=common.REPO,
    )
    out = p.stdout.strip().splitlines()
    detail = {}
    for line in p.stderr.splitlines():
        if line.startswith('{"workload"'):
            detail = json.loads(line)
    if p.returncode != 0 or not out:
        return None, detail, p.stderr[-2000:]
    return json.loads(out[-1]), detail, ""


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    with open(os.path.join(common.HERE, "layers.json")) as f:
        layer_map = json.load(f)
    ok = True
    for w in WORKLOADS:
        res, det, err = run(w, a.seed, a.seconds, False)
        print(f"== {w}  seed {a.seed}, {a.seconds:g} s")
        if res is None:
            print(f"   FAILED to run\n{err}")
            ok = False
            continue
        status = "PASS" if res["correct"] else "FAIL"
        ok &= res["correct"]
        print(f"   check: {status}  attempted {res['attempted']}, failed {res['failed']}")
        for e in det.get("errors", [])[:5]:
            print(f"     ! {e}")
        print("   end-to-end (gated):")
        for k, unit in E2E_UNITS.items():
            print(f"     {k:<28} {fmt(res['metrics'][k]['value']):>12} {unit}")
        print("   named metrics:")
        for k, unit in DETAIL_UNITS.items():
            if k in det.get("detail", {}):
                print(f"     {k:<28} {fmt(det['detail'][k]):>12} {unit}")
        tres, _tdet, terr = run(w, a.seed, a.seconds, True)
        if tres is None:
            print(f"   traced run FAILED\n{terr}")
            ok = False
            continue
        m = tres["metrics"]
        base = res["metrics"]["latency_ms"]["value"]
        print(f"   tracing overhead: latency_ms traced {fmt(m['trace.latency_ms']['value'])} ms"
              f" vs untraced {fmt(base)} ms"
              f" ({m['trace.latency_ms']['value'] / base:.3f}x)")
        print("   per-layer (traced run; 0 = layer not exercised here):")
        for k, v in m.items():
            print(f"     {k:<40} {fmt(v['value']):>12} {v['unit']}")
    print("== layer map: per-layer metric -> end-to-end metric it should move, on which workload")
    for e in layer_map["layer_map"]:
        print(f"   {e['metrics']}\n      moves {', '.join(e['moves']) or '-'} on {e['on']}"
              + (f"; flat on {', '.join(e['flat_on'])}" if e["flat_on"] else ""))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
