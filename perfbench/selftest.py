"""Self-test of the benchmark's checks, without Spark: a correct result
passes and every kind of corrupted result is counted as failed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402
from perfbench.workloads import TOP_K, _agent_check  # noqa: E402

NOW_MS = gen.TS_MS + 1000


def _truth(orc: Oracle, d: np.ndarray) -> list[dict]:
    ids = orc.topk_ids(d, TOP_K)
    return [{"id": i, "distance": float(d[orc.pos[i]]), "rank": r + 1}
            for r, i in enumerate(ids)]


def main() -> int:
    rows = gen.vector_rows(seed=0, n=2000)
    orc = Oracle(rows)
    req = next(gen.search_requests(0, rows))
    tenant = gen.TENANTS[0]
    d = orc.distances(req["vector"], tenant, {"cat": gen.CATEGORIES[0]}, NOW_MS)
    good = _truth(orc, d)
    failures = []
    if orc.check(good, d, TOP_K) is not None:
        failures.append(f"a correct result was rejected: {orc.check(good, d, TOP_K)}")

    other = next(i for i, t in enumerate(rows["tenant"]) if t != tenant)
    far = int(np.nanargmax(np.where(np.isfinite(d), d, -np.inf)))
    corrupt = {
        "one hit dropped": good[:-1],
        "a row returned twice": good[:-1] + [good[0]],
        "order swapped": [good[1], good[0]] + good[2:],
        "distance off": [dict(good[0], distance=good[0]["distance"] + 0.01)] + good[1:],
        "hit from another tenant": good[:-1] + [
            {"id": rows["ids"][other], "distance": good[-1]["distance"], "rank": TOP_K}],
        "a closer row missing": good[:-1] + [
            {"id": rows["ids"][far], "distance": float(d[far]), "rank": TOP_K}],
    }
    for name, hits in corrupt.items():
        if orc.check(hits, d, TOP_K) is None:
            failures.append(f"corrupted result passed the oracle: {name}")

    # the agent checks: tenant isolation and conversation ownership
    hits = [{"id": f"{tenant}-{i:06d}", "distance": i / 100} for i in range(TOP_K)]
    op = {"kind": "resident", "tenant": tenant}
    if _agent_check(op, hits) is not None:
        failures.append("a correct agent search was rejected")
    leaked = hits[:-1] + [{"id": f"{gen.TENANTS[1]}-000001", "distance": 0.5}]
    if _agent_check(op, leaked) is None:
        failures.append("a cross-tenant hit passed the agent check")
    msgs = [{"content": f"{gen.TENANTS[1]}:3: hello"}]
    if _agent_check({"kind": "conv_get", "tenant": tenant}, msgs) is None:
        failures.append("another agent's message passed the agent check")

    for f in failures:
        print("FAIL:", f)
    print("selftest:", "FAIL" if failures else f"ok ({len(corrupt) + 3} corruptions caught)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
