"""numpy float64 top-k oracle with the engine's search semantics: tenant,
metadata and TTL pre-filter, cosine distance 1 - cos, (distance, id) order.

A result passes when it has the right length, every hit is eligible and
reports its true distance, hits come in (distance, id) order, and no
eligible row strictly closer than the k-th returned distance is missing.
The tolerance only absorbs float32 storage rounding near ties.
"""

from __future__ import annotations

import numpy as np

from perfbench import gen

TOL = 1e-4


class Oracle:
    def __init__(self, rows: dict):
        x = rows["x"].astype(np.float64)
        self.xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        self.ids = np.asarray(rows["ids"])
        self.pos = {s: i for i, s in enumerate(rows["ids"])}
        self.tenant = np.asarray(rows["tenant"])
        self.cat = np.asarray(rows["cat"])
        self.ttl = np.asarray(rows["ttl"], dtype=np.int64)

    def eligible(self, tenant, mfilter, now_ms: int) -> np.ndarray:
        mask = (self.ttl == 0) | (now_ms - gen.TS_MS < self.ttl)
        if tenant is not None:
            mask &= self.tenant == tenant
        for k, v in (mfilter or {}).items():
            if k != "cat":
                raise ValueError(f"the generated rows carry no metadata key {k!r}")
            mask &= self.cat == str(v)
        return mask

    def distances(self, q: np.ndarray, tenant, mfilter, now_ms: int) -> np.ndarray:
        """Cosine distance of every row; ineligible rows are +inf."""
        qv = q.astype(np.float32).astype(np.float64)
        qv = qv / np.linalg.norm(qv)
        d = 1.0 - self.xn @ qv
        d[~self.eligible(tenant, mfilter, now_ms)] = np.inf
        return d

    def topk_ids(self, d: np.ndarray, k: int) -> list[str]:
        idx = np.lexsort((self.ids, d))[:k]
        return [self.ids[i] for i in idx if np.isfinite(d[i])]

    def check(self, hits: list[dict], d: np.ndarray, k: int) -> str | None:
        """None when `hits` is a correct top-k for distances `d`, else the
        reason it is not."""
        n_ok = int(np.isfinite(d).sum())
        if len(hits) != min(k, n_ok):
            return f"expected {min(k, n_ok)} hits, got {len(hits)}"
        if len({h.get("id") for h in hits}) != len(hits):
            return "a row is returned twice"
        prev = -np.inf
        for h in hits:
            i = self.pos.get(h.get("id"))
            if i is None or not np.isfinite(d[i]):
                return f"hit {h.get('id')!r} is not an eligible row"
            if abs(float(h["distance"]) - d[i]) > TOL:
                return f"hit {h['id']} distance {h['distance']} != {d[i]:.6f}"
            if float(h["distance"]) < prev - TOL:
                return "hits are not in (distance, id) order"
            prev = float(h["distance"])
        if not hits:
            return None
        kth = max(float(h["distance"]) for h in hits)
        must = set(self.ids[d < kth - TOL])
        missing = must - {h["id"] for h in hits}
        if missing:
            return f"missing closer rows {sorted(missing)[:3]}"
        return None

    def recall(self, hits: list[dict], d: np.ndarray, k: int) -> float:
        truth = set(self.topk_ids(d, k))
        if not truth:
            return 1.0
        return len(truth & {h.get("id") for h in hits}) / len(truth)
