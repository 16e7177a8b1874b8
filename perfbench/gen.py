"""Seeded input generators.  Every function takes the seed as an argument
and returns plain Python / numpy data; the same seed gives the same inputs.
"""

from __future__ import annotations

import numpy as np

DIM = 64
N_VECTORS = 20_000
TENANTS = ("t0", "t1", "t2", "t3")
CATEGORIES = ("c0", "c1", "c2", "c3", "c4")
#: fixed row timestamp (2026-09-21) and a ten-year TTL: the TTL predicate
#: is evaluated on every request but never expires a row during a run
TS_MS = 1_790_000_000_000
LONG_TTL_MS = 10 * 365 * 86_400_000

N_DOCS = 20_000
VOCAB = 4_000
ZIPF_A = 1.15


def _clustered(rng: np.random.Generator, n: int, dim: int, n_clusters: int = 64) -> np.ndarray:
    """Gaussian mixture: IVF lists then have real structure to prune."""
    centers = rng.standard_normal((n_clusters, dim))
    assign = rng.integers(0, n_clusters, n)
    x = centers[assign] + 0.6 * rng.standard_normal((n, dim))
    return x.astype(np.float32)


def vector_rows(seed: int, n: int = N_VECTORS, dim: int = DIM) -> dict:
    """The search_single collection: ids encode the tenant (`t2-000123`),
    one 5-value metadata key, and every third row carries a long TTL."""
    rng = np.random.default_rng([seed, 1])
    x = _clustered(rng, n, dim)
    tenant = rng.integers(0, len(TENANTS), n)
    cat = rng.integers(0, len(CATEGORIES), n)
    ids = [f"{TENANTS[t]}-{i:06d}" for i, t in enumerate(tenant)]
    ttl = np.where(np.arange(n) % 3 == 0, LONG_TTL_MS, 0).astype(np.int64)
    return {
        "ids": ids,
        "x": x,
        "tenant": [TENANTS[t] for t in tenant],
        "cat": [CATEGORIES[c] for c in cat],
        "ttl": ttl,
    }


def perturb(rng: np.random.Generator, v: np.ndarray, scale: float = 0.05) -> np.ndarray:
    """A unique probe near a corpus vector."""
    noise = rng.standard_normal(v.shape[0]) * scale * float(np.linalg.norm(v))
    return (v + noise / np.sqrt(v.shape[0])).astype(np.float32)


#: search_single request cycle: 8 resident (unfiltered / tenant /
#: tenant+metadata in turn), 1 exact, 1 IVF — about 80/10/10.  The slow
#: paths sit early, so every run of a few seconds includes both.
SEARCH_CYCLE = ("res", "ivf", "res_t", "res_tm", "exact", "res", "res_t",
                "res_tm", "res", "res_t")


def search_requests(seed: int, rows: dict, stream: int = 2):
    """Endless search_single requests in the fixed cycle; each probe is a
    unique noise-perturbed corpus vector with a seeded tenant / metadata
    value."""
    rng = np.random.default_rng([seed, stream])
    i = 0
    while True:
        kind = SEARCH_CYCLE[i % len(SEARCH_CYCLE)]
        src = int(rng.integers(0, len(rows["ids"])))
        q = perturb(rng, rows["x"][src])
        tenant = TENANTS[int(rng.integers(0, len(TENANTS)))]
        cat = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        req = {"kind": kind, "vector": q, "tenant": None, "filter": None}
        if kind in ("res_t", "res_tm", "exact"):
            req["tenant"] = tenant
        if kind == "res_tm":
            req["filter"] = {"cat": cat}
        yield req
        i += 1


# ── agent_mixed ─────────────────────────────────────────────────────────


def vocabulary(seed: int, size: int = VOCAB) -> list[str]:
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return [str(w) for w in rng.permutation(sorted(words))]


class ZipfText:
    """Zipf-distributed word sampler over a seeded vocabulary."""

    def __init__(self, seed: int, stream: int):
        self.words = vocabulary(seed)
        ranks = np.arange(1, len(self.words) + 1, dtype=np.float64)
        p = ranks ** -ZIPF_A
        self.p = p / p.sum()
        self.rng = np.random.default_rng([seed, stream])

    def text(self, lo: int = 20, hi: int = 60) -> str:
        n = int(self.rng.integers(lo, hi))
        idx = self.rng.choice(len(self.words), n, p=self.p)
        return " ".join(self.words[i] for i in idx)

    def query(self, lo: int = 1, hi: int = 4) -> str:
        return self.text(lo, hi)

    def texts(self, n: int, lo: int = 20, hi: int = 60) -> list[str]:
        lens = self.rng.integers(lo, hi, n)
        idx = self.rng.choice(len(self.words), int(lens.sum()), p=self.p)
        ends = np.cumsum(lens)
        return [" ".join(self.words[j] for j in idx[e - k:e]) for k, e in zip(lens, ends)]


def agent_docs(seed: int, n: int = N_DOCS) -> list[dict]:
    """The agent_mixed knowledge base: tenant-encoded ids, Zipf texts."""
    texts = ZipfText(seed, 4).texts(n)
    rng = np.random.default_rng([seed, 5])
    tenant = rng.integers(0, len(TENANTS), n)
    cat = rng.integers(0, len(CATEGORIES), n)
    return [
        {"id": f"{TENANTS[t]}-{i:06d}", "tenant": TENANTS[t],
         "cat": CATEGORIES[c], "text": texts[i]}
        for i, (t, c) in enumerate(zip(tenant, cat))
    ]


#: one agent's op cycle: 18 reads, 5 writes, 1 admin (75/21/4 %).  Agent c
#: starts at AGENT_OFFSETS[c]; the agents step in lockstep rounds, and the
#: first three rounds send every read and write kind and one admin op:
#:   round 1: resident, recall, conv_get, ingest
#:   round 2: admin (agent 0: resident reload), insert, remember, conv_add
#:   round 3: hybrid, exact, rag, upsert
#: A round lasts as long as its slowest reply (3-7 s), so a 12 s run
#: completes three or four rounds; the optimize of agents 1 and 3 comes
#: later in their cycle and only runs in longer windows.
AGENT_CYCLE = (
    "resident", "admin", "hybrid", "exact", "resident", "recall",
    "recall", "insert", "exact", "resident", "hybrid", "conv_get",
    "conv_get", "remember", "rag", "resident", "exact", "rag",
    "ingest", "conv_add", "upsert", "hybrid", "resident", "resident",
)
AGENT_OFFSETS = (0, 6, 12, 18)
READS = {"resident", "exact", "hybrid", "rag", "recall", "conv_get"}
WRITES = {"insert", "upsert", "remember", "conv_add", "ingest"}


def query_pool(seed: int, size: int = 64) -> list[str]:
    z = ZipfText(seed, 6)
    return [z.query() for _ in range(size)]


def agent_ops(seed: int, agent: int, docs: list[dict]):
    """Endless requests of agent `agent` (tenant TENANTS[agent]).  Text
    queries draw Zipf-skewed from a shared pool, so some repeat across
    agents."""
    rng = np.random.default_rng([seed, 10 + agent])
    z = ZipfText(seed, 20 + agent)
    pool = query_pool(seed)
    pool_p = np.arange(1, len(pool) + 1, dtype=np.float64) ** -1.0
    pool_p /= pool_p.sum()
    tenant = TENANTS[agent]
    own = [d for d in docs if d["tenant"] == tenant]
    i = 0
    while True:
        kind = AGENT_CYCLE[(AGENT_OFFSETS[agent] + i) % len(AGENT_CYCLE)]
        op = {"kind": kind, "tenant": tenant, "seq": i}
        q = pool[int(rng.choice(len(pool), p=pool_p))]
        if kind in ("hybrid", "rag", "recall"):
            op["query"] = q
        elif kind in ("resident", "exact"):
            v = rng.standard_normal(DIM).astype(np.float32)
            op["vector"] = v / np.linalg.norm(v)
            if kind == "exact":
                op["filter"] = {"cat": CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]}
        elif kind == "insert":
            op["id"] = f"{tenant}-new-{seed}-{i:05d}"
            op["text"] = z.text()
        elif kind == "upsert":
            op["id"] = own[int(rng.integers(0, len(own)))]["id"]
            op["text"] = z.text()
        elif kind in ("remember", "conv_add"):
            op["text"] = f"{tenant}:{i}: " + z.text(5, 15)
        elif kind == "ingest":
            op["doc_id"] = f"{tenant}-rag-{seed}-{i:05d}"
            op["text"] = ". ".join(z.text(8, 16) for _ in range(4))
        elif kind == "admin":
            op["action"] = "resident" if agent % 2 == 0 else "optimize"
        if kind in ("insert", "upsert"):
            v = rng.standard_normal(DIM).astype(np.float32)
            op["vector"] = v / np.linalg.norm(v)
        yield op
        i += 1
