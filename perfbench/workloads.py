"""The workloads.  Each builds its inputs from the seed, starts the program
in a Host process, warms up, measures for `ctx.seconds`, checks every
output outside the timed window and returns

    {"attempted", "failed", "errors", "e2e": {...}, "detail": {...},
     "layers": {...}}

`e2e` holds the gated end-to-end metrics (the same on every workload),
`detail` the workload's own named metrics, `layers` the per-layer metrics
of a traced run.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import dataclass

import numpy as np

from perfbench import gen
from perfbench.common import Host, median, pct, post, wait_health
from perfbench.host import storage_stats

TOP_K = 10
WARM_RESIDENT = 3
#: the gated end-to-end metrics, reported by every workload.  Throughput
#: and peak RSS are printed (DETAIL_UNITS) but not gated: with a dozen
#: one-to-nine-second requests a run, request throughput moves by a whole
#: request at the window's edge, and the JVM's RSS by when its heap grows.
E2E_UNITS = {"latency_ms": "ms", "setup_s": "s"}
#: each workload's own named metrics (detail; printed, not gated)
DETAIL_UNITS = {
    "search_p50_ms": "ms", "search_p90_ms": "ms", "exact_p50_ms": "ms",
    "ivf_p50_ms": "ms", "ivf_recall_at_10": "ratio", "read_p50_ms": "ms",
    "write_p50_ms": "ms", "mixed_p90_ms": "ms", "ops_per_s": "1/s", "mixed_ops_per_s": "1/s",
    "error_rate": "ratio", "peak_rss_mb": "MB",
}


@dataclass
class Ctx:
    seed: int
    seconds: float
    trace: bool
    work: str


def _jsonl_rows(path: str, rows) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _vec(v) -> list[float]:
    return [float(x) for x in np.asarray(v, dtype=np.float32)]


def _window_share(r, t_start: float, t_end: float) -> float:
    """The share of a successful request's duration inside the window."""
    if not r["ok"]:
        return 0.0
    a, b = r["t0"], r["t0"] + r["ms"] / 1e3
    return max(0.0, min(b, t_end) - max(a, t_start)) / max(b - a, 1e-9)


def _e2e(recs, groups: dict, t_start: float, seconds: float, setup_s: float) -> dict:
    """latency_ms: the geometric mean over the workload's request groups of
    each group's geometric mean of its kinds' median latencies.  Groups
    weigh the same however often their kinds run, so a group that gets
    1.25**len(groups) times slower trips the 0.25 bound on its own; a run
    that fits one slow request more or less weighs kinds the same.
    ops_per_s: successful requests per second, each counted by the share of
    its duration inside the window."""
    by = _by_op(recs)
    logs = []
    for kinds in groups.values():
        got = [math.log(median(by[k])) for k in kinds if by.get(k)]
        if got:
            logs.append(sum(got) / len(got))
    t_end = t_start + seconds
    done = sum(_window_share(r, t_start, t_end) for r in recs)
    return {"latency_ms": math.exp(sum(logs) / len(logs)) if logs else math.nan,
            "ops_per_s": done / seconds, "setup_s": setup_s}


def _send(port, path: str, body: dict, op: str, rid: str, trace: bool, meta=None) -> dict:
    """One request; in a traced run the body names it (`_rid`, `_op`)."""
    if trace:
        body = dict(body, _rid=rid, _op=op)
    t0 = time.time()
    try:
        status, payload, nbytes = post(port, path, body)
    except (OSError, ValueError) as e:  # no reply, or not JSON: a failed request
        status, payload, nbytes = 0, {"error": repr(e)}, 0
    return {"op": op, "t0": t0, "ms": (time.time() - t0) * 1e3, "status": status,
            "payload": payload, "bytes": nbytes, "meta": meta, "rid": rid,
            "ok": 200 <= status < 300}


# ── search_single ───────────────────────────────────────────────────────

SEARCH_OP = {"res": "resident", "res_t": "resident", "res_tm": "resident",
             "exact": "exact", "ivf": "ivf"}

#: latency_ms groups: resident, exact and IVF search weigh a third each
SEARCH_GROUPS = {op: (op,) for op in ("resident", "exact", "ivf")}
#: reads and writes weigh half each; the one admin op a run times is not
#: in the gate
AGENT_GROUPS = {"reads": tuple(sorted(gen.READS)), "writes": tuple(sorted(gen.WRITES))}


def _search_body(req) -> tuple[str, dict]:
    kind = req["kind"]
    body = {"collection": "vecs", "vector": _vec(req["vector"]), "topK": TOP_K,
            "resident": kind.startswith("res"), "approximate": kind == "ivf",
            "nProbe": 8}
    if req["tenant"] is not None:
        body["tenantId"] = req["tenant"]
    if req["filter"]:
        body["filter"] = req["filter"]
    return SEARCH_OP[kind], body


def search_single(ctx: Ctx) -> dict:
    rows = gen.vector_rows(ctx.seed)
    jsonl = os.path.join(ctx.work, "vecs.jsonl")
    _jsonl_rows(jsonl, (
        {"id": rows["ids"][i], "vector": _vec(rows["x"][i]), "content": None,
         "metadata": {"cat": rows["cat"][i]}, "tenant_id": rows["tenant"][i],
         "ts": gen.TS_MS, "ttl_ms": int(rows["ttl"][i])}
        for i in range(len(rows["ids"]))
    ))
    spec = {"root": os.path.join(ctx.work, "root"), "storage": "parquet",
            "collection": "vecs", "jsonl": jsonl, "dim": gen.DIM, "ivf": True}
    t_setup = time.time()
    host = Host(ctx.work, spec, ctx.trace)
    errors: list[str] = []
    try:
        info = host.expect("ready", timeout=170)
        info["phases"]["ready_s"] = time.time() - t_setup
        port = info["port"]
        wait_health(port)
        # every path once at the same time, then resident requests one by
        # one, so the timed window starts on a warm serving path
        warm = gen.search_requests(ctx.seed, rows, stream=7)
        _concurrently([("/api/search", _search_body(next(warm))[1], "warm", "warm", None)
                       for _ in range(len(gen.SEARCH_CYCLE) // 2)], port)
        seq = [r for r in (next(warm) for _ in range(len(gen.SEARCH_CYCLE)))
               if r["kind"].startswith("res")][:WARM_RESIDENT]
        for req in seq:
            post(port, "/api/search", _search_body(req)[1])
        setup_s = time.time() - t_setup

        # one closed-loop client: send, wait for the reply, repeat
        recs, sent = [], []
        reqs = gen.search_requests(ctx.seed, rows)
        t_start = time.time()
        while time.time() < t_start + ctx.seconds:
            sent.append(next(reqs))
            op, body = _search_body(sent[-1])
            recs.append(_send(port, "/api/search", body, op, f"r{len(recs)}", ctx.trace))
        host.send("stop")
        host.expect("stopped")
    finally:
        errors += host.close()
    stats = storage_stats(spec["root"], spec["collection"])

    # oracle, outside the timed window
    from perfbench.oracle import Oracle

    orc = Oracle(rows)
    failed = 0
    recalls = []
    for r, req in zip(recs, sent):
        if not r["ok"]:
            failed += 1
            errors.append(f"{r['op']}: HTTP {r['status']} {str(r['payload'])[:200]}")
            continue
        d = orc.distances(req["vector"], req["tenant"], req["filter"],
                          int(r["t0"] * 1000))
        if r["op"] == "ivf":
            recalls.append(orc.recall(r["payload"], d, TOP_K))
            bad = _ivf_shape(orc, r["payload"], d)
        else:
            bad = orc.check(r["payload"], d, TOP_K)
        if bad:
            failed += 1
            r["ok"] = False
            errors.append(f"{r['op']}: {bad}")
    e2e = _e2e(recs, SEARCH_GROUPS, t_start, ctx.seconds, setup_s)
    by = _by_op(recs)
    res_ms = by.get("resident", [])
    detail = {
        "ops_per_s": e2e["ops_per_s"],
        "search_p50_ms": median(res_ms),
        "search_p90_ms": pct(res_ms, 0.9),
        "search_samples": len(res_ms),
        "exact_p50_ms": median(by.get("exact", [])),
        "ivf_p50_ms": median(by.get("ivf", [])),
        "ivf_recall_at_10": float(np.mean(recalls)) if recalls else float("nan"),
        "error_rate": failed / max(len(recs), 1),
        "peak_rss_mb": host.peak_rss_kb / 1024,
        "setup_s": setup_s,
        "setup_phases_s": info.get("phases", {}),
        "requests": {k: len(v) for k, v in by.items()},
        "latencies": [(r["op"], round(r["ms"])) for r in recs],
    }
    out = {"attempted": len(recs), "failed": failed, "errors": errors,
           "e2e": e2e, "detail": detail}
    if ctx.trace:
        from perfbench import layers

        user = sum(_row_bytes(i, None, True) for i in rows["ids"])
        out["layers"] = layers.compute(ctx.work, "search_single", recs, e2e, stats, user)
    return out


def _row_bytes(id_: str, text, vector: bool) -> int:
    """What a user hands the engine for one row: id, text, float32 vector."""
    return len(id_) + len((text or "").encode()) + (4 * gen.DIM if vector else 0)


def _concurrently(requests, port, trace: bool = False) -> list[dict]:
    """Send every (path, body, op, rid, meta) at once; wait for all replies."""
    out: list[dict] = [None] * len(requests)

    def one(i, req):
        path, body, op, rid, meta = req
        out[i] = _send(port, path, body, op, rid, trace, meta)

    threads = [threading.Thread(target=one, args=(i, r)) for i, r in enumerate(requests)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    return out


def _ivf_shape(orc, hits, d) -> str | None:
    """IVF is approximate: only its shape is checked; quality is recall."""
    if len(hits) > TOP_K:
        return f"{len(hits)} hits for top {TOP_K}"
    for h in hits:
        i = orc.pos.get(h.get("id"))
        if i is None or not np.isfinite(d[i]):
            return f"hit {h.get('id')!r} is not an eligible row"
    return None


def _by_op(recs) -> dict[str, list[float]]:
    by: dict[str, list[float]] = {}
    for r in recs:
        if r["ok"]:
            by.setdefault(r["op"], []).append(r["ms"])
    return by


# ── agent_mixed ─────────────────────────────────────────────────────────

THREAD = "th0"


def _agent_request(op) -> tuple[str, dict]:
    k, t = op["kind"], op["tenant"]
    if k == "resident":
        return "/api/search", {"collection": "kb", "vector": _vec(op["vector"]),
                               "topK": TOP_K, "tenantId": t, "resident": True}
    if k == "exact":
        return "/api/search", {"collection": "kb", "vector": _vec(op["vector"]),
                               "topK": TOP_K, "tenantId": t, "filter": op["filter"]}
    if k == "hybrid":
        return "/api/hybrid-search", {"collection": "kb", "query": op["query"], "topK": TOP_K}
    if k == "rag":
        return "/api/rag/query", {"collection": "kb", "query": op["query"],
                                  "maxTokens": 400, "topK": 5}
    if k == "recall":
        return "/api/memory/recall", {"agentId": t, "query": op["query"], "topK": 5}
    if k == "conv_get":
        return "/api/conversation/get", {"agentId": t, "threadId": THREAD, "limit": 20}
    if k in ("insert", "upsert"):
        return "/api/insert", {"collection": "kb", "id": op["id"], "vector": _vec(op["vector"]),
                               "text": op["text"], "metadata": {"cat": "c0"}, "tenantId": t}
    if k == "remember":
        return "/api/memory/remember", {"agentId": t, "content": op["text"]}
    if k == "conv_add":
        return "/api/conversation/add", {"agentId": t, "threadId": THREAD,
                                         "role": "user", "content": op["text"]}
    if k == "ingest":
        return "/api/rag/ingest", {"collection": "kb", "docId": op["doc_id"], "text": op["text"]}
    if op["action"] == "resident":
        return "/api/index/resident", {"collection": "kb"}
    return "/api/optimize", {"collection": "kb"}


def _agent_check(op, payload) -> str | None:
    """Per-reply checks.  Ids and message texts encode the agent's tenant,
    so a hit from another tenant is a failure."""
    k, t = op["kind"], op["tenant"]
    if k in ("resident", "exact"):
        if len(payload) != TOP_K:
            return f"{k}: {len(payload)} hits"
        if any(not h["id"].startswith(t + "-") for h in payload):
            return f"{k}: hit from another tenant"
        d = [h["distance"] for h in payload]
        if d != sorted(d):
            return f"{k}: hits out of distance order"
    elif k == "hybrid":
        if not isinstance(payload, list) or len(payload) > TOP_K:
            return "hybrid: malformed reply"
    elif k == "rag":
        if op["query"] not in payload.get("prompt", ""):
            return "rag: prompt lacks the question"
    elif k == "conv_get":
        if any(not (m["content"] or "").startswith(t + ":") for m in payload):
            return "conv_get: message from another agent"
    elif k == "recall":
        if not isinstance(payload, list) or len(payload) > 5:
            return "recall: malformed reply"
    return None


def agent_mixed(ctx: Ctx) -> dict:
    docs = gen.agent_docs(ctx.seed)
    jsonl = os.path.join(ctx.work, "kb.jsonl")
    _jsonl_rows(jsonl, (
        {"id": d["id"], "vector": None, "content": d["text"],
         "metadata": {"cat": d["cat"]}, "tenant_id": d["tenant"],
         "ts": gen.TS_MS, "ttl_ms": 0} for d in docs))
    spec = {"root": os.path.join(ctx.work, "root"), "storage": "manifest",
            "collection": "kb", "jsonl": jsonl, "dim": gen.DIM, "embed": True}
    t_setup = time.time()
    host = Host(ctx.work, spec, ctx.trace)
    errors: list[str] = []
    recs: list[dict] = []
    try:
        info = host.expect("ready", timeout=170)
        info["phases"]["ready_s"] = time.time() - t_setup
        port = info["port"]
        wait_health(port)
        _agent_warmup(port, ctx.seed, docs)
        setup_s = time.time() - t_setup

        # the agents step together, as under an orchestrator: each round
        # every agent sends its next request, and the round ends when all
        # have their reply — the same requests overlap on every run
        streams = [gen.agent_ops(ctx.seed, c, docs) for c in range(len(gen.TENANTS))]
        t_start = time.time()
        k = 0
        while time.time() < t_start + ctx.seconds:
            ops = [next(st) for st in streams]
            recs += _concurrently([(*_agent_request(op), op["kind"], f"a{c}-{k}", op)
                                   for c, op in enumerate(ops)], port, ctx.trace)
            k += 1
        host.send("stop")
        host.expect("stopped")

        acked = _acked(recs)
        verify_out = os.path.join(ctx.work, "verify.json")
        acked_path = os.path.join(ctx.work, "acked.json")
        with open(acked_path, "w") as f:
            json.dump(acked, f)
        host.send("verify", acked_path, verify_out)
        host.expect("verified", timeout=170)
        with open(verify_out) as f:
            lost = json.load(f)
    finally:
        errors += host.close()
    stats = storage_stats(spec["root"], spec["collection"])

    failed = 0
    for r in recs:
        bad = (f"{r['op']}: HTTP {r['status']} {str(r['payload'])[:200]}" if not r["ok"]
               else _agent_check(r["meta"], r["payload"]))
        if bad:
            failed += 1
            r["ok"] = False
            errors.append(bad)
    # a lost acknowledged write fails the write that was acknowledged
    failed += len(lost)
    errors += lost

    e2e = _e2e(recs, AGENT_GROUPS, t_start, ctx.seconds, setup_s)
    reads = [r["ms"] for r in recs if r["ok"] and r["op"] in gen.READS]
    writes = [r["ms"] for r in recs if r["ok"] and r["op"] in gen.WRITES]
    alls = [r["ms"] for r in recs if r["ok"]]
    detail = {
        "read_p50_ms": median(reads),
        "write_p50_ms": median(writes),
        "mixed_p50_ms": median(alls),
        "mixed_p90_ms": pct(alls, 0.9),
        "mixed_samples": len(alls),
        "mixed_ops_per_s": e2e["ops_per_s"],
        "error_rate": failed / max(len(recs), 1),
        "peak_rss_mb": host.peak_rss_kb / 1024,
        "setup_s": setup_s,
        "setup_phases_s": info.get("phases", {}),
        "requests": {k: len(v) for k, v in _by_op(recs).items()},
        "latencies": [(r["op"], round(r["ms"])) for r in sorted(recs, key=lambda r: r["t0"])],
        "storage": stats,
    }
    out = {"attempted": len(recs), "failed": failed, "errors": errors,
           "e2e": e2e, "detail": detail}
    if ctx.trace:
        from perfbench import layers

        user = sum(_row_bytes(d["id"], d["text"], True) for d in docs)
        user += sum(_row_bytes(w.get("id", ""), w.get("text"), "id" in w)
                    for ws in acked.values() for w in ws)
        out["layers"] = layers.compute(ctx.work, "agent_mixed", recs, e2e, stats, user)
    return out


def _agent_warmup(port, seed, docs) -> None:
    """Each path once, all at a time, from a warm-up stream (creating the
    memory and conversation collections), then a resident reload so the
    timed phase starts with a fresh resident index."""
    kinds = ("resident", "exact", "hybrid", "rag", "recall", "remember", "conv_add", "ingest")
    ops = gen.agent_ops(seed + 10_000, 0, docs)
    pending = {k: None for k in kinds}
    while any(v is None for v in pending.values()):
        op = next(ops)
        if op["kind"] in pending and pending[op["kind"]] is None:
            pending[op["kind"]] = op

    _concurrently([(*_agent_request(op), "warm", "warm", None) for op in pending.values()],
                  port)
    post(port, "/api/index/resident", {"collection": "kb"})


def _acked(recs) -> dict:
    """The last acknowledged content of every write, by key."""
    docs, mems, msgs, ingests = {}, [], [], []
    for r in sorted(recs, key=lambda r: r["t0"]):
        if not r["ok"]:
            continue
        op = r["meta"]
        k = op["kind"]
        if k in ("insert", "upsert"):
            docs[(op["tenant"], op["id"])] = op["text"]
        elif k == "remember":
            mems.append({"tenant": op["tenant"], "text": op["text"]})
        elif k == "conv_add":
            msgs.append({"tenant": op["tenant"], "thread": THREAD, "text": op["text"]})
        elif k == "ingest":
            ingests.append({"doc_id": op["doc_id"], "chunks": r["payload"]["chunks"]})
    return {"docs": [{"tenant": t, "id": i, "text": x} for (t, i), x in docs.items()],
            "memories": mems, "messages": msgs, "ingests": ingests}


WORKLOADS = {"search_single": search_single, "agent_mixed": agent_mixed}
