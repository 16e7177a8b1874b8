"""Per-layer metrics of a traced run, from the spans the wrappers recorded
(perfbench/tracing.py) and the Spark event log.

Spark work is attributed by job group (one per request) and, inside a
request, to the innermost span open when the job was submitted.  Layer
names follow the modules: server, engine, embedder, serving, knn, ann,
keyword, rag, storage, spark.  A metric a workload does not exercise
reads 0; the layer map in layers.json says which workload should move it.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

from perfbench.common import median

#: ops with per-op Spark job, stage and task counts
SPARK_OPS = ("resident", "exact", "ivf", "insert", "upsert", "remember", "conv_add", "ingest")
#: other ops: job counts only
JOB_OPS = ("hybrid", "rag", "recall", "conv_get", "admin")
READ_OPS = ("resident", "exact", "ivf", "hybrid", "rag", "recall", "conv_get")
ENGINE_OPS = READ_OPS + ("insert", "upsert", "remember", "conv_add", "ingest")
EMBED_OPS = ("hybrid", "rag", "recall", "remember", "ingest")
KNN_OPS = ("resident", "exact", "hybrid", "rag", "recall")
COMMIT_OPS = ("insert", "upsert", "remember", "conv_add", "ingest")
WORKLOADS = ("search_single", "agent_mixed")


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = []
    for op in SPARK_OPS:
        out += [f"spark.jobs.{op}", f"spark.stages.{op}", f"spark.tasks.{op}"]
    out += [f"spark.jobs.{op}" for op in JOB_OPS]
    for w in WORKLOADS:
        out += [f"spark.run_share.{w}", f"spark.gc_ms.{w}", f"spark.shuffle_bytes.{w}"]
    out += ["server.overhead_ms"] + [f"server.response_bytes.{op}" for op in READ_OPS]
    out += [f"engine.self_ms.{op}" for op in ENGINE_OPS] + ["engine.resident_hit_ratio"]
    for op in EMBED_OPS:
        out += [f"embedder.ms.{op}", f"embedder.calls.{op}"]
    out += ["serving.search_ms", "serving.blocks_per_search", "serving.build_s"]
    out += [f"knn.ms.{op}" for op in KNN_OPS]
    out += ["ann.search_ms", "ann.tasks_per_search", "ann.build_s"]
    out += ["keyword.ms", "rag.chunk_ms", "rag.pack_ms"]
    out += [f"storage.commit_ms.{op}" for op in COMMIT_OPS]
    out += ["storage.data_files", "storage.manifest_versions",
            "storage.bytes_written_per_user_byte", "storage.stored_bytes_per_user_byte"]
    out += ["trace.latency_ms", "trace.ops_per_s"]
    return out


def unit(name: str) -> str:
    parts = name.split(".")
    if any(p == "ms" or p.endswith("_ms") for p in parts):
        return "ms"
    if parts[1] == "ops_per_s":
        return "1/s"
    if parts[-1].endswith("_s"):
        return "s"
    if any(w in parts[1] for w in ("ratio", "share", "per_user_byte")):
        return "ratio"
    if parts[1].endswith("bytes"):
        return "bytes"
    return "count"


def read_events(event_dir: str) -> list[dict]:
    """Jobs from the uncompressed event log: group, submission time (s),
    stages run, tasks, executor run ms, GC ms, shuffle bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1e3,
                        "stages": set(), "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "shuffle_bytes": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    if j is None:
                        continue
                    j["stages"].add(ev["Stage ID"])
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0)
                                           + sw.get("Shuffle Bytes Written", 0))
    return list(jobs.values())


def _self_ms(span, kids) -> float:
    return (span["end"] - span["start"] - sum(k["end"] - k["start"] for k in kids)) * 1e3


def compute(work: str, workload: str, recs: list[dict], e2e: dict,
            stats: dict, user_bytes: int) -> dict:
    with open(os.path.join(work, "spans.json")) as f:
        traced = json.load(f)
    spans, response_bytes = traced["spans"], traced["response_bytes"]
    jobs = read_events(os.path.join(work, "events"))
    by_rid: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_rid[s["rid"]].append(s)
    jobs_by_rid: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        jobs_by_rid[j["group"]].append(j)
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    per_op: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    timed = [r for r in recs if r["ok"]]
    resident_reqs = resident_hits = 0
    tot = defaultdict(float)
    for r in timed:
        op, rid = r["op"], r["rid"]
        ss = by_rid.get(rid, [])
        js = jobs_by_rid.get(rid, [])
        # each job belongs to the innermost span open at its submission
        for j in js:
            owners = [s for s in ss if s["start"] <= j["submit"] <= s["end"]]
            j["owner"] = max(owners, key=lambda s: s["start"]) if owners else None
        m = per_op[op]
        m["jobs"].append(len(js))
        m["stages"].append(sum(len(j["stages"]) for j in js))
        m["tasks"].append(sum(j["tasks"] for j in js))
        tot["run_ms"] += sum(j["run_ms"] for j in js)
        tot["gc_ms"] += sum(j["gc_ms"] for j in js)
        tot["shuffle"] += sum(j["shuffle_bytes"] for j in js)
        tot["wall_ms"] += r["ms"]
        route = [s for s in ss if s["name"] == "route"]
        if route:
            m["overhead"].append(r["ms"] - (route[0]["end"] - route[0]["start"]) * 1e3)
        if rid in response_bytes:
            m["bytes"].append(response_bytes[rid])
        m["engine_self"].append(sum(_self_ms(s, kids[s["id"]]) for s in ss
                                    if s["layer"] == "engine"))

        def dur(layer=None, name=None):
            return sum((s["end"] - s["start"]) * 1e3 for s in ss
                       if (layer is None or s["layer"] == layer)
                       and (name is None or s["name"] == name))

        m["embed_ms"].append(dur(layer="embedder"))
        m["embed_calls"].append(sum(s["layer"] == "embedder" for s in ss))
        m["knn"].append(dur(layer="knn"))
        m["keyword"].append(dur(layer="keyword"))
        m["chunk"].append(dur(name="chunk"))
        m["pack"].append(dur(name="pack"))
        m["commit"].append(dur(layer="storage"))
        rs = [s for s in ss if s["name"] == "resident_search"]
        if op == "resident":
            resident_reqs += 1
            resident_hits += bool(rs)
        for s in rs:
            m["serving_ms"].append((s["end"] - s["start"]) * 1e3)
            m["blocks"].append(sum(j["tasks"] for j in js if _under(j["owner"], s, by_id)))
        for s in (s for s in ss if s["name"] == "ivf_search"):
            m["ann_ms"].append((s["end"] - s["start"]) * 1e3)
            m["ann_tasks"].append(sum(j["tasks"] for j in js if _under(j["owner"], s, by_id)))

    def med(op, key):
        v = per_op.get(op, {}).get(key, [])
        return median(v) if v else 0.0

    def med_all(key):
        v = [x for m in per_op.values() for x in m.get(key, [])]
        return median(v) if v else 0.0

    out = {}
    for op in SPARK_OPS:
        out[f"spark.jobs.{op}"] = med(op, "jobs")
        out[f"spark.stages.{op}"] = med(op, "stages")
        out[f"spark.tasks.{op}"] = med(op, "tasks")
    for op in JOB_OPS:
        out[f"spark.jobs.{op}"] = med(op, "jobs")
    n = max(len(timed), 1)
    for w in WORKLOADS:
        mine = w == workload
        out[f"spark.run_share.{w}"] = tot["run_ms"] / max(tot["wall_ms"], 1e-9) if mine else 0.0
        out[f"spark.gc_ms.{w}"] = tot["gc_ms"] / n if mine else 0.0
        out[f"spark.shuffle_bytes.{w}"] = tot["shuffle"] / n if mine else 0.0
    out["server.overhead_ms"] = med_all("overhead")
    for op in READ_OPS:
        out[f"server.response_bytes.{op}"] = med(op, "bytes")
    for op in ENGINE_OPS:
        out[f"engine.self_ms.{op}"] = med(op, "engine_self")
    out["engine.resident_hit_ratio"] = resident_hits / resident_reqs if resident_reqs else 0.0
    for op in EMBED_OPS:
        out[f"embedder.ms.{op}"] = med(op, "embed_ms")
        out[f"embedder.calls.{op}"] = med(op, "embed_calls")
    out["serving.search_ms"] = med_all("serving_ms")
    out["serving.blocks_per_search"] = med_all("blocks")
    builds = [s for s in spans if s["name"] == "resident_build"]
    out["serving.build_s"] = median([s["end"] - s["start"] for s in builds]) if builds else 0.0
    for op in KNN_OPS:
        out[f"knn.ms.{op}"] = med(op, "knn")
    out["ann.search_ms"] = med_all("ann_ms")
    out["ann.tasks_per_search"] = med_all("ann_tasks")
    ivf = [s for s in spans if s["name"] == "ivf_build"]
    out["ann.build_s"] = median([s["end"] - s["start"] for s in ivf]) if ivf else 0.0
    out["keyword.ms"] = med("hybrid", "keyword")
    out["rag.chunk_ms"] = med("ingest", "chunk")
    out["rag.pack_ms"] = med("rag", "pack")
    for op in COMMIT_OPS:
        out[f"storage.commit_ms.{op}"] = med(op, "commit")
    out["storage.data_files"] = stats["data_files"]
    out["storage.manifest_versions"] = stats["versions"]
    out["storage.bytes_written_per_user_byte"] = stats["bytes_on_disk"] / max(user_bytes, 1)
    out["storage.stored_bytes_per_user_byte"] = stats["stored_bytes"] / max(user_bytes, 1)
    out["trace.latency_ms"] = e2e["latency_ms"]
    out["trace.ops_per_s"] = e2e["ops_per_s"]
    return out


def _under(span, ancestor, by_id) -> bool:
    """True when `span` is `ancestor` or nested inside it."""
    while span is not None:
        if span["id"] == ancestor["id"]:
            return True
        span = by_id.get(span["parent"])
    return False
