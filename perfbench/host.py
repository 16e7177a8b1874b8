"""The program's process.  The benchmark starts it with the repo on
PYTHONPATH, so Python workers import `fusionspark` from any directory.

    python3 perfbench/host.py --work DIR --spec FILE [--trace 1]

Protocol: the host prints `@@ <word> <json>` lines on stdout and reads one
command per line on stdin.

Set-up: load the spec's collection into a FusionSparkEngine, build its
indexes and serve REST on an ephemeral port.  Then it prints
`@@ ready {"port": .., "phases": ..}` and obeys:

  stop              close the REST server
  verify IN OUT     a fresh engine on the same root checks the writes in IN
  exit              stop Spark and exit
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def say(word: str, payload=None) -> None:
    sys.stdout.write(f"@@ {word} {json.dumps(payload)}\n")
    sys.stdout.flush()


def setup_serve(spark, spec, tracer):
    from fusionspark.engine import FusionSparkEngine
    from fusionspark.server import serve

    eng = FusionSparkEngine(spark, spec["root"], storage=spec["storage"])
    if tracer is not None:
        tracer.wrap_embedder(eng)
    phases = {}
    t = time.time()
    coll = spec["collection"]
    path = spec["jsonl"]
    if spec.get("embed"):
        path = _embed_jsonl(eng, path, spec["dim"])
    eng.import_jsonl(coll, path, dimensions=spec["dim"])
    phases["load_s"] = time.time() - t
    # the resident blocks and the IVF layout build side by side: both only
    # read the freshly loaded collection
    builds = [("resident_s", eng.load_resident)]
    if spec.get("ivf"):
        builds.append(("ivf_s", eng.build_index))

    def build(name, fn):
        t0 = time.time()
        fn(coll)
        phases[name] = time.time() - t0

    threads = [threading.Thread(target=build, args=b) for b in builds]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    missing = [name for name, _ in builds if name not in phases]
    if missing:
        raise RuntimeError(f"set-up step failed: {missing}")
    server = serve(eng, port=0)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, phases


def _embed_jsonl(eng, path: str, dim: int) -> str:
    """Fill each row's vector with the engine's embedder (batched when it
    is the built-in mock embedder)."""
    from fusionspark.operators.embedder import mock_embed, mock_embed_batch

    with open(path) as f:
        rows = [json.loads(line) for line in f]
    texts = [r["content"] or "" for r in rows]
    if eng.embedder is mock_embed:
        vecs = mock_embed_batch(texts, dim)
    else:
        vecs = [eng.embedder(t, dim) for t in texts]
    out = path + ".embedded"
    with open(out, "w") as f:
        for r, v in zip(rows, vecs):
            r["vector"] = v
            f.write(json.dumps(r) + "\n")
    return out


def verify_writes(spark, spec, acked: dict) -> list[str]:
    """Reopen the root with a fresh engine; every acknowledged write must
    be readable with its last acknowledged content."""
    from fusionspark.engine import FusionSparkEngine

    eng = FusionSparkEngine(spark, spec["root"], storage=spec["storage"])
    bad = []
    cols = {}

    def rows(coll):
        if coll not in cols:
            if coll not in eng._catalog:
                cols[coll] = []
            else:
                cols[coll] = [
                    r.asDict() for r in eng._load(coll).select(
                        "id", "content", "tenant_id", "metadata").collect()
                ]
        return cols[coll]

    coll = spec["collection"]
    by_key = {(r["tenant_id"], r["id"]): r for r in rows(coll)}
    for w in acked.get("docs", []):
        r = by_key.get((w["tenant"], w["id"]))
        if r is None or r["content"] != w["text"]:
            bad.append(f"doc {w['id']} not readable with its last content")
    memories = {(r["tenant_id"], r["content"]) for r in rows("_memory_episodic")}
    for w in acked.get("memories", []):
        if (w["tenant"], w["text"]) not in memories:
            bad.append(f"memory of {w['tenant']} lost")
    messages = {(r["tenant_id"], (r["metadata"] or {}).get("thread_id"), r["content"])
                for r in rows("_conversations")}
    for w in acked.get("messages", []):
        if (w["tenant"], w["thread"], w["text"]) not in messages:
            bad.append(f"message of {w['tenant']} lost")
    sources = {}
    for r in rows(coll):
        src = (r["metadata"] or {}).get("_source")
        if src:
            sources[src] = sources.get(src, 0) + 1
    for w in acked.get("ingests", []):
        if sources.get(w["doc_id"], 0) != w["chunks"]:
            bad.append(f"ingest {w['doc_id']}: {sources.get(w['doc_id'], 0)} "
                       f"chunks stored, {w['chunks']} acknowledged")
    return bad


def storage_stats(root: str, collection: str) -> dict:
    """Files and bytes under the collection directory; manifest versions."""
    cdir = os.path.join(root, f"collection={collection}")
    mdir = os.path.join(cdir, "_manifests")
    total = 0
    for d, _, fs in os.walk(cdir):
        for f in fs:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
    out = {"bytes_on_disk": total, "versions": 0, "data_files": 0, "stored_bytes": total}
    if os.path.isdir(mdir):
        vs = sorted(f for f in os.listdir(mdir) if f.endswith(".json"))
        out["versions"] = len(vs)
        with open(os.path.join(mdir, vs[-1])) as f:
            files = json.load(f)["files"]
        out["data_files"] = len(files)
        out["stored_bytes"] = sum(os.path.getsize(os.path.join(cdir, p)) for p in files)
    else:
        out["data_files"] = sum(
            1 for _, _, fs in os.walk(cdir) for f in fs if f.endswith(".parquet"))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(a.spec) as f:
        spec = json.load(f)

    from fusionspark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if a.trace:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()

    server, phases = setup_serve(spark, spec, tracer)
    say("ready", {"port": server.server_address[1], "phases": phases})

    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "stop":
            server.shutdown()
            server.server_close()
            say("stopped")
        elif cmd[0] == "verify":
            with open(cmd[1]) as f:
                acked = json.load(f)
            bad = verify_writes(spark, spec, acked)
            with open(cmd[2], "w") as f:
                json.dump(bad, f)
            say("verified", len(bad))
        elif cmd[0] == "exit":
            break
    active = len(spark.streams.active)
    if tracer is not None:
        tracer.dump(os.path.join(a.work, "spans.json"))
    spark.stop()
    say("bye", {"active_streams": active})
    return 0


if __name__ == "__main__":
    sys.exit(main())
