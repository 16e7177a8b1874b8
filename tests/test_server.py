"""S9 serving surface: router dispatch, MCP-style tools, loopback HTTP."""

from __future__ import annotations

import json
import threading
import urllib.request

import pytest

from fusionspark.engine import FusionSparkEngine
from fusionspark.server import Router, serve


@pytest.fixture()
def srv_engine(spark, tmp_path):
    return FusionSparkEngine(spark, str(tmp_path / "srv_store"))


def test_router_rest_surface(srv_engine):
    r = Router(srv_engine)
    status, health = r.route("GET", "/api/health")
    assert status == 200 and health["status"] == "ok"

    status, out = r.route("POST", "/api/collections", {"name": "c1", "dimensions": 8})
    assert status == 201 and out["name"] == "c1"

    status, out = r.route("POST", "/api/insert", {
        "collection": "c1", "id": "x", "text": "hello spark engine",
    })
    assert status == 201 and out["inserted"] == 1

    status, hits = r.route("POST", "/api/search", {
        "collection": "c1", "query": "hello spark", "topK": 3,
    })
    assert status == 200 and hits and hits[0]["id"] == "x"

    status, out = r.route("POST", "/api/rag/ingest", {"text": "word " * 300, "docId": "d1"})
    assert status == 201 and out["chunks"] >= 1
    status, ctx = r.route("POST", "/api/rag/query", {"query": "word"})
    assert status == 200 and ctx["chunks"]

    status, out = r.route("POST", "/api/memory/remember", {"agentId": "a1", "content": "likes brevity"})
    assert status == 201
    status, hits = r.route("POST", "/api/memory/recall", {"agentId": "a1", "query": "brevity"})
    assert status == 200 and hits
    status, out = r.route("POST", "/api/memory/forget", {"agentId": "a1"})
    assert status == 200 and out["forgotten"]

    status, out = r.route("POST", "/api/search", {})  # missing fields
    assert status == 400 and "error" in out
    status, out = r.route("GET", "/nope")
    assert status == 404


def test_router_tools(srv_engine):
    r = Router(srv_engine)
    names = {t["name"] for t in r.tool_manifest()["tools"]}
    assert {"fusionspark_search", "fusionspark_rag_ingest", "fusionspark_memory_recall"} <= names

    out = r.call_tool("fusionspark_create_collection", {"name": "t1", "dimensions": 8})
    assert "result" in out
    out = r.call_tool("fusionspark_rag_ingest", {"text": "alpha beta gamma " * 50})
    assert out["result"]["chunks"] >= 1
    out = r.call_tool("fusionspark_rag_query", {"query": "alpha"})
    assert out["result"]["chunks"]
    assert "error" in r.call_tool("nope_tool", {})


def test_http_loopback(srv_engine):
    """End-to-end over a real socket (stdlib threaded server)."""
    try:
        server = serve(srv_engine, port=0)  # ephemeral port
    except OSError:
        pytest.skip("sockets unavailable in sandbox")
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/api/health", timeout=10) as resp:
            assert json.loads(resp.read())["status"] == "ok"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/collections",
            data=json.dumps({"name": "h1", "dimensions": 8}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=10) as resp:
            assert resp.status == 201
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/mcp/tools", timeout=10) as resp:
            assert json.loads(resp.read())["tools"]
    finally:
        server.shutdown()


def test_memory_learn_share_and_conversation(srv_engine):
    r = Router(srv_engine)
    status, _ = r.route("POST", "/api/memory/learn", {"agentId": "a2", "content": "OSHA 1910.106 covers flammable liquids"})
    assert status == 201
    status, _ = r.route("POST", "/api/memory/share", {"agentId": "a2", "content": "shared finding about storage"})
    assert status == 201
    # learn lands in semantic memory, share in the shared pool
    assert srv_engine.recall("a2", "OSHA flammable", mem_type="semantic")
    pools = srv_engine.collaborative_recall(["a2"], "shared finding about storage")
    assert pools["shared"]

    for i, (role, text) in enumerate([("user", "hi"), ("assistant", "hello"), ("user", "bye")]):
        status, _ = r.route("POST", "/api/conversation/add", {
            "agentId": "a2", "threadId": "t1", "role": role, "content": text,
        })
        assert status == 201
    status, msgs = r.route("POST", "/api/conversation/get", {"agentId": "a2", "threadId": "t1", "limit": 2})
    assert status == 200
    assert [m["content"] for m in msgs] == ["hello", "bye"]
    assert msgs[0]["role"] == "assistant"
    # unknown thread → empty
    status, msgs = r.route("POST", "/api/conversation/get", {"agentId": "a2", "threadId": "nope"})
    assert msgs == []


def test_cli_demo_end_to_end(spark, monkeypatch):
    """The CLI demo path must run end to end (reuses the session fixture so
    no second JVM spins up)."""
    import fusionspark.cli as cli

    monkeypatch.setattr(
        cli, "_engine",
        lambda root=None: __import__("fusionspark.engine", fromlist=["FusionSparkEngine"]).FusionSparkEngine(
            spark, root or __import__("tempfile").mkdtemp(prefix="cli-demo-test-")
        ),
    )
    cli.demo()  # raises on any failure


def test_mcp_stdio_initialize_list_call(srv_engine):
    """VERDICT r2 #3: the MCP wire protocol — newline-delimited JSON-RPC
    over stdio pipes: initialize → initialized → tools/list → tools/call,
    plus unknown-method and parse-error replies."""
    import io

    from fusionspark.server import mcp_stdio

    requests = "\n".join(
        json.dumps(m)
        for m in [
            {"jsonrpc": "2.0", "id": 1, "method": "initialize",
             "params": {"protocolVersion": "2024-11-05", "clientInfo": {"name": "t"}}},
            {"jsonrpc": "2.0", "method": "notifications/initialized"},
            {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
            {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
             "params": {"name": "fusionspark_create_collection",
                        "arguments": {"name": "mcp_c", "dimensions": 8}}},
            {"jsonrpc": "2.0", "id": 4, "method": "tools/call",
             "params": {"name": "fusionspark_list_collections", "arguments": {}}},
            {"jsonrpc": "2.0", "id": 5, "method": "tools/call",
             "params": {"name": "no_such_tool", "arguments": {}}},
            {"jsonrpc": "2.0", "id": 6, "method": "bogus/method"},
        ]
    ) + "\nnot json at all\n"
    out = io.StringIO()
    mcp_stdio(srv_engine, stdin=io.StringIO(requests), stdout=out)
    replies = [json.loads(line) for line in out.getvalue().splitlines()]

    by_id = {r.get("id"): r for r in replies}
    # notification got no reply: 7 requests+1 garbage in, 7 replies out
    assert len(replies) == 7
    init = by_id[1]["result"]
    assert init["serverInfo"]["name"] == "fusionspark"
    assert init["protocolVersion"] and "tools" in init["capabilities"]
    tools = {t["name"]: t for t in by_id[2]["result"]["tools"]}
    assert "fusionspark_search" in tools
    assert tools["fusionspark_search"]["inputSchema"]["required"] == ["collection", "query"]
    assert by_id[3]["result"]["isError"] is False
    listed = json.loads(by_id[4]["result"]["content"][0]["text"])
    assert any(c["name"] == "mcp_c" for c in listed)
    assert by_id[5]["error"]["code"] == -32000  # unknown tool
    assert by_id[6]["error"]["code"] == -32601  # unknown method
    assert by_id[None]["error"]["code"] == -32700  # parse error


def test_index_build_and_approximate_search_routes(srv_engine):
    """Round 3: /api/index/build + approximate search over REST and the
    fusionspark_build_index tool."""
    r = Router(srv_engine)
    r.route("POST", "/api/collections", {"name": "ix", "dimensions": 8})
    for i in range(12):
        r.route("POST", "/api/insert", {
            "collection": "ix", "id": f"d{i}", "text": f"topic {i % 3} doc {i}",
        })
    status, info = r.route("POST", "/api/index/build", {"collection": "ix", "nCentroids": 3})
    assert status == 201 and info["n_centroids"] == 3 and info["rows"] == 12

    status, hits = r.route("POST", "/api/search", {
        "collection": "ix", "query": "topic 1 doc 4", "topK": 3,
        "approximate": True, "nProbe": 2,
    })
    assert status == 200 and len(hits) == 3

    out = r.call_tool("fusionspark_build_index", {"collection": "ix"})
    assert out["result"]["rows"] == 12
    # every tool still publishes an input schema in the manifest
    for t in r.tool_manifest()["tools"]:
        assert t["inputSchema"]["type"] == "object"


def test_resident_routes_and_tool(srv_engine):
    """Round 8: /api/index/resident (load + unload) and resident search
    over REST and the fusionspark_load_resident tool — results must match
    the exact path on the same query."""
    r = Router(srv_engine)
    r.route("POST", "/api/collections", {"name": "rs", "dimensions": 8})
    for i in range(10):
        r.route("POST", "/api/insert", {
            "collection": "rs", "id": f"d{i}", "text": f"topic {i % 3} doc {i}",
        })
    status, info = r.route("POST", "/api/index/resident", {"collection": "rs"})
    assert status == 201 and info["blocks"] >= 1

    q = {"collection": "rs", "query": "topic 1 doc 4", "topK": 3}
    s1, exact = r.route("POST", "/api/search", dict(q))
    s2, res = r.route("POST", "/api/search", dict(q, resident=True))
    assert s1 == s2 == 200
    assert [h["id"] for h in res] == [h["id"] for h in exact]

    out = r.call_tool("fusionspark_load_resident", {"collection": "rs"})
    assert out["result"]["blocks"] >= 1
    status, gone = r.route("DELETE", "/api/index/resident", {"collection": "rs"})
    assert status == 200 and gone["unloaded"] == "rs"
    # after unload the resident flag quietly uses the exact path
    s3, res2 = r.route("POST", "/api/search", dict(q, resident=True))
    assert s3 == 200 and [h["id"] for h in res2] == [h["id"] for h in exact]
    for t in r.tool_manifest()["tools"]:
        assert t["inputSchema"]["type"] == "object"


def test_analyze_route_and_tool(srv_engine):
    from fusionspark.engine import CollectionConfig

    r = Router(srv_engine)
    srv_engine.create_collection("sp", CollectionConfig(dimensions=4))
    srv_engine.insert(
        "sp",
        [
            {"id": f"v{i}", "vector": [0.4 * (i % 2), 0.2, 0.1 * i % 0.7, 0.05]}
            for i in range(12)
        ],
    )
    status, out = r.route("POST", "/api/analyze", {"collection": "sp", "k": 2})
    assert status == 200
    assert out["n"] == 12 and out["dimensions"] == 4
    assert "effectiveRank" in out and len(out["clusters"]) == 2
    # same through the tool registry (MCP surface)
    res = r.call_tool("fusionspark_analyze", {"collection": "sp"})
    assert res["result"]["n"] == 12 and "clusters" not in res["result"]
    assert any(
        t["name"] == "fusionspark_analyze" for t in r.tool_manifest()["tools"]
    )


def test_every_tool_has_input_schema(srv_engine):
    """tool_manifest must advertise a non-empty inputSchema for every
    tool whose handler requires arguments — a client following the
    manifest must never omit a required key (ADVICE r8:
    fusionspark_validate had no TOOL_SCHEMAS entry)."""
    r = Router(srv_engine)
    manifest = r.tool_manifest()["tools"]
    assert any(t["name"] == "fusionspark_validate" for t in manifest)
    for t in manifest:
        schema = t["inputSchema"]
        if t["name"] == "fusionspark_list_collections":
            continue  # genuinely arg-free
        assert schema.get("properties"), t["name"]


def _resident_collection(r: Router, name: str) -> list:
    """A 24-doc collection with a driver-placed resident index; returns 16
    resident search bodies, with and without a tenant filter."""
    r.route("POST", "/api/collections", {"name": name, "dimensions": 8})
    for i in range(24):
        r.route("POST", "/api/insert", {
            "collection": name, "id": f"d{i}", "text": f"topic {i % 5} doc {i}",
            "tenantId": "t1" if i % 3 else "t2",
        })
    status, info = r.route("POST", "/api/index/resident", {"collection": name})
    assert status == 201 and info["placement"] == "driver"
    return [
        {"collection": name, "query": f"topic {i % 5} doc {i}", "topK": 4,
         "resident": True, **({"tenantId": "t1"} if i % 2 else {})}
        for i in range(16)
    ]


def test_concurrent_resident_searches_match_serial(srv_engine):
    """The threaded HTTP server calls Router.route concurrently; resident
    searches sharing one driver-held index from 4 threads return exactly
    the serial replies (a short switch interval forces interleaving)."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    r = Router(srv_engine)
    bodies = _resident_collection(r, "cc")
    serial = [r.route("POST", "/api/search", dict(b)) for b in bodies]
    assert all(s == 200 and hits for s, hits in serial)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=4) as pool:
            threaded = list(pool.map(
                lambda b: r.route("POST", "/api/search", dict(b)), bodies * 4,
                timeout=300,
            ))
    finally:
        sys.setswitchinterval(interval)
    assert threaded == serial * 4


def test_resident_reload_during_concurrent_searches(srv_engine, monkeypatch):
    """A resident reload while 4 threads search: each thread's first
    request looks the old index up, then waits for the reload to finish
    before scanning it.  Every request still returns the serial reply —
    a replaced index stays searchable for requests that already hold it."""
    from concurrent.futures import ThreadPoolExecutor

    r = Router(srv_engine)
    bodies = _resident_collection(r, "cr")
    serial = [r.route("POST", "/api/search", dict(b)) for b in bodies]
    assert all(s == 200 and hits for s, hits in serial)
    held, reloaded = threading.Semaphore(0), threading.Event()
    fresh = srv_engine._resident_fresh

    def lookup_then_wait(collection, cfg):
        idx = fresh(collection, cfg)
        if not reloaded.is_set():
            held.release()
            assert reloaded.wait(300)
        return idx

    monkeypatch.setattr(srv_engine, "_resident_fresh", lookup_then_wait)
    with ThreadPoolExecutor(max_workers=4) as pool:
        pending = [
            pool.submit(r.route, "POST", "/api/search", dict(b)) for b in bodies
        ]
        try:
            for _ in range(4):
                assert held.acquire(timeout=300)
            status, _info = r.route(
                "POST", "/api/index/resident", {"collection": "cr"}
            )
            assert status == 201
        finally:
            reloaded.set()
        replies = [f.result(timeout=300) for f in pending]
    assert replies == serial
