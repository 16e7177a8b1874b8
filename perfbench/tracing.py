"""Traced-run instrumentation, installed from outside the program.

`Tracer.install()` wraps public functions where their callers look them up
(module globals the engine imported by name, class attributes) and
`Tracer.wrap_embedder(engine)` the engine's embedder attribute, so each
call records a span: name, layer, start, end, parent span and request id.
Spans stay in memory until `dump()`.  Spark work is attributed from the
event log written by the launch-time conf (see `spark_conf_args`): the
`Router.route` wrapper sets one job group per request, and each job
belongs to the innermost span open when it was submitted.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import threading
import time

#: (module, attribute path, span name, layer).  Names are patched where
#: the caller resolves them: `fusionspark.engine.knn` is the engine's own
#: binding of the kernel, `ann.ivf_search_persisted` is imported inside
#: the engine method at call time, so the module attribute is the lookup.
TARGETS = [
    ("fusionspark.server", "Router.route", "route", "server"),
    ("fusionspark.engine", "FusionSparkEngine.search", "search", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.retrieve", "retrieve", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.insert", "insert", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.build_context", "build_context", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.remember", "remember", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.recall", "recall", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.add_message", "add_message", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.get_conversation", "get_conversation", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.ingest", "ingest", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.load_resident", "load_resident", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.optimize", "optimize", "engine"),
    ("fusionspark.engine", "FusionSparkEngine.build_index", "build_index", "engine"),
    ("fusionspark.operators.embedder", "embed_texts", "embed_texts", "embedder"),
    ("fusionspark.operators.serving", "ResidentIndex.search", "resident_search", "serving"),
    ("fusionspark.operators.serving", "ResidentIndex.build", "resident_build", "serving"),
    ("fusionspark.engine", "knn", "knn", "knn"),
    ("fusionspark.operators.ann", "ivf_search_persisted", "ivf_search", "ann"),
    ("fusionspark.operators.ann", "persist_ivf", "ivf_build", "ann"),
    ("fusionspark.engine", "keyword_search", "keyword_search", "keyword"),
    ("fusionspark.operators.fusion", "rrf_fuse", "rrf_fuse", "keyword"),
    ("fusionspark.engine", "chunk_documents", "chunk", "rag"),
    ("fusionspark.engine", "pack_context", "pack", "rag"),
    ("fusionspark.storage.manifest", "ManifestTable.append", "commit_append", "storage"),
    ("fusionspark.storage.manifest", "ManifestTable.upsert", "commit_upsert", "storage"),
    ("fusionspark.storage.manifest", "ManifestTable.compact", "commit_compact", "storage"),
    ("fusionspark.storage.manifest", "ManifestTable.overwrite", "commit_overwrite", "storage"),
    ("fusionspark.storage.manifest", "ManifestTable.delete_where", "commit_delete", "storage"),
]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.response_bytes: dict[str, int] = {}
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def span(self, name: str, layer: str):
        """Decorator factory: record a span around every call."""

        def deco(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                stack = self._local.__dict__.setdefault("stack", [])
                sid = next(self._ids)
                parent = stack[-1] if stack else None
                stack.append(sid)
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    t1 = time.time()
                    stack.pop()
                    rec = {"id": sid, "parent": parent, "name": name, "layer": layer,
                           "rid": getattr(self._local, "rid", None),
                           "start": t0, "end": t1}
                    with self._lock:
                        self.spans.append(rec)

            wrapper.__perfbench_orig__ = fn
            return wrapper

        return deco

    def _route(self, fn):
        """Router.route: one request id and Spark job group per request (the
        benchmark client names each request with `_rid` and `_op` body keys,
        which the router ignores); records the reply's JSON size."""
        traced = self.span("route", "server")(fn)

        @functools.wraps(fn)
        def route(router, method, path, body=None):
            body = body or {}
            rid = str(body.get("_rid", f"anon-{next(self._ids)}"))
            self._local.rid = rid
            self.spark.sparkContext.setJobGroup(rid, body.get("_op", path))
            status, payload = traced(router, method, path, body)
            self.response_bytes[rid] = len(json.dumps(payload, default=str))
            return status, payload

        return route

    def _embed_texts(self, fn):
        """embed_texts picks its vectorized path by the identity of embed_fn;
        hand it the unwrapped embedder so tracing does not change the path."""
        traced = self.span("embed_texts", "embedder")(fn)

        @functools.wraps(fn)
        def embed_texts(texts, text_col="text", dimensions=64, embed_fn=None, **kw):
            if embed_fn is not None:
                embed_fn = getattr(embed_fn, "__perfbench_orig__", embed_fn)
                return traced(texts, text_col, dimensions, embed_fn, **kw)
            return traced(texts, text_col, dimensions, **kw)

        return embed_texts

    def install(self) -> None:
        """Patch every TARGETS entry."""
        for modname, path, name, layer in TARGETS:
            owner = importlib.import_module(modname)
            *outer, attr = path.split(".")
            for p in outer:
                owner = getattr(owner, p)
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            if isinstance(raw, classmethod):
                setattr(owner, attr, classmethod(self.span(name, layer)(raw.__func__)))
            elif name == "route":
                setattr(owner, attr, self._route(raw))
            elif name == "embed_texts":
                setattr(owner, attr, self._embed_texts(raw))
            else:
                setattr(owner, attr, self.span(name, layer)(raw))

    def wrap_embedder(self, engine) -> None:
        engine.embedder = self.span("embed", "embedder")(engine.embedder)

    def dump(self, path: str) -> None:
        with self._lock:
            data = {"spans": list(self.spans), "response_bytes": dict(self.response_bytes)}
        with open(path, "w") as f:
            json.dump(data, f)


def spark_conf_args(event_dir: str) -> list[str]:
    """Launch-time conf for the traced run: an uncompressed event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{os.path.abspath(event_dir)}",
        "--conf", "spark.eventLog.compress=false",
    ]
