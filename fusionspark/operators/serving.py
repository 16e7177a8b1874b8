"""Resident vector index — the serving-path peer of the reference's
in-memory HNSW (reference src/core/HNSWIndex.js:126-320 keeps the whole
graph in process memory; search never touches storage).

The batch `knn(strategy="numpy")` path re-ships the corpus from the JVM to
Python workers on EVERY search (~0.35 s of Arrow conversion per call for
100k x 64-d locally — measured, see BENCH_DETAIL).  A serving engine builds
once and searches many: here each partition's vectors are materialized ONCE
into a numpy block (ids + row-major float64 matrix, pre-normalized for
cosine, plus any attribute columns), so a search is one GEMM strip loop +
one top-k per block and never re-reads the table.

Placement — where the blocks live decides what a search costs:
  * driver (the blocks' pickled bytes ≤ DRIVER_BLOCK_BYTES): build()
    collects the blocks into the driver process and unpersists the
    executor copy; search() runs the same kernel and merge in process, with
    no Spark job at all — the reference's in-process shape.  The budget
    is per index: an engine with several resident collections may hold up
    to the budget for each.  The driver's BLAS then runs on one thread for
    the life of the process (`_pin_driver_blas`); where it cannot be
    pinned, blocks stay on the executors;
  * executors (above the budget): the blocks stay persisted where they were
    built.  PySpark caches them as pickled bytes in the JVM block manager,
    so every distributed search ships its probes in the task closure and
    unpickles its partition's blocks in a Python worker — one job per
    search, but no table scan and no corpus re-encoding.
Placement only ever moves driver → executors: an append() whose combined
blocks cross the budget parallelizes the driver blocks back out.

Scale shape (1000 executors, 100 TB) — the executor placement:
  * blocks live WHERE the data lives — each executor holds its partitions'
    blocks in memory; nothing reshuffles between searches;
  * the probe batch ships once per stage in the task binary (chunk batches
    beyond ~10k probes);
  * per-partition candidates are fixed-width (n_probes x k) distance/id
    matrices; the merge is associative, so it runs either as one driver
    reduction (interactive batches) or as `treeReduce` partial merges on
    executors (`merge="tree"`) — the same shape Spark's own TakeOrdered
    uses.  At 1000 partitions x 1000 probes x k=10 the driver form moves
    160 MB; the tree form cuts that by the fan-in per level.

Exactness: float64 GEMM over the same vectors — identical semantics to
`knn(strategy="numpy")` up to ulp-level reassociation (cosine is computed
as 1 - normalized-rows GEMM instead of GEMM / |e| / |p|); ranks use the
same documented (distance, id ASC) total order, with boundary ties resolved
by an exact per-row re-selection.  Both placements run the same kernel on
one BLAS thread (see `_pin_driver_blas`), so they return the same bits.
Parity is pytest-attested against the attested knn kernel on both
placements (tests/test_serving.py).

Ids ride in an int64 candidate matrix.  String ids (the reference's ids ARE
strings, HNSWIndex.js:27-35) are dict-encoded at build: surrogate =
xxhash64(id), with a collision check that fails loudly (p(collision) ~
n²/2⁶⁵ — vanishing below billions of ids).  Each block also carries the
original ids under `__orig_id__`, and the kernel returns them beside its
candidates, so a search needs no decode join.  One documented deviation for
string corpora: exact-distance boundary ties break on the surrogate (hash)
order, not lexicographically on the original id.
"""

from __future__ import annotations

import ctypes
import logging
import os
import pickle
from concurrent.futures import ThreadPoolExecutor
from typing import Iterable, Iterator

import numpy as np

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["ResidentIndex", "ResidentIVF"]

log = logging.getLogger("fusionspark.serving")

_METRICS = ("cosine", "dot", "euclidean")


# merge="auto" switches to executor-side treeReduce above this many blocks:
# at 1000 partitions the driver fold would pull 1000 × (Q×k) candidate
# matrices through one process; below it the single vectorized driver merge
# is faster than an extra distributed stage.
AUTO_TREE_PARTITIONS = 64

# Pickled block bytes at or under which an index's blocks live on the
# driver — per index, not per process.  A single-probe search then reads
# every block once in process: 256 MiB is ~500k × 64-d float64 rows,
# ~25-50 ms of memory traffic — inside the 50 ms single-request bar and
# well under one Python-task Spark job (170-280 ms measured on a 4-core
# local[4] host, even with worker reuse).  Above it a
# distributed scan splits the work across executors and the driver holds
# nothing, which is the shape that scales.
DRIVER_BLOCK_BYTES = 256 << 20

# Corpus rows per GEMM strip in the search kernel.  Bounds a task's
# transient allocations at Q×TILE_ROWS float64 (~32 MB for 1000 probes)
# regardless of block size: measured at 1M×64 on this host, the un-tiled
# (Q, n) kernel paid an 80s first-search page-fault storm (32 tasks
# first-touching ~24 GB) vs 1.5s warm, while 4096-row strips run ~0.43s
# per 31k-row block steady-state with no cold spike — faster than the
# single shot even warm (better cache locality for the top-k pass).
TILE_ROWS = 4096

#: probe-matrix rows the build-time warm pass sizes its fake transients
#: for — the common serving batch shape; larger real batches only fault
#: the difference.
WARM_Q = 1000


def _warm_kernel(it):
    """Build-time pre-fault of the search kernel's transient allocations
    in each Python worker: allocate-and-touch the same strip-shaped
    arrays (scores, distances, argpartition output) a WARM_Q-probe search
    would, so the FIRST real search runs at steady-state latency instead
    of paying the allocator/page-fault cost (measured 6.3s vs 1.7s at
    1M×64 even tiled; 80-108s before tiling).  The reference pays its
    memory setup during insert, so pricing it into build keeps the
    build/search split honest.  Also serves as the materializing action
    for the block cache, and yields each block's pickled bytes — the size
    the placement rule compares with DRIVER_BLOCK_BYTES."""
    for block in it:
        M = block[1]
        strip = min(TILE_ROWS, M.shape[0])
        S = np.zeros((WARM_Q, strip))
        D = S + 1.0
        kk = min(10, strip)
        idx = np.argpartition(D, kk - 1, axis=1)
        dsel = np.take_along_axis(D, idx[:, :kk], axis=1)
        _ = D == dsel.max(axis=1)[:, None]  # tie-check booleans
        yield len(pickle.dumps(block, protocol=pickle.HIGHEST_PROTOCOL))


# process-wide like the BLAS thread count it records: None until tried
_blas_pinned: bool | None = None

_OPENBLAS_SET_THREADS = (
    "openblas_set_num_threads", "openblas_set_num_threads64_",
    "scipy_openblas_set_num_threads", "scipy_openblas_set_num_threads64_",
)


def _pin_driver_blas() -> bool:
    """Run this process's OpenBLAS on one thread — the setting every
    executor task already has (session.py pins OPENBLAS/OMP/MKL_NUM_THREADS
    to 1 for the Python workers) — and return whether that worked.
    Multi-threaded OpenBLAS splits a GEMM by its shape, so one dot product
    can differ in the last ulp from call to call; on one thread a
    driver-placed search computes the executors' exact bits, whatever block
    a row sits in, so identical vectors tie exactly under the (distance,
    id) rule.  The setting is process-wide and permanent: once a resident
    index lands on the driver, ALL numpy linear algebra in this process
    runs on one BLAS thread.  Tried once; where no OpenBLAS can be pinned
    the caller keeps the blocks on the executors."""
    global _blas_pinned
    if _blas_pinned is not None:
        return _blas_pinned
    try:
        with open("/proc/self/maps") as f:
            paths = {ln.split()[-1] for ln in f if "openblas" in ln.lower()}
    except OSError:
        paths = set()
    _blas_pinned = False
    for path in paths:
        lib = ctypes.CDLL(path)
        for sym in _OPENBLAS_SET_THREADS:
            if hasattr(lib, sym):
                set_threads = getattr(lib, sym)
                set_threads.argtypes = [ctypes.c_int]
                set_threads.restype = None
                set_threads(1)
                _blas_pinned = True
    if not _blas_pinned:
        log.warning(
            "no OpenBLAS found to pin to one thread; resident indexes stay "
            "on the executors"
        )
    return _blas_pinned


def _id_kind(df: DataFrame, id_col: str) -> str:
    t = dict(df.dtypes)[id_col]
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t == "string":
        return "string"
    raise ValueError(
        f"resident index needs an integral or string id column; {id_col!r} is {t}"
    )


def _encode_string_ids(corpus: DataFrame, id_col: str):
    """Dict-encode a string id column to int64 surrogates: surrogate =
    xxhash64(id) (content-deterministic, so append()-built blocks stay
    consistent with earlier ones without shared state).  Returns
    (encoded_df_with___rid64, mapping_df(surrogate, id)); the mapping is
    lazy and only ever aggregated by `_check_injective`."""
    enc = corpus.withColumn("__rid64", F.xxhash64(F.col(id_col)))
    # distinct: duplicate ids are legal corpus rows (e.g. the engine's
    # per-tenant id namespaces) and must not count as collisions
    return enc, enc.select("__rid64", id_col).distinct()


def _check_injective(decode: DataFrame, id_col: str) -> None:
    """One aggregation pass over the (surrogate, id) mapping proves the
    encoding injective on THIS corpus and fails loudly otherwise."""
    stats = decode.agg(
        F.countDistinct(id_col).alias("n_ids"),
        F.countDistinct("__rid64").alias("n_codes"),
    ).first()
    if stats["n_ids"] != stats["n_codes"]:
        raise ValueError(
            f"xxhash64 collision: {stats['n_ids']} distinct string ids map "
            f"to {stats['n_codes']} surrogates; resident serving cannot "
            "dict-encode this corpus — rebuild with integral ids"
        )


def _block_of(rows: list, id_name: str, vec_name: str, metric: str,
              attr_names: tuple = ()):
    """(ids int64, M float64, extra) where M is pre-normalized for cosine;
    for euclidean the squared row norms ride in extra[None]; attr columns
    (for pre-filtered serving) ride as numpy arrays in extra."""
    ids = np.asarray([r[id_name] for r in rows], dtype=np.int64)
    V = np.asarray([r[vec_name] for r in rows], dtype=np.float64)
    extra = {a: np.asarray([r[a] for r in rows]) for a in attr_names}
    if "__orig_id__" in extra:
        # object dtype, so candidate payloads can pad with None
        extra["__orig_id__"] = extra["__orig_id__"].astype(object)
    if metric == "cosine":
        n = np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        return ids, V / n[:, None], extra or None
    if metric == "euclidean":
        extra["__sqnorm__"] = (V * V).sum(axis=1)
        return ids, V, extra
    return ids, V, extra or None


def _row_topk(D: np.ndarray, ids: np.ndarray, k: int, payload=None):
    """Exact per-row top-k of (distance ASC, id ASC): argpartition cut, then
    an exact re-selection for the (rare) rows whose kth distance ties with
    rows outside the cut — so membership is the documented total order, not
    argpartition's arbitrary boundary pick.  Returns (dsel, isel), plus the
    matching `payload` entries (the original string ids) when given."""
    n = D.shape[1]
    kk = min(k, n)
    idx = np.argpartition(D, kk - 1, axis=1)[:, :kk] if kk < n else (
        np.broadcast_to(np.arange(n), D.shape).copy()
    )
    dsel = np.take_along_axis(D, idx, axis=1)
    isel = ids[idx]
    psel = None if payload is None else payload[idx]
    if kk < n:
        boundary = dsel.max(axis=1)
        n_tot = (D == boundary[:, None]).sum(axis=1)
        n_in = (dsel == boundary[:, None]).sum(axis=1)
        for qi in np.flatnonzero(n_tot > n_in):
            cand = np.flatnonzero(D[qi] <= boundary[qi])
            order = np.lexsort((ids[cand], D[qi, cand]))
            pick = cand[order[:kk]]
            dsel[qi] = D[qi, pick]
            isel[qi] = ids[pick]
            if psel is not None:
                psel[qi] = payload[pick]
    return (dsel, isel) if psel is None else (dsel, isel, psel)


def _merge_candidates(parts: Iterable[tuple], k: int):
    """Associative merge of (D (Q,m), I (Q,m)[, payload (Q,m)]) candidate
    sets: concatenate, then order each row by (distance, id) — the exact
    total order — carrying any payload column along.  Works for the driver
    fold and for treeReduce partials alike."""
    parts = list(parts)
    cols = [np.concatenate([p[j] for p in parts], axis=1)
            for j in range(len(parts[0]))]
    D, I = cols[0], cols[1]
    m = D.shape[1]
    kk = min(k, m)
    if m > 2 * kk:
        # argpartition prefilter by distance (cheap) before the exact
        # sort; rows whose kth distance ties with dropped columns get an
        # exact (d, id) re-selection so the cut stays exact
        idx = np.argpartition(D, kk - 1, axis=1)[:, :kk]
        sel = [np.take_along_axis(c, idx, axis=1) for c in cols]
        boundary = sel[0].max(axis=1)
        n_tot = (D == boundary[:, None]).sum(axis=1)
        n_in = (sel[0] == boundary[:, None]).sum(axis=1)
        for qi in np.flatnonzero(n_tot > n_in):
            cand = np.flatnonzero(D[qi] <= boundary[qi])
            order = np.lexsort((I[qi, cand], D[qi, cand]))
            pick = cand[order[:kk]]
            for s, c in zip(sel, cols):
                s[qi] = c[qi, pick]
        cols = sel
    order = np.lexsort((cols[1], cols[0]), axis=1)[:, :kk]
    return tuple(np.take_along_axis(c, order, axis=1) for c in cols)


def _scan(blocks: Iterable[tuple], P: np.ndarray, metric: str, k: int,
          pre_filter=None) -> Iterator[tuple]:
    """The search kernel: one candidate set per block that keeps a row.
    P is the probe matrix already normalized for cosine.  Runs as the
    executor placement's mapPartitions body and over the driver-held
    blocks alike; it never mutates a block, so concurrent searches may
    share them."""
    p2 = (P * P).sum(axis=1)[:, None] if metric == "euclidean" else None
    for ids, M, extra in blocks:
        ex = extra or {}
        orig = ex.get("__orig_id__")
        sqnorm = ex.get("__sqnorm__")
        if pre_filter is not None:
            mask = np.asarray(
                pre_filter(ids if orig is None else orig, ex), dtype=bool
            )
            if not mask.any():
                continue
            ids, M = ids[mask], M[mask]
            if orig is not None:
                orig = orig[mask]
            if sqnorm is not None:
                sqnorm = sqnorm[mask]
        # GEMM over corpus-row STRIPS with a running exact top-k merge,
        # never the full (Q, n) distance matrix: at 1M rows a single-shot
        # kernel allocates ~750 MB of transients per task, and 32 tasks
        # first-touching ~24 GB of fresh pages cost a measured 80s on this
        # host's first search (vs 1.5s warm).  Strips keep the transient at
        # Q×TILE_ROWS (~32 MB) — measured faster than the single shot even
        # warm, with NO cold-start spike, and the exact (distance ASC, id
        # ASC) order is preserved because a global top-k element is always
        # in its strip's top-k.
        acc = None
        for s in range(0, M.shape[0], TILE_ROWS):
            S = P @ M[s:s + TILE_ROWS].T  # (Q, strip)
            if metric == "cosine":
                D = 1.0 - S
            elif metric == "dot":
                D = -S
            else:
                v2 = sqnorm[s:s + TILE_ROWS]
                D = np.sqrt(np.maximum(p2 + v2[None, :] - 2.0 * S, 0.0))
            part = _row_topk(
                D, ids[s:s + TILE_ROWS], k,
                None if orig is None else orig[s:s + TILE_ROWS],
            )
            acc = part if acc is None else _merge_candidates([acc, part], k)
        yield acc


def _result_df(
    spark: SparkSession,
    probe_ids: list,
    Dk: np.ndarray,
    Ik: np.ndarray,
    probe_id_col: str,
    id_col: str,
    probe_sql_type: str,
    id_sql_type: str,
) -> DataFrame:
    import pandas as pd

    Q, kk = Dk.shape
    keep = np.isfinite(Dk)  # IVF: probes not routed to a partition pad with +inf
    reps = keep.sum(axis=1)
    pdf = pd.DataFrame(
        {
            probe_id_col: np.repeat(np.asarray(probe_ids), reps),
            id_col: Ik[keep],
            "distance": Dk[keep],
        }
    )
    pdf["score"] = 1.0 - pdf["distance"]
    ranks = np.concatenate([np.arange(1, r + 1) for r in reps]) if Q else np.array([], dtype=np.int64)
    pdf["rank"] = ranks.astype(np.int64)
    schema = (
        f"{probe_id_col} {probe_sql_type}, {id_col} {id_sql_type}, "
        "distance double, score double, rank int"
    )
    return spark.createDataFrame(pdf, schema=schema)


def _collect_probes(probes: DataFrame, probe_id_col: str,
                    probe_vector_col: str, probe_batch):
    """(probe_ids, P float64, probe sql type) from a pre-collected batch or
    by collecting the probe DataFrame."""
    from fusionspark.operators.knn import id_sql_type

    if probe_batch is not None:
        probe_ids, P, probe_t = probe_batch
        return probe_ids, np.asarray(P, dtype=np.float64), probe_t
    rows = probes.select(probe_id_col, probe_vector_col).collect()
    return (
        [r[probe_id_col] for r in rows],
        np.asarray([r[probe_vector_col] for r in rows], dtype=np.float64),
        id_sql_type(probes, probe_id_col),
    )


def _no_candidates(Q: int, string_ids: bool):
    """(Dk, ids) for a search no block answered."""
    return np.full((Q, 0), np.inf), np.empty(
        (Q, 0), dtype=object if string_ids else np.int64
    )


def _unit_rows(P: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(P, axis=1)
    n[n == 0] = 1.0
    return P / n[:, None]


class ResidentIndex:
    """Exact-search resident block index.  Build once, search many;
    append() adds new blocks without touching existing ones (the
    incremental-insert story — the reference inserts into its in-memory
    graph one vector at a time, HNSWIndex.js:126-180).  Deletes rebuild,
    like the IVF layouts.  `placement` is "driver" or "executors" (see the
    module docstring); `nbytes` is the blocks' pickled size."""

    def __init__(self, spark, metric, id_col, vector_col, id_sql_type,
                 attr_cols=(), decode=None, parts=(), blocks=None, nbytes=0):
        self.spark = spark
        self.metric = metric
        self.id_col = id_col
        self.vector_col = vector_col
        self.id_sql_type = id_sql_type
        self.attr_cols = tuple(attr_cols)
        # lazy (surrogate, id) mapping DataFrame for string-keyed corpora;
        # aggregated only by the build's and append()'s collision checks
        self._decode = decode
        # executor placement: persisted block RDDs
        self._parts = list(parts)
        # driver placement: the blocks themselves (None once unpersisted)
        self._blocks = blocks
        self.placement = "driver" if blocks is not None else "executors"
        self.nbytes = nbytes

    @property
    def rdd(self):
        if self.placement == "driver":
            raise ValueError("a driver-placed resident index has no RDD")
        if len(self._parts) == 1:
            return self._parts[0]
        return self.spark.sparkContext.union(self._parts)

    @property
    def n_blocks(self) -> int:
        if self.placement == "driver":
            return len(self._blocks or ())
        return sum(p.getNumPartitions() for p in self._parts)

    def _with(self, parts=(), blocks=None, nbytes=None, decode=None):
        """A sibling index over other blocks; unset fields keep ours."""
        return ResidentIndex(
            self.spark, self.metric, self.id_col, self.vector_col,
            self.id_sql_type, self.attr_cols,
            self._decode if decode is None else decode,
            parts, blocks, self.nbytes if nbytes is None else nbytes,
        )

    def _to_driver(self) -> "ResidentIndex":
        """Collect the executor blocks into the driver and unpersist the
        executor copy — only for an index that owns its RDDs."""
        blocks = [b for p in self._parts for b in p.collect()]
        for p in self._parts:
            p.unpersist()
        return self._with(blocks=blocks)

    def _to_executors(self) -> "ResidentIndex":
        """Parallelize driver blocks back out, one block per partition;
        the driver list stays with `self` (functional append)."""
        if self.placement == "executors":
            return self
        rdd = self.spark.sparkContext.parallelize(
            self._blocks, max(len(self._blocks), 1)
        ).persist(StorageLevel.MEMORY_ONLY)
        rdd.mapPartitions(_warm_kernel).sum()  # materialize + pre-fault
        return self._with(parts=[rdd])

    def _checked(self, owned: list) -> "ResidentIndex":
        """Prove string-id surrogates injective, releasing the `owned`
        block RDDs before raising."""
        if self._decode is None:
            return self
        try:
            _check_injective(self._decode, self.id_col)
        except ValueError:
            for p in owned:
                p.unpersist()
            raise
        return self

    def append(self, new_rows: DataFrame) -> "ResidentIndex":
        """Blocks for the new rows only — existing blocks are shared, not
        recomputed or re-persisted.  Ids must be disjoint from the resident
        set (an upsert is delete+rebuild, as with the parquet IVF layouts).
        Returns a NEW index; the old one stays valid (functional append,
        the manifest-table model).  The new index has one placement: the
        driver while the combined blocks fit DRIVER_BLOCK_BYTES, else the
        executors (the driver blocks are parallelized back out)."""
        fresh = ResidentIndex._build_on_executors(
            new_rows, self.id_col, self.vector_col, self.metric,
            self.attr_cols,
        )
        if (self._decode is None) != (fresh._decode is None):
            fresh.unpersist()
            raise ValueError("append() cannot mix string and integral ids")
        nbytes = self.nbytes + fresh.nbytes
        decode = (
            None if self._decode is None else self._decode.union(fresh._decode)
        )
        if self.placement == "driver" and nbytes <= DRIVER_BLOCK_BYTES:
            fresh = fresh._to_driver()
            out = self._with(blocks=self._blocks + fresh._blocks,
                             nbytes=nbytes, decode=decode)
            return out._checked([])
        base = self._to_executors()
        out = self._with(parts=base._parts + fresh._parts, nbytes=nbytes,
                         decode=decode)
        # the base RDDs are shared with self unless just parallelized
        return out._checked(
            fresh._parts + (base._parts if base is not self else [])
        )

    @classmethod
    def _build_on_executors(cls, corpus, id_col, vector_col, metric,
                            attrs) -> "ResidentIndex":
        """Persist and warm the blocks on the executors, and learn their
        pickled size; the string-id collision check is left to the
        caller, which also checks the combined mapping on append()."""
        if metric not in _METRICS:
            raise ValueError(f"metric must be one of {_METRICS}")
        kind = _id_kind(corpus, id_col)
        from fusionspark.operators.knn import id_sql_type

        id_t = id_sql_type(corpus, id_col)
        attrs = tuple(attrs)
        decode = None
        block_id = id_col
        if kind == "string":
            enc, decode = _encode_string_ids(corpus, id_col)
            block_id = "__rid64"
            # original string ids ride in each block under __orig_id__:
            # pre_filter callbacks see the REAL ids, never the int64
            # xxhash64 surrogates (which would silently match nothing), and
            # searches return them without a decode join
            src = enc.select(
                block_id, vector_col, F.col(id_col).alias("__orig_id__"),
                *attrs,
            )
            block_attrs = attrs + ("__orig_id__",)
        else:
            src = corpus.select(id_col, vector_col, *attrs)
            block_attrs = attrs

        def to_blocks(it: Iterator) -> Iterator[tuple]:
            rows = list(it)
            if rows:
                yield _block_of(rows, block_id, vector_col, metric,
                                block_attrs)

        rdd = src.rdd.mapPartitions(to_blocks).persist(StorageLevel.MEMORY_ONLY)
        nbytes = rdd.mapPartitions(_warm_kernel).sum()  # materialize + size
        return cls(
            corpus.sparkSession, metric, id_col, vector_col, id_t, attrs,
            decode, parts=[rdd], nbytes=nbytes,
        )

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        metric: str = "cosine",
        attr_cols: tuple | list = (),
    ) -> "ResidentIndex":
        """attr_cols — metadata columns materialized into the blocks so
        searches can pre-filter server-side (see search(pre_filter=...)).
        Blocks whose pickled bytes fit DRIVER_BLOCK_BYTES end up on the
        driver only (which pins the driver's BLAS to one thread, see
        `_pin_driver_blas`); larger ones stay on the executors."""
        idx = cls._build_on_executors(
            corpus, id_col, vector_col, metric, attr_cols
        )
        if idx.nbytes <= DRIVER_BLOCK_BYTES and _pin_driver_blas():
            idx = idx._to_driver()
        return idx._checked(idx._parts)

    def search(
        self,
        probes,
        k: int = 10,
        probe_id_col: str = "probe_id",
        probe_vector_col: str = "probe_embedding",
        merge: str = "auto",
        probe_batch: tuple | None = None,
        pre_filter=None,
    ):
        """(probe_id, id, distance, score, rank) — same shape and tie rule
        as knn().  probes — a DataFrame of probe rows, or a (Q, d) float
        matrix: a matrix returns the (Q×k) `(distances, ids)` arrays
        instead of a DataFrame (ids are the ORIGINAL ids, strings for a
        string-keyed corpus; fewer than k columns when a pre_filter keeps
        fewer rows), for in-process callers that need no Spark frame.
        merge="tree" runs treeReduce partial merges (the 1000-executor
        form); "driver" collects per-partition candidates and merges in
        one vectorized fold (interactive form); "auto" (default) picks tree
        when the index spans more than AUTO_TREE_PARTITIONS blocks and no
        pre_filter is set, driver otherwise.  A driver-placed index always
        folds in process.  merge="tree" with pre_filter raises: the filter
        can empty every block, which treeReduce cannot represent, and
        candidates must come to the driver anyway — ask for
        merge="driver" explicitly.  probe_batch — an optional
        pre-collected (probe_ids, P float64 matrix, probe_sql_type) triple
        so a serving loop pays the probe collect once, like the
        reference's in-process query arrays.  pre_filter — a callable
        (ids, attrs) -> bool mask applied INSIDE each block before scoring
        (V7 pre-filter semantics: excluded rows never take a rank slot);
        attrs is the dict of build(attr_cols=...) arrays.  For
        string-keyed corpora `ids` is the array of ORIGINAL string ids
        (the blocks carry them under attrs["__orig_id__"]), never the
        int64 surrogates used internally for ranking."""
        if merge == "tree" and pre_filter is not None:
            raise ValueError(
                "merge='tree' is incompatible with pre_filter (a filter can "
                "empty every block); use merge='driver'"
            )
        if isinstance(probes, np.ndarray):
            return self._topk(np.asarray(probes, dtype=np.float64), k, merge,
                              pre_filter)
        probe_ids, P, probe_t = _collect_probes(
            probes, probe_id_col, probe_vector_col, probe_batch
        )
        Dk, ids = self._topk(P, k, merge, pre_filter)
        return _result_df(
            self.spark, probe_ids, Dk, ids, probe_id_col, self.id_col,
            probe_t, self.id_sql_type,
        )

    def _topk(self, P: np.ndarray, k: int, merge: str, pre_filter):
        """(Dk, ids) for probe matrix P: the kernel over every block, then
        the exact merge — in process for the driver placement, as one
        Spark job for the executor placement."""
        metric = self.metric
        if metric == "cosine":
            P = _unit_rows(P)
        Q = P.shape[0]

        def kernel(it: Iterator[tuple]) -> Iterator[tuple]:
            return _scan(it, P, metric, k, pre_filter)

        if self.placement == "driver":
            blocks = self._blocks  # read once: unpersist() may clear it
            if blocks is None:
                raise ValueError(
                    "this resident index was unpersisted; build it again"
                )
            parts = self._scan_driver(blocks, kernel, Q)
        else:
            if merge == "auto":
                merge = (
                    "tree"
                    if pre_filter is None
                    and self.n_blocks > AUTO_TREE_PARTITIONS
                    else "driver"
                )
            cands = self.rdd.mapPartitions(kernel)
            if merge == "tree":
                parts = [cands.treeReduce(
                    lambda a, b: _merge_candidates([a, b], k), depth=2
                )]
            else:
                parts = cands.collect()
        if not parts:  # pre_filter can empty every block
            return _no_candidates(Q, self._decode is not None)
        merged = _merge_candidates(parts, k)
        return merged[0], merged[-1]

    def _scan_driver(self, blocks: list, kernel, Q: int) -> list:
        """Run the kernel over driver-held blocks.  A multi-probe batch
        scans its blocks on parallel threads — one per task slot the
        executors would offer, capped at this host's cores; numpy releases
        the GIL in the GEMM, partition and compare passes, so blocks scan
        side by side like tasks.  One probe scans inline: the server's
        request threads already run searches concurrently."""
        workers = min(len(blocks), self.spark.sparkContext.defaultParallelism,
                      os.cpu_count() or 1)
        if Q == 1 or workers < 2:
            return list(kernel(blocks))
        with ThreadPoolExecutor(workers, "resident-scan") as pool:
            return [c for cs in pool.map(lambda b: list(kernel([b])), blocks)
                    for c in cs]

    def unpersist(self) -> None:
        """Release the blocks: the executor cache, or the driver arrays
        (searching an unpersisted driver index then raises; a search
        already running finishes on the arrays it holds)."""
        for p in self._parts:
            p.unpersist()
        self._blocks = None


class ResidentIVF:
    """Resident IVF: blocks are grouped by centroid list (hash-partitioned
    on centroid_id at build), and a search computes GEMMs only for the
    lists its probes route to — the resident sibling of
    ivf_search_persisted's partition-pruned parquet scan.  Routing and
    assignment reuse the attested IVF rules (deterministic_centroids +
    max-cosine / lowest-id ties), so results match ivf_knn for the same
    (n_centroids, n_probe).  Blocks stay on the executors."""

    def __init__(self, spark, rdd, crows, id_col, vector_col, id_sql_type):
        self.spark = spark
        self.rdd = rdd
        self.crows = crows
        self.id_col = id_col
        self.vector_col = vector_col
        self.id_sql_type = id_sql_type

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        n_centroids: int = 64,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        n_partitions: int | None = None,
    ) -> "ResidentIVF":
        kind = _id_kind(corpus, id_col)
        from fusionspark.operators.ann import (
            _assign_from_rows,
            _collect_centroids,
            deterministic_centroids,
        )
        from fusionspark.operators.knn import id_sql_type

        id_t = id_sql_type(corpus, id_col)
        block_id = id_col
        cols = [id_col, vector_col]
        attrs = ()
        if kind == "string":
            # centroid selection + assignment key on the int64 surrogates
            # for string-keyed corpora (deterministic: xxhash64 of content);
            # the original ids ride in the blocks under __orig_id__
            corpus, decode = _encode_string_ids(corpus, id_col)
            _check_injective(decode, id_col)
            block_id = "__rid64"
            cols = [block_id, vector_col, F.col(id_col).alias("__orig_id__")]
            attrs = ("__orig_id__",)
        crows = _collect_centroids(
            deterministic_centroids(corpus, n_centroids, block_id, vector_col)
        )
        assigned = _assign_from_rows(corpus.select(*cols), crows, vector_col)
        n_parts = n_partitions or min(
            n_centroids, corpus.sparkSession.sparkContext.defaultParallelism
        )
        # hash-partition whole lists together so a probe's n_probe lists
        # touch at most n_probe partitions
        placed = assigned.repartition(n_parts, "centroid_id")

        def to_blocks(it: Iterator) -> Iterator[dict]:
            by_cid: dict[int, list] = {}
            for r in it:
                by_cid.setdefault(r["centroid_id"], []).append(r)
            if by_cid:
                yield {
                    cid: _block_of(rows, block_id, vector_col, "cosine", attrs)
                    for cid, rows in by_cid.items()
                }

        rdd = placed.rdd.mapPartitions(to_blocks).persist(
            StorageLevel.MEMORY_ONLY
        )
        rdd.count()
        return cls(corpus.sparkSession, rdd, crows, id_col, vector_col, id_t)

    def search(
        self,
        probes: DataFrame,
        k: int = 10,
        n_probe: int = 8,
        probe_id_col: str = "probe_id",
        probe_vector_col: str = "probe_embedding",
    ) -> DataFrame:
        """Probes route to their n_probe max-cosine lists (driver-side,
        same fold as _route_probes); each partition scores only its routed
        lists.  Unrouted (probe, partition) slots pad with +inf distance, so
        the merge is the same rectangular fold as the exact index."""
        probe_ids, P, probe_t = _collect_probes(
            probes, probe_id_col, probe_vector_col, None
        )
        Pn = _unit_rows(P)
        Q = len(probe_ids)

        # driver-side routing: same scoring rule as _route_probes (max
        # cosine, ties to lower centroid_id), vectorized across probes with
        # the SAME left-to-right float64 fold per element — `acc = acc +
        # P[:,i]*c_i` is elementwise, so each probe sees the identical
        # operation sequence as the per-probe Python fold
        n_c = len(self.crows)
        cids = np.asarray([c[0] for c in self.crows], dtype=np.int64)
        cnorms = np.asarray([c[2] for c in self.crows])
        d = P.shape[1]
        acc = np.zeros(Q)
        for i in range(d):
            acc = acc + P[:, i] * P[:, i]
        pnorm = np.sqrt(acc)
        sims = np.empty((Q, n_c))
        for j, (_cid, cvec, _cn) in enumerate(self.crows):
            accj = np.zeros(Q)
            for i in range(d):
                accj = accj + P[:, i] * cvec[i]
            denom = pnorm * cnorms[j]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims[:, j] = np.where(denom > 0, accj / denom, 0.0)
        arr = np.empty((Q, n_c), dtype=[("s", "f8"), ("c", "i8")])
        arr["s"] = -sims
        arr["c"] = cids
        arr.sort(axis=1, order=["s", "c"])
        best = arr["c"][:, : min(n_probe, n_c)]
        routing: dict[int, list[int]] = {}
        for qi in range(Q):
            for cid in best[qi]:
                routing.setdefault(int(cid), []).append(qi)
        routing = {cid: np.asarray(qis) for cid, qis in routing.items()}

        def kernel(it: Iterator[dict]) -> Iterator[tuple]:
            for blocks in it:
                acc = None
                for cid, (ids, Vn, extra) in blocks.items():
                    qis = routing.get(cid)
                    if qis is None:
                        continue
                    if acc is None:
                        acc = (np.full((Q, k), np.inf),
                               np.full((Q, k), -1, dtype=np.int64))
                        if extra:
                            acc += (np.full((Q, k), None, dtype=object),)
                    D = 1.0 - Pn[qis] @ Vn.T
                    part = _row_topk(D, ids, k, (extra or {}).get("__orig_id__"))
                    sub = _merge_candidates(
                        [tuple(c[qis] for c in acc), part], k
                    )
                    for c, s in zip(acc, sub):
                        c[qis] = s
                if acc is not None:
                    yield acc

        parts = self.rdd.mapPartitions(kernel).collect()
        if not parts:
            Dk, ids = _no_candidates(Q, self.id_sql_type == "string")
        else:
            merged = _merge_candidates(parts, k)
            Dk, ids = merged[0], merged[-1]
        return _result_df(
            self.spark, probe_ids, Dk, ids, probe_id_col, self.id_col,
            probe_t, self.id_sql_type,
        )

    def unpersist(self) -> None:
        self.rdd.unpersist()
