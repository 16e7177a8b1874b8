"""Resident serving index: parity with the attested knn/ivf kernels, tie
determinism, merge-strategy equivalence, and input validation.  The parity
tests run on both block placements (driver and executors), forced by
monkeypatching the DRIVER_BLOCK_BYTES budget."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fusionspark.operators.ann import ivf_knn
from fusionspark.operators.knn import knn, self_probes
import fusionspark.operators.serving as sv
from fusionspark.operators.serving import ResidentIndex, ResidentIVF

PLACEMENTS = ("driver", "executors")


def _place(monkeypatch, placement: str) -> None:
    """Make the next builds land on `placement`."""
    monkeypatch.setattr(
        sv, "DRIVER_BLOCK_BYTES", 1 << 62 if placement == "driver" else -1
    )


@pytest.fixture(scope="module")
def corpus(spark):
    df = (
        spark.range(4000)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: F.sin(F.col("id") * i).cast("float"),
            ).alias("embedding"),
        )
        .repartition(8)
        .cache()
    )
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def probes(spark, corpus):
    p = self_probes(corpus, 40).cache()
    p.count()
    yield p
    p.unpersist()


def _pairs(df):
    return {
        (r["probe_id"], r["vec_id"], r["rank"]): r["distance"]
        for r in df.collect()
    }


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean"])
def test_resident_matches_knn_numpy(spark, corpus, probes, metric, monkeypatch):
    ref = _pairs(knn(corpus, probes, k=5, metric=metric, strategy="numpy"))
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(corpus, metric=metric)
        try:
            assert idx.placement == placement
            got = _pairs(idx.search(probes, k=5))
            assert got.keys() == ref.keys(), placement
            for key, d in ref.items():
                assert got[key] == pytest.approx(d, abs=1e-9), (placement, key)
        finally:
            idx.unpersist()


def test_tree_merge_equals_driver_merge(spark, corpus, probes, monkeypatch):
    _place(monkeypatch, "executors")  # a driver-placed index always folds
    idx = ResidentIndex.build(corpus)
    try:
        a = idx.search(probes, k=7, merge="driver").collect()
        b = idx.search(probes, k=7, merge="tree").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    finally:
        idx.unpersist()


def test_probe_batch_equals_dataframe_probes(spark, corpus, probes):
    idx = ResidentIndex.build(corpus)
    try:
        rows = probes.select("probe_id", "probe_embedding").collect()
        batch = (
            [r[0] for r in rows],
            np.asarray([r[1] for r in rows], dtype=np.float64),
            "bigint",
        )
        a = idx.search(probes, k=5).collect()
        b = idx.search(None, k=5, probe_batch=batch).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    finally:
        idx.unpersist()


def test_duplicate_vector_ties_break_by_id(spark, monkeypatch):
    # ids 100..199 duplicate ids 0..99 exactly: every top-k boundary is a
    # bitwise distance tie, so membership/rank must follow id ASC
    base = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: F.sin(F.col("id") * i).cast("float"),
        ).alias("embedding"),
    )
    dup = base.select(
        (F.col("vec_id") + 100).alias("vec_id"), F.col("embedding")
    )
    corpus = base.union(dup).repartition(6).cache()
    corpus.count()
    p = self_probes(corpus, 10).cache()
    p.count()
    ref = _pairs(knn(corpus, p, k=4, strategy="numpy"))
    try:
        for placement in PLACEMENTS:
            _place(monkeypatch, placement)
            idx = ResidentIndex.build(corpus)
            try:
                assert _pairs(idx.search(p, k=4)).keys() == ref.keys(), placement
            finally:
                idx.unpersist()
    finally:
        corpus.unpersist()
        p.unpersist()


def test_resident_ivf_matches_ivf_knn(spark, corpus, probes):
    rivf = ResidentIVF.build(corpus, n_centroids=16)
    try:
        got = rivf.search(probes, k=5, n_probe=4).toPandas()
        ref = ivf_knn(
            corpus, probes, k=5, n_centroids=16, n_probe=4
        ).toPandas()
        g = {
            (r.probe_id, r.vec_id, r.rank): 1.0 - r.distance
            for r in got.itertuples()
        }
        r = {(x.probe_id, x.vec_id, x.rnk): x.sim for x in ref.itertuples()}
        assert g.keys() == r.keys()
        for key, sim in r.items():
            assert g[key] == pytest.approx(sim, abs=1e-9)
    finally:
        rivf.unpersist()


def _assert_tie_aware_match(got: dict, ref: dict) -> None:
    """Per-probe top-k equality up to boundary ties: distance multisets must
    match exactly (1e-9), and any id present in only one side must sit at
    that probe's boundary distance — the one place where the string path's
    surrogate-hash tie order may legally diverge from lexicographic."""
    from collections import defaultdict

    g, r = defaultdict(dict), defaultdict(dict)
    for (p, i, _rk), d in got.items():
        g[p][i] = d
    for (p, i, _rk), d in ref.items():
        r[p][i] = d
    assert g.keys() == r.keys()
    for p in r:
        gd, rd = sorted(g[p].values()), sorted(r[p].values())
        assert gd == pytest.approx(rd, abs=1e-9)
        boundary = max(rd)
        for i in set(g[p]) ^ set(r[p]):
            d = g[p].get(i, r[p].get(i))
            assert d == pytest.approx(boundary, abs=1e-9)


def test_string_ids_supported(spark, corpus, probes, monkeypatch):
    """String-keyed corpora (the reference's ids are strings,
    HNSWIndex.js:27-35) dict-encode to xxhash64 surrogates and decode back:
    results must match knn() on the same string-keyed corpus (tie-free
    vectors — boundary ties break on the surrogate, not lexicographically,
    a documented deviation)."""
    scorpus = corpus.select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    sprobes = probes.select(
        F.concat(F.lit("p"), F.col("probe_id")).alias("probe_id"),
        "probe_embedding",
    )
    ref = _pairs(knn(scorpus, sprobes, k=5, strategy="numpy"))
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(scorpus)
        try:
            assert idx.placement == placement
            out = idx.search(sprobes, k=5)
            assert dict(out.dtypes)["vec_id"] == "string"
            assert dict(out.dtypes)["probe_id"] == "string"
            _assert_tie_aware_match(_pairs(out), ref)
        finally:
            idx.unpersist()


def test_string_ids_resident_ivf(spark, corpus, probes):
    scorpus = corpus.select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    rivf = ResidentIVF.build(scorpus, n_centroids=16)
    try:
        out = rivf.search(probes, k=5, n_probe=16)  # all lists → exact
        assert dict(out.dtypes)["vec_id"] == "string"
        _assert_tie_aware_match(
            _pairs(out), _pairs(knn(scorpus, probes, k=5, strategy="numpy"))
        )
    finally:
        rivf.unpersist()


def test_unsupported_id_type_rejected(spark):
    df = spark.createDataFrame(
        [(1.5, [1.0, 0.0])], "vec_id double, embedding array<float>"
    )
    with pytest.raises(ValueError, match="integral or string id"):
        ResidentIndex.build(df)


def test_tree_merge_with_pre_filter_raises(spark, corpus, probes):
    idx = ResidentIndex.build(corpus, attr_cols=())
    try:
        with pytest.raises(ValueError, match="pre_filter"):
            idx.search(probes, k=5, merge="tree", pre_filter=lambda i, a: i >= 0)
    finally:
        idx.unpersist()


def test_auto_merge_picks_tree_above_threshold(spark, corpus, probes, monkeypatch):
    _place(monkeypatch, "executors")  # merge only applies to executor blocks
    idx = ResidentIndex.build(corpus)
    try:
        # corpus has 8 partitions: auto → driver under the default threshold
        monkeypatch.setattr(sv, "AUTO_TREE_PARTITIONS", 64)
        a = idx.search(probes, k=5).collect()
        # lower the threshold below the partition count: auto → tree, and
        # results are identical (the merge is associative + exact)
        monkeypatch.setattr(sv, "AUTO_TREE_PARTITIONS", 4)
        b = idx.search(probes, k=5).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    finally:
        idx.unpersist()


def test_k_larger_than_corpus(spark, monkeypatch):
    df = (
        spark.range(3)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(4)),
                lambda i: F.sin(F.col("id") * i).cast("float"),
            ).alias("embedding"),
        )
        .repartition(2)
    )
    p = self_probes(df, 2)
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(df)
        try:
            out = idx.search(p, k=10).toPandas()
            assert sorted(out.groupby("probe_id").size().tolist()) == [3, 3]
            assert set(out["rank"]) == {1, 2, 3}
        finally:
            idx.unpersist()


def test_append_equals_full_build(spark, corpus, probes, monkeypatch):
    base = corpus.filter(F.col("vec_id") < 3000)
    extra = corpus.filter(F.col("vec_id") >= 3000)
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        full = ResidentIndex.build(corpus)
        idx0 = ResidentIndex.build(base)
        idx1 = idx0.append(extra)
        try:
            assert idx1.placement == placement
            a = sorted(map(tuple, full.search(probes, k=5).collect()))
            b = sorted(map(tuple, idx1.search(probes, k=5).collect()))
            assert a == b, placement
            # the pre-append index stays valid and only sees the base rows
            pre = idx0.search(probes, k=5).toPandas()
            assert pre["vec_id"].max() < 3000
        finally:
            full.unpersist()
            idx1.unpersist()


def test_streaming_append_matches_batch(spark, corpus, probes, tmp_path,
                                       monkeypatch):
    """foreachBatch ResidentIndex.append per micro-batch ends at the same
    search results as one batch build (blocks are disjoint by id; the
    merge is order-free)."""
    base = corpus.filter(F.col("vec_id") < 3000)
    extra = corpus.filter(F.col("vec_id") >= 3000)
    src = str(tmp_path / "src")
    extra.filter(F.col("vec_id") % 2 == 0).write.parquet(src + "/a")
    extra.filter(F.col("vec_id") % 2 == 1).write.parquet(src + "/b")

    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        holder = {"idx": ResidentIndex.build(base)}

        def ingest(df, _eid):
            holder["idx"] = holder["idx"].append(df)

        q = (
            spark.readStream.schema(extra.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", str(tmp_path / f"ckpt-{placement}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        full = ResidentIndex.build(corpus)
        try:
            assert holder["idx"].placement == placement
            a = sorted(map(tuple, full.search(probes, k=5).collect()))
            b = sorted(map(tuple, holder["idx"].search(probes, k=5).collect()))
            assert a == b, placement
        finally:
            full.unpersist()
            holder["idx"].unpersist()


# ── pure-numpy property tests for the exact-selection kernels ──
from hypothesis import given, settings, strategies as st


def _brute_topk(D, ids, k):
    """Reference: full structured sort per row by (distance, id)."""
    out_d, out_i = [], []
    for row in D:
        order = np.lexsort((ids, row))
        pick = order[: min(k, len(ids))]
        out_d.append(row[pick])
        out_i.append(ids[pick])
    return np.asarray(out_d), np.asarray(out_i)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(2, 30),   # corpus size
    st.integers(1, 6),    # queries
    st.integers(1, 8),    # k
    st.integers(0, 10**6),
    st.booleans(),        # force heavy ties
)
def test_row_topk_matches_brute_force(n, q, k, seed, ties):
    from fusionspark.operators.serving import _row_topk

    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 4 if ties else 1000, size=(q, n)).astype(np.float64)
    ids = rng.permutation(n).astype(np.int64)
    dsel, isel = _row_topk(vals.copy(), ids, k)
    bd, bi = _brute_topk(vals, ids, k)
    # membership + values must match the exact (d, id) order after sorting
    for qi in range(q):
        got = sorted(zip(dsel[qi], isel[qi]))
        exp = sorted(zip(bd[qi], bi[qi]))
        assert got == exp


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 4),    # parts
    st.integers(1, 5),    # queries
    st.integers(1, 6),    # k
    st.integers(0, 10**6),
)
def test_merge_candidates_matches_brute_force(parts, q, k, seed):
    from fusionspark.operators.serving import _merge_candidates

    rng = np.random.default_rng(seed)
    plist, alld, alli = [], [], []
    next_id = 0
    for _ in range(parts):
        m = int(rng.integers(1, 9))
        d = rng.integers(0, 5, size=(q, m)).astype(np.float64)  # heavy ties
        i = np.arange(next_id, next_id + m, dtype=np.int64)
        i = rng.permutation(i)
        ii = np.broadcast_to(i, (q, m)).copy()
        next_id += m
        plist.append((d, ii))
        alld.append(d)
        alli.append(ii)
    Dk, Ik = _merge_candidates(plist, k)
    D = np.concatenate(alld, axis=1)
    I = np.concatenate(alli, axis=1)
    for qi in range(q):
        order = np.lexsort((I[qi], D[qi]))[: min(k, D.shape[1])]
        exp = list(zip(D[qi][order], I[qi][order]))
        got = list(zip(Dk[qi], Ik[qi]))
        assert got == exp


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 40),    # corpus rows in the block
    st.integers(1, 5),     # queries
    st.integers(1, 8),     # k
    st.integers(1, 7),     # strip size (forces many strips + ragged tail)
    st.integers(0, 10**6),
    st.booleans(),         # tie-heavy values
)
def test_strip_fold_matches_brute_force(n, q, k, strip, seed, ties):
    """The kernel's strip loop (per-strip _row_topk folded through
    _merge_candidates) must equal brute force over the whole block for
    ANY strip size — including strips smaller than k, ragged tails, and
    massive distance ties resolved by id ASC."""
    from fusionspark.operators.serving import _merge_candidates, _row_topk

    rng = np.random.default_rng(seed)
    D = rng.integers(0, 4 if ties else 1000, size=(q, n)).astype(np.float64)
    ids = rng.permutation(n).astype(np.int64)
    acc = None
    for s in range(0, n, strip):
        part = _row_topk(D[:, s:s + strip].copy(), ids[s:s + strip], k)
        acc = part if acc is None else _merge_candidates([acc, part], k)
    bd, bi = _brute_topk(D, ids, k)
    for qi in range(q):
        assert sorted(zip(acc[0][qi], acc[1][qi])) == sorted(zip(bd[qi], bi[qi]))


def test_pre_filter_matches_filtered_knn(spark, corpus, probes, monkeypatch):
    labeled = corpus.withColumn("label", (F.col("vec_id") % 7).cast("int"))
    ref = _pairs(
        knn(labeled, probes, k=5, strategy="numpy",
            pre_filter=F.col("label").isin(0, 2, 4))
    )
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(labeled, attr_cols=("label",))
        try:
            got = _pairs(
                idx.search(
                    probes, k=5,
                    pre_filter=lambda ids, attrs: np.isin(attrs["label"], [0, 2, 4]),
                )
            )
            assert got.keys() == ref.keys(), placement
        finally:
            idx.unpersist()


def test_pre_filter_sees_original_string_ids(spark, corpus, probes, monkeypatch):
    """On a string-keyed corpus the pre_filter callback receives the
    ORIGINAL string ids, not the int64 xxhash64 surrogates — an id-based
    filter must select exactly the same rows as the equivalent attr-based
    filter on the integer corpus."""
    scorpus = corpus.select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    sprobes = probes.select(
        F.concat(F.lit("p"), F.col("probe_id")).alias("probe_id"),
        "probe_embedding",
    )
    keep = {f"v{i}" for i in range(4000) if i % 7 in (0, 2, 4)}
    seen = []

    def flt(ids, attrs):
        seen.append(np.asarray(ids))
        return np.isin(ids, list(keep))

    ref = _pairs(
        knn(
            scorpus.withColumn(
                "m",
                F.regexp_replace("vec_id", "^v", "").cast("long") % 7,
            ),
            sprobes, k=5, strategy="numpy",
            pre_filter=F.col("m").isin(0, 2, 4),
        )
    )
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(scorpus)
        try:
            got = _pairs(idx.search(sprobes, k=5, pre_filter=flt))
            # strings, not int64 (executor-side calls are not seen here)
            assert all(a.dtype.kind in ("U", "O") for a in seen)
            assert {v for _, v, _ in got} <= keep  # filter actually applied
            _assert_tie_aware_match(got, ref)
        finally:
            idx.unpersist()
    assert seen  # the driver placement ran the filter in this process


def test_pre_filter_excluding_everything_returns_empty(spark, corpus, probes,
                                                       monkeypatch):
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(corpus)
        try:
            out = idx.search(
                probes, k=5, pre_filter=lambda ids, attrs: ids < 0
            )
            assert out.count() == 0, placement
        finally:
            idx.unpersist()


def test_tiled_kernel_multi_strip_matches_single_shot(spark, monkeypatch):
    """Blocks larger than TILE_ROWS run the strip loop (the 1M serving
    shape); a 1-partition 10k-row corpus (3 strips) must match knn()
    exactly, including k > TILE_ROWS where every strip keeps ALL its rows
    and the merge does the real work."""
    corpus = (
        spark.range(10_000)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: F.sin((F.col("id") + 1) * i).cast("float"),
            ).alias("embedding"),
        )
        .coalesce(1)
    )
    probes = self_probes(corpus, 7)
    refs = {k: _pairs(knn(corpus, probes, k=k, strategy="numpy"))
            for k in (10, 5000)}  # k < strip AND k spanning multiple strips
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(corpus)
        try:
            assert idx.n_blocks == 1  # one 10k block → 3 strips
            for k, ref in refs.items():
                got = _pairs(idx.search(probes, k=k))
                assert got.keys() == ref.keys(), placement
                for key, d in ref.items():
                    assert got[key] == pytest.approx(d, abs=1e-9)
        finally:
            idx.unpersist()


def test_tiled_kernel_euclidean_strip_slicing(spark, monkeypatch):
    """The euclidean path slices __sqnorm__ per strip — a multi-strip
    block must still produce exact distances (a mis-sliced norm vector
    would corrupt every strip after the first)."""
    corpus = (
        spark.range(9_000)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(6)),
                lambda i: (F.col("id") % (i * 7 + 3)).cast("float"),
            ).alias("embedding"),
        )
        .coalesce(1)
    )
    probes = self_probes(corpus, 5)
    ref = _pairs(knn(corpus, probes, k=8, metric="euclidean",
                     strategy="numpy"))
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(corpus, metric="euclidean")
        try:
            # modular vectors duplicate heavily → compare tie-aware
            _assert_tie_aware_match(_pairs(idx.search(probes, k=8)), ref)
        finally:
            idx.unpersist()


def _jobs_in_group(spark, fn):
    """Run fn under a fresh job group; (result, number of Spark jobs)."""
    import uuid

    sc = spark.sparkContext
    gid = f"serving-test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def test_driver_placement_searches_without_a_job(spark, corpus, probes):
    """The default budget keeps a small index on the driver; a matrix
    search then runs no Spark job and returns the same top-k arrays as
    the DataFrame form."""
    idx = ResidentIndex.build(corpus)
    try:
        assert idx.placement == "driver" and idx.n_blocks == 8
        assert 0 < idx.nbytes <= sv.DRIVER_BLOCK_BYTES
        rows = probes.select("probe_id", "probe_embedding").collect()
        P = np.asarray([r[1] for r in rows], dtype=np.float64)
        (dist, ids), jobs = _jobs_in_group(spark, lambda: idx.search(P, k=5))
        assert jobs == 0
        assert dist.shape == ids.shape == (len(rows), 5)
        df = _pairs(idx.search(probes, k=5))
        got = {
            (rows[q][0], int(ids[q, r]), r + 1): dist[q, r]
            for q in range(len(rows)) for r in range(5)
        }
        assert got == df
    finally:
        idx.unpersist()


def test_unpersist_drops_driver_arrays(spark, corpus, probes):
    idx = ResidentIndex.build(corpus)
    assert idx.placement == "driver" and idx._blocks
    idx.unpersist()
    assert idx._blocks is None
    with pytest.raises(ValueError, match="unpersisted"):
        idx.search(probes, k=5)


def test_unpinnable_blas_keeps_executor_placement(spark, corpus, monkeypatch):
    """Where the driver's BLAS cannot be pinned to one thread, blocks that
    fit the budget stay on the executors instead."""
    _place(monkeypatch, "driver")
    monkeypatch.setattr(sv, "_blas_pinned", False)
    idx = ResidentIndex.build(corpus)
    try:
        assert idx.placement == "executors"
    finally:
        idx.unpersist()


def test_append_crossing_budget_moves_to_executors(spark, corpus, probes,
                                                   monkeypatch):
    """An append() whose combined blocks exceed the budget leaves ONE
    placement — the executors — with the same results as a full build,
    while the pre-append driver index stays valid."""
    base = corpus.filter(F.col("vec_id") < 3000)
    extra = corpus.filter(F.col("vec_id") >= 3000)
    _place(monkeypatch, "driver")
    idx0 = ResidentIndex.build(base)
    monkeypatch.setattr(sv, "DRIVER_BLOCK_BYTES", idx0.nbytes)
    full = ResidentIndex.build(corpus)
    idx1 = idx0.append(extra)
    try:
        assert idx0.placement == "driver"
        assert full.placement == idx1.placement == "executors"
        assert idx1._blocks is None and idx1._parts
        assert idx1.nbytes > sv.DRIVER_BLOCK_BYTES
        a = sorted(map(tuple, full.search(probes, k=5).collect()))
        b = sorted(map(tuple, idx1.search(probes, k=5).collect()))
        assert a == b
        assert idx0.search(probes, k=5).toPandas()["vec_id"].max() < 3000
    finally:
        full.unpersist()
        idx1.unpersist()
        idx0.unpersist()


def test_string_append_collision_check_on_both_placements(spark, monkeypatch):
    """Appending ids already resident under the same string is legal (the
    engine's per-tenant namespaces); the injectivity check passes on both
    placements and the appended rows are searchable."""
    df = spark.createDataFrame(
        [(f"v{i}", [float(i + 1), 1.0]) for i in range(6)],
        "vec_id string, embedding array<float>",
    )
    for placement in PLACEMENTS:
        _place(monkeypatch, placement)
        idx = ResidentIndex.build(df.filter(F.col("vec_id") < "v3"))
        idx = idx.append(df.filter(F.col("vec_id") >= "v2"))
        try:
            dist, ids = idx.search(np.asarray([[6.0, 1.0]]), k=10)
            assert sorted(ids[0].tolist()) == [
                "v0", "v1", "v2", "v2", "v3", "v4", "v5"
            ], placement
        finally:
            idx.unpersist()
