"""Index build/search lifecycle tests: M3 (FLAT artifacts), M4 (IVF recall),
M5 (PQ encode/ADC) — SURVEY.md §5.2 #3/#5."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE, SF_SMOKE
from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.operators.ivf import (
    assign_centroids,
    assign_centroids_sql,
    ivf_search,
    recall_at_k,
    train_centroids,
)
from webscale_vector_search_spark.operators.knn import knn
from webscale_vector_search_spark.operators.pq import adc_search, encode, fit_codebooks
from webscale_vector_search_spark.plans.build import build_index, search_index
from webscale_vector_search_spark.sources.fixtures import load_table, queries_from_embeddings
from webscale_vector_search_spark.sources.index_io import read_metadata


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, "embeddings", SF_ORACLE).cache()


@pytest.fixture(scope="module")
def queries(spark):
    return queries_from_embeddings(spark, SF_ORACLE, 20).cache()


@pytest.fixture(scope="module")
def exact(corpus, queries):
    return knn(corpus, queries, k=10).cache()


def test_flat_roundtrip(spark, corpus, queries, exact, tmp_path_factory):
    """FLAT build -> search == direct exact search; sidecar fields correct."""
    out = str(tmp_path_factory.mktemp("flat_idx"))
    handle = build_index(spark, corpus, out, EngineConfig(index_type="FLAT"))
    meta = read_metadata(out)
    assert meta["index_type"] == "FLAT"
    assert meta["total_vectors"] == corpus.count()
    assert meta["vector_dim"] == 64
    assert handle.vectors.select("shard_id").distinct().count() == 16

    got = search_index(spark, out, queries, k=10).toPandas()
    want = exact.toPandas()
    cols = ["query_id", "rank", "neighbor_id", "distance"]
    a = got[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = want[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)


def test_centroid_assign_kernel_matches_sql(spark, corpus):
    cents = train_centroids(spark, corpus, nlist=8, seed=42, sample_fraction=1.0).cache()
    kern = assign_centroids(corpus, cents).select("vec_id", "centroid_id").toPandas()
    sql = assign_centroids_sql(corpus, cents).select("vec_id", "centroid_id").toPandas()
    merged = kern.merge(sql, on="vec_id", suffixes=("_k", "_s"))
    agree = (merged["centroid_id_k"] == merged["centroid_id_s"]).mean()
    assert agree == 1.0, f"kernel/sql centroid assignment agreement {agree}"


def test_ivf_recall_and_monotonicity(spark, corpus, queries, exact):
    """Recall is monotone in nprobe and reaches 1.0 at nprobe=nlist (probing
    every list == exact). Absolute recall at a given nprobe/nlist ratio is a
    property of the corpus — the synthetic embeddings are weakly clustered
    (measured centroid-label purity ~0.33), so 0.9 recall needs ~nlist/4
    probes here, vs the reference's nlist/8 rule-of-thumb on real data."""
    nlist = 16
    cents = train_centroids(spark, corpus, nlist=nlist, seed=42, sample_fraction=1.0).cache()
    assigned = assign_centroids(corpus, cents).cache()
    recalls = {}
    for nprobe in (2, 4, 16):
        approx = ivf_search(assigned, cents, queries, k=10, nprobe=nprobe)
        recalls[nprobe] = recall_at_k(approx, exact, k=10)
    assert recalls[2] <= recalls[4] + 1e-9 <= recalls[16] + 2e-9, recalls
    assert recalls[4] >= 0.7, recalls
    assert recalls[16] == 1.0, recalls  # all lists probed == exact


def test_ivf_recall_at_quarter_probes(spark, corpus, queries, exact):
    nlist = 10
    cents = train_centroids(spark, corpus, nlist=nlist, seed=42, sample_fraction=1.0).cache()
    assigned = assign_centroids(corpus, cents).cache()
    approx = ivf_search(assigned, cents, queries, k=10, nprobe=4)
    assert recall_at_k(approx, exact, k=10) >= 0.9


def test_pq_adc_matches_reconstruction(spark, corpus, queries):
    """ADC distance == exact distance to the codebook reconstruction (K8
    definition), verified via the pure-SQL reconstruction path."""
    from webscale_vector_search_spark.operators.pq import adc_distances_sql

    sub = corpus.filter(F.col("vec_id") < 50).cache()
    books = fit_codebooks(sub, m=16, seed=42)
    codes = encode(sub, books).cache()
    q1 = queries.filter(F.col("query_id") < 3)

    adc = adc_search(codes, books, q1, k=50, lut_dtype="float64").toPandas()
    recon = adc_distances_sql(codes.select("vec_id", "codes"), books, q1, spark).toPandas()
    merged = adc.merge(
        recon.rename(columns={"vec_id": "neighbor_id"})[["query_id", "neighbor_id", "distance"]],
        on=["query_id", "neighbor_id"],
        suffixes=("_adc", "_recon"),
    )
    assert len(merged) == len(adc)
    diff = (merged["distance_adc"] - merged["distance_recon"]).abs().max()
    assert diff <= 2e-6, f"ADC vs reconstruction max diff {diff}"


def test_residual_adc_matches_reconstruction(spark, corpus, queries):
    """Residual ADC (codes encode v - C[centroid]) == exact distance to the
    reconstruction C[centroid] + decode(codes), computed independently in
    numpy. This is the FAISS IVFPQ by_residual contract."""
    cents = train_centroids(spark, corpus, nlist=4, seed=42, sample_fraction=1.0).cache()
    assigned = assign_centroids(corpus, cents).filter(F.col("vec_id") < 50).cache()
    books = fit_codebooks(assigned, m=16, seed=42, centroids=cents)
    codes = encode(assigned, books, centroids=cents).cache()
    q1 = queries.filter(F.col("query_id") < 3).cache()

    adc = adc_search(
        codes, books, q1, k=50, centroids=cents, nprobe=4, residual=True,
        lut_dtype="float64",
    ).toPandas()

    # independent reconstruction: C[centroid] + concat_j books[j, code_j]
    C = {r["centroid_id"]: np.array(r["cvec"], dtype=np.float64) for r in cents.collect()}
    rows = {
        r["vec_id"]: (r["centroid_id"], np.array(r["codes"]))
        for r in codes.select("vec_id", "centroid_id", "codes").collect()
    }
    Q = {r["query_id"]: np.array(r["qvec"], dtype=np.float64) for r in q1.collect()}
    m, _, dsub = books.shape
    max_diff = 0.0
    for _, row in adc.iterrows():
        cid, cc = rows[row["neighbor_id"]]
        recon = C[cid] + np.concatenate([books[j, cc[j]] for j in range(m)])
        d = float(((Q[row["query_id"]] - recon) ** 2).sum())
        max_diff = max(max_diff, abs(d - row["distance"]))
    assert len(adc) > 0
    assert max_diff <= 2e-6, f"residual ADC vs reconstruction max diff {max_diff}"


def test_ivfpq_end_to_end_recall(spark, corpus, queries, exact, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivfpq_idx"))
    cfg = EngineConfig(index_type="IVFPQ", nlist=16, pq_m=16, kmeans_sample_fraction=1.0)
    build_index(spark, corpus, out, cfg)
    meta = read_metadata(out)
    assert meta["index_type"] == "IVFPQ" and meta["nlist"] == 16 and meta["pq_m"] == 16
    approx = search_index(spark, out, queries, k=10, nprobe=8)
    rec = recall_at_k(approx, exact, k=10)
    assert rec >= 0.8, f"IVFPQ recall@10 {rec}"


def test_ivf_end_to_end_artifacts(spark, corpus, queries, exact, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivf_idx"))
    cfg = EngineConfig(index_type="IVF", nlist=16, kmeans_sample_fraction=1.0)
    build_index(spark, corpus, out, cfg)
    approx = search_index(spark, out, queries, k=10, nprobe=8)
    rec = recall_at_k(approx, exact, k=10)
    assert rec >= 0.85, f"IVF recall@10 {rec}"

    # serving path: an opened handle (cached centroid arrays) must return
    # exactly what the open-per-call path returns
    from webscale_vector_search_spark.sources.index_io import open_index

    handle = open_index(spark, out)
    via_handle = search_index(spark, handle, queries, k=10, nprobe=8)
    a = approx.orderBy("query_id", "rank").collect()
    b = via_handle.orderBy("query_id", "rank").collect()
    assert a == b


def test_cosine_index_end_to_end(spark, corpus, queries, tmp_path_factory):
    """metric='cosine' IVF: vectors normalized at build, queries normalized
    at search, rankings must match the exact cosine answer (the q_cosine_topk
    form) to high recall. nprobe=8/16 on the weakly-clustered fixture
    measures 0.91; the bar guards regressions, not the fixture's geometry."""
    out = str(tmp_path_factory.mktemp("cos_idx"))
    cfg = EngineConfig(index_type="IVF", nlist=16, kmeans_sample_fraction=1.0, metric="cosine")
    build_index(spark, corpus, out, cfg)
    assert read_metadata(out)["metric"] == "cosine"
    exact_cos = knn(corpus, queries, k=10, metric="cosine")
    approx = search_index(spark, out, queries, k=10, nprobe=8)
    rec = recall_at_k(approx, exact_cos, k=10)
    assert rec >= 0.8, f"cosine IVF recall@10 {rec}"
    # self-queries: the query vector itself must rank first at distance 0
    top1 = approx.filter(F.col("rank") == 1).toPandas()
    assert (top1["query_id"] == top1["neighbor_id"]).all()
    assert (top1["distance"] == 0.0).all()


def test_compact_index_after_streaming_appends(spark, corpus, queries, tmp_path_factory):
    """Streaming appends leave a file per micro-batch; compaction must cut
    file count without changing a single search result."""
    from webscale_vector_search_spark.plans.build import compact_index, index_stats, search_index
    from webscale_vector_search_spark.streaming.build_stream import incremental_build
    from webscale_vector_search_spark.sources.index_io import write_metadata, metadata_dict

    src = str(tmp_path_factory.mktemp("compact_src"))
    idx = str(tmp_path_factory.mktemp("compact_idx"))
    corpus.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = incremental_build(spark, stream, idx, EngineConfig(index_type="FLAT"))
    q.awaitTermination(120)
    write_metadata(idx, metadata_dict(16, "FLAT", 64, corpus.count()))

    before = search_index(spark, idx, queries, k=10).toPandas()
    stats = compact_index(spark, idx, target_file_mb=256)
    assert stats["files_after"] < stats["files_before"], stats
    assert stats["rows"] == corpus.count()
    after = search_index(spark, idx, queries, k=10).toPandas()
    cols = ["query_id", "rank", "neighbor_id", "distance"]
    a = before[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = after[cols].sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert a.equals(b)

    st = index_stats(spark, idx).toPandas()
    assert st[st["is_total"]]["n_vectors"].iloc[0] == corpus.count()


def test_compact_index_versioned_swap_keeps_inflight_readers(
    spark, corpus, queries, tmp_path_factory
):
    """Compaction commits by flipping the sidecar pointer to a fresh
    vectors.v{N} directory; a reader opened BEFORE the flip must keep
    resolving its complete old directory (kept one version back), and a
    reader opened after must see the new one."""
    import os

    from webscale_vector_search_spark.plans.build import build_index, compact_index
    from webscale_vector_search_spark.sources.index_io import open_index, read_metadata

    idx = str(tmp_path_factory.mktemp("versioned_idx"))
    build_index(spark, corpus, idx, EngineConfig(index_type="FLAT"))
    n = corpus.count()

    pre = open_index(spark, idx)  # lazy reader bound to the original `vectors`
    stats1 = compact_index(spark, idx, target_file_mb=256)
    assert stats1["vectors_dir"] == "vectors.v1"
    assert read_metadata(idx)["vectors_dir"] == "vectors.v1"
    # the pre-flip reader's directory survives the commit, and it still scans
    assert os.path.isdir(os.path.join(idx, "vectors"))
    assert pre.vectors.count() == n

    mid = open_index(spark, idx)  # bound to vectors.v1
    stats2 = compact_index(spark, idx, target_file_mb=256)
    assert stats2["vectors_dir"] == "vectors.v2"
    # keep = {v2, v1}; the twice-stale original is garbage-collected
    assert os.path.isdir(os.path.join(idx, "vectors.v1"))
    assert not os.path.isdir(os.path.join(idx, "vectors"))
    assert mid.vectors.count() == n
    assert open_index(spark, idx).vectors.count() == n


def test_polish_centroids_reduces_quantization_error(spark, corpus):
    """The full-corpus Lloyd pass must strictly improve (or match) the coarse
    quantizer: mean squared distance from each vector to its assigned
    centroid is non-increasing under an exact Lloyd update, and in practice
    drops measurably when KMeans trained on a small sample."""
    from webscale_vector_search_spark.operators.ivf import polish_centroids

    cents0 = train_centroids(spark, corpus, nlist=16, seed=7, sample_fraction=0.05)
    cents1 = polish_centroids(corpus, cents0, iters=1)

    def mean_qerr(cents):
        rows = cents.orderBy("centroid_id").collect()
        C = np.array([r["cvec"] for r in rows], dtype=np.float64)
        V = np.stack(
            [r["embedding"] for r in corpus.select("embedding").collect()]
        ).astype(np.float64)
        d = (V * V).sum(1)[:, None] - 2.0 * V @ C.T + (C * C).sum(1)[None, :]
        return d.min(axis=1).mean()

    e0, e1 = mean_qerr(cents0), mean_qerr(cents1)
    assert e1 <= e0 + 1e-9, (e0, e1)
    # schema and id-set are preserved
    assert cents1.columns == ["centroid_id", "cvec"]
    ids0 = {r["centroid_id"] for r in cents0.collect()}
    ids1 = {r["centroid_id"] for r in cents1.collect()}
    assert ids0 == ids1


def test_polish_centroids_deterministic(spark, corpus):
    from webscale_vector_search_spark.operators.ivf import polish_centroids

    cents0 = train_centroids(spark, corpus, nlist=8, seed=3, sample_fraction=0.1)
    a = polish_centroids(corpus, cents0, iters=2).orderBy("centroid_id").collect()
    b = polish_centroids(corpus, cents0, iters=2).orderBy("centroid_id").collect()
    assert [r["cvec"] for r in a] == [r["cvec"] for r in b]


def test_pq_bits_10_end_to_end(spark, corpus, queries):
    """pq_bits is a real knob, not dead config: 10-bit codebooks (1024 codes
    per subspace) must flow through fit -> SMALLINT codes -> ADC with the
    same ADC == reconstruction contract as 8-bit. (Finer codes are one of
    the measured recall levers on clustered corpora — the offline study
    behind the bench configs puts m=32 @ 10-bit at ~0.9 ADC recall where
    m=32 @ 8-bit falls short.)"""
    from webscale_vector_search_spark.operators.pq import adc_distances_sql

    sub = corpus.filter(F.col("vec_id") < 80).cache()
    books = fit_codebooks(sub, m=16, seed=42, n_codes=1024)
    assert books.shape == (16, 1024, 4)
    codes = encode(sub, books).cache()
    row = codes.select(F.max(F.array_max("codes")).alias("mx")).collect()[0]
    assert row["mx"] <= 1023
    q1 = queries.filter(F.col("query_id") < 2)
    adc = adc_search(codes, books, q1, k=20, lut_dtype="float64").toPandas()
    recon = adc_distances_sql(codes.select("vec_id", "codes"), books, q1, spark).toPandas()
    merged = adc.merge(
        recon.rename(columns={"vec_id": "neighbor_id"})[["query_id", "neighbor_id", "distance"]],
        on=["query_id", "neighbor_id"],
        suffixes=("_adc", "_recon"),
    )
    assert len(merged) == len(adc)
    diff = (merged["distance_adc"] - merged["distance_recon"]).abs().max()
    assert diff <= 2e-6, f"ADC vs reconstruction max diff {diff}"


def test_adc_float32_lut_matches_float64(spark, corpus, queries):
    """The default float32 LUT (bandwidth-bound scan; FAISS precedent) must
    agree with the float64 decomposition to ~1e-4 absolute — three orders
    below the quantization error ADC carries by construction.

    This must run the PLAIN (non-residual) path: that is the only path with
    a gathered LUT to quantize — the residual path is decode-then-GEMM in
    float64 regardless of lut_dtype (asserted bit-exact below)."""
    books = fit_codebooks(corpus, m=16, seed=42)
    codes = encode(corpus, books).cache()
    q1 = queries.filter(F.col("query_id") < 3)

    d32 = adc_search(codes, books, q1, k=50).toPandas()  # default lut_dtype='float32'
    d64 = adc_search(codes, books, q1, k=50, lut_dtype="float64").toPandas()
    merged = d32.merge(
        d64, on=["query_id", "neighbor_id"], suffixes=("_32", "_64")
    )
    assert len(merged) >= 0.95 * len(d64)  # rank flips only on quantization ties
    diff = (merged["distance_32"] - merged["distance_64"]).abs().max()
    assert 0 < diff <= 1e-4, f"float32 vs float64 ADC max diff {diff}"
    # the > 0 bound is the vacuousness guard: if a refactor routes both
    # calls through an identical computation again, this trips


def test_adc_residual_path_dtype_invariant(spark, corpus, queries):
    """The residual path has no LUT: decode-then-GEMM runs float64 regardless
    of lut_dtype, so float32 vs float64 must be BIT-identical."""
    cents = train_centroids(spark, corpus, nlist=4, seed=42, sample_fraction=1.0).cache()
    assigned = assign_centroids(corpus, cents).cache()
    books = fit_codebooks(assigned, m=16, seed=42, centroids=cents)
    codes = encode(assigned, books, centroids=cents).cache()
    q1 = queries.filter(F.col("query_id") < 3)

    kw = dict(centroids=cents, nprobe=4, residual=True)
    d32 = adc_search(codes, books, q1, k=50, **kw).toPandas()
    d64 = adc_search(codes, books, q1, k=50, lut_dtype="float64", **kw).toPandas()
    sort_cols = ["query_id", "rank", "neighbor_id"]
    d32, d64 = d32.sort_values(sort_cols), d64.sort_values(sort_cols)
    assert d32["neighbor_id"].tolist() == d64["neighbor_id"].tolist()
    assert (d32["distance"].to_numpy() == d64["distance"].to_numpy()).all()


def test_driver_probes_csr_structure_and_size(spark):
    """Probe lists are CSR-style (centroid_id -> ascending query rows), total
    size O(nq * nprobe) at ANY nlist: the dense (nq x max_centroid_id) bool
    mask this replaced rode every task closure and reached ~1 MB per 16
    queries at nlist=65k (65 MB at a 1000-query serving batch)."""
    import pickle

    from webscale_vector_search_spark.operators.ivf import DriverProbes

    nlist, dim, nprobe, nq = 65_000, 8, 4, 16
    rng = np.random.default_rng(0)
    c_ids = np.arange(nlist, dtype=np.int64)
    C = rng.normal(size=(nlist, dim))
    q = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(nq)],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    )
    probes = DriverProbes(q, None, nprobe, centroid_np=(c_ids, C))
    assert sum(len(v) for v in probes.probe_lists.values()) == nq * nprobe
    # membership matches an independent per-query argsort of the distances
    for qi in range(nq):
        expect = set(c_ids[np.argsort(probes.qc2[qi], kind="stable")[:nprobe]].tolist())
        got = {c for c, arr in probes.probe_lists.items() if qi in arr}
        assert got == expect, qi
        for arr in probes.probe_lists.values():  # ascending == np.where order
            assert (np.diff(arr) > 0).all() or len(arr) <= 1
    blob = pickle.dumps(probes.probe_lists)
    assert len(blob) < 64 * 1024, f"probe structure pickled to {len(blob)} bytes"


def test_hnsw_stored_graph_equivalence_and_worker_cache(spark, tmp_path_factory):
    """The persisted-graph contract (K9 artifact half):
    1. the graph build_index writes is search-IDENTICAL (bit-exact labels
       and distances) to the builder's in-memory graph, through the full
       parquet round-trip — i.e. serving a stored graph == serving the
       graph that was just built, construction paid exactly once;
    2. the serving loader caches per worker: a second load of an unchanged
       shard returns the same object (the reference's load-once, 537-545);
    3. search_index over the artifact clears the HNSW recall bar.
    """
    import os

    from webscale_vector_search_spark.operators.hnsw_partition import (
        PyHNSW,
        load_shard_graph,
    )
    from webscale_vector_search_spark.operators.knn import knn
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_graph_idx"))
    cfg = EngineConfig(index_type="HNSW", num_shards=2)
    handle = build_index(spark, corpus, out, cfg)
    meta = read_metadata(out)
    assert meta["hnsw_graph"] is True
    assert meta["hnsw"] == {"m": 16, "ef_construction": 64, "seed": 42}
    assert {"hnsw_level", "hnsw_neighbors", "hnsw_entry"} <= set(handle.vectors.columns)

    # (1) bit-exact: reload shard 0 from parquet; rebuild the same graph
    # in-memory (same insertion order = vec_id ascending, same per-shard
    # seed); every query must return identical labels AND distances
    shard_dir = os.path.join(handle.vectors_dir, "shard_id=0")
    g_stored = load_shard_graph(shard_dir)
    rows = (
        handle.vectors.filter(F.col("shard_id") == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    V = np.stack([r["embedding"] for r in rows]).astype(np.float64)
    g_mem = PyHNSW(V.shape[1], M=cfg.hnsw_m, ef_construction=cfg.hnsw_ef_construction, seed=cfg.seed + 0)
    g_mem.add_items(V)
    Q = V[:7]
    ls, ds = g_stored.knn_query(Q, k=10, ef=64)
    lm, dm = g_mem.knn_query(Q, k=10, ef=64)
    assert (ls == lm).all()
    assert (ds == dm).all()

    # (2) worker cache: unchanged files -> the very same object
    assert load_shard_graph(shard_dir) is g_stored

    # (3) end-to-end recall through search_index (stored-graph route)
    queries = queries_from_embeddings(spark, SF_SMOKE, 15)
    exact = knn(corpus, queries, k=10)
    approx = search_index(spark, handle, queries, k=10)
    assert recall_at_k(approx, exact, k=10) >= 0.9
    # kernel='sql' fallback on a graph artifact = the exact scan
    sql_res = search_index(spark, handle, queries, k=10, kernel="sql")
    assert recall_at_k(sql_res, exact, k=10) == 1.0


def test_compact_index_preserves_hnsw_graph_serving(spark, tmp_path_factory):
    """Compaction rewrites shard partitions into a fresh versioned directory;
    a graph artifact must serve identically afterwards — adjacency columns
    survive the rewrite, the loader re-reads through the flipped sidecar
    pointer (new file fingerprints = fresh cache entries), and results are
    bit-identical to pre-compaction serving."""
    from webscale_vector_search_spark.plans.build import compact_index
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings
    from webscale_vector_search_spark.sources.index_io import open_index

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_compact_idx"))
    build_index(spark, corpus, out, EngineConfig(index_type="HNSW", num_shards=2))
    queries = queries_from_embeddings(spark, SF_SMOKE, 10)

    before = (
        search_index(spark, out, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    stats = compact_index(spark, out, target_file_mb=1)
    assert stats["rows"] == corpus.count()

    handle = open_index(spark, out)
    assert handle.meta["hnsw_graph"] is True
    assert "vectors.v" in handle.vectors_dir  # reads the compacted version
    after = (
        search_index(spark, handle, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert after.equals(before)

    # compaction must RE-FREEZE the serving bundles: the old ones lived in
    # the superseded directory — without this, every cold worker silently
    # pays the slow parquet-decode path forever after a compaction
    import json as _json
    import os

    from webscale_vector_search_spark.operators import hnsw_partition as hp

    for s in (0, 1):
        shard_dir = os.path.join(out, stats["vectors_dir"], f"shard_id={s}")
        fp_file = os.path.join(shard_dir, "_graph", "fingerprint.json")
        assert os.path.exists(fp_file), f"shard {s}: no frozen bundle after compact"
        with open(fp_file) as f:
            stored_fp = [tuple(t) for t in _json.load(f)]
        assert stored_fp == list(hp._graph_fingerprint(shard_dir)), (
            f"shard {s}: stale bundle fingerprint after compact"
        )


def test_pre_graph_hnsw_sidecar_is_refused(spark, tmp_path_factory):
    """An HNSW sidecar without `hnsw_graph` (the centroid-layout artifact
    that predates persisted graphs) is refused at read_metadata with an
    error naming the cause, so open_index and append_vectors never
    mis-read it."""
    import json
    import os

    from webscale_vector_search_spark.plans.build import append_vectors
    from webscale_vector_search_spark.sources.index_io import (
        METADATA_FILE,
        open_index,
    )

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_pre_graph"))
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="HNSW", num_shards=2, recall_curve=False),
    )
    path = os.path.join(out, METADATA_FILE)
    with open(path) as f:
        meta = json.load(f)
    del meta["hnsw_graph"]
    with open(path, "w") as f:
        json.dump(meta, f)

    with pytest.raises(ValueError, match="pre-r5 centroid-layout"):
        open_index(spark, out)
    with pytest.raises(ValueError, match="rebuild it with build_index"):
        append_vectors(spark, out, corpus.limit(2))


def test_hnsw_frozen_bundle_freshness_and_fallback(spark, tmp_path_factory):
    """The serving bundle (freeze_shard_graph — the faiss.write_index
    analog) must never serve stale: build_index freezes automatically; a
    bundle whose parquet fingerprint mismatches is IGNORED (parquet decode
    fallback, same results); a deleted bundle likewise. Frozen and
    fallback loads are search-identical."""
    import os
    import shutil

    from webscale_vector_search_spark.operators import hnsw_partition as hp

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_freeze_idx"))
    handle = build_index(spark, corpus, out, EngineConfig(index_type="HNSW", num_shards=2))
    shard_dir = os.path.join(handle.vectors_dir, "shard_id=0")
    assert os.path.isdir(os.path.join(shard_dir, hp._FROZEN_DIR))  # auto-frozen

    g_frozen = hp.read_shard_graph(shard_dir)
    assert hp._load_frozen(shard_dir, 16, 64) is not None
    Q = g_frozen.V[:5]
    lf, df_ = g_frozen.knn_query(Q, k=5, ef=64)

    # stale: touch a parquet file -> fingerprint mismatch -> fallback
    pq = [f for f in os.listdir(shard_dir) if f.endswith(".parquet")][0]
    os.utime(os.path.join(shard_dir, pq))
    assert hp._load_frozen(shard_dir, 16, 64) is None
    g_fb = hp.read_shard_graph(shard_dir)
    l2, d2 = g_fb.knn_query(Q, k=5, ef=64)
    assert (lf == l2).all() and (df_ == d2).all()

    # deleted bundle -> fallback still serves
    shutil.rmtree(os.path.join(shard_dir, hp._FROZEN_DIR))
    g_fb2 = hp.read_shard_graph(shard_dir)
    l3, d3 = g_fb2.knn_query(Q, k=5, ef=64)
    assert (lf == l3).all() and (df_ == d3).all()

    # re-freeze restores the fast path
    hp.freeze_shard_graph(shard_dir)
    assert hp._load_frozen(shard_dir, 16, 64) is not None


def test_csr_to_mutable_does_not_alias_serving_graph(spark, tmp_path_factory):
    """to_mutable must COPY the adjacency: CSRServingGraph lazily caches
    level-0 neighbor lists (_l0), and handing those list objects to the
    mutable graph would let add_items corrupt the (possibly serving-cached)
    read-only instance in place — _insert appends into existing neighbor
    lists (`lu.append`)."""
    import os

    import numpy as np

    from webscale_vector_search_spark.operators import hnsw_partition as hp

    corpus = load_table(spark, "embeddings", SF_SMOKE).limit(300)
    out = str(tmp_path_factory.mktemp("alias_idx"))
    handle = build_index(spark, corpus, out, EngineConfig(index_type="HNSW", num_shards=1))
    shard_dir = os.path.join(handle.vectors_dir, "shard_id=0")

    g_serving = hp.read_shard_graph(shard_dir)  # CSR instance
    n = len(g_serving.ids)
    # snapshot adjacency THROUGH the lazy cache (populates _l0 — the alias
    # hazard path), then extend a mutable copy
    before = [list(g_serving._neighbors(i, 0)) for i in range(n)]
    gm = g_serving.to_mutable()
    rng = np.random.default_rng(0)
    gm.add_items(rng.standard_normal((8, g_serving.V.shape[1])))
    after = [list(g_serving._neighbors(i, 0)) for i in range(n)]
    assert before == after, "mutating to_mutable() corrupted the serving graph"
    # and the mutable copy DID change (inserts link into existing nodes)
    assert any(
        list(map(int, gm.links[i].get(0, []))) != before[i] for i in range(n)
    )


def test_lopq_per_cell_codebooks(spark, corpus, queries, exact, tmp_path_factory):
    """LOPQ (per-cell codebooks, Kalantidis & Avrithis CVPR 2014): the ADC
    distance must equal the exact distance to the per-cell reconstruction
    C[cell] + decode_cell(codes) — computed independently in numpy — and
    end-to-end ADC-only recall at the same (m, bits) budget must be at
    least the global-codebook variant's (per-cell books only ADD local
    adaptation)."""
    from webscale_vector_search_spark.sources.index_io import read_metadata as _rm

    out_l = str(tmp_path_factory.mktemp("lopq_idx"))
    cfg_l = EngineConfig(
        index_type="IVFPQ", nlist=8, pq_m=16, kmeans_sample_fraction=1.0,
        pq_local_codebooks=True,
    )
    h_l = build_index(spark, corpus, out_l, cfg_l)
    assert _rm(out_l)["pq_local_codebooks"] is True
    assert isinstance(h_l.codebooks, dict) and len(h_l.codebooks) == 8

    out_g = str(tmp_path_factory.mktemp("gpq_idx"))
    cfg_g = EngineConfig(
        index_type="IVFPQ", nlist=8, pq_m=16, kmeans_sample_fraction=1.0,
    )
    h_g = build_index(spark, corpus, out_g, cfg_g)

    adc_l = search_index(spark, h_l, queries, k=20, nprobe=8, exact_refine=False)
    adc_g = search_index(spark, h_g, queries, k=20, nprobe=8, exact_refine=False)
    rec_l = recall_at_k(adc_l, exact, k=10)
    rec_g = recall_at_k(adc_g, exact, k=10)
    assert rec_l >= rec_g - 1e-9, (rec_l, rec_g)
    assert rec_l >= 0.8, rec_l

    # ADC == reconstruction with the row's OWN cell books, independent numpy
    C = {r["centroid_id"]: np.array(r["cvec"], dtype=np.float64) for r in h_l.centroids.collect()}
    code_rows = {
        r["vec_id"]: (r["centroid_id"], np.array(r["codes"]))
        for r in h_l.vectors.select("vec_id", "centroid_id", "codes").collect()
    }
    Q = {r["query_id"]: np.array(r["qvec"], dtype=np.float64) for r in queries.collect()}
    m = cfg_l.resolved_pq_m()
    dsub = 64 // m
    adc_pd = adc_l.toPandas()
    max_diff = 0.0
    for _, row in adc_pd.iterrows():
        cid, cc = code_rows[row["neighbor_id"]]
        bks = h_l.codebooks[cid]
        recon = C[cid] + np.concatenate([bks[j, cc[j]] for j in range(m)])
        d = float(((Q[row["query_id"]] - recon) ** 2).sum())
        max_diff = max(max_diff, abs(d - row["distance"]))
    assert len(adc_pd) > 0
    assert max_diff <= 2e-6, f"LOPQ ADC vs reconstruction max diff {max_diff}"


def test_opq_rotation_driver_properties():
    """_fit_opq (Ge et al. CVPR 2013 non-parametric alternation): the learned
    rotation must be orthogonal, and on data whose correlation structure
    straddles the subspace split the rotated quantization error must beat
    the axis-aligned split (that is the whole point of OPQ — deterministic
    here: fixed seed, fixed data)."""
    from webscale_vector_search_spark.operators.pq import (
        _fit_opq,
        _fit_subspace_kmeans,
        _pq_reconstruct,
    )

    rng = np.random.default_rng(7)
    # correlated data: low-rank latent mixed across all 16 dims, so raw
    # subspace slices share variance the axis-aligned split wastes bits on
    Z = rng.standard_normal((4000, 4))
    A = rng.standard_normal((4, 16))
    X = Z @ A + 0.05 * rng.standard_normal((4000, 16))

    m, n_codes = 8, 16
    rot, books_opq = _fit_opq(X, m, n_codes, kmeans_iters=10, rng=np.random.default_rng(0), opq_iters=8)
    assert np.allclose(rot @ rot.T, np.eye(16), atol=1e-10)  # orthogonal

    books_pq = _fit_subspace_kmeans(X, m, n_codes, 10, np.random.default_rng(0))
    err_pq = ((X - _pq_reconstruct(X, books_pq)) ** 2).sum()
    Xr = X @ rot
    err_opq = ((Xr - _pq_reconstruct(Xr, books_opq)) ** 2).sum()
    assert err_opq < err_pq, (err_opq, err_pq)


def test_lopq_opq_end_to_end(spark, corpus, queries, exact, tmp_path_factory):
    """Full LOPQ (per-cell codebooks AND per-cell OPQ rotations,
    pq_opq_iters > 0): the ADC distance must equal the exact distance to
    the rotated-back reconstruction C[cell] + decode_cell(codes) @ rot.T —
    computed independently in numpy — recall must not regress vs
    rotation-less LOPQ at the same bit budget, and the rotation artifact
    must round-trip (meta flag, handle.lopq_rots, orthogonality)."""
    from webscale_vector_search_spark.sources.index_io import read_metadata as _rm

    out_o = str(tmp_path_factory.mktemp("lopq_opq_idx"))
    cfg_o = EngineConfig(
        index_type="IVFPQ", nlist=8, pq_m=16, kmeans_sample_fraction=1.0,
        pq_local_codebooks=True, pq_opq_iters=4,
    )
    # misconfiguration guard: OPQ frames are residual-only — raw-vector
    # codes with a rotation nobody applies must refuse, not silently build
    with pytest.raises(ValueError, match="pq_opq_iters"):
        build_index(
            spark, corpus, str(tmp_path_factory.mktemp("bad_opq")),
            EngineConfig(
                index_type="IVFPQ", nlist=8, pq_m=16, pq_opq_iters=2,
                pq_residual=False,
            ),
        )

    h_o = build_index(spark, corpus, out_o, cfg_o)
    assert _rm(out_o)["pq_opq_iters"] == 4
    assert isinstance(h_o.lopq_rots, dict) and len(h_o.lopq_rots) == 8
    for rot in h_o.lopq_rots.values():
        # float32 storage -> 1e-6-scale orthogonality error is expected
        assert np.allclose(rot @ rot.T, np.eye(64), atol=1e-5)

    out_l = str(tmp_path_factory.mktemp("lopq_noopq_idx"))
    cfg_l = EngineConfig(
        index_type="IVFPQ", nlist=8, pq_m=16, kmeans_sample_fraction=1.0,
        pq_local_codebooks=True,
    )
    h_l = build_index(spark, corpus, out_l, cfg_l)
    assert h_l.lopq_rots is None  # opq_iters=0 -> no rotations stored

    adc_o = search_index(spark, h_o, queries, k=20, nprobe=8, exact_refine=False)
    adc_l = search_index(spark, h_l, queries, k=20, nprobe=8, exact_refine=False)
    rec_o = recall_at_k(adc_o, exact, k=10)
    rec_l = recall_at_k(adc_l, exact, k=10)
    # the rotation is allowed to be a wash on easy fixtures, never a cliff
    assert rec_o >= rec_l - 0.05, (rec_o, rec_l)
    assert rec_o >= 0.8, rec_o

    # ADC == rotated-back reconstruction, independent numpy
    C = {r["centroid_id"]: np.array(r["cvec"], dtype=np.float64) for r in h_o.centroids.collect()}
    code_rows = {
        r["vec_id"]: (r["centroid_id"], np.array(r["codes"]))
        for r in h_o.vectors.select("vec_id", "centroid_id", "codes").collect()
    }
    Q = {r["query_id"]: np.array(r["qvec"], dtype=np.float64) for r in queries.collect()}
    m = cfg_o.resolved_pq_m()
    dsub = 64 // m
    adc_pd = adc_o.toPandas()
    assert len(adc_pd) > 0
    max_diff = 0.0
    for _, row in adc_pd.iterrows():
        cid, cc = code_rows[row["neighbor_id"]]
        bks = h_o.codebooks[cid]
        rot = h_o.lopq_rots[cid]
        r_hat = np.concatenate([bks[j, cc[j]] for j in range(m)]) @ rot.T
        d = float(((Q[row["query_id"]] - (C[cid] + r_hat)) ** 2).sum())
        max_diff = max(max_diff, abs(d - row["distance"]))
    assert max_diff <= 2e-6, f"LOPQ+OPQ ADC vs reconstruction max diff {max_diff}"

    # pairing fast-fails are DRIVER-side ValueErrors (not a KeyError deep
    # inside an executor task): rotations without books are meaningless...
    with pytest.raises(ValueError, match="local_rots requires local_books"):
        adc_search(
            h_o.vectors, None, queries, k=5,
            centroids=h_o.centroids, nprobe=8, residual=True,
            local_rots=h_o.lopq_rots,
        )
    # ...and a probed cell whose books shipped but whose rotation is absent
    # is a broken books/rots pairing (nprobe=nlist here, so the popped cell
    # is guaranteed probed)
    partial = dict(h_o.lopq_rots)
    partial.pop(next(iter(partial)))
    with pytest.raises(ValueError, match="books/rots pairing"):
        adc_search(
            h_o.vectors, None, queries, k=5,
            centroids=h_o.centroids, nprobe=8, residual=True,
            local_books=h_o.codebooks, local_rots=partial,
        )


def test_global_opq_end_to_end(spark, corpus, queries, exact, tmp_path_factory):
    """Global OPQ (pq_opq_iters without pq_local_codebooks): one rotation
    fit on the pooled sample, stored as the `rotation` artifact — the
    huge-nlist regime where per-cell books don't fit the serving
    broadcast. ADC distance must equal the exact distance to
    C[cell] + decode(codes) @ rot.T (independent numpy, stored values),
    the artifact must round-trip through open_index, and recall must not
    cliff vs the rotation-less global fit."""
    from webscale_vector_search_spark.sources.index_io import open_index, read_metadata as _rm

    out_o = str(tmp_path_factory.mktemp("gopq_idx"))
    cfg = EngineConfig(
        index_type="IVFPQ", nlist=8, pq_m=16, kmeans_sample_fraction=1.0,
        pq_opq_iters=4,
    )
    build_index(spark, corpus, out_o, cfg)
    h = open_index(spark, out_o)
    assert _rm(out_o)["pq_opq_iters"] == 4
    assert h.lopq_rots is None and h.pq_rotation is not None
    # float32 storage -> 1e-6-scale orthogonality error is expected
    assert np.allclose(h.pq_rotation @ h.pq_rotation.T, np.eye(64), atol=1e-5)

    out_g = str(tmp_path_factory.mktemp("gplain_idx"))
    h_g = build_index(
        spark, corpus, out_g,
        EngineConfig(index_type="IVFPQ", nlist=8, pq_m=16, kmeans_sample_fraction=1.0),
    )
    assert h_g.pq_rotation is None  # no artifact without opq

    adc_o = search_index(spark, h, queries, k=20, nprobe=8, exact_refine=False)
    adc_g = search_index(spark, h_g, queries, k=20, nprobe=8, exact_refine=False)
    rec_o = recall_at_k(adc_o, exact, k=10)
    rec_g = recall_at_k(adc_g, exact, k=10)
    # the fixture corpus trains the rotation on only ~500 pooled residuals —
    # the documented estimation-noise regime (config.py), so OPQ is allowed
    # a small recall give-back here but never a cliff; the large-sample
    # regime where it wins is covered by the driver-side property test
    # above and the docs/SCALE.md measurements
    assert rec_o >= rec_g - 0.08, (rec_o, rec_g)
    assert rec_o >= 0.7, rec_o

    # ADC == rotated-back reconstruction, independent numpy on stored values
    C = {r["centroid_id"]: np.array(r["cvec"], dtype=np.float64) for r in h.centroids.collect()}
    code_rows = {
        r["vec_id"]: (r["centroid_id"], np.array(r["codes"]))
        for r in h.vectors.select("vec_id", "centroid_id", "codes").collect()
    }
    Q = {r["query_id"]: np.array(r["qvec"], dtype=np.float64) for r in queries.collect()}
    m = cfg.resolved_pq_m()
    adc_pd = adc_o.toPandas()
    assert len(adc_pd) > 0
    max_diff = 0.0
    for _, row in adc_pd.iterrows():
        cid, cc = code_rows[row["neighbor_id"]]
        r_hat = np.concatenate([h.codebooks[j, cc[j]] for j in range(m)]) @ h.pq_rotation.T
        d = float(((Q[row["query_id"]] - (C[cid] + r_hat)) ** 2).sum())
        max_diff = max(max_diff, abs(d - row["distance"]))
    assert max_diff <= 2e-6, f"global OPQ ADC vs reconstruction max diff {max_diff}"


def test_build_index_centroid_reuse(spark, corpus, queries, tmp_path_factory):
    """Clustering reuse: build_index(centroids_df=...) must skip training,
    store the given centers verbatim, and search identically to the donor's
    own centers (identical config trains identical centers, so the reused
    build's results match a from-scratch build exactly)."""
    out_a = str(tmp_path_factory.mktemp("ivf_a"))
    cfg = EngineConfig(index_type="IVF", nlist=8, kmeans_sample_fraction=1.0)
    h_a = build_index(spark, corpus, out_a, cfg)

    out_b = str(tmp_path_factory.mktemp("ivf_b"))
    h_b = build_index(spark, corpus, out_b, cfg, centroids_df=h_a.centroids)

    a = h_a.centroids.orderBy("centroid_id").collect()
    b = h_b.centroids.orderBy("centroid_id").collect()
    assert [r["cvec"] for r in a] == [r["cvec"] for r in b]

    ra = search_index(spark, h_a, queries, k=10, nprobe=4).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    rb = search_index(spark, h_b, queries, k=10, nprobe=4).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert ra.equals(rb)


def test_reused_centroids_override_config_nlist(spark, corpus, tmp_path_factory):
    """build_index(centroids_df=...) must record the SUPPLIED table's list
    count, not the config's: the sidecar nlist drives the serving default
    nprobe, and a mismatched record silently collapses recall (e.g. meta
    nlist=8 over 1000 real lists -> default nprobe 1)."""
    from webscale_vector_search_spark.operators.ivf import train_centroids
    from webscale_vector_search_spark.sources.index_io import read_metadata

    cents4 = train_centroids(spark, corpus, nlist=4, seed=42, sample_fraction=1.0)
    out = str(tmp_path_factory.mktemp("reuse_cents_idx"))
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", nlist=16),  # config SAYS 16...
        centroids_df=cents4,                       # ...but 4 were supplied
    )
    assert read_metadata(out)["nlist"] == 4


def test_hnsw_stored_search_broadcast_query_batch(spark, tmp_path_factory):
    """Query batches above the size threshold ship via Spark broadcast
    instead of task-closure capture (VERDICT r5 #7 — closure capture
    serialized the whole batch into every (shard, split) task description,
    the one term that grew with batch size). Forcing threshold=0 must give
    bit-identical results to the closure path."""
    from webscale_vector_search_spark.operators.hnsw_partition import hnsw_stored_search
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_bc_idx"))
    handle = build_index(spark, corpus, out, EngineConfig(index_type="HNSW", num_shards=2))
    queries = queries_from_embeddings(spark, SF_SMOKE, 20)
    via_closure = hnsw_stored_search(
        handle.vectors_dir, 2, queries, k=5, broadcast_threshold_bytes=1 << 30
    ).orderBy("query_id", "rank")
    via_broadcast = hnsw_stored_search(
        handle.vectors_dir, 2, queries, k=5, broadcast_threshold_bytes=0
    ).orderBy("query_id", "rank")
    assert via_closure.collect() == via_broadcast.collect()


def test_hnsw_stored_search_split_invariant(spark, tmp_path_factory):
    """r13: the scatter's query_splits (defaulted from session parallelism)
    must never change results — each query meets every shard exactly once
    regardless of how the batch is subdivided (strided slices partition it)
    and the K3 merge is per-query. Pin splits=1 == splits=3 (odd stride,
    non-divisible batch) == the derived default."""
    from webscale_vector_search_spark.operators.hnsw_partition import hnsw_stored_search
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_split_idx"))
    handle = build_index(spark, corpus, out, EngineConfig(index_type="HNSW", num_shards=2))
    queries = queries_from_embeddings(spark, SF_SMOKE, 20)
    one = hnsw_stored_search(
        handle.vectors_dir, 2, queries, k=5, query_splits=1
    ).orderBy("query_id", "rank").collect()
    three = hnsw_stored_search(
        handle.vectors_dir, 2, queries, k=5, query_splits=3
    ).orderBy("query_id", "rank").collect()
    derived = hnsw_stored_search(
        handle.vectors_dir, 2, queries, k=5  # default: parallelism-derived
    ).orderBy("query_id", "rank").collect()
    assert one == three == derived


def _skewed_corpus(spark, n=3000, dim=16, seed=7):
    """~2/3 of the points in ONE tight blob (a power-law hot list), the rest
    spread over 7 separated blobs — the shape that makes one inverted list
    a straggler under plain sqrt(n)-list IVF."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 10.0, (8, dim))
    hot = int(n * 2 / 3)
    owner = np.concatenate([np.zeros(hot, dtype=int), rng.integers(1, 8, n - hot)])
    V = centers[owner] + rng.normal(0.0, 0.3, (n, dim))
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(V)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )


def test_split_oversized_lists_bounds_skew(spark, tmp_path_factory):
    """VERDICT r5 #5: a deliberately hot list is split at build time; the
    max/median list ratio drops under the cap factor's bound, searches stay
    correct, and the split is deterministic."""
    from webscale_vector_search_spark.operators.ivf import index_skew

    corpus = _skewed_corpus(spark)
    queries = (
        corpus.limit(15)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .cache()
    )
    exact = knn(corpus, queries, k=10).cache()

    base_cfg = dict(
        index_type="IVF", vector_dim=16, nlist=8, kmeans_sample_fraction=1.0
    )
    plain_dir = str(tmp_path_factory.mktemp("skew_plain"))
    # the uncapped baseline must opt out now that the engine default caps
    build_index(spark, corpus, plain_dir, EngineConfig(**base_cfg, ivf_max_list_factor=None))
    split_dir = str(tmp_path_factory.mktemp("skew_split"))
    build_index(
        spark, corpus, split_dir, EngineConfig(**base_cfg, ivf_max_list_factor=2.0)
    )

    plain, split = index_skew(spark, plain_dir), index_skew(spark, split_dir)
    assert plain["max_over_median"] > 3.0, "fixture corpus isn't actually skewed"
    assert split["max_over_median"] < plain["max_over_median"]
    # recursive split: passes repeat against the fixed cap until no list
    # exceeds it (one k=2 pass can split a multi-blob hot list unevenly —
    # measured 83/17 at the 10M tier), so the bound is the cap itself
    import math

    cap = math.ceil(2.0 * corpus.count() / 8)
    assert split["max_list"] <= cap
    meta = read_metadata(split_dir)
    assert meta["ivf_split"]["lists_split"] >= 1
    assert meta["ivf_split"]["passes"] >= 1
    assert meta["ivf_split"]["converged"] is True
    assert meta["ivf_split"]["max_list_final"] <= cap
    assert meta["nlist"] == split["n_lists"] == meta["ivf_split"]["nlist_after"]

    # searches stay correct: at the same probed FRACTION of lists the split
    # index must match the plain one's recall envelope
    r_plain = recall_at_k(search_index(spark, plain_dir, queries, k=10, nprobe=4), exact)
    n_after = meta["nlist"]
    nprobe_eq = max(4, int(round(4 * n_after / 8)))
    r_split = recall_at_k(
        search_index(spark, split_dir, queries, k=10, nprobe=nprobe_eq), exact
    )
    assert r_split >= min(r_plain, 0.95)

    # deterministic: a rebuild produces the identical centroid table
    split_dir2 = str(tmp_path_factory.mktemp("skew_split2"))
    build_index(
        spark, corpus, split_dir2, EngineConfig(**base_cfg, ivf_max_list_factor=2.0)
    )
    import os

    a = spark.read.parquet(os.path.join(split_dir, "centroids")).orderBy("centroid_id").collect()
    b = spark.read.parquet(os.path.join(split_dir2, "centroids")).orderBy("centroid_id").collect()
    assert a == b


def test_default_config_caps_skew(spark, tmp_path_factory):
    """The r7 default flip's paper trail (VERDICT r7 #3): a DEFAULT
    EngineConfig — no explicit ivf_max_list_factor — building over a skewed
    corpus must run the split and record `ivf_split` (with `converged`) in
    the sidecar. Every other skew test pins an explicit cap; this is the
    one that proves users get the hardening without opting in."""
    import math

    cfg = EngineConfig(
        index_type="IVF", vector_dim=16, nlist=8, kmeans_sample_fraction=1.0
    )
    assert cfg.ivf_max_list_factor == 4.0, "engine default under test"
    corpus = _skewed_corpus(spark)  # hot list = 2n/3 = 5.3x n/nlist > the 4x cap
    out = str(tmp_path_factory.mktemp("skew_default"))
    build_index(spark, corpus, out, cfg)
    meta = read_metadata(out)
    info = meta.get("ivf_split")
    assert info is not None, "default-config build must record ivf_split"
    assert info["lists_split"] >= 1
    assert info["converged"] is True
    cap = math.ceil(4.0 * corpus.count() / 8)
    assert info["cap"] == cap
    assert info["max_list_final"] <= cap
    assert meta["nlist"] == info["nlist_after"] > 8


def test_split_oversized_lists_ivfpq_residuals(spark, tmp_path_factory):
    """IVFPQ under the list cap: residuals/codes are computed against the
    FINAL (split) centers, so ADC + refine searches work end-to-end."""
    corpus = _skewed_corpus(spark)
    queries = (
        corpus.limit(10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .cache()
    )
    exact = knn(corpus, queries, k=10).cache()
    out = str(tmp_path_factory.mktemp("skew_pq"))
    build_index(
        spark,
        corpus,
        out,
        EngineConfig(
            index_type="IVFPQ", vector_dim=16, nlist=8, pq_m=16,
            kmeans_sample_fraction=1.0, ivf_max_list_factor=2.0,
        ),
    )
    meta = read_metadata(out)
    assert meta["ivf_split"]["lists_split"] >= 1
    res = search_index(spark, out, queries, k=10, nprobe=meta["nlist"])
    # all lists probed + m=dim codes + exact refine => exact results
    assert recall_at_k(res, exact, k=10) == 1.0


def test_compact_index_preserves_capped_split_lists(spark, tmp_path_factory):
    """Compaction over a skew-capped index: split lists have non-contiguous
    centroid ids (children above the original nlist); the version-swap
    rewrite must preserve partition values, occupancy balance, and search
    results exactly."""
    from webscale_vector_search_spark.operators.ivf import index_skew
    from webscale_vector_search_spark.plans.build import compact_index

    corpus = _skewed_corpus(spark)
    queries = (
        corpus.limit(10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .cache()
    )
    out = str(tmp_path_factory.mktemp("skew_compact"))
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=16, nlist=8,
            kmeans_sample_fraction=1.0, ivf_max_list_factor=2.0,
        ),
    )
    meta = read_metadata(out)
    assert meta["ivf_split"]["lists_split"] >= 1
    before_skew = index_skew(spark, out)
    before = search_index(spark, out, queries, k=10, nprobe=meta["nlist"]).orderBy(
        "query_id", "rank"
    ).collect()
    compact_index(spark, out)
    after_skew = index_skew(spark, out)
    assert after_skew == before_skew  # occupancy (and ids) preserved
    after = search_index(spark, out, queries, k=10, nprobe=meta["nlist"]).orderBy(
        "query_id", "rank"
    ).collect()
    assert after == before


def _attr_corpus_parquet(spark, path, n=4000, dim=16, seed=11):
    """A parquet corpus of n clustered vectors with two int attribute
    columns (one follows the cluster, one is dispersed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    owner = rng.integers(0, 40, n)
    V = (rng.normal(0.0, 5.0, (40, dim))[owner] + rng.normal(0.0, 0.5, (n, dim))).astype(
        np.float32
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(list(V), pa.list_(pa.float32())),
                "a_corr": pa.array((owner % 5).astype(np.int32)),
                "a_disp": pa.array(rng.integers(0, 7, n).astype(np.int32)),
            }
        ),
        path,
    )
    return spark.read.parquet(path)


def test_build_index_spark_job_budget(spark, tmp_path_factory):
    """An IVF build with attributes, given its centroid table (training is
    MLlib KMeans, whose jobs are its own), runs a handful of Spark jobs: the
    centers go to the assign kernel and to centroids/ from the driver, each
    stats table is one action, and the 41-directory vectors/ tree is listed
    without a distributed job. The same build ran 31 jobs when each of
    those was a Spark job of its own."""
    d = tmp_path_factory.mktemp("job_budget")
    corpus = _attr_corpus_parquet(spark, str(d / "corpus.parquet"))
    cents = train_centroids(spark, corpus, nlist=41, seed=42, sample_fraction=1.0)
    sc = spark.sparkContext
    group = "test-build-job-budget"
    sc.setJobGroup(group, group)
    try:
        build_index(
            spark, corpus, str(d / "idx"),
            EngineConfig(index_type="IVF", vector_dim=16, nlist=41, centroid_polish_iters=0,
                         ivf_max_list_factor=None, recall_curve_queries=16),
            centroids_df=cents,
            attr_cols=["a_corr", "a_disp"],
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 15, f"build_index ran {len(jobs)} Spark jobs"


def test_sidecar_nlist_counts_written_centroids(spark, tmp_path_factory):
    """A corpus with fewer distinct vectors than nlist gets fewer centers;
    the sidecar's nlist (which sizes the default nprobe) must count the
    centers actually written, not the configured nlist."""
    import os

    import pyarrow.dataset as pads

    rng = np.random.default_rng(3)
    distinct = rng.normal(0.0, 1.0, (4, 16))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in distinct[i % 4]]) for i in range(200)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    out = str(tmp_path_factory.mktemp("few_distinct"))
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=16, nlist=8, kmeans_sample_fraction=1.0,
                     centroid_polish_iters=0, ivf_max_list_factor=None, recall_curve=False),
    )
    written = pads.dataset(os.path.join(out, "centroids"), format="parquet").count_rows()
    assert written < 8
    assert read_metadata(out)["nlist"] == written
