"""Reference-parity API tests: npy ingest -> create_sharded_index ->
VectorCluster.distributed_search, matching §3's entry points."""

from __future__ import annotations

import os

import numpy as np
import pytest

from tests.conftest import SF_SMOKE
from webscale_vector_search_spark.api import VectorCluster, create_sharded_index
from webscale_vector_search_spark.sources.fixtures import load_table
from webscale_vector_search_spark.sources.npy import read_npy


@pytest.fixture(scope="module")
def npy_corpus_path(tmp_path_factory):
    """Two .npy files (multi-producer corpus) with 80 x 64 known vectors."""
    rng = np.random.default_rng(7)
    d = tmp_path_factory.mktemp("npy_corpus")
    a = rng.normal(size=(50, 64)).astype(np.float32)
    b = rng.normal(size=(30, 64)).astype(np.float32)
    np.save(d / "part-0.npy", a)
    np.save(d / "part-1.npy", b)
    return str(d), np.vstack([a, b])


def test_read_npy_ids_and_values(spark, npy_corpus_path):
    path, expected = npy_corpus_path
    df = read_npy(spark, path).orderBy("vec_id").toPandas()
    assert len(df) == 80
    assert df["vec_id"].tolist() == list(range(80))
    got = np.vstack(df["embedding"].to_numpy())
    assert np.array_equal(got, expected)


def test_create_index_from_npy_and_search(spark, npy_corpus_path, tmp_path_factory):
    path, expected = npy_corpus_path
    out = str(tmp_path_factory.mktemp("npy_idx"))
    create_sharded_index(spark, path, out, num_shards=4, index_type="FLAT")

    cluster = VectorCluster(spark, out)
    res = cluster.distributed_search(expected[7].tolist(), k=5)
    assert res["indices"][0] == 7  # self-query
    assert res["distances"][0] == 0.0
    assert res["distances"] == sorted(res["distances"])
    assert res["num_shards_failed"] == 0
    stats = cluster.get_stats()
    assert stats["total_queries"] == 1
    assert stats["total_vectors"] == 80
    assert stats["pending_deletes"] == 0

    # stats report the LIVE count under pending deletes (r9)
    from webscale_vector_search_spark.plans.build import delete_vectors

    delete_vectors(spark, out, [0, 1, 2])
    stats2 = VectorCluster(spark, out).get_stats()
    assert stats2["total_vectors"] == 77
    assert stats2["stored_vectors"] == 80
    assert stats2["pending_deletes"] == 3


def test_hnsw_capability_high_recall(spark, tmp_path_factory):
    """index_type=HNSW serves through the per-partition graph path;
    recall@10 must clear the bar that makes it 'the HNSW slot'."""
    from webscale_vector_search_spark.operators.ivf import recall_at_k
    from webscale_vector_search_spark.operators.knn import knn
    from webscale_vector_search_spark.plans.build import search_index
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings
    from webscale_vector_search_spark.config import EngineConfig
    from webscale_vector_search_spark.plans.build import build_index

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    out = str(tmp_path_factory.mktemp("hnsw_idx"))
    build_index(
        spark, corpus, out, EngineConfig(index_type="HNSW", nlist=16, kmeans_sample_fraction=1.0)
    )
    queries = queries_from_embeddings(spark, SF_SMOKE, 20)
    exact = knn(corpus, queries, k=10)
    approx = search_index(spark, out, queries, k=10)  # graph path (PyHNSW here)
    assert recall_at_k(approx, exact, k=10) >= 0.9


def test_hnsw_partition_search_recall(spark):
    """The per-partition graph path runs on PyHNSW everywhere — never an
    ImportError, never a stub."""
    from webscale_vector_search_spark.operators import hnsw_partition
    from webscale_vector_search_spark.operators.ivf import recall_at_k
    from webscale_vector_search_spark.operators.knn import knn
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    queries = queries_from_embeddings(spark, SF_SMOKE, 10)
    res = hnsw_partition.hnsw_partition_search(corpus, queries, k=5)
    assert res.count() == 50
    exact = knn(corpus, queries, k=5)
    assert recall_at_k(res, exact, k=5) >= 0.9


def test_pyhnsw_recall_and_sublinear_cost():
    """The cost-class assertion the r1 '75%-of-lists' mapping failed: the
    graph search must hit high recall while evaluating distances to a
    bounded, sub-linearly-growing fraction of the corpus (beam cost
    saturates near ef*2M nodes regardless of n). Measured here directly on
    PyHNSW's dist_evals counter."""
    import duckdb

    from webscale_vector_search_spark.operators.hnsw_partition import PyHNSW

    con = duckdb.connect()
    emb = con.execute(
        "SELECT embedding FROM read_parquet('/root/testdata/sf0.1/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchdf()
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    nq = 50

    def run(n):
        X, Q = V[:n], V[:nq]
        idx = PyHNSW(X.shape[1], M=16, ef_construction=64)
        idx.add_items(X)
        idx.dist_evals = 0
        labels, _ = idx.knn_query(Q, k=10, ef=64)
        evals_per_q = idx.dist_evals / nq
        dist = (Q**2).sum(1)[:, None] - 2.0 * Q @ X.T + (X**2).sum(1)[None, :]
        exact = np.argsort(dist, axis=1, kind="stable")[:, :10]
        recall = sum(len(set(labels[i]) & set(exact[i])) for i in range(nq)) / (nq * 10)
        return evals_per_q, recall

    e_small, r_small = run(500)
    e_big, r_big = run(2000)
    assert r_small >= 0.95 and r_big >= 0.95, (r_small, r_big)
    # measured: ~1000 evals/q at n=2000 (50%) vs 98% exact-equivalent scans
    # for the r1 IVF mapping; the ratio keeps falling as n grows (saturates
    # at ~ef * 2M evals regardless of corpus size)
    assert e_big <= 0.6 * 2000, e_big
    assert e_big / e_small <= 2.5, (e_small, e_big)  # corpus grew 4x

