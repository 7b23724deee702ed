"""Filtered ANN (r9): search-time predicates over build-time attribute
columns, across all four index types.

Semantics under test:
- FLAT + where == exact brute-force over the pre-filtered corpus (equality).
- IVF + where at nprobe=nlist == the same exact filtered oracle (probing
  every list makes the probed scan the whole corpus, so the filter is the
  only difference — equality, not recall).
- IVF/IVFPQ + where at small nprobe: recall against the filtered oracle.
- HNSW + where: post-filter with oversampling; recall-bounded.
- allowed_ids: the FAISS IDSelector analog (reference has no per-id filter
  API at all — vector_search_cluster.py:761-764's QueryRequest carries only
  vector/k/all_shards; this is a §2.9 extension).
- Plan shape: the attr predicate must reach the probed scan's parquet
  PushedFilters (no join, no post-pass) — asserted on the IVF plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.operators.ivf import recall_at_k
from webscale_vector_search_spark.operators.knn import knn_pandas
from webscale_vector_search_spark.plans.build import build_index, search_index
from webscale_vector_search_spark.sources.fixtures import load_table, queries_from_embeddings
from webscale_vector_search_spark.sources.index_io import read_metadata

NLIST = 16
WHERE = "label = 3"


@pytest.fixture(scope="module")
def corpus(spark):
    """Embeddings with two attribute columns: label (7-way, the filter
    target) and bucket (unused by filters — proves multi-attr storage)."""
    emb = load_table(spark, "embeddings", SF_ORACLE)
    return (
        emb.withColumn("label", (F.col("vec_id") % 7).cast("int"))
        .withColumn("bucket", (F.col("vec_id") % 100).cast("int"))
        .cache()
    )


@pytest.fixture(scope="module")
def queries(spark):
    return queries_from_embeddings(spark, SF_ORACLE, 12).cache()


@pytest.fixture(scope="module")
def filtered_oracle(corpus, queries):
    """Exact top-10 over only the label=3 rows — ground truth for every arm."""
    return knn_pandas(corpus.filter(WHERE), queries, k=10).cache()


@pytest.fixture(scope="module")
def idx_root(tmp_path_factory):
    return tmp_path_factory.mktemp("filtered_idx")


@pytest.fixture(scope="module")
def flat_dir(spark, corpus, idx_root):
    out = str(idx_root / "flat")
    build_index(spark, corpus, out, EngineConfig(index_type="FLAT"),
                attr_cols=["label", "bucket"])
    return out


@pytest.fixture(scope="module")
def ivf_dir(spark, corpus, idx_root):
    out = str(idx_root / "ivf")
    build_index(spark, corpus, out,
                EngineConfig(index_type="IVF", nlist=NLIST),
                attr_cols=["label", "bucket"])
    return out


@pytest.fixture(scope="module")
def ivfpq_dir(spark, corpus, idx_root):
    out = str(idx_root / "ivfpq")
    build_index(spark, corpus, out,
                EngineConfig(index_type="IVFPQ", nlist=NLIST, pq_m=16),
                attr_cols=["label"])
    return out


@pytest.fixture(scope="module")
def hnsw_dir(spark, corpus, idx_root):
    out = str(idx_root / "hnsw")
    build_index(spark, corpus, out,
                EngineConfig(index_type="HNSW", num_shards=4),
                attr_cols=["label"])
    return out


def _rows(df):
    return {
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["distance"], 6))
        for r in df.collect()
    }


def test_metadata_records_attrs(spark, flat_dir, ivf_dir, hnsw_dir):
    assert read_metadata(flat_dir)["attr_cols"] == ["label", "bucket"]
    assert read_metadata(ivf_dir)["attr_cols"] == ["label", "bucket"]
    assert read_metadata(hnsw_dir)["attr_cols"] == ["label"]


def test_attrs_stored_in_rows(spark, ivf_dir):
    """IVF index rows carry the attr columns (scan-side filtering, no join)."""
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, ivf_dir)
    assert "label" in h.vectors.columns and "bucket" in h.vectors.columns
    assert h.attrs is None  # in-row, no sidecar


def test_hnsw_attrs_sidecar(spark, hnsw_dir, corpus):
    """HNSW graph rows have a fixed schema; attrs live in the sidecar."""
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, hnsw_dir)
    assert "label" not in h.vectors.columns
    assert h.attrs is not None
    assert h.attrs.count() == corpus.count()
    assert set(h.attrs.columns) == {"vec_id", "label"}


def test_flat_filtered_exact(spark, flat_dir, queries, filtered_oracle):
    res = search_index(spark, flat_dir, queries, k=10, where=WHERE)
    assert _rows(res) == _rows(filtered_oracle)


def test_ivf_filtered_full_probe_exact(spark, ivf_dir, queries, filtered_oracle):
    """nprobe=nlist probes everything -> filtered IVF must equal the
    filtered exact oracle bit-for-bit (same kernel, same tie order)."""
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=NLIST, where=WHERE)
    assert _rows(res) == _rows(filtered_oracle)


def test_ivf_filtered_recall(spark, ivf_dir, queries, filtered_oracle):
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=8, where=WHERE)
    assert recall_at_k(res, filtered_oracle, k=10) >= 0.9


def test_ivf_filtered_sql_kernel_parity(spark, ivf_dir, queries):
    """SQL and pandas kernels agree under a filter (same total order)."""
    a = search_index(spark, ivf_dir, queries, k=10, nprobe=8, where=WHERE)
    b = search_index(spark, ivf_dir, queries, k=10, nprobe=8, where=WHERE,
                     kernel="sql")
    assert _rows(a) == _rows(b)


def test_ivfpq_filtered_recall(spark, ivfpq_dir, queries, filtered_oracle):
    """Refined filtered ADC: candidates come from the filtered code scan,
    refine re-ranks them exactly -> high recall vs the filtered oracle."""
    res = search_index(spark, ivfpq_dir, queries, k=10, nprobe=NLIST, where=WHERE)
    assert recall_at_k(res, filtered_oracle, k=10) >= 0.9


def test_hnsw_filtered_recall(spark, hnsw_dir, queries, filtered_oracle):
    res = search_index(spark, hnsw_dir, queries, k=10, where=WHERE,
                       filter_oversample=8, ef_search=64)
    assert recall_at_k(res, filtered_oracle, k=10) >= 0.85


def test_hnsw_filtered_results_obey_filter(spark, hnsw_dir, queries, corpus):
    res = search_index(spark, hnsw_dir, queries, k=10, where=WHERE,
                       filter_oversample=8)
    bad = (
        res.join(corpus.select("vec_id", "label"),
                 res.neighbor_id == F.col("vec_id"))
        .filter("label != 3")
        .count()
    )
    assert bad == 0


def test_allowed_ids_flat(spark, flat_dir, corpus, queries):
    """IDSelector analog: restrict to an explicit id set; equals the exact
    search over exactly those rows."""
    ids = corpus.select("vec_id").filter("vec_id % 11 = 0")
    oracle = knn_pandas(corpus.join(ids, "vec_id", "left_semi"), queries, k=10)
    res = search_index(spark, flat_dir, queries, k=10, allowed_ids=ids)
    assert _rows(res) == _rows(oracle)


def test_allowed_ids_ivf(spark, ivf_dir, corpus, queries):
    ids = corpus.select("vec_id").filter("vec_id % 11 = 0")
    oracle = knn_pandas(corpus.join(ids, "vec_id", "left_semi"), queries, k=10)
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=NLIST, allowed_ids=ids)
    assert _rows(res) == _rows(oracle)


def test_combined_where_and_allowed_ids(spark, ivf_dir, corpus, queries):
    ids = corpus.select("vec_id").filter("vec_id % 2 = 0")
    oracle = knn_pandas(
        corpus.filter(WHERE).join(ids, "vec_id", "left_semi"), queries, k=10
    )
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=NLIST,
                       where=WHERE, allowed_ids=ids)
    assert _rows(res) == _rows(oracle)


def test_empty_filter_returns_no_rows(spark, ivf_dir, queries):
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=NLIST,
                       where="label = 99")
    assert res.count() == 0


def test_empty_allowlist_returns_no_rows(spark, ivf_dir, queries):
    """An empty allowlist means no candidates — both paths, no crash."""
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    res = search_index(spark, ivf_dir, queries, k=10, nprobe=4,
                       allowed_ids=[])
    assert res.count() == 0
    h = open_index(spark, ivf_dir)
    pdf = serve_local(h, queries, k=10, nprobe=4, allowed_ids=[])
    assert len(pdf) == 0


def test_allowed_ids_plain_sequence_spark_path(spark, ivf_dir, corpus, queries):
    """search_index coerces plain id sequences (serve_local's form), so a
    routed call is valid on both sides of the batch-size split."""
    ids = [r["vec_id"] for r in
           corpus.select("vec_id").filter("vec_id % 11 = 0").collect()]
    oracle = knn_pandas(
        corpus.filter(F.col("vec_id").isin(ids)), queries, k=10
    )
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=NLIST,
                       allowed_ids=ids)
    assert _rows(res) == _rows(oracle)


def test_attr_cols_validation(spark, corpus, idx_root):
    with pytest.raises(ValueError, match="collide"):
        build_index(spark, corpus, str(idx_root / "bad1"),
                    EngineConfig(index_type="FLAT"), attr_cols=["centroid_id"])
    with pytest.raises(ValueError, match="not in corpus"):
        build_index(spark, corpus, str(idx_root / "bad2"),
                    EngineConfig(index_type="FLAT"), attr_cols=["nope"])


def _canon_pdf(pdf):
    import pandas as pd

    cols = ["query_id", "rank", "neighbor_id", "distance"]
    return (
        pdf[cols]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
        .astype({"query_id": "int64", "rank": "int32",
                 "neighbor_id": "int64", "distance": "float64"})
    )


def _assert_serve_identical(spark_df, local_pdf):
    import pandas as pd

    pd.testing.assert_frame_equal(
        _canon_pdf(spark_df.toPandas()), _canon_pdf(local_pdf), check_exact=True
    )


WHERE_FN = staticmethod(lambda a: a["label"] == 3)


def test_serve_ivf_filtered_bit_identical(spark, ivf_dir, queries):
    """Driver-side filtered serving must equal the Spark path exactly —
    same probes, same mask, same tie order."""
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, ivf_dir)
    want = search_index(spark, h, queries, k=10, nprobe=8, where=WHERE)
    got = serve_local(h, queries, k=10, nprobe=8, where=lambda a: a["label"] == 3)
    _assert_serve_identical(want, got)


def test_serve_flat_filtered_bit_identical(spark, flat_dir, queries):
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, flat_dir)
    want = search_index(spark, h, queries, k=10, where=WHERE)
    got = serve_local(h, queries, k=10, where=lambda a: a["label"] == 3)
    _assert_serve_identical(want, got)


def test_serve_ivfpq_filtered_bit_identical(spark, ivfpq_dir, queries):
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, ivfpq_dir)
    want = search_index(spark, h, queries, k=10, nprobe=NLIST, where=WHERE)
    got = serve_local(h, queries, k=10, nprobe=NLIST,
                      where=lambda a: a["label"] == 3)
    _assert_serve_identical(want, got)


def test_serve_hnsw_filtered_bit_identical(spark, hnsw_dir, queries):
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, hnsw_dir)
    want = search_index(spark, h, queries, k=10, where=WHERE,
                        filter_oversample=8, ef_search=64)
    got = serve_local(h, queries, k=10, where=lambda a: a["label"] == 3,
                      filter_oversample=8, ef_search=64)
    _assert_serve_identical(want, got)


def test_serve_allowed_ids_bit_identical(spark, ivf_dir, corpus, queries):
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    ids_df = corpus.select("vec_id").filter("vec_id % 11 = 0")
    ids_np = [r["vec_id"] for r in ids_df.collect()]
    h = open_index(spark, ivf_dir)
    want = search_index(spark, h, queries, k=10, nprobe=8, allowed_ids=ids_df)
    got = serve_local(h, queries, k=10, nprobe=8, allowed_ids=ids_np)
    _assert_serve_identical(want, got)


def test_serve_rejects_sql_string_where(spark, ivf_dir, queries):
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, ivf_dir)
    with pytest.raises(TypeError, match="callable"):
        serve_local(h, queries, k=10, where="label = 3")


def test_routed_sql_where_demotes_to_spark(spark, ivf_dir, queries):
    """A SQL-string filter on a small batch routes to the Spark path (the
    driver path has no SQL parser) and still returns the right rows."""
    from webscale_vector_search_spark.plans.serve_local import search_routed
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, ivf_dir)
    want = search_index(spark, h, queries, k=10, nprobe=8, where=WHERE)
    got = search_routed(spark, h, queries, k=10, nprobe=8, where=WHERE)
    assert _rows(got) == _rows(want)


def test_filter_reaches_pushed_filters(spark, ivf_dir, queries):
    """The attr predicate must land in the probed scan's parquet
    PushedFilters — scan-side filtering is the entire 100 TB argument
    (a join or post-filter here silently changes the cost class)."""
    res = search_index(spark, ivf_dir, queries, k=10, nprobe=4, where="label = 3")
    plan = res._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        l for l in plan.splitlines() if "FileScan" in l and "vectors" in l
    ]
    assert scan_lines, "no FileScan over the index vectors directory in plan"
    line = scan_lines[0]
    assert "PushedFilters" in line
    pushed = line.split("PushedFilters:")[1]
    assert "label" in pushed and "EqualTo" in pushed or "label" in pushed


# ---------------------------------------------------------------------------
# selective-filter fallback (r10): past the oversample cap the post-filter
# beam cannot produce k survivors — the planner must route graph searches
# to the exact filtered scan instead of silently losing recall


@pytest.fixture(scope="module")
def hnsw_rare_dir(spark, corpus, idx_root):
    out = str(idx_root / "hnsw_rare")
    build_index(spark, corpus, out,
                EngineConfig(index_type="HNSW", num_shards=4),
                attr_cols=["bucket"])
    return out


def test_hnsw_selective_filter_falls_back_exact(spark, hnsw_rare_dir, corpus,
                                                queries):
    """bucket = 7 matches ~1% of rows (s < 1/OVERSAMPLE_CAP): the auto
    path must return the EXACT filtered answer, equal to brute force over
    the matching rows — a beam at the widest oversample measurably
    cannot."""
    from webscale_vector_search_spark.sources.attr_stats import (
        OVERSAMPLE_CAP,
        graph_filter_fallback,
        selectivity,
    )
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, hnsw_rare_dir)
    s = selectivity(h, where="bucket = 7", spark=spark)
    assert s is not None and s * OVERSAMPLE_CAP < 1.0
    assert graph_filter_fallback(s)

    oracle = knn_pandas(corpus.filter("bucket = 7"), queries, k=3)
    got = search_index(spark, h, queries, k=3, where="bucket = 7")
    assert _rows(got) == _rows(oracle)


def test_hnsw_selective_fallback_serve_parity(spark, hnsw_rare_dir, queries):
    import numpy as np

    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, hnsw_rare_dir)
    want = search_index(spark, h, queries, k=3, where="bucket = 7")
    qrows = queries.collect()
    q = (
        np.array([r["query_id"] for r in qrows], dtype=np.int64),
        np.stack([r["qvec"] for r in qrows]).astype(np.float64),
    )
    local = serve_local(h, q, k=3, where=lambda a: a["bucket"] == 7)
    local_rows = {
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in zip(
            local["query_id"], local["rank"], local["neighbor_id"],
            local["distance"],
        )
    }
    assert local_rows == _rows(want)


def test_hnsw_tiny_allowlist_falls_back_exact(spark, hnsw_dir, corpus,
                                              queries):
    """A 10-id allowlist on a graph index (s_allow ~ 0.02) takes the same
    exact route — and an explicit filter_oversample stays an override
    (the beam runs as asked, results merely stay inside the allowlist)."""
    import numpy as np

    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    allowed = [int(r["vec_id"]) for r in corpus.limit(10).collect()]
    h = open_index(spark, hnsw_dir)
    oracle = knn_pandas(
        corpus.filter(F.col("vec_id").isin(allowed)), queries, k=3
    )
    got = search_index(spark, h, queries, k=3, allowed_ids=allowed)
    assert _rows(got) == _rows(oracle)

    qrows = queries.collect()
    q = (
        np.array([r["query_id"] for r in qrows], dtype=np.int64),
        np.stack([r["qvec"] for r in qrows]).astype(np.float64),
    )
    local = serve_local(h, q, k=3, allowed_ids=allowed)
    local_rows = {
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in zip(
            local["query_id"], local["rank"], local["neighbor_id"],
            local["distance"],
        )
    }
    assert local_rows == _rows(got)

    # explicit knob: no fallback, beam semantics honored (valid rows only)
    explicit = search_index(spark, h, queries, k=3, allowed_ids=allowed,
                            filter_oversample=8)
    got_ids = {r["neighbor_id"] for r in explicit.collect()}
    assert got_ids <= set(allowed)


def test_ivfpq_auto_filtered_plan_and_recall(spark, ivfpq_dir, queries,
                                             filtered_oracle):
    """The cost rule applies to IVFPQ too: label = 3 (s ~ 1/7) holds fewer
    rows than the filtered probe plan would scan, so nprobe=None plans
    the exact scan of the matching rows and matches the filtered oracle."""
    from webscale_vector_search_spark.plans.planner import SearchPlan, plan_search
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, ivfpq_dir)
    assert plan_search(h, 10, where=WHERE, spark=spark) == SearchPlan("exact_filtered")
    auto = search_index(spark, h, queries, k=10, where=WHERE)
    assert _rows(auto) == _rows(filtered_oracle)
    fixed_full = search_index(spark, h, queries, k=10, nprobe=NLIST, where=WHERE)
    r_full = recall_at_k(fixed_full, filtered_oracle, k=10)
    assert recall_at_k(auto, filtered_oracle, k=10) >= r_full - 1e-9


def test_hnsw_correlated_filter_falls_back_exact(spark, tmp_path_factory):
    """The r10 bench measured beam recall ~= f for a spatially-concentrated
    filter (f=0.11 -> recall 0.0998): most queries' neighborhoods hold ZERO
    valid candidates, so no oversample recovers. The stats-quantizer
    pseudo-cells must DETECT the concentration (f < 0.5) and route the auto
    path to the exact filtered scan — recall 1.0 — on both paths."""
    import numpy as np
    import pandas as pd

    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.attr_stats import (
        cell_coverage,
        graph_filter_fallback,
        selectivity,
    )
    from webscale_vector_search_spark.sources.index_io import open_index

    rng = np.random.default_rng(5)
    ncl, dim, n = 16, 16, 6000
    centers = rng.normal(0.0, 4.0, (ncl, dim))
    ids = np.arange(n)
    cluster = ids % ncl
    vecs = centers[cluster] + rng.normal(0.0, 0.1, (n, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [v.astype("float32").tolist() for v in vecs],
            "label": (cluster % 4).astype("int32"),  # label lives in 4/16 clusters
        }
    )
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("hnsw_corr") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="HNSW", num_shards=4, vector_dim=dim),
        attr_cols=["label"],
    )
    h = open_index(spark, out)
    s = selectivity(h, where="label = 1", spark=spark)
    f = cell_coverage(h, "label = 1", spark=spark)
    assert s is not None and s > 1 / 32  # the selectivity rule alone keeps the beam
    assert f is not None and f < 0.5  # ...but the pseudo-cells see the concentration
    assert graph_filter_fallback(s, f)
    # callable form computes the same f (plan parity)
    assert cell_coverage(h, lambda a: a["label"] == 1) == f

    q_pdf = pdf.iloc[:16][["vec_id", "embedding"]].rename(
        columns={"vec_id": "query_id", "embedding": "qvec"}
    )
    queries = spark.createDataFrame(q_pdf)
    oracle = knn_pandas(
        corpus.filter("label = 1").select("vec_id", "embedding"), queries, k=10
    )
    got = search_index(spark, h, queries, k=10, where="label = 1")
    assert _rows(got) == _rows(oracle)

    q = (
        q_pdf["query_id"].to_numpy().astype("int64"),
        np.stack(q_pdf["qvec"].to_list()).astype("float64"),
    )
    local = serve_local(h, q, k=10, where=lambda a: a["label"] == 1)
    local_rows = {
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in zip(
            local["query_id"], local["rank"], local["neighbor_id"],
            local["distance"],
        )
    }
    assert local_rows == _rows(got)


def _capture_plans(monkeypatch) -> list:
    """Record every SearchPlan either search path computes."""
    from webscale_vector_search_spark.plans import planner

    seen = []
    real = planner.plan_search

    def spy(*args, **kwargs):
        seen.append(real(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(planner, "plan_search", spy)
    return seen


def _query_pair(queries):
    import numpy as np

    rows = queries.collect()
    return (
        np.array([r["query_id"] for r in rows], dtype=np.int64),
        np.stack([r["qvec"] for r in rows]).astype(np.float64),
    )


@pytest.mark.parametrize("itype", ["ivf", "ivfpq", "hnsw"])
def test_plan_parity_spark_vs_serve(spark, request, corpus, queries, itype,
                                    tmp_path, monkeypatch):
    """search_index and serve_local compute the SAME SearchPlan for the
    same request and return the same rows: unfiltered, a where, a
    selective allowlist, both, a recall_target, a mild where, and each
    again with pending tombstones. Comparing result rows alone can miss a
    plan split (at full probe different nprobes return the same rows).
    On a list index the selective filters plan the exact scan of the
    matching rows (recall 1.0) and the mild one still probes."""
    import shutil

    from webscale_vector_search_spark.plans.build import delete_vectors
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    out = str(tmp_path / "idx")  # a private copy: deletes land on it
    shutil.copytree(request.getfixturevalue(f"{itype}_dir"), out)
    h = open_index(spark, out)
    q = _query_pair(queries)
    allowed = [int(r["vec_id"]) for r in corpus.filter("vec_id % 25 = 0").collect()]
    label3 = [int(r["vec_id"]) for r in corpus.filter(WHERE).collect()]
    dead = allowed[:5] + label3[:5]  # pending deletes the filters would keep
    cases = [
        ({}, {}),
        ({"where": WHERE}, {"where": lambda a: a["label"] == 3}),
        ({"allowed_ids": allowed}, {"allowed_ids": allowed}),
        (
            {"where": WHERE, "allowed_ids": allowed},
            {"where": lambda a: a["label"] == 3, "allowed_ids": allowed},
        ),
        ({"recall_target": 0.95}, {"recall_target": 0.95}),
        ({"where": "label != 3"}, {"where": lambda a: a["label"] != 3}),
    ]
    seen = _capture_plans(monkeypatch)
    plans = {}
    for pending in (False, True):
        if pending:
            delete_vectors(spark, out, dead)
        live = corpus.filter(~F.col("vec_id").isin(dead)) if pending else corpus
        for i, (spark_kw, local_kw) in enumerate(cases):
            got = search_index(spark, h, queries, k=10, **spark_kw)
            local = serve_local(h, q, k=10, **local_kw)
            assert len(seen) == 2 and seen[0] == seen[1], (pending, spark_kw, seen)
            plans[pending, i] = seen.pop()
            seen.clear()
            _assert_serve_identical(got, local)
            if plans[pending, i].route == "exact_filtered":
                kept = live.filter(spark_kw.get("where", "true"))
                if "allowed_ids" in spark_kw:
                    kept = kept.filter(F.col("vec_id").isin(allowed))
                # the exact scan of the kept rows: recall 1.0, to the bit
                assert _rows(got) == _rows(knn_pandas(kept, queries, k=10))
    if itype == "hnsw":
        # pending deletes widen the unfiltered beam on both paths
        assert not plans[False, 0].widen and plans[True, 0].widen
        assert plans[True, 0].k_search == 2 * plans[False, 0].k_search
    else:
        for pending in (False, True):
            assert [plans[pending, i].route for i in range(len(cases))] == [
                "probe", "exact_filtered", "exact_filtered", "exact_filtered",
                "probe", "probe",
            ], pending


@pytest.mark.parametrize("itype", ["ivf", "ivfpq"])
def test_serve_exact_filtered_bit_identical(spark, request, corpus, queries,
                                            filtered_oracle, itype, tmp_path,
                                            monkeypatch):
    """A selective where and a selective allowlist on a list index take
    the exact route on both paths, with and without pending tombstones:
    serve_local gathers the matching rows from its cached lists and must
    equal the Spark path's scan of them to the bit, at recall 1.0."""
    import shutil

    from webscale_vector_search_spark.plans.build import delete_vectors
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    out = str(tmp_path / "idx")
    shutil.copytree(request.getfixturevalue(f"{itype}_dir"), out)
    h = open_index(spark, out)
    q = _query_pair(queries)
    allowed = [int(r["vec_id"]) for r in corpus.filter("vec_id % 40 = 1").collect()]
    allowed_oracle = knn_pandas(corpus.filter(F.col("vec_id").isin(allowed)), queries, k=10)
    seen = _capture_plans(monkeypatch)
    cases = [
        ({"where": WHERE}, {"where": lambda a: a["label"] == 3}, filtered_oracle),
        ({"allowed_ids": allowed}, {"allowed_ids": allowed}, allowed_oracle),
    ]
    for spark_kw, local_kw, oracle in cases:
        want = search_index(spark, h, queries, k=10, **spark_kw)
        _assert_serve_identical(want, serve_local(h, q, k=10, **local_kw))
        assert recall_at_k(want, oracle, k=10) == 1.0
    # pending deletes of rows the filters keep: both paths drop them
    dead = [int(r["neighbor_id"]) for r in filtered_oracle.filter("rank = 1").collect()]
    delete_vectors(spark, out, dead + allowed[:5])
    for spark_kw, local_kw, _ in cases:
        want = search_index(spark, h, queries, k=10, **spark_kw)
        _assert_serve_identical(want, serve_local(h, q, k=10, **local_kw))
        got_ids = {r["neighbor_id"] for r in want.collect()}
        assert not got_ids & set(dead + allowed[:5])
    assert {p.route for p in seen} == {"exact_filtered"} and len(seen) == 8


def test_hnsw_fallback_plan_parity(spark, hnsw_rare_dir, queries, monkeypatch):
    """The selective-filter escape is one planner decision: both paths
    route bucket = 7 (s ~ 0.01) to the exact filtered scan."""
    from webscale_vector_search_spark.plans.planner import SearchPlan
    from webscale_vector_search_spark.plans.serve_local import serve_local
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, hnsw_rare_dir)
    seen = _capture_plans(monkeypatch)
    search_index(spark, h, queries, k=3, where="bucket = 7")
    serve_local(h, _query_pair(queries), k=3, where=lambda a: a["bucket"] == 7)
    assert seen == [SearchPlan("exact_filtered")] * 2


def _search_jobs(spark, group: str, **search_kw) -> int:
    """Spark jobs one search_index(...).collect() runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        search_index(spark, **search_kw).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("itype, budget", [("ivf", 3), ("ivfpq", 6)])
def test_filtered_search_job_budget(spark, request, queries, itype, budget,
                                    monkeypatch):
    """A filtered search (pandas kernel) runs no more Spark jobs than an
    unfiltered one, on a fresh handle and again on the warm one: a SQL
    predicate is evaluated on the driver-local stats rows
    (attr_stats.where_mask), which Spark answers without a job, and the
    selective label = 3 plans the exact scan of its matching rows, one
    pass over the lists. The same filtered searches ran 8 then 4 jobs (IVF)
    and 11 then 7 (IVFPQ) when the plan collected the batch a second time
    and aggregated the stats tables in Spark jobs."""
    from webscale_vector_search_spark.sources.index_io import open_index

    h = open_index(spark, request.getfixturevalue(f"{itype}_dir"))
    seen = _capture_plans(monkeypatch)
    kw = dict(index_dir=h, queries=queries, k=10)
    for filt in (None, WHERE):
        for call in ("fresh", "warm"):
            n = _search_jobs(spark, f"budget-{itype}-{filt}-{call}", where=filt, **kw)
            assert n <= budget, f"{itype} where={filt!r} {call}: {n} Spark jobs"
    assert [p.route for p in seen] == ["probe"] * 2 + ["exact_filtered"] * 2


def test_plain_sequence_allowlist_sized_without_a_job(spark, ivf_dir, corpus,
                                                       queries):
    """A plain-sequence allowlist is already on the driver, so search_index
    sizes it with np.unique: three identical calls each run the jobs of
    the same allowlist passed as a DataFrame on a warm handle, whose size
    is cached. Sizing the sequence as a fresh DataFrame ran 6, 6, 6 jobs
    where the DataFrame ran 6, 4, 4."""
    from webscale_vector_search_spark.sources.index_io import open_index

    allowed = [int(r["vec_id"]) for r in corpus.filter("vec_id % 50 = 0").collect()]
    allowed_df = spark.createDataFrame([(x,) for x in allowed], "vec_id BIGINT")
    h = open_index(spark, ivf_dir)
    kw = dict(index_dir=h, queries=queries, k=10)
    as_df = [_search_jobs(spark, f"allow-df-{i}", allowed_ids=allowed_df, **kw)
             for i in range(3)]
    as_seq = [_search_jobs(spark, f"allow-seq-{i}", allowed_ids=allowed, **kw)
              for i in range(3)]
    assert as_seq == [as_df[-1]] * 3, (as_df, as_seq)
