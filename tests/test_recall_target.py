"""recall_target — the measured form of the reference's knob guidance.

SURVEY §4 O8: the reference tells users to hand-tune nprobe/efSearch per
use case (README.md:143-150; knob rule vector_search_cluster.py:548-552).
build_index profiles the index's own recall curve on a seeded held-out
sample (sources/recall_curve.py) and search_index/serve_local pick the
knob from it: nprobe from the cell-rank curve (at depth k, or by the
expected-geometry read under a filter), ef from the measured ef ladder.
Under test: sidecar round-trip, monotonicity, target attainment against
exact ground truth, Spark/serve plan parity, the ensure_* backfill, and
the ceil(base/s) fallback when no curve exists.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.operators.ivf import recall_at_k
from webscale_vector_search_spark.operators.knn import knn_pandas
from webscale_vector_search_spark.plans.build import build_index, search_index
from webscale_vector_search_spark.plans.serve_local import serve_local
from webscale_vector_search_spark.sources.attr_stats import plan_nprobe, selectivity
from webscale_vector_search_spark.sources.index_io import open_index
from webscale_vector_search_spark.sources.recall_curve import (
    CURVE_DIRNAME,
    ef_from_curve,
    ensure_recall_curve,
    load_curve_pdf,
    nprobe_from_curve,
)

DIM, NCL, N, NLIST = 16, 20, 8000, 40


def _corpus(spark):
    rng = np.random.default_rng(11)
    centers = rng.normal(0.0, 5.0, (NCL, DIM))
    ids = np.arange(N)
    cl = ids % NCL
    V = (centers[cl] + rng.normal(0.0, 1.0, (N, DIM))).astype("float32")
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "vec_id": ids.astype("int64"),
            "embedding": [v.tolist() for v in V],
            "label": (cl % 4).astype("int32"),
        }
    )
    return spark.createDataFrame(pdf)


@pytest.fixture(scope="module")
def corpus(spark):
    return _corpus(spark).cache()


@pytest.fixture(scope="module")
def ivf_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rt_ivf") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=DIM, nlist=NLIST),
        attr_cols=["label"],
    )
    return out


@pytest.fixture(scope="module")
def queries(spark, corpus):
    rows = corpus.orderBy("vec_id").limit(8).collect()
    return spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    ).cache()


@pytest.fixture(scope="module")
def oracle(spark, corpus, queries):
    return knn_pandas(corpus.select("vec_id", "embedding"), queries, k=10).cache()


def test_curve_sidecar_roundtrip(spark, ivf_dir):
    assert os.path.isdir(os.path.join(ivf_dir, CURVE_DIRNAME))
    h = open_index(spark, ivf_dir)
    pdf = load_curve_pdf(h)
    assert pdf is not None
    assert set(pdf.columns) == {"query_id", "nn_rank", "cell_rank", "cell_id", "scope"}
    assert set(pdf["scope"].unique()) == {"all", "xcell"}
    assert int(pdf[pdf["scope"] == "all"]["nn_rank"].max()) == min(1000, N)
    assert int(pdf["cell_rank"].min()) >= 1
    assert int(pdf["cell_rank"].max()) <= NLIST
    # second load hits the handle cache (same object)
    assert load_curve_pdf(h) is pdf


def test_curve_cell_rank_matches_probe_order(spark, ivf_dir):
    """The curve's cell_rank of each sampled neighbor is the rank the probe
    selector gives that neighbor's cell: DriverProbes at nprobe=cell_rank
    probes the cell for that query, at one fewer it does not."""
    from webscale_vector_search_spark.operators.ivf import DriverProbes
    from webscale_vector_search_spark.sources.recall_curve import (
        _sample_queries,
        load_profile_meta,
    )

    h = open_index(spark, ivf_dir)
    meta = load_profile_meta(ivf_dir)
    q_ids, Q = _sample_queries(h.vectors, meta["nq"], seed=meta["seed"])
    cents = h.centroid_arrays()
    first_probed = {}  # (query row, cell) -> smallest nprobe probing it
    for p in range(len(cents[0]), 0, -1):
        for cid, qsel in DriverProbes(q_ids, Q, cents, p).probe_lists.items():
            for qi in qsel:
                first_probed[int(qi), cid] = p
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    curve = load_curve_pdf(h)[["query_id", "cell_id", "cell_rank"]]
    assert len(curve)
    for qid, cell, rank in curve.itertuples(index=False):
        assert first_probed[qpos[int(qid)], int(cell)] == rank


def test_curve_pick_monotone(spark, ivf_dir):
    """More recall -> never fewer probes."""
    h = open_index(spark, ivf_dir)
    picks = [nprobe_from_curve(h, t, 10) for t in (0.5, 0.9, 0.95, 0.99, 1.0)]
    assert all(p is not None for p in picks)
    assert picks == sorted(picks)


def test_recall_target_attains_target(spark, ivf_dir, queries, oracle):
    h = open_index(spark, ivf_dir)
    res = search_index(spark, h, queries, k=10, recall_target=0.99)
    assert recall_at_k(res, oracle, k=10) >= 0.99
    # and the pick is sub-exhaustive — the knob means something
    assert nprobe_from_curve(h, 0.99, 10) < NLIST


def test_recall_target_spark_serve_parity(spark, ivf_dir, queries):
    h = open_index(spark, ivf_dir)
    got = search_index(spark, h, queries, k=5, recall_target=0.95).collect()
    qrows = queries.collect()
    q = (
        np.array([r["query_id"] for r in qrows], dtype=np.int64),
        np.stack([r["qvec"] for r in qrows]).astype(np.float64),
    )
    local = serve_local(h, q, k=5, recall_target=0.95)
    assert {
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["distance"], 6))
        for r in got
    } == {
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in zip(
            local["query_id"], local["rank"], local["neighbor_id"],
            local["distance"],
        )
    }


def test_filtered_recall_target(spark, ivf_dir, corpus, queries):
    """Under a filter the planned route must still meet the target
    against the FILTERED oracle."""
    h = open_index(spark, ivf_dir)
    f_oracle = knn_pandas(
        corpus.filter("label = 2").select("vec_id", "embedding"), queries, k=10
    )
    res = search_index(
        spark, h, queries, k=10, where="label = 2", recall_target=0.99
    )
    # attainment is statistical (a 64-query build-time profile): allow
    # one-neighbor slack
    assert recall_at_k(res, f_oracle, k=10) >= 0.99 - 0.0126


def test_backfill_and_fallback(spark, corpus, tmp_path_factory):
    """recall_curve=False builds no curve (the filtered probe plan falls
    back to ceil(base/s)); ensure_recall_curve backfills it and the
    expected-geometry read takes over — visible as a different (smaller)
    plan."""
    out = str(tmp_path_factory.mktemp("rt_bf") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=NLIST, recall_curve=False
        ),
        attr_cols=["label"],
    )
    assert not os.path.isdir(os.path.join(out, CURVE_DIRNAME))
    h = open_index(spark, out)
    base = 4
    s = selectivity(h, where="label = 2", spark=spark)
    no_curve = plan_nprobe(h, base, 10, s, where="label = 2", spark=spark)
    assert no_curve == min(NLIST, int(np.ceil(base / s)))
    assert ensure_recall_curve(spark, out)
    h2 = open_index(spark, out)
    with_curve = plan_nprobe(h2, base, 10, s, where="label = 2", spark=spark)
    assert with_curve < no_curve
    # explicit recall_target without a curve: keeps the base default
    assert plan_nprobe(h, base, 10, recall_target=0.99, spark=spark) == base


@pytest.fixture(scope="module")
def hnsw_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("rt_hnsw") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="HNSW", vector_dim=DIM, num_shards=4,
            ivf_max_list_factor=None,
        ),
    )
    return out


def test_hnsw_ef_curve(spark, hnsw_dir, queries, oracle):
    h = open_index(spark, hnsw_dir)
    pdf = load_curve_pdf(h)
    assert pdf is not None and {"ef", "recall", "k"} <= set(pdf.columns)
    # measured recalls are monotone non-decreasing along the ladder
    recs = pdf.sort_values("ef")["recall"].to_list()
    assert recs == sorted(recs)
    ef99 = ef_from_curve(h, 0.99, 10)
    assert ef99 is not None
    # recall_target flows through search: results meet the target vs GT
    res = search_index(spark, h, queries, k=10, recall_target=0.99)
    assert recall_at_k(res, oracle, k=10) >= 0.99 - 1e-9


def test_hnsw_recall_target_parity(spark, hnsw_dir, queries):
    h = open_index(spark, hnsw_dir)
    got = search_index(spark, h, queries, k=5, recall_target=0.95).collect()
    qrows = queries.collect()
    q = (
        np.array([r["query_id"] for r in qrows], dtype=np.int64),
        np.stack([r["qvec"] for r in qrows]).astype(np.float64),
    )
    local = serve_local(h, q, k=5, recall_target=0.95)
    assert {
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["distance"], 6))
        for r in got
    } == {
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in zip(
            local["query_id"], local["rank"], local["neighbor_id"],
            local["distance"],
        )
    }


def test_replay_plans_correlated_deeper(spark, tmp_path_factory):
    """The expected-geometry read separates a cluster-CORRELATED
    predicate (matches confined to few cells, far from most queries) from
    a DISPERSED one of the same selectivity (matches in every cell): the
    correlated plan probes deeper, and both auto searches stay exact on
    this small corpus."""
    import pandas as pd

    from webscale_vector_search_spark.config import default_nprobe

    rng = np.random.default_rng(3)
    ncl, dim, n = 64, 16, 12800
    centers = rng.normal(0.0, 4.0, (ncl, dim))
    ids = np.arange(n)
    cluster = ids % ncl
    V = (centers[cluster] + rng.normal(0.0, 0.5, (n, dim))).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": ids.astype("int64"),
            "embedding": [v.tolist() for v in V],
            # correlated: whole clusters share a label (f = 8/64)
            "label": (cluster % 8).astype("int32"),
            # dispersed: every cluster holds every value (f = 1) — id//64
            # cycles within each cluster (cluster = id % 64)
            "label2": ((ids // 64) % 8).astype("int32"),
        }
    )
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("rt_replay") / "idx")
    h = build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=dim, nlist=ncl),
        attr_cols=["label", "label2"],
    )
    qrows = corpus.orderBy("vec_id").limit(8).collect()
    base = default_nprobe(ncl)
    p_corr, p_disp = (
        plan_nprobe(h, base, 10, selectivity(h, where=w, spark=spark), where=w, spark=spark)
        for w in ("label = 1", "label2 = 1")
    )
    assert p_corr > p_disp
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    )
    for where in ("label = 1", "label2 = 1"):
        oracle = knn_pandas(
            corpus.filter(where).select("vec_id", "embedding"), queries, k=10
        )
        got = search_index(spark, h, queries, k=10, where=where)
        assert recall_at_k(got, oracle, k=10) == 1.0


def test_full_compaction_reprofiles(spark, corpus, tmp_path_factory):
    """FULL compaction re-measures the recall profile over the compacted
    rows (the documented re-profile point); reprofile=False and targeted
    compaction leave it untouched."""
    import glob

    from webscale_vector_search_spark.plans.build import (
        compact_index,
        delete_vectors,
    )

    out = str(tmp_path_factory.mktemp("rt_comp") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=DIM, nlist=8),
        attr_cols=["label"],
    )

    def curve_files():
        return sorted(
            glob.glob(os.path.join(out, CURVE_DIRNAME, "*.parquet"))
        ), max(
            os.path.getmtime(f)
            for f in glob.glob(os.path.join(out, CURVE_DIRNAME, "*.parquet"))
        )

    _, t0 = curve_files()
    delete_vectors(spark, out, corpus.limit(5).select("vec_id"))
    compact_index(spark, out, mode="full", reprofile=False)
    _, t1 = curve_files()
    assert t1 == t0  # opted out: untouched
    delete_vectors(spark, out, corpus.limit(10).select("vec_id"))
    compact_index(spark, out, mode="full")
    _, t2 = curve_files()
    assert t2 > t0  # re-profiled over the compacted rows


def test_profile_meta_roundtrip_and_knob_mismatch(spark, corpus, tmp_path_factory):
    """The profiling knobs are recorded beside the curve; ensure_recall_curve
    no-ops only when the stored profile matches the requested knobs, and
    re-profiles (instead of silently reusing a stale sidecar) otherwise."""
    import glob

    from webscale_vector_search_spark.sources.recall_curve import (
        load_profile_meta,
    )

    out = str(tmp_path_factory.mktemp("rt_meta") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=200,
        ),
        attr_cols=["label"],
    )
    meta = load_profile_meta(out)
    assert meta is not None and meta["nq"] == 16 and meta["kmax"] == 200

    def mtime():
        return max(
            os.path.getmtime(f)
            for f in glob.glob(os.path.join(out, CURVE_DIRNAME, "*.parquet"))
        )

    t0 = mtime()
    # matching knobs (and the no-kwargs form): no re-profile
    assert ensure_recall_curve(spark, out)
    assert ensure_recall_curve(spark, out, nq=16, kmax=200)
    assert mtime() == t0
    # a deeper kmax than the stored profile: must re-measure, not reuse
    assert ensure_recall_curve(spark, out, nq=16, kmax=400)
    assert mtime() > t0
    assert load_profile_meta(out)["kmax"] == 400


def test_compaction_reprofile_keeps_knobs(spark, corpus, tmp_path_factory):
    """FULL compaction's re-profile reproduces the build-time profiling
    configuration instead of reverting to the module defaults."""
    from webscale_vector_search_spark.plans.build import (
        compact_index,
        delete_vectors,
    )
    from webscale_vector_search_spark.sources.recall_curve import (
        load_profile_meta,
    )

    out = str(tmp_path_factory.mktemp("rt_keep") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=200,
        ),
        attr_cols=["label"],
    )
    delete_vectors(spark, out, corpus.limit(5).select("vec_id"))
    compact_index(spark, out, mode="full")
    meta = load_profile_meta(out)
    assert meta is not None and meta["nq"] == 16 and meta["kmax"] == 200


def test_filtered_recall_target_no_curve_keeps_base_floor(
    spark, corpus, tmp_path_factory
):
    """An explicit recall_target on an index with attr stats but NO measured
    curve must never probe LESS than the no-target plan or the default:
    without a curve there is no measured pick to trust below ceil(base/s)."""
    out = str(tmp_path_factory.mktemp("rt_floor") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=NLIST, recall_curve=False
        ),
        attr_cols=["label"],
    )
    h = open_index(spark, out)
    base = 16
    s = selectivity(h, where="label = 2", spark=spark)
    with_target = plan_nprobe(
        h, base, 10, s, where="label = 2", spark=spark, recall_target=0.99
    )
    without = plan_nprobe(h, base, 10, s, where="label = 2", spark=spark)
    assert with_target >= base
    assert with_target >= without


def test_profile_stale_flag(spark, corpus, tmp_path_factory, monkeypatch):
    """VERDICT r11 #6: curve staleness is OBSERVABLE. A failed post-
    compaction re-profile sets `profile_stale` in the sidecar (the
    compaction itself still succeeds — stale-but-present beats failed);
    a later successful measure_recall_curve clears it; the reprofile=False
    opt-out sets it; get_stats surfaces it."""
    from webscale_vector_search_spark.api import VectorCluster
    from webscale_vector_search_spark.plans.build import (
        compact_index,
        delete_vectors,
    )
    from webscale_vector_search_spark.sources import recall_curve as rc
    from webscale_vector_search_spark.sources.index_io import read_metadata

    out = str(tmp_path_factory.mktemp("rt_stale") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=100,
        ),
        attr_cols=["label"],
    )
    assert not read_metadata(out).get("profile_stale", False)  # fresh build

    # FAILED re-profile -> flag set, compaction still reports success
    delete_vectors(spark, out, corpus.limit(5).select("vec_id"))

    def boom(*a, **k):
        raise RuntimeError("profiling executor lost")

    monkeypatch.setattr(rc, "measure_recall_curve", boom)
    report = compact_index(spark, out, mode="full")
    assert report["mode"] == "full"
    assert read_metadata(out)["profile_stale"] is True
    assert VectorCluster(spark, out).get_stats()["profile_stale"] is True
    monkeypatch.undo()

    # a successful re-profile clears it
    assert rc.measure_recall_curve(
        spark, open_index(spark, out), nq=16, kmax=100, k=10, seed=42
    )
    assert not read_metadata(out).get("profile_stale", False)
    assert VectorCluster(spark, out).get_stats()["profile_stale"] is False

    # the reprofile=False opt-out records the lag the caller signed up for
    delete_vectors(spark, out, corpus.limit(10).select("vec_id"))
    compact_index(spark, out, mode="full", reprofile=False)
    assert read_metadata(out)["profile_stale"] is True


def test_hnsw_default_ef_from_curve(spark, hnsw_dir, queries, monkeypatch):
    """VERDICT r11 #4: with NO explicit ef_search and no recall_target, a
    graph index that carries a measured ef curve defaults its beam to the
    DEFAULT_TARGET pick from that curve — the engine's own stance
    (measured artifact over hand-tuning) applied to its own default. The
    reference hardcodes ef=64 (vector_search_cluster.py:552)."""
    import webscale_vector_search_spark.operators.hnsw_partition as hp
    from webscale_vector_search_spark.sources.recall_curve import DEFAULT_TARGET

    h = open_index(spark, hnsw_dir)
    expected = ef_from_curve(h, DEFAULT_TARGET, 10)
    assert expected is not None

    seen = {}
    real = hp.hnsw_stored_search

    def spy(*args, **kwargs):
        seen["ef"] = kwargs.get("ef_search")
        return real(*args, **kwargs)

    monkeypatch.setattr(hp, "hnsw_stored_search", spy)
    search_index(spark, h, queries, k=10).count()
    assert seen["ef"] == expected

    # an explicit beam still overrides the curve default
    search_index(spark, h, queries, k=10, ef_search=37).count()
    assert seen["ef"] == 37

    # serve_local takes the same default (plan parity with the Spark path)
    import webscale_vector_search_spark.plans.serve_local as sl

    seen_local = {}
    real_parts = sl._hnsw_parts

    def spy_parts(handle, q_ids, Q, k, ef_search, **kw):
        seen_local["ef"] = ef_search
        return real_parts(handle, q_ids, Q, k, ef_search, **kw)

    monkeypatch.setattr(sl, "_hnsw_parts", spy_parts)
    qrows = queries.limit(2).collect()
    q = (
        np.array([r["query_id"] for r in qrows], dtype=np.int64),
        np.stack([r["qvec"] for r in qrows]).astype(np.float64),
    )
    serve_local(h, q, k=10)
    assert seen_local["ef"] == expected


def test_hnsw_curveless_keeps_legacy_default(spark, corpus, tmp_path_factory,
                                             monkeypatch):
    """Pinned: an index WITHOUT a measured curve (recall_curve=False, never
    backfilled) keeps the reference's ef=64 default — the curve-driven
    default must not change behavior for legacy artifacts."""
    import webscale_vector_search_spark.operators.hnsw_partition as hp

    out = str(tmp_path_factory.mktemp("rt_hnsw_legacy") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="HNSW", vector_dim=DIM, num_shards=4,
            ivf_max_list_factor=None, recall_curve=False,
        ),
    )
    h = open_index(spark, out)
    assert load_curve_pdf(h) is None

    seen = {}
    real = hp.hnsw_stored_search

    def spy(*args, **kwargs):
        seen["ef"] = kwargs.get("ef_search")
        return real(*args, **kwargs)

    monkeypatch.setattr(hp, "hnsw_stored_search", spy)
    rows = corpus.orderBy("vec_id").limit(3).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in rows],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    )
    search_index(spark, h, queries, k=10).count()
    assert seen["ef"] == 64


def test_expected_replay_covers_parity_correlated_spread(
    spark, tmp_path_factory
):
    """A parity-correlated filter (label = cluster % 2 — half the cells
    hold ZERO matches, so a non-matching-cluster query's filtered top-k
    lives in OTHER clusters) over FAT cells (each matching cell holds
    dozens of matches). A plan that stops at each query's first
    member-nearest matching cell under-serves; the expected-geometry read
    must be active, and the auto plan (a probe: half the rows match) must
    cover the multi-cell spread (exact on this corpus), while a
    re-simulation of the one-cell pick measurably under-serves."""
    import math

    import pandas as pd

    from webscale_vector_search_spark.config import default_nprobe
    from webscale_vector_search_spark.sources.attr_stats import (
        cell_total_rows,
        matched_per_cell,
    )
    from webscale_vector_search_spark.sources.recall_curve import (
        expected_replay_nprobe,
        load_cell_profile_pdf,
    )

    rng = np.random.default_rng(7)
    ncl, dim, per = 32, 16, 400
    n = ncl * per
    # center/noise std 2.0/2.0: clusters OVERLAP, so a non-matching-
    # cluster query's filtered top-10 spreads across several matching
    # cells — the spread the one-cell stop structurally misses
    centers = rng.normal(0.0, 2.0, (ncl, dim))
    ids = np.arange(n)
    cluster = ids % ncl
    V = (centers[cluster] + rng.normal(0.0, 2.0, (n, dim))).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": ids.astype("int64"),
            "embedding": [v.tolist() for v in V],
            "label": (cluster % 2).astype("int32"),
        }
    )
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("geo_replay") / "idx")
    # pin the cells to the TRUE generator centers: assignment (and so the
    # profile, the walk, and every pick below) is then deterministic
    # regardless of session partitioning, unlike sampled kmeans
    cents = spark.createDataFrame(
        [(int(c), [float(x) for x in centers[c]]) for c in range(ncl)],
        "centroid_id INT, cvec ARRAY<FLOAT>",
    )
    h = build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=dim, nlist=ncl),
        attr_cols=["label"], centroids_df=cents,
    )
    mc = matched_per_cell(h, where="label = 1", spark=spark)
    # fat supply: the typical matching cell holds dozens of matches (a
    # couple of boundary rows land in wrong-parity cells — which only adds
    # thin cells, not the failure mode under test)
    assert float(np.median(list(mc.values()))) >= 40
    geo = expected_replay_nprobe(h, 0.99, 10, mc, cell_total_rows(h))
    assert geo is not None  # the primary read answers on this index
    qrows = corpus.filter("label = 0").orderBy("vec_id").limit(8).collect()
    s = selectivity(h, where="label = 1", spark=spark)
    auto = plan_nprobe(h, default_nprobe(ncl), 10, s, where="label = 1", spark=spark)
    assert auto == geo and s * ncl > auto  # the probe route executes it
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    )
    oracle = knn_pandas(
        corpus.filter("label = 1").select("vec_id", "embedding"), queries, k=10
    )
    got = search_index(spark, h, queries, k=10, where="label = 1")
    assert recall_at_k(got, oracle, k=10) == 1.0
    # the one-cell stop, re-simulated from the same profile: first
    # member-nearest matching cell per query, 0.99-quantile, x1.25 margin
    prof = load_cell_profile_pdf(h)
    sub = prof[prof["cell_id"].isin(set(mc))].sort_values("member_rank")
    one = np.sort(sub.groupby("query_id").first()["center_rank"].to_numpy())
    old = int(one[min(len(one) - 1, max(0, math.ceil(0.99 * len(one)) - 1))])
    old_margined = math.ceil(1.25 * old)
    assert auto > old_margined
    g_old = search_index(
        spark, h, queries, k=10, nprobe=old_margined, where="label = 1"
    )
    assert recall_at_k(g_old, oracle, k=10) < 0.99


def test_expected_replay_nprobe_unit():
    """Pure-unit pins for the expected-geometry filtered read (no Spark):
    a dispersed filter reads the containment depth from the measured
    neighbor rows; a filter that zeroes the query's own cell switches to
    the xcell scope; unobservable mass (profile exhausted before k
    expected matches) lands on the member-prefix cells; and missing
    inputs (no totals, no matching cell, no cell_id column) return None
    for the ceil(base/s) fallback."""
    from types import SimpleNamespace

    import pandas as pd

    from webscale_vector_search_spark.sources.recall_curve import (
        expected_replay_nprobe,
    )

    k = 2
    # query 1: own cell (10) matches; 40 'all'-scope neighbors, the first
    # 30 in cell 10 (center rank 1), the rest in cell 20 (center rank 3)
    rows = []
    for r in range(1, 41):
        rows.append(
            {
                "query_id": 1,
                "nn_rank": r,
                "cell_rank": 1 if r <= 30 else 3,
                "cell_id": 10 if r <= 30 else 20,
                "scope": "all",
            }
        )
    curve = pd.DataFrame(rows)
    prof = pd.DataFrame(
        {
            "query_id": [1, 1],
            "cell_id": [10, 20],
            "member_rank": [1, 2],
            "center_rank": [1, 3],
        }
    )
    h = SimpleNamespace(
        index_dir="fake", _sidecars={"recall_curve": curve, "cell_profile": prof}
    )
    totals = {10: 100, 20: 100}
    # fat dispersed match in the own cell: expected k reached within the
    # first cell's neighbors -> probe 1 suffices
    assert expected_replay_nprobe(h, 0.99, k, {10: 100, 20: 100}, totals) == 1
    # own cell zeroed (cluster-correlated filter): mass can only come
    # from cell 20 via the xcell scope — absent here, so ALL mass is the
    # member-prefix deficit on cell 20 -> its center rank
    assert expected_replay_nprobe(h, 0.99, k, {20: 100}, totals) == 3
    # thin match fraction in the own cell (1%): expected matches among 30
    # observed neighbors = 0.3 << k, deficit spreads over the member
    # prefix (cells 10 and 3) -> the deeper prefix rank
    assert expected_replay_nprobe(h, 0.99, k, {10: 1, 20: 1}, totals) == 3
    # unanswerable inputs -> None (fallback path)
    assert expected_replay_nprobe(h, 0.99, k, {10: 100}, None) is None
    assert expected_replay_nprobe(h, 0.99, k, {}, totals) is None
    h_nocell = SimpleNamespace(
        index_dir="fake",
        _sidecars={"recall_curve": curve.drop(columns=["cell_id"]), "cell_profile": prof},
    )
    assert expected_replay_nprobe(h_nocell, 0.99, k, {10: 100}, totals) is None


def test_ef_from_curve_strict_read_unit():
    """The ef pick reads the ladder against the stricter
    1-(1-target)/RECALL_MARGIN (sample-noise headroom, r12): a rung whose
    measured recall sits exactly at the target is NOT picked; the ladder
    ceiling is returned when nothing reaches the strict bar."""
    from types import SimpleNamespace

    import pandas as pd

    from webscale_vector_search_spark.sources.recall_curve import ef_from_curve

    curve = pd.DataFrame(
        {"ef": [16, 32, 64], "recall": [0.90, 0.990, 0.996], "k": [10] * 3}
    )
    h = SimpleNamespace(index_dir="fake", _sidecars={"recall_curve": curve})
    # strict bar for 0.99 is 0.992: the exactly-at-target ef=32 rung is
    # one resample from underneath it -> pick 64
    assert ef_from_curve(h, 0.99, 10) == 64
    assert ef_from_curve(h, 0.95, 10) == 32  # strict 0.96 < 0.990
    # nothing reaches strict(0.999) -> ceiling (the graph's measured limit)
    assert ef_from_curve(h, 0.999, 10) == 64


def test_ensure_recall_curve_remediates_stale(spark, corpus, tmp_path_factory):
    """ensure_recall_curve is the documented remediation for profile_stale:
    with the flag set it RE-measures (under the stored knobs) and clears
    it, instead of no-opping on matching knobs and leaving the flag set
    forever."""
    import glob

    from webscale_vector_search_spark.plans.build import (
        compact_index,
        delete_vectors,
    )
    from webscale_vector_search_spark.sources.index_io import read_metadata
    from webscale_vector_search_spark.sources.recall_curve import (
        load_profile_meta,
    )

    out = str(tmp_path_factory.mktemp("rt_remediate") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=150,
        ),
        attr_cols=["label"],
    )
    delete_vectors(spark, out, corpus.limit(5).select("vec_id"))
    compact_index(spark, out, mode="full", reprofile=False)
    assert read_metadata(out)["profile_stale"] is True

    def mtime():
        return max(
            os.path.getmtime(f)
            for f in glob.glob(os.path.join(out, CURVE_DIRNAME, "*.parquet"))
        )

    t0 = mtime()
    assert ensure_recall_curve(spark, out)  # no kwargs: stored knobs reused
    assert mtime() > t0  # actually re-measured
    assert not read_metadata(out).get("profile_stale", False)
    meta = load_profile_meta(out)
    assert meta["nq"] == 16 and meta["kmax"] == 150  # knobs preserved
    # and now a second call is the normal no-op again
    t1 = mtime()
    assert ensure_recall_curve(spark, out)
    assert mtime() == t1


def test_recall_target_serves_through_stale_profile(spark, corpus,
                                                    tmp_path_factory):
    """A stale curve still PLANS (the flag is observability, not a
    disable switch): after a targeted-class compaction flags the profile,
    recall_target searches keep working and keep meeting the target
    against the live ground truth."""
    from webscale_vector_search_spark.plans.build import (
        compact_index,
        delete_vectors,
    )
    from webscale_vector_search_spark.sources.index_io import read_metadata

    out = str(tmp_path_factory.mktemp("rt_stale_serve") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=100,
        ),
        attr_cols=["label"],
    )
    delete_vectors(spark, out, corpus.limit(20).select("vec_id"))
    compact_index(spark, out, mode="full", reprofile=False)
    assert read_metadata(out)["profile_stale"] is True

    h = open_index(spark, out)
    qrows = corpus.filter("vec_id >= 20").orderBy("vec_id").limit(8).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    )
    live = corpus.filter("vec_id >= 20").select("vec_id", "embedding")
    oracle = knn_pandas(live, queries, k=10)
    got = search_index(spark, h, queries, k=10, recall_target=0.99)
    assert recall_at_k(got, oracle, k=10) >= 0.99 - 1e-9


# ---------------------------------------------------------------------------
# r13: held-out profiling (VERDICT r12 ask #1) + mutation staleness (ask #2)


@pytest.fixture(scope="module")
def uniform_hd_idx(spark, tmp_path_factory):
    """2000 x 192-d UNIFORM vectors — the approximation regime where graph
    navigation is genuinely hard (no cluster structure, distance
    concentration), so the in-corpus self-node advantage is large and
    measurable: the corpus where in-corpus profiling provably overshoots."""
    import pandas as pd

    rng = np.random.default_rng(7)
    V = rng.random((2000, 192)).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(2000, dtype="int64"),
            "embedding": [v.tolist() for v in V],
        }
    )
    corpus = spark.createDataFrame(pdf).cache()
    out = str(tmp_path_factory.mktemp("rt_holdout") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="HNSW", vector_dim=192, num_shards=2,
            recall_curve=False, ivf_max_list_factor=None,
        ),
    )
    return out, V


def _fresh_query_recall(handle, V, rungs, nq=200, k=10, seed=7):
    """Recall of genuinely FRESH queries (same distribution, never stored)
    at each ef rung — the quantity the stored curve claims to predict."""
    rng = np.random.default_rng(seed)
    rng.random(V.shape)  # burn the corpus draw so queries are disjoint
    FQ = rng.random((nq, V.shape[1])).astype("float64")
    q_ids = np.arange(nq, dtype=np.int64)
    Vd = V.astype("float64")
    d = (FQ * FQ).sum(1)[:, None] - 2.0 * (FQ @ Vd.T) + (Vd * Vd).sum(1)[None, :]
    gt = np.argsort(d, axis=1, kind="stable")[:, :k]
    out = {}
    for ef in rungs:
        res = serve_local(handle, (q_ids, FQ), k=k, ef_search=int(ef), as_arrays=True)
        got: dict = {}
        for q, v in zip(res["query_id"], res["neighbor_id"]):
            got.setdefault(int(q), set()).add(int(v))
        hits = sum(len(set(gt[i].tolist()) & got.get(i, set())) for i in range(nq))
        out[int(ef)] = hits / (k * nq)
    return out


def test_holdout_profile_removes_in_corpus_graph_bias(spark, uniform_hd_idx):
    """VERDICT r12 ask #1 pin: on a corpus where graph search is genuinely
    approximate, the IN-CORPUS curve (each sample query is its own nearest
    neighbor, with a stored node whose edges point at its true neighbors)
    reads materially HIGHER than both the held-out curve and fresh-query
    reality — and the held-out curve tracks fresh queries, erring only on
    the conservative side (a banned node can't bridge paths, so held-out
    may UNDERSHOOT — bounded latency cost, never silent recall loss)."""
    from webscale_vector_search_spark.sources import recall_curve as rc

    out, V = uniform_hd_idx
    h = open_index(spark, out)
    rc.measure_recall_curve(spark, h, nq=32, k=10, seed=42, holdout=False)
    h = open_index(spark, out)
    cin = load_curve_pdf(h).set_index("ef")["recall"]
    meta_in = rc.load_profile_meta(out)
    assert meta_in["holdout"] is False and meta_in["holdout_requested"] is False
    pick_in = ef_from_curve(h, 0.9825, 10)

    rc.measure_recall_curve(spark, h, nq=32, k=10, seed=42, holdout=True)
    h = open_index(spark, out)
    cho = load_curve_pdf(h).set_index("ef")["recall"]
    meta_ho = rc.load_profile_meta(out)
    assert meta_ho["holdout"] is True and meta_ho["n_vectors"] == 2000
    pick_ho = ef_from_curve(h, 0.9825, 10)

    # the bias, rung by rung: in-corpus reads higher wherever the graph is
    # genuinely approximate (measured gaps ~0.20/0.13/0.06 at 8/16/32)
    for ef in (8, 16, 32):
        assert cin[ef] >= cho[ef] + 0.03, (ef, cin[ef], cho[ef])

    # fresh queries are the arbiter: in-corpus OVERSHOOTS them materially
    # at the shallow rungs; held-out never overshoots beyond sample noise
    fresh = _fresh_query_recall(h, V, rungs=sorted(cho.index))
    assert max(cin[ef] - fresh[ef] for ef in (8, 16)) > 0.05
    for ef in cho.index:
        assert cho[ef] <= fresh[int(ef)] + 0.03, (ef, cho[ef], fresh[int(ef)])

    # consequence for the planner: at a target between the two curves'
    # ef=64 readings, the in-corpus profile picks the cheaper rung that
    # fresh queries cannot rely on; held-out walks one rung deeper and
    # fresh queries meet the target there
    assert pick_ho > pick_in, (pick_in, pick_ho)
    assert fresh[pick_ho] >= 0.9825


def test_default_ef_floors_in_corpus_curves_only(spark, tmp_path_factory):
    """ADVICE r12 (medium): an IN-CORPUS-profiled curve can optimistically
    read an ef below the legacy 64 as meeting the default target — the
    no-target default must floor it at 64. A HELD-OUT curve making the
    same cheap pick is trusted (its sample has no self-match advantage).
    Explicit recall_target picks stay un-floored in both cases."""
    import pandas as pd

    from webscale_vector_search_spark.sources import recall_curve as rc

    rng = np.random.default_rng(5)
    centers = rng.normal(0.0, 5.0, (10, 16))
    ids = np.arange(800)
    V = (centers[ids % 10] + rng.normal(0.0, 0.05, (800, 16))).astype("float32")
    pdf = pd.DataFrame(
        {"vec_id": ids.astype("int64"), "embedding": [v.tolist() for v in V]}
    )
    corpus = spark.createDataFrame(pdf).cache()
    out = str(tmp_path_factory.mktemp("rt_floor_ef") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="HNSW", vector_dim=16, num_shards=2,
            recall_curve=False, ivf_max_list_factor=None,
        ),
    )
    h = open_index(spark, out)
    rc.measure_recall_curve(spark, h, nq=16, k=10, seed=42, holdout=False)
    h = open_index(spark, out)
    pick = ef_from_curve(h, rc.DEFAULT_TARGET, 10)
    assert pick is not None and pick < 64  # tight clusters: curve saturates low
    assert rc.default_ef(h, 10) == 64  # floored: the curve is in-corpus
    # explicit target keeps the curve pick (the caller named the contract)
    assert ef_from_curve(h, rc.DEFAULT_TARGET, 10) == pick

    rc.measure_recall_curve(spark, h, nq=16, k=10, seed=42, holdout=True)
    h = open_index(spark, out)
    pick_ho = ef_from_curve(h, rc.DEFAULT_TARGET, 10)
    assert pick_ho is not None and pick_ho < 64
    assert rc.default_ef(h, 10) == pick_ho  # trusted: measured held-out


def test_ensure_upgrades_in_corpus_profile_and_merges_stored_knobs(
    spark, corpus, tmp_path_factory
):
    """ensure_recall_curve contract: (a) a curve profiled IN-CORPUS is
    KEPT by a bare ensure (no implicit re-measure inside a timed bench
    window); holdout=True performs the held-out re-profile once, then
    no-ops; an explicit holdout=False keeps the in-corpus protocol;
    (b) on ANY re-profile, knobs the caller did not specify come from the
    STORED profile, never the module defaults (remediating a stale
    kmax=400 profile with nq=16 must not silently shrink kmax to the
    default)."""
    from webscale_vector_search_spark.sources import recall_curve as rc

    out = str(tmp_path_factory.mktemp("rt_upgrade") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=400,
        ),
        attr_cols=["label"],
    )
    h = open_index(spark, out)
    rc.measure_recall_curve(spark, h, nq=16, kmax=400, holdout=False)
    assert rc.load_profile_meta(out)["holdout"] is False

    def mtime():
        import glob

        return max(
            os.path.getmtime(f)
            for f in glob.glob(os.path.join(out, CURVE_DIRNAME, "*.parquet"))
        )

    # (a) bare call KEEPS the legacy in-corpus profile (bounded-run
    # contract: zero re-profiles inside a bench window)
    t_legacy = mtime()
    assert ensure_recall_curve(spark, out)
    assert mtime() == t_legacy
    assert rc.load_profile_meta(out)["holdout"] is False

    assert ensure_recall_curve(spark, out, holdout=True)  # explicit re-profile
    meta = rc.load_profile_meta(out)
    assert meta["holdout"] is True
    assert meta["kmax"] == 400 and meta["nq"] == 16  # stored knobs kept

    t0 = mtime()
    assert ensure_recall_curve(spark, out, holdout=True)  # now a no-op
    assert mtime() == t0
    assert ensure_recall_curve(spark, out)  # bare call: still a no-op
    assert mtime() == t0

    # deliberate in-corpus profile sticks across ensure(holdout=False)
    assert ensure_recall_curve(spark, out, holdout=False)
    assert rc.load_profile_meta(out)["holdout"] is False
    t1 = mtime()
    assert ensure_recall_curve(spark, out, holdout=False)
    assert mtime() == t1

    # (b) partial-kwargs remediation of a STALE profile keeps stored kmax
    rc.set_profile_stale(out, True)
    assert ensure_recall_curve(spark, out, nq=16)
    meta = rc.load_profile_meta(out)
    assert meta["kmax"] == 400 and meta["nq"] == 16
    from webscale_vector_search_spark.sources.index_io import read_metadata

    assert not read_metadata(out).get("profile_stale", False)


def test_append_growth_flags_profile_stale(spark, corpus, tmp_path_factory):
    """VERDICT r12 ask #2: appends growing the corpus past
    PROFILE_GROWTH_FRACTION of the profiled row count flag the curve
    observably stale (the curve is NOT delta-maintainable); small appends
    don't; ensure_recall_curve remediates, clears the flag, and records
    the new baseline."""
    from webscale_vector_search_spark.api import VectorCluster
    from webscale_vector_search_spark.plans.build import append_vectors
    from webscale_vector_search_spark.sources import recall_curve as rc
    from webscale_vector_search_spark.sources.index_io import read_metadata

    base = corpus.filter(F.col("vec_id") < 1000)
    out = str(tmp_path_factory.mktemp("rt_growth") / "idx")
    build_index(
        spark, base, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=100,
        ),
        attr_cols=["label"],
    )
    assert rc.load_profile_meta(out)["n_vectors"] == 1000

    # +5%: under the bar — no flag
    delta1 = corpus.filter((F.col("vec_id") >= 1000) & (F.col("vec_id") < 1050))
    assert append_vectors(spark, out, delta1) == 50
    assert not read_metadata(out).get("profile_stale", False)

    # +8% more (cumulative 13% vs the profiled 1000): flagged
    delta2 = corpus.filter((F.col("vec_id") >= 1050) & (F.col("vec_id") < 1130))
    assert append_vectors(spark, out, delta2) == 80
    assert read_metadata(out)["profile_stale"] is True
    assert VectorCluster(spark, out).get_stats()["profile_stale"] is True

    # remediation re-measures over the grown corpus and rebases
    assert ensure_recall_curve(spark, out)
    assert not read_metadata(out).get("profile_stale", False)
    assert rc.load_profile_meta(out)["n_vectors"] == 1130


def test_upsert_replacements_flag_profile_stale(spark, corpus, tmp_path_factory):
    """Upserts REPLACE rows without moving the live total, so the append
    path's recount can't see them: the sidecar counter accumulates the
    replaced rows across upserts and trips the same growth bar; a fresh
    profile resets the counter."""
    from webscale_vector_search_spark.plans.build import upsert_vectors
    from webscale_vector_search_spark.sources import recall_curve as rc
    from webscale_vector_search_spark.sources.index_io import read_metadata

    base = corpus.filter(F.col("vec_id") < 1000)
    out = str(tmp_path_factory.mktemp("rt_upstale") / "idx")
    build_index(
        spark, base, out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=100,
        ),
        attr_cols=["label"],
    )
    six_pct = base.filter(F.col("vec_id") < 60).withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(0.25))
    )
    assert upsert_vectors(spark, out, six_pct) == 60
    meta = read_metadata(out)
    assert not meta.get("profile_stale", False)
    assert meta["rows_mutated_since_profile"] == 60

    assert upsert_vectors(spark, out, six_pct) == 60  # cumulative 120 > 10%
    assert read_metadata(out)["profile_stale"] is True

    assert ensure_recall_curve(spark, out)  # remediation resets the counter
    meta = read_metadata(out)
    assert not meta.get("profile_stale", False)
    assert "rows_mutated_since_profile" not in meta


def test_pure_merge_compaction_keeps_profile_fresh(
    spark, corpus, tmp_path_factory
):
    """ADVICE r12: a full compaction with reprofile=False and NO tombstones
    (pure small-file merge — the vector SET is byte-identical, and the
    curve is layout-independent) must NOT flag the profile stale."""
    from webscale_vector_search_spark.plans.build import (
        compact_index,
        delete_vectors,
    )
    from webscale_vector_search_spark.sources.index_io import read_metadata

    out = str(tmp_path_factory.mktemp("rt_puremerge") / "idx")
    build_index(
        spark, corpus.filter(F.col("vec_id") < 2000), out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=16, recall_curve_kmax=100,
        ),
        attr_cols=["label"],
    )
    compact_index(spark, out, mode="full", reprofile=False)
    assert not read_metadata(out).get("profile_stale", False)

    # with tombstones the same opt-out DOES flag (deletes materialized)
    delete_vectors(spark, out, corpus.filter(F.col("vec_id") < 5).select("vec_id"))
    compact_index(spark, out, mode="full", reprofile=False)
    assert read_metadata(out)["profile_stale"] is True


def test_set_profile_stale_logs_unwritable_sidecar(
    spark, corpus, tmp_path_factory, caplog, monkeypatch
):
    """VERDICT r12 #6: the best-effort contract stands (no raise), but a
    sidecar that can't record the flag is LOGGED — a permissions
    regression must be findable. (Simulated via monkeypatch: the test
    runs as root, where a chmod'd read-only dir is still writable.)"""
    import logging

    from webscale_vector_search_spark.sources import index_io
    from webscale_vector_search_spark.sources import recall_curve as rc
    from webscale_vector_search_spark.sources.index_io import read_metadata

    out = str(tmp_path_factory.mktemp("rt_log") / "idx")
    build_index(
        spark, corpus.filter(F.col("vec_id") < 500), out,
        EngineConfig(
            index_type="IVF", vector_dim=DIM, nlist=8,
            recall_curve_queries=8, recall_curve_kmax=50,
        ),
    )

    def denied(*a, **k):
        raise PermissionError(13, "Permission denied")

    monkeypatch.setattr(index_io, "write_metadata", denied)
    with caplog.at_level(
        logging.WARNING,
        logger="webscale_vector_search_spark.sources.recall_curve",
    ):
        rc.set_profile_stale(out, True)  # must not raise
    assert any("unwritable" in m for m in caplog.messages)
    monkeypatch.undo()
    assert not read_metadata(out).get("profile_stale", False)

    # unreadable sidecar: same contract, the read side of the log line
    monkeypatch.setattr(index_io, "read_metadata", denied)
    caplog.clear()
    with caplog.at_level(
        logging.WARNING,
        logger="webscale_vector_search_spark.sources.recall_curve",
    ):
        rc.set_profile_stale(out, True)
    assert any("unreadable" in m for m in caplog.messages)
