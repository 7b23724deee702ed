"""Selectivity-aware filtered search.

A filter of selectivity s thins every probed list to ~s of its
candidates, so fixed-nprobe filtered IVF loses recall. The planner closes
it: build_index(attr_cols=...) writes an attr_stats/ per-combo count table
plus (IVF/IVFPQ) an attr_cell_stats/ per-(cell, combo) table, and search
with nprobe=None routes by cost — the exact scan of the matching rows
when they are no more than a probe would scan, else a probe sized from
the recall curve — with explicit knobs as overrides (filter_oversample
likewise for graph post-filtering, clamped 4..32). Maintenance ops fold
count deltas in; the per-cell table is a lower bound between compactions.

Also under test: the cluster-CORRELATED filter case (all matches in few
cells), tombstone-adjusted selectivity, and the Spark/serve_local plan
parity of the auto path (both read the same stats rows).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from webscale_vector_search_spark.config import EngineConfig, default_nprobe
from webscale_vector_search_spark.operators.ivf import recall_at_k
from webscale_vector_search_spark.operators.knn import knn_pandas
from webscale_vector_search_spark.plans.build import (
    build_index,
    compact_index,
    delete_vectors,
    search_index,
    upsert_vectors,
)
from webscale_vector_search_spark.plans.serve_local import serve_local
from webscale_vector_search_spark.sources.attr_stats import (
    CELL_STATS_DIRNAME,
    STATS_DIRNAME,
    cell_coverage,
    filtered_oversample,
    load_cell_stats_pdf,
    load_stats_pdf,
    plan_nprobe,
    selectivity,
)
from webscale_vector_search_spark.sources.fixtures import (
    load_table,
    queries_from_embeddings,
)
from webscale_vector_search_spark.sources.index_io import open_index

NLIST = 16
WHERE = "label = 3"  # selectivity 0.1


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        load_table(spark, "embeddings", SF_ORACLE)
        .withColumn("label", (F.col("vec_id") % 10).cast("int"))
        .cache()
    )


@pytest.fixture(scope="module")
def queries(spark):
    return queries_from_embeddings(spark, SF_ORACLE, 10).cache()


@pytest.fixture(scope="module")
def ivf_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sel_ivf") / "idx")
    build_index(
        spark, corpus, out, EngineConfig(index_type="IVF", nlist=NLIST),
        attr_cols=["label"],
    )
    return out


@pytest.fixture(scope="module")
def filtered_oracle(corpus, queries):
    return knn_pandas(
        corpus.filter(WHERE).select("vec_id", "embedding"), queries, k=10
    ).cache()


def test_formulas():
    assert filtered_oversample(0.1) == 10
    assert filtered_oversample(0.001) == 32  # clamp high
    assert filtered_oversample(0.9) == 4  # clamp low
    assert filtered_oversample(None) == 4


def test_build_writes_stats_and_selectivity(spark, ivf_dir, corpus):
    assert os.path.isdir(os.path.join(ivf_dir, STATS_DIRNAME))
    h = open_index(spark, ivf_dir)
    pdf = load_stats_pdf(h)
    n = corpus.count()
    assert int(pdf["count"].sum()) == n
    s_sql = selectivity(h, where=WHERE, spark=spark)
    s_np = selectivity(h, where=lambda a: a["label"] == 3)
    assert s_sql == s_np  # identical stats -> identical estimate
    assert abs(s_sql - 0.1) < 0.02
    # allowed_ids composes under independence
    s_both = selectivity(h, where=WHERE, allowed_count=n // 2, spark=spark)
    assert abs(s_both - s_sql * 0.5) < 1e-9
    # predicate over an unknown column: unknown, not an error
    assert selectivity(h, where="nope = 1", spark=spark) is None

    # the per-(cell, combo) table: written at build, totals match, and the
    # two predicate forms compute the SAME exact cell coverage (plan parity)
    assert os.path.isdir(os.path.join(ivf_dir, CELL_STATS_DIRNAME))
    cpdf = load_cell_stats_pdf(h)
    assert int(cpdf["count"].sum()) == n
    f_sql = cell_coverage(h, WHERE, spark=spark)
    f_np = cell_coverage(h, lambda a: a["label"] == 3)
    assert f_sql == f_np
    assert 0 < f_sql <= 1.0
    assert cell_coverage(h, "nope = 1", spark=spark) is None


def test_auto_nprobe_restores_filtered_recall(
    spark, ivf_dir, queries, filtered_oracle
):
    """Monotone recovery: auto (no manual knob) >= the fixed default, and
    a 10% filter on 16 lists holds fewer rows than the default probe
    scans, so the auto plan is the exact scan of the matching rows."""
    h = open_index(spark, ivf_dir)
    base_np = default_nprobe(NLIST)
    fixed = search_index(spark, h, queries, k=10, nprobe=base_np, where=WHERE)
    auto = search_index(spark, h, queries, k=10, where=WHERE)  # nprobe=None
    r_fixed = recall_at_k(fixed, filtered_oracle, k=10)
    r_auto = recall_at_k(auto, filtered_oracle, k=10)
    assert r_auto >= r_fixed
    assert r_auto == 1.0


def test_auto_plan_parity_spark_vs_serve(spark, ivf_dir, queries):
    """Both paths estimate s from the same stats rows, so the auto-scaled
    nprobe matches and results stay bit-identical."""
    h = open_index(spark, ivf_dir)
    got = search_index(spark, h, queries, k=5, where=WHERE).collect()
    qrows = queries.collect()
    q = (
        np.array([r["query_id"] for r in qrows], dtype=np.int64),
        np.stack([r["qvec"] for r in qrows]).astype(np.float64),
    )
    local = serve_local(h, q, k=5, where=lambda a: a["label"] == 3)
    spark_rows = {
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["distance"], 6))
        for r in got
    }
    local_rows = {
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in zip(
            local["query_id"], local["rank"], local["neighbor_id"], local["distance"]
        )
    }
    assert spark_rows == local_rows


def test_correlated_filter_cell_discovery(spark, tmp_path_factory):
    """All matches in FEW cells: per-combo counts see s, not the
    correlation; the per-cell table does. 16 natural clusters, nlist=16,
    label = cluster % 4 -> each label lives in ~4 of 16 cells (f ~ 0.25).
    The filtered probe plan must widen past the default for it, which
    prices the exact scan of the matching rows below the probe; the auto
    search then restores exact recall."""
    import pandas as pd

    from webscale_vector_search_spark.plans.planner import SearchPlan, plan_search

    rng = np.random.default_rng(7)
    ncl, dim, n = 16, 16, 8000
    centers = rng.normal(0.0, 4.0, (ncl, dim))
    ids = np.arange(n)
    cluster = ids % ncl
    vecs = centers[cluster] + rng.normal(0.0, 0.1, (n, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [v.astype("float32").tolist() for v in vecs],
            "label": (cluster % 4).astype("int32"),
        }
    )
    corpus = spark.createDataFrame(pdf)
    out = str(tmp_path_factory.mktemp("sel_corr") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", nlist=16, vector_dim=dim),
        attr_cols=["label"],
    )
    h = open_index(spark, out)
    f = cell_coverage(h, "label = 1", spark=spark)
    assert f is not None and f <= 0.5  # correlation detected (~4-8/16)
    base = default_nprobe(16)
    s = selectivity(h, where="label = 1", spark=spark)
    assert s * 16 > base  # the default alone would probe, not scan
    planned = plan_nprobe(h, base, 10, s, where="label = 1", spark=spark)
    assert planned >= s * 16
    assert plan_search(h, 10, where="label = 1", spark=spark) == SearchPlan(
        "exact_filtered"
    )

    queries = spark.createDataFrame(
        pdf.iloc[:20][["vec_id", "embedding"]].rename(
            columns={"vec_id": "query_id", "embedding": "qvec"}
        )
    )
    oracle = knn_pandas(
        corpus.filter("label = 1").select("vec_id", "embedding"), queries, k=10
    )
    auto = search_index(spark, h, queries, k=10, where="label = 1")
    assert recall_at_k(auto, oracle, k=10) == 1.0


def test_stats_track_append_upsert_compact(spark, corpus, tmp_path_factory):
    from webscale_vector_search_spark.plans.build import append_vectors

    out = str(tmp_path_factory.mktemp("sel_maint") / "idx")
    build_index(
        spark, corpus, out, EngineConfig(index_type="IVF", nlist=8),
        attr_cols=["label"],
    )
    n = corpus.count()

    def stats_total():
        return int(load_stats_pdf(open_index(spark, out))["count"].sum())

    def stats_for(label):
        pdf = load_stats_pdf(open_index(spark, out))
        rows = pdf[pdf["label"] == label]["count"]
        return int(rows.sum())

    before3 = stats_for(3)
    # append 4 new rows with label 77
    extra = corpus.limit(4).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding",
        F.lit(77).cast("int").alias("label"),
    )
    append_vectors(spark, out, extra)
    assert stats_for(77) == 4 and stats_total() == n + 4

    # upsert those 4 ids to label 88: -4 on 77, +4 on 88
    moved = extra.select("vec_id", "embedding", F.lit(88).cast("int").alias("label"))
    upsert_vectors(spark, out, moved)
    assert stats_for(77) == 0 and stats_for(88) == 4 and stats_total() == n + 4

    # delete every label-3 row and compact: stats drop them
    dead = corpus.filter(WHERE).select("vec_id")
    n_dead = dead.count()
    delete_vectors(spark, out, dead)
    compact_index(spark, out)
    assert stats_for(3) == before3 - n_dead == 0
    assert stats_total() == n + 4 - n_dead

    # compaction recomputes the per-cell table EXACTLY (appends leave it a
    # lower bound; this is the refresh point)
    h = open_index(spark, out)
    cpdf = load_cell_stats_pdf(h)
    assert int(cpdf["count"].sum()) == n + 4 - n_dead
    assert int(cpdf[cpdf["label"] == 3]["count"].sum()) == 0

    # backfill for artifacts predating the per-cell table
    import shutil

    from webscale_vector_search_spark.sources.attr_stats import (
        ensure_attr_cell_stats,
    )

    shutil.rmtree(os.path.join(out, CELL_STATS_DIRNAME))
    assert ensure_attr_cell_stats(spark, out)
    h2 = open_index(spark, out)
    assert int(load_cell_stats_pdf(h2)["count"].sum()) == n + 4 - n_dead


def test_unbounded_attr_domain_skips_stats(spark, corpus, tmp_path_factory,
                                           monkeypatch):
    """Past MAX_COMBOS the stats table is skipped and filtered search
    falls back to fixed defaults — degraded recall, never an error."""
    from webscale_vector_search_spark.sources import attr_stats

    monkeypatch.setattr(attr_stats, "MAX_COMBOS", 50)
    out = str(tmp_path_factory.mktemp("sel_skip") / "idx")
    wide = corpus.withColumn("uid", F.col("vec_id").cast("int"))
    build_index(
        spark, wide, out, EngineConfig(index_type="IVF", nlist=8),
        attr_cols=["uid"],
    )
    assert not os.path.isdir(os.path.join(out, STATS_DIRNAME))
    h = open_index(spark, out)
    assert selectivity(h, where="uid = 3", spark=spark) is None
    got = search_index(spark, h, queries_from_embeddings(spark, SF_ORACLE, 3),
                       k=3, where="uid = 3")
    assert got.count() <= 3  # fixed-default fallback still answers


def _clustered(spark, seed=7, ncl=16, dim=16, n=8000):
    import pandas as pd

    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 4.0, (ncl, dim))
    ids = np.arange(n)
    cluster = ids % ncl
    V = (centers[cluster] + rng.normal(0.0, 1.0, (n, dim))).astype("float32")
    pdf = pd.DataFrame(
        {
            "vec_id": ids.astype("int64"),
            "embedding": [v.tolist() for v in V],
            "label": (cluster % 4).astype("int32"),
        }
    )
    return spark.createDataFrame(pdf)


def test_allowlist_coverage_budgets(spark, tmp_path_factory):
    """The exact is-in coverage lookup (attr_stats.allowlist_cell_coverage)
    tells a CORRELATED allowlist (one cluster's ids, few cells) from a
    DISPERSED one of equal size; both are 1/16 of the rows, fewer than the
    default probe scans, so both auto searches scan exactly the allowed
    rows and stay recall-exact."""
    from webscale_vector_search_spark.plans.planner import SearchPlan, plan_search
    from webscale_vector_search_spark.sources.attr_stats import (
        allowlist_cell_coverage,
    )

    corpus = _clustered(spark).cache()
    out = str(tmp_path_factory.mktemp("sel_allow") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=16, nlist=16),
        attr_cols=["label"],
    )
    h = open_index(spark, out)
    n = 8000
    corr = np.arange(3, n, 16, dtype=np.int64)  # cluster 3 only: few cells
    disp = np.arange(0, len(corr), dtype=np.int64)  # every cluster
    f_corr = allowlist_cell_coverage(h, corr)
    f_disp = allowlist_cell_coverage(h, disp)
    assert f_corr is not None and f_disp is not None and f_corr < f_disp
    for arr in (corr, disp):
        plan = plan_search(h, 10, allowed=lambda arr=arr: (len(arr), arr))
        assert plan == SearchPlan("exact_filtered")
    qrows = corpus.orderBy("vec_id").limit(6).collect()
    queries = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in qrows],
        "query_id BIGINT, qvec ARRAY<FLOAT>",
    )
    for arr in (corr, disp):
        allow_df = spark.createDataFrame([(int(x),) for x in arr], "vec_id BIGINT")
        oracle = knn_pandas(
            corpus.join(allow_df, "vec_id", "left_semi").select("vec_id", "embedding"),
            queries, k=10,
        )
        got = search_index(spark, h, queries, k=10, allowed_ids=allow_df)
        assert recall_at_k(got, oracle, k=10) >= 0.99
    # parity: serve_local plans the same route -> the same rows
    from webscale_vector_search_spark.plans.serve_local import serve_local

    q = (
        np.array([r["vec_id"] for r in qrows], dtype=np.int64),
        np.stack([r["embedding"] for r in qrows]).astype(np.float64),
    )
    allow_df = spark.createDataFrame([(int(x),) for x in corr], "vec_id BIGINT")
    got = search_index(spark, h, queries, k=5, allowed_ids=allow_df).collect()
    local = serve_local(h, q, k=5, allowed_ids=corr)
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


def test_tombstone_correlated_selectivity(spark, tmp_path_factory):
    """The stats tables are maintained by PHYSICAL removal only, so
    pending tombstones still sit in the counts — delete a tenant then
    query that tenant and the unadjusted s overestimates. selectivity()
    subtracts the measured tombstone overlap (bounded is-in lookup, cached
    per fingerprint)."""
    corpus = _clustered(spark).cache()
    out = str(tmp_path_factory.mktemp("sel_tomb") / "idx")
    build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", vector_dim=16, nlist=16),
        attr_cols=["label"],
    )
    h = open_index(spark, out)
    s_before = selectivity(h, where="label = 2", spark=spark)
    assert s_before == pytest.approx(0.25)
    # delete ALL label-2 rows (logical only)
    delete_vectors(spark, out, corpus.filter("label = 2").select("vec_id"))
    h.maybe_refresh()
    s_after = selectivity(h, where="label = 2", spark=spark)
    assert s_after == 0.0  # every match is pending-deleted
    # an uncorrelated predicate's estimate rises only by the denominator
    s_other = selectivity(h, where="label = 1", spark=spark)
    assert s_other == pytest.approx(0.25 / 0.75)
    # fresh handle after compaction agrees with the physical state
    compact_index(spark, out)
    h2 = open_index(spark, out)
    assert selectivity(h2, where="label = 2", spark=spark) == 0.0
    assert selectivity(h2, where="label = 1", spark=spark) == pytest.approx(
        0.25 / 0.75
    )


def test_stats_merge_reenforces_caps(spark, corpus, tmp_path_factory,
                                     monkeypatch):
    """A delta carrying NEW combos can push a once-trivial
    stats table past the broadcast-trivial cap — the merge re-checks and
    drops the table (search degrades to fixed defaults, never wrong)."""
    from webscale_vector_search_spark.sources import attr_stats

    out = str(tmp_path_factory.mktemp("sel_cap") / "idx")
    build_index(
        spark, corpus, out, EngineConfig(index_type="IVF", nlist=8),
        attr_cols=["label"],
    )
    assert os.path.isdir(os.path.join(out, STATS_DIRNAME))
    monkeypatch.setattr(attr_stats, "MAX_COMBOS", 20)
    delta = spark.range(30).select(
        (F.col("id") + 1000).cast("int").alias("label"),
        F.lit(1).alias("count"),
    )
    attr_stats.merge_attr_delta(spark, out, delta)
    assert not os.path.isdir(os.path.join(out, STATS_DIRNAME))
    # degraded, not broken: selectivity unknown -> fixed defaults
    h = open_index(spark, out)
    assert selectivity(h, where="label = 3", spark=spark) is None


def test_plan_caches_bounded(spark, ivf_dir):
    """Per-handle plan caches are FIFO-bounded: a serving loop that builds
    a fresh predicate callable per request stays O(cap) driver memory."""
    from webscale_vector_search_spark.sources.attr_stats import (
        PLAN_CACHE_CAP,
        matched_per_cell,
    )

    h = open_index(spark, ivf_dir)
    for i in range(PLAN_CACHE_CAP + 20):
        lab = i % 4
        fn = (lambda v: (lambda a: a["label"] == v))(lab)
        assert selectivity(h, where=fn) is not None
        assert matched_per_cell(h, where=fn) is not None
    assert len(h._selectivity_cache) <= PLAN_CACHE_CAP
    assert len(h._mpc_cache) <= PLAN_CACHE_CAP
    # eviction must not change answers: re-ask with a fresh object
    s = selectivity(h, where=lambda a: a["label"] == 1)
    assert s == pytest.approx(0.1, abs=0.02)
