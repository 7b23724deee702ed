"""Physical-plan shape assertions — the 100 TB scale posture, regression-
tested (SURVEY.md §4: these are the properties that make the engine survive
a 1000-executor scale-up, independent of small-fixture timings):

- exact kNN: queries broadcast (corpus streams), partial top-k pushed ahead
  of the shuffle (WindowGroupLimit Partial), single exchange on query_id
- IVF search over disk artifacts: BroadcastHashJoin on centroid_id with
  DYNAMIC PARTITION PRUNING into the corpus scan (the inverted-list skip),
  corpus side never exchanged before the join
- relational queries: filters and column pruning reach the parquet scan
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.operators.knn import knn
from webscale_vector_search_spark.plans.build import build_index, search_index
from webscale_vector_search_spark.queries import QUERIES
from webscale_vector_search_spark.sources.fixtures import load_table, queries_from_embeddings


@pytest.fixture(autouse=True)
def _fresh_scans(spark):
    """Other modules cache() fixture tables; a cached relation replaces the
    parquet scan (and its PushedFilters) in the plan. Plan assertions need
    the real scans."""
    spark.catalog.clearCache()
    yield


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_exact_plan(spark):
    df = QUERIES["q_knn_exact"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, "query batch must broadcast"
    assert plan.count("WindowGroupLimit") >= 2, "partial+final top-k pushdown must fire"
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,20)]" in plan, (
        "query-set filter must reach the parquet scan"
    )


def test_ivf_plan_partition_pruning(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plan_ivf"))
    corpus = load_table(spark, "embeddings", SF_SMOKE)
    build_index(spark, corpus, out, EngineConfig(index_type="IVF", nlist=16, kmeans_sample_fraction=1.0))
    q5 = queries_from_embeddings(spark, SF_SMOKE, 5)
    res = search_index(spark, out, q5, k=10, nprobe=4, kernel="sql")
    plan = plan_of(res)
    assert "BroadcastHashJoin" in plan, "probe join must broadcast the probe side"
    assert "dynamicpruning" in plan, (
        "corpus scan must carry a dynamic partition-pruning filter on centroid_id"
    )
    # the corpus scan must feed the join directly — no exchange in between
    corpus_scan = [l for l in plan.splitlines() if "vectors" in l and "FileScan" in l]
    assert corpus_scan, "corpus parquet scan missing from plan"

    # fast path: probes resolved driver-side -> STATIC partition pruning
    fast_plan = plan_of(search_index(spark, out, q5, k=10, nprobe=4, kernel="pandas"))
    scan_lines = [l for l in fast_plan.splitlines() if "vectors" in l and "FileScan" in l]
    assert scan_lines, (
        "no FileScan over the vectors directory in the plan — cannot verify "
        "static probe pruning"
    )
    scan_line = scan_lines[0]
    assert "centroid_id" in scan_line and "INSET" in scan_line, (
        "pandas kernel must statically prune the corpus scan to probed lists"
    )


def test_capped_ivf_plan_partition_pruning(spark, tmp_path_factory):
    """The skew cap splits hot lists into NEW centroid ids (non-contiguous,
    beyond the original nlist); static INSET pruning over the split index
    must still reach the corpus scan — a capped index that lost pruning
    would silently re-scan everything at 100 TB."""
    out = str(tmp_path_factory.mktemp("plan_ivf_cap"))
    corpus = load_table(spark, "embeddings", SF_SMOKE)
    build_index(
        spark,
        corpus,
        out,
        EngineConfig(
            index_type="IVF", nlist=8, kmeans_sample_fraction=1.0, ivf_max_list_factor=1.2
        ),
    )
    from webscale_vector_search_spark.sources.index_io import read_metadata

    meta = read_metadata(out)
    assert meta.get("ivf_split", {}).get("lists_split", 0) > 0, (
        "cap=1.2 on sf0.001 must actually split lists, or the pin tests nothing"
    )
    q5 = queries_from_embeddings(spark, SF_SMOKE, 5)
    fast_plan = plan_of(search_index(spark, out, q5, k=10, nprobe=4, kernel="pandas"))
    scan_lines = [l for l in fast_plan.splitlines() if "vectors" in l and "FileScan" in l]
    assert scan_lines, (
        "no FileScan over the vectors directory in the plan — cannot verify "
        "static probe pruning"
    )
    scan_line = scan_lines[0]
    # Catalyst renders the static probe-list filter as INSET above 10 values
    # and a literal IN below it; either way it must sit on the corpus scan
    assert "centroid_id" in scan_line and ("INSET" in scan_line or " IN (" in scan_line), (
        "capped index must statically prune the corpus scan to probed sub-lists"
    )


def test_pricing_pushdown(spark):
    df = QUERIES["q_pricing"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: quantity/price/discount/tax/flags/status/date only
    assert "l_orderkey" not in plan.split("ReadSchema")[-1], "unused columns must be pruned"


def test_filtered_knn_pushes_lang_filter(spark):
    df = QUERIES["q_filtered_knn"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "EqualTo(lang,en)" in plan, "metadata predicate must reach the documents scan"


def test_broadcast_dims_in_top_customers(spark):
    df = QUERIES["q_top_customers"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2, "customer and nation dims must broadcast"
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_bucketed_join_elides_exchange(spark, tmp_path_factory):
    """Co-bucketed tables must join with no Exchange on either side."""
    from webscale_vector_search_spark.sources.bucketing import cobucket_join, write_bucketed

    emb = load_table(spark, "embeddings", SF_SMOKE)
    docs = load_table(spark, "documents", SF_SMOKE)
    write_bucketed(emb, "b_embeddings", "vec_id", 8)
    write_bucketed(docs, "b_documents", "doc_id", 8)
    # tiny fixtures would broadcast (hiding the bucket spec); disable to see
    # the large-table shape, where co-bucketing is what elides the shuffles
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucket_join(spark, "b_embeddings", "b_documents", "vec_id", "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan}"
        assert joined.count() == emb.count()  # 1:1 id overlap at sf0.001
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_inactive_customers_broadcast_anti(spark):
    """The NOT-EXISTS form plans as a broadcast left-anti hash join: the
    filtered urgent-order key set broadcasts; customers never shuffle."""
    from webscale_vector_search_spark.queries import QUERIES

    df = QUERIES["q_inactive_customers"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def _final_plan_of(df) -> str:
    """Execute and return the AQE FINAL plan text (initial-plan text
    duplicates every shared subtree; runtime exchange reuse is what decides
    how many times a scan/explode actually executes)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_dup_spans_single_scan(spark):
    """r13 (de-skewed r14): dup-span coverage must tokenize + md5-hash the
    corpus exactly once at RUNTIME — the join-back per-gram doc count
    shares the one scan + explode + partial aggregate via AQE exchange
    reuse (the former three-branch plan re-ran the per-position explode per
    aggregate: 3 corpus scans at 100 TB)."""
    final = _final_plan_of(QUERIES["q_dup_spans"](spark, SF_SMOKE))
    assert final.count("FileScan parquet") == 1, (
        f"dup_span_stats must scan the corpus once:\n{final}"
    )
    assert final.count("Generate explode(transform") == 1, (
        f"the md5 explode must execute once (exchange reuse):\n{final}"
    )


def test_lm_score_two_scans(spark):
    """r13 (de-skewed r14): the bigram-LM scorer derives the corpus
    pair/left counts from the per-doc pairs as chained aggregates, leaving
    exactly two corpus scans at RUNTIME — the bigram explode (shared by
    both its consumers via AQE exchange reuse) and the unigram vocabulary
    pass."""
    final = _final_plan_of(QUERIES["q_lm_score"](spark, SF_SMOKE))
    assert final.count("FileScan parquet") == 2, (
        f"lm_cross_entropy must scan the corpus exactly twice:\n{final}"
    )
    assert final.count("Generate explode(transform") == 1, (
        f"the bigram explode must execute once (exchange reuse):\n{final}"
    )


def test_tfidf_lazy_single_tokenize(spark):
    """r13: q_tfidf derives doclen AND df from the one tf aggregate (the
    tokenize+explode shuffle is reused at runtime) and computes n_docs as a
    broadcast 1-row aggregate in the same DAG — construction must not fire
    an eager job, and array_distinct re-tokenization must be gone."""
    df = QUERIES["q_tfidf"](spark, SF_SMOKE)
    plan = plan_of(df)
    assert "array_distinct" not in plan, "df must derive from tf, not re-tokenize"


def test_spread_fires_only_where_measured_to_win(spark):
    """r13 session-3 refinement (guide §1 applied to the spread itself):
    the input-skew round-robin Exchange must appear in the SQL-fold kNN
    plans (wash-to-win + core-scaling) and in the full-corpus heavy text
    pipelines, and must NOT appear where the quiet-box A/B measured it as a
    regression — the capped declared dedup queries (100-200 input rows),
    bm25 (aggregates immediately), and the Arrow-kernel exact kNN (one
    numpy GEMM per task beats 32 exchanges)."""
    spreads = ("q_knn_exact", "q_dup_spans", "q_lm_score")
    no_spreads = ("q_neardup_bands", "q_ngram_jaccard", "q_dedup_clusters", "q_bm25")
    for name in spreads:
        plan = plan_of(QUERIES[name](spark, SF_SMOKE))
        assert "RoundRobinPartitioning" in plan, f"{name} must spread its narrow scan"
    # knn_sharded spreads BY shard_id so the K2 window's Exchange is elided:
    # the spread shuffle must be the ONLY exchange below the K3 merge
    plan = plan_of(QUERIES["q_knn_partial_final"](spark, SF_SMOKE))
    assert "hashpartitioning(shard_id" in plan, "sharded kNN must spread by shard_id"
    assert "RoundRobinPartitioning" not in plan
    # structural, not text-count (ADVICE r13: node-count heuristics flip on
    # plan-rendering changes): the K2 partial top-k must run ON the spread's
    # shard_id partitioning, i.e. no exchange keyed (query_id, shard_id)
    # may exist below the K3 merge
    import re

    assert not re.search(r"hashpartitioning\(query_id#\d+, shard_id#", plan), (
        f"by-shard spread must elide the partial top-k exchange:\n{plan}"
    )
    for name in no_spreads:
        plan = plan_of(QUERIES[name](spark, SF_SMOKE))
        assert "RoundRobinPartitioning" not in plan, (
            f"{name} is capped/aggregate-immediate: the spread is measured overhead"
        )
    from webscale_vector_search_spark.operators.knn import knn_pandas
    from webscale_vector_search_spark.sources.fixtures import queries_from_embeddings

    corpus = load_table(spark, "embeddings", SF_SMOKE)
    qs = queries_from_embeddings(spark, SF_SMOKE, 4)
    plan = plan_of(knn_pandas(corpus, qs, k=3))
    assert "RoundRobinPartitioning" not in plan, (
        "the Arrow kernel must not spread: vectorized map work, measured slower spread"
    )


def test_driver_written_tables_match_spark(spark, tmp_path_factory):
    """attr_stats/, attr_cell_stats/ and centroids/ are written from the
    driver with pyarrow; each must hold exactly what the Spark groupBy (or
    the centroid collect) gives, under the schema a Spark write of the same
    frame reads back with."""
    import os

    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("driver_tables"))
    corpus = load_table(spark, "embeddings", SF_SMOKE).withColumn(
        "a_mod", (F.col("vec_id") % 7).cast("int")
    )
    handle = build_index(
        spark, corpus, out,
        EngineConfig(index_type="IVF", nlist=16, kmeans_sample_fraction=1.0, recall_curve=False),
        attr_cols=["a_mod"],
    )
    vectors = spark.read.parquet(handle.vectors_dir)
    spark_written = {
        "attr_stats": corpus.groupBy("a_mod").agg(F.count(F.lit(1)).alias("count")),
        "attr_cell_stats": vectors.groupBy("centroid_id", "a_mod").agg(
            F.count(F.lit(1)).alias("count")
        ),
        "centroids": spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in zip(*handle.centroid_arrays())],
            "centroid_id INT, cvec ARRAY<FLOAT>",
        ),
    }
    for name, want in spark_written.items():
        ref = str(tmp_path_factory.mktemp(f"ref_{name}"))
        want.coalesce(1).write.mode("overwrite").parquet(ref)
        got = spark.read.parquet(os.path.join(out, name))
        exp = spark.read.parquet(ref)
        assert got.schema == exp.schema, name
        if name == "centroids":  # open_index reads it with the fixed schema
            assert handle.centroids.schema == exp.schema
        keys = [c for c in exp.columns if c != "cvec"]
        assert got.orderBy(*keys).collect() == exp.orderBy(*keys).collect(), name
