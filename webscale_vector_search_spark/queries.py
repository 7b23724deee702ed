"""Declared query registry — every oracle-checked capability, in one place.

``QUERIES[name](spark, sf_dir) -> DataFrame`` is the Spark implementation;
``ORACLE_SQL[name]`` is the ANSI-SQL twin DuckDB runs on the same parquet
(fixture views pre-registered by the driver). SURVEY.md §2.9 declares the
core 12; the training-data-pipeline extensions add more. Column names are
aliased identically on both sides — the driver's compare sorts columns by
name before hashing.

Float policy (SURVEY.md §5.2): DOUBLE accumulation, round(x, 6) on distances,
total-order tie-breaks on every window/sort, no rand()/uuid()/now().
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscale_vector_search_spark.functions.hashing import (
    det_hash_sql,
    fingerprint,
    fingerprint_sql,
    pmod_shard_sql,
)
from webscale_vector_search_spark.operators import knn as knn_ops
from webscale_vector_search_spark.operators import shard as shard_ops
from webscale_vector_search_spark.sources.fixtures import load_table, queries_from_embeddings

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def declare(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


N_QUERIES = 20  # the Q20 derived fixture (FIXTURES.md)
K = 10  # reference default k (vector_search_cluster.py:763)

# ---------------------------------------------------------------------------
# q_knn_exact — K1+K3: exact squared-L2 top-10 (SURVEY.md §2.9 #1)
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
),
diffs AS (
  SELECT q.query_id, e.vec_id,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex
  FROM q CROSS JOIN embeddings e
),
dists AS (
  SELECT query_id, vec_id,
         round(sum((qx - ex) * (qx - ex)), 6) AS distance
  FROM diffs GROUP BY query_id, vec_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, distance
FROM dists
QUALIFY rank <= {K}
ORDER BY query_id, rank
"""


@declare("q_knn_exact", _KNN_ORACLE)
def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return knn_ops.knn(corpus, queries, k=K)


# ---------------------------------------------------------------------------
# q_knn_partial_final — K2→K3 sharded merge, must equal q_knn_exact's ids
# (merge-correctness property, §2.9 #2). Sharding: pmod(det_hash(vec_id), 4).
# ---------------------------------------------------------------------------

_SHARDS_MERGE = 4

_KNN_PF_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
),
corpus AS (
  SELECT vec_id, embedding,
         {pmod_shard_sql('vec_id', _SHARDS_MERGE)} AS shard_id
  FROM embeddings
),
diffs AS (
  SELECT q.query_id, c.vec_id, c.shard_id,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(c.embedding) AS DOUBLE) AS ex
  FROM q CROSS JOIN corpus c
),
dists AS (
  SELECT query_id, vec_id, shard_id,
         round(sum((qx - ex) * (qx - ex)), 6) AS distance
  FROM diffs GROUP BY query_id, vec_id, shard_id
),
partial AS (
  SELECT *,
         row_number() OVER (PARTITION BY query_id, shard_id ORDER BY distance, vec_id) AS shard_rank
  FROM dists
  QUALIFY shard_rank <= {K}
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, CAST(shard_id AS INT) AS shard_id, distance
FROM partial
QUALIFY rank <= {K}
ORDER BY query_id, rank
"""


@declare("q_knn_partial_final", _KNN_PF_ORACLE)
def q_knn_partial_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return knn_ops.knn_sharded(corpus, queries, k=K, num_shards=_SHARDS_MERGE)


# ---------------------------------------------------------------------------
# q_shard_assign — P3 fixed form: shard histogram (§2.9 #3)
# ---------------------------------------------------------------------------

_SHARD_ASSIGN_ORACLE = f"""
SELECT {pmod_shard_sql('vec_id', 16)} AS shard_id,
       count(*) AS n_vectors
FROM embeddings
GROUP BY shard_id
ORDER BY shard_id
"""


@declare("q_shard_assign", _SHARD_ASSIGN_ORACLE)
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        shard_ops.hash_shard(emb, 16)
        .groupBy("shard_id")
        .agg(F.count("*").alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# q_range_split — P2: seeded-shuffle ntile split histogram (§2.9 #4)
# ---------------------------------------------------------------------------

_RANGE_SPLIT_ORACLE = f"""
WITH split AS (
  SELECT vec_id,
         ntile(16) OVER (ORDER BY {det_hash_sql('vec_id', 42)} ASC, vec_id ASC) - 1 AS shard_id
  FROM embeddings
)
SELECT CAST(shard_id AS INT) AS shard_id, count(*) AS n_vectors,
       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
FROM split GROUP BY shard_id ORDER BY shard_id
"""


@declare("q_range_split", _RANGE_SPLIT_ORACLE)
def q_range_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return (
        shard_ops.range_split(emb, 16, seed=42)
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# q_fingerprint — E1: the reference's lossy cache-key fingerprint (§2.9 #5)
# (vector_search_cluster.py:378-387: first 8 + last 8 comps at 5 decimals)
# ---------------------------------------------------------------------------

_FINGERPRINT_ORACLE = f"""
SELECT vec_id, {fingerprint_sql('embedding')} AS fp
FROM embeddings
WHERE vec_id < 50
ORDER BY vec_id
"""


@declare("q_fingerprint", _FINGERPRINT_ORACLE)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return emb.filter(F.col("vec_id") < 50).select(
        "vec_id", fingerprint(F.col("embedding")).alias("fp")
    )


# ---------------------------------------------------------------------------
# q_dedup — X1: exact content dedup over documents (§2.9 #8)
# survivors = min doc_id per distinct md5(text); also reports group size
# ---------------------------------------------------------------------------

_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_dups
FROM documents
GROUP BY content_hash
ORDER BY content_hash
"""


@declare("q_dedup", _DEDUP_ORACLE)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_dups"))
    )


# ---------------------------------------------------------------------------
# q_pricing — X9: TPC-H Q1-style pricing summary over lineitem (§2.9 #12)
# ---------------------------------------------------------------------------

# Float policy for full-table SUMs: DOUBLE summation is order-dependent and
# Spark/DuckDB partition sums in different orders — so monetary columns are
# cast to exact DECIMAL first (they are 2-decimal quantities), summed exactly
# (order-independent), and only then cast to DOUBLE. AVGs are exact-sum /
# count in DOUBLE. This is what makes the hash match at any scale factor.

_PRICING_ORACLE = """
WITH src AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(14,2)) AS price,
         CAST(l_discount AS DECIMAL(4,2)) AS disc,
         CAST(l_tax AS DECIMAL(4,2)) AS tax
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(sum(qty) AS DOUBLE) AS sum_qty,
       CAST(sum(price) AS DOUBLE) AS sum_base_price,
       CAST(sum(price * (1 - disc)) AS DOUBLE) AS sum_disc_price,
       CAST(sum(price * (1 - disc) * (1 + tax)) AS DOUBLE) AS sum_charge,
       round(CAST(sum(qty) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(price) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(disc) AS DOUBLE) / count(*), 6) AS avg_disc,
       count(*) AS count_order
FROM src
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@declare("q_pricing", _PRICING_ORACLE)
def q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    cnt = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / cnt, 6).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / cnt, 6).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / cnt, 6).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q_metrics — A1-A5 shape: count/avg/exact-nearest-rank p50/p95/p99 per
# event_type over events.value (§2.9 #6). Percentile semantics mirror the
# reference's sorted-index picks (vector_search_cluster.py:418-425).
# ---------------------------------------------------------------------------

from webscale_vector_search_spark.operators import metrics as metrics_ops  # noqa: E402

_METRICS_ORACLE = metrics_ops.nearest_rank_percentiles_sql(
    "events", "event_type", "value", "event_id"
)


@declare("q_metrics", _METRICS_ORACLE)
def q_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return metrics_ops.nearest_rank_percentiles(ev, "event_type", "value", "event_id")


# ---------------------------------------------------------------------------
# q_topk_retention — A6: last-1000-by-ts per event_type, then the same
# percentile shape (§2.9 #7) — the reference's rolling latency window.
# ---------------------------------------------------------------------------

_RETENTION_N = 1000

_RETENTION_ORACLE = metrics_ops.nearest_rank_percentiles_sql(
    f"""(
  SELECT * FROM (
    SELECT event_type, value, event_id,
           row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS _recency
    FROM events
  ) WHERE _recency <= {_RETENTION_N}
)""",
    "event_type",
    "value",
    "event_id",
)


@declare("q_topk_retention", _RETENTION_ORACLE)
def q_topk_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    recent = metrics_ops.retain_last_n(ev, "event_type", "ts", "event_id", _RETENTION_N)
    return metrics_ops.nearest_rank_percentiles(recent, "event_type", "value", "event_id")


# ---------------------------------------------------------------------------
# q_json_events — X7+X8: hourly tumbling sum of a JSON property per
# event_type (§2.9 #11). date_trunc is the cross-engine tumbling window;
# the streaming variant (window(ts, '1 hour') + watermark) lives in
# streaming/metrics_stream.py.
# ---------------------------------------------------------------------------

_JSON_EVENTS_ORACLE = """
SELECT event_type,
       date_trunc('hour', ts) AS hour_ts,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       count(*) AS n_events
FROM events
GROUP BY event_type, hour_ts
ORDER BY event_type, hour_ts
"""


@declare("q_json_events", _JSON_EVENTS_ORACLE)
def q_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
        ).agg(
            F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# q_filtered_knn — X4: top-5 neighbors among lang='en' docs only (§2.9 #10).
# The metadata predicate lands BEFORE the distance computation — Catalyst
# pushes the lang filter into the documents scan and the join prunes the
# corpus ahead of the cross join.
# ---------------------------------------------------------------------------

_FILTERED_K = 5

_FILTERED_KNN_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
),
corpus AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE d.lang = 'en'
),
diffs AS (
  SELECT q.query_id, c.vec_id,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(c.embedding) AS DOUBLE) AS ex
  FROM q CROSS JOIN corpus c
),
dists AS (
  SELECT query_id, vec_id, round(sum((qx - ex) * (qx - ex)), 6) AS distance
  FROM diffs GROUP BY query_id, vec_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, distance
FROM dists
QUALIFY rank <= {_FILTERED_K}
ORDER BY query_id, rank
"""


@declare("q_filtered_knn", _FILTERED_KNN_ORACLE)
def q_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir)
    corpus = emb.join(
        docs.filter(F.col("lang") == "en").select("doc_id"),
        emb["vec_id"] == F.col("doc_id"),
    ).select("vec_id", "embedding")
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return knn_ops.knn(corpus, queries, k=_FILTERED_K)


# ---------------------------------------------------------------------------
# q_neardup_bands — X2 deterministic band form: 8 bands x 4 minhashes over
# word 3-shingles (§2.9 #9). Output: per-doc band signatures — the LSH
# bucketing artifact (candidate pairs = docs sharing a (band, band_sig)
# bucket; pair emission is property-tested in tests/test_dedup.py).
# ---------------------------------------------------------------------------

from webscale_vector_search_spark.operators import dedup as dedup_ops  # noqa: E402

_NEARDUP_DOCS = 100

_NEARDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < {_NEARDUP_DOCS}
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {dedup_ops.SHINGLE_K - 1}, 1) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])
         ))) AS shingle
  FROM toks
),
hp AS (
  -- Kirsch-Mitzenmacher: one md5 per shingle, two u64 halves; seed-i hash
  -- = (h1 + i*h2odd) mod 2^64 in exact HUGEINT arithmetic (integer min is
  -- order-independent -- no float-accumulation flakiness possible here)
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(shingle), 1, 16) AS UBIGINT) AS HUGEINT) AS h1,
         CAST(CAST('0x' || substr(md5(shingle), 17, 16) AS UBIGINT) AS HUGEINT) AS h2r
  FROM sh
),
sigs AS (
  SELECT doc_id, seed,
         min((h1 + seed * (h2r + 1 - h2r % 2)) % {2**64}) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, {dedup_ops.N_HASHES})) AS seed)
  GROUP BY doc_id, seed
)
SELECT doc_id,
       CAST(seed // {dedup_ops.ROWS_PER_BAND} AS INT) AS band,
       string_agg(lower(lpad(hex(CAST(mh AS UBIGINT)), {dedup_ops.HASH_WIDTH}, '0')),
                  '|' ORDER BY seed) AS band_sig
FROM sigs
GROUP BY doc_id, band
ORDER BY doc_id, band
"""


@declare("q_neardup_bands", _NEARDUP_ORACLE)
def q_neardup_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < _NEARDUP_DOCS)
    # spread=False: input capped at 100 docs — the repartition is pure
    # overhead at that size (measured; the full-corpus bench variant
    # q_neardup_full keeps the spread and its 1.8x win)
    return dedup_ops.band_signatures(docs, spread=False)


# ---------------------------------------------------------------------------
# q_cosine_topk — X3 cosine variant: brute-force cosine top-10 (the baseline
# for similarity search over an embedding column; §2.8). Oracle-checked.
# ---------------------------------------------------------------------------

_COSINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
),
dots AS (
  -- Per-row list folds, NOT unnest + parallel sum: DuckDB's group-aggregate
  -- sum() order varies with thread count and can flip a round-6 boundary
  -- run-to-run (the r1 flake). list_sum evaluates the list sequentially --
  -- bitwise-identical to Spark's left-fold `aggregate` and thread-invariant
  -- (verified: 50/50 pairs bit-equal to a python left fold at both threads=1
  -- and threads=8).
  SELECT q.query_id, e.vec_id,
         list_sum(list_transform(generate_series(1, len(q.qvec)),
                  i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(q.qvec,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nq,
         sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS ne
  FROM q CROSS JOIN embeddings e
),
dists AS (
  -- + 0.0 normalizes IEEE signed zero: self-match distances round to -0.0 in
  -- DuckDB but 0.0 in Spark; == treats them equal, the driver hash does not.
  SELECT query_id, vec_id, round(1.0 - dot / (nq * ne), 6) + 0.0 AS distance
  FROM dots
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, distance
FROM dists
QUALIFY rank <= {K}
ORDER BY query_id, rank
"""


@declare("q_cosine_topk", _COSINE_ORACLE)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return knn_ops.knn(corpus, queries, k=K, metric="cosine")


# ---------------------------------------------------------------------------
# q_ann_ivf — K5/K6: IVF probe-pruned approximate kNN (train + assign +
# search in one lazy pipeline). Deterministic given the fixed seed but not
# SQL-expressible (KMeans) -> rows-only driver check; recall properties are
# covered by tests/test_index.py.
# ---------------------------------------------------------------------------


@declare("q_ann_ivf")  # no oracle: approximate operator (§2.9 exclusion)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 and cosine IVF search in one result (metric column distinguishes).

    The two metrics were separate declared queries through r3, but the
    correctness driver records at most 50 queries (observed: 51 declared ->
    exactly 50 rows in CORRECTNESS_r02 AND r03, truncated in declaration
    order, which left q_project_knn with no driver row). Both are rows-only
    checks anyway, so unioning keeps both code paths exercised by the driver
    while freeing the 50th slot.
    """
    from webscale_vector_search_spark.functions.distance import with_l2_normalized
    from webscale_vector_search_spark.operators import ivf as ivf_ops

    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    cents = ivf_ops.train_centroids(spark, corpus, nlist=16, seed=42, sample_fraction=1.0)
    assigned = ivf_ops.assign_centroids(corpus, cents)
    l2 = ivf_ops.ivf_search(assigned, cents, queries, k=K, nprobe=4)

    corpus_n = with_l2_normalized(corpus, "embedding")
    queries_n = with_l2_normalized(queries, "qvec")
    cents_n = ivf_ops.train_centroids(spark, corpus_n, nlist=16, seed=42, sample_fraction=1.0)
    assigned_n = ivf_ops.assign_centroids(corpus_n, cents_n)
    cos = ivf_ops.ivf_search_pandas(assigned_n, cents_n, queries_n, k=K, nprobe=8)

    return l2.withColumn("metric", F.lit("l2")).unionByName(
        cos.withColumn("metric", F.lit("cosine"))
    )


# ---------------------------------------------------------------------------
# q_ann_ivfpq — K7/K8: product-quantized codes + probe-masked ADC search
# (train centroids + codebooks, encode, asymmetric-distance scan over codes).
# Deterministic (seeded) but KMeans/Lloyd are not SQL-expressible -> rows-only
# driver check; ADC==reconstruction and recall properties live in
# tests/test_index.py.
# ---------------------------------------------------------------------------


@declare("q_ann_ivfpq")  # no oracle: approximate operator (§2.9 exclusion)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two arms unioned under one declared name (the driver caps queries
    at 50): GLOBAL residual codebooks (the build_index default) and
    per-cell LOPQ codebooks (pq_local_codebooks) — both rows-only here;
    the ADC==reconstruction and recall properties live in tests/."""
    from pyspark.sql import functions as F

    from webscale_vector_search_spark.operators import ivf as ivf_ops
    from webscale_vector_search_spark.operators import pq as pq_ops

    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    cents = ivf_ops.train_centroids(spark, corpus, nlist=16, seed=42, sample_fraction=1.0)
    assigned = ivf_ops.assign_centroids(corpus, cents)
    # residual codes (the build_index default): codebooks fit on and codes
    # encoding v - C[centroid_id], searched with the residual ADC expansion
    books = pq_ops.fit_codebooks(assigned, m=16, seed=42, centroids=cents)
    codes = pq_ops.encode(assigned, books, centroids=cents)
    global_arm = pq_ops.adc_search(
        codes, books, queries, k=K, centroids=cents, nprobe=8, residual=True
    )
    # LOPQ arm: per-cell codebooks, distributed fit, same serving contract
    books_local = pq_ops.local_books_dict(
        pq_ops.fit_codebooks_per_list(assigned, 16, cents, seed=42),
        m=16, n_codes=256, dim=64,
    )
    codes_local = pq_ops.encode_local(assigned, books_local, cents)
    local_arm = pq_ops.adc_search(
        codes_local, None, queries, k=K, centroids=cents, nprobe=8,
        residual=True, local_books=books_local,
    )
    return global_arm.withColumn("arm", F.lit("global")).unionByName(
        local_arm.withColumn("arm", F.lit("lopq"))
    )


# ---------------------------------------------------------------------------
# q_ann_hnsw — K9: per-partition HNSW graph search (the PyHNSW numpy
# implementation). Graph construction is
# randomized-by-seeded-RNG and inherently non-SQL -> rows-only driver check;
# recall + sub-linear-cost assertions live in tests/test_api.py.
# ---------------------------------------------------------------------------


@declare("q_ann_hnsw")  # no oracle: approximate operator (§2.9 exclusion)
def q_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.operators.hnsw_partition import hnsw_partition_search

    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return hnsw_partition_search(corpus, queries, k=K)


# ---------------------------------------------------------------------------
# Text-analysis queries (X5 + §2.8): language ID, quality scoring, token
# counting, document fingerprinting — all over `documents`, all exact.
# ---------------------------------------------------------------------------

from webscale_vector_search_spark.operators import sampling as sampling_ops  # noqa: E402
from webscale_vector_search_spark.operators import textops  # noqa: E402


def _stop_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textops.STOPWORDS[lang])
    return (
        f"len(list_filter(string_split(lower(text), ' '), t -> list_contains([{words}], t)))"
    )


_LANG_SCORE_COLS = ",\n       ".join(
    f"{_stop_sql(lang)} AS hits_{lang}" for lang in sorted(textops.STOPWORDS)
)
_LANG_BEST = "greatest(" + ", ".join(f"hits_{l}" for l in sorted(textops.STOPWORDS)) + ")"
_LANG_CASE = "CASE " + " ".join(
    f"WHEN hits_{l} = {_LANG_BEST} THEN '{l}'" for l in sorted(textops.STOPWORDS)
) + " END"

_LANG_ID_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
       {_LANG_SCORE_COLS}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN {_LANG_BEST} > 0 THEN {_LANG_CASE} ELSE 'und' END AS predicted_lang,
       hits_en, hits_de
FROM scored
ORDER BY doc_id
"""


@declare("q_lang_id", _LANG_ID_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    scores = textops.lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        textops.predicted_lang(F.col("text")).alias("predicted_lang"),
        scores["en"].cast("bigint").alias("hits_en"),
        scores["de"].cast("bigint").alias("hits_de"),
    )


_QUALITY_ORACLE = """
SELECT doc_id,
       round(
         0.4 * least(1.0, len(string_split(lower(text), ' ')) / 50.0)
       + 0.3 * (len(list_filter(string_split(lower(text), ' '), t -> regexp_full_match(t, '[a-z]+')))
                / greatest(len(string_split(lower(text), ' ')), 1))
       + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
                / greatest(length(text), 1))
       , 6) AS quality
FROM documents
ORDER BY doc_id
"""


@declare("q_quality_score", _QUALITY_ORACLE)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", textops.quality_score(F.col("text")).alias("quality"))


_TOKEN_COUNT_ORACLE = f"""
SELECT doc_id,
       len(string_split(lower(text), ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{textops.TOKEN_REGEX}')) AS n_bpe_tokens,
       length(text) AS n_chars
FROM documents
ORDER BY doc_id
"""


@declare("q_token_count", _TOKEN_COUNT_ORACLE)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        textops.ws_token_count(F.col("text")).cast("bigint").alias("n_ws_tokens"),
        textops.regex_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


_FINGERPRINT_DOC_ORACLE = """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
  FROM documents
),
toks AS (SELECT doc_id, nt, string_split(nt, ' ') AS t FROM norm),
-- SimHash stage 1: one 60-bit md5 hash per distinct word-2-shingle
-- (15 hex chars -> fits signed BIGINT; mirrors dedup.simhash_feature_hashes)
shh AS (
  SELECT doc_id, nt, t,
         list_transform(
           list_distinct(list_transform(
             range(1, greatest(len(t) - 1, 1) + 1),
             i -> concat_ws(' ', t[i], t[i+1]))),
           ft -> CAST(CAST('0x' || substr(md5(ft), 1, 15) AS UBIGINT) AS BIGINT)) AS hs
  FROM toks
)
SELECT doc_id,
       md5(nt) AS content_fp,
       list_aggregate(list_transform(
         range(1, greatest(len(t) - 4, 1) + 1),
         i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
       ), 'min') AS winnow_fp,
       -- SimHash stage 2: per-bit majority vote over the feature hashes
       CAST(coalesce(list_sum(list_transform(range(0, 60), b ->
         CASE WHEN coalesce(list_sum(list_transform(hs, h ->
                     CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
              THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)), 0)
         AS BIGINT) AS simhash_fp
FROM shh
ORDER BY doc_id
"""


@declare("q_doc_fingerprint", _FINGERPRINT_DOC_ORACLE)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    staged = docs.select(
        "doc_id",
        textops.content_fingerprint(F.col("text")).alias("content_fp"),
        textops.winnow_fingerprint(F.col("text")).alias("winnow_fp"),
        textops.normalized_text(F.col("text")).alias("_nt"),
    ).select(
        "doc_id",
        "content_fp",
        "winnow_fp",
        dedup_ops.simhash_feature_hashes("_nt").alias("_shh"),
    )
    return staged.select(
        "doc_id",
        "content_fp",
        "winnow_fp",
        dedup_ops.simhash_from_hashes("_shh").alias("simhash_fp"),
    )


# ---------------------------------------------------------------------------
# q_multimodal_stats — X6: opaque BINARY media columns with byte/hash stats.
# The media table derives deterministically from documents (UTF-8 payloads,
# round-robin media_type) so the binary pipeline is fixture-reproducible.
# ---------------------------------------------------------------------------

from webscale_vector_search_spark.operators import multimodal  # noqa: E402

_MULTIMODAL_ORACLE = """
WITH media AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS content_hash
  FROM documents
)
SELECT media_type,
       count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       min(n_bytes) AS min_bytes,
       max(n_bytes) AS max_bytes,
       count(DISTINCT content_hash) AS n_distinct
FROM media
GROUP BY media_type
ORDER BY media_type
"""


@declare("q_multimodal_stats", _MULTIMODAL_ORACLE)
def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return multimodal.media_stats(multimodal.media_from_documents(docs))


# ---------------------------------------------------------------------------
# q_multimodal_features — §2.8: binary -> feature-vector plumbing through the
# Arrow/mapInPandas path (deterministic fake codec; real codecs are stubbed —
# see operators/multimodal.py). Rows-only driver check: Python kernel.
# ---------------------------------------------------------------------------


@declare("q_multimodal_features")
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    media = multimodal.media_from_documents(docs)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "media_type",
        F.round(F.aggregate(F.col("feature"), F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
        F.size("feature").alias("feature_dim"),
    )


# ---------------------------------------------------------------------------
# q_cache_dedup — K10 / §4.1: the query-dedup rewrite (the reference's Redis
# result cache, made exact). The query batch contains every Q20 vector TWICE
# (ids 0-19 and 100-119); the engine searches each distinct vector once and
# fans results back out. Oracle: plain exact kNN over the full 40-query set —
# results must be identical, proving the rewrite is semantics-preserving.
# ---------------------------------------------------------------------------

_CACHE_DEDUP_K = 5

_CACHE_DEDUP_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
  UNION ALL
  SELECT vec_id + 100, embedding FROM embeddings WHERE vec_id < {N_QUERIES}
),
diffs AS (
  SELECT q.query_id, e.vec_id,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex
  FROM q CROSS JOIN embeddings e
),
dists AS (
  SELECT query_id, vec_id, round(sum((qx - ex) * (qx - ex)), 6) AS distance
  FROM diffs GROUP BY query_id, vec_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, distance
FROM dists
QUALIFY rank <= {_CACHE_DEDUP_K}
ORDER BY query_id, rank
"""


@declare("q_cache_dedup", _CACHE_DEDUP_ORACLE)
def q_cache_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.plans.rewrite import search_with_query_dedup

    corpus = load_table(spark, "embeddings", sf_dir)
    q20 = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    duplicated = q20.union(q20.withColumn("query_id", F.col("query_id") + 100))
    return search_with_query_dedup(
        duplicated, lambda qs: knn_ops.knn(corpus, qs, k=_CACHE_DEDUP_K)
    ).select("query_id", "rank", "neighbor_id", "distance")


# ---------------------------------------------------------------------------
# q_session_windows — X8: session windows (5-minute gap) per user over
# events. Spark uses the built-in session_window; the oracle derives the
# same sessions with gaps-and-islands (new session when the gap >= 5 min,
# matching session_window's ts < prev_end merge rule).
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CAST(value AS DECIMAL(18,6)) AS dvalue,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_sess
  FROM ordered
),
sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       count(*) AS n_events,
       round(CAST(sum(dvalue) AS DOUBLE), 6) AS sum_value
FROM sess
GROUP BY user_id, sess_no
ORDER BY user_id, session_start
"""


@declare("q_session_windows", _SESSION_ORACLE)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("sess"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )
        .select(F.col("sess.start").alias("session_start"), "user_id", "n_events", "sum_value")
    )


# ---------------------------------------------------------------------------
# q_top_customers — X9 second relational query: revenue by customer across
# orders/lineitem with nation names (exercises multi-join reordering +
# broadcast selection; the small dims broadcast, lineitem never shuffles
# until the final group).
# ---------------------------------------------------------------------------

_TOP_CUSTOMERS_ORACLE = """
WITH rev AS (
  SELECT o.o_custkey,
         CAST(l.l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS r
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(sum(rev.r) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM rev
JOIN customer c ON rev.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey, c.c_name, n.n_name
HAVING count(*) >= 5
ORDER BY c.c_custkey
"""


@declare("q_top_customers", _TOP_CUSTOMERS_ORACLE)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    rev = (
        li.join(orders.filter(F.col("o_orderstatus") == "F"), li["l_orderkey"] == orders["o_orderkey"])
        .select(
            "o_custkey",
            (
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (1 - F.col("l_discount").cast("decimal(4,2)"))
            ).alias("r"),
        )
    )
    return (
        rev.join(F.broadcast(cust), rev["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum("r").cast("double").alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .filter(F.col("n_lineitems") >= 5)
    )


# ---------------------------------------------------------------------------
# q_shard_rollup — A7: per-shard vector counts WITH the grand total row
# (GROUP BY ROLLUP); the reference sums index.ntotal across shards
# (vector_search_cluster.py:1220-1223).
# ---------------------------------------------------------------------------

_SHARD_ROLLUP_ORACLE = f"""
WITH sharded AS (
  SELECT {pmod_shard_sql('vec_id', 16)} AS shard_id FROM embeddings
)
SELECT shard_id, count(*) AS n_vectors,
       CASE WHEN shard_id IS NULL THEN 1 ELSE 0 END AS is_total
FROM sharded
GROUP BY ROLLUP (shard_id)
ORDER BY is_total, shard_id
"""


@declare("q_shard_rollup", _SHARD_ROLLUP_ORACLE)
def q_shard_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.operators.metrics import shard_histogram

    emb = load_table(spark, "embeddings", sf_dir)
    return shard_histogram(shard_ops.hash_shard(emb, 16)).withColumn(
        "is_total", F.col("is_total").cast("int")
    )


# ---------------------------------------------------------------------------
# q_embedding_neardup — §2.8: embedding-cosine near-duplicate pairs
# (cosine distance < 0.20 among the first 200 vectors, a < b).
# ---------------------------------------------------------------------------

_EMB_NEARDUP_N = 200
_EMB_NEARDUP_TAU = 0.65  # synthetic embeddings: min pairwise cos-dist ~0.56, so 0.65 exercises the join

_EMB_NEARDUP_ORACLE = f"""
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_EMB_NEARDUP_N}),
terms AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(unnest(a.embedding) AS DOUBLE) AS ax,
         CAST(unnest(b.embedding) AS DOUBLE) AS bx
  FROM sub a CROSS JOIN sub b
  WHERE a.vec_id < b.vec_id
),
dots AS (
  SELECT vec_a, vec_b, sum(ax * bx) AS dot,
         sqrt(sum(ax * ax)) AS na, sqrt(sum(bx * bx)) AS nb
  FROM terms GROUP BY vec_a, vec_b
)
SELECT vec_a, vec_b, round(1.0 - dot / (na * nb), 6) + 0.0 AS cos_dist
FROM dots
WHERE round(1.0 - dot / (na * nb), 6) < {_EMB_NEARDUP_TAU}
ORDER BY vec_a, vec_b
"""


@declare("q_embedding_neardup", _EMB_NEARDUP_ORACLE)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.operators.dedup import embedding_neardup

    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < _EMB_NEARDUP_N)
    return embedding_neardup(emb, threshold=_EMB_NEARDUP_TAU)


# ---------------------------------------------------------------------------
# q_events_cube — §2.7 coverage: CUBE over (event_type, day) with counts and
# exact-decimal value sums; grouping() flags distinguish subtotal rows.
# ---------------------------------------------------------------------------

_EVENTS_CUBE_ORACLE = """
SELECT event_type,
       date_trunc('day', ts) AS day_ts,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value,
       CASE WHEN event_type IS NULL THEN 1 ELSE 0 END AS g_type,
       CASE WHEN date_trunc('day', ts) IS NULL THEN 1 ELSE 0 END AS g_day
FROM events
GROUP BY CUBE (event_type, day_ts)
ORDER BY g_type, g_day, event_type, day_ts
"""


@declare("q_events_cube", _EVENTS_CUBE_ORACLE)
def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.cube("event_type", F.date_trunc("day", F.col("ts")).alias("day_ts"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6).alias(
                "sum_value"
            ),
        )
        .withColumn("g_type", F.when(F.col("event_type").isNull(), 1).otherwise(0))
        .withColumn("g_day", F.when(F.col("day_ts").isNull(), 1).otherwise(0))
    )


# ---------------------------------------------------------------------------
# q_events_pivot — §2.7: pivot event types into columns (daily value sums).
# The oracle expresses the same result as conditional aggregation — which is
# exactly what Catalyst lowers pivot to.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_EVENTS_PIVOT_ORACLE = f"""
SELECT date_trunc('day', ts) AS day_ts,
       {", ".join(
           f"round(CAST(sum(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 6) AS {t}"
           for t in _EVENT_TYPES
       )}
FROM events
GROUP BY day_ts
ORDER BY day_ts
"""


@declare("q_events_pivot", _EVENTS_PIVOT_ORACLE)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    pivoted = (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day_ts"))
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6))
    )
    return pivoted


# ---------------------------------------------------------------------------
# q_vocab — X5: corpus vocabulary with document frequency (the groundwork
# table for tf-idf and tokenizer training). Top 100 terms by (df desc, term).
# ---------------------------------------------------------------------------

_VOCAB_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS term
  FROM documents
)
SELECT term, count(*) AS df
FROM tok
GROUP BY term
ORDER BY df DESC, term
LIMIT 100
"""


@declare("q_vocab", _VOCAB_ORACLE)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("term"),
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# q_tfidf — X5: per-(doc, term) tf-idf, the GROUP BY + broadcast-join form
# (term df is a small table that broadcasts; the doc side never shuffles
# twice). idf = ln((N + 1) / (df + 1)) + 1 (smooth), tf = count / doc_len.
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents WHERE doc_id < 50
),
tf AS (
  SELECT doc_id, term, count(*) AS n
  FROM tok GROUP BY doc_id, term
),
doclen AS (SELECT doc_id, sum(n) AS len FROM tf GROUP BY doc_id),
df AS (
  SELECT term, count(*) AS df FROM (
    SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS term
    FROM documents WHERE doc_id < 50
  ) GROUP BY term
),
n_docs AS (SELECT count(*) AS n FROM documents WHERE doc_id < 50)
SELECT tf.doc_id, tf.term,
       round((CAST(tf.n AS DOUBLE) / doclen.len)
             * (ln((n_docs.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
FROM tf
JOIN doclen USING (doc_id)
JOIN df USING (term)
CROSS JOIN n_docs
ORDER BY doc_id, term
"""


@declare("q_tfidf", _TFIDF_ORACLE)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    tok = docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("n"))
    # r13: doclen and df both derive from tf (one row per (doc, term)) —
    # sum(n) over doc is the token count, count(*) over term is the
    # distinct-doc frequency the oracle's array_distinct explode computed.
    # One tokenize+explode scan instead of two, and n_docs rides the same
    # lazy DAG as a broadcast 1-row aggregate instead of an eager .count()
    # job paid at query-construction time.
    doclen = tf.groupBy("doc_id").agg(F.sum("n").alias("len"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("_n_docs"))
    return (
        tf.join(doclen, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                (F.col("n").cast("double") / F.col("len"))
                * (F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# q_dot_topk — §1.4 declared metric extension: inner-product top-k (FAISS
# supports IP; the reference never constructs an IP index — declared, not
# silently claimed). Score = -dot so ascending-is-better holds everywhere.
# ---------------------------------------------------------------------------

_DOT_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < {N_QUERIES}
),
terms AS (
  SELECT q.query_id, e.vec_id,
         CAST(unnest(q.qvec) AS DOUBLE) AS qx,
         CAST(unnest(e.embedding) AS DOUBLE) AS ex
  FROM q CROSS JOIN embeddings e
),
dots AS (
  -- + 0.0: signed-zero canonicalization, same policy as the Spark side
  SELECT query_id, vec_id, round(-sum(qx * ex), 6) + 0.0 AS distance
  FROM terms GROUP BY query_id, vec_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY distance, vec_id) AS INT) AS rank,
       vec_id AS neighbor_id, distance
FROM dots
QUALIFY rank <= {K}
ORDER BY query_id, rank
"""


@declare("q_dot_topk", _DOT_ORACLE)
def q_dot_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return knn_ops.knn(corpus, queries, k=K, metric="dot")


# ---------------------------------------------------------------------------
# q_normalize — embedding L2 normalization (the standard preprocessing that
# turns cosine into dot). Emits the norm and the first component of the
# normalized vector (scalar projections keep the oracle compare simple).
# ---------------------------------------------------------------------------

_NORMALIZE_ORACLE = """
WITH norms AS (
  SELECT vec_id,
         sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS l2_norm,
         first(CAST(x AS DOUBLE) ORDER BY i) AS first_comp
  FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
        FROM embeddings)
  GROUP BY vec_id
)
SELECT vec_id, round(l2_norm, 6) AS l2_norm,
       round(first_comp / l2_norm, 6) AS first_normalized
FROM norms
ORDER BY vec_id
"""


@declare("q_normalize", _NORMALIZE_ORACLE)
def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.functions.distance import l2_norm

    emb = load_table(spark, "embeddings", sf_dir)
    norm = l2_norm(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.col("embedding")[0].cast("double") / norm, 6).alias("first_normalized"),
    )


# ---------------------------------------------------------------------------
# q_supplier_regions — X9: suppliers per region (supplier ⋈ nation ⋈ region;
# covers the remaining star-schema dimension tables).
# ---------------------------------------------------------------------------

_SUPPLIER_REGIONS_ORACLE = """
SELECT r.r_name AS region,
       count(*) AS n_suppliers,
       round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(14,2))) AS DOUBLE) / count(*), 6) AS avg_acctbal
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@declare("q_supplier_regions", _SUPPLIER_REGIONS_ORACLE)
def q_supplier_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir)
    return (
        sup.join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(
                F.sum(F.col("s_acctbal").cast("decimal(14,2)")).cast("double") / F.count("*"), 6
            ).alias("avg_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q_part_brand_stats — X9: part catalog stats by brand (covers `part`).
# ---------------------------------------------------------------------------

_PART_BRAND_ORACLE = """
SELECT p_brand,
       count(*) AS n_parts,
       CAST(sum(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
       CAST(max(p_size) AS INT) AS max_size,
       count(DISTINCT p_type) AS n_types
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


@declare("q_part_brand_stats", _PART_BRAND_ORACLE)
def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, "part", sf_dir)
    return part.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum(F.col("p_retailprice").cast("decimal(14,2)")).cast("double").alias("sum_price"),
        F.max("p_size").cast("int").alias("max_size"),
        F.count_distinct("p_type").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# q_asof_join — custom-operator composition (SURVEY.md policy (a)): for each
# 'error' event, the most recent preceding 'click' by the same user. Spark
# has no ASOF JOIN; this is the one-shuffle window composition. The oracle
# uses the identical window formulation (portable ANSI).
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH relevant AS (
  SELECT event_id, user_id, ts, event_type FROM events
  WHERE event_type IN ('error', 'click')
),
annotated AS (
  SELECT *,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_source_ts,
         last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_source_id
  FROM relevant
)
SELECT event_id, user_id, ts, prev_source_ts, prev_source_id,
       date_diff('microsecond', prev_source_ts, ts) AS gap_micros
FROM annotated
WHERE event_type = 'error'
ORDER BY event_id
"""


@declare("q_asof_join", _ASOF_ORACLE)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    return asof_join(ev, target_type="error", source_type="click")


# ---------------------------------------------------------------------------
# q_ngram_jaccard — X2 verification phase: exact shingle-set Jaccard for the
# LSH band-collision candidate pairs (first 100 docs). The full two-phase
# near-dup design — cheap candidates, exact verify — oracle-checked
# end-to-end.
# ---------------------------------------------------------------------------

_NGRAM_JACCARD_DOCS = 200  # the fixture's genuine near-dup pairs straddle 100-200

_NGRAM_JACCARD_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < {_NGRAM_JACCARD_DOCS}
),
shingle_sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(t) - {dedup_ops.SHINGLE_K - 1}, 1) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])
         )) AS sh
  FROM toks
),
sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shingle_sets),
hp AS (
  -- the same Kirsch-Mitzenmacher family as the engine's band_signatures
  -- (and q_neardup_bands' oracle): one md5 per shingle, seed-i hash
  -- derived as (h1 + i*h2odd) mod 2^64 in exact HUGEINT arithmetic
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(shingle), 1, 16) AS UBIGINT) AS HUGEINT) AS h1,
         CAST(CAST('0x' || substr(md5(shingle), 17, 16) AS UBIGINT) AS HUGEINT) AS h2r
  FROM sh
),
sigs AS (
  SELECT doc_id, seed,
         min((h1 + seed * (h2r + 1 - h2r % 2)) % {2**64}) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, {dedup_ops.N_HASHES})) AS seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // {dedup_ops.ROWS_PER_BAND} AS INT) AS band,
         string_agg(lower(lpad(hex(CAST(mh AS UBIGINT)), {dedup_ops.HASH_WIDTH}, '0')),
                    '|' ORDER BY seed) AS band_sig
  FROM sigs GROUP BY doc_id, band
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
FROM pairs p
JOIN shingle_sets sa ON p.doc_a = sa.doc_id
JOIN shingle_sets sb ON p.doc_b = sb.doc_id
ORDER BY doc_a, doc_b
"""


@declare("q_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < _NGRAM_JACCARD_DOCS)
    # spread=False: 200-doc capped input (see q_neardup_bands)
    pairs = dedup_ops.neardup_candidate_pairs(docs, spread=False)
    return dedup_ops.ngram_jaccard(docs, docs, pairs)


# ---------------------------------------------------------------------------
# q_dedup_clusters — X2 cluster assignment: connected components over the
# LSH candidate pairs (hash-min label propagation), cluster_id = min doc_id
# in the component. Oracle: the same KM-minhash pair generation as
# q_neardup_bands, then min-reachable-id per node via a recursive CTE —
# connected components IS expressible in ANSI SQL at oracle scale, so this
# iterative Spark operator still gets a full hash-checked gate.
# ---------------------------------------------------------------------------

_DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < {_NEARDUP_DOCS}
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {dedup_ops.SHINGLE_K - 1}, 1) + 1),
           i -> concat_ws(' ', t[i], t[i+1], t[i+2])
         ))) AS shingle
  FROM toks
),
hp AS (
  SELECT doc_id,
         CAST(CAST('0x' || substr(md5(shingle), 1, 16) AS UBIGINT) AS HUGEINT) AS h1,
         CAST(CAST('0x' || substr(md5(shingle), 17, 16) AS UBIGINT) AS HUGEINT) AS h2r
  FROM sh
),
sigs AS (
  SELECT doc_id, seed,
         min((h1 + seed * (h2r + 1 - h2r % 2)) % {2**64}) AS mh
  FROM hp CROSS JOIN (SELECT unnest(range(0, {dedup_ops.N_HASHES})) AS seed)
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(seed // {dedup_ops.ROWS_PER_BAND} AS INT) AS band,
         string_agg(lower(lpad(hex(CAST(mh AS UBIGINT)), {dedup_ops.HASH_WIDTH}, '0')),
                    '|' ORDER BY seed) AS band_sig
  FROM sigs GROUP BY doc_id, band
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM toks
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT node AS doc_id, min(r) AS cluster_id
FROM reach GROUP BY node ORDER BY doc_id
"""


@declare("q_dedup_clusters", _DEDUP_CLUSTERS_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") < _NEARDUP_DOCS)
    # spread=False: 100-doc capped input (see q_neardup_bands)
    return dedup_ops.dedup_clusters(docs, spread=False)


# ---------------------------------------------------------------------------
# q_sample_mix — deterministic stratified sampling / data mixing: keep each
# document of language s at rate MIX_WEIGHTS[s], decided by a portable hash
# threshold on doc_id (reproducible across runs/engines — no rand()).
# ---------------------------------------------------------------------------

MIX_WEIGHTS = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.25, "zh": 0.1}

_SAMPLE_MIX_ORACLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {sampling_ops.stratified_sample_sql(MIX_WEIGHTS, stratum_col="lang", id_col="doc_id")}
ORDER BY doc_id
"""


@declare("q_sample_mix", _SAMPLE_MIX_ORACLE)
def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    kept = sampling_ops.stratified_sample(docs, MIX_WEIGHTS, stratum_col="lang")
    return kept.select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# q_decontaminate — benchmark decontamination: training docs sharing any
# token 8-gram with the held-out benchmark subset (doc_id % 10 == 7), with
# the count of distinct shared 8-grams. The benchmark gram set broadcasts.
# ---------------------------------------------------------------------------

_DECONTAM_K = 8

_DECONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - {_DECONTAM_K - 1}, 1) + 1),
           i -> concat_ws(' ', {", ".join(f"t[i+{j}]" for j in range(_DECONTAM_K))})
         ))) AS gram
  FROM toks
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 7),
train AS (SELECT doc_id, gram FROM grams WHERE doc_id % 10 != 7)
SELECT t.doc_id, count(*) AS n_overlap
FROM train t JOIN bench b USING (gram)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


@declare("q_decontaminate", _DECONTAM_ORACLE)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 7)
    train = docs.filter(F.col("doc_id") % 10 != 7)
    return dedup_ops.decontaminate(train, bench, k=_DECONTAM_K)


# ---------------------------------------------------------------------------
# q_repetition — X5 repetition-quality signals (Gopher-rule analogs):
# type-token ratio, top-bigram fraction, repeated-trigram fraction. Pure
# per-row expressions over each document's own tokens — map-side at any
# corpus size.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
g AS (
  SELECT doc_id, t,
         list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                        i -> concat_ws(' ', t[i], t[i+1])) AS bg,
         list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                        i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS tg
  FROM toks
)
SELECT doc_id,
       CAST(len(t) AS INT) AS n_tokens,
       round(CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1), 6)
         AS type_token_ratio,
       round(CAST(list_max(list_transform(list_distinct(bg),
                   b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE)
             / greatest(len(bg), 1), 6) AS top_bigram_frac,
       round(CAST(len(list_filter(tg, t3 -> len(list_filter(tg, x -> x = t3)) > 1))
                  AS DOUBLE) / greatest(len(tg), 1), 6) AS rep3_frac
FROM g ORDER BY doc_id
"""


@declare("q_repetition", _REPETITION_ORACLE)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sig = textops.repetition_signals(F.col("text"))
    return docs.select(
        "doc_id", *[c.alias(name) for name, c in sig.items()]
    )


# ---------------------------------------------------------------------------
# q_dup_spans — X2 extension: cross-document duplicated w-token spans (the
# shuffle-bounded analog of suffix-array ExactSubstr dedup). Two shuffles:
# gram-hash doc-count, then duplicated-grams join back for per-doc coverage.
# ---------------------------------------------------------------------------

_DUP_SPAN_W = 8

_DUP_SPANS_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
  WHERE len(string_split(lower(text), ' ')) >= {_DUP_SPAN_W}
),
grams AS (
  SELECT doc_id,
         substr(md5(array_to_string(t[pos:pos+{_DUP_SPAN_W - 1}], ' ')), 1, 16)
           AS gram_hash
  FROM (SELECT doc_id, t,
               unnest(generate_series(1, len(t) - {_DUP_SPAN_W} + 1)) AS pos
        FROM toks)
),
dup AS (
  SELECT gram_hash FROM grams GROUP BY gram_hash
  HAVING count(DISTINCT doc_id) >= 2
),
per_doc AS (
  SELECT g.doc_id, count(*) AS dup_grams
  FROM grams g JOIN dup USING (gram_hash) GROUP BY g.doc_id
),
totals AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
)
SELECT t.doc_id, t.n_grams,
       CAST(coalesce(p.dup_grams, 0) AS BIGINT) AS dup_grams,
       round(CAST(coalesce(p.dup_grams, 0) AS DOUBLE) / t.n_grams, 6)
         AS dup_fraction
FROM totals t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
ORDER BY t.doc_id
"""


@declare("q_dup_spans", _DUP_SPANS_ORACLE)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup_ops.dup_span_stats(docs, w=_DUP_SPAN_W).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_bigram_lm — X5 extension: count-based bigram next-token table (corpus
# n-gram LM statistics). One pair-count shuffle; c(w1,*) and the top-n cut
# are windows over the aggregated pairs.
# ---------------------------------------------------------------------------

_BIGRAM_TOP_N = 3
_BIGRAM_MIN_LEFT = 20

_BIGRAM_LM_ORACLE = f"""
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS t FROM documents
),
pos AS (
  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks
  WHERE len(t) >= 2
),
counts AS (
  SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS pair_count
  FROM pos GROUP BY 1, 2
),
scored AS (
  SELECT w1, w2, pair_count,
         CAST(sum(pair_count) OVER (PARTITION BY w1) AS BIGINT) AS left_count
  FROM counts
)
SELECT w1, w2, pair_count, left_count,
       round(CAST(pair_count AS DOUBLE) / left_count, 6) AS cond_p,
       CAST(row_number() OVER (PARTITION BY w1 ORDER BY pair_count DESC, w2)
            AS INT) AS rank
FROM scored
WHERE left_count >= {_BIGRAM_MIN_LEFT}
QUALIFY rank <= {_BIGRAM_TOP_N}
ORDER BY w1, rank
"""


@declare("q_bigram_lm", _BIGRAM_LM_ORACLE)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textops.bigram_lm(
        docs, top_n=_BIGRAM_TOP_N, min_left=_BIGRAM_MIN_LEFT
    ).orderBy("w1", "rank")


# ---------------------------------------------------------------------------
# q_inactive_customers — X9: anti-join (NOT EXISTS) — customers with no
# urgent-priority order. The orders side aggregates to its distinct custkeys
# before the join; Spark plans a broadcast LEFT ANTI against the filtered
# key set, so the customer scan never shuffles.
# ---------------------------------------------------------------------------

_INACTIVE_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


@declare("q_inactive_customers", _INACTIVE_ORACLE)
def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    urgent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(
            F.broadcast(urgent), cust["c_custkey"] == urgent["o_custkey"], "left_anti"
        )
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q_pack_sequences — X16: concat-and-chunk sequence packing (per-shard token
# streams; the pretraining batch-assembly step). The only exchange is the
# hash partition by shard; offsets are a within-shard cumulative window.
# ---------------------------------------------------------------------------

_PACK_CTX = 512
_PACK_SHARDS = 8

_PACK_ORACLE = f"""
WITH sharded AS (
  SELECT doc_id,
         CAST(({det_hash_sql('doc_id')}) % {_PACK_SHARDS} AS INT) AS shard,
         CAST(len(string_split(lower(coalesce(text, '')), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
offs AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS e
  FROM sharded
)
SELECT doc_id, shard, n_tokens,
       CAST(e - n_tokens AS BIGINT) AS start_offset,
       CAST((e - n_tokens) // {_PACK_CTX} AS BIGINT) AS seq_id,
       CAST((e - n_tokens) % {_PACK_CTX} AS BIGINT) AS seq_pos,
       ((e - 1) // {_PACK_CTX}) > ((e - n_tokens) // {_PACK_CTX})
         AS crosses_boundary
FROM offs ORDER BY doc_id
"""


@declare("q_pack_sequences", _PACK_ORACLE)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return sampling_ops.pack_sequences(
        docs, ctx_len=_PACK_CTX, num_shards=_PACK_SHARDS
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_filter_funnel — X17: per-stage quality-gate survival counts (pipeline
# observability). One corpus pass: every stage counter is a conditional
# count in a single global aggregate, unpivoted to rows.
# ---------------------------------------------------------------------------

_QUALITY_EXPR_SQL = """
0.4 * least(1.0, len(string_split(lower(text), ' ')) / 50.0)
+ 0.3 * (len(list_filter(string_split(lower(text), ' '), w -> regexp_full_match(w, '[a-z]+')))
         / greatest(len(string_split(lower(text), ' ')), 1))
+ 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))
         / greatest(length(text), 1))
"""

_FUNNEL_ORACLE = f"""
WITH base AS (
  SELECT text, string_split(lower(text), ' ') AS tk,
       {_LANG_SCORE_COLS}
  FROM documents
),
flags AS (
  SELECT (len(tk) BETWEEN 20 AND 1000) AS f_len,
         ((CASE WHEN {_LANG_BEST} > 0 THEN {_LANG_CASE} ELSE 'und' END) = 'en') AS f_lang,
         (round({_QUALITY_EXPR_SQL}, 6) >= 0.5) AS f_qual,
         (round(CAST(len(list_distinct(tk)) AS DOUBLE) / greatest(len(tk), 1), 6) >= 0.4)
           AS f_rep
  FROM base
),
cum AS (
  SELECT f_len AS c0, f_len AND f_lang AS c1,
         f_len AND f_lang AND f_qual AS c2,
         f_len AND f_lang AND f_qual AND f_rep AS c3
  FROM flags
),
agg AS (
  SELECT count(*) AS n,
         count(*) FILTER (WHERE c0) AS p0,
         count(*) FILTER (WHERE c1) AS p1,
         count(*) FILTER (WHERE c2) AS p2,
         count(*) FILTER (WHERE c3) AS p3
  FROM cum
)
SELECT * FROM (
  SELECT 0 AS stage, 'length' AS name, n AS entering, p0 AS passing,
         round(CAST(p0 AS DOUBLE) / greatest(n, 1), 6) AS pass_rate FROM agg
  UNION ALL SELECT 1, 'lang', p0, p1, round(CAST(p1 AS DOUBLE) / greatest(p0, 1), 6) FROM agg
  UNION ALL SELECT 2, 'quality', p1, p2, round(CAST(p2 AS DOUBLE) / greatest(p1, 1), 6) FROM agg
  UNION ALL SELECT 3, 'repetition', p2, p3, round(CAST(p3 AS DOUBLE) / greatest(p2, 1), 6) FROM agg
) ORDER BY stage
"""


@declare("q_filter_funnel", _FUNNEL_ORACLE)
def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    n_toks = textops.ws_token_count(F.col("text"))
    ttr = textops.repetition_signals(F.col("text"))["type_token_ratio"]
    stages = [
        ("length", (n_toks >= 20) & (n_toks <= 1000)),
        ("lang", textops.predicted_lang(F.col("text")) == "en"),
        ("quality", textops.quality_score(F.col("text")) >= 0.5),
        ("repetition", ttr >= 0.4),
    ]
    return textops.filter_funnel(docs, stages).orderBy("stage")


# ---------------------------------------------------------------------------
# q_bm25 — X18: BM25 top-k keyword retrieval (Lucene idf form) over the
# documents table for a fixed keyword-query batch. The distinct query-term
# set broadcasts onto the exploded token stream; the only corpus-wide
# shuffle carries matching postings. Oracle-checked exactly (per-term
# scores accumulate as round-12 DECIMAL in both engines).
# ---------------------------------------------------------------------------

_BM25_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["vector", "scan", "fast"]),
    (2, ["customer", "order"]),
    (3, ["spark", "data", "big", "slow"]),
]
_BM25_K = 10

_BM25_ORACLE = f"""
WITH q(query_id, terms) AS (VALUES
  {", ".join(f"({qid}, {terms})" for qid, terms in _BM25_QUERIES)}),
d AS (
  SELECT doc_id, len(tk) AS dl, tk
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)
),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM d),
postings AS (
  SELECT doc_id, dl, term, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(tk) AS term FROM d)
  WHERE term IN (SELECT DISTINCT unnest(terms) FROM q)
  GROUP BY doc_id, dl, term
),
df_t AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
per_term AS (
  -- expression order mirrors the Spark build exactly (python pre-folds
  -- k1+1 -> 2.2 and 1-b -> 0.25): idf * (tf*2.2 / (tf + 1.2*(0.25 + 0.75*dl/avgdl)))
  SELECT p.doc_id, p.term,
         CAST(round(
           ln(1.0 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
           * ((p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))),
         12) AS DECIMAL(24,12)) AS s
  FROM postings p JOIN df_t f USING (term) CROSS JOIN stats s
),
qx AS (SELECT query_id, unnest(terms) AS term FROM q),
agg AS (
  SELECT query_id, doc_id,
         round(CAST(sum(s) AS DOUBLE), 6) AS score,
         CAST(count(*) AS INT) AS n_terms_hit
  FROM per_term JOIN qx USING (term)
  GROUP BY query_id, doc_id
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank,
       doc_id, score, n_terms_hit
FROM agg
QUALIFY rank <= {_BM25_K}
ORDER BY query_id, rank
"""


@declare("q_bm25", _BM25_ORACLE)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa

    docs = load_table(spark, "documents", sf_dir)
    qids, terms = zip(*_BM25_QUERIES)
    kw = spark.createDataFrame(pa.table({
        "query_id": pa.array(qids, pa.int64()),
        "terms": pa.array(terms, pa.list_(pa.string())),
    }))
    return textops.bm25_search(docs, kw, k=_BM25_K).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# q_lm_score — X19: per-document bigram-LM cross-entropy against the corpus
# LM (CCNet/KenLM-style quality signal). One exploded-bigram pass feeds the
# per-doc AND corpus aggregates; scoring joins on aggregated (unique-key)
# LM tables. Oracle-checked exactly (round-12 DECIMAL log-prob accumulation).
# ---------------------------------------------------------------------------

_LM_ALPHA = 0.5

_LM_ORACLE = f"""
WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
pos AS (
  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
        FROM d WHERE len(tk) >= 2)
),
doc_pairs AS (SELECT doc_id, w1, w2, count(*) AS c_doc FROM pos GROUP BY doc_id, w1, w2),
pair_counts AS (SELECT w1, w2, count(*) AS pair_count FROM pos GROUP BY w1, w2),
left_counts AS (SELECT w1, sum(pair_count) AS left_count FROM pair_counts GROUP BY w1),
vocab AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(tk) AS w FROM d)),
j AS (
  SELECT dp.doc_id, dp.c_doc,
         CAST(round(ln((pc.pair_count + {_LM_ALPHA}) / (lc.left_count + {_LM_ALPHA} * v.v)), 12)
              AS DECIMAL(24,12)) AS lp
  FROM doc_pairs dp
  JOIN pair_counts pc USING (w1, w2)
  JOIN left_counts lc USING (w1)
  CROSS JOIN vocab v
)
-- CAST: DuckDB sum(BIGINT) -> HUGEINT, which pandas renders float64 (24.0)
-- while Spark's BIGINT sum renders int64 (24) — hash-distinct. (r3 red row.)
SELECT doc_id, CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
       round(-CAST(sum(lp * c_doc) AS DOUBLE) / sum(c_doc), 6) AS cross_entropy
FROM j
GROUP BY doc_id
ORDER BY doc_id
"""


@declare("q_lm_score", _LM_ORACLE)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textops.lm_cross_entropy(docs, alpha=_LM_ALPHA).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_corpus_card — X20: per-source corpus report card (volume, token budget,
# language mix, mean quality, exact-dup rate) in ONE aggregate pass.
# ---------------------------------------------------------------------------

_CARD_ORACLE = f"""
WITH base AS (
  SELECT source, text, string_split(lower(text), ' ') AS tk,
       {_LANG_SCORE_COLS}
  FROM documents
),
per_doc AS (
  SELECT source,
         len(tk) AS nt,
         ((CASE WHEN {_LANG_BEST} > 0 THEN {_LANG_CASE} ELSE 'und' END) = 'en') AS is_en,
         CAST(round({_QUALITY_EXPR_SQL}, 6) AS DECIMAL(18,6)) AS q,
         md5(text) AS h
  FROM base
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,  -- HUGEINT->float64 otherwise (r3 red row)
       round(sum(nt) / count(*), 6) AS avg_tokens,
       round(count(*) FILTER (WHERE is_en) / count(*), 6) AS pct_en,
       round(CAST(sum(q) AS DOUBLE) / count(*), 6) AS mean_quality,
       round((count(*) - count(DISTINCT h)) / count(*), 6) AS dup_rate
FROM per_doc
GROUP BY source
ORDER BY source
"""


@declare("q_corpus_card", _CARD_ORACLE)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textops.corpus_card(docs).orderBy("source")


# ---------------------------------------------------------------------------
# q_project_knn — X21: two-stage kNN through a seeded Johnson-Lindenstrauss
# random projection (coarse candidates at proj_dim, exact refine at full
# dim). Deterministic given the seed but Box-Muller/GEMM are not
# SQL-expressible -> rows-only driver check; distance-preservation and
# clustered-corpus recall properties live in tests/test_projection.py.
# ---------------------------------------------------------------------------


@declare("q_project_knn")  # no oracle: approximate operator (§2.9 exclusion)
def q_project_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webscale_vector_search_spark.operators.projection import projected_knn

    corpus = load_table(spark, "embeddings", sf_dir)
    queries = queries_from_embeddings(spark, sf_dir, N_QUERIES)
    return projected_knn(corpus, queries, k=K, proj_dim=16, coarse_k=100)
