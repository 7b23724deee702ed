"""Explicit StructType schemas for every table the engine touches.

The reference's schema system is fixed and implicit — `vector_dim` is a
constructor arg that nothing validates (vector_search_cluster.py:523-563 never
checks index.d == vector_dim; SURVEY.md §1.3). Here every ingest validates
against an explicit schema, and vectors are plain SQL ``ARRAY<FLOAT>`` (not
MLlib VectorUDT) so every operator stays expressible in Spark SQL and
oracle-checkable in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- vector domain -------------------------------------------------------

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)

# query batch: the Spark-native query unit (a single query = 1-row DataFrame);
# reference equivalent: QueryRequest {vector, k, all_shards} (761-764)
QUERIES = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("qvec", T.ArrayType(T.FloatType())),
    ]
)

# search result: relational form of the reference's response dict (353-359)
RESULTS = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("distance", T.DoubleType()),
    ]
)

# index metadata sidecar — same fields as shards_metadata.json (1056-1066)
INDEX_METADATA = T.StructType(
    [
        T.StructField("num_shards", T.IntegerType()),
        T.StructField("index_type", T.StringType()),
        T.StructField("vector_dim", T.IntegerType()),
        T.StructField("total_vectors", T.LongType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("nlist", T.IntegerType()),
        T.StructField("pq_m", T.IntegerType()),
    ]
)

# ---- text / stream / relational fixtures ---------------------------------

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def validated_count(df, dim: int, col: str = "embedding") -> int:
    """Ingest-time dimension check the reference lacks (§1.3), fused with
    the row count: ONE aggregate returns both the number of rows and the
    number violating ``size(col) = dim``. Raises if any row violates it;
    returns the row count."""
    from pyspark.sql import functions as F

    # size(NULL) is NULL, which a bare != would silently drop — NULL vectors
    # must fail ingest too, not crash a numpy kernel later
    bad = F.col(col).isNull() | (F.size(F.col(col)) != dim)
    n, n_bad = df.agg(
        F.count(F.lit(1)), F.count(F.when(bad, 1))
    ).first()
    if n_bad:
        raise ValueError(f"vector column {col!r} has NULL rows or rows with size != {dim}")
    return n


def validate_vectors(df, dim: int, col: str = "embedding"):
    """validated_count's check alone: returns the DataFrame unchanged;
    raises if any row violates ``size(col) = dim``."""
    validated_count(df, dim, col)
    return df
