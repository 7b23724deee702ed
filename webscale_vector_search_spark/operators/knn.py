"""Exact kNN search as DataFrame transformations (K1-K4, SURVEY.md §2.3).

Reference behavior being re-expressed:
- K1 brute-force top-k by squared L2 over a shard: ``faiss_index.search(q, k)``
  (vector_search_cluster.py:593, IndexFlatL2 built at 1020-1021).
- K2 per-shard partial top-k: each ZMQ node returns its local k best (606-610).
- K3 global merge: coordinator concatenates shard results, sorts ascending on
  distance, truncates to k (``_merge_results``, 300-359).
- K4 id globalization: ``(shard_id, local_idx)`` tuples (332-334) — we carry
  the real source ``vec_id`` end-to-end instead (SURVEY.md hard-part (c)).

Spark-first shape: candidate generation is a join (cross join for exact FLAT,
centroid equi-join for IVF — see operators/ivf.py), distance is a codegen'd
SQL expression, and top-k is a rank window. K2→K3 is exactly Spark's
partial/final aggregate shape: the per-partition partial top-k happens
automatically via WindowGroupLimit pushdown (Spark >= 3.5) — each shuffle map
task keeps only its local k per query before the exchange, which is the
scatter-gather merge, minus the hand-written coordinator.

Scale posture (100 TB): queries are the broadcast side (a query batch is
always ≪ corpus); the corpus is never collected, never broadcast; the only
shuffle is the rank window's exchange on query_id, whose input has already
been cut to ≤ k rows per (query, map-partition) by the group-limit pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from webscale_vector_search_spark.functions.distance import cosine_distance, dot_product, sq_l2

_METRICS = {"sq_l2": sq_l2, "cosine": cosine_distance, "dot": dot_product}


def spread_if_narrow(
    df: DataFrame, min_ratio: int = 2, by: list[Column] | None = None
) -> DataFrame:
    """Round-robin repartition a compute-heavy input ONLY when its natural
    scan parallelism is materially below the cluster's.

    The exact kNN map stage does O(|corpus| x |queries| x dim) work per
    row, so its wall-clock is bounded by the SCAN's task count — and a
    corpus that arrives as one small unsplittable file (a single parquet
    row group; gzip text) pins the whole stage to one core regardless of
    cluster width (guide §2.5 "input skew": repartition immediately after
    the read). The guard keeps this a no-op at scale: a corpus already
    wider than the cluster keeps its layout and nothing is shuffled — the
    repartition only fires when the input is narrower than the cluster by
    `min_ratio`, where the one-pass shuffle of a tiny input buys cluster-
    width parallelism for the quadratic distance work. Derived from the
    session (defaultParallelism), never a local-mode constant.

    Results are partitioning-independent everywhere this is used: the
    distance is a per-row expression and every downstream top-k orders by
    a TOTAL key (distance, vec_id), so callers' outputs are bit-identical
    (pinned by tests/test_knn_spread.py).

    ``by``: optional hash-partition columns instead of round-robin. When
    the columns are a subset of a downstream window's partition keys, the
    window's own Exchange is elided (HashPartitioning satisfies its
    ClusteredDistribution), so the spread REPLACES a shuffle instead of
    adding one — and the map-side partial top-k emits exactly k rows per
    group instead of k per group per partition. Measured on
    q_knn_partial_final at sf0.1 (same box, alternating): by-shard 0.92 s
    vs round-robin 1.31 s vs unspread 1.10 s; parallelism is then bounded
    by the key cardinality, which is why it is opt-in per call site.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # exotic plans where the RDD view is unavailable
        return df
    if n * min_ratio <= par:
        return df.repartition(par, *by) if by else df.repartition(par)
    return df


def with_distance(
    df: DataFrame,
    left: str = "qvec",
    right: str = "embedding",
    metric: str = "sq_l2",
    out: str = "distance",
    decimals: int | None = 6,
) -> DataFrame:
    """Attach the rounded distance column (float policy §5.2).

    decimals=None skips rounding — for internal rankings that must tie-break
    identically to the unrounded numpy kernels (centroid assignment / probe
    selection); round-6 can flip an argmin on a rounding-boundary tie.
    """
    dist = _METRICS[metric](F.col(left), F.col(right))
    if metric == "dot":
        dist = -dist  # larger dot = better -> keep ascending-is-better ordering
    if decimals is not None:
        # + 0.0 canonicalizes IEEE signed zero (cosine self-match can round
        # to -0.0): equal under ==, distinct under the driver's value hash.
        # The DuckDB oracle twins apply the same normalization.
        dist = F.round(dist, decimals) + F.lit(0.0)
    return df.withColumn(out, dist)


def topk(
    scored: DataFrame,
    k: int,
    partition_cols: tuple[str, ...] = ("query_id",),
    order_cols: tuple[str, ...] = ("distance", "vec_id"),
    rank_col: str = "rank",
) -> DataFrame:
    """K3 — keep the k best rows per query by (distance, tie-break id).

    The explicit tie-break makes the ordering total, hence oracle-checkable;
    the reference's sort (341-342) is distance-only and tie-unstable.
    NULLS LAST: Spark's asc() is nulls-first, so a single NULL distance
    (one corrupt corpus row) would otherwise take rank 1 for EVERY query
    and displace a true neighbor; DuckDB's ASC is nulls-last, so this is
    also the oracle's ordering.
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_cols]
    )
    return scored.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "sq_l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact (FLAT) kNN: every query against every corpus vector.

    Result schema: (query_id, rank, neighbor_id, distance) — the relational
    form of the reference's response dict (353-359).

    The broadcast hint on ``queries`` turns the cross join into a
    BroadcastNestedLoopJoin: the corpus streams partition-parallel, queries
    ride along to every task. At 100 TB this is the only join shape that
    works — never the reverse.
    """
    pairs = spread_if_narrow(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    ).crossJoin(F.broadcast(queries.select("query_id", "qvec")))
    scored = with_distance(pairs, metric=metric)
    ranked = topk(scored, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )


def knn_sharded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_shards: int = 16,
    metric: str = "sq_l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shard_col: str | None = None,
) -> DataFrame:
    """K2→K3 — explicit per-shard partial top-k then global merge.

    Mirrors the scatter-gather lifecycle (coordinator fan-out 223-229, node
    search 593, merge 300-359) as two window ranks. Semantically REQUIRED to
    equal :func:`knn` exactly (the q_knn_partial_final merge property,
    SURVEY.md §2.9 #2). The shard column defaults to the engine's
    deterministic id-hash sharding (fixed quirk Q2).

    Parallelism note (ADVICE r13): the by-shard spread hash-partitions on
    shard_id, so the partial-top-k stage's effective width is capped at
    num_shards — size num_shards >= the cluster's parallelism when this
    operator should use the full cluster.
    """
    from webscale_vector_search_spark.functions.hashing import pmod_shard

    if shard_col is None:
        base = corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).withColumn("shard_id", pmod_shard(F.col("vec_id"), num_shards))
    else:
        base = corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.col(shard_col).alias("shard_id"),
        )

    # spread BY shard_id: hashpartitioning(shard_id) satisfies the K2
    # window's ClusteredDistribution(query_id, shard_id), so the partial
    # top-k Exchange is elided (2 exchanges total, not 3) and the partial
    # emits exactly k rows per (query, shard) — no per-partition inflation
    # through the K3 merge. Measured faster than both round-robin and
    # unspread (see spread_if_narrow docstring).
    pairs = spread_if_narrow(base, by=[F.col("shard_id")]).crossJoin(
        F.broadcast(queries.select("query_id", "qvec"))
    )
    scored = with_distance(pairs, metric=metric)
    # K2: partial top-k inside each shard (what each search node returns)
    partial = topk(
        scored,
        k,
        partition_cols=("query_id", "shard_id"),
        order_cols=("distance", "vec_id"),
        rank_col="shard_rank",
    )
    # K3: global merge across shards; tie-break (distance, shard_id, vec_id)
    # like the reference merge's stable concat order, but total
    merged = topk(
        partial.drop("shard_rank"),
        k,
        partition_cols=("query_id",),
        order_cols=("distance", "vec_id"),
        rank_col="rank",
    )
    return merged.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("shard_id").cast("int").alias("shard_id"),
        "distance",
    )


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    metric: str = "sq_l2",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    vec_col: str = "embedding",
    spread: bool = False,
) -> DataFrame:
    """X3 — all pairs within a distance threshold (vec × vec).

    Exact form; the scale path replaces the cross join with the IVF
    centroid equi-join (operators/ivf.py) or LSH banding (operators/dedup.py).

    INPUT-SIZE CONTRACT: this is the O(|left| x |right|) exact form — cap
    the inputs to parity-check sizes (the engine's callers cap at a few
    hundred rows). ``spread`` defaults False per measurement (the added
    exchange loses on capped inputs, ADVICE r13); an uncapped caller with a
    large single-row-group ``right`` should pass spread=True so the
    quadratic distance stage is not pinned to one task.
    """
    l = left.select(F.col(left_id).alias("left_id"), F.col(vec_col).alias("qvec"))
    r = right.select(F.col(right_id).alias("right_id"), F.col(vec_col).alias("embedding"))
    if spread:
        r = spread_if_narrow(r)
    pairs = r.crossJoin(F.broadcast(l))
    scored = with_distance(pairs, metric=metric)
    return scored.filter(F.col("distance") < threshold).select("left_id", "right_id", "distance")


def list_matrix(batch, col: str, dtype=None):
    """(n, width) numpy matrix from a fixed-width list<primitive> column of a
    pyarrow RecordBatch — near-zero-copy via Arrow value-buffer flatten.

    The pandas route (``np.stack(pdf[col].to_numpy())``) rebuilds the matrix
    from n per-row object arrays — measured ~50x slower than flattening the
    Arrow child buffer (0.64 s vs 0.012 s on a 400k x 16 codes column). All
    engine list columns are fixed-width (schema invariant: size(vec) = dim),
    so the reshape is exact; ``flatten()`` honors slice offsets.
    """
    import numpy as np

    arr = batch.column(batch.schema.get_field_index(col))
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    n = len(arr)
    width = flat.size // n if n else 0
    out = flat.reshape(n, width)
    return out if dtype is None else out.astype(dtype, copy=False)


def matrix_list(M, dtype="float32"):
    """list_matrix's inverse: the fixed-width list<dtype> Arrow column of
    a 2-D matrix, built from one offsets buffer (no per-row objects)."""
    import numpy as np
    import pyarrow as pa

    M = np.ascontiguousarray(M, dtype=dtype)
    offsets = np.arange(0, M.size + 1, M.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(M.ravel()))


def segment_iter(values):
    """Yield (value, row_index_array) per distinct value via ONE argsort.

    Replaces the per-list ``np.unique`` + ``np.where(values == v)`` pattern,
    which rescans the whole batch once per distinct value (O(lists x rows));
    this is O(rows log rows) total. Iteration order is ascending by value —
    deterministic, matching np.unique.
    """
    import numpy as np

    order = np.argsort(values, kind="stable")
    sorted_vals = values[order]
    starts = np.flatnonzero(np.r_[True, sorted_vals[1:] != sorted_vals[:-1]])
    bounds = np.r_[starts, sorted_vals.size]
    for i, s in enumerate(starts):
        yield sorted_vals[s], order[s : bounds[i + 1]]


def topk_record_batch(parts):
    """Assemble per-list batch_topk_rows dicts into one output RecordBatch."""
    import numpy as np
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {
            key: np.concatenate([p[key] for p in parts])
            for key in ("query_id", "vec_id", "distance")
        },
        schema=pa.schema(
            [("query_id", pa.int64()), ("vec_id", pa.int64()), ("distance", pa.float64())]
        ),
    )


def batch_topk_rows(dist, ids, q_ids, k: int, tie_margin: int = 64):
    """Deterministic batch-local top-k for the numpy kernels.

    argpartition alone resolves distance ties arbitrarily at the cut
    boundary, which would make kernel results differ from the SQL window's
    (distance, vec_id) total order. So: over-keep k + tie_margin candidates,
    then ONE flat lexsort of the kept slice keyed (query-row, rounded
    distance, vec_id) and emit the first k per query — bit-stable as long
    as no tie group spans more than tie_margin equal distances across the
    boundary. The flat lexsort replaces the r1-r12 per-query loop (one
    lexsort call per query): the primary key is the already-sorted query
    row, so each query's rows stay contiguous and in exactly the loop's
    (distance, vec_id) order — parity pinned across all kernel shapes by
    tests/test_topk_kernel.py. Measured 1.5-3x on the multi-query shapes
    (FLAT batches, IVF cells with few probing queries); parity at nq=1.

    dist: (nq, n) float64; ids: (n,) int64; returns dict of flat columns.
    """
    import numpy as np

    nq, n = dist.shape
    keep = min(k + tie_margin, n)
    part = np.argpartition(dist, keep - 1, axis=1)[:, :keep] if keep < n else (
        np.broadcast_to(np.arange(n), (nq, n)).copy()
    )
    d = np.round(np.take_along_axis(dist, part, axis=1), 6)
    cand_ids = ids[part]
    qrow = np.repeat(np.arange(nq), keep)
    flat_order = np.lexsort((cand_ids.ravel(), d.ravel(), qrow))
    take = min(k, keep)
    top = flat_order.reshape(nq, keep)[:, :take].ravel()
    d_flat, id_flat = d.ravel()[top], cand_ids.ravel()[top]
    fin = np.isfinite(d_flat)
    return {
        "query_id": np.repeat(q_ids, take)[fin],
        "vec_id": id_flat[fin],
        "distance": d_flat[fin],
    }


def knn_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    spread: bool = False,
) -> DataFrame:
    """Exact kNN via a vectorized numpy kernel (the bench fast path).

    Same partial/final shape as :func:`knn`, but the distance + batch-local
    top-k run as one BLAS pass per Arrow batch instead of interpreted SQL
    higher-order functions (aggregate/zip_with disable whole-stage codegen).
    The query batch is collected to a closure array — queries are always the
    small side (bounded batch), the corpus streams partition-parallel and is
    never shuffled before its per-batch top-k.

    Distances use the dot-product expansion in float64; after round(6) they
    agree with the SQL kernel except at exact rounding boundaries (~1e-13
    relative), so oracle-checked queries keep the SQL form
    (search_index(kernel=...) selects per job).
    """
    import numpy as np
    from pyspark.sql import types as T

    q_rows = queries.select("query_id", "qvec").collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in q_rows]).astype(np.float64)  # (nq, dim)
    q_sq = (Q * Q).sum(axis=1)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("distance", T.DoubleType()),
        ]
    )

    def scan(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = list_matrix(batch, vec_col, dtype=np.float64)  # (n, dim)
            ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy()
            # in-place assembly (bit-identical: IEEE add is commutative,
            # *2 is exact) — one fewer (nq, n) float64 temporary per batch
            dist = Q @ V.T
            dist *= -2.0
            dist += q_sq[:, None]
            dist += (V * V).sum(axis=1)[None, :]
            np.maximum(dist, 0.0, out=dist)  # clamp -0.0-ish fp residue
            yield topk_record_batch([batch_topk_rows(dist, ids, q_ids, k)])

    # spread defaults OFF (measured, guide §1): the kernel is one numpy GEMM
    # per Arrow batch — already vectorized native code, so a single task
    # chews the whole narrow input faster than 32 tasks pay the exchange +
    # per-task Arrow/python round-trips (sf0.1 A/B: 0.53 s unspread vs
    # 0.89 s spread for the exact-kNN shape, 0.66 vs 0.83 for the all-pairs
    # batch shape). The SQL fold form (knn/knn_sharded) keeps the spread:
    # its per-row interpreted fold is what the extra width actually buys
    # down. `spread=True` is the opt-in for a genuinely large unsplittable
    # corpus (ADVICE r13), where GEMM time dominates the exchange.
    narrowed = corpus.select(id_col, vec_col)
    if spread:
        narrowed = spread_if_narrow(narrowed)
    partial = narrowed.mapInArrow(scan, out_schema)
    ranked = topk(partial, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )
