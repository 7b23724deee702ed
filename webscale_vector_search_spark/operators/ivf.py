"""IVF (inverted-file) index operators: K5/K6 + the §4.2 probe-pruning rewrite.

Reference behaviors re-expressed (SURVEY.md §2.3):
- K5 coarse-quantizer training: FAISS k-means with nlist = max(100, floor(sqrt(n)))
  (vector_search_cluster.py:1023-1031). Here: seeded k-means on a documented
  sample fraction of the FULL corpus — fixing quirk Q7 (the reference's
  streaming builder trains on only the first batch, 1156-1159). MLlib draws
  the k-means|| start; the Lloyd iterations run in numpy on the driver over
  the same sampled rows, as the reference trains each shard in one process.
- K6 assign + probe search: assign every vector to its nearest centroid; at
  query time scan only the nprobe nearest inverted lists
  (nprobe = min(64, max(1, nlist // 8)) at 549).

Centroid tables travel in two forms: a (centroid_id INT, cvec ARRAY<FLOAT>)
DataFrame, or the (c_ids int64, C float64) numpy pair `centroid_arrays`
returns. The kernels accept either; the build keeps the numpy form, so
after the fit the centers never round-trip through Spark.

Physical plan (the whole point at 100 TB):
1. centroids are tiny (nlist <= ~10^4) -> broadcast; probe selection is a
   BroadcastNestedLoopJoin of the query batch x centroids + rank window.
2. candidate generation is corpus JOIN broadcast(probes) ON centroid_id —
   a BroadcastHashJoin: the corpus NEVER shuffles. With the corpus Parquet
   partitioned by centroid_id, Catalyst's dynamic partition pruning skips
   every non-probed list at scan time — this IS FAISS's inverted-list scan,
   expressed relationally.
3. exact distance + global top-k window on the surviving ~nprobe/nlist
   fraction of the corpus.

`all_shards=True` of the reference degenerates to nprobe = nlist = exact scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscale_vector_search_spark.operators.knn import topk, with_distance


def centroid_arrays(centroids) -> tuple:
    """(c_ids int64, C float64), sorted by centroid_id, from a centroid
    table DataFrame or an already-split (c_ids, C) pair (returned as is).
    The DataFrame is collected unsorted and ordered here: an orderBy would
    cost a job even on a driver-local table."""
    if isinstance(centroids, tuple):
        return centroids
    rows = centroids.collect()
    c_ids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    C = np.array([r["cvec"] for r in rows], dtype=np.float64)
    order = np.argsort(c_ids, kind="stable")
    return c_ids[order], C[order]


def query_arrays(queries) -> tuple:
    """(q_ids int64, Q float64) of a (query_id, qvec) DataFrame, collected
    in one action, or an already-collected pair (returned as is)."""
    if isinstance(queries, tuple):
        return queries
    rows = queries.select("query_id", "qvec").collect()
    q_ids = np.array([r["query_id"] for r in rows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in rows]).astype(np.float64)
    return q_ids, Q


def centroids_frame(spark: SparkSession, cents: tuple) -> DataFrame:
    """The (centroid_id INT, cvec ARRAY<FLOAT>) DataFrame of a numpy pair —
    built from Arrow, so it is a driver-local relation and costs no job."""
    from webscale_vector_search_spark.sources.index_io import centroid_table

    return spark.createDataFrame(centroid_table(*cents))


# Driver memory the Lloyd iterations may hold as float64 training rows; the
# row cap is this over 8 * dim (524,288 rows at dim 64).
DRIVER_TRAIN_BYTES = 256 << 20
# MLlib KMeans' defaults, which the driver-side loop keeps.
LLOYD_MAX_ITER = 20
LLOYD_TOL = 1e-4
# Elements of one (rows x centers) distance block.
_LLOYD_BLOCK = 1 << 22


def train_centroid_arrays(
    corpus: DataFrame,
    nlist: int,
    seed: int = 42,
    sample_fraction: float = 0.2,
    vec_col: str = "embedding",
) -> tuple:
    """K5 — fit nlist centroids by seeded k-means on a sample of the corpus.

    MLlib KMeans with maxIter=0 draws the k-means|| start on the seeded
    sample (distributed, and independent of maxIter). The sample is then
    collected once and `lloyd` runs MLlib's iterations on the driver, so the
    centers are MLlib's own and the job count does not grow with the
    iteration count. At most DRIVER_TRAIN_BYTES of float64 rows reach the
    driver: a larger sample is cut to a seeded uniform subsample of that
    many rows, and polish_centroids is the full-corpus refinement.

    Returns the (c_ids, C) pair (see centroid_arrays), C rounded to the
    float32 the centroid table stores, so assignment and serving use
    identical values. MLlib can return fewer than nlist centers (fewer
    distinct points than nlist), so callers size the index from the result."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from webscale_vector_search_spark.operators.knn import list_matrix

    sample = corpus.select(vec_col)
    if sample_fraction < 1.0:
        sample = sample.sample(fraction=sample_fraction, seed=seed)
    train = sample.select(array_to_vector(F.col(vec_col)).alias("features"))
    C0 = np.array(KMeans(k=nlist, seed=seed, maxIter=0).fit(train).clusterCenters())
    cap = max(1, DRIVER_TRAIN_BYTES // (8 * C0.shape[1]))
    # the same Sample operator and seed give the same rows on re-evaluation
    rows = sample.limit(cap + 1).toArrow()
    if rows.num_rows > cap:
        rows = sample.orderBy(F.rand(seed)).limit(cap).toArrow()
    X = list_matrix(rows.combine_chunks().to_batches()[0], vec_col, dtype=np.float64)
    C = lloyd(X, C0).astype(np.float32).astype(np.float64)
    return np.arange(len(C), dtype=np.int64), C


def lloyd(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """MLlib's Lloyd loop (KMeans.runAlgorithmWithWeight) on the driver:
    nearest center by squared L2, ties to the lowest index; a center
    becomes its rows' sum scaled by 1/count (MLlib scales by the
    reciprocal); a center with no rows keeps its value; stop once every
    updated center moved at most LLOYD_TOL (squared distance <= LLOYD_TOL^2)
    or after LLOYD_MAX_ITER iterations. Distances run in row blocks of
    _LLOYD_BLOCK elements, so memory stays bounded at any nlist."""
    C = np.array(C, dtype=np.float64)
    k = len(C)
    step = max(1, _LLOYD_BLOCK // k)
    x_sq = (X * X).sum(axis=1)
    for _ in range(LLOYD_MAX_ITER):
        c_sq = (C * C).sum(axis=1)
        sums = np.zeros_like(C)
        counts = np.zeros(k, dtype=np.int64)
        for s in range(0, len(X), step):
            Xb = X[s : s + step]
            d = x_sq[s : s + step, None] - 2.0 * (Xb @ C.T) + c_sq[None, :]
            labels = d.argmin(axis=1)
            counts += np.bincount(labels, minlength=k)
            np.add.at(sums, labels, Xb)
        hit = counts > 0
        new = sums[hit] * (1.0 / counts[hit])[:, None]
        moved = ((new - C[hit]) ** 2).sum(axis=1)
        C[hit] = new
        if (moved <= LLOYD_TOL * LLOYD_TOL).all():
            break
    return C


def train_centroids(
    spark: SparkSession,
    corpus: DataFrame,
    nlist: int,
    seed: int = 42,
    sample_fraction: float = 0.2,
    vec_col: str = "embedding",
) -> DataFrame:
    """train_centroid_arrays as a (centroid_id INT, cvec ARRAY<FLOAT>)
    DataFrame (driver-local, no job to read)."""
    return centroids_frame(
        spark, train_centroid_arrays(corpus, nlist, seed, sample_fraction, vec_col)
    )


def assign_centroids(
    corpus: DataFrame, centroids, vec_col: str = "embedding"
) -> DataFrame:
    """K6 (assign) — nearest centroid per vector, as a map-only numpy kernel.

    `centroids` is a centroid table DataFrame or a (c_ids, C) pair
    (centroid_arrays). It is tiny; it ships to every task as a closure array and
    the argmin runs vectorized over Arrow batches ((v-c)^2 via the dot-product
    expansion). NO shuffle, NO join — at 100 TB this is a single pass over
    the corpus. Ties break to the lowest centroid_id (matches the SQL
    reference form below). Output: corpus columns + centroid_id INT.
    """
    from pyspark.sql import types as T

    # REAL ids, not argmin positions: centroid tables can be non-dense
    # (split_oversized_lists retires parents and adds children past the
    # old max id) — a positional label would file vectors into wrong or
    # retired lists. Sorted order keeps the tie-break at the lowest id.
    c_ids, C = centroid_arrays(centroids)  # (nlist,), (nlist, dim)
    c_ids = c_ids.astype(np.int32)
    c_sq = (C * C).sum(axis=1)
    schema = T.StructType(list(corpus.schema.fields) + [T.StructField("centroid_id", T.IntegerType())])

    def assign(batches):
        import pyarrow as pa

        from webscale_vector_search_spark.operators.knn import list_matrix

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = list_matrix(batch, vec_col, dtype=np.float64)  # (n, dim)
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c_sq[None, :]
            labels = c_ids[d.argmin(axis=1)]
            yield batch.append_column(
                pa.field("centroid_id", pa.int32()), pa.array(labels, pa.int32())
            )

    return corpus.mapInArrow(assign, schema)


def polish_centroids(
    corpus: DataFrame, centroids, iters: int = 1, vec_col: str = "embedding"
) -> DataFrame:
    """K5 refinement — exact full-corpus Lloyd iteration(s) on the coarse
    quantizer (`centroids`: a table DataFrame or a (c_ids, C) pair).

    train_centroid_arrays fits on a sample, and on at most
    DRIVER_TRAIN_BYTES of it; with nlist ~ sqrt(n) that leaves only tens of
    sample points per list, and the centroid noise inflates residual
    magnitudes (directly costing IVFPQ ADC recall — measured +0.1
    recall@10 per polish pass at the 1M bench tier) and skews list
    occupancy. Each iteration is the exact Lloyd update at FULL corpus
    scale:

      fused assign+partial-sum map pass (<= nlist partial rows per task) ->
      groupBy centroid_id, deterministic elementwise fold -> new centers.

    Cost per iter: one corpus scan + a shuffle of O(tasks x nlist) small
    rows. At 100 TB the scan dominates and nothing corpus-sized shuffles or
    reaches the driver. Empty lists keep their previous center. The fold
    sorts partials by task partition id before summing, so centers are
    bit-deterministic for a fixed corpus partitioning.
    """
    from pyspark.sql import types as T

    c_ids, C = centroid_arrays(centroids)
    nlist, dim = C.shape

    for _ in range(iters):
        c_sq = (C * C).sum(axis=1)
        Cc = C  # capture current centers (loop var rebinding)

        partial_schema = T.StructType(
            [
                T.StructField("slot", T.IntegerType()),
                T.StructField("part_id", T.IntegerType()),
                T.StructField("psum", T.ArrayType(T.DoubleType())),
                T.StructField("cnt", T.LongType()),
            ]
        )

        def partials_kernel(batches, _C=Cc, _c_sq=c_sq):
            import pyarrow as pa
            from pyspark import TaskContext

            from webscale_vector_search_spark.operators.knn import list_matrix

            part_id = TaskContext.get().partitionId()
            sums = np.zeros((len(_C), dim))
            counts = np.zeros(len(_C), dtype=np.int64)
            seen = False
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                seen = True
                V = list_matrix(batch, vec_col, dtype=np.float64)
                d = _c_sq[None, :] - 2.0 * (V @ _C.T)  # row-constant term dropped
                labels = d.argmin(axis=1)
                counts += np.bincount(labels, minlength=len(_C))
                for t in range(dim):
                    sums[:, t] += np.bincount(labels, weights=V[:, t], minlength=len(_C))
            if not seen:
                return
            slots = np.where(counts > 0)[0]
            yield pa.RecordBatch.from_pydict(
                {
                    "slot": pa.array(slots.astype(np.int32), pa.int32()),
                    "part_id": pa.array(
                        np.full(len(slots), part_id, dtype=np.int32), pa.int32()
                    ),
                    "psum": pa.array([sums[s].tolist() for s in slots]),
                    "cnt": pa.array(counts[slots], pa.int64()),
                }
            )

        partials = corpus.select(vec_col).mapInArrow(partials_kernel, partial_schema)
        zero = F.expr(f"array_repeat(CAST(0.0 AS DOUBLE), {dim})")
        folded = (
            partials.groupBy("slot")
            .agg(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("part_id", "psum"))),
                        lambda x: x["psum"],
                    ),
                    zero,
                    lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                ).alias("vsum"),
                F.sum("cnt").alias("n"),
            )
            .collect()
        )
        C = C.copy()
        for r in folded:  # <= nlist rows on the driver, like train_centroids
            C[r["slot"]] = np.array(r["vsum"]) / r["n"]

    return centroids_frame(corpus.sparkSession, (c_ids, C))


def assign_centroids_sql(
    corpus: DataFrame, centroids: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Pure-SQL reference form of :func:`assign_centroids` (broadcast
    crossJoin + min_by). Used by tests to cross-check the numpy kernel;
    the groupBy re-shuffles the corpus, so the kernel is the scale path."""
    paired = corpus.crossJoin(F.broadcast(centroids))
    # unrounded: must tie-break identically to the numpy kernel's argmin
    scored = with_distance(paired, left="cvec", right=vec_col, out="_cdist", decimals=None)
    return (
        scored.groupBy(*corpus.columns)
        .agg(F.min_by("centroid_id", F.struct("_cdist", "centroid_id")).alias("centroid_id"))
    )


def select_probes(
    queries: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """K6 (probe selection) — top-nprobe nearest centroids per query.

    Output: (query_id, qvec, centroid_id) — one row per probed list.
    """
    paired = queries.crossJoin(F.broadcast(centroids))
    # unrounded: matches the driver-side unrounded probe selection in the
    # pandas/ADC kernels (round-6 could pick a different centroid on a tie)
    scored = with_distance(paired, left="qvec", right="cvec", out="_cdist", decimals=None)
    probes = topk(
        scored,
        nprobe,
        partition_cols=("query_id",),
        order_cols=("_cdist", "centroid_id"),
        rank_col="_probe_rank",
    )
    return probes.select("query_id", "qvec", "centroid_id")


def ivf_search(
    corpus_with_centroid: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K6 (search) — probe-pruned approximate kNN.

    The probes DataFrame is tiny (|queries| x nprobe) and broadcasts; the
    corpus-side equi-join on centroid_id prunes to the probed lists (and
    prunes *partitions* when the corpus is stored partitioned by
    centroid_id). Result schema matches knn(): (query_id, rank, neighbor_id,
    distance).
    """
    probes = select_probes(queries, centroids, nprobe)
    candidates = corpus_with_centroid.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"), "centroid_id"
    ).join(F.broadcast(probes), "centroid_id")
    scored = with_distance(candidates)
    ranked = topk(scored, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> float:
    """Recall harness metric (SURVEY.md §5.2 #3): |approx ∩ exact| / |exact|
    over the top-k neighbor ids per query."""
    a = approx.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    hit = a.join(e, ["query_id", "neighbor_id"]).count()
    total = e.count()
    return hit / total if total else 0.0


def probe_order(Q: np.ndarray, C: np.ndarray):
    """(qc2, order): qc2[q, l] = ||Q[q] - C[l]||^2 and each query's centroid
    slots in probe order — a stable argsort of the unrounded qc2, so ties
    keep slot order. The one ordering the probe selector and the recall
    curve's cell ranks share."""
    qc2 = (Q * Q).sum(1)[:, None] - 2.0 * (Q @ C.T) + (C * C).sum(1)[None, :]
    return qc2, np.argsort(qc2, axis=1, kind="stable")


class DriverProbes:
    """Driver-side probe selection shared by the numpy search kernels
    (ivf_search_pandas, pq.adc_search, and serve_local's driver-resident
    kernels). Both inputs are tiny (a query batch and <= ~65k centroids),
    so the queries x centroids argsort runs in milliseconds on the driver
    and ships to tasks as closure arrays. `centroids` is a centroid table
    DataFrame or the (c_ids, C) pair (centroid_arrays); a Spark caller
    collects its query batch first (query_arrays)."""

    def __init__(self, q_ids: np.ndarray, Q: np.ndarray, centroids, nprobe: int):
        self.q_ids, self.Q = q_ids, Q
        self.c_ids, self.C = centroid_arrays(centroids)
        nq, nlist = len(self.q_ids), len(self.c_ids)
        # qc2 is also the coarse term of the residual ADC decomposition in
        # pq.adc_search
        self.qc2, order = probe_order(self.Q, self.C)
        order = order[:, : min(nprobe, nlist)]
        # CSR-style probe lists: centroid_id -> ascending query-row indices.
        # Total size O(nq * nprobe) — a dense (nq x max_centroid_id) bool
        # mask rides every task closure and bloats at nlist 10^5-10^6 x
        # large batches; the kernels only ever ask "which queries probe
        # list cv", which this answers in one dict lookup.
        probed_ids_per_q = self.c_ids[order]  # (nq, nprobe')
        qi_rep = np.repeat(np.arange(nq, dtype=np.int64), order.shape[1])
        flat_cids = probed_ids_per_q.ravel()
        by_cid = np.argsort(flat_cids, kind="stable")  # stable keeps qi ascending per cid
        sorted_cids = flat_cids[by_cid]
        sorted_qis = qi_rep[by_cid]
        bounds = np.flatnonzero(np.diff(sorted_cids)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(sorted_cids)]))
        self.probe_lists = {
            int(sorted_cids[s]): sorted_qis[s:e] for s, e in zip(starts, ends)
        }
        self.probed_lists = sorted(self.probe_lists)
        # centroid_id -> row index in C (ids are dense in practice, but the
        # slot map keeps the kernels correct for any id set)
        self.slot_of = np.full(int(self.c_ids.max()) + 1, -1, dtype=np.int64)
        self.slot_of[self.c_ids] = np.arange(nlist)

    def prune(self, corpus_with_centroid: DataFrame) -> DataFrame:
        """Static partition pruning to the union of probed lists."""
        return corpus_with_centroid.filter(F.col("centroid_id").isin(self.probed_lists))


def ivf_search_pandas(
    corpus_with_centroid: DataFrame,
    centroids,
    queries,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K6 fast path — probe-pruned search with NO candidate join.

    Probe selection runs driver-side on the two tiny tables (queries x
    centroids, numpy). The corpus scan is then:
      1. statically pruned to the union of probed lists
         (`centroid_id IN (...)` — a plain partition filter, cheaper than
         the join + dynamic pruning of :func:`ivf_search`), and
      2. scored one inverted list at a time: each Arrow batch (usually a
         single centroid_id — the index is written partitioned by it) runs
         a sub-GEMM of ONLY the queries probing that list. Compute is
         therefore ~nprobe/nlist of the exact scan even when a diverse
         query batch forces the IO union wide — the masked-full-GEMM form
         this replaces paid exact-scan FLOPs whenever the batch's probed
         union covered most lists.

    The join-based :func:`ivf_search` remains the pure-DataFrame reference
    form (used by the SQL-determinism tests); this is the bench/scale path —
    same recall, same results, map-only. `centroids` and `queries` are
    DataFrames or their collected numpy pairs (centroid_arrays,
    query_arrays).
    """
    from pyspark.sql import types as T

    probes = DriverProbes(*query_arrays(queries), centroids, nprobe)
    q_ids, Q, probe_lists = probes.q_ids, probes.Q, probes.probe_lists
    pruned = probes.prune(corpus_with_centroid)
    q_sq = (Q * Q).sum(1)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("distance", T.DoubleType()),
        ]
    )

    def scan(batches):
        from webscale_vector_search_spark.operators.knn import (
            batch_topk_rows,
            list_matrix,
            segment_iter,
            topk_record_batch,
        )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = list_matrix(batch, vec_col, dtype=np.float64)
            ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy()
            cent = batch.column(batch.schema.get_field_index("centroid_id")).to_numpy()
            parts = []
            for cv, rows in segment_iter(cent.astype(np.int64, copy=False)):
                qsel = probe_lists.get(cv)
                if qsel is None:
                    continue
                Vc = V[rows]
                d = (
                    q_sq[qsel][:, None]
                    - 2.0 * (Q[qsel] @ Vc.T)
                    + (Vc * Vc).sum(1)[None, :]
                )
                np.maximum(d, 0.0, out=d)
                parts.append(batch_topk_rows(d, ids[rows], q_ids[qsel], k))
            if parts:
                yield topk_record_batch(parts)

    partial = pruned.select(id_col, vec_col, "centroid_id").mapInArrow(scan, out_schema)
    from webscale_vector_search_spark.operators.knn import topk

    ranked = topk(partial, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )


def _local_kmeans(V, k: int, seed: int, iters: int = 8):
    """Tiny seeded Lloyd (k-means++ init) for sub-quantizer fits on one
    list's SAMPLE — runs inside a task, numpy only. Returns only non-empty
    centers (k is an upper bound)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(V)
    k = min(k, n)
    # k-means++ seeding
    centers = [V[int(rng.integers(n))]]
    d2 = ((V - centers[0]) ** 2).sum(1)
    for _ in range(1, k):
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centers.append(V[int(rng.choice(n, p=probs))])
        d2 = np.minimum(d2, ((V - centers[-1]) ** 2).sum(1))
    C = np.stack(centers)
    for _ in range(iters):
        d = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
        labels = d.argmin(1)
        for j in range(len(C)):
            pts = V[labels == j]
            if len(pts):
                C[j] = pts.mean(0)
    # drop empty clusters so every returned center owns rows
    d = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
    used = np.unique(d.argmin(1))
    return C[used]


def split_oversized_lists(
    spark: SparkSession,
    assigned: DataFrame,
    centroids,
    max_list_factor: float,
    seed: int = 42,
    vec_col: str = "embedding",
    sample_per_center: int = 256,
    max_passes: int = 3,
):
    """Build-time skew hardening: cap inverted-list sizes by splitting hot
    lists into sub-lists (FAISS's two-level coarse quantizer analog).

    Natural corpora give power-law list occupancy; one giant list makes
    every probe of it a straggler task (the probe's segment-GEMM is
    O(list_size)) and inflates its residual magnitudes (costing IVFPQ ADC
    recall). Lists larger than cap = max_list_factor * n/nlist_original
    are re-clustered into ceil(size/cap) sub-centers fit on a bounded
    deterministic sample of the list's OWN vectors; the parent centroid is
    retired and the sub-centers join the centroid table under fresh ids.
    Probe selection needs no special handling — a query near the old hot
    centroid simply finds several of its sub-centers in the top-nprobe.

    The split RECURSES (up to `max_passes`): a hot list that holds several
    natural clusters can split unevenly (measured at the 10M tier: an
    18,974-row list k=2-split 83/17, leaving a child still over cap), so
    passes repeat — against the SAME cap, computed once from the original
    nlist — until no list exceeds it or the pass budget is spent. Each
    pass touches only the lists still over cap.

    Scale shape per pass: one counts aggregate (<= nlist driver rows), one
    sampled fit (applyInPandas, one task per oversized list, bounded
    rows), and ONE map-only reassignment that rewrites centroid_id only
    for rows of split parents (the sub-center dict rides the closure —
    total centers stay O(nlist/factor + nlist), small). Nothing
    corpus-sized shuffles or reaches the driver. Deterministic: seeded
    per-list k-means on a det_hash sample, seed varied per pass.

    Returns (reassigned, new_centroids, info): new_centroids as a
    (c_ids, C) pair (centroid_arrays), info carrying cap/split-list counts
    for index metadata and reporting.
    """
    import math

    centroids = centroid_arrays(centroids)
    counts = {
        r["centroid_id"]: r["cnt"]
        for r in assigned.groupBy("centroid_id").agg(F.count("*").alias("cnt")).collect()
    }
    n_total = sum(counts.values())
    nlist0 = len(centroids[0])
    cap = max(1, math.ceil(max_list_factor * n_total / max(nlist0, 1)))
    info = {"cap": cap, "lists_split": 0, "nlist_before": nlist0, "passes": 0}
    for p in range(max_passes):
        assigned, centroids, n_split, counts = _split_pass(
            spark, assigned, centroids, cap, counts,
            seed=seed + 7919 * p, vec_col=vec_col, sample_per_center=sample_per_center,
        )
        if n_split == 0:
            break
        info["lists_split"] += n_split
        info["passes"] = p + 1
    info["nlist_after"] = len(centroids[0])
    # non-convergence is a visible signal, not a silent success: a
    # pathological list can stay over cap for every pass (e.g. massive
    # duplicate vectors that no center split separates)
    info["max_list_final"] = max(counts.values()) if counts else 0
    info["converged"] = info["max_list_final"] <= cap
    return assigned, centroids, info


def _split_pass(
    spark: SparkSession,
    assigned: DataFrame,
    centroids: tuple,
    cap: int,
    counts: dict[int, int],
    seed: int,
    vec_col: str,
    sample_per_center: int,
):
    """One split round over the lists currently above `cap`; returns
    (assigned, centroids, n_lists_split, updated_counts). `counts` is
    passed in (and recomputed only for touched parents' children) so pass
    p+1 does not re-aggregate the full corpus — children counts come from
    one filtered aggregate over the split parents' rows only."""
    import math

    import pyarrow as pa

    from webscale_vector_search_spark.functions.hashing import det_hash

    oversized = {cid: c for cid, c in counts.items() if c > cap}
    if not oversized:
        return assigned, centroids, 0, counts
    c_ids, C_all = centroids

    s_of = {cid: max(2, math.ceil(c / cap)) for cid, c in oversized.items()}
    # bounded deterministic sample per oversized list: ~sample_per_center
    # rows per sub-center, selected map-side by id hash (no shuffle)
    cids = sorted(oversized)
    thresh = [
        min(10_000, math.ceil(10_000 * s_of[cid] * sample_per_center / oversized[cid]))
        for cid in cids
    ]
    thr = spark.createDataFrame(pa.table({
        "centroid_id": pa.array(cids, pa.int32()),
        "thresh": pa.array(thresh, pa.int32()),
    }))
    sample = assigned.join(F.broadcast(thr), "centroid_id").filter(
        det_hash(F.col("vec_id"), seed=seed) % 10_000 < F.col("thresh")
    )

    fit_schema = "centroid_id INT, sub INT, cvec ARRAY<FLOAT>"

    def fit_one(pdf):
        import pandas as pd

        cid = int(pdf["centroid_id"].iloc[0])
        V = np.stack(pdf.sort_values("vec_id")[vec_col].to_numpy()).astype(np.float64)
        C = _local_kmeans(V, s_of[cid], seed=seed + cid)
        return pd.DataFrame(
            {
                "centroid_id": np.full(len(C), cid, dtype=np.int32),
                "sub": np.arange(len(C), dtype=np.int32),
                "cvec": [c.astype(np.float32) for c in C],
            }
        )

    sub_rows = (
        sample.select("centroid_id", "vec_id", vec_col)
        .groupBy("centroid_id")
        .applyInPandas(fit_one, fit_schema)
        .collect()  # bounded: sum(s_of) <= n/cap ~ nlist/factor centers
    )

    # new centroid table: untouched parents keep their ids; sub-centers get
    # fresh ids above the old max (float32 round-trip: the table is the
    # serving artifact, stored float32)
    next_id = int(c_ids.max()) + 1
    keep = ~np.isin(c_ids, list(oversized))
    new_ids, new_C = [c_ids[keep]], [C_all[keep]]
    sub_map = {}
    by_parent: dict[int, list] = {}
    for r in sorted(sub_rows, key=lambda r: (r["centroid_id"], r["sub"])):
        by_parent.setdefault(r["centroid_id"], []).append(r["cvec"])
    for parent in sorted(by_parent):
        vecs = np.array(by_parent[parent], dtype=np.float64)
        ids = np.arange(next_id, next_id + len(vecs), dtype=np.int64)
        next_id += len(vecs)
        new_ids.append(ids)
        new_C.append(vecs)
        sub_map[parent] = (ids, vecs)
    new_centroids = (np.concatenate(new_ids), np.concatenate(new_C))

    schema = assigned.schema

    def reassign(batches):
        from webscale_vector_search_spark.operators.knn import list_matrix

        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            cent_idx = batch.schema.get_field_index("centroid_id")
            cent = batch.column(cent_idx).to_numpy().astype(np.int64, copy=True)
            touched = False
            V_all = None  # flatten the embedding column once per batch, lazily
            for parent, (ids, C) in sub_map.items():
                rows = np.flatnonzero(cent == parent)
                if rows.size == 0:
                    continue
                touched = True
                if V_all is None:
                    V_all = list_matrix(batch, vec_col, dtype=np.float64)
                V = V_all[rows]
                d = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)[None, :]
                cent[rows] = ids[d.argmin(1)]
            if touched:
                batch = batch.set_column(
                    cent_idx,
                    pa.field("centroid_id", pa.int32()),
                    pa.array(cent.astype(np.int32), pa.int32()),
                )
            yield batch

    reassigned = assigned.mapInArrow(reassign, schema)
    # updated occupancy for the next pass: untouched lists keep their
    # counts; children are re-counted with one aggregate whose shuffle
    # carries only the split parents' rows
    child_ids = [int(i) for ids, _ in sub_map.values() for i in ids]
    child_counts = {
        r["centroid_id"]: r["cnt"]
        for r in reassigned.filter(F.col("centroid_id").isin(child_ids))
        .groupBy("centroid_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    new_counts = {cid: c for cid, c in counts.items() if cid not in oversized}
    new_counts.update(child_counts)
    return reassigned, new_centroids, len(oversized), new_counts


def index_skew(spark: SparkSession, index_dir: str) -> dict:
    """Partition-occupancy balance report over a stored index: max, median,
    and their ratio — the straggler predictor split_oversized_lists bounds
    (a probe task's cost is proportional to its list's size)."""
    import numpy as np

    from webscale_vector_search_spark.sources import index_io

    handle = index_io.open_index(spark, index_dir)
    part_col = "centroid_id" if "centroid_id" in handle.vectors.columns else "shard_id"
    counts = np.array(
        [
            r["cnt"]
            for r in handle.vectors.groupBy(part_col).agg(F.count("*").alias("cnt")).collect()
        ],
        dtype=np.int64,
    )
    med = float(np.median(counts)) if counts.size else 0.0
    mx = int(counts.max()) if counts.size else 0
    return {
        "n_lists": int(counts.size),
        "max_list": mx,
        "median_list": med,
        "max_over_median": round(mx / med, 3) if med else None,
    }


def assign_centroids_multi(
    corpus: DataFrame, centroids, n_assign: int = 2, vec_col: str = "embedding"
) -> DataFrame:
    """Soft assignment: each vector lands in its `n_assign` nearest lists.

    Used for blocking-style operators (near-dup pair generation) where
    Voronoi-boundary pairs would be lost under single assignment — the
    write-side counterpart of read-side multi-probing. Output: one row per
    (vector, assigned centroid), `assign_rank` 0 = nearest.
    """
    from pyspark.sql import types as T

    c_ids, C = centroid_arrays(centroids)
    c_sq = (C * C).sum(axis=1)
    n_assign = min(n_assign, len(c_ids))
    schema = T.StructType(
        list(corpus.schema.fields)
        + [T.StructField("centroid_id", T.IntegerType()), T.StructField("assign_rank", T.IntegerType())]
    )

    def assign(batches):
        import pyarrow as pa

        from webscale_vector_search_spark.operators.knn import list_matrix

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = list_matrix(batch, vec_col, dtype=np.float64)
            d = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + c_sq[None, :]
            order = np.argsort(d, axis=1, kind="stable")[:, :n_assign]
            n = len(V)
            out = batch.take(pa.array(np.repeat(np.arange(n, dtype=np.int64), n_assign)))
            out = out.append_column(
                pa.field("centroid_id", pa.int32()),
                pa.array(c_ids[order.ravel()].astype(np.int32), pa.int32()),
            )
            out = out.append_column(
                pa.field("assign_rank", pa.int32()),
                pa.array(np.tile(np.arange(n_assign, dtype=np.int32), n), pa.int32()),
            )
            yield out

    return corpus.mapInArrow(assign, schema)
