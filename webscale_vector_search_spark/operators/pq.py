"""Product quantization: K7 (encode) and K8 (ADC search), SURVEY.md §2.3.

Reference: IndexIVFPQ with m = max(1, dim // 4) subvectors, 8 bits each
(vector_search_cluster.py:1033-1041) — every vector compresses to m bytes.

Spark-first decomposition:
- codebooks: per-subspace k-means (256 codes) fit on a bounded seeded sample.
  The codebook is index metadata (m x 256 x dsub floats — a few MB), stored
  as a Parquet artifact beside the corpus.
- encode: map-only numpy kernel over Arrow batches -> codes ARRAY<SMALLINT>
  (SMALLINT because Spark's TINYINT is signed and codes span 0..255).
  Column pruning means FLAT scans never read codes and PQ scans never read
  raw vectors (SURVEY.md O5).
- ADC search: per-query lookup table (m x 256 squared-distance table against
  the query's subvectors), then candidate distance = sum of m table lookups.
  Runs as a map-only kernel emitting per-batch partial top-k; the final
  merge is the same rank window as exact search — identical partial/final
  shape to the scatter-gather merge (K2/K3).

At 100 TB the ADC scan reads m bytes/vector instead of 4*dim — a 16x IO cut
at dim=64/m=16 — and never shuffles the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _centroid_array(centroids) -> np.ndarray:
    """(max_centroid_id + 1, dim) float64 lookup, indexable by centroid_id
    (`centroids`: a table DataFrame or a (c_ids, C) pair)."""
    from webscale_vector_search_spark.operators.ivf import centroid_arrays

    c_ids, cv = centroid_arrays(centroids)
    C = np.zeros((int(c_ids.max()) + 1, cv.shape[1]))
    C[c_ids] = cv
    return C


def fit_codebooks(
    corpus: DataFrame,
    m: int,
    seed: int = 42,
    sample_n: int = 100_000,
    n_codes: int = 256,
    kmeans_iters: int = 10,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    n_total: int | None = None,
    opq_iters: int = 0,
) -> "np.ndarray | tuple[np.ndarray, np.ndarray]":
    """K7 (train) — per-subspace Lloyd k-means on a seeded sample.

    Returns codebooks (m, n_codes, dsub) float64. The sample is bounded
    (default 100k vectors — the reference's own build batch size, 1083), so
    driver memory stays O(sample), never O(corpus). Fixes quirk Q7: the
    sample is drawn uniformly from the whole corpus, not the first batch.

    With `centroids` given, codebooks are fit on RESIDUALS v - C[assign(v)]
    (corpus must carry centroid_id — i.e. pass the assigned corpus). This is
    FAISS IndexIVFPQ's encoding (faiss' by_residual default): raw-vector
    codebooks must cover the whole corpus spread, so on clustered data the
    quantization cell is coarser than the within-cluster structure and ADC
    cannot rank inside a cluster (measured: recall@10 0.22 on a 1M clustered
    corpus, vs 0.9+ for residual codes at the same m).

    With ``opq_iters > 0``, returns (codebooks, rotation): a single GLOBAL
    OPQ rotation (Ge et al. CVPR 2013) fit on the pooled sample before the
    subspace split, row convention ``rotated = X @ rot``. Unlike the
    per-cell LOPQ rotation, the global rotation trains on the full bounded
    sample (100k rows by default), so it does not suffer the small-cell
    estimation noise — it is the OPQ variant for the huge-nlist regime
    where the per-cell codebook broadcast no longer fits (docs/SCALE.md).
    Callers must thread the rotation through encode(rotation=...) and
    adc_search(rotation=...); build_index/open_index pair it automatically.
    """
    if n_total is None:  # caller usually knows it (build_index counts once)
        n_total = corpus.count()
    fraction = min(1.0, sample_n / max(n_total, 1))
    # Select the vector column ONLY. assign_centroids is a mapInArrow kernel,
    # so a plan that carries centroid_id runs the full-corpus assignment GEMM
    # just to sample from it (measured as ~2 extra corpus passes per IVFPQ
    # build at the 1M tier); instead the sample's coarse assignment is
    # recomputed driver-side below — same argmin, O(sample) work.
    sample = (
        corpus.select(vec_col).sample(fraction=fraction, seed=seed)
        if fraction < 1.0
        else corpus.select(vec_col)
    )
    rows = sample.collect()
    X = np.stack([r[0] for r in rows]).astype(np.float64)  # (n, dim)
    if centroids is not None:
        # REAL centroid rows only (ids can be sparse; the padded lookup
        # array has zero-vector phantom rows a training argmin must never
        # pick), and CHUNKED: a dense (sample, nlist) distance matrix is
        # O(sample * nlist) driver memory — ~52 GB at the default 100k
        # sample with nlist=65536, exactly the huge-nlist regime the
        # global-OPQ path is documented for. Chunking bounds the transient
        # to O(block * nlist).
        from webscale_vector_search_spark.operators.ivf import centroid_arrays

        C = centroid_arrays(centroids)[1]
        csq = (C * C).sum(1)
        for s in range(0, len(X), 4096):
            blk = X[s : s + 4096]
            d = (blk * blk).sum(1)[:, None] - 2.0 * (blk @ C.T) + csq[None, :]
            blk -= C[d.argmin(1)]  # in-place: X's rows become residuals
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    k = min(n_codes, n)
    rng = np.random.default_rng(seed)
    if opq_iters > 0:
        rot, books = _fit_opq(X, m, n_codes, kmeans_iters, rng, opq_iters)
        return books, rot
    return _fit_subspace_kmeans(X, m, n_codes, kmeans_iters, rng, k=k)


def _fit_subspace_kmeans(
    X: np.ndarray,
    m: int,
    n_codes: int,
    kmeans_iters: int,
    rng,
    k: int | None = None,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Per-subspace Lloyd k-means on (n, dim) training rows -> codebooks
    (m, n_codes, dsub). Shared by the global fit (driver-side sample) and
    the per-list fit (inside each applyInPandas group). ``init`` warm-starts
    the centers from a previous fit (the OPQ alternation's inner step —
    after a small rotation update the old codebooks are near-optimal, so
    one or two Lloyd passes suffice instead of a cold restart)."""
    n, dim = X.shape
    dsub = dim // m
    if k is None:
        k = min(n_codes, n)
    books = np.zeros((m, n_codes, dsub))
    for j in range(m):
        sub = np.ascontiguousarray(X[:, j * dsub : (j + 1) * dsub])
        centers = init[j][:k].copy() if init is not None else sub[rng.choice(n, size=k, replace=False)]
        for _ in range(kmeans_iters):
            # assignment via the dot expansion, DROPPING the per-row ||x||^2
            # term (constant within a row -> argmin-invariant): the fit is
            # memory-bound on the (n, k) matrix, and skipping the row-norm
            # broadcast-add removes a full read+write pass over it
            d = (centers * centers).sum(1)[None, :] - 2.0 * (sub @ centers.T)
            labels = d.argmin(1)
            # per-cluster sums via bincount (C loop; ~2x np.add.at)
            counts = np.bincount(labels, minlength=k).astype(np.float64)
            sums = np.stack(
                [np.bincount(labels, weights=sub[:, t], minlength=k) for t in range(dsub)],
                axis=1,
            )
            nonempty = counts > 0
            centers[nonempty] = sums[nonempty] / counts[nonempty, None]
        books[j, :k] = centers
        if k < n_codes:
            books[j, k:] = centers[0]  # pad unused codes with a valid center
    return books


def _pq_reconstruct(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Encode X against `books` (per-subspace argmin) and decode back —
    the quantizer's best approximation of X. Used by the OPQ alternation."""
    m, n_codes, dsub = books.shape
    Y = np.empty_like(X)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        cb = books[j]
        d = (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T)
        Y[:, j * dsub : (j + 1) * dsub] = cb[d.argmin(1)]
    return Y


def _fit_opq(
    X: np.ndarray,
    m: int,
    n_codes: int,
    kmeans_iters: int,
    rng,
    opq_iters: int,
    inner_iters: int = 3,
) -> tuple[np.ndarray, np.ndarray]:
    """Non-parametric OPQ (Ge, He, Ke & Sun, CVPR 2013): learn an orthogonal
    rotation that minimizes PQ quantization error before the subspace split.

    Alternation: (1) fit codebooks on the rotated data X @ rot with a few
    Lloyd iterations, (2) given the quantizer's reconstruction Y of X @ rot,
    solve the orthogonal-Procrustes problem min_rot ||X @ rot - Y||_F via
    one SVD of X.T @ Y (dim x dim — trivial). A final full-strength k-means
    refit runs on the converged rotation. Returns (rot, books) with the
    row convention ``rotated = X @ rot``; rot is orthogonal so the inverse
    is rot.T and L2 distances are preserved:
    ||q - (C + r)|| == ||(q - C) @ rot - r @ rot||.

    Why it matters at a fixed bit budget: PQ quantizes each dsub-dim slice
    independently, so variance that straddles slice boundaries is wasted
    bits; the learned rotation decorrelates and balances the slices
    (measured on correlated residuals: the recall gap global->OPQ closes
    most of the global->per-cell gap at m=32 @ 8 bits).
    """
    n, dim = X.shape
    rot = np.eye(dim)
    books = None
    for it in range(max(0, opq_iters)):
        Xr = X @ rot
        # warm-start after the first pass (Ge et al. §non-parametric: one
        # Lloyd step per alternation once the rotation updates are small);
        # cold-start with inner_iters to seed reasonable books
        books = _fit_subspace_kmeans(
            Xr, m, n_codes, inner_iters if it == 0 else 1, rng, init=books
        )
        Y = _pq_reconstruct(Xr, books)
        U, _, Vt = np.linalg.svd(X.T @ Y)
        rot = U @ Vt
    books = _fit_subspace_kmeans(X @ rot, m, n_codes, kmeans_iters, rng, init=books)
    return rot, books


def fit_codebooks_per_list(
    assigned: DataFrame,
    m: int,
    centroids: DataFrame,
    seed: int = 42,
    n_codes: int = 256,
    kmeans_iters: int = 10,
    max_train_per_list: int = 20_000,
    sample_fraction: float = 1.0,
    vec_col: str = "embedding",
    opq_iters: int = 0,
) -> DataFrame:
    """K7 variant — LOCALLY-optimized codebooks: one PQ codebook set per
    inverted list, fit on that list's own residuals (LOPQ, Kalantidis &
    Avrithis, CVPR 2014 — per-cell codebooks; with ``opq_iters > 0`` also
    the per-cell OPQ rotation, completing the full LOPQ algorithm: each
    cell learns its own orthogonal rotation via the _fit_opq alternation
    before the subspace split). Global codebooks must model the pooled residual
    distribution; per-cell books adapt to each cell's local structure,
    which is what lifts ADC-only ranking at low bit budgets (measured on
    the 1M clustered bench: m=32 @ 8-bit recall@10 0.85 global vs ~0.93
    per-cell — the pooled-codebook gap).

    TRAINING IS DISTRIBUTED — the reference's codebook fit is single-node
    (vector_search_cluster.py:1039); here each cell's Lloyd iterations run
    inside its own applyInPandas group. The groupBy shuffles the training
    rows; at 100 TB pass `sample_fraction` so the shuffle carries a bounded
    sample (map-side filter), and `max_train_per_list` caps any hot cell
    inside the kernel. Output: one row per cell,
    (centroid_id INT, books ARRAY<FLOAT> flat (m * n_codes * dsub),
    rot ARRAY<FLOAT> flat (dim * dim) row-major, NULL when opq_iters=0).
    The rotation adds 16 kB/cell float32 at dim=64 — noise beside the
    64 kB/cell books.

    PAIRING CONTRACT: with opq_iters > 0 the books live in each cell's
    rotated frame — codes produced against them are meaningless without
    the matching rotation. Low-level callers must thread the rot column
    through encode_local(rots_by_cell=...) and adc_search(local_rots=...);
    build_index/open_index/search_index do this pairing automatically, and
    the kernels fail loudly (KeyError) on a provided-but-partial dict.

    Scale envelope: the full codebook artifact is nlist * m * n_codes *
    dsub floats — at m=32/256 codes/dsub=2 that is 64 kB/cell float32, so
    ~4k cells per 256 MB of broadcast; beyond that, shard the serving by
    cell ranges or fall back to global codebooks. This is LOPQ's known
    memory trade.
    """
    import pandas as pd

    C = _centroid_array(centroids)

    if sample_fraction < 1.0:
        sampled = assigned.sample(fraction=sample_fraction, seed=seed)
        # sampling can drop EVERY row of a small cell, which would leave no
        # codebook row for it — the full-corpus encode_local then KeyErrors
        # on that cell. Rescue: cells present in the corpus but absent from
        # the sample keep ALL their rows (they are small by construction —
        # that is why the sample missed them). Costs one extra corpus pass
        # (broadcast anti-join on the ≤nlist sampled-cell set).
        kept = sampled.select("centroid_id").distinct()
        rescued = assigned.join(F.broadcast(kept), "centroid_id", "left_anti")
        assigned = sampled.unionByName(rescued)

    def fit_one(pdf: "pd.DataFrame") -> "pd.DataFrame":
        cid = int(pdf["centroid_id"].iloc[0])
        rng = np.random.default_rng(seed * 1_000_003 + cid)
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64) - C[cid]
        if len(X) > max_train_per_list:
            X = X[rng.choice(len(X), max_train_per_list, replace=False)]
        if opq_iters > 0:
            rot, books = _fit_opq(X, m, n_codes, kmeans_iters, rng, opq_iters)
            rot_flat = rot.ravel().astype(np.float32)
        else:
            books = _fit_subspace_kmeans(X, m, n_codes, kmeans_iters, rng)
            rot_flat = None
        return pd.DataFrame(
            {
                "centroid_id": [cid],
                "books": [books.ravel().astype(np.float32)],
                "rot": [rot_flat],
            }
        )

    return (
        assigned.select("centroid_id", vec_col)
        .groupBy("centroid_id")
        .applyInPandas(fit_one, "centroid_id INT, books ARRAY<FLOAT>, rot ARRAY<FLOAT>")
    )


def local_books_dict(books_df: DataFrame, m: int, n_codes: int, dim: int) -> dict:
    """Collect the per-cell codebook table (one row per cell) into
    {centroid_id: (m, n_codes, dsub) float64}. Bounded: nlist rows.
    Arrow path (toPandas): a Row-object collect of nlist * m * n_codes *
    dsub floats measured ~12 s at 1000 cells; this takes ~1 s."""
    dsub = dim // m
    pdf = books_df.select("centroid_id", "books").toPandas()
    return {
        int(c): np.asarray(b, dtype=np.float64).reshape(m, n_codes, dsub)
        for c, b in zip(pdf["centroid_id"], pdf["books"])
    }


def _rots_from_pandas(pdf, dim: int) -> dict | None:
    out = {
        int(c): np.asarray(r, dtype=np.float64).reshape(dim, dim)
        for c, r in zip(pdf["centroid_id"], pdf["rot"])
        if r is not None and len(r) == dim * dim
    }
    return out or None


def local_books_and_rots(
    books_df: DataFrame, m: int, n_codes: int, dim: int
) -> tuple[dict, dict | None]:
    """Both per-cell dicts from ONE collect of the codebooks table (the
    index-open path calls this; two separate toPandas jobs over the same
    tiny parquet double the open latency for nothing)."""
    dsub = dim // m
    has_rot = "rot" in books_df.columns
    cols = ["centroid_id", "books"] + (["rot"] if has_rot else [])
    pdf = books_df.select(*cols).toPandas()
    books = {
        int(c): np.asarray(b, dtype=np.float64).reshape(m, n_codes, dsub)
        for c, b in zip(pdf["centroid_id"], pdf["books"])
    }
    rots = _rots_from_pandas(pdf, dim) if has_rot else None
    return books, rots


def encode_local(
    assigned: DataFrame,
    books_by_cell: dict,
    centroids: DataFrame,
    vec_col: str = "embedding",
    rots_by_cell: dict | None = None,
) -> DataFrame:
    """K7 (encode) with per-cell codebooks: residual v - C[cell] encoded
    against the row's OWN cell's books. Map-only; batches are scored one
    cell-segment at a time (the index layout clusters rows by cell).

    With ``rots_by_cell`` (full LOPQ), each segment's residuals are rotated
    into the cell's OPQ frame (r @ rot) before the subspace argmin — codes
    then index codebooks that live in the rotated space; decode rotates
    back with rot.T (see adc_search)."""
    some = next(iter(books_by_cell.values()))
    m, n_codes, dsub = some.shape
    schema = T.StructType(
        list(assigned.schema.fields) + [T.StructField("codes", T.ArrayType(T.ShortType()))]
    )
    C_arr = _centroid_array(centroids)

    def enc(batches):
        import pyarrow as pa

        from webscale_vector_search_spark.operators.knn import list_matrix, segment_iter

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = list_matrix(batch, vec_col, dtype=np.float64)
            cent = batch.column(batch.schema.get_field_index("centroid_id")).to_numpy()
            cent = cent.astype(np.int64, copy=False)
            R = V - C_arr[cent]
            n = len(V)
            codes = np.empty((n, m), dtype=np.int16)
            for cv, rows in segment_iter(cent):
                bks = books_by_cell[int(cv)]
                sub_block = R[rows]
                if rots_by_cell is not None:
                    # strict: a provided-but-partial rotation dict means the
                    # books/rots pairing broke upstream — encoding this cell
                    # unrotated would be silently wrong, so fail loudly
                    sub_block = sub_block @ rots_by_cell[int(cv)]
                for j in range(m):
                    sub = sub_block[:, j * dsub : (j + 1) * dsub]
                    cb = bks[j]
                    d = (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T)
                    codes[rows, j] = d.argmin(1)
            offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            codes_arr = pa.ListArray.from_arrays(offsets, pa.array(codes.ravel()))
            yield batch.append_column(pa.field("codes", pa.list_(pa.int16())), codes_arr)

    return assigned.mapInArrow(enc, schema)


def encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """K7 (encode) — append codes ARRAY<SMALLINT>, map-only numpy kernel.

    With `centroids`, encodes residuals v - C[centroid_id] (pair with
    codebooks fit the same way — see fit_codebooks). With `rotation`
    (global OPQ), residuals rotate into the OPQ frame (r @ rot) before the
    subspace argmin — pair with fit_codebooks(opq_iters>0) and
    adc_search(rotation=...)."""
    if rotation is not None and centroids is None:
        raise ValueError("global OPQ rotation is residual-only; pass centroids")
    m, n_codes, dsub = codebooks.shape
    schema = T.StructType(
        list(corpus.schema.fields) + [T.StructField("codes", T.ArrayType(T.ShortType()))]
    )
    books = codebooks  # closure capture; a few MB broadcast with the task
    C_arr = _centroid_array(centroids) if centroids is not None else None

    def enc(batches):
        import pyarrow as pa

        from webscale_vector_search_spark.operators.knn import list_matrix

        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = list_matrix(batch, vec_col, dtype=np.float64)
            if C_arr is not None:
                cent_idx = batch.schema.get_field_index("centroid_id")
                V = V - C_arr[batch.column(cent_idx).to_numpy().astype(np.int64)]
            if rotation is not None:
                V = V @ rotation
            n = len(V)
            codes = np.empty((n, m), dtype=np.int16)
            for j in range(m):
                sub = V[:, j * dsub : (j + 1) * dsub]
                cb = books[j]
                d = (sub * sub).sum(1)[:, None] - 2.0 * (sub @ cb.T) + (cb * cb).sum(1)[None, :]
                codes[:, j] = d.argmin(1)
            offsets = pa.array(np.arange(0, (n + 1) * m, m, dtype=np.int32))
            codes_arr = pa.ListArray.from_arrays(offsets, pa.array(codes.ravel()))
            yield batch.append_column(pa.field("codes", pa.list_(pa.int16())), codes_arr)

    return corpus.mapInArrow(enc, schema)


def adc_distances_sql(codes_df: DataFrame, codebooks: np.ndarray, queries: DataFrame, spark) -> DataFrame:
    """K8 reference form: reconstruct each coded vector from the codebook
    tables and compute exact SQL distances to each query. Used to cross-check
    the numpy ADC kernel on small data (ADC distance == distance to the
    reconstruction, by definition)."""
    from webscale_vector_search_spark.sources.index_io import codebook_table

    cb_df = spark.createDataFrame(codebook_table(codebooks))
    exploded = codes_df.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    ).join(F.broadcast(cb_df), ["subspace", "code"])
    recon = (
        exploded.groupBy("vec_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("subspace", "cvec"))),
                    lambda x: x["cvec"],
                )
            ).alias("embedding")
        )
    )
    from webscale_vector_search_spark.operators.knn import with_distance

    return with_distance(recon.crossJoin(F.broadcast(queries)))


def adc_search(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    nprobe: int | None = None,
    residual: bool = False,
    probes=None,
    lut_dtype: str = "float32",
    local_books: dict | None = None,
    local_rots: dict | None = None,
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """K8 — asymmetric-distance search over PQ codes.

    Map-only kernel: per Arrow batch, build each query's (m x 256) LUT once,
    gather-sum over the batch's codes, emit the batch-local top-k per query.
    The final global top-k is the K3 rank window. Corpus IO is codes-only
    (column pruning drops the raw vectors at the scan).

    With `centroids` + `nprobe` given (IVFPQ), probe selection runs
    driver-side like ivf_search_pandas: the codes scan is statically pruned
    to the union of probed lists AND each batch is scored one inverted list
    at a time with only the queries probing it — per-query inverted-list
    semantics, zero joins, compute ~nprobe/nlist of the exact-code scan.

    With `residual=True` (codes encode v - C[centroid_id]; FAISS IVFPQ
    semantics), the kernel is decode-then-GEMM: reconstruct each coded row
    ONCE per batch (m query-independent codebook gathers -> C_l + r_hat),
    then score every probing query against the reconstructions with the
    same BLAS matmul as exact search. ADC distance IS the distance to the
    reconstruction, so this is algebraically the classic LUT gather-sum —
    but on this substrate a per-(row, query) LUT gather is a random 4-8 B
    read while dgemm streams at memory bandwidth; measured 2x+ faster at a
    1000-query batch, and the scan still reads codes only (the IO cut is
    the point at 100 TB — the reconstruction never exists on disk or in
    the shuffle, only inside the task).

    ``lut_dtype`` ('float32' default) is the precision of the plain-path
    (non-residual) gathered LUT — float32 halves the random-read bytes
    (FAISS precedent; its fast-scan path quantizes LUTs to int8). Absolute
    error ~1e-4 on unit-scale data, three orders below PQ quantization
    error; partial sums still accumulate in float64. Pass 'float64' for
    the bit-exact decomposition (the ADC==reconstruction property tests
    do). The residual path computes in float64 throughout (the GEMM form
    has no LUT to quantize).

    The code tables are built PER TASK inside the kernel, not driver-side:
    at nq=100/m=16 the precomputed tables are ~11 MB (qdot 3.3 MB + cdot
    7+ MB of doubles) and Spark serializes the closure into every task
    binary — measured as the dominant cost of the 1M-corpus IVFPQ search.
    The closure now ships only Q + codebooks + the probed centroid block
    (<1 MB); rebuilding the tables is a handful of (nq x dsub)@(dsub x 256)
    GEMMs — microseconds against a per-task scan of thousands of codes.
    """
    if local_rots is not None and local_books is None:
        raise ValueError(
            "local_rots requires local_books — the rotations pair with "
            "per-cell codebooks (full-LOPQ contract)"
        )
    if local_books is not None:
        # LOPQ serving: per-cell codebooks (see fit_codebooks_per_list),
        # as a plain dict or an already-broadcast dict. Decode is per
        # cell-segment with that cell's books; everything else (probe
        # pruning, GEMM scoring, partial top-k) is identical.
        from pyspark.broadcast import Broadcast

        if not residual:
            raise ValueError("local codebooks encode residuals; pass residual=True")
        _src = local_books.value if isinstance(local_books, Broadcast) else local_books
        m, n_codes, dsub = next(iter(_src.values())).shape
        books = None
    else:
        m, n_codes, dsub = codebooks.shape
        books = codebooks
    if residual and probes is None and (centroids is None or nprobe is None):
        raise ValueError("residual ADC requires centroids + nprobe")
    if rotation is not None and (not residual or local_books is not None):
        raise ValueError(
            "global OPQ rotation applies to the global residual path only "
            "(per-cell books carry their own rotations via local_rots)"
        )

    from webscale_vector_search_spark.operators.ivf import DriverProbes, query_arrays

    scan_cols = [id_col, "codes"]
    if probes is None and centroids is not None and nprobe is not None:
        probes = DriverProbes(*query_arrays(queries), centroids, nprobe)
    if probes is not None:
        q_ids, Q = probes.q_ids, probes.Q
        codes_df = probes.prune(codes_df)
        scan_cols.append("centroid_id")
        probe_lists = probes.probe_lists
        # probed centroid block + centroid_id -> block-row map (small: the
        # query batch's probed union, never nlist x dim)
        probed_ids = np.array(probes.probed_lists, dtype=np.int64)
        Cp = probes.C[probes.slot_of[probed_ids]]  # (n_probed, dim)
        probed_row = np.full(probes.slot_of.shape[0], -1, dtype=np.int64)
        probed_row[probed_ids] = np.arange(len(probed_ids))
        use_probes = True
    else:
        q_ids, Q = query_arrays(queries)
        probe_lists = probed_row = Cp = None
        use_probes = False
    if local_books is not None:
        from pyspark.broadcast import Broadcast

        if isinstance(local_books, Broadcast):
            # pre-broadcast handle-level books (serving loop: one 64 MB
            # broadcast per process, reused across every batch)
            bc_books = local_books
        else:
            # one-shot call: ship only the probed cells' books, float32
            # (exact: the parquet store is float32; the kernel widens
            # back), via a Spark broadcast — a closure copy per task
            # would serialize the dict n_tasks times
            ship = {
                int(c): local_books[int(c)].astype(np.float32)
                for c in probes.probed_lists
                if int(c) in local_books
            }
            bc_books = codes_df.sparkSession.sparkContext.broadcast(ship)
    else:
        bc_books = None
    if local_rots is not None:
        # per-cell OPQ rotations (full LOPQ): same ship policy as the books
        from pyspark.broadcast import Broadcast

        if isinstance(local_rots, Broadcast):
            bc_rots = local_rots
        else:
            # fail fast DRIVER-side on a broken pairing: a probed cell whose
            # books shipped but whose rotation is absent would otherwise
            # surface only as a KeyError inside an executor task
            missing = [
                int(c) for c in probes.probed_lists
                if int(c) in (
                    local_books.value
                    if isinstance(local_books, Broadcast) else local_books
                ) and int(c) not in local_rots
            ]
            if missing:
                raise ValueError(
                    f"local_rots missing rotations for probed cells "
                    f"{missing[:5]} — broken LOPQ books/rots pairing"
                )
            ship_r = {
                int(c): local_rots[int(c)].astype(np.float32)
                for c in probes.probed_lists
                if int(c) in local_rots
            }
            bc_rots = codes_df.sparkSession.sparkContext.broadcast(ship_r)
    else:
        bc_rots = None
    probes = None  # keep the DriverProbes object (qc2/C/slot_of) out of the closure

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

        ldt = np.dtype(lut_dtype)
        # per-task table build (see docstring): tables stay worker-local
        # instead of riding the serialized closure
        j_idx = np.arange(m)[None, :]
        if residual:
            q_sq = (Q * Q).sum(1)  # decode-then-GEMM needs only ||q||^2
        else:
            # plain ADC LUT: lut[q, j, c] = ||Q[q]_subj - books[j,c]||^2,
            # written in lut_dtype DIRECTLY (no float64 intermediate)
            lut = np.empty((len(q_ids), m, n_codes), dtype=ldt)
            for j in range(m):
                cb = books[j]  # (n_codes, dsub)
                qs = Q[:, j * dsub : (j + 1) * dsub]
                lut[:, j, :] = (
                    (qs * qs).sum(1)[:, None]
                    - 2.0 * (qs @ cb.T)
                    + (cb * cb).sum(1)[None, :]
                )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            codes = list_matrix(batch, "codes").astype(np.int64, copy=False)  # (n, m)
            ids = batch.column(batch.schema.get_field_index(id_col)).to_numpy()
            if not use_probes:
                # accumulate float64 regardless of LUT precision
                dist = lut[:, j_idx, codes[:, :]].sum(axis=2, dtype=np.float64)
                yield topk_record_batch([batch_topk_rows(dist, ids, q_ids, k)])
                continue
            cent = batch.column(batch.schema.get_field_index("centroid_id")).to_numpy()
            if residual and bc_books is None:
                # decode ONCE per batch, query-independent: m codebook
                # gathers -> r_hat, + the row's probed centroid -> the
                # reconstruction every probing query scores against
                recon = np.empty((len(codes), m * dsub))
                for j in range(m):
                    recon[:, j * dsub : (j + 1) * dsub] = books[j][codes[:, j]]
                if rotation is not None:
                    # global OPQ: codes live in the rotated frame; rotate the
                    # decoded residual back (one batch GEMM, query-independent)
                    recon = recon @ rotation.T
                recon += Cp[probed_row[cent.astype(np.int64, copy=False)]]
                recon_sq = (recon * recon).sum(1)
            parts = []
            # one inverted list at a time (segment sort, not per-list rescans)
            for cv, rows in segment_iter(cent.astype(np.int64, copy=False)):
                qsel = probe_lists.get(cv)
                if qsel is None:
                    continue
                if residual:
                    if bc_books is not None:
                        # LOPQ: decode this segment with ITS cell's books
                        bks = bc_books.value[int(cv)].astype(np.float64)
                        cr = codes[rows]
                        r = np.empty((len(cr), m * dsub))
                        for j in range(m):
                            r[:, j * dsub : (j + 1) * dsub] = bks[j][cr[:, j]]
                        if bc_rots is not None:
                            # full LOPQ: codes live in the cell's OPQ frame;
                            # rotate the decode back (rot orthogonal -> .T).
                            # Strict lookup: a probed cell missing from a
                            # provided rotation dict is a broken books/rots
                            # pairing — unrotated decode would be silently
                            # wrong distances, so KeyError is the right
                            # failure mode
                            r = r @ bc_rots.value[int(cv)].astype(np.float64).T
                        r += Cp[probed_row[cv]]
                        r_sq = (r * r).sum(1)
                    else:
                        # same BLAS shape as exact search, over reconstructions
                        r = recon[rows]
                        r_sq = recon_sq[rows]
                    d = (
                        q_sq[qsel][:, None]
                        - 2.0 * (Q[qsel] @ r.T)
                        + r_sq[None, :]
                    )
                    np.maximum(d, 0.0, out=d)
                else:
                    d = lut[qsel][:, j_idx, codes[rows]].sum(axis=2, dtype=np.float64)
                parts.append(batch_topk_rows(d, ids[rows], q_ids[qsel], k))
            if parts:
                yield topk_record_batch(parts)

    partial = codes_df.select(*scan_cols).mapInArrow(scan, out_schema)
    from webscale_vector_search_spark.operators.knn import topk

    ranked = topk(partial, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )
