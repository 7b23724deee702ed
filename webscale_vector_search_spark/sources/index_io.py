"""Index artifact IO (S3/S4/S5, SURVEY.md §2.1).

The reference serializes one FAISS index file per shard plus a JSON sidecar
(vector_search_cluster.py:1052-1066). Here the index IS data: partitioned
Parquet (vectors + centroid assignments + PQ codes) that any Spark job can
scan with partition pruning, plus the same metadata sidecar fields.

Layout of an index directory:
  <dir>/vectors/          partitioned parquet (shard_id= / centroid_id=)
  <dir>/centroids/        (IVF/IVFPQ) centroid table parquet
  <dir>/codebooks/        (IVFPQ) pq codebook parquet (subspace, code, cvec)
  <dir>/shards_metadata.json   sidecar: num_shards, index_type, vector_dim,
                               total_vectors, created_at, nlist, pq_m
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

METADATA_FILE = "shards_metadata.json"


def write_metadata(out_dir: str, meta: dict) -> None:
    """S5 — same fields as the reference sidecar (1056-1066) + index params.

    Written via temp-file + os.replace: the sidecar doubles as the commit
    pointer for versioned vectors directories (compact_index), so a reader
    must never observe a torn write.
    """
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, METADATA_FILE)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=2, sort_keys=True)
    os.replace(tmp, final)


def read_metadata(index_dir: str) -> dict:
    """Load the sidecar. An HNSW sidecar must carry `hnsw_graph` (every
    build_index / incremental_build writes it): one without it is a
    centroid-layout artifact that no reader serves, so it is refused here
    rather than mis-read downstream."""
    with open(os.path.join(index_dir, METADATA_FILE)) as f:
        meta = json.load(f)
    if meta.get("index_type") == "HNSW" and not meta.get("hnsw_graph"):
        raise ValueError(
            f"{index_dir}: HNSW index without a persisted graph (no "
            "'hnsw_graph' in its sidecar) is a pre-r5 centroid-layout "
            "artifact; rebuild it with build_index"
        )
    return meta


def vectors_path(index_dir: str, meta: dict | None = None) -> str:
    """Resolve the CURRENT vectors directory through the sidecar pointer.

    compact_index (and upsert's physical rewrite) write each new state to a
    fresh `vectors.v{N}` directory and flip `vectors_dir` in the sidecar (an
    atomic os.replace), so a reader that resolves through here always sees
    one complete directory — never a half-swapped one. Indexes that were
    never rewritten have no pointer and resolve to the original `vectors`.
    """
    if meta is None:
        meta = read_metadata(index_dir)
    return os.path.join(index_dir, meta.get("vectors_dir", "vectors"))


def attrs_path(index_dir: str, meta: dict | None = None) -> str:
    """Resolve the CURRENT attrs/ sidecar directory (HNSW filterable
    attributes) through the same pointer discipline as vectors_path:
    upsert/compaction rewrite the attrs table into `attrs.v{N}` and flip
    `attrs_dir` in the SAME sidecar write that flips `vectors_dir`, so the
    two tables commit together."""
    if meta is None:
        meta = read_metadata(index_dir)
    return os.path.join(index_dir, meta.get("attrs_dir", "attrs"))


def _has_parquet(path: str) -> bool:
    try:
        return any(f.endswith(".parquet") for f in os.listdir(path))
    except OSError:
        return False


def mutation_fingerprint(index_dir: str) -> tuple:
    """Cheap stat-only snapshot of everything that can change under an open
    handle: the metadata sidecar (pointer flips, appends refresh totals) and
    the tombstone table's file list. A few os.stat calls — safe to probe on
    every serve_local batch (~µs against a sub-ms serve)."""
    try:
        st = os.stat(os.path.join(index_dir, METADATA_FILE))
        # st_ino included: os.replace always lands a fresh inode, so two
        # same-size sidecar rewrites inside one coarse mtime tick (small
        # index, fast back-to-back compactions) still change the
        # fingerprint — (mtime, size) alone can collide there
        sidecar = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        sidecar = None
    tomb_dir = os.path.join(index_dir, "tombstones")
    try:
        tomb = tuple(sorted(f for f in os.listdir(tomb_dir) if f.endswith(".parquet")))
    except OSError:
        tomb = ()
    return (sidecar, tomb)


def metadata_dict(
    num_shards: int,
    index_type: str,
    vector_dim: int,
    total_vectors: int,
    nlist: int | None = None,
    pq_m: int | None = None,
    metric: str = "sq_l2",
    pq_residual: bool = False,
    pq_bits: int = 8,
    pq_local_codebooks: bool = False,
    attr_cols: "list[str] | None" = None,
) -> dict:
    return {
        # filterable attribute columns carried in the index rows (FLAT/IVF/
        # IVFPQ) or in the attrs/ sidecar table (HNSW — the graph rows have
        # a fixed schema). None/absent = an unfiltered (pre-r9) index.
        "attr_cols": list(attr_cols) if attr_cols else None,
        "num_shards": num_shards,
        "index_type": index_type,
        "vector_dim": vector_dim,
        "total_vectors": total_vectors,
        "created_at": time.strftime("%Y-%m-%d %H:%M:%S"),
        "nlist": nlist,
        "pq_m": pq_m,
        "pq_bits": pq_bits,
        # True -> per-cell LOPQ codebooks (codebooks parquet is one row
        # per cell, flat books); False -> one global codebook table
        "pq_local_codebooks": pq_local_codebooks,
        "metric": metric,
        # True when codes encode v - C[centroid_id] (FAISS-style residual
        # PQ, the build_index default for IVFPQ); readers pick the matching
        # ADC decomposition. Absent/False in pre-r2 indexes = raw-vector codes.
        "pq_residual": pq_residual,
    }


def write_table_dir(tbl, path: str) -> None:
    """Write a small Arrow table from the driver as a one-file parquet
    table directory at `path` (replacing it) — the layout Spark's writer
    produces, read back by Spark and pyarrow alike, without a job."""
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"), compression="zstd")


def write_capped(df: DataFrame, path: str, cap: int) -> bool:
    """Materialize a small DataFrame (a stats table) in one action and
    write it with write_table_dir when it holds at most `cap` rows. Returns
    False, writing nothing, past the cap: the limit keeps an oversized
    result from reaching the driver."""
    tbl = df.limit(cap + 1).toArrow()
    if tbl.num_rows > cap:
        return False
    write_table_dir(tbl, path)
    return True


CENTROID_SCHEMA = "centroid_id INT, cvec ARRAY<FLOAT>"


def centroid_table(c_ids: np.ndarray, C: np.ndarray):
    """The centroid table (centroid_id INT, cvec ARRAY<FLOAT>) as Arrow."""
    import pyarrow as pa

    from webscale_vector_search_spark.operators.knn import matrix_list

    return pa.table({"centroid_id": pa.array(c_ids, pa.int32()), "cvec": matrix_list(C)})


def codebook_table(codebooks: np.ndarray):
    """The global codebook table (subspace INT, code INT, cvec ARRAY<FLOAT>)
    of an (m, n_codes, dsub) array, as Arrow."""
    import pyarrow as pa

    from webscale_vector_search_spark.operators.knn import matrix_list

    m, n_codes, dsub = codebooks.shape
    return pa.table({
        "subspace": pa.array(np.repeat(np.arange(m), n_codes), pa.int32()),
        "code": pa.array(np.tile(np.arange(n_codes), m), pa.int32()),
        "cvec": matrix_list(codebooks.reshape(m * n_codes, dsub)),
    })


def write_centroids(path: str, cents: tuple) -> None:
    """Write the (c_ids, C) pair as a centroid table directory."""
    write_table_dir(centroid_table(*cents), path)


def read_centroids(index_dir: str) -> tuple:
    """(c_ids int64, C float64) of the index's centroids/ table, sorted by
    centroid_id — read with pyarrow, no job; float32 storage widened."""
    import pyarrow.dataset as pads

    tbl = (
        pads.dataset(os.path.join(index_dir, "centroids"), format="parquet")
        .to_table(columns=["centroid_id", "cvec"])
        .sort_by("centroid_id")
    )
    c_ids = tbl.column("centroid_id").to_numpy().astype(np.int64)
    cv = tbl.column("cvec").combine_chunks()
    C = cv.flatten().to_numpy(zero_copy_only=False).reshape(tbl.num_rows, -1)
    return c_ids, C.astype(np.float64)


def write_codebooks(spark: SparkSession, out_dir: str, codebooks: np.ndarray) -> None:
    df = spark.createDataFrame(codebook_table(codebooks))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "codebooks"))


def write_rotation(spark: SparkSession, out_dir: str, rot: np.ndarray) -> None:
    """Global OPQ rotation artifact: one row, flat row-major floats.
    dim x dim float32 — 16 kB at dim 64."""
    import pyarrow as pa

    from webscale_vector_search_spark.operators.knn import matrix_list

    df = spark.createDataFrame(pa.table({
        "dim": pa.array([rot.shape[0]], pa.int32()),
        "rot": matrix_list(rot.reshape(1, -1)),
    }))
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "rotation"))


def read_rotation(spark: SparkSession, index_dir: str) -> "np.ndarray | None":
    path = os.path.join(index_dir, "rotation")
    if not os.path.isdir(path):
        return None
    row = spark.read.parquet(path).collect()[0]
    dim = row["dim"]
    return np.asarray(row["rot"], dtype=np.float64).reshape(dim, dim)


def write_local_codebooks(books_df, out_dir: str) -> None:
    """Per-cell (LOPQ) codebook table: one row per cell,
    (centroid_id INT, books ARRAY<FLOAT> flat). nlist rows — tiny.

    repartition(1), NOT coalesce(1): coalesce propagates the 1-partition
    target up to the shuffle boundary, merging the applyInPandas reduce
    stage into a single task — the "distributed" per-cell fit then runs
    every cell sequentially on one core (measured: the 10M/3162-cell LOPQ
    build pinned one core for the whole fit). The repartition inserts an
    exchange AFTER the fit, so cells fit cluster-wide and only the tiny
    (~64 kB/cell) result table funnels to one writer."""
    books_df.repartition(1).write.mode("overwrite").parquet(os.path.join(out_dir, "codebooks"))


def read_local_codebooks(
    spark: SparkSession,
    index_dir: str,
    m: int,
    n_codes: int,
    dim: int,
    with_rots: bool = False,
):
    """Per-cell codebooks {cid: (m, n_codes, dsub)}; with_rots=True also
    returns the per-cell OPQ rotation dict (None when the artifact carries
    no rotations — LOPQ-without-OPQ or a pre-rotation index).

    The read runs with a small columnar batch: each row carries
    m * n_codes * dsub floats (~64 kB at m=32, 4x that with a rotation
    column), so the default 4096-row vectorized-reader batch reserves
    ~0.25-1 GB of contiguous heap PER COLUMN and OOMs the shared
    local-mode JVM once nlist reaches a few thousand cells (hit at the
    10M/3162-cell tier). 64-row batches bound it at ~4-16 MB."""
    from webscale_vector_search_spark.operators.pq import local_books_and_rots, local_books_dict

    key = "spark.sql.parquet.columnarReaderBatchSize"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, "64")
    try:
        df = spark.read.parquet(os.path.join(index_dir, "codebooks"))
        # the collect (toPandas) must happen under the scoped conf
        if not with_rots:
            return local_books_dict(df, m, n_codes, dim)
        return local_books_and_rots(df, m, n_codes, dim)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_codebooks(spark: SparkSession, index_dir: str) -> np.ndarray:
    rows = (
        spark.read.parquet(os.path.join(index_dir, "codebooks"))
        .orderBy("subspace", "code")
        .collect()
    )
    m = max(r["subspace"] for r in rows) + 1
    n_codes = max(r["code"] for r in rows) + 1
    dsub = len(rows[0]["cvec"])
    books = np.zeros((m, n_codes, dsub))
    for r in rows:
        books[r["subspace"], r["code"]] = r["cvec"]
    return books


@dataclass
class IndexHandle:
    """An opened index (S4) — lazy DataFrames + small driver-side artifacts."""

    meta: dict
    vectors: DataFrame
    centroids: DataFrame | None = None
    # global codebooks: (m, n_codes, dsub) ndarray; LOPQ (pq_local_codebooks
    # in the sidecar): {centroid_id: (m, n_codes, dsub)} dict
    codebooks: "np.ndarray | dict | None" = None
    # full-LOPQ per-cell OPQ rotations {centroid_id: (dim, dim)}; None
    # when the index was built without pq_opq_iters
    lopq_rots: dict | None = None
    # global OPQ rotation (dim, dim) for the global-codebook path; None
    # when absent (mutually exclusive with lopq_rots by construction)
    pq_rotation: "np.ndarray | None" = None
    _centroid_np: tuple | None = None
    # filesystem path of the current vectors directory — stored-graph HNSW
    # serving side-reads whole shard partitions from it (graph traversal
    # needs the complete shard, not Spark's split-by-bytes scan units)
    vectors_dir: str | None = None
    # attrs/ sidecar table (vec_id + attr columns) — written for HNSW
    # indexes built with attr_cols (graph rows can't carry them); None for
    # index types that store attrs in the vectors rows, and for indexes
    # built without attributes
    attrs: DataFrame | None = None
    # tombstones/ table (vec_id) — ids logically deleted since the last
    # compaction (plans.build.delete_vectors); None when no deletes are
    # pending. Searches exclude these; compact_index materializes them.
    tombstones: DataFrame | None = None
    _tombstone_np: "np.ndarray | None" = None
    # root of the index (the directory holding the sidecar) + the mutation
    # fingerprint captured at open — maybe_refresh()'s staleness baseline
    index_dir: str | None = None
    _fingerprint: tuple | None = None

    def maybe_refresh(self) -> bool:
        """Freshness contract for long-lived handles: probe the on-disk
        state (stat-only, ~µs) and fold in any mutation since open.

        - Tombstone-table-only change (a delete_vectors between searches):
          re-read the pending set, keep every vector/artifact cache — the
          vectors didn't move.
        - Sidecar change (compaction / append / upsert pointer flip or
          total bump): full in-place reopen; serving caches rebuild lazily
          against the new version directory.

        Every search entry point (search_index-with-handle, serve_local,
        api.VectorCluster) probes this per call, which is what makes the
        delete_vectors contract — "every search path excludes them
        immediately" — true for handles opened before the delete. Returns
        True when anything was refreshed. Handles constructed without an
        index_dir (ad-hoc fixtures) never refresh."""
        if self.index_dir is None:
            return False
        fp = mutation_fingerprint(self.index_dir)
        if fp == self._fingerprint:
            return False
        old = self._fingerprint
        spark = self.vectors.sparkSession
        if old is not None and fp[0] == old[0]:
            tomb_dir = os.path.join(self.index_dir, "tombstones")
            self.tombstones = (
                spark.read.parquet(tomb_dir) if _has_parquet(tomb_dir) else None
            )
            self._tombstone_np = None
            self.__dict__.pop("_pending_live", None)
            self._fingerprint = fp
            return True
        fresh = open_index(spark, self.index_dir)
        self.__dict__.clear()
        self.__dict__.update(fresh.__dict__)
        return True

    def live_pending_count(self) -> int:
        """|tombstones ∩ stored ids| — the exact pending-delete count
        (delete_vectors takes any id set; ids that never existed must not
        deflate the live count a stats call reports). One column-pruned
        scan of the id column with the pending set broadcast (map-side
        semi-join), cached on the handle until the tombstone table
        changes."""
        if self.tombstones is None:
            return 0
        cached = self.__dict__.get("_pending_live")
        if cached is None:
            from pyspark.sql import functions as F

            cached = self._pending_live = (
                self.vectors.select("vec_id")
                .join(F.broadcast(self.tombstones.select("vec_id")), "vec_id", "left_semi")
                .distinct()
                .count()
            )
        return cached

    def tombstone_array(self) -> "np.ndarray | None":
        """Sorted unique int64 tombstoned ids, collected once per handle —
        the serving paths (probe masks, post-filters) consume the numpy
        form on every batch. None when the index has no pending deletes.
        The set is bounded by design: tombstones accumulate only between
        compactions (see docs/SCALE.md)."""
        if self.tombstones is None:
            return None
        if self._tombstone_np is None:
            rows = self.tombstones.select("vec_id").collect()
            self._tombstone_np = np.unique(
                np.array([r["vec_id"] for r in rows], dtype=np.int64)
            )
        return self._tombstone_np

    def centroid_arrays(self) -> tuple:
        """(c_ids int64, C float64) numpy views of the centroid table, read
        once with pyarrow (read_centroids, no Spark job) and cached on the
        handle — probe selection runs per query batch, re-reading the
        (tiny) centroid parquet every batch is pure overhead in a serving
        loop."""
        if self._centroid_np is None:
            self._centroid_np = read_centroids(self.index_dir)
        return self._centroid_np


def open_index(spark: SparkSession, index_dir: str) -> IndexHandle:
    # fingerprint FIRST: a mutation landing mid-open makes this stale, so
    # the handle's next maybe_refresh() probe sees the change and reloads —
    # fingerprinting after the reads could silently miss that window
    fingerprint = mutation_fingerprint(index_dir)
    meta = read_metadata(index_dir)
    vdir = vectors_path(index_dir, meta)
    vectors = spark.read.parquet(vdir)
    centroids = None
    codebooks = None
    if meta["index_type"] in ("IVF", "IVFPQ"):
        # the table's fixed schema: an inferring read costs a job per open
        centroids = spark.read.schema(CENTROID_SCHEMA).parquet(
            os.path.join(index_dir, "centroids")
        )
    lopq_rots = pq_rotation = None
    if meta["index_type"] == "IVFPQ":
        if meta.get("pq_local_codebooks"):
            codebooks, lopq_rots = read_local_codebooks(
                spark,
                index_dir,
                meta["pq_m"],
                2 ** meta.get("pq_bits", 8),
                meta["vector_dim"],
                with_rots=True,
            )
        else:
            codebooks = read_codebooks(spark, index_dir)
            pq_rotation = read_rotation(spark, index_dir)
    attrs = None
    attrs_dir = attrs_path(index_dir, meta)
    # _has_parquet, not isdir: an upsert that removed every attributed row
    # leaves a legitimately empty attrs version directory
    if _has_parquet(attrs_dir):
        attrs = spark.read.parquet(attrs_dir)
    tombstones = None
    tomb_dir = os.path.join(index_dir, "tombstones")
    if _has_parquet(tomb_dir):
        tombstones = spark.read.parquet(tomb_dir)
    return IndexHandle(
        meta=meta,
        vectors=vectors,
        centroids=centroids,
        codebooks=codebooks,
        vectors_dir=vdir,
        lopq_rots=lopq_rots,
        pq_rotation=pq_rotation,
        attrs=attrs,
        tombstones=tombstones,
        index_dir=index_dir,
        _fingerprint=fingerprint,
    )
