"""The offline index-build job — §3.2's lifecycle, Spark-native.

Reference: create_sharded_index (vector_search_cluster.py:977-1068) —
single-process, whole-corpus-in-RAM, unseeded shuffle, per-shard FAISS build.

This job is parallel, out-of-core, deterministic:
  read corpus -> validate dim + count (one aggregate) -> shard assign
  (seeded, id-hash) ->
  [IVF: k-means on a sample (MLlib k-means|| start, Lloyd on the driver)
   -> centroid assign]
  [IVFPQ: + codebook fit -> PQ encode]
  -> write.partitionBy(...) parquet + metadata sidecar

Partitioning strategy (the 100 TB posture):
- FLAT: partitionBy(shard_id) — coarse, for operational parallelism.
- IVF/IVFPQ: partitionBy(centroid_id) — fine, so probe-pruned searches
  skip non-probed inverted lists AT THE FILE LEVEL (partition pruning).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscale_vector_search_spark.config import EngineConfig
from webscale_vector_search_spark.operators import ivf as ivf_ops
from webscale_vector_search_spark.operators import pq as pq_ops
from webscale_vector_search_spark.operators.shard import hash_shard
from webscale_vector_search_spark.plans import planner
from webscale_vector_search_spark.schemas import validated_count
from webscale_vector_search_spark.sources import index_io


def _write_partitioned(df: DataFrame, part_col: str, path: str) -> None:
    """Partitioned parquet write with rows clustered by their target
    directory: a rebalance shuffle on `part_col`. Without it every map task
    writes a file into every directory (tasks x dirs small files — measured
    as the dominant scan overhead at the 10M tier). AQE sizes the rebalance:
    it coalesces small partitions (few write tasks for a small index) and
    splits skewed ones (a hot value is not one straggler task), and
    `spark.sql.files.maxRecordsPerFile` (session.py) bounds file size."""
    df.hint("rebalance", part_col).write.mode("overwrite").partitionBy(part_col).parquet(path)


@contextmanager
def _job_phases(spark: SparkSession):
    """Yields phase(name), which labels the Spark jobs that follow
    `build_index:<name>` (spark.job.description: the UI, the event log and
    the status API show it). The caller's description is restored on exit;
    its job group is never touched."""
    sc = spark.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        yield lambda name: sc.setJobDescription(f"build_index:{name}")
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    config: EngineConfig = EngineConfig(),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_df: DataFrame | None = None,
    attr_cols: "list[str] | None" = None,
) -> index_io.IndexHandle:
    """End-to-end build. Returns an opened handle on the written artifacts.

    `centroids_df` (centroid_id INT, cvec ARRAY<FLOAT>) skips coarse-
    quantizer training and uses the given centers as-is (no polish —
    they are presumed already polished). Standard clustering-reuse: when
    several IVF-family indexes are built over the same corpus (e.g. IVF +
    IVFPQ variants), train once and share; with identical config the
    trained centers are identical anyway, so this only removes the
    duplicated KMeans + polish passes.

    `attr_cols` names corpus columns to store as FILTERABLE ATTRIBUTES
    (the FAISS IDSelector / metadata-filter analog, as data): for
    FLAT/IVF/IVFPQ they ride each index row through the build kernels
    (assign/encode are pass-through on extra columns) into the partitioned
    parquet, so a search-time `where` predicate lands in the probed scan's
    PushedFilters — filtering costs row-group stats + column decode, never
    a join. HNSW graph rows have a fixed schema, so attrs are written to an
    `attrs/` sidecar instead (one map-only pass, no shuffle) and filtered
    searches pay a candidates-only semi-join (see search_index).

    Each phase's jobs are described `build_index:<phase>`: validate, train,
    assign+write, stats, open, recall_curve."""
    with _job_phases(spark) as phase:
        return _build_index(
            spark, corpus, out_dir, config, id_col, vec_col, centroids_df, attr_cols, phase
        )


def _build_index(
    spark, corpus, out_dir, config, id_col, vec_col, centroids_df, attr_cols, phase
) -> index_io.IndexHandle:
    attr_cols = list(attr_cols) if attr_cols else None
    if attr_cols:
        reserved = {
            "vec_id", "embedding", "centroid_id", "codes", "shard_id",
            "hnsw_level", "hnsw_neighbors",
        }
        clash = reserved.intersection(attr_cols)
        if clash:
            raise ValueError(f"attr_cols collide with index columns: {sorted(clash)}")
        missing = [c for c in attr_cols if c not in corpus.columns]
        if missing:
            raise ValueError(f"attr_cols not in corpus: {missing}")
    base = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        *[F.col(c) for c in (attr_cols or [])],
    )
    if config.metric == "cosine":
        # unit vectors make every sq_l2 kernel downstream rank as cosine
        from webscale_vector_search_spark.functions.distance import with_l2_normalized

        base = with_l2_normalized(base, "embedding")
    elif config.metric != "sq_l2":
        raise ValueError(f"unknown metric {config.metric!r}")
    phase("validate")
    n_total = validated_count(corpus, config.vector_dim, vec_col)

    nlist = pq_m = None
    vectors_dir = os.path.join(out_dir, "vectors")

    phase("assign+write")
    if config.index_type == "FLAT":
        _write_partitioned(hash_shard(base, config.num_shards), "shard_id", vectors_dir)
    elif config.index_type == "HNSW":
        # One graph per shard, persisted as adjacency columns BESIDE the
        # vectors (reference: faiss.write_index per shard,
        # vector_search_cluster.py:1051-1054; loaded once per node 537-545).
        # build_hnsw_graphs' applyInPandas already shuffled rows to one task
        # per shard, so the partitioned write needs no extra repartition and
        # each graph lands as few files in its own shard_id= directory.
        # Storage: adjacency adds ~ (M0 + levels) * 8 B per node (~2x the
        # raw vector at dim 64) — the same links-beside-vectors cost FAISS's
        # HNSW file pays; serving in exchange pays ONLY traversal.
        from webscale_vector_search_spark.operators import hnsw_partition as hnsw_ops

        sharded = hash_shard(base, config.num_shards)
        graphs = hnsw_ops.build_hnsw_graphs(
            sharded,
            m=config.hnsw_m,
            ef_construction=config.hnsw_ef_construction,
            seed=config.seed,
        )
        graphs.write.mode("overwrite").partitionBy("shard_id").parquet(vectors_dir)
        # serving freeze: the faiss.write_index analog — per-shard binary
        # bundles that load ~6x faster than the parquet decode (parquet
        # stays canonical; the loader fingerprint-checks and falls back)
        hnsw_ops.freeze_graphs(vectors_dir, config.num_shards, spark=spark)
        if attr_cols:
            # graph rows have a fixed schema (build_one), so attributes go
            # to a sidecar table: map-only write, input partitioning kept —
            # no shuffle even when the corpus is the 100 TB side
            base.select("vec_id", *attr_cols).write.mode("overwrite").parquet(
                os.path.join(out_dir, "attrs")
            )
    elif config.index_type in ("IVF", "IVFPQ"):
        # the centers stay a driver-side (c_ids, C) pair throughout: the
        # kernels take them in their closures and centroids/ is written
        # with pyarrow, so no centroid table round-trips through Spark
        if centroids_df is not None:
            centroids = ivf_ops.centroid_arrays(centroids_df)
        else:
            phase("train")
            centroids = ivf_ops.train_centroid_arrays(
                base, config.resolved_nlist(n_total), seed=config.seed,
                sample_fraction=config.kmeans_sample_fraction,
            )
            if config.centroid_polish_iters > 0:
                centroids = ivf_ops.centroid_arrays(
                    ivf_ops.polish_centroids(
                        base, centroids, iters=config.centroid_polish_iters
                    )
                )
            phase("assign+write")
        # the sidecar's nlist drives the serving default nprobe, so it is
        # the number of centers actually written — a reused table from a
        # different-nlist build, or a fit that returned fewer centers, would
        # otherwise record the config's number and recall silently collapses
        # (e.g. meta nlist=8 over 1000 real lists -> default nprobe 1)
        nlist = len(centroids[0])
        assigned = ivf_ops.assign_centroids(base, centroids)
        split_info = None
        presplit = None
        if config.ivf_max_list_factor:
            # skew hardening: cap hot inverted lists BEFORE codebooks/encoding
            # so PQ residuals are computed against the final (split) centers.
            # Persist the pre-split assignment: the counts aggregate, the
            # sampled sub-center fit, and the reassignment all read it.
            # DISK_ONLY is load-bearing: this is a CORPUS-SIZED persist, and
            # the default memory-first columnar cache builds every
            # partition's batches in heap before spilling — measured OOM
            # (ColumnBuilder.ensureFreeSpace) at the 100M tier on an 8 GB
            # local JVM. Disk blocks stream per batch and bound heap at any
            # corpus size; re-reading them is still ~10x cheaper than
            # re-running the assignment GEMM per pass.
            from pyspark import StorageLevel

            presplit = assigned.persist(StorageLevel.DISK_ONLY)
            assigned, centroids, split_info = ivf_ops.split_oversized_lists(
                spark, presplit, centroids, config.ivf_max_list_factor, seed=config.seed
            )
            nlist = split_info["nlist_after"]
        index_io.write_centroids(os.path.join(out_dir, "centroids"), centroids)
        if config.index_type == "IVFPQ":
            pq_m = config.resolved_pq_m()
            if config.pq_opq_iters > 0 and not config.pq_residual:
                raise ValueError("pq_opq_iters requires pq_residual")
            if config.pq_local_codebooks:
                if not config.pq_residual:
                    raise ValueError("pq_local_codebooks requires pq_residual")
                # LOPQ: per-cell codebooks, fit DISTRIBUTED (one
                # applyInPandas group per inverted list); the assigned
                # corpus is persisted so assignment isn't recomputed for
                # fit, encode, and the partitioned write. DISK_ONLY for the
                # same corpus-sized-persist reason as the skew-cap path
                # above (memory-first caching OOMs once corpus >> heap)
                from pyspark import StorageLevel

                assigned = persisted_assigned = assigned.persist(StorageLevel.DISK_ONLY)
                books_df = pq_ops.fit_codebooks_per_list(
                    assigned,
                    pq_m,
                    centroids,
                    seed=config.seed,
                    n_codes=2**config.pq_bits,
                    opq_iters=config.pq_opq_iters,
                )
                index_io.write_local_codebooks(books_df, out_dir)
                books_map, rots_map = index_io.read_local_codebooks(
                    spark,
                    out_dir,
                    pq_m,
                    2**config.pq_bits,
                    config.vector_dim,
                    with_rots=True,
                )
                assigned = pq_ops.encode_local(
                    assigned, books_map, centroids, rots_by_cell=rots_map
                )
            else:
                # codebooks fit + codes computed on RESIDUALS v - C[centroid_id]
                # by default (FAISS IVFPQ semantics; raw-vector codebooks cannot
                # rank within a cluster on clustered corpora — see pq.fit_codebooks)
                pq_cents = centroids if config.pq_residual else None
                # pass `base` + n_total: assign_centroids is a mapInArrow kernel
                # Catalyst can't prune, so sampling from `assigned` would run the
                # full-corpus assignment GEMM twice more (count + sample passes);
                # fit_codebooks re-derives the sample's assignment driver-side
                fitted = pq_ops.fit_codebooks(
                    base,
                    pq_m,
                    seed=config.seed,
                    n_codes=2**config.pq_bits,
                    centroids=pq_cents,
                    n_total=n_total,
                    opq_iters=config.pq_opq_iters,
                )
                if config.pq_opq_iters > 0:
                    # global OPQ: one rotation fit on the pooled sample —
                    # the huge-nlist fallback where per-cell books don't fit
                    # the serving broadcast (docs/SCALE.md). Encode against
                    # the STORED (float32 round-tripped) rotation so codes
                    # and every later decode share identical values — the
                    # same write-then-read-back discipline as the LOPQ books
                    books, rot = fitted
                    index_io.write_rotation(spark, out_dir, rot)
                    rot = index_io.read_rotation(spark, out_dir)
                else:
                    books, rot = fitted, None
                index_io.write_codebooks(spark, out_dir, books)
                assigned = pq_ops.encode(
                    assigned, books, centroids=pq_cents, rotation=rot
                )
        _write_partitioned(assigned, "centroid_id", vectors_dir)
        if config.index_type == "IVFPQ" and config.pq_local_codebooks:
            persisted_assigned.unpersist()
        if presplit is not None:
            presplit.unpersist()
    else:
        raise ValueError(f"unknown index_type {config.index_type!r}")

    phase("stats")
    if attr_cols:
        # per-combo row counts beside the index: the filtered-search
        # planner input (selectivity-scaled nprobe / oversample). One
        # map-side-combined agg over the corpus; skipped above
        # MAX_COMBOS distinct combinations (search then keeps fixed
        # defaults). See sources/attr_stats.py.
        from webscale_vector_search_spark.sources.attr_stats import (
            write_attr_cell_stats,
            write_attr_stats,
            write_graph_cell_stats,
        )

        if write_attr_stats(base, attr_cols, out_dir):
            # per-(cell, combo) counts: the cell-discovery / concentration
            # planner input (catches cluster-correlated filters the global
            # table can't see). IVF/IVFPQ read their own inverted lists
            # back (one column-pruned scan); graphs have no lists, so a
            # small stats-only quantizer fits pseudo-cells instead.
            if config.index_type in ("IVF", "IVFPQ"):
                write_attr_cell_stats(spark, vectors_dir, attr_cols, out_dir)
            elif config.index_type == "HNSW":
                write_graph_cell_stats(
                    spark, base, attr_cols, out_dir, n_total, seed=config.seed
                )

    meta = index_io.metadata_dict(
        num_shards=config.num_shards,
        index_type=config.index_type,
        vector_dim=config.vector_dim,
        total_vectors=n_total,
        nlist=nlist,
        pq_m=pq_m,
        metric=config.metric,
        pq_residual=config.index_type == "IVFPQ" and config.pq_residual,
        pq_bits=config.pq_bits,
        pq_local_codebooks=config.index_type == "IVFPQ" and config.pq_local_codebooks,
        attr_cols=attr_cols,
    )
    if config.index_type in ("IVF", "IVFPQ") and config.ivf_max_list_factor:
        # skew report for operators/tooling: how many hot lists were split
        # and at what cap (index_skew() measures the resulting balance)
        meta["ivf_split"] = split_info
    if config.index_type == "IVFPQ" and config.pq_opq_iters > 0:
        # full LOPQ: per-cell OPQ rotations stored in the codebooks table's
        # `rot` column (readers also detect the column itself; this flag is
        # for humans and sidecar-only tooling)
        meta["pq_opq_iters"] = config.pq_opq_iters
    if config.index_type == "HNSW":
        # marks the persisted-graph layout; index_io.read_metadata refuses
        # an HNSW sidecar without it (a centroid-layout artifact that must
        # be rebuilt)
        meta["hnsw_graph"] = True
        # seed recorded so a delete-compaction can rebuild affected shards'
        # graphs with the same level draws as the original build
        meta["hnsw"] = {
            "m": config.hnsw_m,
            "ef_construction": config.hnsw_ef_construction,
            "seed": config.seed,
        }
    index_io.write_metadata(out_dir, meta)
    phase("open")
    handle = index_io.open_index(spark, out_dir)
    if config.recall_curve and config.index_type != "FLAT":
        # measured recall-vs-knob profile (sources/recall_curve.py): the
        # recall_target input and the filtered planner's measured budget
        from webscale_vector_search_spark.sources.recall_curve import (
            measure_recall_curve,
        )

        phase("recall_curve")
        measure_recall_curve(
            spark,
            handle,
            nq=config.recall_curve_queries,
            kmax=config.recall_curve_kmax,
            seed=config.seed,
        )
    return handle


def delete_vectors(spark: SparkSession, index_dir: str, ids) -> int:
    """Logical delete (tombstones) — the index-maintenance operation the
    reference lacks entirely (its only delete is rebuilding the shard,
    create_sharded_index; vector_search_cluster.py:977-1068).

    `ids` is a DataFrame with a vec_id column, or any int sequence/array.
    The ids append to a `tombstones/` parquet table beside the index; every
    search path (Spark and serve_local, all four index types) excludes them
    from results immediately, and `compact_index` MATERIALIZES them — the
    rewrite drops the rows, rebuilds HNSW graphs without the deleted nodes,
    and clears the tombstone table.

    LSM-style contract, 100 TB posture: deletes are metadata-sized (ids
    only, appended — the corpus parquet is immutable between compactions),
    searches pay one broadcast anti-join on the pending set, and the set
    stays broadcast-bounded because compaction folds it in. Deleting an id
    twice (or an id that never existed) is harmless — the table is a set
    under the anti-join. Returns the number of ids appended this call."""
    from pyspark.sql import DataFrame as SparkDF

    if isinstance(ids, SparkDF):
        df = ids.select(F.col("vec_id").cast("long")).distinct()
    else:
        import pyarrow as pa

        vals = sorted({int(x) for x in ids})
        df = spark.createDataFrame(pa.table({"vec_id": pa.array(vals, pa.int64())}))
    n = df.count()
    if n == 0:
        return 0
    tomb_dir = os.path.join(index_dir, "tombstones")
    # ids-only table, one small file per delete call (compaction clears it)
    df.coalesce(1).write.mode("append").parquet(tomb_dir)
    meta = index_io.read_metadata(index_dir)
    if not meta.get("has_tombstones"):
        # flag once: repeat deletes then mutate only the tombstones dir, so
        # an open handle's freshness probe takes the cheap re-read-the-
        # pending-set path instead of a full reopen (maybe_refresh)
        meta["has_tombstones"] = True
        index_io.write_metadata(index_dir, meta)
    return n


def _clear_tombstones_for(spark: SparkSession, index_dir: str, ids: DataFrame) -> None:
    """Drop the given ids from the pending tombstone table (re-insertion:
    an appended row must not be hidden by a stale tombstone for its id).

    Same snapshot discipline as compact_index's tombstone materialization:
    snapshot the file list, write the kept set as a NEW file (appended into
    the same directory), then os.remove exactly the snapshotted files — a
    delete_vectors append landing mid-rewrite is not in the snapshot and
    survives untouched, and a crash between the append and the removals
    only leaves duplicates (harmless: the table is a set under the
    search-time anti-join). The table is pending-set-sized, so the rewrite
    is a driver-cheap job."""
    import glob
    import shutil

    tomb_dir = os.path.join(index_dir, "tombstones")
    files = sorted(glob.glob(os.path.join(tomb_dir, "*.parquet")))
    if not files:
        return
    kept = (
        spark.read.parquet(*files)
        .select("vec_id")
        .join(F.broadcast(ids.select("vec_id")), "vec_id", "left_anti")
    )
    if kept.limit(1).count() > 0:
        kept.coalesce(1).write.mode("append").parquet(tomb_dir)
    for p in files:
        try:
            os.remove(p)
        except OSError:
            pass
    if not any(
        f.endswith(".parquet") for f in os.listdir(tomb_dir)
    ):
        shutil.rmtree(tomb_dir, ignore_errors=True)
        meta = index_io.read_metadata(index_dir)
        if meta.pop("has_tombstones", None) is not None:
            index_io.write_metadata(index_dir, meta)


def append_vectors(
    spark: SparkSession,
    index_dir: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Batch-append rows to an EXISTING index, deriving every build
    parameter from the stored artifact (sidecar + centroids + codebooks +
    rotation) — the batch twin of streaming/build_stream.incremental_build,
    and implemented THROUGH it: the rows drain as a one-shot availableNow
    stream, reusing the staged exactly-once publication, the HNSW
    incremental graph insertion, and the drain-time sidecar refresh.

    Append means NEW ids: appending an id that already exists in the index
    (live or tombstoned) leaves two physical rows for it — use
    :func:`upsert_vectors`, which physically replaces old versions and
    clears stale tombstones, for replace-or-insert semantics. (The check
    is not performed here: it would cost a full id semi-join per append,
    and pure appends — the streaming-ingest shape — never need it.)
    Attribute columns declared at build time must be present on `df`
    (they ride the index rows / attrs sidecar like the original build).

    Returns the number of rows appended. Per-cell-LOPQ indexes refuse
    (their encoder is per-list; rebuild instead)."""
    import shutil
    import tempfile

    meta = index_io.read_metadata(index_dir)
    itype = meta["index_type"]
    attr_cols = meta.get("attr_cols") or []
    missing = [c for c in attr_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"index stores attr_cols {attr_cols} — appended rows must carry "
            f"them too (missing: {missing})"
        )
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        *[F.col(c) for c in attr_cols],
    )
    n_new = base.count()
    if n_new == 0:
        return 0

    cfg_kwargs: dict = dict(
        index_type=itype,
        num_shards=meta["num_shards"],
        vector_dim=meta["vector_dim"],
        metric=meta.get("metric", "sq_l2"),
    )
    if itype == "IVFPQ":
        cfg_kwargs.update(
            pq_m=meta["pq_m"],
            pq_bits=meta.get("pq_bits", 8),
            pq_residual=bool(meta.get("pq_residual")),
        )
    if itype == "HNSW":
        h = meta.get("hnsw") or {}
        cfg_kwargs.update(
            hnsw_m=h.get("m", 16),
            hnsw_ef_construction=h.get("ef_construction", 64),
            seed=h.get("seed", 42),
        )
    config = EngineConfig(**cfg_kwargs)

    centroids = codebooks = None
    cent_dir = os.path.join(index_dir, "centroids")
    if itype in ("IVF", "IVFPQ"):
        centroids = spark.read.parquet(cent_dir)
    if itype == "IVFPQ":
        codebooks = index_io.read_codebooks(spark, index_dir)

    from webscale_vector_search_spark.streaming.build_stream import incremental_build

    stage = tempfile.mkdtemp(prefix="wvss_append_")
    try:
        src = os.path.join(stage, "rows")
        base.write.parquet(src)
        stream = spark.readStream.schema(base.schema).parquet(src)
        q = incremental_build(
            spark,
            stream,
            index_dir,
            config,
            centroids=centroids,
            codebooks=codebooks,
            checkpoint_dir=os.path.join(stage, "ckpt"),
        )
        q.awaitTermination(3600)  # drain-time sidecar refresh included
        if q.isActive:
            q.stop()
            raise RuntimeError("append stream failed to drain")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    if itype == "HNSW" and attr_cols:
        # resolve through the pointer: an upsert/compaction may have moved
        # the live attrs table to an attrs.v{N} directory
        base.select("vec_id", *attr_cols).write.mode("append").parquet(
            index_io.attrs_path(index_dir, index_io.read_metadata(index_dir))
        )
    if attr_cols:
        # keep the filtered-search planner stats current (tiny-table merge).
        # The per-CELL table is deliberately NOT touched: assignment happens
        # inside the streaming drain, and a stale cell table is a LOWER
        # bound on coverage — understating f only raises the cell-discovery
        # probe budget (conservative). compact_index recomputes it exactly.
        from webscale_vector_search_spark.sources.attr_stats import merge_attr_delta

        merge_attr_delta(
            spark,
            index_dir,
            base.groupBy(*attr_cols).agg(F.count(F.lit(1)).alias("count")),
        )
    if attr_cols:
        # the attrs/stats writes above land AFTER the drain-time sidecar
        # refresh: a serving handle whose maybe_refresh probe fired in that
        # window reopened against the pre-append attrs table, and nothing
        # else would ever tell it (plain parquet appends don't move the
        # mutation fingerprint). Touch the sidecar — write_metadata's
        # os.replace lands a fresh inode — so the next probe reopens.
        index_io.write_metadata(index_dir, index_io.read_metadata(index_dir))
    return n_new


def upsert_vectors(
    spark: SparkSession,
    index_dir: str,
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Replace-or-insert by id: physically remove any existing rows with
    the incoming ids, then append the new rows.

    Physical removal, NOT tombstones — a tombstone for an upserted id would
    hide the new row too (the exclusion joins on vec_id alone, by design:
    it keeps deletes metadata-sized). The removal is partition-targeted:
    one semi-join locates the partitions holding old versions; only those
    rewrite, into a fresh `vectors.v{N}` committed by the sidecar pointer
    flip (compact_index's protocol — a concurrent reader never observes a
    half-rewritten index, and a crash mid-rewrite leaves the old version
    current). HNSW shards that lose nodes rebuild their graph (same
    m/ef/seed, the compaction path's rule) before the append's incremental
    insertion runs, and the attrs/ sidecar drops the replaced ids' rows in
    the same commit (stale attribute rows would corrupt filtered search).
    Stale tombstones for the incoming ids clear too — an id deleted
    yesterday and upserted today must be visible.

    Returns the number of rows appended."""
    meta = index_io.read_metadata(index_dir)
    if meta.get("pq_local_codebooks"):
        # refuse BEFORE mutating: the append stage would refuse anyway
        # (per-cell LOPQ has no global encoder), and failing after the
        # physical delete would have destroyed the old rows first
        raise ValueError(
            "upsert_vectors: per-cell-LOPQ indexes don't support append "
            "(no global encoder) — rebuild instead"
        )
    ids = df.select(F.col(id_col).alias("vec_id")).distinct()
    _physical_delete(spark, index_dir, ids)
    _clear_tombstones_for(spark, index_dir, ids)
    n = append_vectors(spark, index_dir, df, id_col=id_col, vec_col=vec_col)
    # replaced rows mutate the corpus WITHOUT moving the live total, so the
    # append path's recount-based growth check can't see them: accumulate
    # them in the sidecar counter; past the growth bar the recall curve is
    # flagged observably stale (VERDICT r12 ask #2; a fresh profile resets
    # the counter)
    from webscale_vector_search_spark.sources.recall_curve import (
        note_corpus_mutation,
    )

    note_corpus_mutation(index_dir, mutated_rows=n)
    return n


def _next_version_dir(index_dir: str, stem: str = "vectors") -> str:
    """Next `<stem>.v{N}` path under the index root (compaction/upsert's
    versioned-directory commit protocol; see compact_index)."""
    import glob

    versions = [
        int(os.path.basename(d).rsplit(".v", 1)[1])
        for d in glob.glob(os.path.join(index_dir, f"{stem}.v*"))
        if os.path.basename(d).rsplit(".v", 1)[1].isdigit()
    ]
    return os.path.join(index_dir, f"{stem}.v{(max(versions) + 1) if versions else 1}")


def _gc_versions(index_dir: str, keep: set, stem: str = "vectors") -> None:
    """Drop superseded version directories, keeping the paths in `keep`
    (the just-committed version and its immediate predecessor, for
    in-flight readers that resolved the pointer before the flip)."""
    import glob
    import shutil

    for d in glob.glob(os.path.join(index_dir, f"{stem}.v*")) + [
        os.path.join(index_dir, stem)
    ]:
        if d not in keep and os.path.isdir(d):
            shutil.rmtree(d)


def _link_forward_partition(src: str, dst: str) -> None:
    """Carry one partition directory of immutable files into a new version
    directory: hardlinks on the same filesystem (instant, no data copy —
    GC of the old version only unlinks names), byte-copy fallback across
    devices. On an object store this step is the manifest/copy-forward a
    real deployment would do; the commit protocol is identical.

    HNSW frozen bundles ride along, but their fingerprint.json binds the
    bundle to the parquet files' absolute PATHS — written fresh for the new
    location (never through a hardlink, which would corrupt the old
    version's fingerprint), so serving keeps the fast bundle load instead
    of silently falling back to the parquet decode."""
    import shutil

    fp_rewrites = []
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        out_root = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(out_root, exist_ok=True)
        for f in files:
            s = os.path.join(root, f)
            d = os.path.join(out_root, f)
            if f == "fingerprint.json":
                fp_rewrites.append(out_root)
                continue
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)
    for bundle_dir in fp_rewrites:
        from webscale_vector_search_spark.operators.hnsw_partition import (
            _graph_fingerprint,
        )
        import json

        shard_dir = os.path.dirname(bundle_dir)
        with open(os.path.join(bundle_dir, "fingerprint.json"), "w") as f:
            json.dump([list(t) for t in _graph_fingerprint(shard_dir)], f)


def _rewrite_attrs_without(
    spark: SparkSession, index_dir: str, meta: dict, ids: DataFrame
) -> bool:
    """Anti-join the given ids out of the attrs/ sidecar into a fresh
    `attrs.v{N}` and point meta['attrs_dir'] at it — the caller commits by
    writing the sidecar (ONE write also flips vectors_dir, so vectors and
    attrs change together atomically). Without this, an upsert/compaction
    of an attributed HNSW index leaves stale duplicate vec_id rows whose
    old attribute values corrupt filtered search. Returns True when a
    rewrite happened (caller then GCs old attrs versions after commit)."""
    cur = index_io.attrs_path(index_dir, meta)
    if not os.path.isdir(cur):
        return False
    kept = spark.read.parquet(cur).join(
        F.broadcast(ids.select("vec_id")), "vec_id", "left_anti"
    )
    next_dir = _next_version_dir(index_dir, "attrs")
    kept.write.mode("overwrite").parquet(next_dir)
    meta["attrs_dir"] = os.path.basename(next_dir)
    return True


def _physical_delete(
    spark: SparkSession,
    index_dir: str,
    ids: DataFrame,
    set_total: bool = False,
    affected: set | None = None,
    vecs: DataFrame | None = None,
) -> int:
    """Remove rows by id from the stored partitions, touching only the
    partitions that contain them. Used by upsert (tombstones can't express
    replace-by-id) and by targeted compaction; plain deletes should prefer
    delete_vectors (cheaper). With set_total, the exact post-delete row
    count (parquet-footer metadata over the new version, no data IO) rides
    the SAME atomic pointer flip — targeted compaction needs the total
    updated transactionally; upsert leaves it to its append stage.

    Commit protocol == compact_index: the post-delete state materializes in
    a fresh `vectors.v{N}` (untouched partition dirs carried forward as
    hardlinks — their files are immutable; only affected partitions
    rewrite), then ONE sidecar write flips the `vectors_dir` pointer (and
    `attrs_dir`, when an attrs sidecar exists). A concurrent reader holds a
    complete old version for the whole rewrite; a crash anywhere before the
    flip leaves the old version current and only an orphaned .v{N} to GC —
    never a half-rewritten index, never a resurrected partition (the old
    in-place dynamic-overwrite + post-hoc rmtree had both failure modes)."""
    meta = index_io.read_metadata(index_dir)
    vectors_dir = index_io.vectors_path(index_dir, meta)
    if vecs is None:
        # partition discovery over a many-thousand-partition dir costs
        # seconds — callers that already hold the scan pass it in
        vecs = spark.read.parquet(vectors_dir)
    part_col = "centroid_id" if "centroid_id" in vecs.columns else "shard_id"
    if affected is None:
        affected = {
            r[part_col]
            for r in vecs.join(F.broadcast(ids), "vec_id", "left_semi")
            .select(part_col)
            .distinct()
            .collect()
        }
    if not affected:
        return 0
    # every removed row lives in an affected partition by construction —
    # scope the delta aggregations below to those partitions (partition
    # pruning turns a corpus-wide scan into an affected-sized one).
    # isin() never matches NULL (SQL three-valued logic), so a null
    # partition value (__HIVE_DEFAULT_PARTITION__) needs its own isNull
    # arm — without it the null partition's survivors would silently drop
    # out of the rewritten version
    nn_affected = [v for v in affected if v is not None]
    touched_cond = F.col(part_col).isin(nn_affected)
    if len(nn_affected) < len(affected):
        touched_cond = touched_cond | F.col(part_col).isNull()
    touched = vecs.filter(touched_cond)
    kept = touched.join(F.broadcast(ids), "vec_id", "left_anti")
    if meta["index_type"] == "HNSW":
        # dropping graph rows dangles adjacency: rebuild the affected
        # shards' graphs over their surviving rows (compaction's rule)
        from webscale_vector_search_spark.operators import hnsw_partition as hnsw_ops

        h = meta.get("hnsw") or {}
        kept = hnsw_ops.build_hnsw_graphs(
            kept.select("vec_id", "embedding", "shard_id"),
            m=h.get("m", 16),
            ef_construction=h.get("ef_construction", 64),
            seed=h.get("seed", 42),
        )
    next_dir = _next_version_dir(index_dir)
    # rewrite ONLY the affected partitions into the fresh version; a
    # partition whose every row was removed simply writes nothing (the old
    # protocol needed an explicit rmtree for exactly this case)
    kept.write.mode("overwrite").partitionBy(part_col).parquet(next_dir)
    # compare partition-dir values as RAW STRINGS, never int(): a null
    # shard/centroid id writes __HIVE_DEFAULT_PARTITION__, which int()
    # would crash on in `surviving` — and an isdigit() guard on the
    # carry-forward would hardlink the affected non-numeric partition
    # forward NEXT TO its rewrite, resurrecting the deleted rows
    def _dir_str(v) -> str:
        return "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)

    affected_strs = {_dir_str(v) for v in affected}
    surviving = {
        d.split("=", 1)[1]
        for d in os.listdir(next_dir)
        if d.startswith(f"{part_col}=")
    } if os.path.isdir(next_dir) else set()
    # carry the untouched partitions forward (hardlink, no data movement)
    for entry in os.listdir(vectors_dir):
        if not entry.startswith(f"{part_col}="):
            continue
        if entry.split("=", 1)[1] in affected_strs:
            continue
        _link_forward_partition(
            os.path.join(vectors_dir, entry), os.path.join(next_dir, entry)
        )
    if meta["index_type"] == "HNSW":
        from webscale_vector_search_spark.operators import hnsw_partition as hnsw_ops

        hnsw_ops.freeze_graphs(
            next_dir, meta["num_shards"], spark=spark,
            shards=sorted(
                v for v in affected if v is not None and _dir_str(v) in surviving
            ),
        )
    attrs_rewritten = False
    if meta.get("attr_cols"):
        # planner stats: subtract the removed rows' combos (the semi-join
        # source is the OLD state — row-carried attrs, or the pre-rewrite
        # attrs sidecar for graph indexes)
        from webscale_vector_search_spark.sources.attr_stats import merge_attr_delta

        acols = meta["attr_cols"]
        attrs_dir = index_io.attrs_path(index_dir, meta)
        attr_src = (
            spark.read.parquet(attrs_dir)
            if meta["index_type"] == "HNSW" and os.path.isdir(attrs_dir)
            else touched
        )
        merge_attr_delta(
            spark,
            index_dir,
            attr_src.join(F.broadcast(ids), "vec_id", "left_semi")
            .groupBy(*acols)
            .agg((-F.count(F.lit(1))).alias("count")),
        )
        if meta.get("index_type") in ("IVF", "IVFPQ"):
            # per-cell planner table: exact subtraction (the removal source
            # carries centroid_id). The matching append never adds back —
            # the table is a documented LOWER bound between compactions,
            # which only RAISES the cell-discovery budget (conservative).
            from webscale_vector_search_spark.sources.attr_stats import (
                merge_cell_delta,
            )

            merge_cell_delta(
                spark,
                index_dir,
                touched.join(F.broadcast(ids), "vec_id", "left_semi")
                .groupBy("centroid_id", *acols)
                .agg((-F.count(F.lit(1))).alias("count")),
            )
        elif meta.get("index_type") == "HNSW":
            # pseudo-cell subtraction: assign the removed rows through the
            # STORED stats quantizer (no refit) — same lower-bound contract
            from webscale_vector_search_spark.operators.ivf import assign_centroids
            from webscale_vector_search_spark.sources.attr_stats import (
                STATS_CENTROIDS_DIRNAME,
                merge_cell_delta,
            )

            cents_dir = os.path.join(index_dir, STATS_CENTROIDS_DIRNAME)
            if os.path.isdir(cents_dir):
                removed = (
                    touched.select("vec_id", "embedding")
                    .join(F.broadcast(ids), "vec_id", "left_semi")
                    .join(attr_src.select("vec_id", *acols), "vec_id")
                )
                merge_cell_delta(
                    spark,
                    index_dir,
                    assign_centroids(removed, spark.read.parquet(cents_dir))
                    .groupBy("centroid_id", *acols)
                    .agg((-F.count(F.lit(1))).alias("count")),
                )
        attrs_rewritten = _rewrite_attrs_without(spark, index_dir, meta, ids)
    # commit: one atomic sidecar write flips vectors (and attrs) together
    old_attrs = index_io.attrs_path(index_dir) if attrs_rewritten else None
    meta["vectors_dir"] = os.path.basename(next_dir)
    if set_total:
        meta["total_vectors"] = _footer_row_count(next_dir)
    index_io.write_metadata(index_dir, meta)
    _gc_versions(index_dir, keep={next_dir, vectors_dir})
    if attrs_rewritten:
        _gc_versions(
            index_dir,
            keep={os.path.join(index_dir, meta["attrs_dir"]), old_attrs},
            stem="attrs",
        )
    return len(affected)


def _footer_row_count(vectors_dir: str) -> int:
    """Exact row count from parquet footers alone — no data IO, no Spark
    job. Globs *.parquet explicitly (partition dirs also hold _graph
    serving bundles). Footer reads are tiny but latency-bound (one open +
    seek per file — tens of seconds serially over a few thousand
    partitions), so they fan out over a thread pool."""
    import glob as _glob
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    paths = _glob.glob(os.path.join(vectors_dir, "**", "*.parquet"), recursive=True)
    with ThreadPoolExecutor(max_workers=32) as ex:
        return int(
            sum(ex.map(lambda p: pq.ParquetFile(p).metadata.num_rows, paths))
        )


def _live(df: DataFrame, tombstones: DataFrame | None) -> DataFrame:
    """Exclude tombstoned rows from an index scan: broadcast anti-join —
    map-side against the streamed corpus, pending-delete-set sized."""
    if tombstones is not None:
        df = df.join(F.broadcast(tombstones.select("vec_id")), "vec_id", "left_anti")
    return df


def _apply_filter(df: DataFrame, where, allowed_ids: DataFrame | None) -> DataFrame:
    """Compose the search-time predicate onto an index scan. `where` (SQL
    string or Column) lands in the scan's PushedFilters next to the
    centroid_id partition filter; `allowed_ids` (a DataFrame with a vec_id
    column — the FAISS IDSelector analog) becomes a broadcast left-semi,
    map-side against the streamed scan."""
    if where is not None:
        df = df.filter(where)
    if allowed_ids is not None:
        df = df.join(F.broadcast(allowed_ids.select("vec_id")), "vec_id", "left_semi")
    return df


def _postfilter_topk(res: DataFrame, attr_src: DataFrame | None, where,
                     allowed_ids: DataFrame | None, k: int,
                     tombstones: DataFrame | None = None) -> DataFrame:
    """Filtered top-k for graph searches: a beam traversal has no scan to
    push predicates into, so the oversampled candidates are validated
    against the attribute source and re-ranked. Candidates-only IO — the
    attrs scan carries a broadcast semi-join on the ≤ |queries|·k' result
    ids, and only the tiny surviving id set is broadcast back. Pending
    tombstones drop out first (broadcast anti-join on neighbor_id)."""
    kept = res
    if tombstones is not None:
        kept = kept.join(
            F.broadcast(tombstones.select(F.col("vec_id").alias("neighbor_id"))),
            "neighbor_id",
            "left_anti",
        )
    if where is not None or allowed_ids is not None:
        cand = kept.select(F.col("neighbor_id").alias("vec_id")).distinct()
        valid = attr_src
        if where is not None:
            valid = valid.filter(where)
        if allowed_ids is not None:
            valid = valid.join(
                F.broadcast(allowed_ids.select("vec_id")), "vec_id", "left_semi"
            )
        valid = valid.join(F.broadcast(cand), "vec_id", "left_semi").select("vec_id")
        kept = kept.join(
            F.broadcast(valid.withColumnRenamed("vec_id", "neighbor_id")),
            "neighbor_id",
            "left_semi",
        )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("distance", "neighbor_id")
    return (
        kept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "neighbor_id",
            "distance",
        )
    )


def search_index(
    spark: SparkSession,
    index_dir: str | index_io.IndexHandle,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    exact_refine: bool = True,
    refine_factor: int = 10,
    kernel: str = "pandas",
    ef_search: int | None = None,
    where=None,
    allowed_ids: DataFrame | None = None,
    filter_oversample: int | None = None,
    recall_target: float | None = None,
) -> DataFrame:
    """Search previously-built artifacts (the online path of §3.1, batch form).

    `index_dir` may be an already-opened IndexHandle: a serving process
    opens the index once (metadata read + file listing + codebook load) and
    amortizes that across query batches — per-batch cost is then only the
    pruned scan. Passing a path re-opens per call (fine for one-shots).

    - FLAT   -> exact brute-force (K1/K3)
    - IVF    -> probe-pruned exact distances (K6); nprobe defaults to the
                reference's min(64, max(1, nlist // 8)) rule (549)
    - IVFPQ  -> probe-pruned ADC over codes (K8); with exact_refine, the
                ADC top-(refine_factor*k) candidates are re-ranked with
                exact distances (standard two-stage PQ serving; the refine
                IO is candidates-only — |queries| * refine_factor * k rows
                via a broadcast semi-join over the probed lists)
    - HNSW   -> stored-graph traversal (K9, hnsw_stored_search) over the
                adjacency build_index persisted: one task per shard, graph
                loaded once per python worker, serving pays only beam
                traversal (`ef_search` tunes the recall/latency point).
                kernel='sql' = the exact SQL scan (graph traversal has no
                SQL form).

    kernel='pandas' (default) uses the vectorized Arrow/numpy kernels —
    identical results to kernel='sql' (the tie-stable batch top-k makes both
    follow the (distance, vec_id) total order), ~3-5x faster measured on a
    1M-vector corpus.

    The knob choices below (nprobe, ef_search, the filter oversample, the
    graph's exact-scan fallback) are made by plans.planner.plan_search, the
    one planner serve_local calls too; this function executes its plan.

    Filtered search (`where` / `allowed_ids`): `where` is a SQL predicate
    string (or Column) over attribute columns stored at build time
    (build_index attr_cols); `allowed_ids` is a DataFrame with a `vec_id`
    column restricting the candidate set (the FAISS IDSelector analog).
    - FLAT/IVF/IVFPQ evaluate the predicate IN the (probed) scan — exact
      filtered semantics within the probed lists; the predicate reaches the
      parquet scan's PushedFilters, so filtering costs row-group pruning +
      column decode, never a join or a post-pass. With `nprobe` left at
      None, IVF/IVFPQ route by cost from the attr_stats sidecars (written
      at build for attr_cols indexes): when the filter's estimated
      matching rows s*N are no more than the rows a probe would scan,
      max(default, p)*N/nlist, the search is the exact scan of the
      matching rows (recall 1.0); otherwise it probes p lists, p read off
      the recall curve for this filter (attr_stats.plan_nprobe). An
      explicit nprobe is always an override.
    - HNSW traverses blind (a beam has no scan), so the graph is searched
      for k*filter_oversample candidates (ef widened to match) and the
      survivors re-ranked — standard post-filter ANN. filter_oversample
      left at None auto-sizes to ~1/s from the same statistics (clamped
      4..32); when pending tombstones coexist with a filter the margins
      COMPOSE (2 * k * oversample) so deletes don't eat the filter's
      candidate budget. Prefer IVF for heavy filters.

    `recall_target` is the MEASURED form of the reference's hand-tuning
    guidance (README.md:143-150): pick the knob from the index's stored
    recall curve (sources/recall_curve.py, profiled at build) instead of
    reasoning in probe/beam units — nprobe for IVF/IVFPQ (under a filter,
    the filtered probe plan above aims at it), ef_search for graph HNSW.
    An explicit `nprobe` still overrides everything; `recall_target`
    overrides the `ef_search` default for graphs. With NO explicit
    ef_search and no recall_target, a graph index that carries a measured
    ef curve defaults its beam to the DEFAULT_TARGET (0.99) pick from that
    curve (capped at the ladder ceiling when no measured rung reaches it);
    indexes without a curve (FLAT, or built with recall_curve=False and
    never backfilled via ensure_recall_curve) keep the closed-form
    defaults (ef=64, the reference's constant).
    """
    from webscale_vector_search_spark.operators.knn import knn, knn_pandas

    if isinstance(index_dir, index_io.IndexHandle):
        handle = index_dir
        # long-lived handle freshness: deletes/appends/compactions landing
        # since open apply to this search (stat-only probe when clean)
        handle.maybe_refresh()
    else:
        handle = index_io.open_index(spark, index_dir)
    itype = handle.meta["index_type"]
    allowed_arr = None
    if allowed_ids is not None and not isinstance(allowed_ids, DataFrame):
        # accept the same plain-sequence form serve_local takes, so a
        # search_routed call is valid on both sides of the batch-size split
        import numpy as np
        import pyarrow as pa

        allowed_arr = np.unique(np.fromiter((int(x) for x in allowed_ids), dtype=np.int64))
        allowed_ids = spark.createDataFrame(pa.table({"vec_id": pa.array(allowed_arr)}))
    filtered = where is not None or allowed_ids is not None
    tomb = handle.tombstones  # pending logical deletes (delete_vectors)

    def _allowed_info():
        """(distinct count, sorted id array | None) for the allowlist. A
        plain sequence is already on the driver; a DataFrame costs one
        bounded collect, cached per DataFrame object on the handle so a
        serving loop that re-passes the same allowlist pays it once. Past
        ALLOW_COVERAGE_MAX_IDS the array is None and a second, count-only
        job sizes the list; the list is broadcast into the scan anyway, so
        collecting it is the same driver-memory class."""
        if allowed_arr is not None:
            return len(allowed_arr), allowed_arr
        cache = handle.__dict__.setdefault("_allowed_count_cache", {})
        hit = cache.get(allowed_ids)
        if hit is None:
            import numpy as np

            from webscale_vector_search_spark.sources.attr_stats import (
                ALLOW_COVERAGE_MAX_IDS,
            )

            if len(cache) > 16:  # bound the keep-alive to recent allowlists
                cache.clear()
            rows = (
                allowed_ids.select("vec_id")
                .distinct()
                .limit(ALLOW_COVERAGE_MAX_IDS + 1)
                .collect()
            )
            if len(rows) > ALLOW_COVERAGE_MAX_IDS:
                hit = (allowed_ids.select("vec_id").distinct().count(), None)
            else:
                arr = np.unique(
                    np.array([r["vec_id"] for r in rows], dtype=np.int64)
                )
                hit = (len(arr), arr)
            cache[allowed_ids] = hit
        return hit

    if handle.meta.get("metric", "sq_l2") == "cosine":
        # the stored vectors are unit-normalized; normalizing the query batch
        # makes every sq_l2 kernel below rank as cosine (distance emitted is
        # the normalized-space squared L2 == 2 * cosine distance)
        from webscale_vector_search_spark.functions.distance import with_l2_normalized

        queries = with_l2_normalized(queries, "qvec")

    def _exact_filtered_scan(fn):
        # exact scan with the filter applied BEFORE ranking: attrs live in
        # the sidecar for HNSW, so the valid ids semi-join into the scan
        # (an unfiltered scan + post-filter would need a k' covering the
        # filtered depth — this form needs no margin)
        vecs = _live(handle.vectors.select("vec_id", "embedding"), tomb)
        if filtered:
            valid = handle.attrs if handle.attrs is not None else handle.vectors
            valid = _apply_filter(valid, where, allowed_ids)
            vecs = vecs.join(valid.select("vec_id"), "vec_id", "left_semi")
        return fn(vecs, queries, k=k)

    if itype == "HNSW" and kernel != "pandas":
        # graph traversal has no SQL form; the no-Python fallback is the
        # exact scan (right answers, exact cost — explicit, not probed)
        return _exact_filtered_scan(knn)

    plan = planner.plan_search(
        handle, k, nprobe=nprobe, ef_search=ef_search,
        filter_oversample=filter_oversample, recall_target=recall_target,
        where=where, allowed=_allowed_info if allowed_ids is not None else None,
        tombstoned=tomb is not None, spark=spark,
    )
    if plan.route == "scan" or (plan.route == "exact_filtered" and itype != "HNSW"):
        # list indexes carry their attrs in the rows: the filter is the
        # scan's predicate
        fn = knn_pandas if kernel == "pandas" else knn
        return fn(
            _live(_apply_filter(handle.vectors, where, allowed_ids), tomb),
            queries,
            k=k,
        )
    if plan.route == "exact_filtered":
        return _exact_filtered_scan(knn_pandas)
    if plan.route == "graph":
        # serving pays ONLY traversal (graphs are loaded once per python
        # worker — hnsw_partition.load_shard_graph)
        from webscale_vector_search_spark.operators.hnsw_partition import hnsw_stored_search

        res = hnsw_stored_search(
            handle.vectors_dir,
            handle.meta["num_shards"],
            queries,
            k=plan.k_search,
            ef_search=plan.ef_search,
        )
        if not plan.widen:
            return res
        attr_src = handle.attrs if handle.attrs is not None else handle.vectors
        return _postfilter_topk(res, attr_src, where, allowed_ids, k, tombstones=tomb)

    if itype == "IVF" and kernel != "pandas":
        vecs = _live(_apply_filter(handle.vectors, where, allowed_ids), tomb)
        return ivf_ops.ivf_search(
            vecs, handle.centroids, queries, k=k, nprobe=plan.nprobe
        )
    # the probe kernels select lists on the driver, over the collected batch
    batch = ivf_ops.query_arrays(queries)
    if itype == "IVF":
        vecs = _live(_apply_filter(handle.vectors, where, allowed_ids), tomb)
        return ivf_ops.ivf_search_pandas(
            vecs, handle.centroid_arrays(), batch, k=k, nprobe=plan.nprobe
        )

    # IVFPQ: per-query probe-masked ADC over statically pruned code lists
    probes = ivf_ops.DriverProbes(*batch, handle.centroid_arrays(), plan.nprobe)
    is_local = isinstance(handle.codebooks, dict)  # LOPQ per-cell books
    local_arg = rots_arg = None
    if is_local:
        # broadcast the per-cell books ONCE per opened handle (float32 —
        # exact, the parquet store is float32); every batch served through
        # this handle reuses it instead of re-shipping ~64 MB
        if getattr(handle, "_lopq_bc", None) is None:
            handle._lopq_bc = spark.sparkContext.broadcast(
                {c: b.astype("float32") for c, b in handle.codebooks.items()}
            )
        local_arg = handle._lopq_bc
        if handle.lopq_rots is not None:
            # full LOPQ: per-cell OPQ rotations ride a second once-per-handle
            # broadcast (~16 kB/cell — small beside the books)
            if getattr(handle, "_lopq_rots_bc", None) is None:
                handle._lopq_rots_bc = spark.sparkContext.broadcast(
                    {c: r.astype("float32") for c, r in handle.lopq_rots.items()}
                )
            rots_arg = handle._lopq_rots_bc
    adc = pq_ops.adc_search(
        _live(_apply_filter(handle.vectors, where, allowed_ids), tomb),
        None if is_local else handle.codebooks,
        queries,
        k=(refine_factor * k if exact_refine else k),
        probes=probes,
        residual=bool(handle.meta.get("pq_residual")) or is_local,
        local_books=local_arg,
        local_rots=rots_arg,
        rotation=None if is_local else handle.pq_rotation,
    )
    if not exact_refine:
        return adc
    cand_ids = adc.select("query_id", F.col("neighbor_id").alias("vec_id"))
    # candidates all come from probed lists, so the raw-vector re-read can
    # partition-prune the same way as the code scan did (without this the
    # vec_id semi-join scans every list's embeddings)
    refine = (
        probes.prune(handle.vectors)
        .select("vec_id", "embedding")
        .join(F.broadcast(cand_ids), "vec_id")
        .join(F.broadcast(queries.select("query_id", "qvec")), "query_id")
    )
    from webscale_vector_search_spark.operators.knn import topk, with_distance

    scored = with_distance(refine)
    ranked = topk(scored, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )


def compact_index(
    spark: SparkSession,
    index_dir: str,
    target_file_mb: int = 256,
    mode: str = "auto",
    reprofile: bool = True,
) -> dict:
    """Rewrite index partitions to target-sized files and materialize
    pending deletes.

    Streaming appends (streaming/build_stream.py) land one file per
    micro-batch per partition; at scale that degrades scans (listing +
    footer overhead dominates). Compaction reads the current vectors
    directory, re-packs each partition to ~target_file_mb files into a NEW
    `vectors.v{N}` directory, then commits by flipping the `vectors_dir`
    pointer in the metadata sidecar (an atomic os.replace). Readers resolve
    through the pointer (index_io.vectors_path), so one opened before the
    flip keeps reading its complete old directory and one opened after sees
    the complete new one — no rename race. The immediately-previous version
    is kept for such in-flight readers; anything older is garbage-collected.
    Partition columns (shard_id / centroid_id) are preserved, so pruning
    behavior is unchanged.

    mode="auto" picks a TARGETED compaction when pending tombstones exist,
    the index is not fragmented (file count <= 2x partition count — there
    is nothing to re-pack), and the deletes touch under half the
    partitions: only the affected partitions rewrite (the upsert machinery
    — _physical_delete), untouched partition dirs carry forward as
    hardlinks, and the cost becomes proportional to the DELETED data, not
    the corpus. This is the shape that matters at 100 TB: a tenant/
    retention delete lands in the few partitions whose content clusters
    together, and a full rewrite would be a ~corpus-sized job for a
    ~partition-sized change. Deletes spread uniformly across partitions
    (every partition loses a few rows) genuinely require the full rewrite
    — auto detects that and falls through. mode="full" forces the full
    rewrite (e.g. to re-pack after changing target_file_mb).

    Returns {"files_before": n, "files_after": m, "rows": r,
    "vectors_dir": name, "mode": "full"|"targeted",
    "partitions_rewritten": p (targeted only)}.
    """
    import glob
    import shutil

    meta = index_io.read_metadata(index_dir)
    vectors_dir = index_io.vectors_path(index_dir, meta)
    # a crashed streaming publish can leave a partial, uncommitted epoch's
    # files behind; folding them into the compacted base would make the
    # stream's replay of that epoch a duplication. Drop orphans first —
    # the replay republishes the epoch whole.
    from webscale_vector_search_spark.streaming.build_stream import clean_orphan_epochs

    clean_orphan_epochs(index_dir, vectors_dir)
    files_before = len(glob.glob(os.path.join(vectors_dir, "**", "*.parquet"), recursive=True))
    df = spark.read.parquet(vectors_dir)
    part_col = "centroid_id" if "centroid_id" in df.columns else "shard_id"
    # materialize pending deletes: the rewrite is the one pass that touches
    # every row anyway, so folding the tombstones in here is free — the
    # anti-join broadcasts the (bounded) pending set against the streamed
    # scan, and the tombstone table clears after the pointer flip
    tomb_dir = os.path.join(index_dir, "tombstones")
    tomb = None
    # snapshot the tombstone FILE LIST now and read exactly those files:
    # a concurrent delete_vectors (e.g. incremental_delete) may append new
    # files during the rewrite — those must survive this compaction as
    # pending, so only the snapshotted files are removed at commit
    tomb_files = sorted(glob.glob(os.path.join(tomb_dir, "*.parquet")))
    if tomb_files:
        tomb = spark.read.parquet(*tomb_files).select("vec_id").distinct()
    n_parts_disk = sum(
        1 for e in os.listdir(vectors_dir) if e.startswith(f"{part_col}=")
    )
    if (
        mode == "auto"
        and tomb is not None
        and files_before <= 2 * max(1, n_parts_disk)
    ):
        # nothing needs re-packing — the only work is delete
        # materialization. If it touches under half the partitions, rewrite
        # just those (docstring: cost proportional to deleted data). The
        # set collected here feeds _physical_delete directly — this scan is
        # the ONE corpus-wide pass the targeted path pays.
        affected = {
            r[part_col]
            for r in df.join(F.broadcast(tomb), "vec_id", "left_semi")
            .select(part_col)
            .distinct()
            .collect()
        }
        if len(affected) <= 0.5 * n_parts_disk:
            return _compact_targeted(
                spark, index_dir, tomb, tomb_files, tomb_dir, files_before,
                affected, df,
            )
    if tomb is not None:
        df = df.join(F.broadcast(tomb), "vec_id", "left_anti")
    if tomb is not None and meta["index_type"] == "HNSW":
        # dropping graph rows leaves neighbors pointing at deleted nodes —
        # rebuild the graphs of shards that actually lost nodes (same m/ef/
        # seed as the original build: bit-deterministic per shard), keep the
        # untouched shards' adjacency as-is
        from webscale_vector_search_spark.operators import hnsw_partition as hnsw_ops

        affected = [
            r["shard_id"]
            for r in spark.read.parquet(vectors_dir)
            .join(F.broadcast(tomb), "vec_id", "left_semi")
            .select("shard_id")
            .distinct()
            .collect()
        ]
        if affected:
            hparams = meta.get("hnsw") or {}
            rebuilt = hnsw_ops.build_hnsw_graphs(
                df.filter(F.col("shard_id").isin(affected)).select(
                    "vec_id", "embedding", "shard_id"
                ),
                m=hparams.get("m", 16),
                ef_construction=hparams.get("ef_construction", 64),
                seed=hparams.get("seed", 42),
            )
            # the rebuilt plan is expensive (per-shard graph construction);
            # it runs for the count below AND the write — persist once
            df = df.filter(~F.col("shard_id").isin(affected)).unionByName(rebuilt).persist()
    rows = df.count()

    total_bytes = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(vectors_dir, "**", "*.parquet"), recursive=True)
    )
    n_parts = max(1, df.select(part_col).distinct().count())
    files_per_part = max(1, int(total_bytes / (target_file_mb * 1024 * 1024) / n_parts))

    versions = sorted(
        int(os.path.basename(d).rsplit(".v", 1)[1])
        for d in glob.glob(os.path.join(index_dir, "vectors.v*"))
        if os.path.basename(d).rsplit(".v", 1)[1].isdigit()
    )
    next_dir = os.path.join(index_dir, f"vectors.v{(versions[-1] + 1) if versions else 1}")
    # repartition on (part_col, vec_id-hash-bucket): part_col alone would
    # funnel each partition VALUE into one task (one giant file regardless
    # of target size); the secondary bucket spreads a partition's rows over
    # files_per_part tasks, and partitionBy still lays files out per value.
    from webscale_vector_search_spark.functions.hashing import det_hash

    bucket = (det_hash(F.col("vec_id")) % F.lit(files_per_part)).cast("int")
    (
        df.repartition(n_parts * files_per_part, F.col(part_col), bucket)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(next_dir)
    )
    # commit: flip the sidecar pointer (atomic), then GC all versions except
    # the one just written and its immediate predecessor
    attrs_rewritten = False
    old_attrs = None
    if tomb is not None and meta.get("attr_cols"):
        # materializing deletes must also drop the deleted ids' attrs
        # sidecar rows (HNSW): leftovers would later collide with an upsert
        # re-adding the id — the same commit flips both pointers. Planner
        # stats subtract the removed combos first (read from the OLD state).
        from webscale_vector_search_spark.sources.attr_stats import merge_attr_delta

        old_attrs = index_io.attrs_path(index_dir, meta)
        attr_src = (
            spark.read.parquet(old_attrs)
            if meta["index_type"] == "HNSW" and os.path.isdir(old_attrs)
            else spark.read.parquet(vectors_dir)
        )
        merge_attr_delta(
            spark,
            index_dir,
            attr_src.join(F.broadcast(tomb), "vec_id", "left_semi")
            .groupBy(*meta["attr_cols"])
            .agg((-F.count(F.lit(1))).alias("count")),
        )
        attrs_rewritten = _rewrite_attrs_without(spark, index_dir, meta, tomb)
    meta["vectors_dir"] = os.path.basename(next_dir)
    if tomb is not None:
        # deletes are now physical: the live count becomes the total. Only
        # drop the has_tombstones flag if no NEW tombstone files landed
        # during the rewrite — those stay pending for the next compaction.
        meta["total_vectors"] = rows
        new_pending = set(glob.glob(os.path.join(tomb_dir, "*.parquet"))) - set(tomb_files)
        if not new_pending:
            meta.pop("has_tombstones", None)
    index_io.write_metadata(index_dir, meta)
    if tomb is not None:
        df.unpersist()
        # crash-safe order — pointer flip first, tombstone removal after: a
        # reader between the two anti-joins already-absent ids (a no-op).
        # Remove exactly the snapshotted files; concurrent appends survive.
        for p in tomb_files:
            try:
                os.remove(p)
            except OSError:
                pass
        if os.path.isdir(tomb_dir) and not any(
            f.endswith(".parquet") for f in os.listdir(tomb_dir)
        ):
            shutil.rmtree(tomb_dir, ignore_errors=True)
    _gc_versions(index_dir, keep={next_dir, vectors_dir})
    if attrs_rewritten:
        _gc_versions(
            index_dir,
            keep={os.path.join(index_dir, meta["attrs_dir"]), old_attrs},
            stem="attrs",
        )
    if meta["index_type"] == "HNSW":
        # the frozen serving bundles lived inside the directory just
        # superseded — without a re-freeze every cold worker would silently
        # pay the ~6x-slower parquet decode forever after a compaction
        from webscale_vector_search_spark.operators import hnsw_partition as hnsw_ops

        hnsw_ops.freeze_graphs(next_dir, meta["num_shards"], spark=spark)
    if meta.get("attr_cols"):
        # FULL compaction is the exact-refresh point for the per-cell
        # planner table (appends leave it a lower bound; targeted
        # compaction delta-subtracts instead — a corpus-wide stats scan
        # would defeat its cost-proportional-to-deletes contract).
        # IVF/IVFPQ: one column-pruned scan of rows just written. HNSW:
        # re-fit + re-assign the stats quantizer over the live rows (the
        # graph full compaction is already corpus-sized). Post-commit on
        # purpose: a crash here leaves the committed index with
        # slightly-stale stats, never stats describing an uncommitted
        # vectors version.
        if meta.get("index_type") in ("IVF", "IVFPQ"):
            from webscale_vector_search_spark.sources.attr_stats import (
                write_attr_cell_stats,
            )

            write_attr_cell_stats(spark, next_dir, meta["attr_cols"], index_dir)
        elif meta.get("index_type") == "HNSW" and tomb is not None:
            from webscale_vector_search_spark.sources.attr_stats import (
                CELL_STATS_DIRNAME,
                ensure_attr_cell_stats,
            )

            shutil.rmtree(
                os.path.join(index_dir, CELL_STATS_DIRNAME), ignore_errors=True
            )
            ensure_attr_cell_stats(spark, index_dir)
    from webscale_vector_search_spark.sources.recall_curve import (
        CURVE_DIRNAME,
        measure_recall_curve,
    )

    curve_present = os.path.isdir(os.path.join(index_dir, CURVE_DIRNAME))
    if reprofile and curve_present:
        # FULL compaction is also the re-profile point for the measured
        # recall curve (same post-commit stance as the stats tables above;
        # targeted compaction deliberately skips this — one exact pass
        # would defeat its cost contract, and the profile drift between
        # compactions is bounded by the same argument as the stats').
        # reprofile=False opts out for callers who compact often and
        # re-profile on their own schedule — the pass is one exact scan,
        # comparable to the rewrite itself; the opt-out (like a failure
        # or a targeted pass) sets `profile_stale` in the sidecar, and
        # ensure_recall_curve is the remediation that re-measures and
        # clears it. The stored profiling knobs are reused so the
        # re-profile reproduces the build-time configuration (a kmax=5000
        # profile must not silently shrink to the default).
        try:
            from webscale_vector_search_spark.sources.recall_curve import (
                load_profile_meta,
                reprofile_kwargs,
            )

            knobs = reprofile_kwargs(load_profile_meta(index_dir))
            measure_recall_curve(
                spark, index_io.open_index(spark, index_dir), **knobs
            )  # clears profile_stale on success
        except Exception:
            # stale-but-present profile beats a failed compaction — but the
            # staleness must be OBSERVABLE: flag it in the
            # sidecar (get_stats surfaces it; the next successful
            # measure_recall_curve clears it)
            from webscale_vector_search_spark.sources.recall_curve import (
                set_profile_stale,
            )

            set_profile_stale(index_dir, True)
    elif curve_present and tomb is not None:
        # reprofile=False opt-out AND deletions were materialized: the
        # curve now describes a previous vectors version — record that,
        # same flag, caller clears it when their own re-profile schedule
        # runs. A pure small-file merge (no tombstones) leaves the vector
        # SET byte-identical — the curve is layout-independent, so
        # flagging there would force a pointless exact-scan re-measure on
        # remediation.
        from webscale_vector_search_spark.sources.recall_curve import (
            set_profile_stale,
        )

        set_profile_stale(index_dir, True)
    files_after = len(glob.glob(os.path.join(next_dir, "**", "*.parquet"), recursive=True))
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
        "vectors_dir": os.path.basename(next_dir),
        "tombstones_applied": tomb is not None,
        "mode": "full",
    }


def _compact_targeted(
    spark: SparkSession,
    index_dir: str,
    tomb: DataFrame,
    tomb_files: list,
    tomb_dir: str,
    files_before: int,
    affected: set,
    vecs: DataFrame,
) -> dict:
    """Delete-materialization-only compaction: rewrite exactly the
    partitions holding tombstoned rows (upsert's _physical_delete — same
    vectors.v{N} + pointer-flip commit, hardlink carry-forward, HNSW shard
    rebuild, attrs/stats delta maintenance), then retire the snapshotted
    tombstone files in the full path's crash-safe order (rows physically
    gone BEFORE their tombstones disappear; the has_tombstones flag drops
    only when no new deletes landed mid-rewrite)."""
    import glob
    import shutil

    n_parts = _physical_delete(
        spark, index_dir, tomb, set_total=True, affected=affected, vecs=vecs
    )
    meta = index_io.read_metadata(index_dir)
    new_dir = index_io.vectors_path(index_dir, meta)
    for p in tomb_files:
        try:
            os.remove(p)
        except OSError:
            pass
    if os.path.isdir(tomb_dir) and not any(
        f.endswith(".parquet") for f in os.listdir(tomb_dir)
    ):
        shutil.rmtree(tomb_dir, ignore_errors=True)
    if not glob.glob(os.path.join(tomb_dir, "*.parquet")):
        meta.pop("has_tombstones", None)
    from webscale_vector_search_spark.sources.recall_curve import CURVE_DIRNAME

    if os.path.isdir(os.path.join(index_dir, CURVE_DIRNAME)):
        # targeted compaction skips the re-profile by cost contract (one
        # exact pass would defeat proportional-to-deletes); the curve now
        # lags the vectors — make that observable (VERDICT r11 #6)
        meta["profile_stale"] = True
    index_io.write_metadata(index_dir, meta)
    files_after = len(
        glob.glob(os.path.join(new_dir, "**", "*.parquet"), recursive=True)
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": meta.get("total_vectors"),
        "vectors_dir": os.path.basename(new_dir),
        "tombstones_applied": True,
        "mode": "targeted",
        "partitions_rewritten": n_parts,
    }


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """A7 over the stored artifacts: rows per partition + grand total,
    joined with the sidecar identity (reference: per-shard ntotal summed,
    vector_search_cluster.py:1220-1223 and /api/v1/stats 815-830)."""
    from webscale_vector_search_spark.operators.metrics import shard_histogram

    handle = index_io.open_index(spark, index_dir)
    part_col = "centroid_id" if "centroid_id" in handle.vectors.columns else "shard_id"
    # stats report LIVE rows: pending tombstones are subtracted the same
    # way every search path subtracts them
    hist = shard_histogram(_live(handle.vectors, handle.tombstones), part_col)
    return hist.withColumn("index_type", F.lit(handle.meta["index_type"])).withColumn(
        "vector_dim", F.lit(handle.meta["vector_dim"])
    )
