"""Attribute-value statistics sidecar — the filtered-search planner input.

Filtered ANN has a recall trap: a predicate of selectivity `s` thins every
probed inverted list to ~s of its usual candidates, so a fixed nprobe
measured 0.32 recall at s=0.1 where the unfiltered search measures ~1.0
(BENCH_DETAIL r9 `ann_filtered`). The fix is planner-shaped, not
kernel-shaped: estimate the filter's statistics and size the probe budget
(the classic selectivity→cardinality step a SQL optimizer does from table
statistics).

The r10 probe-budget model (replacing the first-cut ~1/s scaling, which
r10 calibration measured as 2.5-16x over the recall-0.99 need): the
filtered top-k is contained in the unfiltered top-(k/s) in expectation, so
the budget has three regimes, and the planner takes their max —

- a proximity floor, 2x the unfiltered default: moderate filters push the
  true neighbors only a little farther down the cell-proximity ranking;
- a candidate-volume term C*k/(s*avg_cell) = C*k*nlist/(s*n): probe enough
  cells that ~C*k matching candidates are expected (C calibrated at 64);
- a cell-discovery term D/f where f is the fraction of cells containing
  ANY match (D calibrated at 4): a cluster-CORRELATED filter (all matches
  in few cells — e.g. a tenant whose documents embed together) defeats
  per-combo counts, which is exactly why the per-(cell, combo) table
  `attr_cell_stats/` exists. f is exact for attr predicates.

Calibration (BENCH_DETAIL r10 `ann_filtered*`, 1M/nlist=1000 and
10M/nlist=3162, s in [0.001, 0.5], uniform and cluster-correlated
filters): the max-of-three budget sits 1.0-2.5x above the measured
recall-0.99 probe count at every point; the old ~1/s rule sat 2.5-16x
above (640 probes at s=0.1 where 128 suffice).

Id-ALLOWLISTS (`allowed_ids`) get EXACT cell coverage since r11
(`allowlist_cell_coverage`): the list is driver-sized by contract (it is
broadcast into the scan), so one bounded is-in lookup against the stored
rows yields the same D/f discovery input attr predicates get — a
correlated allowlist (one content cluster's ids) plans more probes or
falls back, a dispersed one stops paying the old pessimistic ceil(base/s)
scaling, which remains only for lists past ALLOW_COVERAGE_MAX_IDS.

r11 also layers the MEASURED recall curve on top (sources/recall_curve.py,
written at build): when present, plan_nprobe reads it at effective depth
ceil(k/s) instead of the candidate-volume constant — the constant's tier
insensitivity overshot 3.2x at the 10M tier — and search_index/serve_local
accept an explicit `recall_target`. The closed-form below remains the
no-curve fallback and the k/s-beyond-profile fallback.

At build time, `write_attr_stats` records the exact per-combination row
counts of the declared attr_cols — bounded at MAX_COMBOS combinations
(beyond that the table is skipped and search falls back to the fixed
defaults; attribute filters over near-unique columns should use
`allowed_ids`, whose cardinality is known without statistics). The table
is tiny (≤ MAX_COMBOS rows), lives beside the index, and is maintained as
deltas by append/upsert/compaction — approximate between maintenance
operations is fine: it feeds a probe-budget heuristic, not correctness.

Both search paths read the SAME numbers, so the auto-scaled nprobe /
oversample is identical on the Spark path (SQL-string predicate, evaluated
by Spark against the stats rows) and the serve_local path (vectorized
callable, evaluated by numpy against the same rows) — the bit-identity
contract between the two paths extends to their planning.

Reference parity note: FAISS's IDSelector has no planner — the reference
(vector_search_cluster.py) exposes no filtered search at all; this is
§2.9 extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATS_DIRNAME = "attr_stats"
CELL_STATS_DIRNAME = "attr_cell_stats"
STATS_CENTROIDS_DIRNAME = "stats_centroids"
MAX_COMBOS = 10_000
# stats-only quantizer for graph indexes (no inverted lists of their own):
# enough pseudo-cells to resolve spatial concentration, few enough that the
# fit is a footnote of the build
STATS_QUANT_CELLS = 256
# graph beam fallback threshold on cell coverage: measured beam recall for
# a spatially-concentrated filter ~= f (1M bench: f=0.11 -> recall 0.0998),
# so any f meaningfully below 1 means the beam loses what the filter keeps
GRAPH_COVERAGE_MIN = 0.5
# per-(cell, combo) table bound: past this the table stops being a
# driver-trivial planner input (the cap is rows, i.e. cells x combos
# PRESENT, not the cross product)
CELL_STATS_MAX_ROWS = 1_000_000
# calibrated probe-budget constants (module docstring; docs/SCALE.md):
# candidate-volume multiplier, proximity floor, cell-discovery numerator
C_CANDIDATES, NPROBE_FLOOR_MULT, CELL_DISCOVERY = 64, 2, 4
# auto filter_oversample clamp for graph post-filtering: below 4 the
# oversample buys nothing, above 32 the widened beam's cost approaches a
# probed-scan's — heavy filters should run on IVF (docs/SCALE.md)
OVERSAMPLE_FLOOR, OVERSAMPLE_CAP = 4, 32
# allowlist coverage cap: past this many ids the exact is-in lookup stops
# being plan-time-trivial and the planner keeps the pessimistic budget
# (such lists are also past any sane broadcast size for the scan itself)
ALLOW_COVERAGE_MAX_IDS = 1_000_000
# per-handle plan caches are keyed by predicate object / allowlist
# fingerprint; a serving loop that builds a fresh lambda per request would
# otherwise grow them without bound (each allowlist entry can pin MBs)
PLAN_CACHE_CAP = 32


def _cache_put(cache: dict, key, val, cap: int = PLAN_CACHE_CAP):
    """FIFO-bounded insert for the per-handle plan caches (same discipline
    as search_index's _allowed_count_cache): evict the oldest entry once
    `cap` distinct keys are resident — a loop over distinct predicates
    stays O(cap) memory instead of O(requests)."""
    if key not in cache and len(cache) >= cap:
        cache.pop(next(iter(cache)))
    cache[key] = val


def write_attr_stats(base: DataFrame, attr_cols: list, out_dir: str) -> bool:
    """One map-side-combined aggregation over the corpus -> the per-combo
    count table, collected and written in one action (index_io.write_capped).
    Skipped (returns False) when the attribute domain exceeds MAX_COMBOS
    combinations — a stats table that large stops being a broadcast-trivial
    planner input."""
    from webscale_vector_search_spark.sources.index_io import write_capped

    counts = base.groupBy(*attr_cols).agg(F.count(F.lit(1)).alias("count"))
    return write_capped(counts, os.path.join(out_dir, STATS_DIRNAME), MAX_COMBOS)


def write_attr_cell_stats(
    spark: SparkSession, vectors_dir: str, attr_cols: list, out_dir: str
) -> bool:
    """The per-(centroid_id, combo) count table — the cell-discovery
    planner input (module docstring: the D/f term). One column-pruned
    aggregation over the written index rows (centroid_id is the partition
    column, attrs ride the rows — a 2-3 int-column scan). Skipped past
    CELL_STATS_MAX_ROWS present rows; the planner then falls back to the
    pessimistic ceil(base/s) budget for attr predicates."""
    from webscale_vector_search_spark.sources.index_io import write_capped

    counts = (
        spark.read.parquet(vectors_dir)
        .groupBy("centroid_id", *attr_cols)
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return write_capped(
        counts, os.path.join(out_dir, CELL_STATS_DIRNAME), CELL_STATS_MAX_ROWS
    )


def write_graph_cell_stats(
    spark: SparkSession,
    base: DataFrame,
    attr_cols: list,
    out_dir: str,
    n_total: int,
    seed: int = 42,
    vec_col: str = "embedding",
) -> bool:
    """The graph-index analog of write_attr_cell_stats: HNSW has no
    inverted lists, so a SMALL seeded k-means fits stats-only pseudo-cells
    (sampled fit, one map-only assign pass) and the per-(pseudo-cell,
    combo) counts land in the same attr_cell_stats/ table. This is what
    lets the planner SEE spatial concentration for graphs — the r10 bench
    measured beam recall ~= f for a concentrated filter, so without this
    signal a correlated filter silently collapses graph recall. The tiny
    centroid set persists beside the table (stats_centroids/) so
    maintenance can assign removed rows to pseudo-cells without refitting."""
    from webscale_vector_search_spark.operators.ivf import (
        assign_centroids,
        train_centroid_arrays,
    )
    from webscale_vector_search_spark.sources.index_io import (
        write_capped,
        write_centroids,
    )

    cells = max(4, min(STATS_QUANT_CELLS, n_total // 32))
    frac = min(1.0, 100_000 / max(1, n_total))
    cents = train_centroid_arrays(
        base, cells, seed=seed, sample_fraction=frac, vec_col=vec_col
    )
    counts = (
        assign_centroids(base.select(vec_col, *attr_cols), cents, vec_col=vec_col)
        .groupBy("centroid_id", *attr_cols)
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if not write_capped(counts, os.path.join(out_dir, CELL_STATS_DIRNAME), CELL_STATS_MAX_ROWS):
        return False
    write_centroids(os.path.join(out_dir, STATS_CENTROIDS_DIRNAME), cents)
    return True


def ensure_attr_cell_stats(spark: SparkSession, index_dir: str) -> bool:
    """Backfill the per-cell table for an attr_cols IVF/IVFPQ index built
    before it existed (pre-r10 artifact), or refresh it after maintenance.
    Returns True when a table exists afterwards."""
    from webscale_vector_search_spark.sources import index_io

    meta = index_io.read_metadata(index_dir)
    if not meta.get("attr_cols"):
        return False
    path = os.path.join(index_dir, CELL_STATS_DIRNAME)
    if os.path.isdir(path):
        return True
    if meta.get("index_type") in ("IVF", "IVFPQ"):
        return write_attr_cell_stats(
            spark, index_io.vectors_path(index_dir, meta), meta["attr_cols"],
            index_dir,
        )
    if meta.get("index_type") == "HNSW":
        # graph rows carry embeddings but attrs live in the sidecar — join
        # them for the stats-quantizer pass (backfill only; new builds
        # write this at build time from the input frame directly)
        vecs = spark.read.parquet(index_io.vectors_path(index_dir, meta)).select(
            "vec_id", "embedding"
        )
        attrs_dir = index_io.attrs_path(index_dir, meta)
        base = (
            vecs.join(spark.read.parquet(attrs_dir), "vec_id")
            if os.path.isdir(attrs_dir)
            else vecs
        )
        if not all(c in base.columns for c in meta["attr_cols"]):
            return False
        return write_graph_cell_stats(
            spark, base, meta["attr_cols"], index_dir,
            meta.get("total_vectors") or base.count(),
        )
    return False


def _swap_stats_dir(path: str, merged: DataFrame, cap: int) -> None:
    """Commit a merged stats table over `path`: re-enforce the write-time
    row cap (an append carrying new combos can push a once-trivial table
    past it — past the cap the table is dropped and search degrades to the
    fixed defaults, exactly like the write-time gate), then swap via
    rename-aside + rename-in. The loss window is two renames (old table
    parked at `.old`), not the old rmtree-then-rename gap; a crash inside
    it loses only the stats table — search degrades, never answers wrong —
    and the next compaction recomputes it."""
    import shutil

    from webscale_vector_search_spark.sources.index_io import write_capped

    tmp, old = path + ".rewrite", path + ".old"
    if not write_capped(merged, tmp, cap):
        shutil.rmtree(path, ignore_errors=True)
        return
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_cell_delta(spark: SparkSession, index_dir: str, delta: DataFrame) -> None:
    """Fold a (centroid_id, attr_cols..., count) delta into the per-cell
    table — subtract-only in practice (physical removal sites know the
    removed rows' cells; appends don't thread assignment back here and
    leave the table a LOWER bound instead, see the build.py append note:
    understating f only RAISES the D/f budget — errors are conservative).
    compact_index recomputes the table exactly."""
    path = os.path.join(index_dir, CELL_STATS_DIRNAME)
    if not os.path.isdir(path):
        return
    cur = spark.read.parquet(path)
    keys = [c for c in cur.columns if c != "count"]
    merged = (
        cur.unionByName(delta.select(*cur.columns))
        .groupBy(*keys)
        .agg(F.sum("count").alias("count"))
        .filter(F.col("count") > 0)
    )
    _swap_stats_dir(path, merged, CELL_STATS_MAX_ROWS)


def merge_attr_delta(spark: SparkSession, index_dir: str, delta: DataFrame) -> None:
    """Fold a (attr_cols..., count) delta — counts may be negative for
    removals — into the stats table. Driver-cheap: the table is ≤
    MAX_COMBOS rows (re-checked at the swap)."""
    path = os.path.join(index_dir, STATS_DIRNAME)
    if not os.path.isdir(path):
        return
    cur = spark.read.parquet(path)
    attr_cols = [c for c in cur.columns if c != "count"]
    merged = (
        cur.unionByName(delta.select(*cur.columns))
        .groupBy(*attr_cols)
        .agg(F.sum("count").alias("count"))
        .filter(F.col("count") > 0)
    )
    _swap_stats_dir(path, merged, MAX_COMBOS)


def ensure_attr_stats(spark: SparkSession, index_dir: str) -> bool:
    """Backfill the stats table for an attr_cols index built before the
    planner existed: recompute from the stored rows (row-carried attrs,
    or the attrs sidecar for HNSW indexes). No-op
    when stats already exist or the index has no attributes. Returns True
    when a stats table exists afterwards."""
    from webscale_vector_search_spark.sources import index_io

    path = os.path.join(index_dir, STATS_DIRNAME)
    if os.path.isdir(path):
        return True
    meta = index_io.read_metadata(index_dir)
    attr_cols = meta.get("attr_cols")
    if not attr_cols:
        return False
    if meta["index_type"] == "HNSW":
        src = spark.read.parquet(index_io.attrs_path(index_dir, meta))
    else:
        src = spark.read.parquet(index_io.vectors_path(index_dir, meta))
    return write_attr_stats(src.select(*attr_cols), attr_cols, index_dir)


def load_stats_pdf(handle):
    """The stats table as pandas, cached on the handle (a full reopen —
    maybe_refresh after append/upsert/compaction — drops the cache with
    the rest of the handle state). None when the index has no stats."""
    if handle.index_dir is None:
        return None
    cached = handle.__dict__.get("_attr_stats_pdf", False)
    if cached is not False:
        return cached
    path = os.path.join(handle.index_dir, STATS_DIRNAME)
    pdf = None
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        import pyarrow.dataset as pads

        pdf = pads.dataset(path, format="parquet").to_table().to_pandas()
    handle._attr_stats_pdf = pdf
    return pdf


def load_cell_stats_pdf(handle):
    """The per-(cell, combo) table as pandas, cached on the handle (same
    lifecycle as load_stats_pdf). None when absent."""
    if handle.index_dir is None:
        return None
    cached = handle.__dict__.get("_attr_cell_stats_pdf", False)
    if cached is not False:
        return cached
    path = os.path.join(handle.index_dir, CELL_STATS_DIRNAME)
    pdf = None
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        import pyarrow.dataset as pads

        pdf = pads.dataset(path, format="parquet").to_table().to_pandas()
    handle._attr_cell_stats_pdf = pdf
    return pdf


def lookup_stored_rows(root_dir: str, ids, columns: list):
    """Driver-side lookup of stored-row columns for a BOUNDED id set: one
    column-pruned pyarrow scan with a vec_id is-in predicate (row groups
    whose vec_id statistics exclude the whole set are skipped; hive
    partition columns like centroid_id resolve from the directory names).
    Returns a pandas frame with vec_id + the requested columns, rows in
    scan order. The id set must be driver-sized by contract — tombstone
    pending sets, broadcast allowlists, profile samples — so the result is
    too; the scan itself reads only the named columns."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    ids = np.asarray(list(ids) if not hasattr(ids, "dtype") else ids, dtype="int64")
    ds = pads.dataset(root_dir, format="parquet", partitioning="hive")
    cols = ["vec_id"] + [c for c in columns if c != "vec_id"]
    cols = [c for c in cols if c in ds.schema.names]
    tbl = ds.to_table(
        columns=cols, filter=pc.field("vec_id").isin(pa.array(ids))
    )
    return tbl.to_pandas()


def cell_coverage(handle, where, spark=None):
    """Exact fraction of cells containing >= 1 row matching the attr
    predicate `where` — the f in the planner's D/f cell-discovery term
    (inverted lists for IVF/IVFPQ, stats-quantizer pseudo-cells for
    graphs). The denominator is the number of NON-EMPTY cells in the
    table itself, so no index-type-specific nlist plumbing is needed.
    None when no per-cell table exists or the predicate isn't answerable
    from it (callers then use the pessimistic budget).

    Both predicate forms evaluate against the SAME rows (callable via
    numpy, SQL string/Column via Spark on the tiny table), so the Spark
    and serve_local paths compute identical f — the plan-parity contract.
    """
    pdf = load_cell_stats_pdf(handle)
    if pdf is None:
        return None
    nlist = int(pdf["centroid_id"].nunique())
    if nlist <= 0:
        return None
    try:
        # cached per predicate per handle for BOTH forms: a serving loop
        # repeats one predicate, and the numpy eval over an up-to-1M-row
        # cell table (or the Spark job for SQL strings) is per-plan money
        cache = handle.__dict__.setdefault("_cell_coverage_cache", {})
        key = where if callable(where) else str(where)
        if key not in cache:
            if callable(where):
                import numpy as np

                attrs = {
                    c: pdf[c].to_numpy()
                    for c in pdf.columns
                    if c not in ("count", "centroid_id")
                }
                mask = np.asarray(where(attrs), dtype=bool)
                _cache_put(
                    cache, key, len(np.unique(pdf["centroid_id"].to_numpy()[mask]))
                )
            else:
                sdf = spark.createDataFrame(pdf)
                _cache_put(
                    cache,
                    key,
                    int(
                        sdf.filter(where)
                        .agg(F.countDistinct("centroid_id"))
                        .first()[0]
                        or 0
                    ),
                )
        cells = cache[key]
    except Exception:
        return None
    if cells <= 0:
        return None
    return cells / nlist


def allowlist_cells(handle, allowed_arr) -> "dict | None":
    """Exact per-cell counts of an id-allowlist ({centroid_id: n_allowed}),
    from the same bounded is-in lookup as allowlist_cell_coverage (shared
    cache). None past ALLOW_COVERAGE_MAX_IDS / no cell layout / failure."""
    return _allowlist_lookup(handle, allowed_arr)[1]


def _allow_key(allowed_arr):
    import numpy as np

    return (len(allowed_arr), hash(np.ascontiguousarray(allowed_arr).tobytes()))


def _allowlist_lookup(handle, allowed_arr):
    """(coverage f, {cell: count}) for an allowlist, cached per fingerprint
    on the handle; (None, None) when unanswerable."""
    import numpy as np

    if handle.index_dir is None or handle.vectors_dir is None:
        return (None, None)
    n = len(allowed_arr)
    if n == 0 or n > ALLOW_COVERAGE_MAX_IDS:
        return (None, None)
    cache = handle.__dict__.setdefault("_allow_cov_cache", {})
    key = _allow_key(allowed_arr)
    if key in cache:
        return cache[key]
    f = cells_d = None
    try:
        itype = handle.meta.get("index_type")
        if itype in ("IVF", "IVFPQ"):
            pdf = lookup_stored_rows(handle.vectors_dir, allowed_arr, ["centroid_id"])
            nonempty = sum(
                1
                for d in os.listdir(handle.vectors_dir)
                if d.startswith("centroid_id=")
            )
            if len(pdf) and nonempty:
                vc = pdf["centroid_id"].value_counts()
                cells_d = {int(c): int(v) for c, v in vc.items()}
                f = len(cells_d) / nonempty
        elif itype == "HNSW":
            cents_dir = os.path.join(handle.index_dir, STATS_CENTROIDS_DIRNAME)
            cell_pdf = load_cell_stats_pdf(handle)
            if os.path.isdir(cents_dir) and cell_pdf is not None:
                import pyarrow.dataset as pads

                pdf = lookup_stored_rows(
                    handle.vectors_dir, allowed_arr, ["embedding"]
                )
                if len(pdf):
                    ct = (
                        pads.dataset(cents_dir, format="parquet")
                        .to_table(columns=["centroid_id", "cvec"])
                        .sort_by("centroid_id")
                    )
                    C = np.stack(ct.column("cvec").to_pylist()).astype(np.float64)
                    c_ids = ct.column("centroid_id").to_numpy()
                    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                    d = (
                        (V * V).sum(1)[:, None]
                        - 2.0 * (V @ C.T)
                        + (C * C).sum(1)[None, :]
                    )
                    assigned = c_ids[np.argmin(d, axis=1)]
                    uniq, counts = np.unique(assigned, return_counts=True)
                    cells_d = {int(c): int(v) for c, v in zip(uniq, counts)}
                    nonempty = int(cell_pdf["centroid_id"].nunique())
                    if nonempty:
                        f = len(cells_d) / nonempty
    except Exception:
        f = cells_d = None
    _cache_put(cache, key, (f, cells_d))
    return (f, cells_d)


def allowlist_cell_coverage(handle, allowed_arr) -> "float | None":
    """Exact cell coverage f of an id-allowlist: the fraction of non-empty
    cells holding >= 1 allowed id. r10 kept allowlists on the pessimistic
    ceil(base/s) budget because ATTRIBUTE statistics can't see allowlist
    clustering; the allowlist itself, though, is driver-sized by contract
    (search broadcasts it into the scan), so ONE bounded is-in lookup
    against the stored rows yields the exact f the D/f cell-discovery term
    wants. A correlated allowlist (one content cluster's ids) now plans
    more probes or falls back to the exact scan; a dispersed one stops
    paying the pessimistic budget. Cached per allowlist fingerprint on the
    handle; None when the list exceeds ALLOW_COVERAGE_MAX_IDS, the layout
    has no cells (FLAT / legacy), or the lookup fails — callers then keep
    the pessimistic path. For graph indexes the allowed rows' embeddings
    assign through the STORED stats quantizer (same pseudo-cells as
    write_graph_cell_stats), driver-side."""
    return _allowlist_lookup(handle, allowed_arr)[0]

def _tombstone_matched(handle, where, spark=None) -> "tuple | None":
    """(t_matched, t_live): pending-tombstoned STORED rows matching `where`
    and total pending stored rows. The stats tables are maintained by
    physical removal only, so between a delete_vectors and its compaction
    they still count tombstoned rows — when the pending deletes correlate
    with the predicate (delete a tenant, then query that tenant) the
    unadjusted estimate overstates s and the probe budget undershoots.
    One bounded is-in lookup (the pending set is driver-sized by the
    compaction contract), cached per (mutation fingerprint, predicate) on
    the handle. None when unanswerable (no attrs source / lookup failed) —
    callers then keep the unadjusted estimate."""
    tomb = handle.tombstone_array()
    if tomb is None or len(tomb) == 0:
        return (0, 0)
    from webscale_vector_search_spark.sources import index_io

    attr_cols = handle.meta.get("attr_cols") or []
    root = (
        index_io.attrs_path(handle.index_dir, handle.meta)
        if handle.meta["index_type"] == "HNSW"
        else handle.vectors_dir
    )
    cache = handle.__dict__.setdefault("_tomb_sel_cache", {})
    key = (handle._fingerprint, where if callable(where) else str(where))
    if key in cache:
        return cache[key]
    out = None
    try:
        pdf = lookup_stored_rows(root, tomb, attr_cols)
        t_live = len(pdf)
        if t_live == 0:
            out = (0, 0)
        elif callable(where):
            import numpy as np

            attrs = {c: pdf[c].to_numpy() for c in attr_cols}
            out = (int(np.asarray(where(attrs), dtype=bool).sum()), t_live)
        else:
            sdf = spark.createDataFrame(pdf[attr_cols]) if spark else None
            if sdf is not None:
                out = (int(sdf.filter(where).count()), t_live)
    except Exception:
        out = None
    _cache_put(cache, key, out)
    return out


def selectivity(handle, where=None, allowed_count=None, spark=None):
    """Estimated fraction of stored rows passing the search filter, or
    None when it can't be estimated (no stats table / predicate the stats
    rows can't answer) — callers then keep their fixed defaults.

    `where` is either the Spark path's SQL string / Column (evaluated by
    Spark against the tiny stats table, cached per predicate per handle)
    or serve_local's vectorized callable (evaluated by numpy on the same
    rows). `allowed_count` is the distinct id-allowlist size; composed
    with `where` under the independence assumption s = s_where * s_allow
    (a deliberate planner approximation — it only sizes the probe
    budget)."""
    s = None
    if where is not None:
        pdf = load_stats_pdf(handle)
        if pdf is None:
            return None
        total = int(pdf["count"].sum())
        if total <= 0:
            return None
        try:
            cache = handle.__dict__.setdefault("_selectivity_cache", {})
            key = where if callable(where) else str(where)
            if key not in cache:
                if callable(where):
                    attrs = {
                        c: pdf[c].to_numpy() for c in pdf.columns if c != "count"
                    }
                    import numpy as np

                    mask = np.asarray(where(attrs), dtype=bool)
                    _cache_put(cache, key, int(pdf["count"].to_numpy()[mask].sum()))
                else:
                    sdf = spark.createDataFrame(pdf)
                    _cache_put(
                        cache,
                        key,
                        int(sdf.filter(where).agg(F.sum("count")).first()[0] or 0),
                    )
            matched = cache[key]
        except Exception:
            # predicate references non-attr columns / shape mismatch:
            # unknown, not an error — search keeps its fixed defaults
            return None
        if handle.tombstones is not None:
            # pending logical deletes still sit in the stats counts (the
            # tables are maintained by PHYSICAL removal only); when they
            # correlate with the predicate the unadjusted s overestimates
            # and the budget undershoots — subtract the measured overlap
            tm = _tombstone_matched(handle, where, spark=spark)
            if tm is not None:
                matched = max(0, matched - tm[0])
                total = max(1, total - tm[1])
        s = matched / total
    if allowed_count is not None:
        tv = handle.meta.get("total_vectors") or 0
        if tv > 0:
            sa = min(1.0, allowed_count / tv)
            s = sa if s is None else s * sa
    return s


def filtered_nprobe(
    base: int,
    nlist: int,
    s,
    *,
    k: int = 10,
    total: int | None = None,
    cell_frac=None,
    s_allow=None,
) -> int:
    """The calibrated probe budget (module docstring): max of the
    proximity floor, the candidate-volume term, and the cell-discovery
    term, capped at probing every list. Inputs degrade independently —
    without per-cell stats (cell_frac None) an attr predicate keeps the
    pessimistic ceil(base/s) budget; an id-allowlist contributes
    ceil(base/s_allow) always (its cell coverage is unknowable from attr
    statistics). s<=0 (stats say nothing matches) keeps the base — the
    result is empty at any nprobe, don't scan the world to prove it."""
    import math

    if s is not None and s <= 0:
        return base
    terms = [base]
    if s is not None and s < 1:
        terms.append(NPROBE_FLOOR_MULT * base)
        if cell_frac is not None and total:
            terms.append(math.ceil(C_CANDIDATES * k * nlist / (s * total)))
            terms.append(math.ceil(CELL_DISCOVERY / cell_frac))
        elif s_allow is None or s < s_allow:
            # attr predicate without per-cell stats: pessimistic budget
            terms.append(math.ceil(base / s))
    if s_allow is not None and 0 < s_allow < 1:
        terms.append(math.ceil(base / s_allow))
    return min(nlist, max(terms))


def matched_per_cell(handle, where=None, allowed_arr=None, spark=None) -> "dict | None":
    """Per-cell matched-row counts {centroid_id: n} for the search filter —
    the query-adaptive planner input. Attr predicates aggregate the
    per-(cell, combo) table (cached per predicate per handle); allowlists
    use their exact is-in lookup; both compose by elementwise min (an
    upper bound on the per-cell intersection — conservative: fewer
    expected matches means more probes). None when unanswerable. Pending
    tombstones are NOT subtracted here (the per-id cell lookup would cost
    a scan per plan); they only overstate per-cell matches, and the
    fully-deleted-predicate case is already caught by the selectivity
    adjustment upstream (s<=0 keeps the base budget)."""
    import numpy as np

    d_where = d_allow = None
    if where is not None:
        pdf = load_cell_stats_pdf(handle)
        if pdf is None:
            return None
        cache = handle.__dict__.setdefault("_mpc_cache", {})
        key = where if callable(where) else str(where)
        if key not in cache:
            try:
                if callable(where):
                    attrs = {
                        c: pdf[c].to_numpy()
                        for c in pdf.columns
                        if c not in ("count", "centroid_id")
                    }
                    mask = np.asarray(where(attrs), dtype=bool)
                    sub = pdf.loc[mask].groupby("centroid_id")["count"].sum()
                    _cache_put(cache, key, {int(c): int(v) for c, v in sub.items()})
                else:
                    rows = (
                        spark.createDataFrame(pdf)
                        .filter(where)
                        .groupBy("centroid_id")
                        .agg(F.sum("count").alias("m"))
                        .collect()
                    )
                    _cache_put(
                        cache, key, {int(r["centroid_id"]): int(r["m"]) for r in rows}
                    )
            except Exception:
                _cache_put(cache, key, None)
        d_where = cache[key]
        if d_where is None:
            return None
    if allowed_arr is not None:
        d_allow = allowlist_cells(handle, allowed_arr)
        if d_allow is None and where is None:
            return None
    if d_where is not None and d_allow is not None:
        return {
            c: min(d_where[c], d_allow[c])
            for c in d_where.keys() & d_allow.keys()
        }
    return d_where if d_where is not None else d_allow


def cell_total_rows(handle) -> "dict | None":
    """Per-cell TOTAL row counts {centroid_id: n} from the attr cell-stats
    table (sum over attribute combos), handle-cached — the denominator
    that turns matched_per_cell into per-cell match FRACTIONS for the
    expected-geometry filtered read (recall_curve.expected_replay_nprobe).
    Delta-maintained with the stats table itself; None when absent."""
    cached = handle.__dict__.get("_cell_totals", False)
    if cached is not False:
        return cached
    pdf = load_cell_stats_pdf(handle)
    totals = (
        None
        if pdf is None
        else {
            int(c): float(v)
            for c, v in pdf.groupby("centroid_id")["count"].sum().items()
        }
    )
    handle._cell_totals = totals
    return totals


def adaptive_filtered_nprobe(handle, Q, k: int, mcells: dict) -> "int | None":
    """The query-adaptive probe budget (r11): for EACH query in the batch,
    walk its actual centroid ordering (the same stable argsort the probe
    selector runs) and find the first depth at which the probed cells
    hold >= C_CANDIDATES*k expected matching rows AND >= CELL_DISCOVERY
    distinct matching cells (or every matching cell, when fewer exist);
    the plan is the max over the batch.

    This is what the depth-based containment bound cannot see: a
    cluster-correlated filter puts ALL matches in cells far from a
    non-matching query's neighborhood (the bench's label=vec_id%10 over
    clusters=vec_id%nlist is exactly this — a query's own cluster holds
    ZERO matches for 9 of 10 labels), so the needed budget is a property
    of the (query batch, cell layout) pair. Measured here per batch — no
    tier constant, and it reproduces both measured needs the fixed
    formulas missed (~128 at 1M/nlist=1000, ~40 at 10M/nlist=3162).
    Cost: one query x centroid GEMM (the probe selector's own cost class)
    + a cumsum, chunked to bound memory at wide nlist."""
    import numpy as np

    if not mcells:
        return None
    c_ids, C = handle.centroid_arrays()
    nlist = len(c_ids)
    m = np.zeros(nlist)
    slot_of = {int(c): i for i, c in enumerate(c_ids)}
    for cid, cnt in mcells.items():
        slot = slot_of.get(int(cid))
        if slot is not None:
            m[slot] = cnt
    total_m = float(m.sum())
    if total_m <= 0:
        return None
    need_rows = min(C_CANDIDATES * k, total_m)
    # the measured cross-cell spread of a top-k once the query's own cell
    # is off-limits (recall_curve.xcell_need_cells) — density-dependent,
    # which fixed constants kept missing; CELL_DISCOVERY remains the floor
    # and the no-profile fallback
    from webscale_vector_search_spark.sources.recall_curve import xcell_need_cells

    ncx = xcell_need_cells(handle, k)
    need = CELL_DISCOVERY if ncx is None else max(CELL_DISCOVERY, ncx)
    need_cells = min(need, int((m > 0).sum()))
    Q = np.asarray(Q, dtype=np.float64)
    if Q.ndim == 1:
        Q = Q[None, :]
    csq = (C * C).sum(1)
    worst = 1
    for s0 in range(0, len(Q), 128):
        Qc = Q[s0 : s0 + 128]
        qc2 = (Qc * Qc).sum(1)[:, None] - 2.0 * (Qc @ C.T) + csq[None, :]
        order = np.argsort(qc2, axis=1, kind="stable")
        m_ord = m[order]
        ok = (np.cumsum(m_ord, axis=1) >= need_rows) & (
            np.cumsum(m_ord > 0, axis=1) >= need_cells
        )
        worst = max(worst, int(ok.argmax(axis=1).max()) + 1)
    return worst


def plan_nprobe(handle, base: int, k: int, where=None, allowed_count=None,
                spark=None, recall_target=None, allowed_arr=None,
                Q=None) -> int:
    """The single auto-nprobe entry both search paths call (search_index
    with a SQL `where`, serve_local with a vectorized callable): estimate
    s and f from the handle's stats sidecars and size the probe budget.
    Identical inputs -> identical plan — the Spark/serve_local bit-identity
    contract covers the planner.

    Budget source, in preference order:
    1. QUERY-ADAPTIVE (r11, needs the collected batch `Q` + per-cell
       matched counts): per-query first-depth covering C*k matching rows
       and D matching cells, maxed over the batch
       (adaptive_filtered_nprobe) — correlation- and tier-exact, because
       it walks the actual cell layout with the actual queries. Composed
       with the measured curve at depth k (local geometry once inside the
       matching region) and, on the auto path, floored at the unfiltered
       default (a mild filter should never probe LESS than unfiltered).
    2. The MEASURED recall curve read at the containment depth ceil(k/s)
       — valid for DISPERSED filters only; correlation is exactly where
       containment fails, which is why source 1 outranks it.
    3. The calibrated closed-form (filtered_nprobe) when neither is
       answerable."""
    import math

    s = selectivity(handle, where=where, allowed_count=allowed_count, spark=spark)
    if s is None and recall_target is None:
        return base
    nlist = handle.meta["nlist"]
    if s is not None and s <= 0:
        return base  # stats say nothing matches: empty at any nprobe
    from webscale_vector_search_spark.sources.recall_curve import (
        DEFAULT_TARGET,
        nprobe_from_curve,
    )

    tgt = recall_target if recall_target is not None else DEFAULT_TARGET
    if Q is not None and (where is not None or allowed_arr is not None):
        mc = matched_per_cell(
            handle, where=where, allowed_arr=allowed_arr, spark=spark
        )
        ad = adaptive_filtered_nprobe(handle, Q, k, mc) if mc else None
        if ad is not None:
            from webscale_vector_search_spark.sources.recall_curve import (
                RECALL_MARGIN,
                expected_replay_nprobe,
                profile_replay_nprobe,
            )

            # PRIMARY (r13): aggregate-recall estimate over the measured
            # neighbor geometry with per-cell match fractions — tracks the
            # hand sweep across both correlated and dispersed filters
            # (validated at the 100M label arm where the supply walk's
            # one-cell stop under-served 0.978 and the worst-case prefix
            # bound over-planned 374; this read picks 62 serving 0.994 at
            # 0.97x the hand-tuned need). Strict-quantile read: no extra
            # multiplier.
            p_geo = expected_replay_nprobe(
                handle, tgt, k, mc, cell_total_rows(handle)
            )
            p_x = None
            if p_geo is not None:
                terms = [max(p_geo, ad)]  # ad: batch discovery floor
            else:
                # FALLBACK (match fractions unanswerable): member-order
                # supply walk + adaptive walk. These are POINT ESTIMATES
                # of a tail quantile — the replay from a 64-query profile
                # sample, the adaptive walk from a supply bar that says
                # "enough rows reachable", not "the true top-k is inside"
                # — so they carry the same RECALL_MARGIN headroom every
                # curve read already carries (measured at the 1M label
                # arm in r13: un-margined walk 70 probes -> recall 0.9845,
                # silently under the 0.99 target; 1.25x -> 88 probes ->
                # 0.9925. Undershoot costs recall silently, overshoot
                # costs bounded latency.)
                p_x = profile_replay_nprobe(handle, tgt, k, mc)
                walk = max([ad] + ([p_x] if p_x is not None else []))
                terms = [math.ceil(RECALL_MARGIN * walk)]
            p_k = nprobe_from_curve(handle, tgt, k)
            if p_k is not None:
                terms.append(p_k)
            if allowed_arr is not None and allowlist_cells(handle, allowed_arr) is None:
                # allowlist too large to measure: keep its pessimistic term
                total = handle.meta.get("total_vectors") or 0
                if total and allowed_count:
                    s_allow = min(1.0, allowed_count / total)
                    if 0 < s_allow < 1:
                        terms.append(math.ceil(base / s_allow))
            if p_geo is None and p_x is None:
                # without either measured replay the walk is only a
                # discovery floor — keep the unfiltered default under it
                # (an explicit recall_target with no measured curve backing
                # it must not probe LESS than the no-target plan; the
                # documented contract is that no-curve indexes keep the
                # closed-form defaults). WITH a replay both terms are
                # measured against this filter, and flooring at the default
                # was the last fixed constant standing between the auto
                # budget and the hand-tuned need (measured 2.2x at 10M)
                terms.append(base)
            return min(nlist, max(terms))
    cell_frac = (
        cell_coverage(handle, where, spark=spark) if where is not None else None
    )
    f_allow = (
        allowlist_cell_coverage(handle, allowed_arr)
        if allowed_arr is not None
        else None
    )
    if cell_frac is not None or f_allow is not None:
        # joint coverage upper bound: D/min(f) = the larger discovery term
        cell_frac = min(v for v in (cell_frac, f_allow) if v is not None)
    p_curve = nprobe_from_curve(handle, tgt, k, s)
    if p_curve is not None:
        terms = [p_curve]
        if cell_frac is not None:
            terms.append(math.ceil(CELL_DISCOVERY / cell_frac))
        if allowed_count is not None and f_allow is None:
            # allowlist too large to measure coverage: keep the pessimistic
            # scaling for the allowlist component (unknowable clustering)
            total = handle.meta.get("total_vectors") or 0
            if total:
                s_allow = min(1.0, allowed_count / total)
                if 0 < s_allow < 1:
                    terms.append(math.ceil(base / s_allow))
        if recall_target is None:
            terms.append(base)
        return min(nlist, max(terms))
    if s is None:
        return base  # explicit recall_target but no curve: measured-only knob
    total = handle.meta.get("total_vectors") or None
    s_allow = None
    if allowed_count is not None and total and f_allow is None:
        # with measured allowlist coverage the D/f term replaces the
        # pessimistic ceil(base/s_allow) scaling; without it, keep it
        s_allow = min(1.0, allowed_count / total)
    return filtered_nprobe(
        base,
        nlist,
        s,
        k=k,
        total=total,
        cell_frac=cell_frac,
        s_allow=s_allow,
    )


def filtered_oversample(s) -> int:
    """Auto filter_oversample for graph post-filtering: ~1/s candidates
    surveyed per kept one, clamped to [OVERSAMPLE_FLOOR, OVERSAMPLE_CAP]."""
    import math

    if s is None or s <= 0:
        return OVERSAMPLE_FLOOR
    return min(OVERSAMPLE_CAP, max(OVERSAMPLE_FLOOR, math.ceil(1.0 / s)))


def graph_filter_fallback(s, cell_frac=None) -> bool:
    """Should a filtered GRAPH search abandon the beam for the exact
    filtered scan? Two independent failure modes:

    - SELECTIVITY: the post-filter beam surveys k*oversample candidates
      and keeps ~s of them; past the oversample cap (s < 1/OVERSAMPLE_CAP)
      it cannot produce k survivors even at its widest.
    - CONCENTRATION: a spatially-concentrated filter (cell coverage f
      well below 1) puts ZERO valid candidates in most queries'
      neighborhoods — the beam explores locally, so measured recall ~= f
      (1M bench: f=0.11 -> beam recall 0.0998 at s=0.1, where the
      selectivity rule alone would keep the beam).

    The exact scan is then both correct AND the honest cost (the filter
    leaves few rows, or rows the graph can't reach, to rank). Auto-path
    only; an explicit filter_oversample is always honored as given."""
    if s is not None and s * OVERSAMPLE_CAP < 1.0:
        return True
    return cell_frac is not None and cell_frac < GRAPH_COVERAGE_MIN
