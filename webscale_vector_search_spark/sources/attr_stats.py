"""Attribute-value statistics sidecars — the filtered-search planner input.

A filter of selectivity `s` thins every probed inverted list to ~s of its
usual candidates, so a fixed nprobe loses recall under a filter. The
planner (plans.planner.plan_search) reads these sidecars to choose
between two routes by cost, the way a SQL optimizer sizes a predicate from
table statistics:

- the exact scan of the matching rows, when their estimated count s*N is
  no more than the rows a probe would scan, max(base, p)*N/nlist;
- otherwise a probe of p lists, p from the recall curve's expected-
  geometry read over the filter's per-cell match fractions
  (plan_nprobe; recall_curve.expected_replay_nprobe).

Graph indexes use the same numbers to decide when the post-filtered beam
cannot serve a filter (graph_filter_fallback).

At build time, `write_attr_stats` records the exact per-combination row
counts of the declared attr_cols — bounded at MAX_COMBOS combinations
(beyond that the table is skipped and search falls back to the fixed
defaults; attribute filters over near-unique columns should use
`allowed_ids`, whose cardinality is known without statistics) — and
`write_attr_cell_stats` the per-(cell, combination) counts. The tables are
tiny, live beside the index, and are maintained as deltas by
append/upsert/compaction — approximate between maintenance operations is
fine: they feed a cost estimate, not correctness.

A filter is evaluated against the stats rows in one place, where_mask,
whether it arrives as the Spark path's SQL string (run by Spark on the
tiny table) or serve_local's vectorized callable (run by numpy on the same
rows), so both paths estimate alike and plan alike.

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
# auto filter_oversample clamp for graph post-filtering: below 4 the
# oversample buys nothing, above 32 the widened beam's cost approaches a
# probed-scan's — heavy filters should run on IVF (docs/SCALE.md)
OVERSAMPLE_FLOOR, OVERSAMPLE_CAP = 4, 32
# allowlist cell-lookup cap: past this many ids the exact is-in lookup
# stops being plan-time-trivial and the per-cell counts are left unknown
# (such lists are also past any sane broadcast size for the scan itself)
ALLOW_COVERAGE_MAX_IDS = 1_000_000
# per-handle plan caches are keyed by predicate object / allowlist
# fingerprint; a serving loop that builds a fresh lambda per request would
# otherwise grow them without bound (each allowlist entry can pin MBs)
PLAN_CACHE_CAP = 32
# row-index column where_mask adds to a stats frame for a SQL predicate
_ROW_COL = "__stats_row"


def _cache_put(cache: dict, key, val, cap: int = PLAN_CACHE_CAP):
    """FIFO-bounded insert for the per-handle plan caches (same discipline
    as search_index's _allowed_count_cache): evict the oldest entry once
    `cap` distinct keys are resident — a loop over distinct predicates
    stays O(cap) memory instead of O(requests)."""
    if key not in cache and len(cache) >= cap:
        cache.pop(next(iter(cache)))
    cache[key] = val


def where_mask(pdf, where, spark=None):
    """Rows of the stats frame `pdf` passing the search filter, as a numpy
    bool mask — the one place a filter is evaluated against stats rows. A
    callable (serve_local's form) runs on the attribute columns; a SQL
    string / Column (search_index's form) runs on spark.createDataFrame(pdf)
    with a row-index column, and only the passing indices are collected.
    Raises when the predicate can't be evaluated on these columns."""
    import numpy as np

    if callable(where):
        attrs = {
            c: pdf[c].to_numpy() for c in pdf.columns if c not in ("count", "centroid_id")
        }
        mask = np.asarray(where(attrs), dtype=bool)
        if mask.shape != (len(pdf),):
            raise ValueError("where callable must return one bool per row")
        return mask
    rows = (
        spark.createDataFrame(pdf.assign(**{_ROW_COL: np.arange(len(pdf))}))
        .filter(where)
        .select(_ROW_COL)
        .collect()
    )
    mask = np.zeros(len(pdf), dtype=bool)
    mask[[r[0] for r in rows]] = True
    return mask


def _cached_eval(handle, cache_name: str, where, compute):
    """compute() cached per predicate in the handle's plan cache
    `cache_name` (one per stats table); None, uncached, when the predicate
    can't be evaluated on the table — callers then keep their fallback."""
    cache = handle.__dict__.setdefault(cache_name, {})
    key = where if callable(where) else str(where)
    if key not in cache:
        try:
            val = compute()
        except Exception:
            return None
        _cache_put(cache, key, val)
    return cache[key]


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
    """The per-(centroid_id, combo) count table — the per-cell match
    counts of the filtered probe plan. One column-pruned aggregation over
    the written index rows (centroid_id is the partition column, attrs
    ride the rows — a 2-3 int-column scan). Skipped past
    CELL_STATS_MAX_ROWS present rows; the probe plan then falls back to
    ceil(base/s) for attr predicates."""
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
    lets the planner SEE spatial concentration for graphs — beam recall
    measured ~= f for a concentrated filter, so without this signal a
    correlated filter silently collapses graph recall. The tiny
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
    """Rewrite the per-cell table of an attr_cols index after maintenance
    dropped it (compaction). Returns True when a table exists afterwards."""
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
    leave the table a LOWER bound instead, see the build.py append note).
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


def load_sidecar(handle, dirname: str):
    """The parquet table in `dirname` beside the index as pandas, cached on
    the handle (a full reopen — maybe_refresh after append/upsert/
    compaction — drops the cache with the rest of the handle state). None
    when the table is absent."""
    if handle.index_dir is None:
        return None
    cache = handle.__dict__.setdefault("_sidecars", {})
    if dirname not in cache:
        path = os.path.join(handle.index_dir, dirname)
        pdf = None
        if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
            import pyarrow.dataset as pads

            pdf = pads.dataset(path, format="parquet").to_table().to_pandas()
        cache[dirname] = pdf
    return cache[dirname]


def load_stats_pdf(handle):
    return load_sidecar(handle, STATS_DIRNAME)


def load_cell_stats_pdf(handle):
    return load_sidecar(handle, CELL_STATS_DIRNAME)


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
    predicate `where` — the concentration signal of the graph fallback
    (stats-quantizer pseudo-cells for graphs, inverted lists otherwise).
    The denominator is the number of NON-EMPTY cells in the table itself,
    so no index-type-specific nlist plumbing is needed. None when no
    per-cell table exists or the predicate isn't answerable from it.

    Both predicate forms evaluate against the SAME rows (where_mask), and
    the per-cell matches are shared with matched_per_cell, so the Spark
    and serve_local paths compute identical f — the plan-parity contract.
    """
    pdf = load_cell_stats_pdf(handle)
    if pdf is None:
        return None
    nlist = int(pdf["centroid_id"].nunique())
    if nlist <= 0:
        return None
    cells = _cell_matches(handle, pdf, where, spark)
    if not cells:
        return None
    return len(cells) / nlist


def _cell_matches(handle, pdf, where, spark) -> "dict | None":
    """{centroid_id: matched rows} of the per-cell table under `where`,
    cached per predicate on the handle: a serving loop repeats one
    predicate, and the eval over an up-to-1M-row table (a Spark job for
    SQL) is per-plan money otherwise."""

    def compute():
        sub = pdf.loc[where_mask(pdf, where, spark)].groupby("centroid_id")["count"].sum()
        return {int(c): int(v) for c, v in sub.items()}

    return _cached_eval(handle, "_mpc_cache", where, compute)


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
    cells holding >= 1 allowed id. The allowlist is driver-sized by
    contract (search broadcasts it into the scan), so ONE bounded is-in
    lookup against the stored rows yields the f attribute predicates get
    from the per-cell table. Cached per allowlist fingerprint on the
    handle; None when the list exceeds ALLOW_COVERAGE_MAX_IDS, the layout
    has no cells, or the lookup fails. For graph indexes the allowed rows'
    embeddings assign through the STORED stats quantizer (same pseudo-cells
    as write_graph_cell_stats), driver-side."""
    return _allowlist_lookup(handle, allowed_arr)[0]


def _tombstone_matched(handle, where, spark=None) -> "tuple | None":
    """(t_matched, t_live): pending-tombstoned STORED rows matching `where`
    and total pending stored rows. The stats tables are maintained by
    physical removal only, so between a delete_vectors and its compaction
    they still count tombstoned rows — when the pending deletes correlate
    with the predicate (delete a tenant, then query that tenant) the
    unadjusted estimate overstates s.
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
        else:
            out = (int(where_mask(pdf[attr_cols], where, spark).sum()), t_live)
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
    (a deliberate planner approximation — it only prices the routes)."""
    s = None
    if where is not None:
        pdf = load_stats_pdf(handle)
        if pdf is None:
            return None
        total = int(pdf["count"].sum())
        if total <= 0:
            return None
        counts = pdf["count"].to_numpy()
        matched = _cached_eval(
            handle, "_selectivity_cache", where,
            lambda: int(counts[where_mask(pdf, where, spark)].sum()),
        )
        if matched is None:
            # predicate references non-attr columns / shape mismatch:
            # unknown, not an error — search keeps its fixed defaults
            return None
        if handle.tombstones is not None:
            # pending logical deletes still sit in the stats counts (the
            # tables are maintained by PHYSICAL removal only); when they
            # correlate with the predicate the unadjusted s overestimates
            # — subtract the measured overlap
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


def matched_per_cell(handle, where=None, allowed_arr=None, spark=None) -> "dict | None":
    """Per-cell matched-row counts {centroid_id: n} for the search filter —
    the filtered probe plan's input. Attr predicates aggregate the
    per-(cell, combo) table (cached per predicate per handle); allowlists
    use their exact is-in lookup; both compose by elementwise min (an
    upper bound on the per-cell intersection). None when unanswerable.
    Pending tombstones are NOT subtracted here (the per-id cell lookup
    would cost a scan per plan); they only overstate per-cell matches, and
    the fully-deleted-predicate case is already caught by the selectivity
    adjustment upstream (s<=0 routes to the exact scan)."""
    d_where = d_allow = None
    if where is not None:
        pdf = load_cell_stats_pdf(handle)
        if pdf is None:
            return None
        d_where = _cell_matches(handle, pdf, where, spark)
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


def plan_nprobe(handle, base: int, k: int, s=None, where=None,
                allowed_arr=None, spark=None, recall_target=None) -> int:
    """The nprobe of an IVF/IVFPQ search on the probe route
    (plans.planner.plan_search, the one caller on both paths, decides the
    route first and passes the filter's selectivity `s`):

    - no filter, or one the stats cannot estimate (`s` None or 0): the
      recall curve's pick at `recall_target` when one is asked for and
      measured (recall_curve.nprobe_from_curve), else `base`;
    - a filter: the recall curve's expected-geometry read at
      `recall_target` (default DEFAULT_TARGET) over the filter's per-cell
      match fractions (recall_curve.expected_replay_nprobe); without a
      measured curve, or per-cell counts the sidecars cannot answer,
      ceil(base/s) — the lists holding as many matching rows as `base`
      lists hold rows.

    Neither filtered plan is floored at `base` (a mild filter can probe
    fewer lists than the unfiltered default); both are capped at nlist."""
    import math

    from webscale_vector_search_spark.sources.recall_curve import (
        DEFAULT_TARGET,
        expected_replay_nprobe,
        nprobe_from_curve,
    )

    nlist = handle.meta["nlist"]
    if not s:
        p = None if recall_target is None else nprobe_from_curve(handle, recall_target, k)
        return base if p is None else min(nlist, p)
    tgt = recall_target if recall_target is not None else DEFAULT_TARGET
    mc = matched_per_cell(handle, where=where, allowed_arr=allowed_arr, spark=spark)
    p = expected_replay_nprobe(handle, tgt, k, mc, cell_total_rows(handle)) if mc else None
    return min(nlist, math.ceil(base / s) if p is None else p)


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
