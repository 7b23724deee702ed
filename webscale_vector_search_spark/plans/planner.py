"""The search planner: every knob decision of a search, made in one place.

``plan_search`` turns a search request (index handle, k, the caller's
explicit knobs, the filter) into a frozen :class:`SearchPlan`. Both search
paths — the Spark batch path (plans.build.search_index) and the driver
path (plans.serve_local.serve_local) — call it once per search and then
only execute the plan, which is what keeps their results identical: the
same request on the same handle plans the same route and knobs on either
path.

The policy it applies:

- FLAT scans everything (``scan``).
- IVF/IVFPQ probe ``nprobe`` inverted lists (``probe``): the caller's
  value, else the reference's default rule ``base``. A filter left to the
  engine (no explicit nprobe or filter_oversample) is routed by cost: when
  its estimated matching rows s*N are no more than the rows a probe would
  scan, max(base, p)*N/nlist, the search scans exactly the matching rows
  (``exact_filtered``, recall 1.0). ``p``, the filtered probe plan
  (attr_stats.plan_nprobe), is sized only when ``base`` alone loses, so a
  selective filter plans from the stats table alone. A ``recall_target``
  without a filter reads nprobe off the recall curve.
- HNSW traverses the stored graphs (``graph``). A filter or pending
  tombstones post-filter the beam's candidates, so the beam is searched
  for ``k_search`` candidates with ef widened to at least 2 * k_search
  (``widen``); filter and tombstone margins compose. With the filter's
  oversample left to the engine, a filter the beam cannot serve (too
  selective, or spatially concentrated) routes to the exact filtered scan
  instead (``exact_filtered``; attr_stats.graph_filter_fallback). ef comes
  from the caller, else the recall curve at ``recall_target``, else the
  curve's default pick (recall_curve.default_ef).

The allowlist arrives as a zero-argument function, called only where the
policy reads it: the Spark path sizes an allowlist DataFrame with a Spark
job, the driver path already holds the ids. An unfiltered search
therefore reads no sidecar beyond the recall curve a graph's default ef
needs, and that one is cached on the handle: a warm call sorts the <= 6-rung
ef ladder.
"""

from __future__ import annotations

from dataclasses import dataclass

from webscale_vector_search_spark.config import default_nprobe
from webscale_vector_search_spark.sources import attr_stats
from webscale_vector_search_spark.sources.recall_curve import default_ef, ef_from_curve


@dataclass(frozen=True)
class SearchPlan:
    """What the executors read. ``route`` is one of ``scan`` (FLAT),
    ``probe`` (IVF/IVFPQ at ``nprobe``), ``graph`` (HNSW beam for
    ``k_search`` candidates at ``ef_search``, post-filtered when
    ``widen``) or ``exact_filtered`` (the exact scan over the rows the
    filter keeps)."""

    route: str
    nprobe: int | None = None
    ef_search: int | None = None
    k_search: int | None = None
    widen: bool = False


def plan_search(
    handle,
    k: int,
    *,
    nprobe: int | None = None,
    ef_search: int | None = None,
    filter_oversample: int | None = None,
    recall_target: float | None = None,
    where=None,
    allowed=None,
    tombstoned: bool = False,
    spark=None,
) -> SearchPlan:
    """Plan one search on `handle` (module docstring for the policy).

    `where` is the filter in the path's form — a SQL string / Column on the
    Spark path (evaluated with `spark` against the stats tables), a
    vectorized callable on the driver path. `allowed` is None without an
    id-allowlist, else a zero-argument function returning (distinct count,
    sorted int64 id array or None when the list is too large to collect).
    `tombstoned` says pending deletes exist."""
    itype = handle.meta["index_type"]
    if itype == "FLAT":
        return SearchPlan("scan")
    filtered = where is not None or allowed is not None

    def allowlist():
        return allowed() if allowed is not None else (None, None)

    if itype in ("IVF", "IVFPQ"):
        if nprobe is not None:
            return SearchPlan("probe", nprobe=nprobe)
        nlist = handle.meta["nlist"]
        base = default_nprobe(nlist)
        if not filtered and recall_target is None:
            return SearchPlan("probe", nprobe=base)
        n_allowed, allowed_arr = allowlist()
        s = (
            attr_stats.selectivity(handle, where=where, allowed_count=n_allowed, spark=spark)
            if filtered
            else None
        )
        # the cost rule, in lists: s*N matching rows against the
        # max(base, p)*N/nlist rows the probe would scan
        by_cost = filtered and filter_oversample is None and s is not None
        if by_cost and s * nlist <= base:
            return SearchPlan("exact_filtered")
        p = attr_stats.plan_nprobe(
            handle, base, k, s, where=where, allowed_arr=allowed_arr,
            spark=spark, recall_target=recall_target,
        )
        if by_cost and s * nlist <= max(base, p):
            return SearchPlan("exact_filtered")
        return SearchPlan("probe", nprobe=p)
    if itype != "HNSW":
        raise ValueError(f"unknown index_type {itype!r}")
    if filtered and filter_oversample is None:
        n_allowed, allowed_arr = allowlist()
        s = attr_stats.selectivity(
            handle, where=where, allowed_count=n_allowed, spark=spark
        )
        f_where = (
            attr_stats.cell_coverage(handle, where, spark=spark)
            if where is not None
            else None
        )
        f_allow = (
            attr_stats.allowlist_cell_coverage(handle, allowed_arr)
            if allowed_arr is not None
            else None
        )
        covs = [f for f in (f_where, f_allow) if f is not None]
        # the joint coverage bound is the smaller one
        if attr_stats.graph_filter_fallback(s, min(covs) if covs else None):
            return SearchPlan("exact_filtered")
        filter_oversample = attr_stats.filtered_oversample(s)
    if recall_target is not None:
        ef_search = ef_from_curve(handle, recall_target, k) or ef_search
    if ef_search is None:
        ef_search = default_ef(handle, k)
    # pending deletes post-filter like a mild predicate (2x); with a filter
    # too the margins compose, so tombstone hits don't eat the filter's
    # candidate budget
    margin = 2 if tombstoned else 1
    k_search = k * filter_oversample * margin if filtered else k * margin
    widen = filtered or tombstoned
    return SearchPlan(
        "graph",
        ef_search=max(ef_search, 2 * k_search) if widen else ef_search,
        k_search=k_search,
        widen=widen,
    )
