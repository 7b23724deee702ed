"""Engine configuration.

The reference exposes config through CLI flags that mostly don't flow
(vector_search_cluster.py:942-946 stashes them; startup_event 784-790 ignores
them — quirk Q4 in SURVEY.md §1.5). Here config is an explicit dataclass that
every job takes; defaults mirror the reference's constants where they exist.
"""

from __future__ import annotations

from dataclasses import dataclass


def default_nprobe(nlist: int) -> int:
    """The single home of the IVF/IVFPQ probe-count rule (both search
    paths default through plans.planner.plan_search): the reference's
    serving rule min(64, max(1, nlist // 8)) (vector_search_cluster.py:549)."""
    return min(64, max(1, nlist // 8))


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for index build + search jobs.

    Defaults trace to the reference:
    - vector_dim 64: fixture dim (reference default 128, vector_search_cluster.py:913)
    - num_shards 16: coordinator default (vector_search_cluster.py:785, 914)
    - (k=10, the QueryRequest default at vector_search_cluster.py:763, is a
      per-search argument — knn(k=...)/search_index(k=...) — not build config)
    - index_type FLAT|IVF|IVFPQ|HNSW (argparse choices at
      vector_search_cluster.py:934 plus HNSW at 1043-1045; HNSW builds one
      graph per shard and persists adjacency beside the vectors)
    - seed 42: the reference seeds nothing (np.random.shuffle at 1002);
      we require determinism everywhere.
    """

    vector_dim: int = 64
    num_shards: int = 16
    index_type: str = "FLAT"
    nlist: int | None = None  # None -> max(100, floor(sqrt(n))) as reference:1027
    pq_m: int | None = None  # None -> max(1, dim // 4) as reference:1037
    pq_bits: int = 8  # reference:1038
    # IVFPQ codes encode residuals v - C[centroid] (FAISS by_residual
    # default; raw-vector codebooks cannot rank within clusters — measured
    # recall@10 0.22 vs 0.98 on a 1M clustered corpus). False = raw codes
    # (kept for the ADC==reconstruction SQL cross-check path).
    pq_residual: bool = True
    # Per-cell codebooks (LOPQ, Kalantidis & Avrithis CVPR 2014): each
    # inverted list gets codebooks fit on its OWN
    # residuals, distributed (one applyInPandas group per cell). Lifts
    # ADC-only ranking at low bit budgets (measured m=32 @ 8-bit recall@10
    # 0.85 global -> ~0.93 per-cell on the 1M clustered bench) at the cost
    # of an nlist-scaled codebook artifact (~64 kB/cell at m=32) — the
    # documented LOPQ memory trade; keep nlist <= ~4k cells per 256 MB of
    # serving broadcast. Requires pq_residual.
    pq_local_codebooks: bool = False
    # OPQ rotation iterations (Ge et al. CVPR 2013 alternation); requires
    # pq_residual. With pq_local_codebooks: one rotation PER CELL (full
    # LOPQ), fit inside each cell's distributed applyInPandas group, stored
    # as a 16 kB/cell float32 column beside the books. Without: one GLOBAL
    # rotation fit on the pooled driver-side sample, stored as a tiny
    # `rotation` parquet — the huge-nlist fallback where the per-cell
    # codebook broadcast no longer fits. Encode rotates residuals into the
    # OPQ frame, ADC decode rotates back.
    # Measured regime (100k x 64, rank-8-correlated residuals, m=32 @
    # 8-bit): at ~1k training rows/cell the rotation's estimation noise
    # LOSES recall (0.934 -> 0.924); at ~6k rows/cell it wins (0.9355 ->
    # 0.9385). Enable when cells train on >= several thousand rows — the
    # 100 TB regime, where every cell has millions — not on small corpora
    # with sqrt(n) lists.
    pq_opq_iters: int = 0
    seed: int = 42
    kmeans_sample_fraction: float = 0.2  # fix for quirk Q7 (first-batch-only training)
    # Full-corpus Lloyd refinement passes on the sampled-KMeans centroids
    # (operators/ivf.py::polish_centroids). Each pass = one corpus scan +
    # a tiny partial-sum shuffle; at nlist ~ sqrt(n) the sampled fit leaves
    # few points per list and the centroid noise costs IVFPQ ADC recall
    # (measured +0.1 recall@10 per pass at the 1M tier). 0 disables.
    centroid_polish_iters: int = 1
    # metric: "sq_l2" (the reference's only metric) or "cosine" — cosine
    # indexes L2-normalize vectors at build time (unit vectors make sq_l2
    # rank identically to cosine), recorded in the sidecar so search_index
    # normalizes queries symmetrically. Extension beyond the reference
    # (LLM pipelines are cosine-first).
    metric: str = "sq_l2"
    # HNSW graph-build params (index_type="HNSW"): M defaults to the
    # customary 16 (the reference passes 32 to IndexHNSWFlat at 1044 — higher
    # recall ceiling, ~2x build cost and link storage; both supported).
    # ef_construction 64 mirrors the module default used by the recall and
    # sub-linear-cost property tests.
    hnsw_m: int = 16
    hnsw_ef_construction: int = 64
    # Build-time inverted-list size cap (IVF/IVFPQ): lists larger than
    # `ivf_max_list_factor` x (n/nlist) are split by re-clustering their
    # own vectors into ceil(size/cap) sub-centers (FAISS's two-level
    # quantizer analog; operators/ivf.py::split_oversized_lists). Natural
    # corpora give power-law list sizes, and at scale one giant list makes
    # every probe of it a straggler task AND inflates that list's residuals
    # (costing ADC recall). Default 4.0: the 10M bench measured max/median
    # 6.0 from a BALANCED generator — real corpora are worse — and capping
    # held recall and latency at parity, so skew hardening is on by
    # default; the cost is one extra build pass, and the split is recorded
    # in the sidecar (`ivf_split`, with a `converged` flag). Set None to
    # disable (e.g. to measure an uncapped baseline); 2.0-4.0 is the
    # useful range — the cap bounds the max/median list ratio that
    # index_skew() reports.
    ivf_max_list_factor: float | None = 4.0
    # Build-time recall profiling (sources/recall_curve.py): measure the
    # index's own recall-vs-knob curve on a seeded in-corpus query sample
    # and store it beside the index — what search_index(recall_target=...)
    # / the auto filtered planner pick knobs from. Cost: one exact-kNN
    # streaming pass over the stored rows (driver-side, nothing retained)
    # plus, for HNSW, an ef-ladder serve of the tiny sample. Replaces the
    # reference's hand-tuning guidance (README.md:143-150) with a measured
    # artifact. Off for FLAT (exact by definition).
    recall_curve: bool = True
    recall_curve_queries: int = 64
    recall_curve_kmax: int = 1000
    # (per-search metric selection stays on the operators — knn(metric=...);
    # kernel selection on search_index(kernel=...). No silently-dead knobs.)

    def resolved_nlist(self, n_vectors: int) -> int:
        if self.nlist is not None:
            return self.nlist
        return max(100, int(n_vectors**0.5))

    def resolved_pq_m(self) -> int:
        if self.pq_m is not None:
            return self.pq_m
        return max(1, self.vector_dim // 4)


DEFAULT_CONFIG = EngineConfig()
