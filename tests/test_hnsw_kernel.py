"""PyHNSW kernel properties for the round-6 batched/lockstep construction
and serving paths (the python kernel's speedups must not change semantics).

Pure numpy — no SparkSession; these pin the kernel claims the Spark-level
stored==adhoc / stream==batch tests build on:
- batched `knn_query` is BIT-IDENTICAL to per-query `_search_layer` traversal
- chunked construction (`add_items(batch_size>1)`) holds recall parity with
  the sequential Malkov-Yashunin order and stays deterministic
- the link-shrink hysteresis (`shrink_slack`) bounds every degree by
  mmax + slack
"""

from __future__ import annotations

import numpy as np

from webscale_vector_search_spark.operators.hnsw_partition import (
    CSRServingGraph,
    PyHNSW,
)


def _corpus(n=2000, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n, dim))


def _exact_topk(V, Q, k):
    d = (Q * Q).sum(1)[:, None] - 2.0 * (Q @ V.T) + (V * V).sum(1)[None, :]
    return np.argsort(d, axis=1, kind="stable")[:, :k]


def _recall(labels, exact):
    k = exact.shape[1]
    return float(
        np.mean([len(set(l) & set(e)) for l, e in zip(labels.tolist(), exact.tolist())]) / k
    )


def test_batch_knn_query_bit_identical_to_per_query():
    """The lockstep `_batch_search_layer` only fuses numpy dispatches —
    every query's pop/push sequence must equal running `_search_layer`
    alone (the pre-r6 serving form)."""
    V = _corpus()
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=0)
    g.add_items(V)
    Q = _corpus(n=64, dim=16, seed=9)
    ef = 24
    labels, dists = g.knn_query(Q, k=5, ef=ef)
    for qi in range(len(Q)):
        q = Q[qi]
        ep = [g.entry]
        for lc in range(g.max_level, 0, -1):
            ep = [g._search_layer(q, ep, 1, lc)[0][1]]
        res = g._search_layer(q, ep, ef, 0)[:5]
        assert labels[qi].tolist() == [u for _, u in res]
        assert np.array_equal(dists[qi], np.array([d for d, _ in res]))


def test_chunked_build_recall_parity_and_determinism():
    """Chunk peers search the pre-chunk snapshot (missing intra-chunk edges)
    — the claim is statistical irrelevance at chunk ≪ graph size: recall
    parity with the exact sequential insertion order, and bit-determinism
    across rebuilds (same corpus + seed ⇒ identical adjacency)."""
    V = _corpus(n=3000)
    Q = _corpus(n=100, dim=16, seed=11)
    exact = _exact_topk(V, Q, 10)

    def build(bs):
        g = PyHNSW(V.shape[1], M=8, ef_construction=48, seed=0)
        g.add_items(V, batch_size=bs)
        return g

    g_seq, g_chunk = build(1), build(64)
    r_seq = _recall(g_seq.knn_query(Q, k=10, ef=64)[0], exact)
    r_chunk = _recall(g_chunk.knn_query(Q, k=10, ef=64)[0], exact)
    assert r_chunk >= r_seq - 0.02, (r_chunk, r_seq)
    assert r_chunk >= 0.9

    g2 = build(64)
    assert g_chunk.entry == g2.entry
    assert g_chunk.links == g2.links


def test_degree_bound_with_shrink_slack():
    """Shrink hysteresis trades re-select call count for a bounded degree
    overshoot: no node's list at any level may exceed mmax + shrink_slack
    (slack=0 reproduces the paper's shrink-on-every-overflow)."""
    V = _corpus(n=2000)
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=0)
    g.add_items(V)
    for node_links in g.links:
        for lc, lst in node_links.items():
            mmax = g.M0 if lc == 0 else g.M
            assert len(lst) <= mmax + g.shrink_slack
            assert len(lst) == len(set(lst)), "duplicate links"


def _to_csr(g: PyHNSW) -> CSRServingGraph:
    """Flatten a built PyHNSW into the CSR layout `_decode_parquet_graph`
    produces (frozen-bundle dtypes: float32 V, int32 offsets/vals)."""
    n = len(g.V)
    levels = np.array([max(g.links[c].keys()) for c in range(n)], dtype=np.int16)
    outer = np.zeros(n, dtype=np.int32)
    flat_lists, cnt = [], 0
    for c in range(n):
        outer[c] = cnt
        for lc in range(levels[c] + 1):
            flat_lists.append(g.links[c].get(lc, []))
            cnt += 1
    inner = np.zeros(cnt + 1, dtype=np.int32)
    for j, lst in enumerate(flat_lists):
        inner[j + 1] = inner[j] + len(lst)
    vals = np.fromiter(
        (u for lst in flat_lists for u in lst), dtype=np.int32, count=int(inner[-1])
    )
    return CSRServingGraph(
        g.V.astype(np.float32), np.arange(n, dtype=np.int64), levels, outer,
        inner, vals, g.entry, M=g.M, ef_construction=g.ef_construction,
    )


def test_csr_batch_knn_bit_identical_to_per_query():
    """The serving form (CSRServingGraph) must give the same guarantee the
    mutable graph does: the vectorized `_batch_search_layer` (r13: visited
    bitmaps, zero-copy `_neighbors_arr` slices, python-float heap keys)
    equals per-query `_search_layer` traversal bit-for-bit — including the
    float32→float64 upcast the frozen-bundle dtypes introduce."""
    V = _corpus()
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=0)
    g.add_items(V)
    s = _to_csr(g)
    # the two adjacency accessors must agree everywhere first
    for c in range(0, len(V), 97):
        for lc in range(int(s._levels[c]) + 1):
            assert s._neighbors_arr(c, lc).tolist() == list(s._neighbors(c, lc))
    Q = _corpus(n=64, dim=16, seed=9)
    ef = 24
    labels, dists = s.knn_query(Q, k=5, ef=ef)
    for qi in range(len(Q)):
        q = Q[qi]
        ep = [s.entry]
        for lc in range(s.max_level, 0, -1):
            ep = [s._search_layer(q, ep, 1, lc)[0][1]]
        res = s._search_layer(q, ep, ef, 0)[:5]
        assert labels[qi].tolist() == [u for _, u in res]
        assert np.array_equal(dists[qi], np.array([d for d, _ in res]))


def test_single_query_dispatch_matches_batch_rows():
    """knn_query at nq=1 takes the scalar `_search_layer` fast path (r13
    serve-latency dispatch); its rows must be bit-identical to the same
    query's row inside a lockstep batch — on BOTH graph forms (mutable
    dict-of-lists and frozen CSR), at more than one ef."""
    V = _corpus()
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=0)
    g.add_items(V)
    s = _to_csr(g)
    Q = _corpus(n=32, dim=16, seed=11)
    for graph in (g, s):
        for ef in (8, 24):
            bl, bd = graph.knn_query(Q, k=5, ef=ef)
            for qi in range(len(Q)):
                sl, sd = graph.knn_query(Q[qi : qi + 1], k=5, ef=ef)
                assert sl[0].tolist() == bl[qi].tolist()
                assert np.array_equal(sd[0], bd[qi])


def test_banned_nodes_behave_as_absent():
    """The held-out profiling hook (r13): `banned` local indices must never
    appear in results, at ANY ef — including ef high enough that an
    unbanned search would certainly return them — and the non-banned
    results must match the exact top-k over the corpus WITHOUT the banned
    rows once the beam is wide enough. banned=None stays bit-identical to
    the pre-r13 call (same code path: the banned branches are skipped)."""
    V = _corpus(n=1500)
    g = PyHNSW(V.shape[1], M=8, ef_construction=48, seed=0)
    g.add_items(V)
    Q = V[:24] + 1e-3  # queries sitting almost ON stored rows 0..23
    banned = set(range(24))

    labels, dists = g.knn_query(Q, k=10, ef=200, banned=banned)
    assert not (set(labels.ravel().tolist()) & banned)

    # parity with exact truth over corpus-minus-banned at a wide beam
    keep = np.array(sorted(set(range(len(V))) - banned))
    exact = keep[_exact_topk(V[keep], Q, 10)]
    assert _recall(labels, exact) >= 0.95

    # an unbanned search DOES return the near-duplicate row (the bias the
    # hook removes), and banned=None results are unchanged by the feature
    lab_plain, _ = g.knn_query(Q, k=10, ef=200)
    assert set(lab_plain[:, 0].tolist()) <= set(range(24))
    lab_again, _ = g.knn_query(Q, k=10, ef=200, banned=None)
    assert np.array_equal(lab_plain, lab_again)


def test_banned_entry_point_still_navigable():
    """Banning the graph's global entry node must not strand the search:
    eps are scored into the candidate heap regardless (the one documented
    exception), expansion proceeds from there, and the entry never
    appears in results."""
    V = _corpus(n=800)
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=0)
    g.add_items(V)
    banned = {g.entry}
    Q = _corpus(n=16, dim=16, seed=5)
    labels, dists = g.knn_query(Q, k=5, ef=64, banned=banned)
    assert (labels >= 0).all()  # nothing stranded
    assert g.entry not in set(labels.ravel().tolist())
    keep = np.array(sorted(set(range(len(V))) - banned))
    exact = keep[_exact_topk(V[keep], Q, 5)]
    assert _recall(labels, exact) >= 0.9


def _textbook_search_layer(g, q, eps, ef, level):
    """Independent reference beam: the unoptimized Malkov-Yashunin layer
    search exactly as the pre-r13 kernel wrote it (push + overflow-pop,
    bound re-derived from the heap each candidate). The production
    `_search_layer`/`_batch_search_layer` cache the admission bound as a
    native float and merge the full-beam push+pop into one heappushpop —
    this pin proves those carry the SAME heap contents at every step, by
    comparing final results element-for-element at efs that stress the
    full-transition (ef <= len(eps)) and strict-bound (du == bound) edges."""
    import heapq

    visited = set(eps)
    d = g._dists(q, eps)
    cand = [(d[i], eps[i]) for i in range(len(eps))]
    heapq.heapify(cand)
    res = [(-d[i], eps[i]) for i in range(len(eps))]
    heapq.heapify(res)
    while cand:
        dc, c = heapq.heappop(cand)
        if dc > -res[0][0] and len(res) >= ef:
            break
        fresh = [u for u in g._neighbors(c, level) if u not in visited]
        if not fresh:
            continue
        visited.update(fresh)
        nd = g._dists(q, fresh)
        for du, u in zip(nd, fresh):
            if len(res) < ef or du < -res[0][0]:
                heapq.heappush(cand, (du, u))
                heapq.heappush(res, (-du, u))
                if len(res) > ef:
                    heapq.heappop(res)
    return sorted((-nd, u) for nd, u in res)


def test_beam_matches_textbook_reference_at_edge_efs():
    """r13 heap-loop optimization pin: results equal the unoptimized
    textbook beam bit-for-bit at ef=1 (full from the first seed), ef=2/5
    (full flips mid-fresh-list), and a serving ef — on BOTH graph forms,
    batch and per-query, including duplicate-distance corpora (ties)."""
    V = _corpus(n=1500, dim=8, seed=21)
    V[200:260] = V[100:160]  # exact duplicate rows: dense distance ties
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=2)
    g.add_items(V)
    s = _to_csr(g)
    Q = _corpus(n=48, dim=8, seed=22)
    for graph in (g, s):
        for ef in (1, 2, 5, 48):
            bl, bd = graph.knn_query(Q, k=min(5, ef), ef=ef)
            for qi in range(len(Q)):
                q = Q[qi].astype(np.float64)
                ep = [graph.entry]
                for lc in range(graph.max_level, 0, -1):
                    ep = [_textbook_search_layer(graph, q, ep, 1, lc)[0][1]]
                ref = _textbook_search_layer(graph, q, ep, max(ef, min(5, ef)), 0)
                ref = ref[: min(5, ef)]
                assert bl[qi].tolist()[: len(ref)] == [u for _, u in ref]
                assert np.array_equal(
                    bd[qi][: len(ref)], np.array([d for d, _ in ref])
                )


def test_visited_plane_budget_chunks_bit_identically():
    """VERDICT r13 #4/#6: past `_VIS_BUDGET_BYTES` the (B, n) visited plane
    is processed in query chunks so a task's beam-search memory is
    O(budget), not O(batch x shard_size) — and because queries are
    independent on a frozen graph, the chunked results must be
    BIT-IDENTICAL to the unchunked form, on both graph forms, with and
    without `banned` (the path that commits the whole plane up front)."""
    V = _corpus()
    g = PyHNSW(V.shape[1], M=8, ef_construction=32, seed=0)
    g.add_items(V)
    s = _to_csr(g)
    Q = _corpus(n=64, dim=16, seed=9)
    banned = set(range(0, 48))
    for graph in (g, s):
        base = {}
        for ban in (None, banned):
            bl, bd = graph.knn_query(Q, k=5, ef=24, banned=ban)
            base[id(ban)] = (bl, bd)
        old = PyHNSW._VIS_BUDGET_BYTES
        # force ~9-query chunks: budget under 10 rows of the n-wide plane
        PyHNSW._VIS_BUDGET_BYTES = len(V) * 10 - 1
        try:
            for ban in (None, banned):
                cl, cd = graph.knn_query(Q, k=5, ef=24, banned=ban)
                bl, bd = base[id(ban)]
                assert np.array_equal(cl, bl)
                assert np.array_equal(cd, bd)
        finally:
            PyHNSW._VIS_BUDGET_BYTES = old
