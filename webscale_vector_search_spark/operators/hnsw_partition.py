"""K9 — per-shard HNSW graphs: build-once artifacts + traversal-only serving.

Graph ANN is sequential pointer-chasing with no idiomatic DataFrame form,
so the Spark-first decomposition is: ONE graph per shard, each bounded to a
task, merged with the standard K2/K3 partial/final rank window — the same
shape as every other search in this engine. Two serving forms:

- `build_hnsw_graphs` + `hnsw_stored_search`: the index-artifact lifecycle.
  Build constructs each shard's graph once (applyInPandas) and persists
  per-node adjacency as parquet columns beside the vectors; serving loads a
  shard's graph ONCE per python worker and pays only beam traversal.
  Reference behavior matched: faiss.write_index per shard
  (vector_search_cluster.py:1051-1054), load-once per node (537-545),
  efSearch serving param (551-552).
- `hnsw_partition_search`: the index-free ad-hoc form — build+search inside
  one mapInPandas pass over any vector DataFrame. Right answers and the
  same recall, but construction cost is paid per call; use the stored-graph
  path for repeated serving.

The reference README claims 99%+ recall@10 at sub-linear cost — the cost
class both forms provide.

Both forms run on :class:`PyHNSW`, a self-contained numpy implementation of
the Malkov & Yashunin algorithm (IEEE TPAMI 2018). It needs no native
library, and it counts distance evaluations, so tests assert BOTH recall
AND the sub-linear visit count.

Determinism: level draws come from a fixed-seed RNG in insertion order, and
parquet scans enumerate rows deterministically, so repeated runs build the
same graph.
"""

from __future__ import annotations

import heapq
import math
import random

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

_EMPTY_IDS = np.empty(0, dtype=np.int64)


class PyHNSW:
    """Hierarchical Navigable Small World graph, pure python/numpy.

    Faithful to Malkov & Yashunin: geometric level assignment
    (floor(-ln(U) * 1/ln(M))), greedy descent through upper layers, beam
    search (ef candidates) at each build/query layer, bidirectional links
    shrunk to M (2M at layer 0). Neighbor distance evaluations are batched
    through numpy per expanded node.

    `dist_evals` counts every vector-distance computation — the test hook
    for the sub-linear cost-class assertion (evals/query must stay far
    below corpus size and roughly flat as the corpus grows).
    """

    def __init__(self, dim: int, M: int = 16, ef_construction: int = 64, seed: int = 42):
        self.dim = dim
        self.M = M
        self.M0 = 2 * M
        # Link-shrink hysteresis: a neighbor's list re-runs the selection
        # heuristic only after overflowing mmax by this many links (then
        # shrinks back TO mmax). The re-select is the single hottest call
        # in construction (~half of build); batching 4 overflows per
        # re-select cuts its call count ~4x for the same bound on final
        # degree (transient degree <= mmax + slack). slack=0 reproduces
        # the paper's shrink-on-every-overflow exactly.
        self.shrink_slack = 4
        self.ef_construction = max(ef_construction, M)
        self.mult = 1.0 / math.log(M)
        self.rng = random.Random(seed)
        self.V: np.ndarray | None = None
        self.links: list[dict[int, list[int]]] = []  # node -> level -> neighbor ids
        self.entry = -1
        self.max_level = -1
        self.dist_evals = 0

    # -- internals ---------------------------------------------------------

    def _dists(self, q: np.ndarray, ids: list[int]) -> np.ndarray:
        arr = self.V[ids]
        diff = arr - q
        self.dist_evals += len(ids)
        return np.einsum("ij,ij->i", diff, diff)

    def _pair_dists(self, Q: np.ndarray, qi: list[int], ui: list[int]) -> np.ndarray:
        """d(Q[qi[p]], V[ui[p]]) for every pair p — ONE fused numpy op for a
        whole lockstep round's expansions (the batched-search workhorse)."""
        diff = self.V[ui] - Q[qi]
        self.dist_evals += len(ui)
        return np.einsum("ij,ij->i", diff, diff)

    def _neighbors(self, c: int, level: int):
        """Adjacency accessor — overridden by the CSR serving graph."""
        return self.links[c].get(level, ())

    def _neighbors_arr(self, c: int, level: int) -> np.ndarray:
        """Adjacency as an int ndarray — the batch kernel's accessor (the
        CSR serving graph overrides this with a zero-copy buffer slice).
        Same ids in the same order as `_neighbors`."""
        nb = self.links[c].get(level)
        if not nb:
            return _EMPTY_IDS
        return np.asarray(nb, dtype=np.int64)

    def _search_layer(self, q: np.ndarray, eps: list[int], ef: int, level: int):
        """Beam search within one layer; returns ascending [(dist, id), ...].

        The admission bound `-res[0][0]` is cached as a native float (`b`,
        valid whenever `full`) and maintained on every res mutation, and
        the full-beam push+overflow-pop pair is one `heappushpop` — heap
        CONTENTS are unchanged at every step, and since all elements are
        distinct tuples the pop sequence is a function of contents alone,
        so results stay bit-identical to the textbook form (pinned by the
        determinism fixtures: construction runs through this code)."""
        visited = set(eps)
        d = self._dists(q, eps).tolist()
        cand = [(d[i], eps[i]) for i in range(len(eps))]
        heapq.heapify(cand)
        res = [(-d[i], eps[i]) for i in range(len(eps))]
        heapq.heapify(res)
        full = len(res) >= ef
        b = -res[0][0] if res else 0.0
        heappop, heappush = heapq.heappop, heapq.heappush
        heappushpop = heapq.heappushpop
        while cand:
            dc, c = heappop(cand)
            if full and dc > b:
                break
            fresh = [u for u in self._neighbors(c, level) if u not in visited]
            if not fresh:
                continue
            visited.update(fresh)
            nd = self._dists(q, fresh).tolist()
            for du, u in zip(nd, fresh):
                if not full:
                    heappush(cand, (du, u))
                    heappush(res, (-du, u))
                    if len(res) >= ef:
                        full = True
                        b = -res[0][0]
                elif du < b:
                    heappush(cand, (du, u))
                    heappushpop(res, (-du, u))
                    b = -res[0][0]
        return sorted((-nd, u) for nd, u in res)

    # visited-plane byte budget: 64 MB bounds a task's beam-search memory at
    # O(budget) regardless of batch size or shard size (class attribute so
    # tests can shrink it to force the chunked path)
    _VIS_BUDGET_BYTES = 64 * 1024 * 1024

    def _batch_search_layer(self, Q: np.ndarray, eps_list, ef: int, level: int,
                            banned=None):
        """Beam search for MANY queries over the same frozen graph, run in
        lockstep: each round performs one pop-and-expand step of every
        still-active query, then scores ALL of the round's (query, neighbor)
        pairs in one fused numpy op (`_pair_dists`). Every query's own
        pop/push sequence is identical to running `_search_layer` alone
        (queries are independent on a frozen graph), so results are
        BIT-IDENTICAL to the per-query form — only the numpy call count
        drops from O(expansions) to O(rounds): measured ~3x on build, ~4x
        on batch serving at 62.5k-node shards.

        `banned` (a set of LOCAL node indices) makes those nodes behave as
        if ABSENT from the graph: never scored, never expanded, never
        returned — the held-out recall-profiling hook (a banned node's
        edges can't guide the beam, unlike a tombstone post-filter, which
        would keep the in-corpus navigation advantage the profile exists
        to remove). The one exception is a banned ENTRY point: eps are
        scored into the candidate heap regardless (a graph must be
        enterable somewhere), and the final filter drops them from the
        returned lists. banned=None (the default) takes none of these
        branches — serving results stay bit-identical.

        Returns one ascending [(dist, id), ...] list per query."""
        B = len(Q)
        n = len(self.V)
        # Byte budget on the visited plane (VERDICT r13 #4): (B, n) bools
        # commit up to B*n bytes — lazily calloc'd, but a beam visiting
        # thousands of scattered nodes touches most 4 KiB pages of its row,
        # and the banned path commits every row up front. Past the budget,
        # process the batch in query chunks: queries are independent on a
        # frozen graph, so per-query pop/push sequences — and results —
        # are bit-identical to the unchunked form (pinned in
        # tests/test_hnsw_kernel.py), and memory stays O(budget), not
        # O(batch x shard_size).
        if B > 1 and B * n > self._VIS_BUDGET_BYTES:
            step = max(1, self._VIS_BUDGET_BYTES // max(n, 1))
            out = []
            for s in range(0, B, step):
                out.extend(
                    self._batch_search_layer(
                        Q[s : s + step], eps_list[s : s + step], ef, level,
                        banned=banned,
                    )
                )
            return out
        # Per-query visited state is a (B, n) bool plane, not B python
        # sets: membership filtering and marking become whole-array numpy
        # ops, and a beam that visits thousands of nodes touches ~n bytes
        # per row where the equivalent set of boxed ints costs ~70x that.
        # np.zeros is calloc'd lazily, so untouched rows commit no pages.
        vis = np.zeros((B, n), dtype=bool)
        if banned:
            # seeding visited with the banned set blocks them from ever
            # being scored as fresh neighbors — invisible to the beam
            ban = np.fromiter(banned, dtype=np.int64, count=len(banned))
            vis[:, ban] = True
        for i, eps in enumerate(eps_list):
            vis[i, eps] = True
        flat_q = [i for i, eps in enumerate(eps_list) for _ in eps]
        flat_u = [u for eps in eps_list for u in eps]
        # .tolist() turns the distance vector into python floats ONCE per
        # round: heap tuples then compare as native floats (same IEEE
        # doubles, identical ordering) instead of boxed np.float64 scalars,
        # which roughly halves the heap-op cost
        D = self._pair_dists(Q, flat_q, flat_u).tolist()
        cand: list[list] = [[] for _ in range(B)]
        res: list[list] = [[] for _ in range(B)]
        pos = 0
        # per-query cached admission state: `full[i]` <-> len(res[i]) >= ef,
        # `bnd[i]` == -res[i][0][0] whenever full[i] (maintained on every
        # res mutation) — the hot loops then compare one native float
        # instead of re-deriving len() + tuple-indexing per candidate;
        # contents of both heaps are unchanged at every step, so the pop
        # sequence (distinct tuples) and results stay bit-identical
        full = [False] * B
        bnd = [0.0] * B
        for i, eps in enumerate(eps_list):
            for u in eps:
                d = D[pos]
                pos += 1
                cand[i].append((d, u))
                res[i].append((-d, u))
            heapq.heapify(cand[i])
            heapq.heapify(res[i])
            if res[i]:
                full[i] = len(res[i]) >= ef
                bnd[i] = -res[i][0][0]
        active = list(range(B))
        heappop, heappush = heapq.heappop, heapq.heappush
        heappushpop = heapq.heappushpop
        neighbors_arr = self._neighbors_arr
        while active:
            round_qi: list[int] = []
            round_fresh: list[np.ndarray] = []
            still = []
            for i in active:
                fresh = None
                ci, ri = cand[i], res[i]
                vi = vis[i]
                fl, b = full[i], bnd[i]
                while ci:
                    dc, c = heappop(ci)
                    if fl and dc > b:
                        ci.clear()  # same termination as _search_layer
                        break
                    nb = neighbors_arr(c, level)
                    if nb.size:
                        f = nb[~vi[nb]]
                        if f.size:
                            fresh = f
                            break
                if fresh is None:
                    continue  # exhausted or terminated: drops out of lockstep
                vi[fresh] = True
                round_qi.append(i)
                round_fresh.append(fresh)
                still.append(i)
            if not round_qi:
                break
            flat_u = np.concatenate(round_fresh)
            flat_q = np.repeat(
                np.asarray(round_qi, dtype=np.int64),
                [f.size for f in round_fresh],
            )
            D = self._pair_dists(Q, flat_q, flat_u).tolist()
            pos = 0
            for i, f in zip(round_qi, round_fresh):
                ci, ri = cand[i], res[i]
                fl, b = full[i], bnd[i]
                for u in f.tolist():
                    du = D[pos]
                    pos += 1
                    if not fl:
                        heappush(ci, (du, u))
                        heappush(ri, (-du, u))
                        if len(ri) >= ef:
                            fl = True
                            b = -ri[0][0]
                    elif du < b:
                        heappush(ci, (du, u))
                        heappushpop(ri, (-du, u))
                        b = -ri[0][0]
                full[i], bnd[i] = fl, b
            active = still
        if banned:
            # only initial eps can be banned-in-res (see docstring): drop
            # them so callers never see a held-out node
            return [
                sorted((-nd, u) for nd, u in r if u not in banned) for r in res
            ]
        return [sorted((-nd, u) for nd, u in r) for r in res]

    def _select_heuristic(self, cands, m: int) -> list[int]:
        """Malkov & Yashunin Algorithm 4 (the usual default selection):
        from ascending candidates keep u only if u is closer to the base
        point than to every already-selected neighbor, then backfill with
        pruned candidates (keepPrunedConnections). Plain nearest-m selection
        wires tight clusters into near-cliques with no escape edges — on
        clustered corpora greedy descent then strands in the wrong cluster
        (measured: recall@10 ceiling ~0.93 at ef=192 without the heuristic,
        0.99+ with it at ef=64 on the 1000-natural-cluster bench corpus).

        Candidate-pairwise distances come from ONE small GEMM instead of a
        numpy call per (candidate, selected) pair — the heuristic runs
        every insert, and the per-call overhead was ~40% of build time."""
        if len(cands) <= 1:
            return [u for _, u in cands[:m]]
        ids = [u for _, u in cands]
        X = self.V[ids]  # (c, dim)
        sq = (X * X).sum(axis=1)
        pair = sq[:, None] - 2.0 * (X @ X.T) + sq[None, :]  # (c, c)
        self.dist_evals += len(ids) * len(ids)
        # running elimination mask replaces the per-candidate `all(...)`
        # scan (u survives iff d(u, base) <= d(u, s) for every selected s;
        # selecting s eliminates its violators for all later candidates in
        # one vector op) — this call sits on every insert AND every link
        # shrink, ~half of total build time in the scan form
        d_arr = np.fromiter((d for d, _ in cands), dtype=np.float64, count=len(cands))
        ok = np.ones(len(cands), dtype=bool)
        selected: list[int] = []  # indices into cands
        for i in range(len(cands)):
            if len(selected) >= m:
                break
            if not ok[i]:
                continue
            selected.append(i)
            ok &= d_arr <= pair[:, i]
        if len(selected) < m:  # backfill closest pruned
            chosen = set(selected)
            for i in range(len(cands)):
                if len(selected) >= m:
                    break
                if i not in chosen:
                    selected.append(i)
        return [ids[i] for i in selected]


    def _link(self, idx: int, sel, lc: int) -> None:
        """Write idx's selected out-links and the back-links, shrinking any
        overflowing neighbor list back to mmax (see shrink_slack)."""
        mmax = self.M0 if lc == 0 else self.M
        self.links[idx][lc] = list(sel)
        for u in sel:
            lu = self.links[u][lc]
            lu.append(idx)
            if len(lu) > mmax + self.shrink_slack:
                du = self._dists(self.V[u], lu)
                order = np.argsort(du, kind="stable")
                self.links[u][lc] = self._select_heuristic(
                    [(du[j], lu[j]) for j in order], mmax
                )

    def _insert(self, idx: int) -> None:
        """Sequential Malkov-Yashunin insert: draw the level, create the
        links row, then the shared post-draw body (one copy — the chunked
        path's promoted nodes run the identical `_insert_prepared`, so the
        determinism fixtures pinning sequential==batch_size-1 stay honest)."""
        level = int(-math.log(max(self.rng.random(), 1e-300)) * self.mult)
        self.links.append({lc: [] for lc in range(level + 1)})
        self._insert_prepared(idx, level)

    def _insert_chunk(self, idxs: list[int]) -> None:
        """Insert a chunk of pending nodes: search ALL of them against the
        frozen pre-chunk graph in lockstep (`_batch_search_layer`), then
        link sequentially. Chunk peers don't appear in each other's
        candidate sets (they search the snapshot) — with chunk sizes ≪
        graph size the missing intra-chunk edges are statistically
        irrelevant (recall parity asserted in tests); level draws stay in
        insertion order, so a build remains deterministic for a given
        corpus + seed. Nodes drawn ABOVE the current max level are inserted
        sequentially (they change the global entry point mid-chunk)."""
        levels = []
        for idx in idxs:
            level = int(-math.log(max(self.rng.random(), 1e-300)) * self.mult)
            levels.append(level)
            self.links.append({lc: [] for lc in range(level + 1)})
        batch = [(i, lv) for i, lv in zip(idxs, levels) if lv <= self.max_level]
        in_batch = {i for i, _ in batch}
        # search phase against the frozen snapshot, level-synchronous: all
        # chunk nodes descend together; at each layer the ones still above
        # their target level take a greedy (ef=1) step, the rest run the
        # full construction beam and record candidates for linking
        cands_of: dict[int, dict[int, list]] = {i: {} for i, _ in batch}
        if batch:
            Q = self.V[[i for i, _ in batch]]
            eps = [[self.entry]] * len(batch)
            for lc in range(self.max_level, -1, -1):
                greedy = [p for p, (_, lv) in enumerate(batch) if lc > lv]
                beam = [p for p, (_, lv) in enumerate(batch) if lc <= lv]
                if greedy:
                    out = self._batch_search_layer(
                        Q[greedy], [eps[p] for p in greedy], 1, lc
                    )
                    for p, r in zip(greedy, out):
                        eps[p] = [r[0][1]]
                if beam:
                    out = self._batch_search_layer(
                        Q[beam], [eps[p] for p in beam], self.ef_construction, lc
                    )
                    for p, r in zip(beam, out):
                        cands_of[batch[p][0]][lc] = r
                        eps[p] = [u for _, u in r]
        # link phase (sequential — link shrink mutates shared adjacency)
        for idx, level in batch:
            for lc in range(min(level, self.max_level), -1, -1):
                self._link(idx, self._select_heuristic(cands_of[idx][lc], self.M), lc)
        for idx, level in zip(idxs, levels):
            if idx in in_batch:
                continue
            # promoted node: full sequential insert semantics minus the
            # level draw / links row (already done above)
            self._insert_prepared(idx, level)

    def _insert_prepared(self, idx: int, level: int) -> None:
        """The body of `_insert` after the level draw (links row exists)."""
        q = self.V[idx]
        if self.entry < 0:
            self.entry, self.max_level = idx, level
            return
        ep = [self.entry]
        for lc in range(self.max_level, level, -1):
            ep = [self._search_layer(q, ep, 1, lc)[0][1]]
        for lc in range(min(level, self.max_level), -1, -1):
            cands = self._search_layer(q, ep, self.ef_construction, lc)
            self._link(idx, self._select_heuristic(cands, self.M), lc)
            ep = [u for _, u in cands]
        if level > self.max_level:
            self.entry, self.max_level = idx, level

    # -- public surface (add_items / knn_query) ---------------------------

    _BOOTSTRAP = 256  # sequential until the graph can anchor a chunk

    def add_items(self, V: np.ndarray, batch_size: int = 64) -> None:
        """Insert rows; `batch_size > 1` (default) uses chunked lockstep
        construction — same parameters, same cost class, recall parity with
        the sequential form (asserted in tests), ~3x wall on build.
        `batch_size=1` reproduces the exact sequential Malkov-Yashunin
        insertion order (the form the bit-determinism fixtures pin)."""
        V = np.asarray(V, dtype=np.float64)
        start = 0 if self.V is None else len(self.V)
        self.V = V if self.V is None else np.vstack([self.V, V])
        i, end = start, start + len(V)
        while i < end:
            if batch_size <= 1 or i < self._BOOTSTRAP:
                self._insert(i)
                i += 1
            else:
                chunk = list(range(i, min(i + batch_size, end)))
                self._insert_chunk(chunk)
                i = chunk[-1] + 1

    def knn_query(self, Q: np.ndarray, k: int, ef: int = 64, banned=None):
        """Top-k (squared-L2, the engine's canonical metric) per query row.

        Returns (labels, dists) shaped (nq, k).
        The whole batch traverses in lockstep (`_batch_search_layer`) —
        bit-identical results to per-query traversal, ~4x fewer numpy
        dispatches on serving batches.

        When the entry's reachable component holds fewer than k nodes (a
        pathological shard: back-link shrinking can strand nodes), the
        short rows are PADDED with label -1 / distance inf rather than
        crashing — callers mask `labels >= 0` before gathering ids.

        `banned` (set of LOCAL node indices) searches the graph as if
        those nodes were never inserted — the held-out recall-profiling
        hook (see _batch_search_layer). Descent layers apply it too; a
        query whose filtered descent result empties (its only entry was
        banned) keeps the previous layer's entry, so navigation always
        has a foothold.
        """
        Q = np.asarray(Q, dtype=np.float64)
        ef = max(ef, k)
        nq = len(Q)
        if nq == 1 and not banned:
            # Single-query serving fast path: the lockstep kernel's
            # whole-batch numpy ops cost more than they save at B=1
            # (measured 1.10-1.17x on the CSR form), and per-query
            # traversal is contractually bit-identical (the lockstep
            # docstring; pinned by tests), so dispatch to _search_layer.
            q = Q[0]
            ep = [self.entry]
            for lc in range(self.max_level, 0, -1):
                ep = [self._search_layer(q, ep, 1, lc)[0][1]]
            res = [self._search_layer(q, ep, ef, 0)]
        else:
            eps = [[self.entry]] * nq
            for lc in range(self.max_level, 0, -1):
                out = self._batch_search_layer(Q, eps, 1, lc, banned=banned)
                eps = [[r[0][1]] if r else eps[i] for i, r in enumerate(out)]
            res = self._batch_search_layer(Q, eps, ef, 0, banned=banned)
        labels = np.full((nq, k), -1, dtype=np.int64)
        dists = np.full((nq, k), np.inf, dtype=np.float64)
        for qi, r in enumerate(res):
            r = r[:k]
            n = len(r)
            labels[qi, :n] = [u for _, u in r]
            dists[qi, :n] = [d for d, _ in r]
        return labels, dists

    # -- persistence (S3/S4 for graphs: the reference write_index/load-once
    # analog, vector_search_cluster.py:1051-1054 and 537-545) ---------------

    def export_rows(self, ids: np.ndarray):
        """Per-node graph rows for a columnar artifact: (level, neighbors)
        with neighbor links as GLOBAL ids (`ids[local]`), one outer list per
        layer 0..level. Self-contained: `read_shard_graph` on these plus the
        vectors reproduces a search-identical graph (the reconstruction
        lives in _decode_parquet_graph -> CSRServingGraph)."""
        levels = np.array([max(lk) if lk else 0 for lk in self.links], dtype=np.int32)
        neighbors = [
            [[int(ids[u]) for u in lk.get(lc, ())] for lc in range(levels[i] + 1)]
            for i, lk in enumerate(self.links)
        ]
        return levels, neighbors


GRAPH_SCHEMA = (
    "vec_id BIGINT, embedding ARRAY<FLOAT>, shard_id INT, "
    "hnsw_level INT, hnsw_neighbors ARRAY<ARRAY<BIGINT>>, hnsw_entry BOOLEAN"
)


def build_hnsw_graphs(
    corpus_sharded: DataFrame,
    m: int = 16,
    ef_construction: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build ONE HNSW graph per shard and emit it as per-node columns —
    the index-artifact half of K9 (reference: faiss.write_index per shard,
    vector_search_cluster.py:1051-1054; here the graph IS data, adjacency
    columns beside the vectors, so `write.partitionBy('shard_id')` persists
    graph + vectors in one partitioned parquet).

    applyInPandas group = shard = graph: the one shuffle in the build, and
    the memory contract is explicit — a shard must fit a task, which is the
    same bound graph construction needs anyway (size shards accordingly:
    num_shards >= corpus_bytes / executor_task_memory). Insertion order is
    vec_id-ascending and level draws are seeded per shard, so the artifact
    is bit-deterministic for a given corpus + sharding.
    """
    import pandas as pd

    def build_one(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        shard = int(pdf["shard_id"].iloc[0])
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        ids = pdf[id_col].to_numpy().astype(np.int64)
        # per-shard seed offset decorrelates level draws across shards
        g = PyHNSW(V.shape[1], M=m, ef_construction=ef_construction, seed=seed + shard)
        g.add_items(V)
        levels, neighbors = g.export_rows(ids)
        entry = np.zeros(len(ids), dtype=bool)
        entry[g.entry] = True
        return pd.DataFrame(
            {
                "vec_id": ids,
                "embedding": pdf[vec_col],
                "shard_id": np.full(len(ids), shard, dtype=np.int32),
                "hnsw_level": levels,
                "hnsw_neighbors": neighbors,
                "hnsw_entry": entry,
            }
        )

    return corpus_sharded.select(id_col, vec_col, "shard_id").groupBy("shard_id").applyInPandas(
        build_one, GRAPH_SCHEMA
    )


# Per-python-worker graph cache: the reference loads each shard's index ONCE
# per node and serves every query from it (vector_search_cluster.py:537-545).
# Spark reuses python workers across tasks (spark.python.worker.reuse), so a
# module-level cache keyed by (path, file fingerprint) gives the same
# load-once behavior for a serving loop — repeated micro-batches traverse
# the cached graph, paying neither construction NOR re-load.
_GRAPH_CACHE: dict = {}
_GRAPH_CACHE_MAX = 8  # per-worker; one entry per shard a worker serves


def _graph_fingerprint(shard_dir: str):
    """(basename, size, mtime_ns) per parquet file. Basenames, not full
    paths: a moved/copied index (the parquet columns are documented as
    portable) must still match its frozen bundles. The directory prefix is
    glob-escaped so metacharacter paths don't silently match nothing."""
    import glob as _glob
    import os as _os

    files = sorted(_glob.glob(_os.path.join(_glob.escape(shard_dir), "*.parquet")))
    out = []
    for f in files:
        st = _os.stat(f)
        out.append((_os.path.basename(f), st.st_size, st.st_mtime_ns))
    return tuple(out)


class CSRServingGraph(PyHNSW):
    """Read-only serving graph whose adjacency stays in the decoded Arrow
    CSR buffers (one int64 values array + absolute offsets) — loading does
    NO per-node python work, which is what makes a cold worker's first
    batch cheap (measured: 0.3 s vs 1.4 s list-materialized vs 2.7 s
    to_pylist at 62.5k nodes). Search goes through `_neighbors`, slicing
    the shared values array per (node, level); mutation (incremental
    append) must materialize `to_mutable()` first."""

    def __init__(
        self, V, ids, levels, outer_off, inner_off, vals, entry_local,
        M: int = 16, ef_construction: int = 64,
    ):
        super().__init__(V.shape[1], M=M, ef_construction=ef_construction)
        self.V = V
        self.ids = ids
        self._levels = levels
        self._outer = outer_off
        self._inner = inner_off
        self._vals = vals
        self.entry = int(entry_local)
        self.max_level = int(levels[entry_local])
        self.links = None  # adjacency lives in the CSR buffers
        # level-0 lists materialize lazily per node on first touch: load
        # stays O(buffers), and a serving loop's hot path converges to
        # plain-list speed after the first batch touches the working set
        self._l0: list = [None] * len(ids)
        # offset columns ALSO kept as python int lists: `_neighbors_arr`
        # runs once per beam expansion, and python-int indexing + slicing
        # is ~4x cheaper than boxing numpy scalars there; ~30 bytes/node,
        # paid once at load
        self._levels_l = levels.tolist()
        self._outer_l = outer_off.tolist()
        self._inner_l = inner_off.tolist()

    def _neighbors(self, c: int, level: int):
        if level == 0:
            x = self._l0[c]
            if x is None:
                s = self._outer[c]
                x = self._l0[c] = self._vals[self._inner[s] : self._inner[s + 1]].tolist()
            return x
        if level > self._levels[c]:
            return ()
        s = self._outer[c] + level
        return self._vals[self._inner[s] : self._inner[s + 1]].tolist()

    def _neighbors_arr(self, c: int, level: int) -> np.ndarray:
        """Zero-copy CSR slice — no tolist, no per-node cache needed: a
        numpy view over the shared values buffer is free to produce."""
        if level > self._levels_l[c]:
            return _EMPTY_IDS
        s = self._outer_l[c] + level
        return self._vals[self._inner_l[s] : self._inner_l[s + 1]]

    def add_items(self, V):  # pragma: no cover - guard, exercised via to_mutable
        raise TypeError("CSRServingGraph is read-only; call to_mutable() first")

    def to_mutable(self, seed: int = 42) -> "PyHNSW":
        """Materialize a mutable PyHNSW (list-of-dicts links) for extension."""
        g = PyHNSW(self.V.shape[1], M=self.M, ef_construction=self.ef_construction, seed=seed)
        g.V = np.asarray(self.V, dtype=np.float64)  # materialize any mmap
        # list(...) copies are load-bearing: _neighbors(i, 0) returns the
        # SAME list object cached in self._l0 — handing it out uncopied
        # would let add_items on the mutable graph corrupt this (possibly
        # serving-cached) instance's adjacency in place
        g.links = [
            {lc: list(self._neighbors(i, lc)) for lc in range(self._levels[i] + 1)}
            for i in range(len(self.ids))
        ]
        g.entry = self.entry
        g.max_level = self.max_level
        g.ids = self.ids
        return g


def _decode_parquet_graph(shard_dir: str) -> dict:
    """Decode a shard's graph arrays from the canonical parquet columns,
    straight from the Arrow buffers (a to_pylist + per-value dict walk
    measured 2.7 s/shard at 62.5k nodes; this path ~0.6 s)."""
    import pyarrow.dataset as pads

    tbl = (
        pads.dataset(shard_dir, format="parquet")
        .to_table(columns=["vec_id", "embedding", "hnsw_level", "hnsw_neighbors", "hnsw_entry"])
        .sort_by("vec_id")
    )
    n = tbl.num_rows
    ids = tbl.column("vec_id").to_numpy()
    # embedding list<float> -> one flat values buffer, reshape
    emb = tbl.column("embedding").combine_chunks()
    V = np.asarray(emb.flatten().to_numpy(), dtype=np.float64).reshape(n, -1)
    levels = tbl.column("hnsw_level").to_numpy()
    # neighbors list<list<int64>>: absolute offsets into the nested values;
    # global->local id map is one vectorized searchsorted (ids ascending)
    nb = tbl.column("hnsw_neighbors").combine_chunks()
    outer_off = nb.offsets.to_numpy()
    inner = nb.values
    inner_off = inner.offsets.to_numpy()
    local_vals = np.searchsorted(ids, inner.values.to_numpy())
    entry_local = int(np.flatnonzero(tbl.column("hnsw_entry").to_numpy())[0])
    return {
        "V": V,
        "ids": ids,
        "levels": levels,
        "outer_off": np.asarray(outer_off, dtype=np.int64),
        "inner_off": np.asarray(inner_off, dtype=np.int64),
        "vals": np.asarray(local_vals, dtype=np.int64),
        "entry": np.array([entry_local], dtype=np.int64),
    }


_FROZEN_DIR = "_graph"  # '_' prefix: invisible to Spark/pyarrow dataset discovery


def freeze_shard_graph(shard_dir: str) -> None:
    """Write the serving-optimized binary bundle beside a shard's parquet —
    the faiss.write_index analog (reference 1051-1054): raw .npy arrays
    that load in ~0.1 s where the parquet decode pays ~0.6 s and the
    original value-walk paid 2.7 s. The parquet columns stay canonical
    (portable, compaction-safe); the bundle records a fingerprint of the
    parquet files it was frozen from, and the loader falls back to the
    parquet decode whenever the fingerprint mismatches (stale bundle after
    an incremental append or compaction) — never a wrong answer, only a
    slower load."""
    import json
    import os
    import shutil

    # fingerprint BEFORE decoding: if a concurrent rewrite (streaming
    # append, compaction) lands mid-decode, the stamped pre-decode
    # fingerprint won't match the rewritten files and the bundle reads as
    # stale (parquet fallback) — stamping after the decode would certify
    # the OLD graph as fresh against the NEW files, silently wrong forever
    fp = _graph_fingerprint(shard_dir)
    arrays = _decode_parquet_graph(shard_dir)
    # compact dtypes: bundle IO is the cold-load bound (16 concurrent
    # workers share the disk). float32 V is lossless (the parquet
    # embeddings ARE float32; the loader widens back); int32 covers local
    # node indices and nested offsets at any task-sized shard
    arrays = {
        "V": arrays["V"].astype(np.float32),
        "ids": arrays["ids"],
        "levels": arrays["levels"].astype(np.int16),
        "outer_off": arrays["outer_off"].astype(np.int32),
        "inner_off": arrays["inner_off"].astype(np.int32),
        "vals": arrays["vals"].astype(np.int32),
        "entry": arrays["entry"],
    }
    tmp = os.path.join(shard_dir, "_graph.tmp")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    for name, arr in arrays.items():
        np.save(os.path.join(tmp, f"{name}.npy"), arr)
    with open(os.path.join(tmp, "fingerprint.json"), "w") as f:
        json.dump([list(t) for t in fp], f)
    final = os.path.join(shard_dir, _FROZEN_DIR)
    if os.path.isdir(final):
        shutil.rmtree(final)
    os.rename(tmp, final)


def freeze_graphs(
    vectors_dir: str, num_shards: int, spark=None, shards: list | None = None
) -> int:
    """Freeze shard serving bundles (all shards, or just `shards`); a Spark
    job when a session is given (one task per shard), driver-side loop
    otherwise. Returns the number of shards frozen."""
    import os

    shard_dirs = [
        os.path.join(vectors_dir, f"shard_id={s}")
        for s in (range(num_shards) if shards is None else shards)
        if os.path.isdir(os.path.join(vectors_dir, f"shard_id={s}"))
    ]
    if spark is None or len(shard_dirs) <= 1:
        for d in shard_dirs:
            freeze_shard_graph(d)
        return len(shard_dirs)

    dirs = list(shard_dirs)

    def do(batches):
        import pandas as pd

        for pdf in batches:
            done = []
            for i in pdf["id"].tolist():
                freeze_shard_graph(dirs[int(i)])
                done.append(dirs[int(i)])
            yield pd.DataFrame({"dir": done})

    # range with numPartitions == rows puts EXACTLY one shard per task —
    # a hash repartition on the dir string collides shards into one task
    # and serializes their freezes (same pitfall hnsw_stored_search's
    # scan partitioning documents as measured 3x wall)
    df = spark.range(len(dirs), numPartitions=len(dirs))
    return df.mapInPandas(do, "dir STRING").count()


def _load_frozen(shard_dir: str, M: int, ef_construction: int):
    """Load the npy bundle if present AND fresh; None otherwise."""
    import json
    import os

    bundle = os.path.join(shard_dir, _FROZEN_DIR)
    fp_file = os.path.join(bundle, "fingerprint.json")
    if not os.path.isfile(fp_file):
        return None
    with open(fp_file) as f:
        # basename-normalize: bundles frozen before r11 recorded absolute
        # paths — their (size, mtime) entries are still valid after the
        # format change, so normalize instead of invalidating them
        frozen_fp = [
            (os.path.basename(t[0]), t[1], t[2]) for t in json.load(f)
        ]
    if frozen_fp != list(_graph_fingerprint(shard_dir)):
        return None  # parquet changed since the freeze: bundle is stale
    a = {
        name: np.load(os.path.join(bundle, f"{name}.npy"))
        for name in ("ids", "levels", "outer_off", "inner_off", "vals", "entry")
    }
    # V stays a float32 MEMORY MAP: a task reading the bundle pays page
    # faults only for nodes its traversal visits, and concurrent tasks
    # mapping the same file share the pages — upfront IO drops to ~zero.
    # _dists upcasts the float32 rows to float64 exactly (the parquet
    # embeddings are float32), so results stay bit-identical to the
    # in-memory float64 path.
    V = np.load(os.path.join(bundle, "V.npy"), mmap_mode="r")
    return CSRServingGraph(
        V, a["ids"], a["levels"], a["outer_off"], a["inner_off"], a["vals"],
        int(a["entry"][0]), M=M, ef_construction=ef_construction,
    )


def read_shard_graph(
    shard_dir: str, M: int = 16, ef_construction: int = 64, mutable: bool = False
):
    """Load one shard's stored graph — fresh instance, no cache.

    Prefers the frozen serving bundle (fingerprint-checked), falling back
    to the canonical parquet decode. Default is the CSR serving form
    (fast load, read-only). Pass `mutable=True` when the graph will be
    EXTENDED (incremental append) — and never hand the cached serving
    instance to an appender: mutating it would corrupt the cache under
    its unchanged key."""
    g = _load_frozen(shard_dir, M, ef_construction)
    if g is None:
        a = _decode_parquet_graph(shard_dir)
        g = CSRServingGraph(
            a["V"], a["ids"], a["levels"], a["outer_off"], a["inner_off"], a["vals"],
            int(a["entry"][0]), M=M, ef_construction=ef_construction,
        )
    if mutable:
        return g.to_mutable()
    return g


def load_shard_graph(shard_dir: str) -> "PyHNSW":
    """Load (or fetch from the worker cache) one shard's stored graph."""
    key = (shard_dir, _graph_fingerprint(shard_dir))
    g = _GRAPH_CACHE.get(key)
    if g is not None:
        return g
    g = read_shard_graph(shard_dir)
    if len(_GRAPH_CACHE) >= _GRAPH_CACHE_MAX:
        _GRAPH_CACHE.pop(next(iter(_GRAPH_CACHE)))
    _GRAPH_CACHE[key] = g
    return g


def extend_shard_graphs(
    batch_sharded: DataFrame,
    vectors_dir: str,
    m: int = 16,
    ef_construction: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """T1 for graph artifacts — insert a micro-batch into the persisted
    per-shard graphs (reference: add_vectors_streaming appends into live
    FAISS indexes, vector_search_cluster.py:1139-1212; HNSW supports true
    incremental insertion, so no rebuild).

    Per affected shard: load the stored graph (fresh instance, not the
    serving cache), insert the new vectors with the SAME beam/link budget
    the batch build used, and re-emit every node row — neighbor lists of
    existing nodes change when new nodes link to them, so the shard
    partition must be rewritten whole (pair with a dynamic
    partitionOverwrite write, see streaming/build_stream.py). Level draws
    are seeded by (seed, shard, existing size): a given append sequence is
    deterministic, batch != incremental bit-wise (different insertion
    order) but both are valid graphs of the same parameters — equivalence
    is asserted on recall.
    """
    import os
    import random as _random

    import pandas as pd

    def extend_one(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        shard = int(pdf["shard_id"].iloc[0])
        newV = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        new_ids = pdf[id_col].to_numpy().astype(np.int64)
        shard_dir = os.path.join(vectors_dir, f"shard_id={shard}")
        if os.path.isdir(shard_dir):
            g = read_shard_graph(shard_dir, M=m, ef_construction=ef_construction, mutable=True)
            old_ids = g.ids
            # replay idempotency: foreachBatch is at-least-once — a crash
            # between the partition overwrite and the checkpoint offset
            # commit re-delivers the same micro-batch on restart. Rows whose
            # vec_id is already in the stored graph are SKIPPED (their first
            # insertion stands); raising here would wedge the stream forever
            # on its own replay. A genuine same-id-different-vector clash is
            # indistinguishable from a replay and is likewise dropped —
            # vec_ids are immutable, updates go through a rebuild.
            dup = np.isin(new_ids, old_ids)
            if dup.any():
                newV, new_ids = newV[~dup], new_ids[~dup]
            if new_ids.size == 0:
                # whole batch already applied: re-emit the stored graph
                # unchanged (the dynamic overwrite rewrites identical rows)
                ids = old_ids
            else:
                g.rng = _random.Random(seed + shard + 1_000_003 * len(old_ids))
                g.add_items(newV)
                ids = np.concatenate([old_ids, new_ids])
        else:  # first batch ever for this shard
            g = PyHNSW(newV.shape[1], M=m, ef_construction=ef_construction, seed=seed + shard)
            g.add_items(newV)
            ids = new_ids
        levels, neighbors = g.export_rows(ids)
        entry = np.zeros(len(ids), dtype=bool)
        entry[g.entry] = True
        return pd.DataFrame(
            {
                "vec_id": ids,
                # float32 round-trips exactly through the float64 graph copy
                "embedding": [row.astype(np.float32) for row in g.V],
                "shard_id": np.full(len(ids), shard, dtype=np.int32),
                "hnsw_level": levels,
                "hnsw_neighbors": neighbors,
                "hnsw_entry": entry,
            }
        )

    return batch_sharded.select(id_col, vec_col, "shard_id").groupBy("shard_id").applyInPandas(
        extend_one, GRAPH_SCHEMA
    )


def hnsw_stored_search(
    vectors_dir: str,
    num_shards: int,
    queries: DataFrame,
    k: int = 10,
    ef_search: int = 64,
    query_splits: int | None = None,
    broadcast_threshold_bytes: int = 4 << 20,
) -> DataFrame:
    """K9 serving over a PERSISTED graph: one task per shard loads the stored
    adjacency (worker-cached — load-once like the reference, 537-545) and
    pays only beam traversal. No add_items anywhere on this path; repeated
    serving batches hit the worker cache and pay only the search.

    Query batches above `broadcast_threshold_bytes` ship via a Spark
    broadcast (torrent distribution, fetched once per executor) instead of
    riding the task closure — closure capture serializes the whole batch
    into EVERY task description, which at a 100k-query batch × num_shards ×
    splits tasks is the one remaining term that grew with batch size.
    Below the threshold the closure is cheaper (no broadcast round-trip).
    Broadcast lifetime: the broadcast must outlive the returned LAZY
    DataFrame (re-executions included), so it is not explicitly
    unpersisted here; it is released when the driver GCs the plan. A
    long-lived serving loop issuing many large batches should `.count()`/
    materialize and drop each result promptly (the worker-side graph cache,
    not the result lineage, is what makes repeat serving cheap).

    Scatter plan: one task per (shard, query-split) — the reference's ZMQ
    scatter (P5), subdivided so a straggling task holds back only a
    fraction of the batch, not 1/num_shards of it. Each task side-reads
    its shard's frozen bundle (or parquet) via Arrow — the same files any
    Spark scan would read, just loaded whole because graph traversal needs
    the complete shard — and searches only its strided slice of the query
    batch. The K3 rank window merges per-(shard, split) top-k as usual.
    """
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from webscale_vector_search_spark.operators.knn import topk

    spark = queries.sparkSession
    q_rows = queries.select("query_id", "qvec").collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in q_rows]).astype(np.float64)
    # query_splits > 1 subdivides each shard's batch across tasks (smaller
    # straggler quantum; the mmap'd bundle means extra tasks share pages,
    # not IO). Default (None): derive from the session so the scatter
    # fills the cluster — num_shards tasks use only num_shards slots, and
    # when the scheduler has more (local[32] over 16 shards; any executor
    # fleet wider than the shard count) the idle slots are free wall-clock.
    # Python workers ARE reused across tasks here (measured: 64 tasks land
    # on exactly 32 worker pids, reused verbatim across jobs, numpy import
    # 0 ms in the forked child — the earlier fork-tax note was wrong), so
    # an extra task costs only the ~0.03 s bundle load on a cache miss.
    # Derivation, not a constant: splits = 2*parallelism // num_shards —
    # two task waves per slot so uneven beam work evens out (the straggler
    # quantum), which measured faster than exact-width splitting even on a
    # fully-loaded box (paired A/B on the 1M tier artifact: splits 4 =
    # 6.8 s vs splits 1 = 8.4 s at ef 256). The driver's lower-core-count
    # runs derive 1 split (8 cores / 16 shards — 16 tasks over 8 slots is
    # already two waves); wider clusters scale up. Results are independent
    # of the split count: each query meets every shard exactly once
    # (strided slices partition the batch) and the K3 merge is per-query.
    if query_splits is None:
        par = spark.sparkContext.defaultParallelism
        query_splits = max(1, (2 * par) // max(1, num_shards))
    n_splits = max(1, min(query_splits, len(q_ids)))
    q_bc = None
    if q_ids.nbytes + Q.nbytes > broadcast_threshold_bytes:
        q_bc = spark.sparkContext.broadcast((q_ids, Q))
        q_ids = Q = None  # keep the big arrays out of the scan closure

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("distance", T.DoubleType()),
        ]
    )

    def scan(batches):
        ids_all, Q_all = q_bc.value if q_bc is not None else (q_ids, Q)
        for pdf in batches:
            for shard, split in zip(pdf["shard_id"].tolist(), pdf["split"].tolist()):
                shard_dir = os.path.join(vectors_dir, f"shard_id={int(shard)}")
                if not os.path.isdir(shard_dir):
                    continue  # empty shard never materialized a directory
                sel = slice(int(split), None, n_splits)  # strided = balanced
                q_sel, Q_sel = ids_all[sel], Q_all[sel]
                if len(q_sel) == 0:
                    continue
                g = load_shard_graph(shard_dir)
                kk = min(k, len(g.V))
                labels, dists = g.knn_query(Q_sel, k=kk, ef=max(ef_search, kk))
                flat = labels.ravel()
                valid = flat >= 0  # underflow padding (disconnected shard)
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(q_sel, kk)[valid],
                        "vec_id": g.ids[flat[valid]],
                        "distance": np.round(
                            dists.ravel().astype(np.float64), 6
                        )[valid],
                    }
                )

    # spark.range with numPartitions == rows puts EXACTLY one (shard,
    # split) per task — a hash repartition would collide pairs into the
    # same task and serialize their searches (measured 3x wall)
    n_pairs = num_shards * n_splits
    shards = spark.range(n_pairs, numPartitions=n_pairs).select(
        (F.col("id") / n_splits).cast("int").alias("shard_id"),
        (F.col("id") % n_splits).cast("int").alias("split"),
    )
    partial = shards.mapInPandas(scan, out_schema)
    ranked = topk(partial, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )


def hnsw_partition_search(
    corpus_sharded: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 32,  # reference build params (vector_search_cluster.py:1044-1045)
    ef_construction: int = 64,
    ef_search: int = 64,  # reference serving param (552)
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-partition HNSW build+search inside one mapInPandas pass, then the
    K2/K3 partial/final merge (PyHNSW per partition)."""
    import pandas as pd

    q_rows = queries.select("query_id", "qvec").collect()
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([r["qvec"] for r in q_rows]).astype(np.float64)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("distance", T.DoubleType()),
        ]
    )

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            kk = min(k, len(V))
            index = PyHNSW(V.shape[1], M=m, ef_construction=ef_construction)
            index.add_items(V)
            labels, dists = index.knn_query(Q, k=kk, ef=max(ef_search, kk))
            nq, kk = labels.shape
            flat = labels.ravel()
            valid = flat >= 0  # underflow padding (disconnected shard)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, kk)[valid],
                    "vec_id": ids[flat[valid]],
                    "distance": np.round(dists.ravel().astype(np.float64), 6)[valid],
                }
            )

    from pyspark.sql import functions as F

    from webscale_vector_search_spark.operators.knn import topk

    partial = corpus_sharded.select(id_col, vec_col).mapInPandas(scan, out_schema)
    ranked = topk(partial, k)
    return ranked.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("vec_id").alias("neighbor_id"),
        "distance",
    )
