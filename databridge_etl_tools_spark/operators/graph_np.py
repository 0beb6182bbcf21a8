"""Driver-side numpy twins of the distributed graph fixpoints.

WHY (guide §1.2 "the distributed algorithm", §2.4 "remove shuffles
outright"): every operator in ``operators.graph`` is an integer
fixpoint of ``iters``/``rounds`` join+aggregate rounds, each round a
checkpointed Spark job. On a BOUNDED graph the per-round fixed cost
(job scheduling, exchange setup, localCheckpoint) dwarfs the
arithmetic — the sf0.1 purchase graph (~1.2 M edges, ~16 K nodes)
spends ~4–6 s per query on ~25 sub-second jobs whose actual integer
work is milliseconds. The same size-aware routing precedent as
``pagerank_py`` (|sources|-bounded affinity walks) and
``bpe._fit_words_py`` (vocab-budget merge loop): ONE bounded collect
decides (``operators.route``, budget ``route.budget("graph")``); at
or under the budget the collected edge list runs the exact fixpoint
vectorized in numpy int64 on the driver; past it the distributed
loop is untouched — at 100 TB an edge table must never land on the
driver.

EXACTNESS CONTRACT (parity-pinned in ``tests/test_graph_np.py``):
- node identity is the index into the np.unique universe; np.unique
  ascending order coincides with Spark's ordering for integral ids
  and for strings (UTF-8 byte order == code-point order), so every
  "smallest label / smallest node" tie resolves identically;
- all rank/vote/distance arithmetic is int64 with PRE-CERTIFIED
  bounds (total PageRank mass is non-increasing, vote sums are
  bounded by total edge weight, path costs by hops·max_w); a graph
  that cannot be certified raises :class:`NpOverflow` and the caller
  falls back to the distributed DECIMAL(38,0) path — never a silent
  wrap;
- integer division is numpy ``//`` on non-negative operands ==
  truncation == Spark ``DIV`` == DuckDB ``//``;
- NULL node ids or weights anywhere → fall back (collected via Arrow,
  ``null_count`` probed before any arithmetic).
"""

from __future__ import annotations


class NpOverflow(Exception):
    """Certified int64 headroom is insufficient for this graph —
    callers fall back to the distributed DECIMAL(38,0) path."""


def _np():
    import numpy as np

    return np


def _index(np, *cols):
    """Encode node columns into the sorted-unique universe; returns
    (nodes, [idx arrays])."""
    nodes = np.unique(np.concatenate(cols))
    return nodes, [np.searchsorted(nodes, c) for c in cols]


def _as_i64(np, a):
    return a.astype(np.int64, copy=False)


def dedup_pairs(src, dst):
    """Distinct (src, dst) pairs — the numpy twin of the distributed
    ``.distinct()`` edge normalization (order never matters to any
    fixpoint here). Works on raw node values of any comparable
    dtype."""
    np = _np()
    order = np.lexsort((dst, src))
    s, d = src[order], dst[order]
    if s.size == 0:
        return s, d
    keep = np.empty(s.size, dtype=bool)
    keep[0] = True
    keep[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    return s[keep], d[keep]


def group_pairs(src, dst, w, *, reduce: str = "sum"):
    """Per-(src, dst) weight aggregation — the numpy twin of the
    distributed ``groupBy(src, dst).agg(sum|min(w))`` normalization.
    Returns (src', dst', w') int64-exact; ``sum`` certifies headroom
    (total weight < 2^62) or raises :class:`NpOverflow`."""
    np = _np()
    w = _as_i64(np, w)
    if reduce == "sum" and int(np.abs(w).sum()) >= (1 << 62):
        raise NpOverflow
    order = np.lexsort((dst, src))
    s, d, wv = src[order], dst[order], w[order]
    if s.size == 0:
        return s, d, wv
    new = np.empty(s.size, dtype=bool)
    new[0] = True
    new[1:] = (s[1:] != s[:-1]) | (d[1:] != d[:-1])
    gid = np.cumsum(new) - 1
    n_g = int(gid[-1]) + 1
    if reduce == "sum":
        out = np.zeros(n_g, np.int64)
        np.add.at(out, gid, wv)
    else:  # min
        out = np.full(n_g, (1 << 62), np.int64)
        np.minimum.at(out, gid, wv)
    return s[new], d[new], out


def pagerank_np(
    src,
    dst,
    w,
    *,
    iters: int,
    num: int,
    den: int,
    q: int,
    seed_ids=None,
):
    """Exact numpy replica of ``graph.pagerank``'s fixpoint over a
    collected (deduplicated / per-pair-summed) edge list. Returns
    ``(nodes, rank_q)``; raises the operator's own ValueErrors for
    the shared guards and :class:`NpOverflow` when int64 headroom
    cannot be certified."""
    np = _np()
    nodes, (si, di) = _index(np, src, dst)
    n = int(nodes.size)
    if n == 0:
        raise ValueError("pagerank: empty graph")
    if n >= (1 << (62 - q)):
        raise ValueError(
            f"pagerank: {n} nodes — per-node q{q} rank is only "
            f"provably < 2^63 for N < 2^{62 - q} (total mass N·2^{q} "
            "could concentrate on one hub). Pass a smaller rank_bits "
            "(e.g. rank_bits=20 certifies N < 2^42) or partition the "
            "graph before ranking."
        )
    if w is not None:
        w = _as_i64(np, w)
        outdeg = np.zeros(n, np.int64)
        np.add.at(outdeg, si, w)
        wmax = int(w.max())
    else:
        outdeg = np.bincount(si, minlength=n).astype(np.int64)
        wmax = 1
    seeded = seed_ids is not None
    seed_mask = None
    n_seeds = 0
    if seeded:
        sarr = np.asarray(seed_ids, dtype=np.int64)
        sidx = np.searchsorted(nodes, sarr)
        inb = sidx < n
        ok = np.zeros(sarr.size, dtype=bool)
        ok[inb] = nodes[sidx[inb]] == sarr[inb]
        sidx = np.unique(sidx[ok])
        if sidx.size == 0:
            raise ValueError("pagerank: none of the seed ids occur in the graph")
        n_seeds = int(sidx.size)
        seed_mask = np.zeros(n, dtype=bool)
        seed_mask[sidx] = True
    # headroom certification: mass is non-increasing from M0 =
    # n_init·2^q (teleport adds (den−num)/den·M0 while contributions
    # are damped by num/den), so every rank ≤ M0, every in_q ≤ M0,
    # every dangling share ≤ M0. The two products that must stay in
    # int64: rank·w ≤ M0·wmax and num·(in_q+share) ≤ num·2·M0.
    m0 = (n_seeds if seeded else n) * (1 << q)
    if m0 * wmax >= (1 << 62) or num * 2 * m0 >= (1 << 62):
        raise NpOverflow
    teleport = ((den - num) * (1 << q)) // den
    if seeded:
        rank = np.where(seed_mask, np.int64(1 << q), np.int64(0))
        tele = np.where(seed_mask, np.int64(teleport), np.int64(0))
    else:
        rank = np.full(n, 1 << q, np.int64)
        tele = np.int64(teleport)
    dangling = outdeg == 0
    has_dang = bool(dangling.any())
    for _ in range(iters):
        contrib = (
            rank[si] // outdeg[si]
            if w is None
            else (rank[si] * w) // outdeg[si]
        )
        in_q = np.zeros(n, np.int64)
        np.add.at(in_q, di, contrib)
        if has_dang:
            dang_q = int(rank[dangling].sum())
            if seeded:
                share = np.where(
                    seed_mask, np.int64(dang_q // n_seeds), np.int64(0)
                )
            else:
                share = np.int64(dang_q // n)
            rank = tele + (num * (in_q + share)) // den
        else:
            rank = tele + (num * in_q) // den
    return nodes, rank


def connected_components_np(src, dst, *, iters: int):
    """Min-label fixpoint on the index universe (order-isomorphic to
    node values, so MIN commutes with the encoding)."""
    np = _np()
    nodes, (si, di) = _index(np, src, dst)
    n = int(nodes.size)
    labels = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        prop = labels.copy()
        np.minimum.at(prop, di, labels[si])
        if np.array_equal(prop, labels):
            break
        labels = prop
    return nodes, nodes[labels]


def label_propagation_np(
    src, dst, w, *, iters: int, self_weight: int
):
    """Synchronous LPA: per round each node adopts the label with the
    max (weighted) vote among neighbors + itself, ties to the smallest
    label. Votes aggregated by (node, label) key; winner by
    lexsort(node asc, vote desc, label asc)."""
    np = _np()
    nodes, (si, di) = _index(np, src, dst)
    n = int(nodes.size)
    if n == 0:
        raise ValueError("label_propagation: empty graph")
    wv = (
        _as_i64(np, w)
        if w is not None
        else np.ones(len(si), np.int64)
    )
    total = int(wv.sum()) + int(self_weight) * n
    if total >= (1 << 62) or n * n >= (1 << 62):
        raise NpOverflow
    labels = np.arange(n, dtype=np.int64)  # label idx == node idx init
    selfv = np.full(n, int(self_weight), np.int64)
    self_node = np.arange(n, dtype=np.int64)
    for _ in range(iters):
        vote_node = np.concatenate([di, self_node])
        vote_lab = np.concatenate([labels[si], labels])
        vote_w = np.concatenate([wv, selfv])
        key = vote_node * n + vote_lab
        uk, inv = np.unique(key, return_inverse=True)
        sums = np.zeros(uk.size, np.int64)
        np.add.at(sums, inv, vote_w)
        gnode = uk // n
        glab = uk % n
        order = np.lexsort((glab, -sums, gnode))
        # gnode[order] is ascending; first slot per node is its winner
        # (every node self-votes, so every node appears)
        uniq, first = np.unique(gnode[order], return_index=True)
        labels = glab[order[first]]
    return nodes, nodes[labels]


def bfs_np(src, dst, source_nodes, *, max_hops: int):
    """Frontier BFS; returns (reached_nodes, dist int64)."""
    np = _np()
    nodes, (si, di, so) = _index(np, src, dst, source_nodes)
    n = int(nodes.size)
    dist = np.full(n, -1, np.int64)
    dist[so] = 0
    for hop in range(1, max_hops + 1):
        m = dist[si] == hop - 1
        t = di[m]
        t = t[dist[t] == -1]
        dist[t] = hop
    reached = dist >= 0
    return nodes[reached], dist[reached]


def shortest_paths_np(src, dst, w, source_nodes, *, max_hops: int):
    """Bounded min-plus relaxation. The reachable universe matches the
    distributed full-join accumulation: sources ∪ every node a
    relaxation ever delivered to."""
    np = _np()
    nodes, (si, di, so) = _index(np, src, dst, source_nodes)
    n = int(nodes.size)
    w = _as_i64(np, w)
    if (max_hops + 1) * int(w.max() if w.size else 0) >= (1 << 61):
        raise NpOverflow
    INF = np.int64(1 << 62)
    dist = np.full(n, INF, np.int64)
    dist[so] = 0
    touched = np.zeros(n, dtype=bool)
    touched[so] = True
    for _ in range(max_hops):
        m = dist[si] < INF
        cand = dist[si[m]] + w[m]
        tgt = di[m]
        touched[tgt] = True
        prop = dist.copy()
        np.minimum.at(prop, tgt, cand)
        dist = np.minimum(dist, prop)
    return nodes[touched], dist[touched]


def kcore_np(src, dst, w, *, k: int, rounds: int):
    """Iterated under-threshold peeling with the same monotone
    early-exit as the distributed loop; returns (node, deg/strength)
    over the surviving subgraph."""
    np = _np()
    nodes, (si, di) = _index(np, src, dst)
    n = int(nodes.size)
    wv = _as_i64(np, w) if w is not None else None
    if wv is not None and int(wv.sum()) >= (1 << 62):
        raise NpOverflow
    mask = np.ones(len(si), dtype=bool)
    n_edges = int(mask.sum())
    for _ in range(rounds):
        deg = np.zeros(n, np.int64)
        if wv is None:
            deg = np.bincount(si[mask], minlength=n).astype(np.int64)
        else:
            np.add.at(deg, si[mask], wv[mask])
        keep = deg >= k
        mask = mask & keep[si] & keep[di]
        n2 = int(mask.sum())
        if n2 == n_edges:
            break
        n_edges = n2
    deg = np.zeros(n, np.int64)
    if wv is None:
        deg = np.bincount(si[mask], minlength=n).astype(np.int64)
    else:
        np.add.at(deg, si[mask], wv[mask])
    alive = np.zeros(n, dtype=bool)
    alive[si[mask]] = True
    return nodes[alive], deg[alive]


def coreness_np(src, dst, *, k_max: int, rounds: int):
    """Successive peeling exactly as the distributed loop (shared
    shrinking edge set, shared n_edges across k levels, same
    early-exit). Returns (node, coreness) over the ORIGINAL src
    universe."""
    np = _np()
    nodes, (si, di) = _index(np, src, dst)
    n = int(nodes.size)
    orig_src = np.zeros(n, dtype=bool)
    orig_src[si] = True
    core = np.ones(n, np.int64)
    mask = np.ones(len(si), dtype=bool)
    n_edges = int(mask.sum())
    for k in range(2, k_max + 1):
        for _ in range(rounds):
            deg = np.bincount(si[mask], minlength=n).astype(np.int64)
            keep = deg >= k
            mask = mask & keep[si] & keep[di]
            n2 = int(mask.sum())
            if n2 == n_edges:
                break
            n_edges = n2
        surv = np.zeros(n, dtype=bool)
        surv[si[mask]] = True
        core = core + surv.astype(np.int64)
    return nodes[orig_src], core[orig_src]


#: wedge-volume budget for the driver triangle route — past this the
#: quadratic-in-degree wedge arrays get large; distributed owns it
WEDGE_BUDGET = 50_000_000


def shared_item_pairs_np(item, member, *, min_shared: int):
    """Pairs of members sharing ≥ ``min_shared`` distinct items —
    the numpy twin of the (member, item) self-join + pair count +
    threshold plan (the co-purchase/blocking primitive). Returns
    ``(a, b)`` member-value arrays with ``a < b``; raises
    :class:`NpOverflow` past the pair-volume budget (the same
    quadratic-fan-out guard as the wedge route)."""
    np = _np()
    items = np.unique(item)
    members = np.unique(member)
    n_i, n_m = int(items.size), int(members.size)
    if n_i * n_m >= (1 << 62) or n_m * n_m >= (1 << 62):
        raise NpOverflow
    ii = np.searchsorted(items, item)
    mi = np.searchsorted(members, member)
    # distinct (item, member) — the join plan's .distinct()
    keys = np.unique(ii * n_m + mi)
    gi = keys // n_m
    gm = keys % n_m
    # per-item member lists are contiguous and ascending in gm
    E = len(keys)
    if E == 0:
        return members[:0], members[:0]
    newg = np.empty(E, dtype=bool)
    newg[0] = True
    newg[1:] = gi[1:] != gi[:-1]
    gstart = np.flatnonzero(newg)
    gcnt = np.diff(np.append(gstart, E))
    start_of = np.repeat(gstart, gcnt)
    local_end = start_of + np.repeat(gcnt, gcnt)
    rep = local_end - np.arange(E) - 1
    P = int(rep.sum())
    if P > WEDGE_BUDGET:
        raise NpOverflow
    first = np.repeat(np.arange(E), rep)
    csum = np.concatenate(([0], np.cumsum(rep)))
    second = first + 1 + (np.arange(P) - np.repeat(csum[:-1], rep))
    # gm ascending within each item group → a-idx < b-idx, and the
    # member encoding is order-isomorphic to values, so a < b holds
    # by VALUE exactly as the join's a.c < b.c predicate
    pk = gm[first] * n_m + gm[second]
    uk, cnt = np.unique(pk, return_counts=True)
    keep = cnt >= min_shared
    uk = uk[keep]
    return members[uk // n_m], members[uk % n_m]


def triangle_counts_np(src, dst):
    """Degree-ordered wedge enumeration + closing-edge membership —
    the exact distributed plan, vectorized. Input edge list must be
    deduplicated, self-loop-free, both directions present."""
    np = _np()
    nodes, (si, di) = _index(np, src, dst)
    n = int(nodes.size)
    if n * n >= (1 << 62):
        raise NpOverflow
    deg = np.bincount(si, minlength=n).astype(np.int64)
    # distributed output universe = distinct srcs (callers supply both
    # directions, so normally every node); replicate exactly
    is_src = np.zeros(n, dtype=bool)
    is_src[si] = True
    ks, kd = deg[si], deg[di]
    fwd = (ks < kd) | ((ks == kd) & (si < di))
    os_, od_ = si[fwd], di[fwd]
    o = np.lexsort((od_, os_))
    a, b = os_[o], od_[o]
    # per-apex group boundaries over the (apex, nbr)-sorted edges
    E = len(a)
    if E == 0:
        return nodes[is_src], np.zeros(int(is_src.sum()), np.int64)
    newg = np.empty(E, dtype=bool)
    newg[0] = True
    newg[1:] = a[1:] != a[:-1]
    gstart = np.flatnonzero(newg)
    gcnt = np.diff(np.append(gstart, E))
    # pairs within each group: element at local position p pairs with
    # the (c − 1 − p) elements after it
    start_of = np.repeat(gstart, gcnt)
    local_end = start_of + np.repeat(gcnt, gcnt)
    rep = local_end - np.arange(E) - 1
    P = int(rep.sum())
    if P > WEDGE_BUDGET:
        raise NpOverflow
    first = np.repeat(np.arange(E), rep)
    csum = np.concatenate(([0], np.cumsum(rep)))
    second = first + 1 + (np.arange(P) - np.repeat(csum[:-1], rep))
    wb, wc = b[first], b[second]  # sorted within group → wb < wc
    closing = np.unique(
        np.concatenate([os_ * n + od_, od_ * n + os_])
    )
    hit = np.searchsorted(closing, wb * n + wc)
    hit = np.minimum(hit, closing.size - 1)
    is_tri = closing[hit] == wb * n + wc
    apex = a[first][is_tri]
    tri_nodes = np.concatenate([apex, wb[is_tri], wc[is_tri]])
    counts = np.bincount(tri_nodes, minlength=n).astype(np.int64)
    return nodes[is_src], counts[is_src]
