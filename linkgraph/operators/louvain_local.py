"""Small-graph local fast path for multi-level Louvain.

After one or two contractions a web graph's quotient is orders of
magnitude smaller than the input (the sf0.1 bench graph: 15k vertices
-> ~5k communities after level 0 -> hundreds), yet every Spark level
pays ~12 fixed-overhead jobs (plan build, AQE stages, broadcast
exchanges — measured in STATUS.md). The reference runs the ENTIRE
optimization on one device (gpulouvain.cu); the Spark-honest analog
is the guarded collect in operators/louvain.py: under the vertex AND
edge-row thresholds the level loop runs here — level 0 included, warm
starts and frontiers replayed exactly — and above them the
distributed loop runs unchanged.

The rounds are NumPy-vectorized (round 6: the former per-vertex dict
loops were ~2.5s of pure Python at sf0.1; the array form is ~0.2s),
but the DECISION algebra is untouched: every score input is a sum of
integer-valued edge weights (exact in float64 regardless of summation
order), every decision is the scaled form S = 2M*w - k*tot_C with no
division, selection is argmax-S with the lowest-community tie-break,
and the swap guard / acceptance test are the reference formulas — so
labels, modularity, level count and per-round metrics are IDENTICAL
to the distributed path (asserted by the test_louvain equivalence
suite and the independent NumPy oracle in tests/oracle_louvain.py,
which is kept separate from this module so it validates both paths).
"""

from __future__ import annotations

import numpy as np

from linkgraph.plans.local import index_of


def _edge_arrays(edges):
    """(src, dst, weight) int64/int64/float64 arrays from a
    (src, dst, weight) array triple (plans/local.collect_edges)."""
    src, dst, w = edges
    return (
        np.asarray(src, dtype=np.int64),
        np.asarray(dst, dtype=np.int64),
        np.asarray(w, dtype=np.float64),
    )


def modularity(edges, ids, comm) -> float:
    """Q of the partition (``ids`` ascending, ``comm``) over symmetric
    edge arrays — the level loop's e_own/(2M) - Σ tot²/(4M²), self-loops
    counted once as intra-community weight; 0.0 for an edgeless graph
    (louvain()'s convention)."""
    src, dst, w = _edge_arrays(edges)
    m = float(w.sum()) / 2.0
    if m == 0.0:
        return 0.0
    cs = comm[np.searchsorted(ids, src)]
    _, cidx = np.unique(cs, return_inverse=True)
    tot = np.bincount(cidx, weights=w)
    e_own = float(w[cs == comm[np.searchsorted(ids, dst)]].sum())
    return e_own / (2.0 * m) - float((tot * tot).sum()) / (4.0 * m * m)


def _one_level_np(
    ui,
    vi,
    ws,
    n,
    m,
    min_gain,
    max_rounds,
    metrics,
    level,
    init_labels=None,
    move_mask=None,
):
    """One level over dense vertex indices 0..n-1 with the Spark
    loop's exact stop rule and metric bookkeeping: Q is measured on
    the PRE-move state each round; when the observed gain drops below
    min_gain the round's already-built move is DISCARDED
    (operators/louvain.py::_one_level's one-action-per-round
    structure).

    ui/vi: edge endpoint indices (symmetric table, self-loops once);
    ws: weights. init_labels: warm-start label array (int64, arbitrary
    label values); None = singletons (labels = index). move_mask:
    boolean per-vertex — move evaluation restricted to True vertices
    (the frontier semi-join semantics: others keep their community but
    still count in every total and in Q). Returns (labels, improved,
    q_after, e_own_after).
    """
    twom = 2.0 * m
    k = np.zeros(n, dtype=np.float64)
    np.add.at(k, ui, ws)
    state = (
        np.arange(n, dtype=np.int64)
        if init_labels is None
        else np.asarray(init_labels, dtype=np.int64).copy()
    )
    nonself = ui != vi
    us_ns, vs_ns, ws_ns = ui[nonself], vi[nonself], ws[nonself]
    improved = False
    q_prev = None
    q_after = None
    e_own_after = 0.0
    for rnd in range(max_rounds):
        # dense community index for this round's labels (np.unique is
        # ascending, so index order == label order and the lowest-id
        # tie-break / c < cur guard compare identically on indices)
        comms, state_cidx = np.unique(state, return_inverse=True)
        nc = len(comms)
        tot = np.bincount(state_cidx, weights=k, minlength=nc)
        size = np.bincount(state_cidx, minlength=nc)
        # Q of the CURRENT state (self-loops are always intra-community
        # — counted in e_own, exactly like calculateToOwnCommunity)
        e_own_cur = float(ws[state[ui] == state[vi]].sum())
        q_cur = e_own_cur / (2.0 * m) - float((tot * tot).sum()) / (4.0 * m * m)
        if rnd == 0:
            q_prev = q_cur
        else:
            gain = q_cur - q_prev
            q_prev = q_cur
            metrics.append({"level": level, "round": rnd - 1, "q": q_cur, "gain": gain})
            if gain > 0:
                improved = True
            if gain < min_gain:
                q_after = q_cur
                e_own_after = e_own_cur
                break
        # ---- synchronous move round (W1-W4, scaled algebra) --------
        # group (vertex, neighbour community) over non-self edges
        key = us_ns * np.int64(nc) + state_cidx[vs_ns]
        gkey, ginv = np.unique(key, return_inverse=True)
        w_vc = np.zeros(len(gkey), dtype=np.float64)
        np.add.at(w_vc, ginv, ws_ns)
        gv = (gkey // nc).astype(np.int64)
        gc = (gkey % nc).astype(np.int64)
        gcur = state_cidx[gv]
        own = gc == gcur
        e_own_v = np.zeros(n, dtype=np.float64)
        e_own_v[gv[own]] = w_vc[own]
        # candidates: c != C(v), swap guard (:154-155)
        cand = ~own & ((gc < gcur) | (size[gc] > 1) | (size[gcur] > 1))
        cv, cc, cw = gv[cand], gc[cand], w_vc[cand]
        new_state = state.copy()
        if len(cv):
            s = twom * cw - k[cv] * tot[cc]
            # argmax S, ties -> lowest community (:157-160): sort by
            # (v, -s, c) and take the first row per vertex
            order = np.lexsort((cc, -s, cv))
            sv, ss, sc = cv[order], s[order], cc[order]
            first = np.ones(len(sv), dtype=bool)
            first[1:] = sv[1:] != sv[:-1]
            bv, bs, bc = sv[first], ss[first], sc[first]
            # acceptance (:192-196, x 2M^2):
            # S_best + k_v*(tot_cur - k_v) - 2M*e(v->C(v)\v) > 0
            acc = (
                bs + k[bv] * (tot[state_cidx[bv]] - k[bv]) - twom * e_own_v[bv]
                > 0.0
            )
            if move_mask is not None:
                acc &= move_mask[bv]
            moved = bv[acc]
            new_state[moved] = comms[bc[acc]]
        state = new_state
    if q_after is None:
        # exited via max_rounds: score the final state once
        comms, state_cidx = np.unique(state, return_inverse=True)
        tot = np.bincount(state_cidx, weights=k, minlength=len(comms))
        e_own_after = float(ws[state[ui] == state[vi]].sum())
        q_after = e_own_after / (2.0 * m) - float((tot * tot).sum()) / (
            4.0 * m * m
        )
        if q_prev is not None and max_rounds > 0:
            gain = q_after - q_prev
            metrics.append(
                {"level": level, "round": max_rounds - 1, "q": q_after, "gain": gain}
            )
            if gain > 0:
                improved = True
    return state, improved, q_after, e_own_after


def _contract(ui, vi, ws, dense):
    """Quotient graph: endpoints mapped through the dense label array,
    parallel rows merged by weight sum (A7; the self-loop diagonal
    collapses intra-community weight)."""
    nc = int(dense.max()) + 1 if len(dense) else 0
    qu, qv = dense[ui], dense[vi]
    key = qu * np.int64(nc) + qv
    gkey, ginv = np.unique(key, return_inverse=True)
    qw = np.zeros(len(gkey), dtype=np.float64)
    np.add.at(qw, ginv, ws)
    return (gkey // nc).astype(np.int64), (gkey % nc).astype(np.int64), qw


def run_local_complete(
    edge_rows,
    vert_ids,
    m: float,
    min_gain: float,
    max_rounds: int,
    max_levels: int,
    init=None,
    frontier=None,
    force: bool = False,
):
    """The ENTIRE louvain() level loop on the driver — level 0
    included — for graphs under the guarded collect thresholds
    (operators/louvain.py's full-local fast path and the driver-local
    IncrementalStream). Mirrors the distributed loop statement by
    statement: warm-start level 0 (``init``; ``force`` = the gpulouvain
    onceMore flag that forces contraction + a second level),
    delta-screening frontier restricted to level 0, per-level
    hierarchy maps, identity-contraction stop, the degenerate
    no-improvement path, and the edgeless graph (every vertex its own
    dense community, Q = 0, no level run). Vertex ids are ARBITRARY
    longs at level 0 (no dense-input assumption — unlike
    ``run_local_levels``, which requires the contraction invariant).

    vert_ids: array of the vertex ids (any order; must cover every
    edge endpoint). init: None or an (ids, communities) array pair
    covering ``vert_ids``. frontier: None or an array of ids; ids
    outside the vertex set are dropped (the distributed semi-join's
    behavior).

    Returns (hierarchy_levels, (ids, communities), q_final,
    levels_done, metrics): hierarchy_levels = [(level, nodes, dense)...]
    — the same rows the distributed loop appends per level — and
    (ids, communities) = the ascending original ids with their final
    dense community.
    """
    us, vs, ws = _edge_arrays(edge_rows)
    sorted_ids = np.unique(np.asarray(vert_ids, dtype=np.int64))
    n = len(sorted_ids)
    if m == 0.0:
        dense = np.arange(n, dtype=np.int64)
        return [(0, sorted_ids, dense)], (sorted_ids, dense), 0.0, 0, []
    # dense index of every level-0 vertex / edge endpoint
    ui = np.searchsorted(sorted_ids, us)
    vi = np.searchsorted(sorted_ids, vs)
    init_labels = None
    if init is not None:
        iid = np.asarray(init[0], dtype=np.int64)
        order = np.argsort(iid, kind="stable")
        pos, hit = index_of(iid[order], sorted_ids)
        if not hit.all():
            raise ValueError("init does not cover the vertex set")
        init_labels = np.asarray(init[1], dtype=np.int64)[order][pos]
    move_mask = None
    if frontier is not None:
        pos, hit = index_of(sorted_ids, np.asarray(frontier, dtype=np.int64))
        move_mask = np.zeros(n, dtype=bool)
        move_mask[pos[hit]] = True
    metrics: list[dict] = []
    hierarchy_levels: list[tuple[int, np.ndarray, np.ndarray]] = []
    # current node-id domain of the level (level 0: original ids)
    level_ids = sorted_ids
    # assignment carried over ORIGINAL vertices as dense indices into
    # the current level's node domain
    assign_idx = np.arange(n, dtype=np.int64)
    force_more = force
    q_final = 0.0
    levels_done = 0
    state = init_labels if init_labels is not None else np.arange(n, dtype=np.int64)
    cur_n = n
    for level in range(max_levels):
        state, improved, q_final, _ = _one_level_np(
            ui, vi, ws, cur_n, m, min_gain, max_rounds, metrics, level,
            init_labels=init_labels, move_mask=move_mask,
        )
        levels_done = level + 1
        if not improved and not force_more:
            break  # reference breaks BEFORE contraction
        force_more = False
        comms, dense = np.unique(state, return_inverse=True)
        dense = dense.astype(np.int64)
        hierarchy_levels.append((level, level_ids, dense))
        assign_idx = dense[assign_idx]
        if len(comms) == cur_n:
            break  # identity contraction: the next level cannot differ
        ui, vi, ws = _contract(ui, vi, ws, dense)
        cur_n = len(comms)
        level_ids = np.arange(cur_n, dtype=np.int64)
        init_labels = None  # post-contraction levels start from singletons
        move_mask = None  # frontier applies to level 0 only
    if not hierarchy_levels:
        # degenerate: level 0 did not improve and no warm start —
        # every vertex its own dense community (ascending renumber of
        # the unmoved state, as the distributed loop does)
        comms, dense = np.unique(state, return_inverse=True)
        dense = dense.astype(np.int64)
        hierarchy_levels.append((0, level_ids, dense))
        assign_idx = dense[assign_idx]
    return hierarchy_levels, (sorted_ids, assign_idx), q_final, levels_done, metrics


def run_local_levels(
    edge_rows,
    n_nodes: int,
    m: float,
    min_gain: float,
    max_rounds: int,
    max_levels: int,
    start_level: int,
):
    """Finish the level loop on a collected quotient graph whose
    vertex ids are dense 0..n_nodes-1 (the contraction invariant).

    edge_rows: (src, dst, weight) arrays — the symmetric quotient
    table with its self-loop diagonal. Returns (level_maps, q_final,
    levels_done, metrics): level_maps is one dict {node -> dense cid}
    per RECORDED level (the same levels the distributed loop would
    append to the hierarchy), q_final the last level's modularity,
    metrics rows in the distributed loop's format with ``level``
    offset by start_level.
    """
    ui, vi, ws = _edge_arrays(edge_rows)
    cur_n = int(n_nodes)
    metrics: list[dict] = []
    level_maps: list[dict[int, int]] = []
    q_final = 0.0
    levels_done = 0
    for li in range(max_levels):
        state, improved, q_final, _ = _one_level_np(
            ui, vi, ws, cur_n, m, min_gain, max_rounds, metrics,
            start_level + li,
        )
        levels_done = li + 1
        if not improved:
            break
        comms, dense = np.unique(state, return_inverse=True)
        dense = dense.astype(np.int64)
        level_maps.append(dict(zip(range(cur_n), dense.tolist())))
        if len(comms) == cur_n:
            break
        ui, vi, ws = _contract(ui, vi, ws, dense)
        cur_n = len(comms)
    return level_maps, q_final, levels_done, metrics
