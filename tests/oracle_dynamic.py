"""Pure-Python oracle for the dynamic layer, mirroring
linkgraph.streaming (deltas / screening / incremental) expression-for-
expression, built on the louvain oracle. Graphs are dicts
{(u,v): w} over symmetric directed rows (self-loops once).
"""

from __future__ import annotations

from collections import defaultdict

from tests.oracle_louvain import _modularity, louvain_oracle


def sym_delta(pairs):
    out = []
    for p in pairs:
        u, v = p[0], p[1]
        w = p[2] if len(p) > 2 else 1.0
        out.append((u, v, w))
        if u != v:
            out.append((v, u, w))
    return out


def apply_deletions_o(edges, dels):
    gone = {(u, v) for u, v, _ in sym_delta(dels)}
    return {k: w for k, w in edges.items() if k not in gone}


def apply_additions_o(edges, adds):
    out = dict(edges)
    for u, v, w in sym_delta(adds):
        out[(u, v)] = out.get((u, v), 0.0) + w
    return out


def seed_new_nodes_o(edges, state):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    adj = defaultdict(list)
    for (u, v), w in edges.items():
        adj[u].append(v)
    new_nodes = [v for v in nodes if v not in state]
    n_comm = max(state.values()) + 1 if state else 0
    out = dict(state)
    for v in new_nodes:  # ascending id order (reference loop)
        nbrs = adj[v]
        if len(nbrs) == 1 and nbrs[0] in state:
            out[v] = state[nbrs[0]]
        else:
            out[v] = n_comm
            n_comm += 1
    return out


def _expand_o(edges, state, seeds, comms):
    adj = defaultdict(list)
    for (u, v), w in edges.items():
        adj[u].append(v)
    r = set(seeds)
    for v in seeds:
        r.update(adj[v])
    for v, c in state.items():
        if c in comms:
            r.add(v)
    return r


def frontier_del_o(edges_new, state, dels):
    seeds, comms = set(), set()
    for u, v, _ in sym_delta(dels):
        if u in state and v in state and state[u] == state[v]:
            seeds.add(u)
            comms.add(state[u])
    return _expand_o(edges_new, state, seeds, comms)


def frontier_add_o(edges_new, state, adds):
    m = sum(edges_new.values()) / 2.0
    denom = 2.0 * m * m
    k = defaultdict(float)
    adj = defaultdict(list)
    for (u, v), w in edges_new.items():
        k[u] += w
        adj[u].append((v, w))
    tot = defaultdict(float)
    size = defaultdict(int)
    for v, c in state.items():
        tot[c] += k[v]
        size[c] += 1
    sym = sym_delta(adds)
    sources = sorted({u for u, _, _ in sym})
    cands = defaultdict(set)
    for u, v, _ in sym:
        cands[u].add(state[v])
    for u in sources:
        cands[u].add(state[u])
    seeds, comms = set(), set()
    for v in sources:
        cur = state[v]
        w_vc = defaultdict(float)
        for u, w in adj[v]:
            if u != v and state[u] in cands[v]:
                w_vc[state[u]] += w
        e_own = w_vc.get(cur, 0.0)
        best_gain, best_c = None, None
        for c, w in w_vc.items():
            if c == cur:
                continue
            if not (c < cur or size[c] > 1 or size[cur] > 1):
                continue
            gain = w / m + k[v] * ((tot[cur] - k[v]) - tot[c]) / denom
            if best_gain is None or gain > best_gain or (gain == best_gain and c < best_c):
                best_gain, best_c = gain, c
        if best_gain is not None and best_gain - e_own / m > 0.0:
            seeds.add(v)
            comms.add(best_c)
    return _expand_o(edges_new, state, seeds, comms)


def modularity_o(edges, state):
    """Q of ``state`` over the symmetric graph ``edges``; 0.0 when
    edgeless."""
    m = sum(edges.values()) / 2.0
    if m == 0.0:
        return 0.0
    k = defaultdict(float)
    for (u, _), w in edges.items():
        k[u] += w
    return _modularity([(u, v, w) for (u, v), w in edges.items()], state, k, m)


def run_incremental_o(base_edges, deltas, min_gain=1e-6, max_levels=20, screening=True):
    """base_edges: {(u,v): w} symmetric. deltas: list of
    (ts, op, src, dst[, weight]). screening=False: every phase's
    frontier is the whole vertex set. A phase whose frontier is empty
    copies the partition forward and scores it on the changed graph.
    Returns (state dict, edges dict, q, metrics list)."""
    edges = dict(base_edges)
    elist = [(u, v, w) for (u, v), w in edges.items()]
    state, q, _ = louvain_oracle(elist, min_gain=min_gain, max_levels=max_levels)
    metrics = [{"ts": -1, "phase": "static", "r_size": -1, "r_frac": 1.0, "q": q}]
    ts_list = sorted({d[0] for d in deltas})
    for ts in ts_list:
        for phase in ("del", "add"):
            batch = [d[2:] for d in deltas if d[0] == ts and d[1] == phase]
            if not batch:
                continue
            if phase == "del":
                new_edges = apply_deletions_o(edges, batch)
                verts = sorted(state)
                r = frontier_del_o(new_edges, state, batch)
            else:
                new_edges = apply_additions_o(edges, batch)
                state = seed_new_nodes_o(new_edges, state)
                verts = sorted(state)
                r = frontier_add_o(new_edges, state, batch)
            if not screening:
                r = set(verts)
            if r:
                elist = [(u, v, w) for (u, v), w in new_edges.items()]
                state, q, _ = louvain_oracle(
                    elist,
                    min_gain=min_gain,
                    max_levels=max_levels,
                    init_partition=state,
                    frontier=r,
                    nodes=verts,
                )
            else:
                q = modularity_o(new_edges, state)
            edges = new_edges
            metrics.append(
                {
                    "ts": ts,
                    "phase": phase,
                    "r_size": len(r),
                    "r_frac": len(r) / len(verts) if verts else 0.0,
                    "q": q,
                }
            )
    return state, edges, q, metrics
