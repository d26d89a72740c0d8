"""Delta-screening: compute the re-evaluation frontier R (SURVEY.md
§2 J4-J6, §4 X1) following the GPU semantics of
/root/reference/src/gpu-louvain/node_eval.cu (the authors' original
contribution), which are well-defined — the CPU heuristic is buggy by
its own comments (src/main_louvain.cpp:735,742,768).

* deletion side (``nodeEval_del_gpu`` :1243-1348 via
  ``computeCommunitiesDelSV`` :1059-1110): for every deleted edge whose
  endpoints shared a community under the previous partition, mark the
  source vertex (both directions are present, so both endpoints) and
  mark that community. Inter-community deletions are ignored.
* addition side (``nodeEval_add_gpu`` :818-1057): per source vertex of
  added edges, candidate communities = own + communities of the new
  edges' targets (``computeCommunitiesSVGeneral``); evaluate the exact
  Louvain gain against candidates only (``computeBestComm`` :108-278 —
  same gain/guard/tie-break/acceptance as the move kernel, computed on
  the NEW graph with the warm-started partition); on acceptance mark
  the vertex and its best community.
* expansion (both sides): marked vertices' neighbors
  (``computeFinalNodeEval`` :438-489) + all members of marked
  communities (``computeNodeEval`` :547-561); R = the union.

Skew note (J5): giant communities make the members-expansion join hot;
it is a semi-join on the community key, which AQE skew-split handles —
and R is only ever used as a semi-join filter afterwards.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.plans import local
from linkgraph.streaming.deltas import symmetrize_arrays, symmetrize_delta


def _expand(
    edges: DataFrame, state: DataFrame, seeds: DataFrame, comms: DataFrame
) -> DataFrame:
    """J6 neighbor expansion + J5 community-members expansion."""
    nbrs = edges.join(
        seeds.select(F.col("id").alias("src")), "src", "left_semi"
    ).select(F.col("dst").alias("id"))
    members = state.join(comms, "community", "left_semi").select("id")
    return seeds.unionByName(nbrs).unionByName(members).distinct()


def _expand_arrays(src, dst, ids, comm, seeds, comms) -> np.ndarray:
    """_expand on driver-held arrays: seeds, their neighbors, and every
    member of a marked community, as ascending unique ids."""
    nbrs = dst[np.isin(src, seeds)]
    members = ids[np.isin(comm, comms)]
    return np.unique(np.concatenate([seeds, nbrs, members]).astype(np.int64))


def frontier_del_arrays(src, dst, ids, comm, del_src, del_dst) -> np.ndarray:
    """frontier_del on driver-held arrays. src/dst: the graph AFTER the
    deletions; ids/comm: the previous partition, ids ascending;
    del_src/del_dst: the deletion batch (symmetrized here). Set
    semantics only (marks, expansion): no floating point anywhere, so
    the id set is IDENTICAL to the distributed plan's."""
    u, v, _ = symmetrize_arrays(del_src, del_dst)
    if not len(ids):
        return np.empty(0, dtype=np.int64)
    pu, hu = local.index_of(ids, u)
    pv, hv = local.index_of(ids, v)
    intra = hu & hv & (comm[pu] == comm[pv])
    return _expand_arrays(
        src, dst, ids, comm, np.unique(u[intra]), np.unique(comm[pu][intra])
    )


def frontier_add_arrays(src, dst, w, ids, comm, add_src, add_dst) -> np.ndarray:
    """frontier_add on driver-held arrays (arguments as in
    frontier_del_arrays; ``ids``/``comm`` already extended to the new
    nodes). The gain evaluates the distributed plan's expression tree —
    w/m + k*((tot_cur-k)-tot_c)/(2*m*m) on sums of edge weights that
    are exact in float64 for integer-valued weights (the louvain local
    fast path's determinism argument) — so marks, tie-breaks and
    acceptances are identical."""
    u, v, _ = symmetrize_arrays(add_src, add_dst)
    if not len(ids):
        return np.empty(0, dtype=np.int64)
    m = float(w.sum()) / 2.0
    denom = 2.0 * m * m
    ps, hs = local.index_of(ids, src)
    k = np.bincount(ps[hs], weights=w[hs], minlength=len(ids))
    labels, cidx = np.unique(comm, return_inverse=True)
    tot = dict(zip(labels.tolist(), np.bincount(cidx, weights=k).tolist()))
    size = dict(zip(labels.tolist(), np.bincount(cidx).tolist()))
    # candidate communities per source: the new edges' targets' (own
    # community is never a move target)
    pv, hv = local.index_of(ids, v)
    cands = set(zip(u[hv].tolist(), comm[pv[hv]].tolist()))
    sources = np.unique(u)
    pso, hso = local.index_of(ids, sources)
    in_state = sources[hso].tolist()
    cur_of = dict(zip(in_state, comm[pso[hso]].tolist()))
    k_of = dict(zip(in_state, k[pso[hso]].tolist()))
    # w_vc restricted to sources (the semi-join), non-self rows whose
    # target has a community
    sel = np.isin(src, sources) & (src != dst)
    pd_, hd = local.index_of(ids, dst[sel])
    w_vc: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for a, c, x in zip(
        src[sel][hd].tolist(), comm[pd_[hd]].tolist(), w[sel][hd].tolist()
    ):
        w_vc[a][c] += x
    seeds: list[int] = []
    marked: list[int] = []
    for a, cur in cur_of.items():
        ku = k_of[a]
        tot_cur, size_cur = tot[cur], size[cur]
        best_g, best_c = None, None
        for c, x in w_vc[a].items():
            if c == cur or (a, c) not in cands:
                continue
            if not (c < cur or size[c] > 1 or size_cur > 1):
                continue
            g = x / m + ku * ((tot_cur - ku) - tot[c]) / denom
            if best_g is None or g > best_g or (g == best_g and c < best_c):
                best_g, best_c = g, c
        if best_g is not None and best_g - w_vc[a].get(cur, 0.0) / m > 0.0:
            seeds.append(a)
            marked.append(best_c)
    return _expand_arrays(
        src, dst, ids, comm,
        np.asarray(seeds, dtype=np.int64), np.asarray(marked, dtype=np.int64),
    )


def _collect_local(new_edges: DataFrame, state: DataFrame, delta: DataFrame):
    """One collect each of the graph, the partition and the batch:
    (src, dst, weight, ids, comm, delta_src, delta_dst)."""
    d_src, d_dst, _ = local.collect_edges(delta)
    return (
        *local.collect_edges(new_edges), *local.collect_state(state), d_src, d_dst
    )


def frontier_del(
    spark: SparkSession,
    new_edges: DataFrame,
    state: DataFrame,
    delta_del: DataFrame,
    local_threshold: int | None = None,
    local_edge_cap: int | None = None,
    n_vertices: int | None = None,
) -> DataFrame:
    """R for a deletion batch. state = previous partition (id, community);
    new_edges = graph AFTER the deletions. Returns (id).

    Under the doubly-guarded thresholds (vertexes AND edge rows — the
    louvain full-local guards) the frontier is computed on the driver:
    the deletion side is pure set logic (no arithmetic at all), so the
    R set is identical, and the ~10-stage distributed plan's fixed
    costs are skipped. local_threshold=0 forces the distributed plan;
    None (default) reads the small-graph guard in plans/local.py."""
    n = n_vertices if n_vertices is not None else state.count()
    if local.fits(n, new_edges, local_threshold, local_edge_cap):
        src, dst, _, ids, comm, d_src, d_dst = _collect_local(
            new_edges, state, delta_del
        )
        r = frontier_del_arrays(src, dst, ids, comm, d_src, d_dst)
        return local.frame(spark, "id long", id=r)
    sym = symmetrize_delta(delta_del)
    st_s = state.select(F.col("id").alias("sid"), F.col("community").alias("cs"))
    st_d = state.select(F.col("id").alias("did"), F.col("community").alias("cd"))
    intra = (
        sym.join(st_s, sym.src == F.col("sid"))
        .join(st_d, sym.dst == F.col("did"))
        .filter(F.col("cs") == F.col("cd"))
    )
    seeds = intra.select(F.col("src").alias("id")).distinct()
    comms = intra.select(F.col("cs").alias("community")).distinct()
    return _expand(new_edges, state, seeds, comms)


def frontier_add(
    spark: SparkSession,
    new_edges: DataFrame,
    state: DataFrame,
    delta_add: DataFrame,
    broadcast_threshold: int = 5_000_000,
    local_threshold: int | None = None,
    local_edge_cap: int | None = None,
    n_vertices: int | None = None,
) -> DataFrame:
    """R for an addition batch. state = previous partition extended to
    new nodes (seed_new_nodes); new_edges = graph AFTER the additions.
    Returns (id).

    Under the doubly-guarded thresholds the frontier is computed on
    the driver (frontier_add_arrays — same expression tree, identical
    marks; the distributed plan pays ~10 stages incl. three broadcast
    builds on the critical path, measured 4-6s of pure fixed cost at
    bench scale). local_threshold=0 forces the distributed plan; None
    (default) reads the small-graph guard in plans/local.py."""
    st = state.select("id", "community")
    n = n_vertices if n_vertices is not None else st.count()
    if local.fits(n, new_edges, local_threshold, local_edge_cap):
        r = frontier_add_arrays(*_collect_local(new_edges, state, delta_add))
        return local.frame(spark, "id long", id=r)
    m = float(new_edges.agg(F.sum("weight")).first()[0] or 0.0) / 2.0
    denom = 2.0 * m * m
    sym = symmetrize_delta(delta_add)

    # candidate communities per source vertex: own + targets'
    small = n <= broadcast_threshold
    stb = F.broadcast(st) if small else st
    sources = sym.select(F.col("src").alias("vid")).distinct()
    tgt_cands = (
        sym.join(stb.withColumnRenamed("id", "dst"), "dst")
        .select(F.col("src").alias("vid"), F.col("community").alias("cand_c"))
    )
    own_cands = sources.join(stb.withColumnRenamed("id", "vid"), "vid").select(
        "vid", F.col("community").alias("cand_c")
    )
    cands_set = tgt_cands.unionByName(own_cands).distinct()

    # exact Louvain gain on the NEW graph, restricted to candidate comms
    k_df = new_edges.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("k"))
    comm = (
        st.join(k_df, "id", "left")
        .groupBy("community")
        .agg(
            F.sum(F.coalesce("k", F.lit(0.0))).alias("tot"),
            F.count(F.lit(1)).alias("csize"),
        )
    )
    if small:
        comm = F.broadcast(comm)

    labels = st.select(F.col("id").alias("nid"), F.col("community").alias("c_dst"))
    if small:
        labels = F.broadcast(labels)
    w_vc = (
        new_edges.join(sources.withColumnRenamed("vid", "src"), "src", "left_semi")
        .filter(F.col("src") != F.col("dst"))
        .join(labels, new_edges.dst == F.col("nid"))
        .groupBy(F.col("src").alias("vid"), "c_dst")
        .agg(F.sum("weight").alias("w"))
        # findInHashTable gate: only candidate communities participate
        .join(
            cands_set.withColumnRenamed("cand_c", "c_dst"),
            ["vid", "c_dst"],
            "left_semi",
        )
    )
    own = (
        sources.join(stb.withColumnRenamed("id", "vid"), "vid")
        .withColumnRenamed("community", "cur")
        .join(k_df.withColumnRenamed("id", "vid"), "vid", "left")
        .withColumn("k", F.coalesce("k", F.lit(0.0)))
        .join(
            comm.select(
                F.col("community").alias("cur"),
                F.col("tot").alias("tot_cur"),
                F.col("csize").alias("size_cur"),
            ),
            "cur",
        )
    )
    joined = w_vc.join(own, "vid")
    e_own = joined.filter(F.col("c_dst") == F.col("cur")).select(
        F.col("vid").alias("eid"), F.col("w").alias("e_own")
    )
    cand_gain = (
        joined.filter(F.col("c_dst") != F.col("cur"))
        .join(
            comm.select(
                F.col("community").alias("c_dst"),
                F.col("tot").alias("tot_c"),
                F.col("csize").alias("size_c"),
            ),
            "c_dst",
        )
        .filter(
            (F.col("c_dst") < F.col("cur"))
            | (F.col("size_c") > 1)
            | (F.col("size_cur") > 1)
        )
        .withColumn(
            "gain",
            F.col("w") / F.lit(m)
            + F.col("k") * ((F.col("tot_cur") - F.col("k")) - F.col("tot_c")) / F.lit(denom),
        )
    )
    best = cand_gain.groupBy("vid").agg(
        F.max_by(
            F.struct(F.col("c_dst").alias("bc"), F.col("gain").alias("bg")),
            F.struct(F.col("gain"), (-F.col("c_dst")).alias("negc")),
        ).alias("b")
    )
    accepted = (
        best.join(e_own, best.vid == F.col("eid"), "left")
        .filter(
            F.col("b.bg") - F.coalesce(F.col("e_own"), F.lit(0.0)) / F.lit(m) > 0.0
        )
        .select(F.col("vid").alias("id"), F.col("b.bc").alias("community"))
    )
    seeds = accepted.select("id").distinct()
    comms_marked = accepted.select("community").distinct()
    return _expand(new_edges, state, seeds, comms_marked)
