"""Edge-batch graph mutation (SURVEY.md §2.G) — the reference's
180/245-line in-place CSR shift-copy machinery (``buildNewGraph_add``
src/main_louvain.cpp:143-322, ``buildNewGraph_del`` :423-667)
collapses into union+groupBy / left-anti-join over an immutable edge
snapshot. Each timestep produces a new edge-table version (at scale:
an Iceberg snapshot; here: a fresh barriered DataFrame).

Divergence note (documented, intentional): the reference's add path
has known defects by its own comments (:138-142 — no duplicate check,
weights of existing edges not updated). We implement the well-defined
semantics: adding an existing edge accumulates its weight.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.plans.local import index_of
from linkgraph.plans.ranks import dense_ids
from linkgraph.plans.superstep import barrier


def symmetrize_delta(delta: DataFrame) -> DataFrame:
    """Delta rows (src, dst[, weight]) -> both directions, self-loops
    once (the GPU driver symmetrizes delEdges the same way,
    src/main_louvain_gpu.cpp:430,601-604)."""
    d = delta.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        (F.coalesce(F.col("weight"), F.lit(1.0)).cast("double") if "weight" in delta.columns
         else F.lit(1.0)).alias("weight"),
    )
    rev = d.filter(F.col("src") != F.col("dst")).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    return d.unionByName(rev)


def apply_deletions(edges: DataFrame, delta_del: DataFrame) -> DataFrame:
    """G2: remove (src,dst) and (dst,src) — left-anti join replaces the
    reference's tombstone+compact machinery. The batch side is
    broadcast (delta batches are micro-batch-sized by the streaming
    model — a bulk delete should rebuild the graph instead), so the
    surviving rows KEEP the edge table's partitioning — the
    incremental loop's src-partitioned invariant crosses deletion
    phases with zero exchange."""
    sym = symmetrize_delta(delta_del).select("src", "dst")
    return edges.join(F.broadcast(sym), ["src", "dst"], "left_anti")


def apply_additions(
    edges: DataFrame, delta_add: DataFrame, repartition_src: int | None = None
) -> DataFrame:
    """G1: insert symmetrized delta edges; duplicate (src,dst) pairs
    merge by weight sum (clean() semantics).

    repartition_src: partition the unioned rows on hash(src) BEFORE
    the merge — hash(src) satisfies the (src, dst) grouping's
    distribution, so the aggregation runs exchange-free on top and the
    new graph version comes out src-partitioned (the incremental loop
    keeps this invariant so every warm Louvain call runs
    pre-partitioned). Same rows either way."""
    sym = symmetrize_delta(delta_add)
    u = edges.select("src", "dst", "weight").unionByName(sym)
    if repartition_src:
        u = u.repartition(repartition_src, "src")
    return u.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))


def seed_new_nodes(
    spark, new_edges: DataFrame, state: DataFrame, batch: DataFrame | None = None
) -> DataFrame:
    """G4 (src/main_louvain.cpp:1484-1498): vertices first appearing in
    this batch get a community: degree-1 nodes whose single neighbor is
    an old node adopt that neighbor's community; all others get fresh
    singleton communities (ids max(community)+1, +2, ... assigned in
    ascending node-id order, matching the reference's sequential loop).

    state: (id, community) over old nodes. Returns the extended state.
    batch: optional — the addition batch (src, dst, ...) that produced
    ``new_edges``. Pre-batch endpoints are invariantly ⊆ state, so new
    vertices can only be batch endpoints: candidates come from the
    (tiny) batch instead of a full-graph endpoint distinct, and a batch
    touching only known vertices returns ``state`` after one cheap
    emptiness probe. Identical result either way.
    """
    if batch is not None:
        verts = (
            batch.select(F.col("src").cast("long").alias("id"))
            .unionByName(batch.select(F.col("dst").cast("long").alias("id")))
            .distinct()
        )
    else:
        verts = (
            new_edges.select(F.col("src").alias("id"))
            .unionByName(new_edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    old = state.select("id", "community")
    new_nodes = verts.join(old, "id", "left_anti")
    if batch is not None and new_nodes.isEmpty():
        return state

    deg = new_edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # the single neighbor of degree-1 new nodes
    nbr = (
        new_edges.join(new_nodes, new_edges.src == new_nodes.id, "left_semi")
        .select(F.col("src").alias("id"), F.col("dst").alias("nbr"))
    )
    adopt = (
        new_nodes.join(deg, "id")
        .filter(F.col("deg") == 1)
        .join(nbr, "id")
        .join(
            old.select(F.col("id").alias("nbr"), F.col("community").alias("nbr_comm")),
            "nbr",
        )  # inner: neighbor must be an OLD node
        .select("id", F.col("nbr_comm").alias("community"))
    )
    rest = new_nodes.join(adopt.select("id"), "id", "left_anti")
    n_comm = state.agg(F.max("community")).first()[0]
    n_comm = int(n_comm) + 1 if n_comm is not None else 0
    # ascending-node-id rank without a single-partition window (the
    # batch's new-node set is usually small, but the ingest spine
    # should never contain a SinglePartition exchange on any path)
    fresh_ranks, _ = dense_ids(rest, "id", out_col="rank")
    fresh = fresh_ranks.select(
        "id", (F.col("rank") + F.lit(n_comm)).alias("community")
    )
    return barrier(old.unionByName(adopt).unionByName(fresh.select("id", "community")))


# ---- the same mutations on driver-held arrays (the local tier) ------


def symmetrize_arrays(src, dst, weight=None):
    """symmetrize_delta on arrays: both directions, self-loops once;
    a missing weight counts 1.0."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    w = np.ones(len(src)) if weight is None else np.asarray(weight, dtype=np.float64)
    ns = src != dst
    return (
        np.concatenate([src, dst[ns]]),
        np.concatenate([dst, src[ns]]),
        np.concatenate([w, w[ns]]),
    )


def delete_arrays(src, dst, w, del_src, del_dst):
    """apply_deletions on arrays: drop every (src, dst) row whose pair
    or its reverse is in the batch."""
    u, v, _ = symmetrize_arrays(del_src, del_dst)
    gone = set(zip(u.tolist(), v.tolist()))
    hit = np.flatnonzero(np.isin(src, u))
    drop = np.zeros(len(src), dtype=bool)
    drop[hit] = [p in gone for p in zip(src[hit].tolist(), dst[hit].tolist())]
    keep = ~drop
    return src[keep], dst[keep], w[keep]


def add_arrays(src, dst, w, add_src, add_dst, add_w):
    """apply_additions on arrays: append the symmetrized batch, then
    merge duplicate (src, dst) rows by weight sum (rows come out in
    ascending (src, dst) order)."""
    u, v, x = symmetrize_arrays(add_src, add_dst, add_w)
    pairs, inv = np.unique(
        np.column_stack([np.concatenate([src, u]), np.concatenate([dst, v])]),
        axis=0, return_inverse=True,
    )
    merged = np.bincount(inv.reshape(-1), weights=np.concatenate([w, x]))
    return pairs[:, 0].copy(), pairs[:, 1].copy(), merged


def seed_arrays(src, dst, ids, comm, cand):
    """seed_new_nodes on arrays. ids/comm: the partition over old
    nodes, ids ascending; src/dst: the graph after the additions;
    cand: the batch endpoints (new vertices can only be among them).
    Degree-1 new nodes whose single neighbor is old adopt its
    community; the rest get fresh communities max(comm)+1, +2, ... in
    ascending id order. Returns the extended (ids, comm), ascending."""
    new = np.setdiff1d(np.asarray(cand, dtype=np.int64), ids)
    if not len(new):
        return ids, comm
    rows = np.flatnonzero(np.isin(src, new))
    at = np.searchsorted(new, src[rows])  # each row's new node
    deg = np.bincount(at, minlength=len(new))
    one = deg[at] == 1
    pos, hit = index_of(ids, dst[rows[one]])
    labels = np.zeros(len(new), dtype=np.int64)
    labels[at[one][hit]] = comm[pos[hit]]
    fresh = np.ones(len(new), dtype=bool)
    fresh[at[one][hit]] = False
    base = int(comm.max()) + 1 if len(comm) else 0
    labels[fresh] = base + np.arange(int(fresh.sum()), dtype=np.int64)
    all_ids = np.concatenate([ids, new])
    order = np.argsort(all_ids, kind="stable")
    return all_ids[order], np.concatenate([comm, labels])[order]
