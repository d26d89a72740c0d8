"""Multi-level (Louvain) modularity optimization — synchronous-round
DataFrame supersteps with the reference GPU path's exact per-move
semantics (gain / swap guard / tie-break / acceptance formulas).

Scheduling caveat: the reference GPU applies moves degree-bucket by
bucket within a round (updateVertexCommunity + communityWeight
recompute per bucket, ``modularity_optimisation.cu:319-365``); here
every round is fully synchronous. Both schedules satisfy the same
per-move acceptance rule but can produce different (equally valid)
label sets; label exactness is proven against a NumPy oracle that
replays the identical synchronous schedule, not against the reference
binary.

Reference parity (all citations into /root/reference):

* gain formula  — ``computeGain``, src/gpu-louvain/modularity_optimisation.cu:96-102:
  ``gain(v->C) = e(v->C)/M + k_v * ((tot_{C(v)} - k_v) - tot_C) / (2*M*M)``
  — evaluated here SCALED by 2M² (exact integer arithmetic for
  integer-valued weights, decision-identical in real arithmetic):
  candidate score ``S(v->C) = 2M*e(v->C) - k_v*tot_C``
* candidate set — neighboring communities only, C != C(v), self-loop
  edges excluded from e(v->C) (``neighbour != vertex`` guard, :149-151)
* swap guard    — ``C < C(v) || size(C) > 1 || size(C(v)) > 1``
  (:154-155) — prevents synchronous singleton-swap livelock
* selection     — argmax S (= argmax gain: they differ by a
  per-vertex constant), ties -> lowest community id (:157-160)
* acceptance    — move iff ``bestGain - e(v->C(v)\\v)/M > 0``
  (:192-196), scaled: ``S_best + k_v*(tot_{C(v)} - k_v)
  - 2M*e(v->C(v)\\v) > 0``
* round loop    — recompute community weights fully each round
  (:339-341, the GPU's restart-safe strategy, SURVEY.md §4 X5);
  continue while per-round modularity gain >= min_gain
  (``optimiseModularity`` loop :319-365)
* modularity    — ``Q = sum_v e(v->C(v))/(2M) - sum_c tot_c^2/(4M^2)``
  (``calculateModularity``, :483-521)
* contraction   — quotient graph by double join + sum (A7,
  ``community_aggregation.cu:248-347``); communities renumbered dense
  by ascending id (A6, the exclusive-scan ordering, :267-273)
* level loop    — while any round in the level improved; a warm-started
  run forces a second level (``gpulouvain.cu:107-118``)
* warm start    — init_partition seeds level-0 communities
  (``init_partition``, utils.cu:176-207)
* frontier      — level-0 move evaluation restricted to R
  (``optimiseModularityUsingVertexSubset``; J3 semi-join)

Determinism: all score inputs (e, k, tot) are sums of edge weights —
exact in float64 for integer-valued weights — and the scaled score
``2M*w - k*tot_C`` and acceptance test are then EXACT integer
arithmetic (no division anywhere in a decision), so every selection,
tie-break, and acceptance is reproducible regardless of partition
count or summation order while products stay under 2^53; the NumPy
oracle evaluates the identical operation tree (SURVEY.md §7
determinism note).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkgraph.plans import local
from linkgraph.plans.ranks import dense_ids
from linkgraph.plans.superstep import barrier, release

# louvain()'s default limits (the driver-held IncrementalStream runs
# with them too)
MAX_ROUNDS_PER_LEVEL = 100
MAX_LEVELS = 20


@dataclass
class LouvainResult:
    assignment: DataFrame  # (id:long, community:long) at original ids, dense
    hierarchy: DataFrame  # (level:int, node:long, community:long)
    modularity: float
    levels: int
    metrics: list[dict] = field(default_factory=list)


def _normalize(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.coalesce(F.col("weight"), F.lit(1.0)).cast("double").alias("weight"),
    )


def _k_table(e: DataFrame) -> DataFrame:
    """vertexEdgesSum: sum of incident weights, self-loop once
    (``computeEdgesSum``, modularity_optimisation.cu:23-40)."""
    return e.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("k"))


def _with_k(state: DataFrame, k_df: DataFrame) -> DataFrame:
    """Fold per-vertex k into the state (id, community, k). k is static
    per level, so carrying it across rounds removes the per-round
    state⋈k join; isolated vertices get k = 0."""
    return state.join(k_df, "id", "left").select(
        "id", "community", F.coalesce("k", F.lit(0.0)).alias("k")
    )


def _round_tables(
    e: DataFrame,
    state: DataFrame,
    small: bool,
    n_part: int,
    persist: bool = True,
    salted: bool = False,
    comm_obs: Observation | None = None,
    aug_obs: Observation | None = None,
    frontier: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the per-round tables: ``aug`` — one row per (vertex,
    neighboring community) PLUS one "own row" per vertex (the LPA
    self-row trick: every vertex's own community is present even with
    no intra-community neighbor), each row carrying the community's
    totals — and ``comm`` (community, tot, csize).

    Big-path exchange budget (locked by test_plans): the gather join
    (src-partitioned edges ⋈ id-partitioned labels) and the
    state⋈w_vc join are exchange-free shuffle-hash joins; the ONLY
    exchanges are (1) the A1 repartition of the gather output onto the
    scored vertex — hash(src) satisfies the groupBy(src, c_dst)
    distribution, so the aggregation runs exchange-free on top and its
    output stays hash(src) for all downstream per-vertex joins —
    (2) the community-keyed comm aggregation, and (3) the
    community-keyed aug⋈comm join (the one legitimately
    community-partitioned step). state must be (id, community, k),
    hash(id)-partitioned on the big path.

    Gather orientation: labels join on the SRC endpoint, scored vertex
    = the DST endpoint (aliased back to "src" for the downstream
    schema). The edge table is symmetric (louvain's input contract),
    so the per-vertex (neighboring community, weight) multiset is
    identical to the dst-side join — and a src-partitioned edge layout
    (the K1 bucketed table) feeds the join with zero exchange.
    """
    labels = state.select(F.col("id").alias("nid"), F.col("community").alias("c_dst"))
    labels = F.broadcast(labels) if small else labels.hint("shuffle_hash")

    # A1 gather: e(v -> C) over non-self-loop edges (P3 guard)
    gather = (
        e.filter(F.col("src") != F.col("dst"))
        .join(labels, e.src == F.col("nid"))
        .select(F.col("dst").alias("src"), "c_dst", "weight")
    )
    if small:
        w_vc = gather.groupBy("src", "c_dst").agg(F.sum("weight").alias("w"))
    elif salted:
        # hub mode (X2): aggregate FIRST — the (src, c_dst) shuffle
        # spreads a hub's rows across reducers by community and
        # map-side combine shrinks them — then repartition the
        # aggregated (much smaller) frame to hash(src) for the
        # downstream co-partitioned joins
        w_vc = (
            gather.groupBy("src", "c_dst")
            .agg(F.sum("weight").alias("w"))
            .repartition(n_part, "src")
        )
    else:
        # hub-free: one edge-sized exchange; hash(src) satisfies the
        # groupBy(src, c_dst) distribution so the aggregation runs
        # exchange-free on top and output stays hash(src)
        w_vc = gather.repartition(n_part, "src").groupBy("src", "c_dst").agg(
            F.sum("weight").alias("w")
        )

    st = F.broadcast(state) if small else state.hint("shuffle_hash")
    joined = w_vc.join(st, w_vc.src == st.id).select(
        F.col("src").alias("vid"),
        "c_dst",
        "w",
        F.col("community").alias("cur"),
        "k",
    )
    if aug_obs is not None:
        # Q scalar's Σ e(v->C(v)) term, observed over ALL vertices'
        # gather rows BEFORE any frontier restriction (Q is global;
        # CollectMetrics blocks pushdown, so the semi-join below cannot
        # leak under it). Synthetic own rows carry w = 0.0 and were
        # exact-identity terms of the former aug-level sum.
        joined = joined.observe(
            aug_obs,
            F.sum(
                F.when(F.col("c_dst") == F.col("cur"), F.col("w")).otherwise(0.0)
            ).alias("eo"),
        )
    own_rows = state.select(
        F.col("id").alias("vid"),
        F.col("community").alias("c_dst"),
        F.lit(0.0).alias("w"),
        F.col("community").alias("cur"),
        "k",
    )
    if frontier is not None:
        # J3 frontier restriction pushed BELOW the comm join and argmax
        # (optimiseModularityUsingVertexSubset evaluates only R): the
        # downstream aug⋈comm join and groupBy(vid) shrink by R%.
        # Non-frontier vertices simply have no candidate rows and keep
        # their community through _apply_moves' left join — identical
        # labels to the former post-argmax semi-join. Small path:
        # broadcast; big path: frontier pays one tiny exchange to
        # hash(vid), the state-partitioned sides stay exchange-free.
        fr = frontier.select(F.col("id").alias("vid"))
        fr = (
            F.broadcast(fr)
            if small
            else fr.repartition(n_part, "vid").hint("shuffle_hash")
        )
        joined = joined.join(fr, "vid", "left_semi")
        own_rows = own_rows.join(fr, "vid", "left_semi")

    # A4: community totals and sizes (full recompute per round — the
    # GPU's restart-safe strategy); isolated members count in csize
    comm = state.groupBy("community").agg(
        F.sum("k").alias("tot"), F.count(F.lit(1)).alias("csize")
    )
    if persist:
        comm = comm.persist()
    comm_j = comm.select(
        F.col("community").alias("c_dst"),
        F.col("tot").alias("tot_c"),
        F.col("csize").alias("size_c"),
    )
    if comm_obs is not None:
        # fold the Q scalar's Σ tot² term into whatever action consumes
        # the aug join (the move barrier) — no separate comm scan/job
        comm_j = comm_j.observe(
            comm_obs, F.sum(F.col("tot_c") * F.col("tot_c")).alias("ts")
        )
    comm_j = F.broadcast(comm_j) if small else comm_j.hint("shuffle_hash")

    aug = (
        joined.unionByName(own_rows)
        .join(comm_j, "c_dst")
        .withColumn("is_own", F.col("c_dst") == F.col("cur"))
    )
    if persist:
        aug = aug.persist()
    return aug, comm


def _q_from_aggregates(
    aug: DataFrame, comm: DataFrame, m: float, self_total: float
) -> tuple[float, float]:
    """Modularity of the CURRENT state from the round's own aggregates
    (``calculateModularity``, modularity_optimisation.cu:483-521):
    Q = e_own/(2M) - Σ tot²/(4M²). ``aug`` excludes self-loops (the
    neighbour != vertex guard), but calculateToOwnCommunity includes
    them — a self-loop is always intra-community, so their total is a
    per-level constant added back here. The synthetic own rows carry
    w = 0.0 and do not perturb the sum. One scalar action on persisted
    frames; no edge-table re-join. Returns (Q, e_own_total) — the
    latter equals the NEXT level's self-loop total after contraction
    (intra-community weight collapses onto the quotient's diagonal),
    so the level loop never re-scans the edge table for it."""
    row = (
        aug.filter(F.col("is_own"))
        .agg(F.sum("w").alias("eo"))
        .crossJoin(comm.agg(F.sum(F.col("tot") * F.col("tot")).alias("ts")))
        .first()
    )
    e_own = float(row["eo"] or 0.0) + self_total
    tot_sq = float(row["ts"] or 0.0)
    return e_own / (2.0 * m) - tot_sq / (4.0 * m * m), e_own


def partition_modularity(edges: DataFrame, partition: DataFrame) -> float:
    """Q of a partition (id, community) over a symmetric weighted edge
    table — the loop's e_own/(2M) - Σ tot²/(4M²); 0.0 for an edgeless
    graph. Two scalar actions; for a partition no Louvain run scored
    (a phase whose delta-screening frontier is empty)."""
    def labels(end: str, col: str) -> DataFrame:
        return partition.select(
            F.col("id").alias(end), F.col("community").cast("long").alias(col)
        )

    e = (
        _normalize(edges)
        .join(labels("src", "cs"), "src")
        .join(labels("dst", "cd"), "dst")
    )
    intra = F.when(F.col("cs") == F.col("cd"), F.col("weight")).otherwise(0.0)
    row = e.agg(F.sum("weight").alias("tw"), F.sum(intra).alias("eo")).first()
    m = float(row["tw"] or 0.0) / 2.0
    if m == 0.0:
        return 0.0
    tot_sq = (
        e.groupBy("cs")
        .agg(F.sum("weight").alias("tot"))
        .agg(F.sum(F.col("tot") * F.col("tot")))
        .first()[0]
    )
    return float(row["eo"]) / (2.0 * m) - float(tot_sq or 0.0) / (4.0 * m * m)


def _apply_moves(
    state: DataFrame,
    aug: DataFrame,
    m: float,
    frontier: DataFrame | None,
    small: bool,
) -> DataFrame:
    """One synchronous move round over the prebuilt ``aug`` table;
    returns the new (id, community, k).

    Selection/acceptance use the gain SCALED by 2M² — exact integer
    arithmetic for integer-valued weights (SURVEY.md §7 determinism
    note), decision-identical to the reference formulas in real
    arithmetic:

    * candidate score  S(v->C) = 2M·e(v->C) - k_v·tot_C
      (= 2M²·gain minus the per-vertex constant k_v·(tot_{C(v)}-k_v),
      so argmax and ties are unchanged — ``computeGain`` :96-102)
    * W2 argmax: max S, ties -> lowest community id (:157-160)
    * W3 swap guard (:154-155): size_cur > 1 admits every candidate;
      otherwise C < C(v) or size_C > 1 — evaluated as TWO filtered
      max_by aggregates (strict / any) in ONE pass, chosen by the own
      row's size_cur, because the guard needs the own community's size
      which lives on a different row of the group
    * acceptance (:192-196): S_best + k_v·(tot_cur - k_v)
      - 2M·e(v->C(v)\\v) > 0  (the reference test × 2M²)

    The one big-path exchange here is the argmax groupBy(vid); the W4
    update join is exchange-free (best is hash(vid) from the groupBy,
    state hash(id)).
    """
    twom = 2.0 * m
    s_col = (F.lit(twom) * F.col("w") - F.col("k") * F.col("tot_c")).alias("s")
    is_cand = ~F.col("is_own")
    strict_ok = is_cand & ((F.col("c_dst") < F.col("cur")) | (F.col("size_c") > 1))
    val = F.struct(F.col("c_dst").alias("bc"), s_col.alias("bs"))
    ordr = F.struct(s_col.alias("s"), (-F.col("c_dst")).alias("negc"))

    best = aug.groupBy("vid").agg(
        F.max_by(val, F.when(strict_ok, ordr)).alias("b_strict"),
        F.max_by(val, F.when(is_cand, ordr)).alias("b_any"),
        F.sum(F.when(F.col("is_own"), F.col("w")).otherwise(0.0)).alias("e_own"),
        F.max(F.when(F.col("is_own"), F.col("tot_c"))).alias("tot_cur"),
        F.max(F.when(F.col("is_own"), F.col("size_c"))).alias("size_cur"),
    )
    best = best.select(
        "vid",
        F.when(F.col("size_cur") > 1, F.col("b_any"))
        .otherwise(F.col("b_strict"))
        .alias("b"),
        "e_own",
        "tot_cur",
    )
    if frontier is not None:
        best = best.join(
            frontier.select(F.col("id").alias("vid")), "vid", "left_semi"
        )
    if not small:
        best = best.hint("shuffle_hash")

    accept = F.col("b").isNotNull() & (
        F.col("b.bs")
        + state.k * (F.col("tot_cur") - state.k)
        - F.lit(twom) * F.col("e_own")
        > 0.0
    )
    return state.join(best, state.id == F.col("vid"), "left").select(
        state.id,
        F.when(accept, F.col("b.bc")).otherwise(state.community).alias("community"),
        state.k,
    )


def _move_round(
    e: DataFrame,
    state: DataFrame,
    k_df: DataFrame,
    m: float,
    frontier: DataFrame | None,
    small: bool,
    n_part: int | None = None,
) -> DataFrame:
    """One synchronous move round (one-shot form: aggregate tables
    built inline, not persisted); state is a bare (id, community).
    Returns the new (id, community)."""
    n_part = n_part or int(
        state.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    st = _with_k(state, k_df)
    aug, _ = _round_tables(e, st, small, n_part, persist=False)
    return _apply_moves(st, aug, m, frontier, small).select("id", "community")


def _one_level(
    spark: SparkSession,
    e: DataFrame,
    state: DataFrame,
    m: float,
    min_gain: float,
    max_rounds: int,
    frontier: DataFrame | None,
    small: bool,
    metrics: list[dict],
    level: int,
    self_total: float | None = None,
    identity: bool = False,
    salted: bool = False,
) -> tuple[DataFrame, bool, float, float]:
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # self-loop weight total: per-level constant (moves never change
    # which community a self-loop is internal to) — folded into Q.
    # For level > 0 the caller passes the previous level's e_own total
    # (= the quotient graph's diagonal), saving the edge-table scan.
    if self_total is None:
        self_total = float(
            e.filter(F.col("src") == F.col("dst")).agg(F.sum("weight")).first()[0]
            or 0.0
        )
    # fold k into the state once per level; on the big path the state
    # is hash(id)-partitioned here and KEPT so across every round's
    # barrier (preserve_partitioning + reset_stats — the combined
    # LogicalRDD-rebuild mode), making the gather and update joins
    # exchange-free. The stats reset is NOT optional: with inherited
    # originStats the contraction's two inner joins square the state
    # estimate into the next level's edge estimate (x3 digit growth
    # per level) until Catalyst burns minutes in BigInt products
    # (measured: level 5+ rounds went 3s -> 33s -> 106s before this).
    #
    # identity=True marks a singleton start (community := id — cold
    # start or post-contraction level): the community column is
    # attached AFTER the checkpoint. A duplicate-alias projection
    # (id aliased twice) ANYWHERE under the checkpoint makes
    # localCheckpoint drop the preserved hash(id) partitioning (the
    # alias-remap trap, plans/superstep.py docstring) — measured: the
    # whole round re-exchanges the state 3x if this is built naively.
    if identity:
        st_k = state.select("id").join(_k_table(e), "id", "left").select(
            "id", F.coalesce("k", F.lit(0.0)).alias("k")
        )
        if small:
            # small path: lazy persist — round 0's single action
            # materializes it (no separate checkpoint job per level)
            state = st_k.withColumn("community", F.col("id")).select(
                "id", "community", "k"
            ).persist()
        else:
            state = barrier(
                st_k.repartition(n_part, "id"),
                reset_stats=True,
                preserve_partitioning=True,
            ).withColumn("community", F.col("id")).select("id", "community", "k")
    else:
        st_k = _with_k(state, _k_table(e))
        if small:
            state = st_k.persist()
        else:
            state = barrier(
                st_k.repartition(n_part, "id"),
                reset_stats=True,
                preserve_partitioning=True,
            )
    improved = False
    q_prev: float | None = None
    q_after: float | None = None
    e_own_final = 0.0
    # Round structure (ONE Spark action per round): the move barrier's
    # materialization also carries the Q scalar of the PRE-move state
    # via two Observations — Σ own-community weight summed over the aug
    # rows and Σ tot² on the comm build side — so the former separate
    # per-round _q_from_aggregates action (and the aug/comm persist it
    # required) is gone. When the observed gain says "stop"
    # (gain < min_gain) the already-materialized moved state is simply
    # discarded: executed moves, stop round, metrics, and labels are
    # IDENTICAL to the measure-then-move loop. The observed sums add
    # only exact-identity 0.0 terms, so Q stays exact for
    # integer-valued weights (determinism note in the module docstring).
    for rnd in range(max_rounds):
        obs_aug = Observation()
        obs_comm = Observation()
        aug, _comm = _round_tables(
            e, state, small, n_part, persist=False, salted=salted,
            comm_obs=obs_comm, aug_obs=obs_aug, frontier=frontier,
        )
        new_state = barrier(
            _apply_moves(state, aug, m, None, small),
            reset_stats=True,
            preserve_partitioning=not small,
        )
        e_own_final = float(obs_aug.get["eo"] or 0.0) + self_total
        tot_sq = float(obs_comm.get["ts"] or 0.0)
        q_cur = e_own_final / (2.0 * m) - tot_sq / (4.0 * m * m)
        if rnd == 0:
            q_prev = q_cur  # Q before any move this level
        else:
            gain = q_cur - q_prev
            q_prev = q_cur
            metrics.append({"level": level, "round": rnd - 1, "q": q_cur, "gain": gain})
            if gain > 0:
                improved = True
            if gain < min_gain:
                q_after = q_cur
                release(new_state)
                break
        release(state)
        state = new_state
    if q_after is None:
        # exited via max_rounds: score the final state once
        aug, comm = _round_tables(e, state, small, n_part, salted=salted)
        q_after, e_own_final = _q_from_aggregates(aug, comm, m, self_total)
        aug.unpersist()
        comm.unpersist()
        if q_prev is not None and max_rounds > 0:
            gain = q_after - q_prev
            metrics.append(
                {"level": level, "round": max_rounds - 1, "q": q_after, "gain": gain}
            )
            if gain > 0:
                improved = True
    return state, improved, q_after, e_own_final


def _dense_communities(
    state: DataFrame, num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """A6: dense renumber by ascending community id (GPU exclusive-scan
    ordering, ``community_aggregation.cu:267-273`` — a PARALLEL scan in
    the reference, and a distributed range-partition + offset scheme
    here; no single-partition sort). ``num_partitions`` lets the caller
    size the range partitioning to the key count (the contraction loop
    passes ~1M keys/partition — post-contraction levels are tiny and a
    full-width range shuffle there is pure scheduling overhead).
    Returns ((community, cid) eagerly materialized, distinct community
    count)."""
    return dense_ids(
        state, "community", out_col="cid", num_partitions=num_partitions
    )


def hierarchy_frame(spark: SparkSession, hier_levels) -> DataFrame:
    """run_local_complete's per-level (level, nodes, dense) rows as ONE
    (level, node, community) frame."""
    return local.frame(
        spark, "level int, node long, community long",
        level=np.concatenate(
            [np.full(len(nodes), lvl, dtype=np.int32) for lvl, nodes, _ in hier_levels]
        ),
        node=np.concatenate([nodes for _, nodes, _ in hier_levels]),
        community=np.concatenate([dense for _, _, dense in hier_levels]),
    )


def _louvain_full_local(
    spark: SparkSession,
    e: DataFrame,
    vertices: DataFrame | None,
    m: float,
    min_gain: float,
    max_rounds: int,
    max_levels: int,
    init_partition: DataFrame | None,
    frontier: DataFrame | None,
    vertices_exact: bool,
    metrics: list[dict],
) -> LouvainResult:
    """Collect the (guarded-small) graph and run the complete level
    loop on the driver (louvain_local.run_local_complete) — the
    full-local fast path's plumbing: Arrow collects in, two Arrow
    createDataFrames out (ONE hierarchy frame instead of a per-level
    union — the per-level createDataFrame chain measured ~2s of pure
    driver serialization at 11 levels). The vertex set is the edge
    endpoints plus ``vertices`` — no second run of the caller's
    distinct. Labels/hierarchy/Q/levels/metrics identical to the
    distributed loop (equivalence-tested)."""
    from linkgraph.operators.louvain_local import run_local_complete

    def ids_of(df: DataFrame) -> np.ndarray:
        return df.select(F.col("id").cast("long")).toPandas()["id"].to_numpy(np.int64)

    src, dst, w = local.collect_edges(e)
    init = None
    if init_partition is not None:
        ipdf = init_partition.select(
            F.col("id").cast("long").alias("id"),
            F.col("community").cast("long").alias("community"),
        ).toPandas()
        iid = ipdf["id"].to_numpy(np.int64)
        ic = ipdf["community"].to_numpy(np.int64)
    if init_partition is not None and vertices_exact:
        # vertices_exact contract: init covers the vertex set exactly —
        # it IS the vertex list (skips one collect)
        vert_ids = iid
        init = (iid, ic)
    else:
        parts = [src, dst] + ([ids_of(vertices)] if vertices is not None else [])
        vert_ids = np.unique(np.concatenate(parts))
        if init_partition is not None:
            # fallback labels offset past max(init community) — the
            # distributed loop's coalesce(community, id + offset)
            offset = int(ic.max()) + 1 if len(ic) else 0
            order = np.argsort(iid, kind="stable")
            pos, hit = local.index_of(iid[order], vert_ids)
            labels = vert_ids + offset
            labels[hit] = ic[order][pos[hit]]
            init = (vert_ids, labels)
    hier_levels, (ids, comm), q_final, levels_done, m_local = run_local_complete(
        (src, dst, w), vert_ids, m, min_gain, max_rounds, max_levels,
        init=init,
        frontier=ids_of(frontier) if frontier is not None else None,
        force=init_partition is not None,
    )
    metrics.extend(m_local)
    hierarchy = hierarchy_frame(spark, hier_levels)
    assignment = local.frame(
        spark, "id long, community long", id=ids, community=comm
    )
    return LouvainResult(
        assignment=assignment,
        hierarchy=hierarchy,
        modularity=q_final,
        levels=levels_done,
        metrics=metrics,
    )


def louvain(
    spark: SparkSession,
    edges: DataFrame,
    min_gain: float = 1e-6,
    max_rounds_per_level: int = MAX_ROUNDS_PER_LEVEL,
    max_levels: int = MAX_LEVELS,
    init_partition: DataFrame | None = None,
    frontier: DataFrame | None = None,
    vertices: DataFrame | None = None,
    vertices_exact: bool = False,
    n_vertices: int | None = None,
    broadcast_threshold: int = 5_000_000,
    salt_hubs: bool | None = None,
    hub_degree_threshold: int = 1_000_000,
    pre_partitioned: bool = False,
    local_threshold: int | None = None,
    local_edge_cap: int | None = None,
) -> LouvainResult:
    """Run multi-level Louvain on a symmetric weighted edge table
    (both directions present, self-loops once — graph.build.build_graph
    output). Returns dense community labels at original vertex ids.

    init_partition: optional (id, community) warm start (dynamic layer).
    frontier: optional (id) — level-0 moves restricted to these vertices
    (delta-screening's R set). A warm-started run forces a second level
    even if the first showed no improvement (gpulouvain.cu:107-118).
    vertices: optional (id) — extra vertices to include even when
    isolated (the reference's CSR keeps degree-0 nodes in n2c; edge
    deletions can isolate nodes, which must keep a community).
    vertices_exact=True asserts ``vertices`` IS the complete vertex set
    (⊇ every edge endpoint) and that ``init_partition``, when given,
    covers it exactly — the per-call edge-endpoint distinct, the
    fallback-label max scan, and the init join are then skipped (the
    incremental loop's state invariantly satisfies both).
    n_vertices: known count of the exact vertex set (skips one count
    job; only honored with vertices_exact).
    salt_hubs: None (default) probes max degree once (big path only)
    and switches the A1 aggregation to the hub-safe combine-first
    shape above ``hub_degree_threshold`` (SURVEY.md §4 X2); labels
    identical either way.
    pre_partitioned=True: ``edges`` is already hash(src)-partitioned
    at the session partition count (the K1 bucketed layout) — the
    big path's one-time level-0 edge repartition is skipped (the
    gather joins along src, so the bucketing feeds it directly).
    local_threshold: once the graph at hand has at most this many
    vertices (and at most ``local_edge_cap`` edge rows), the level
    loop runs on the driver (operators/louvain_local.py — same
    synchronous schedule and scaled-integer algebra,
    labels/Q/levels/metrics identical, tested) instead of paying ~12
    fixed-overhead Spark jobs per level; the reference runs the whole
    optimization on one device (gpulouvain.cu), so this is the
    faithful hybrid. Applies at level 0 too (warm starts and
    frontiers included — run_local_complete replays both exactly)
    when the INPUT graph is already under the guards, and otherwise
    to the first post-contraction quotient that fits. 0 disables
    (pure distributed — the plan-audit configuration); None (default)
    reads the small-graph guard in plans/local.py (50,000 vertices).
    local_edge_cap: second fast-path guard — the quotient must also
    have at most this many edge ROWS before it is collected (a 50k-
    supernode quotient of a 100-TB graph can still carry hundreds of
    millions of inter-community edges; vertex count alone does not
    bound the collect). The row count is one cheap job over the
    already-materialized quotient; over the cap the level runs
    distributed and the guard re-checks after the next contraction.
    None (default) reads plans/local.py (5,000,000 rows).
    """
    # pre_partitioned inputs are already materialized by the caller
    # (a persisted bucketed-table read, or the incremental loop's
    # barriered graph version) — caching the projection again would
    # duplicate 100%-of-graph memory per call
    e = _normalize(edges)
    if not pre_partitioned:
        e = e.persist()
    # one scan for the total weight (M, utils.cu:114), the level-0
    # self-loop total (a per-level constant of the Q scalar — the
    # 0.0-otherwise terms are exact identities, so both sums equal
    # the former separate filter+sum scans bit-for-bit), AND the edge
    # row count (feeds the full-local fast-path guard with no extra
    # job)
    trow = e.agg(
        F.sum("weight").alias("tw"),
        F.sum(
            F.when(F.col("src") == F.col("dst"), F.col("weight")).otherwise(0.0)
        ).alias("sl"),
        F.count(F.lit(1)).alias("cnt"),
    ).first()
    total_weight = trow["tw"] or 0.0
    self_total0 = float(trow["sl"] or 0.0)
    n_edge_rows = int(trow["cnt"] or 0)
    m = float(total_weight) / 2.0
    if vertices is not None and vertices_exact:
        verts = vertices.select(F.col("id").cast("long"))
        n = n_vertices if n_vertices is not None else verts.count()
    else:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        if vertices is not None:
            verts = verts.unionByName(
                vertices.select(F.col("id").cast("long"))
            ).distinct()
        n = verts.count()
    small = n <= broadcast_threshold
    salted = False
    if not small:
        if salt_hubs is None:
            # two-term probe: absolute degree AND reducer row share
            # (see pagerank.py)
            prow = (
                e.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .agg(F.max("d").alias("mx"), F.sum("d").alias("tot"))
                .first()
            )
            max_deg = int(prow["mx"] or 0)
            rows_per_reducer = float(prow["tot"] or 0) / max(
                int(spark.conf.get("spark.sql.shuffle.partitions")), 1
            )
            salted = (
                max_deg > hub_degree_threshold
                and max_deg > rows_per_reducer / 4.0
            )
        else:
            salted = salt_hubs
    metrics: list[dict] = []

    if m == 0.0:
        # Edgeless graph (possible mid-stream: a deletion batch can
        # remove every edge): every vertex its own dense community,
        # modularity 0 — no division by M anywhere.
        if not pre_partitioned:
            e.unpersist()
        dense, _ = _dense_communities(
            verts.select(F.col("id").alias("community")),
            num_partitions=max(1, n // 1_000_000 + 1),
        )
        assignment = dense.select(
            F.col("community").alias("id"), F.col("cid").alias("community")
        )
        hierarchy = assignment.select(
            F.lit(0).alias("level"), F.col("id").alias("node"), F.col("community")
        )
        return LouvainResult(
            assignment=assignment, hierarchy=hierarchy, modularity=0.0,
            levels=0, metrics=metrics,
        )

    if small and local.fits(n, n_edge_rows, local_threshold, local_edge_cap):
        # full-local fast path (level 0 included): the doubly-guarded
        # collect (vertex threshold AND edge-row cap — the same guards
        # as the post-contraction fast path below) runs the ENTIRE
        # level loop on the driver, warm starts and frontiers
        # included. The reference runs the whole optimization on one
        # device (gpulouvain.cu); at these sizes ~12 fixed-overhead
        # Spark jobs per level dominate wall time on ANY cluster, so
        # collecting ~n_edge_rows rows once and replaying the exact
        # operator algebra locally is the honest plan — labels, Q,
        # levels and metrics are IDENTICAL to the distributed path
        # (tests/test_louvain.py fast-path equivalence suite). Over
        # either guard the distributed path below runs unchanged.
        res = _louvain_full_local(
            spark, e, vertices, m, min_gain, max_rounds_per_level,
            max_levels, init_partition, frontier,
            vertices_exact=vertices is not None and vertices_exact,
            metrics=metrics,
        )
        if not pre_partitioned:
            e.unpersist()
        return res

    if init_partition is not None:
        init = init_partition.select(
            "id", F.col("community").cast("long").alias("community")
        )
        if vertices is not None and vertices_exact:
            # init covers the exact vertex set (vertices_exact
            # contract): no fallback labeling, no max scan, no join
            state = init
        else:
            # Fallback labels for vertices the warm start doesn't cover
            # must not collide with its (often dense 0..k) labels:
            # offset past max(init community), as seed_new_nodes does.
            max_c = init.agg(F.max("community")).first()[0]
            offset = int(max_c) + 1 if max_c is not None else 0
            state = verts.join(init, "id", "left").select(
                "id",
                F.coalesce("community", F.col("id") + F.lit(offset)).alias(
                    "community"
                ),
            )
        identity = False
    else:
        # singleton start: community := id is attached INSIDE
        # _one_level after its checkpoint (the alias-remap trap)
        state = verts.select("id")
        identity = True

    orig_map = verts.select(F.col("id").alias("orig"), F.col("id").alias("node"))
    # onceMore = initPart: a warm start forces contraction + a second
    # level even when level 0 shows no improvement (gpulouvain.cu:107-117)
    force = init_partition is not None
    hierarchy_rows: list[DataFrame] = []
    q_final = 0.0
    levels_done = 0
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # big path: src-partition the edge table once per level so the
    # per-round gather join never re-exchanges the edge side
    # (preserve_partitioning: a plain AQE-era checkpoint would lose the
    # hash partitioning and the repartition would buy nothing). With
    # pre_partitioned the K1 bucketed layout already provides
    # hash(src) — zero initial exchange.
    cur_edges = (
        e
        if small or pre_partitioned
        else barrier(
            e.repartition(n_part, "src"),
            reset_stats=True,
            preserve_partitioning=True,
        )
    )
    cur_state = state
    cur_frontier = frontier
    # level-0 vertex count; each contraction sets the next level's
    # vertex count to its community count (no distinct().count() jobs)
    n_nodes = n
    next_self: float | None = self_total0
    for level in range(max_levels):
        # edge-row guard: the quotient is a materialized barrier, so
        # its count is one cheap job; see local_edge_cap doc
        if level > 0 and local.fits(
            n_nodes, cur_edges, local_threshold, local_edge_cap
        ):
            # small-quotient fast path: post-contraction levels start
            # from singletons with no frontier, so the collected
            # quotient (dense ids 0..n_nodes-1 by the contraction
            # invariant) fully determines the rest of the run
            from linkgraph.operators.louvain_local import run_local_levels

            level_maps, q_final, lv_local, m_local = run_local_levels(
                local.collect_edges(cur_edges), n_nodes, m, min_gain,
                max_rounds_per_level, max_levels - level, level,
            )
            metrics.extend(m_local)
            levels_done = level + lv_local
            comp: dict[int, int] | None = None
            for li, dense_map in enumerate(level_maps):
                hierarchy_rows.append(
                    spark.createDataFrame(
                        [(level + li, int(nd), int(c)) for nd, c in dense_map.items()],
                        "level int, node long, community long",
                    )
                )
                comp = (
                    dict(dense_map)
                    if comp is None
                    else {o: dense_map[n] for o, n in comp.items()}
                )
            if comp is not None:
                comp_df = F.broadcast(
                    spark.createDataFrame(
                        [(int(o), int(c)) for o, c in comp.items()],
                        "node long, final long",
                    )
                )
                orig_map = barrier(
                    orig_map.join(comp_df, "node").select(
                        "orig", F.col("final").alias("node")
                    ),
                    reset_stats=True,
                )
            if cur_edges is not e:
                release(cur_edges)
            cur_edges = e  # poison-proof: nothing below runs after break
            break
        cur_state, improved, q_final, e_own_final = _one_level(
            spark,
            cur_edges,
            cur_state,
            m,
            min_gain,
            max_rounds_per_level,
            cur_frontier,
            small,
            metrics,
            level,
            self_total=next_self,
            identity=identity,
            salted=salted,
        )
        identity = True  # post-contraction levels start from singletons
        levels_done = level + 1
        if not improved and not force:
            break  # reference breaks BEFORE contraction (gpulouvain.cu:111-117)
        force = False

        # A6: dense renumber by ascending community id (the dense-id
        # builder already knows the distinct-community count); range
        # partitions sized to the key count — at most n_nodes keys
        dense_raw, n_comms = _dense_communities(
            cur_state, num_partitions=max(1, min(n_part, n_nodes // 1_000_000 + 1))
        )
        dense = F.broadcast(dense_raw) if small else dense_raw
        state_dense = cur_state.join(dense, "community").select(
            "id", F.col("cid").alias("community")
        )
        if not small:
            state_dense = barrier(state_dense)
        # small path: state_dense stays lazy — its three consumers
        # (hierarchy row, orig_map composition, contraction maps) each
        # recompute one broadcast join of two already-materialized tiny
        # frames, cheaper than a dedicated checkpoint job per level
        hierarchy_rows.append(
            state_dense.select(
                F.lit(level).alias("level"),
                F.col("id").alias("node"),
                F.col("community"),
            )
        )
        # A8/J7: compose original -> current community (barriered with
        # reset stats: a lazy multi-level join chain re-triggers the
        # Catalyst sizeInBytes blowup and costs more than the job saves)
        orig_map = barrier(
            orig_map.join(state_dense, orig_map.node == state_dense.id).select(
                "orig", F.col("community").alias("node")
            ),
            reset_stats=True,
        )
        if n_comms == n_nodes:
            break  # identity contraction: the next level cannot differ
        n_nodes = n_comms
        # the quotient graph's self-loop total = this level's final
        # intra-community weight (already measured by the Q scalar)
        next_self = e_own_final

        # A7: contract to the quotient graph
        from linkgraph.graph.hierarchy import contract_graph

        contracted = contract_graph(cur_edges, state_dense, broadcast_maps=small)
        if not small:
            contracted = contracted.repartition(n_part, "src")
        nxt = barrier(
            contracted,
            reset_stats=not small,
            preserve_partitioning=not small,
        )
        if cur_edges is not e:
            release(cur_edges)
        cur_edges = nxt
        # next-level vertex set = ALL communities (0..n_comms-1), so
        # isolated communities survive the contraction (as in the
        # reference, where the quotient CSR keeps every community id);
        # community := id attaches inside _one_level (identity start)
        cur_state = dense.select(F.col("cid").alias("id"))
        cur_frontier = None  # frontier applies to level 0 only

    if not hierarchy_rows:
        # degenerate: no level improved and no warm start — every vertex
        # its own (dense) community
        dense, _ = _dense_communities(
            cur_state, num_partitions=max(1, min(n_part, n_nodes // 1_000_000 + 1))
        )
        state_dense = cur_state.join(dense, "community").select(
            "id", F.col("cid").alias("community")
        )
        hierarchy_rows.append(
            state_dense.select(
                F.lit(0).alias("level"), F.col("id").alias("node"), F.col("community")
            )
        )
        orig_map = orig_map.join(state_dense, orig_map.node == state_dense.id).select(
            "orig", F.col("community").alias("node")
        )

    hierarchy = hierarchy_rows[0]
    for h in hierarchy_rows[1:]:
        hierarchy = hierarchy.unionByName(h)
    assignment = orig_map.select(F.col("orig").alias("id"), F.col("node").alias("community"))
    if not pre_partitioned:
        e.unpersist()
    return LouvainResult(
        assignment=assignment,
        hierarchy=hierarchy,
        modularity=q_final,
        levels=levels_done,
        metrics=metrics,
    )
