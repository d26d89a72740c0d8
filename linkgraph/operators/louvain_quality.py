"""Generalized Louvain: the same multi-level synchronous-round engine
driven by ANY of the reference's 10 quality functions (SURVEY.md §2.I,
-q id in the reference CLI — factory at src/main_louvain.cpp:998-1059).

Differences from operators.louvain (the GPU-exact default, id 0):
* gain = the CPU comparison formula of the selected metric
  (functions/quality.py, transcribed from the reference headers) with
  the CPU's remove-then-evaluate semantics: the node's own community
  is evaluated with the node removed (tot/w_c/in adjusted), and a move
  happens only if best-candidate gain > max(own gain, 0) — mirroring
  the CPU loop's best_increase init (src/louvain.cpp:413-428).
* convergence = moves count per synchronous round (the scalar the
  reference's pass loop uses, src/louvain.cpp:458-460); the metric's
  full quality() value is computed at every level boundary (the scalar
  the reference prints per pass) and recorded in metrics.
* node weights (nodes_w, src/graph_binary.h:67) are tracked across
  contractions — several metrics (Zahn/OwZad/Goldberg/DevInd/DevUni/
  DP/BalMod) depend on them.
* the W3 swap guard is kept: synchronous rounds need it regardless of
  metric (documented divergence from the sequential CPU loop).

Reference driver preprocessing reproduced here
(main_louvain.cpp:1000-1060, applied at nbc == 0 — level 0 — only):
* max_w (Graph::max_weight) is computed ONCE at level 0 and reused at
  every contracted level (contraction inflates weights; recomputing
  would change Zahn/OwZad/Goldberg/DP/BalMod semantics).
* CondorA (4): add_selfloops, then CondorA::graph_weighting; the side
  scalar sum_se feeds quality().
* DP (7): max_w from the ORIGINAL weights, then DP::graph_weighting;
  the side scalar sum_sq feeds quality().
* ShiMalik (8): kappa (live non-empty-community count) gates the gain
  at kappa < kappa_min; here kappa is the count at round start (the
  sequential CPU updates it mid-scan — a documented synchronous-round
  divergence), recomputed only when the gate can fire (kappa_min > 1).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkgraph.functions.quality import (
    GAIN_FUNCTIONS,
    QualityInputs,
    graph_weighting,
    quality_value,
)
from linkgraph.graph.hierarchy import add_selfloops, contract_graph
from linkgraph.operators.louvain import _dense_communities, _k_table
from linkgraph.plans import local
from linkgraph.plans.superstep import barrier, release


@dataclass
class GeneralizedLouvainResult:
    assignment: DataFrame
    levels: int
    quality_id: int
    quality: float = 0.0
    metrics: list[dict] = field(default_factory=list)


def _gain(qid: int, q: QualityInputs, params: dict) -> F.Column:
    name, fn = GAIN_FUNCTIONS[qid]
    if qid == 2:
        return fn(q, alpha=params.get("alpha", 0.5))
    if qid == 8:
        return fn(q, kappa=params.get("kappa", 1.0), kappa_min=params.get("kappa_min", 0.0))
    return fn(q)


def _round_core(
    e: DataFrame,
    per_node: DataFrame,
    small: bool,
    n_part: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared per-round frames over the FOLDED state ``per_node``
    (id, community, k, w_u, self_w — hash(id)-partitioned on the big
    path): ``joined`` (vid, c_dst, w, cur, k, w_u, self_w) — one row
    per (vertex, neighboring community) from the round's SINGLE gather
    — and ``comm`` (community, tot, w_c, csize, in_c).

    in_c = Σ_v e(v->C(v)) + Σ member self-loops (= the reference
    in[c]: every symmetric intra-community row counted once plus
    self-loops) — derived from the gather output instead of the former
    second edge double-join, so the edge table is scanned/joined
    exactly ONCE per round. Big path: e must be src-partitioned (the
    per-level checkpoint, or the K1 bucketed layout directly); the
    gather joins labels along the co-located SRC endpoint and scores
    the DST endpoint (aliased back to "src" — identical multiset per
    vertex on the symmetric input), the A1 aggregation repartitions
    onto the scored vertex, and the w_vc⋈per_node join is an
    exchange-free shuffle-hash join (plan-audited)."""
    labels = per_node.select(
        F.col("id").alias("nid"), F.col("community").alias("c_dst")
    )
    labels = F.broadcast(labels) if small else labels.hint("shuffle_hash")
    gather = (
        e.filter(F.col("src") != F.col("dst"))
        .join(labels, e.src == F.col("nid"))
        .select(F.col("dst").alias("src"), "c_dst", "weight")
    )
    if not small:
        gather = gather.repartition(n_part, "src")
    w_vc = gather.groupBy("src", "c_dst").agg(F.sum("weight").alias("w"))

    st = F.broadcast(per_node) if small else per_node.hint("shuffle_hash")
    joined = w_vc.join(st, w_vc.src == st.id).select(
        F.col("src").alias("vid"),
        "c_dst",
        "w",
        F.col("community").alias("cur"),
        "k",
        "w_u",
        "self_w",
    )
    base = per_node.groupBy("community").agg(
        F.sum("k").alias("tot"),
        F.sum("w_u").alias("w_c"),
        F.count(F.lit(1)).alias("csize"),
        F.sum("self_w").alias("sc"),
    )
    inc = (
        joined.filter(F.col("c_dst") == F.col("cur"))
        .groupBy(F.col("cur").alias("community"))
        .agg(F.sum("w").alias("iw"))
    )
    comm = (
        base.join(inc, "community", "left")
        .withColumn("in_c", F.coalesce("iw", F.lit(0.0)) + F.col("sc"))
        .select("community", "tot", "w_c", "csize", "in_c")
    )
    return joined, comm


def _move_round_q(
    e: DataFrame,
    per_node: DataFrame,
    qid: int,
    params: dict,
    m2: float,
    n: float,
    max_w: float,
    small: bool,
    n_part: int,
    moves_obs: Observation | None = None,
) -> DataFrame:
    """One synchronous move round over the folded state; returns the
    NEW folded state (id, community, old_community, k, w_u, self_w).

    Structure is the id-0 union/argmax shape (operators.louvain
    ``_round_tables``/``_apply_moves``): candidate rows and one
    synthetic own row per vertex (w = 0.0; the REAL own-community rows
    of the gather carry e(v->C(v))) are unioned, joined ONCE with the
    community table on c_dst, and a single groupBy(vid) extracts the
    two swap-guard argmaxes (W3) AND the own-community aggregates; the
    own-gain formula (CPU remove-then-evaluate semantics,
    src/louvain.cpp:413-428) is then evaluated on the aggregated
    scalars — the same expression tree over the same values as the
    former per-row form, so decisions are float-identical. The update
    join is exchange-free on the big path (best hash(vid) from the
    groupBy ⋈ per_node hash(id)).

    moves_obs: optional Observation — number of label changes, observed
    during whatever action materializes the result (saves the separate
    per-round count job)."""
    joined, comm = _round_core(e, per_node, small, n_part)
    own_rows = per_node.select(
        F.col("id").alias("vid"),
        F.col("community").alias("c_dst"),
        F.lit(0.0).alias("w"),
        F.col("community").alias("cur"),
        "k",
        "w_u",
        "self_w",
    )
    comm_j = comm.select(
        F.col("community").alias("c_dst"),
        F.col("tot").alias("tot_c"),
        F.col("w_c").alias("w_cc"),
        F.col("csize").alias("size_c"),
        F.col("in_c").alias("in_cc"),
    )
    comm_j = F.broadcast(comm_j) if small else comm_j.hint("shuffle_hash")
    aug = (
        joined.unionByName(own_rows)
        .join(comm_j, "c_dst")
        .withColumn("is_own", F.col("c_dst") == F.col("cur"))
    )

    q_cand = QualityInputs(
        dnc=F.col("w"),
        degc=F.col("k"),
        tot_c=F.col("tot_c"),
        in_c=F.col("in_cc"),
        self_v=F.col("self_w"),
        w_u=F.col("w_u"),
        w_c=F.col("w_cc"),
        m2=m2,
        n=n,
        max_w=max_w,
    )
    gain = _gain(qid, q_cand, params)
    is_cand = ~F.col("is_own")
    # W3 swap guard as two filtered argmaxes chosen by the own row's
    # size (the guard needs the own community's size, which lives on a
    # different row of the group)
    strict_ok = is_cand & ((F.col("c_dst") < F.col("cur")) | (F.col("size_c") > 1))
    val = F.struct(F.col("c_dst").alias("bc"), gain.alias("bg"))
    ordr = F.struct(gain.alias("g"), (-F.col("c_dst")).alias("negc"))
    best = aug.groupBy("vid").agg(
        F.max_by(val, F.when(strict_ok, ordr)).alias("b_strict"),
        F.max_by(val, F.when(is_cand, ordr)).alias("b_any"),
        F.sum(F.when(F.col("is_own"), F.col("w")).otherwise(0.0)).alias("e_own"),
        F.max(F.when(F.col("is_own"), F.col("tot_c"))).alias("tot_cur"),
        F.max(F.when(F.col("is_own"), F.col("w_cc"))).alias("w_c_cur"),
        F.max(F.when(F.col("is_own"), F.col("size_c"))).alias("size_cur"),
        F.max(F.when(F.col("is_own"), F.col("in_cc"))).alias("in_cur"),
        F.max("k").alias("k"),
        F.max("w_u").alias("w_u"),
        F.max("self_w").alias("self_w"),
    )
    # own-community gain with the node removed (CPU remove() semantics)
    q_own = QualityInputs(
        dnc=F.col("e_own"),
        degc=F.col("k"),
        tot_c=F.col("tot_cur") - F.col("k"),
        in_c=F.col("in_cur") - (F.lit(2.0) * F.col("e_own") + F.col("self_w")),
        self_v=F.col("self_w"),
        w_u=F.col("w_u"),
        w_c=F.col("w_c_cur") - F.col("w_u"),
        m2=m2,
        n=n,
        max_w=max_w,
    )
    sel = best.select(
        "vid",
        F.when(F.col("size_cur") > 1, F.col("b_any"))
        .otherwise(F.col("b_strict"))
        .alias("b"),
        F.greatest(_gain(qid, q_own, params), F.lit(0.0)).alias("own_gain"),
    )
    if not small:
        sel = sel.hint("shuffle_hash")
    out = per_node.join(sel, per_node.id == F.col("vid"), "left").select(
        per_node.id,
        F.when(
            F.col("b").isNotNull()
            & (F.col("b.bg") > F.coalesce(F.col("own_gain"), F.lit(0.0))),
            F.col("b.bc"),
        )
        .otherwise(per_node.community)
        .alias("community"),
        per_node.community.alias("old_community"),
        per_node.k,
        per_node.w_u,
        per_node.self_w,
    )
    if moves_obs is not None:
        out = out.observe(
            moves_obs,
            F.sum(
                (F.col("community") != F.col("old_community")).cast("long")
            ).alias("mv"),
        )
    return out


def louvain_generalized(
    spark: SparkSession,
    edges: DataFrame,
    quality_id: int = 0,
    params: dict | None = None,
    max_rounds_per_level: int = 50,
    max_levels: int = 10,
    broadcast_threshold: int = 5_000_000,
    pre_partitioned: bool = False,
    local_threshold: int | None = None,
    local_edge_cap: int | None = None,
) -> GeneralizedLouvainResult:
    """Multi-level Louvain under quality function ``quality_id`` (0-9,
    the reference's -q ids). Level-0 preprocessing (self-loop injection
    + graph_weighting for CondorA/DP, one-time max_w) is applied
    internally, matching the reference driver's call order
    (main_louvain.cpp:1022-1045); add_selfloops is idempotent, so
    callers that already injected loops are unaffected.
    pre_partitioned=True: ``edges`` is already hash(src)-partitioned
    at the session partition count (the K1 bucketed layout) — the big
    path's one-time level-0 repartition is skipped. NOTE: ids 4/7
    reweight/extend the edge table at level 0 (graph_weighting /
    add_selfloops), which invalidates the layout; the flag is ignored
    for those ids.
    local_threshold / local_edge_cap: the id-0 small-quotient fast
    path (operators.louvain same-named args), generalized — once a
    POST-CONTRACTION quotient has at most local_threshold vertices AND
    at most local_edge_cap edge rows, the remaining levels run on the
    driver (operators/louvain_quality_local.py: same synchronous
    schedule, same gain expression trees — labels/quality/levels/
    metrics identical for the integer-weight ids, tested; ids 4/7 land
    inside the distributed path's own float-order ULP envelope, see
    that module's docstring). 0 disables (pure distributed — the
    plan-audit configuration); None (default) reads the small-graph
    guard in plans/local.py. Level 0 always runs distributed."""
    params = dict(params or {})
    e = edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        F.coalesce(F.col("weight"), F.lit(1.0)).cast("double").alias("weight"),
    )
    # ids 4/7 rebuild the edge table at level 0 (graph_weighting /
    # add_selfloops) — any caller-provided layout is gone afterwards
    pre_partitioned = pre_partitioned and quality_id not in (4, 7)
    side = 0.0
    max_w = 1.0
    if quality_id == 7:
        # DP: max_weight from the ORIGINAL weights, then reweight
        max_w = float(e.agg(F.max("weight")).first()[0] or 1.0)
        e, side = graph_weighting(e, 7)
    elif quality_id == 4:
        e = add_selfloops(e)
        e, side = graph_weighting(e, 4)
    e = e.persist()
    m2 = float(e.agg(F.sum("weight")).first()[0] or 0.0)
    if quality_id not in (4, 7):
        max_w = float(e.agg(F.max("weight")).first()[0] or 1.0)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = float(verts.count())  # sum_nodes_w with unit node weights
    small = n <= broadcast_threshold
    metrics: list[dict] = []

    if m2 == 0.0:
        # edgeless graph: every vertex its own dense community
        e.unpersist()
        dense, _ = _dense_communities(verts.select(F.col("id").alias("community")))
        assignment = dense.select(
            F.col("community").alias("id"), F.col("cid").alias("community")
        )
        return GeneralizedLouvainResult(
            assignment=assignment, levels=0, quality_id=quality_id,
            quality=0.0, metrics=metrics,
        )

    kappa_min = params.get("kappa_min", 0.0)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # big path: src-partition the edge table once per level (the id-0
    # machinery) so no round ever re-exchanges the edge side; with
    # pre_partitioned the K1 bucketed layout already provides hash(src)
    cur_edges = (
        e
        if small or pre_partitioned
        else barrier(
            e.repartition(n_part, "src"),
            reset_stats=True,
            preserve_partitioning=True,
        )
    )
    ids = verts.select("id")
    node_w = verts.select("id", F.lit(1.0).alias("w_u"))
    orig_map = verts.select(F.col("id").alias("orig"), F.col("id").alias("node"))
    levels_done = 0
    n_nodes = int(n)  # per-level vertex count, updated by contraction
    q_final = 0.0
    for level in range(max_levels):
        # edge-row guard: the quotient is a materialized barrier, so
        # its count is one cheap job (id-0 local_edge_cap doc)
        if level > 0 and local.fits(
            n_nodes, cur_edges, local_threshold, local_edge_cap
        ):
            # small-quotient fast path: post-contraction levels start
            # from singletons, so the collected quotient (dense ids
            # 0..n_nodes-1 by the contraction invariant) plus the
            # carried node weights fully determine the rest of the run
            from linkgraph.operators.louvain_quality_local import (
                run_local_levels_q,
            )

            rows = cur_edges.select("src", "dst", "weight").collect()
            nw_rows = [(r["id"], r["w_u"]) for r in node_w.collect()]
            level_maps, q_final, lv_local, m_local = run_local_levels_q(
                rows, nw_rows, n_nodes, quality_id, params,
                m2, n, max_w, side, max_rounds_per_level,
                max_levels - level, level,
            )
            metrics.extend(m_local)
            levels_done = level + lv_local
            comp: dict[int, int] | None = None
            for dense_map in level_maps:
                comp = (
                    dict(dense_map)
                    if comp is None
                    else {o: dense_map[nd] for o, nd in comp.items()}
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
        # fold the level's per-vertex constants ONCE (id-0 pattern); on
        # the big path the folded state is checkpointed
        # hash(id)-partitioned and KEPT so across every round barrier
        # (combined reset-stats + preserve mode), so the gather/update
        # joins are exchange-free all level long. Every level starts
        # from singletons (community := id) — attached AFTER the
        # checkpoint (the duplicate-alias trap, plans/superstep.py).
        k_df = _k_table(cur_edges)
        self_df = (
            cur_edges.filter(F.col("src") == F.col("dst"))
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("weight").alias("self_w"))
        )
        bare = (
            ids.join(k_df, "id", "left")
            .join(node_w, "id", "left")
            .join(self_df, "id", "left")
            .select(
                "id",
                F.coalesce("k", F.lit(0.0)).alias("k"),
                F.coalesce("w_u", F.lit(1.0)).alias("w_u"),
                F.coalesce("self_w", F.lit(0.0)).alias("self_w"),
            )
        )
        if small:
            per_node = bare.withColumn("community", F.col("id")).select(
                "id", "community", "k", "w_u", "self_w"
            ).persist()
            pn_src = per_node  # the releasable (persisted/barriered) frame
        else:
            pn_src = barrier(
                bare.repartition(n_part, "id"),
                reset_stats=True,
                preserve_partitioning=True,
            )
            per_node = pn_src.withColumn("community", F.col("id")).select(
                "id", "community", "k", "w_u", "self_w"
            )
        moved_any = False
        for rnd in range(max_rounds_per_level):
            _t0 = time.perf_counter()
            if quality_id == 8 and kappa_min > 1:
                # live kappa at round start (see module docstring)
                params["kappa"] = float(
                    per_node.filter(F.col("k") > 0.0)
                    .select("community")
                    .distinct()
                    .count()
                )
            obs = Observation()
            new_state = barrier(
                _move_round_q(
                    cur_edges, per_node, quality_id, params,
                    m2, n, max_w, small, n_part, moves_obs=obs,
                ),
                reset_stats=True,
                preserve_partitioning=not small,
            )
            moves = int(obs.get["mv"] or 0)
            release(pn_src)
            pn_src = new_state
            per_node = new_state.select("id", "community", "k", "w_u", "self_w")
            metrics.append(
                {
                    "level": level,
                    "round": rnd,
                    "moves": moves,
                    "seconds": round(time.perf_counter() - _t0, 3),
                }
            )
            if moves == 0:
                break
            moved_any = True
        # the metric's quality() value at this level's fixpoint — the
        # scalar the reference prints each pass
        _, comm = _round_core(cur_edges, per_node, small, n_part)
        q_final = quality_value(
            comm, quality_id, m2, n, max_w,
            alpha=params.get("alpha", 0.5), side=side,
        )
        metrics.append({"level": level, "quality": q_final})
        levels_done = level + 1
        state = per_node.select("id", "community")
        if not moved_any:
            break
        dense_raw, n_comms = _dense_communities(
            state, num_partitions=max(1, min(n_part, n_nodes // 1_000_000 + 1))
        )
        dense = F.broadcast(dense_raw) if small else dense_raw
        state_dense = barrier(
            state.join(dense, "community").select("id", F.col("cid").alias("community"))
        )
        orig_map = barrier(
            orig_map.join(state_dense, orig_map.node == state_dense.id).select(
                "orig", F.col("community").alias("node")
            ),
            reset_stats=True,
        )
        if n_comms == n_nodes:
            break
        n_nodes = n_comms
        contracted = contract_graph(cur_edges, state_dense, broadcast_maps=small)
        if not small:
            contracted = contracted.repartition(n_part, "src")
        nxt = barrier(
            contracted,
            reset_stats=not small,
            preserve_partitioning=not small,
        )
        node_w = barrier(
            node_w.join(state_dense, "id")
            .groupBy(F.col("community").alias("id"))
            .agg(F.sum("w_u").alias("w_u"))
        )
        if cur_edges is not e:
            release(cur_edges)
        cur_edges = nxt
        # next level's vertex set = ALL community ids; community := id
        # is attached inside the level-start fold (identity start)
        ids = dense.select(F.col("cid").alias("id"))

    if cur_edges is not e:
        release(cur_edges)
    e.unpersist()
    assignment = orig_map.select(F.col("orig").alias("id"), F.col("node").alias("community"))
    return GeneralizedLouvainResult(
        assignment=assignment,
        levels=levels_done,
        quality_id=quality_id,
        quality=q_final,
        metrics=metrics,
    )
