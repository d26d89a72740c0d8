"""PageRank as checkpointed DataFrame supersteps.

The flagship query (BASELINE.json metric: edges-processed/sec per
superstep, convergence at per-vertex delta < 1e-6). Reuses the
reference's superstep skeleton (SURVEY.md §2.K): J2 state-gather join,
A2 degree normalization, X6 scalar-driven convergence loop.

Scale design — ONE exchange per superstep on the big path:
* ``edges_norm`` (edge weight / source out-weight) is computed ONCE,
  hash-partitioned on src and persisted (the CSR-style layout, K1).
* the state is kept hash-partitioned on id with the SAME partition
  count; ``barrier`` (localCheckpoint) preserves partitioning, so the
  edges⋈state join needs NO exchange on either side (shuffle-hash
  join, state partition as build side).
* the only per-superstep shuffle is the contribs groupBy(dst) — the
  inherent scatter of PageRank; its output is hash-partitioned on dst,
  which satisfies the state-update join's distribution, so that join
  is also exchange-free.
* below ``broadcast_threshold`` vertices the state is broadcast
  instead (small graphs / harness runs) — note a broadcast build is
  driver-serial, so the threshold is deliberately modest. A
  pre-partitioned input (the K1 bucketed layout) selects the
  co-partitioned plan regardless of size: the per-superstep broadcast
  rebuild costs more than the exchange-free shuffle-hash join from
  ~10^4 vertices up (measured), and it is the plan the layout exists
  for.
* hub skew on the dst-side aggregation is absorbed by map-side
  partial aggregation (sum is associative) + AQE; an explicit salted
  two-level aggregation is available for extreme in-degree skew
  (salt_hubs=True).
* one scalar action per superstep: per-vertex delta + next step's
  dangling mass in a single agg over the materialized new state.
"""

from __future__ import annotations

import math
import time

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkgraph.plans import local
from linkgraph.plans.superstep import SuperstepRunner


def _pagerank_local(
    spark: SparkSession,
    arrays,
    damping: float,
    tol: float,
    max_iter: int,
    chain: int | str,
    runner: SuperstepRunner | None,
) -> DataFrame:
    """The distributed recurrence on driver-held arrays: the same
    weighted transition p = w / out_w(src), the same uniform dangling
    redistribution and base term, one metrics row per superstep of
    ``chain`` iterations (1 unless an integer chain is given) with the
    convergence test on the superstep's last iteration pair."""
    src, dst, w = arrays
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    si, di = inv[: len(src)], inv[len(src):]
    out_w = np.bincount(si, weights=w, minlength=n)
    dangling = np.bincount(si, minlength=n) == 0
    p = w / out_w[si]
    k = max(1, chain) if isinstance(chain, int) else 1
    score = np.full(n, 1.0 / n)
    for i in range(max_iter):
        t0 = time.perf_counter()
        for _ in range(k):
            old = score
            base = (1.0 - damping) / n + damping * float(old[dangling].sum()) / n
            score = base + damping * np.bincount(di, weights=old[si] * p, minlength=n)
        delta = float(np.max(np.abs(score - old)))
        converged = delta < tol
        if runner is not None:
            runner.metrics.append(
                {
                    "run_id": runner.run_id,
                    "superstep": i,
                    "seconds": time.perf_counter() - t0,
                    "delta": delta,
                    "converged": converged,
                }
            )
        if converged:
            break
    return local.frame(spark, "id long, score double", id=ids, score=score)


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    broadcast_threshold: int = 1_000_000,
    salt_hubs: bool | None = None,
    n_salts: int = 8,
    hub_degree_threshold: int = 1_000_000,
    pre_partitioned: bool = False,
    checkpoint_dir: str | None = None,
    run_id: str = "pagerank",
    runner: SuperstepRunner | None = None,
    chain: int | str = "auto",
    chain_cap: int = 16,
    chain_probe_floor: float = 0.75,
) -> DataFrame:
    """Power iteration to ``max |score - score'| < tol``.

    edges: directed (src, dst, weight). Dangling vertices (no
    out-edges) redistribute their mass uniformly — the standard
    formulation, matched exactly by the NumPy oracle in tests.
    Returns (id:long, score:double).

    Tier: a graph within the small-graph guard of ``plans/local.py``
    (at most 50,000 vertices AND at most 5,000,000 edge rows, both
    read off the one vertex-count aggregation) is collected to the
    driver once and iterated in NumPy — the same recurrence, scores
    allclose 1e-6 to the distributed plan, the same iteration count,
    one ``runner.metrics`` row per superstep. Above the guard, or when
    the runner (or ``checkpoint_dir``) asks for durable checkpoints,
    the distributed superstep plan below runs: resuming from a
    checkpoint is what such a caller asked for. The planning knobs
    (salt_hubs, pre_partitioned, broadcast_threshold, chain="auto")
    only shape the distributed plan; an integer chain is honored by
    both tiers.

    salt_hubs: None (default) probes max in-degree once per call (one
    scan + agg, amortized over the iteration) and turns the salted
    two-level aggregation on automatically above
    ``hub_degree_threshold`` — the reference's degree-bucket idea
    (SURVEY.md §4 X2) as a data-driven default, so a Zipfian in-hub
    never lands on a single reducer. True/False skips the probe.

    pre_partitioned=True: the caller guarantees ``edges`` is already
    hash(src)-partitioned with the session's shuffle partition count —
    e.g. the K1 bucketed layout read via
    ``graph.build.read_adjacency_table`` — so the one-time
    edges_norm repartition is skipped (zero initial exchange;
    plan-audited).

    chain: power iterations per MATERIALIZED superstep (barrier-
    elision). Each runner superstep lazily composes ``chain``
    iterations into one Spark job — the per-job fixed cost (driver
    round trip, task scheduling, localCheckpoint, Observation fetch)
    is paid once per chain instead of once per iteration, which is
    the measured floor on small/contracted graphs (STATUS.md pages-
    spine profile) and a real win at scale too (fewer global barriers
    per convergence). Intermediate iterations fold the dangling mass
    in-plan as a broadcast 1-row scalar (exchange reuse makes the
    rescan free); the convergence test (max per-vertex delta < tol)
    is evaluated on the chain's LAST iteration pair, so a run may
    execute up to chain-1 iterations past convergence — same
    fixpoint criterion, coarser test granularity. An integer chain=k
    is the fixed schedule (chain=1 = the reference-exact
    per-iteration schedule and the plan-audit configuration);
    runner.max_iter counts CHAINS when chain > 1. Scores equal the
    chain=1 run's at the same iteration count (identical
    per-iteration arithmetic; tested allclose).

    chain="auto" (default) sizes each superstep's chain PREDICTIVELY
    from the observed delta decay — tol-convergence mode only (with
    tol <= 0, i.e. the fixed-iteration oracle mode, "auto" IS
    chain=1, so fixed-k results are untouched). The first two
    supersteps run unchained to measure the per-iteration decay
    ratio r; each later superstep chains ~log(tol/delta)/log(r)
    iterations (the predicted remaining count), capped at
    ``chain_cap``. A well-predicted run materializes each barrier
    exactly when useful information (the convergence test) is due —
    e.g. a 53-iteration convergence becomes ~6 jobs instead of 53 —
    while executing the same per-iteration arithmetic. When the
    graph has dangling vertices "auto" stays unchained: each chained
    iteration's in-plan dangling scalar references the accumulated
    plan twice, so plan size (and Catalyst planning time) DOUBLES per
    chained iteration — measured 111s vs 8s on a toy graph — and the
    per-iteration schedule is the right default there; pass an
    explicit integer chain to override.
    """
    if isinstance(chain, str) and chain != "auto":
        raise ValueError(f"chain must be an int or 'auto', got {chain!r}")
    edges = local.normalized(edges)
    n, n_rows = local.graph_size(edges)
    if n == 0:
        return spark.createDataFrame([], "id long, score double")
    ckpt = runner.checkpoint_dir if runner is not None else checkpoint_dir
    if not ckpt and local.fits(n, n_rows):
        return _pagerank_local(
            spark, local.collect_edges(edges), damping, tol,
            runner.max_iter if runner is not None else max_iter,
            chain, runner,
        )

    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    # normalized transition weights — computed once, hash-partitioned on
    # src (CSR-style layout), reused by every superstep with no exchange
    edges_norm = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("p")
    )
    if not pre_partitioned:
        edges_norm = edges_norm.repartition(n_part, "src")
    edges_norm = edges_norm.persist()
    if salt_hubs is None:
        # two-term probe (VERDICT r3 #9): degree alone over-triggers —
        # map-side partial aggregation already absorbs moderate hubs,
        # and the salted two-level agg is pure fixed overhead there.
        # Salting engages only when the hub is BOTH above the absolute
        # threshold AND holds a row share that would pin one reducer
        # (> 1/4 of the average reducer's input rows).
        row = (
            edges.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d").alias("mx"), F.sum("d").alias("tot"))
            .first()
        )
        max_in = int(row["mx"] or 0)
        rows_per_reducer = float(row["tot"] or 0) / max(n_part, 1)
        salt_hubs = (
            max_in > hub_degree_threshold and max_in > rows_per_reducer / 4.0
        )

    auto = isinstance(chain, str) and tol > 0.0
    chain_fixed = 1 if isinstance(chain, str) else max(1, chain)

    dangling_flag = verts.join(out_w, verts.id == out_w.src, "left").select(
        "id", F.col("out_w").isNull().alias("is_dangling")
    )
    # state partitioned on id to match edges_norm's src-partitioning;
    # barrier preserves it across supersteps
    state = dangling_flag.withColumn("score", F.lit(1.0 / n)).repartition(n_part, "id")

    small = (not pre_partitioned) and n <= broadcast_threshold
    # dangling mass is carried across supersteps by `converge`; None
    # means "recompute from current state" — covers both the first
    # superstep and a mid-run resume from a durable checkpoint.
    # n_dangling: -1 = not yet measured (the count job runs lazily, the
    # first time a superstep actually chains); chain_next/prev_delta
    # drive the "auto" predictive schedule.
    ctx: dict = {
        "dangling": None,
        "n_dangling": -1,
        "chain_next": 1,
        "prev_delta": None,
        "cap": max(1, chain_cap),
        # self-calibration state (auto mode): per-iteration wall cost
        # of unchained supersteps vs inside-a-chain iterations — the
        # job-floor-vs-stage-cost trade is machine/shape-dependent
        # (measured: chaining is ~10x per-iteration at 32 shuffle
        # partitions where the per-job floor dominates, and a LOSS at
        # 2 partitions where codegen-compile per chained segment
        # exceeds the whole unchained superstep), so the schedule
        # probes a small chain first and turns chaining off for the
        # rest of the run if the probe did not pay.
        "t_last": None,
        "uni_cost": None,
        "no_chain": False,
        "chained_ok": False,
        # the probe chain is 2 (the cheapest chained superstep that
        # still measures the per-iteration cost); each superstep that
        # beats 0.6x the unchained cost doubles the dynamic cap toward
        # chain_cap, so environments where the job floor dominates
        # reach deep chains within ~3 supersteps while a probe that
        # does not pay costs at most one extra-compile superstep
        "cap_dyn": 2,
    }

    def _one_iteration(cur: DataFrame, base_col, left: DataFrame) -> DataFrame:
        """One power iteration: gather `cur`'s scores, update onto
        ``left``. For the unchained schedule (and a chain's LAST
        iteration) left IS cur, carrying old_score for the delta test.
        Intermediate chained iterations pass the superstep's BARRIERED
        state instead — same id set, same static is_dangling column,
        identical arithmetic — so the accumulated plan is referenced
        ONCE per iteration (left is a checkpoint LEAF) and chained
        plans grow LINEARLY; with left=cur every iteration would embed
        the accumulated plan twice (once under the aggregation, once
        as the join's left side) and plan size/planning time would
        double per chained iteration (measured: analysis hangs outright
        at chain=16)."""
        scores = cur.select("id", "score")
        # broadcast below threshold (driver-serial build: small graphs
        # only); above it, shuffle-hash with the id-partitioned state as
        # build side — zero exchange since both sides are pre-partitioned
        scores = F.broadcast(scores) if small else scores.hint("shuffle_hash")
        contribs = edges_norm.join(scores, edges_norm.src == scores.id).select(
            F.col("src"), F.col("dst"), (F.col("score") * F.col("p")).alias("contrib")
        )
        if salt_hubs:
            # two-level agg: partial per (dst, salt), final per dst —
            # the degree-bucket idea from the reference GPU kernels
            # (SURVEY.md §4 X2) expressed as salted aggregation. The
            # salt derives from the contributing source id, so a hub's
            # incoming rows spread over n_salts reducers
            # deterministically (sum is associative: result exact).
            salted = contribs.withColumn(
                "salt", F.pmod(F.xxhash64("src"), F.lit(n_salts))
            )
            incoming = (
                salted.groupBy("dst", "salt")
                .agg(F.sum("contrib").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("incoming"))
            )
        else:
            incoming = contribs.groupBy("dst").agg(F.sum("contrib").alias("incoming"))
        # rename the join key: chained iterations join with a frame
        # DERIVED from the same lineage, where a shared `dst`/`id`
        # would trip ambiguous-self-join resolution
        incoming = incoming.select(F.col("dst").alias("in_id"), "incoming")
        if not small:
            # incoming is hash-partitioned on dst by the agg; with the
            # state partitioned on id this join is exchange-free too
            incoming = incoming.hint("shuffle_hash")
        return left.join(incoming, left.id == F.col("in_id"), "left").select(
            left.id,
            left.is_dangling,
            left.score.alias("old_score"),
            (base_col + F.lit(damping) * F.coalesce(F.col("incoming"), F.lit(0.0))).alias(
                "score"
            ),
        )

    def step(st: DataFrame, i: int) -> DataFrame:
        if ctx["dangling"] is None:
            ctx["dangling"] = float(
                st.agg(
                    F.sum(F.when(F.col("is_dangling"), F.col("score")).otherwise(0.0))
                ).first()[0]
                or 0.0
            )
        k = ctx["chain_next"] if auto else chain_fixed
        if k > 1 and ctx["n_dangling"] < 0:
            # one-time dangling count: chained iterations on a graph
            # WITH dangling vertices need the in-plan mass scalar,
            # whose agg references the accumulated plan twice — plan
            # size doubles per chained iteration (measured 111s vs 8s
            # on a toy graph at cap 6 from pure planning) — so "auto"
            # falls back to the unchained schedule there; an explicit
            # integer chain is still honored (the tested fixed path)
            ctx["n_dangling"] = dangling_flag.filter(F.col("is_dangling")).count()
            if auto and ctx["n_dangling"] > 0:
                ctx["cap"] = 1
                k = 1
        ctx["last_chain"] = k
        n_dangling = ctx["n_dangling"]
        cur = st
        for j in range(k):
            if j == 0 or n_dangling == 0:
                # no dangling vertices -> the dangling term is 0.0
                # forever and every chained iteration's base is the
                # same constant: no in-plan scalar needed (the common
                # case for link graphs where every page links out).
                # Intermediate chained iterations update onto the
                # barriered leaf `st` (linear plan growth — see
                # _one_iteration); the last keeps `cur` as left so
                # old_score is the true previous-iteration score for
                # the convergence delta
                base_col = F.lit(
                    (1.0 - damping) / n + damping * ctx["dangling"] / n
                )
                left = st if j < k - 1 else cur
            else:
                # intermediate chained iteration: the dangling mass is
                # a 1-row broadcast scalar folded into the same plan
                # (the rescan of `cur` reuses its exchanges); the
                # dmass-augmented frame must also be the update side,
                # so this (explicit-chain-only) mode keeps the
                # plan-doubling shape — see the docstring's cap note
                dm = cur.agg(
                    F.sum(
                        F.when(F.col("is_dangling"), F.col("score")).otherwise(0.0)
                    ).alias("dmass")
                )
                cur = cur.crossJoin(F.broadcast(dm))
                base_col = F.lit((1.0 - damping) / n) + F.lit(
                    damping / n
                ) * F.coalesce(F.col("dmass"), F.lit(0.0))
                left = cur
            cur = _one_iteration(cur, base_col, left)
        # convergence scalars ride the barrier's own materialization
        # (zero extra jobs per superstep): max per-vertex delta + the
        # NEXT superstep's dangling mass
        obs = Observation()
        ctx["obs"] = obs
        return cur.observe(
            obs,
            F.max(F.abs(F.col("score") - F.col("old_score"))).alias("delta"),
            F.sum(
                F.when(F.col("is_dangling"), F.col("score")).otherwise(0.0)
            ).alias("dmass"),
        )

    def converge(old: DataFrame, new: DataFrame, i: int) -> tuple[bool, float]:
        row = ctx.pop("obs").get
        delta = float(row["delta"])
        ctx["dangling"] = float(row["dmass"] or 0.0)
        if auto:
            # calibration: compare the measured per-iteration cost of
            # chained supersteps against unchained ones; a chain that
            # does not beat the unchained cost switches chaining off
            # for the rest of the run (one-way — no flapping), a chain
            # that clearly pays raises the dynamic cap toward chain_cap
            now = time.perf_counter()
            iters = ctx["last_chain"]
            if ctx["t_last"] is not None:
                per_iter = (now - ctx["t_last"]) / iters
                if iters == 1:
                    u = ctx["uni_cost"]
                    ctx["uni_cost"] = per_iter if u is None else min(u, per_iter)
                elif ctx["uni_cost"] is not None:
                    if per_iter >= 0.9 * ctx["uni_cost"]:
                        ctx["no_chain"] = True
                    else:
                        ctx["chained_ok"] = True
                        if per_iter <= 0.6 * ctx["uni_cost"]:
                            ctx["cap_dyn"] = min(ctx["cap"], ctx["cap_dyn"] * 2)
            ctx["t_last"] = now
        if auto and delta >= tol:
            # predictive schedule: fit the per-iteration decay ratio r
            # from the last two observed deltas and chain the predicted
            # remaining-iteration count log(tol/delta)/log(r) into the
            # next superstep (capped; falls back to doubling when the
            # decay is too flat to extrapolate, and stays unchained
            # until two measurements exist or while delta still grows)
            prev, iters = ctx["prev_delta"], ctx["last_chain"]
            nxt = 1
            if prev is not None and 0.0 < delta < prev:
                r = (delta / prev) ** (1.0 / iters)
                if r < 0.999:
                    nxt = max(1, math.ceil(math.log(tol / delta) / math.log(r)))
                else:
                    nxt = 2 * iters
            if ctx["no_chain"] or (
                not ctx["chained_ok"]
                and (
                    nxt < 8
                    or ctx["uni_cost"] is None
                    or ctx["uni_cost"] < chain_probe_floor
                )
            ):
                # chaining has a real cost floor (fresh codegen compile
                # of every chained segment — O(100ms) each — and
                # re-execution of the final iteration's small
                # non-exchange tail), so probing only makes sense when
                # there is something to win back: the run must be
                # predicted to need >= 8 more iterations AND the
                # unchained superstep itself must cost at least
                # ``chain_probe_floor`` (below that the job floor is
                # already within compile-cost territory — the measured
                # pages-spine case, where every chained schedule LOST
                # to the 0.27s/superstep baseline). At cluster scale a
                # superstep's floor is scheduler+checkpoint-bound and
                # far above this, so the probe engages there. A probe
                # that measurably beat the unchained cost unlocks
                # chaining for the rest of the run including short
                # tails; one that did not switches chaining off.
                nxt = 1
            ctx["chain_next"] = int(min(ctx["cap"], ctx["cap_dyn"], nxt))
        ctx["prev_delta"] = delta
        return delta < tol, delta

    runner = runner or SuperstepRunner(
        spark, run_id=run_id, checkpoint_dir=checkpoint_dir, max_iter=max_iter,
        preserve_partitioning=not small,
    )
    final = runner.run(state, step, converge)
    edges_norm.unpersist()
    return final.select("id", "score")
