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
    runner: SuperstepRunner | None,
) -> DataFrame:
    """The distributed recurrence on driver-held arrays: the same
    weighted transition p = w / out_w(src), the same uniform dangling
    redistribution and base term, one iteration and one metrics row
    per superstep."""
    src, dst, w = arrays
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    si, di = inv[: len(src)], inv[len(src):]
    out_w = np.bincount(si, weights=w, minlength=n)
    dangling = np.bincount(si, minlength=n) == 0
    p = w / out_w[si]
    score = np.full(n, 1.0 / n)
    for i in range(max_iter):
        t0 = time.perf_counter()
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
) -> DataFrame:
    """Power iteration to ``max |score - score'| < tol``.

    edges: directed (src, dst, weight). Dangling vertices (no
    out-edges) redistribute their mass uniformly — the standard
    formulation, matched exactly by the NumPy oracle in tests.
    Returns (id:long, score:double).

    Every superstep runs exactly one power iteration and tests
    convergence on that iteration's max per-vertex delta, so
    ``runner.max_iter`` (or ``max_iter``) counts iterations and
    ``runner.metrics`` holds one row per iteration on both tiers.

    Tier: a graph within the small-graph guard of ``plans/local.py``
    (at most 50,000 vertices AND at most 5,000,000 edge rows, both
    read off the one vertex-count aggregation) is collected to the
    driver once and iterated in NumPy — the same recurrence, scores
    allclose 1e-6 to the distributed plan, the same iteration count.
    Above the guard, or when the runner (or ``checkpoint_dir``) asks
    for durable checkpoints, the distributed superstep plan below
    runs: resuming from a checkpoint is what such a caller asked for.
    The planning knobs (salt_hubs, pre_partitioned,
    broadcast_threshold) only shape the distributed plan.

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
    """
    edges = local.normalized(edges)
    n, n_rows = local.graph_size(edges)
    if n == 0:
        return spark.createDataFrame([], "id long, score double")
    ckpt = runner.checkpoint_dir if runner is not None else checkpoint_dir
    if not ckpt and local.fits(n, n_rows):
        return _pagerank_local(
            spark, local.collect_edges(edges), damping, tol,
            runner.max_iter if runner is not None else max_iter, runner,
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

    # state partitioned on id to match edges_norm's src-partitioning;
    # barrier preserves it across supersteps
    state = (
        verts.join(out_w, verts.id == out_w.src, "left")
        .select("id", F.col("out_w").isNull().alias("is_dangling"))
        .withColumn("score", F.lit(1.0 / n))
        .repartition(n_part, "id")
    )

    small = (not pre_partitioned) and n <= broadcast_threshold
    # dangling mass is carried across supersteps by `converge`; None
    # means "recompute from current state" — covers both the first
    # superstep and a mid-run resume from a durable checkpoint
    ctx: dict = {"dangling": None}

    def _one_iteration(cur: DataFrame, base_col) -> DataFrame:
        """One power iteration: gather ``cur``'s scores along the
        edges, update each vertex to base + damping * incoming and
        carry its previous score as old_score for the delta test."""
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
        # rename the join key: `incoming` derives from `cur`, and a
        # shared name would trip ambiguous-self-join resolution
        incoming = incoming.select(F.col("dst").alias("in_id"), "incoming")
        if not small:
            # incoming is hash-partitioned on dst by the agg; with the
            # state partitioned on id this join is exchange-free too
            incoming = incoming.hint("shuffle_hash")
        return cur.join(incoming, cur.id == F.col("in_id"), "left").select(
            cur.id,
            cur.is_dangling,
            cur.score.alias("old_score"),
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
        base = F.lit((1.0 - damping) / n + damping * ctx["dangling"] / n)
        # convergence scalars ride the barrier's own materialization
        # (zero extra jobs per superstep): max per-vertex delta + the
        # NEXT superstep's dangling mass
        obs = Observation()
        ctx["obs"] = obs
        return _one_iteration(st, base).observe(
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
        return delta < tol, delta

    runner = runner or SuperstepRunner(
        spark, run_id=run_id, checkpoint_dir=checkpoint_dir, max_iter=max_iter,
        preserve_partitioning=not small,
    )
    final = runner.run(state, step, converge)
    edges_norm.unpersist()
    return final.select("id", "score")
