"""Connected components via synchronous min-label propagation.

Superstep recurrence (SURVEY.md §2.K): label' = min(label_v, min of
neighbor labels); converged when no label changes (the reference's
moves-count loop test, ``src/louvain.cpp:460`` analog). Labels are
exact (integer min) — no FP concerns; final label = min vertex id of
the component, which is also what the union-find oracle asserts.

Scale design — ONE exchange per superstep on the big path (the same
shape as operators.pagerank, SURVEY.md §4 X6):
* the symmetric edge table is hash-partitioned on dst ONCE and
  persisted; the state stays hash-partitioned on id with the same
  partition count across barriers (localCheckpoint preserves
  partitioning), so the edges⋈labels gather join needs NO exchange on
  either side (shuffle-hash, state as build side);
* the only per-superstep shuffle is the min-aggregation's groupBy(src)
  — whose output is src-hash-partitioned, satisfying the update join's
  distribution, so that join is exchange-free too;
* below broadcast_threshold vertices the label table is broadcast
  instead (small graphs / harness runs).
Rounds = graph diameter. Web graphs have small effective diameter
(~6-20 supersteps); for pathological high-diameter graphs (long
chains — the web-scale straggler case) ``algorithm="star"`` switches
to the alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond"), which converges
in O(log n) rounds regardless of diameter and yields the identical
min-id labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkgraph.plans.superstep import SuperstepRunner, barrier, release


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    broadcast_threshold: int = 5_000_000,
    checkpoint_dir: str | None = None,
    run_id: str = "cc",
    runner: SuperstepRunner | None = None,
    algorithm: str = "min-label",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Returns (id:long, component:long) on the undirected graph.

    edges may be directed rows; symmetry is ensured internally so the
    min flows both ways. algorithm: "min-label" (default — one
    exchange per superstep, rounds = diameter) or "star" (large-star /
    small-star contraction — O(log n) rounds, for high-diameter
    graphs; identical labels).

    pre_partitioned=True: the caller guarantees ``edges`` is already
    the SYMMETRIC deduped table, hash(src)-partitioned at the
    session's shuffle partition count (the K1 bucketed layout read via
    ``graph.build.read_adjacency_table``). The one-time
    symmetrize/distinct/repartition is skipped and the superstep
    gathers along the co-located src side instead (aggregating per
    dst) — identical labels by symmetry, zero initial exchange
    (plan-audited).

    Every superstep runs exactly one min-label iteration and the loop
    stops on the first superstep that changes no label, so
    ``runner.max_iter`` (or ``max_iter``) counts iterations and
    ``runner.metrics`` holds one row (delta = labels changed) per
    iteration.
    """
    if algorithm == "star":
        return connected_components_star(spark, edges, max_iter=max_iter)
    if algorithm != "min-label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if pre_partitioned:
        sym = e.filter(F.col("src") != F.col("dst")).persist()
        gather_key, agg_key = "src", "dst"
    else:
        # dst-partitioned once: every superstep's gather join reads
        # this cache with no fresh exchange on the edge side
        sym = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .repartition(n_part, "dst")
            .persist()
        )
        gather_key, agg_key = "dst", "src"

    if pre_partitioned:
        # the pre_partitioned contract is the SYMMETRIC table, so the
        # src domain IS the vertex domain: distinct(src) runs
        # exchange-free on the hash(src) layout (alias-aware output
        # partitioning carries hash(src) through the id rename) and
        # comes out id-partitioned — no union-distinct shuffle, no
        # repartition exchange before the state checkpoint.
        small = False
        state = barrier(
            e.select(F.col("src").alias("id")).distinct(),
            preserve_partitioning=True,
        ).withColumn("component", F.col("id"))
    else:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        n = verts.count()
        small = n <= broadcast_threshold
        if small:
            state = verts.withColumn("component", F.col("id"))
        else:
            # checkpoint the bare id-partitioned vertex set BEFORE
            # aliasing component := id — checkpointing after the alias
            # remaps the preserved hash partitioning onto the alias
            # column, and every id-keyed superstep join would
            # re-exchange the state
            state = barrier(
                verts.repartition(n_part, "id"), preserve_partitioning=True
            ).withColumn("component", F.col("id"))

    ctx: dict = {}

    def step(st: DataFrame, i: int) -> DataFrame:
        cur = st.select("id", "component")
        # the label side is aliased: `labels` and `nbr_min` derive from
        # `cur`, and a shared `id` would trip ambiguous-self-join
        # resolution
        labels = cur.select(F.col("id").alias("lid"), F.col("component"))
        labels = F.broadcast(labels) if small else labels.hint("shuffle_hash")
        nbr_min = (
            sym.join(labels, sym[gather_key] == F.col("lid"))
            .groupBy(F.col(agg_key).alias("vid"))
            .agg(F.min("component").alias("nbr_min"))
        )
        if not small:
            # nbr_min is hash-partitioned on the vertex key by the agg;
            # the state is partitioned on id — exchange-free
            # shuffle-hash update join
            nbr_min = nbr_min.hint("shuffle_hash")
        nxt = cur.join(nbr_min, cur.id == F.col("vid"), "left").select(
            cur.id,
            cur.component.alias("old_component"),
            F.least(
                cur.component, F.coalesce(F.col("nbr_min"), cur.component)
            ).alias("component"),
        )
        # the changed-count rides the barrier's materialization (no
        # separate per-superstep count job)
        obs = Observation()
        ctx["obs"] = obs
        return nxt.observe(
            obs,
            F.sum(
                (F.col("component") != F.col("old_component")).cast("long")
            ).alias("c"),
        )

    def converge(old: DataFrame, new: DataFrame, i: int) -> tuple[bool, float]:
        changed = int(ctx.pop("obs").get["c"] or 0)
        return changed == 0, float(changed)

    runner = runner or SuperstepRunner(
        spark, run_id=run_id, checkpoint_dir=checkpoint_dir, max_iter=max_iter,
        preserve_partitioning=not small,
    )
    final = runner.run(state, step, converge)
    sym.unpersist()
    return final.select("id", "component")


def _large_star(l: DataFrame) -> DataFrame:
    """Large-star round: for each node u, connect every STRICTLY LARGER
    neighbor to m = min(Γ(u) ∪ {u}). Preserves connectivity; shrinks
    tall trees geometrically (Kiveris et al. §3)."""
    sym = l.unionByName(
        l.select(F.col("src").alias("dst"), F.col("dst").alias("src")).select(
            "src", "dst"
        )
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(l: DataFrame) -> DataFrame:
    """Small-star round: orient edges high->low; for each node u,
    connect u and all its smaller neighbors to m = min(N(u))."""
    o = (
        l.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
    )
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = o.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    return (
        rewired.unionByName(self_edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 60,
    metrics: list[dict] | None = None,
) -> DataFrame:
    """Alternating large-star / small-star contraction — O(log n)
    rounds independent of graph diameter (min-label propagation needs
    diameter rounds: a 4096-chain = 4096 supersteps; the star
    algorithm converges in ~a dozen). Returns (id, component) with
    component = min vertex id of the component — byte-identical to the
    min-label path.

    Convergence: the edge multiset is a fixpoint of small∘large. The
    check is exact: row counts first (cheap, differs in most rounds),
    set difference only when counts match.
    """
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    l = barrier(
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
    )
    n_edges = l.count()
    for rnd in range(max_iter):
        if n_edges == 0:
            break
        new = barrier(_small_star(_large_star(l)))
        n_new = new.count()
        if metrics is not None:
            metrics.append({"round": rnd, "edges": n_new})
        if n_new == n_edges and new.exceptAll(l).isEmpty():
            release(l)
            l = new
            break
        release(l)
        l, n_edges = new, n_new
    # final l is a union of stars rooted at component minima: each node
    # points at its root (roots/isolated vertices point at themselves)
    labels = l.groupBy(F.col("src").alias("id")).agg(F.min("dst").alias("component"))
    out = verts.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
    result = barrier(out)
    release(l)
    verts.unpersist()
    return result
