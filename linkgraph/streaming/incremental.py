"""Per-timestep incremental loop — the reference's specialty and its
"streaming" (src/main_louvain.cpp:1217-1611, SURVEY.md §2.J): each
timestep a deletion phase then an addition phase, run by
``stream_driver.run_phase`` on either backend, plus durable per-phase
sinks (metrics incl. the delta-screening win R%%, resume point, trees).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.plans import local
from linkgraph.streaming import stream_driver as sd


@dataclass
class IncrementalRun:
    state: DataFrame  # (id, community) after the last timestep
    edges: DataFrame  # final graph version
    modularity: float
    metrics: list[dict] = field(default_factory=list)


def _manifest(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "INCREMENTAL_MANIFEST.json")


def _persist_phase(spark, checkpoint_dir, row: dict, res, state, write_trees) -> None:
    """Durable record of a completed phase (the reference prints R%% and
    per-pass Q, main_louvain.cpp:1348,1195, and writes graph{t}.tree,
    :1243): append the phase row to ``incremental_metrics`` and its
    Louvain round trail to ``louvain_rounds``; overwrite its dendrogram
    under ``trees/`` (after an empty frontier, the one-level tree of
    the carried state); then write the state and, last, the manifest
    naming it — the resume point (edge versions are replayed from the
    deltas, never checkpointed)."""
    ts, phase = int(row["ts"]), row["phase"]
    local.records(
        spark, "ts int, phase string, r_size long, r_frac double, q double", [row]
    ).write.mode("append").parquet(os.path.join(checkpoint_dir, "incremental_metrics"))
    rounds = [
        {"ts": ts, "phase": phase, **m}
        for m in (res.metrics if res else []) if "round" in m
    ]
    if rounds:
        local.records(
            spark, "ts int, phase string, level int, round int, q double, gain double", rounds
        ).write.mode("append").parquet(os.path.join(checkpoint_dir, "louvain_rounds"))
    key = f"ts={ts}_phase={phase}"
    if write_trees:
        tree = res.hierarchy if res else state.select(
            F.lit(0).alias("level"), F.col("id").alias("node"), "community"
        )
        tree.write.mode("overwrite").partitionBy("level").parquet(
            os.path.join(checkpoint_dir, "trees", key)
        )
    path = os.path.join(checkpoint_dir, "incremental_state", key)
    state.write.mode("overwrite").parquet(path)
    with open(_manifest(checkpoint_dir), "w") as f:
        json.dump({"ts": ts, "phase": phase, "state_path": path, "q": row["q"]}, f)


def load_tree(spark: SparkSession, checkpoint_dir: str, ts: int, phase: str) -> DataFrame:
    """Read one phase's persisted dendrogram back as
    (level, node, community) — ``flatten_hierarchy`` of this equals the
    phase's carried state (read-back contract, test_dynamic)."""
    df = spark.read.parquet(os.path.join(checkpoint_dir, "trees", f"ts={ts}_phase={phase}"))
    return df.select(
        F.col("level").cast("int"), F.col("node").cast("long"),
        F.col("community").cast("long"),
    )


def run_incremental(
    spark: SparkSession,
    base_edges: DataFrame,
    deltas: DataFrame,
    min_gain: float = 1e-6,
    max_levels: int = 20,
    checkpoint_dir: str | None = None,
    screening: bool = True,
    resume: bool = True,
    broadcast_threshold: int = 5_000_000,
    salt_hubs: bool | None = None,
    pre_partitioned: bool = False,
    write_trees: bool = False,
) -> IncrementalRun:
    """base_edges: symmetric weighted table (build_graph output).
    deltas: (ts:int, op:'add'|'del', src, dst[, weight]); a row with
    another op or a null ts, src or dst raises ValueError. Tier: as
    ``IncrementalStream`` — within the guard, base graph and deltas are
    collected once and every phase runs on the driver.

    screening=False: the GPU driver's -f mode (main_louvain_gpu.cpp:946)
    — R is every vertex (R%% = 100), the A/B baseline for screening.
    resume=True + checkpoint_dir: a killed run reloads the last
    completed phase's state, replays the earlier phases' edge mutations
    (no Louvain) and continues; state and durable tables end equal to
    an uninterrupted run's (``metrics`` holds this process's phases).
    broadcast_threshold / salt_hubs go to the distributed louvain calls.
    pre_partitioned=True: base_edges is already materialized and
    hash(src)-partitioned (the K1 bucketed read); no repartition.
    write_trees=True (requires checkpoint_dir): persist every phase's
    dendrogram under ``<checkpoint_dir>/trees/ts={t}_phase={p}``.
    """
    if write_trees and not checkpoint_dir:
        raise ValueError("write_trees requires checkpoint_dir")
    opts = dict(min_gain=min_gain, max_levels=max_levels,
                broadcast_threshold=broadcast_threshold, salt_hubs=salt_hubs)
    loaded = None
    if checkpoint_dir and resume and os.path.exists(_manifest(checkpoint_dir)):
        with open(_manifest(checkpoint_dir)) as f:
            loaded = json.load(f)
    state = loaded and spark.read.parquet(loaded["state_path"])
    graph = sd.carry(spark, base_edges, state, opts, pre_partitioned)
    phases = graph.phases(deltas)
    metrics: list[dict] = []

    def done(graph, row: dict, res) -> None:
        metrics.append(row)
        if checkpoint_dir:
            _persist_phase(spark, checkpoint_dir, row, res, graph.state, write_trees)

    if loaded is None:
        graph, res = graph.louvain()
        q, last = res.modularity, sd.phase_order(-1, "static")
        done(graph, {"ts": -1, "phase": "static", "r_size": -1, "r_frac": 1.0, "q": q}, res)
    else:
        q, last = loaded["q"], sd.phase_order(loaded["ts"], loaded["phase"])
    for ts, phase, rows in phases:
        if sd.phase_order(ts, phase) <= last:
            # completed before the restart: replay the mutation only
            # (the restored state reflects its Louvain pass and seeding)
            graph = graph.apply(phase, rows)
            continue
        graph, r_size, q, res = sd.run_phase(graph, phase, rows, screening)
        r_frac = r_size / graph.n if graph.n else 0.0
        done(graph, {"ts": ts, "phase": phase, "r_size": r_size, "r_frac": r_frac, "q": q}, res)
    return IncrementalRun(state=graph.state, edges=graph.edges, modularity=q, metrics=metrics)
