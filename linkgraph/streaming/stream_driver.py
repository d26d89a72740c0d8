"""One incremental engine: the dynamic-Louvain phase transition, written
once (``run_phase``), over a carried graph with two backends.

Per timestep the reference driver (``main_louvain.cpp:679-880``) runs a
deletion phase, then an addition phase: mutate the graph, seed new nodes
(add phase), compute the delta-screening frontier R, then re-run Louvain
warm-started on R — or, when R is empty, rescore the copied-forward
partition on the changed graph. The small-graph guard of
``plans/local.py`` picks the backend: ``ArrayGraph`` (driver-held NumPy
arrays) within it, ``FrameGraph`` (barriered frames) above it; labels
are identical and modularity agrees to 1e-12. ``IncrementalStream`` and
``streaming.incremental.run_incremental`` drive it. ``FrameGraph`` calls
the operators through this module's globals, so a tracer that patches
those names here sees every distributed phase.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, replace
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.operators.louvain import (
    MAX_LEVELS, MAX_ROUNDS_PER_LEVEL, hierarchy_frame, louvain, partition_modularity,
)
from linkgraph.operators.louvain_local import modularity, run_local_complete
from linkgraph.plans import local
from linkgraph.plans.superstep import barrier
from linkgraph.streaming.deltas import (
    add_arrays, apply_additions, apply_deletions, delete_arrays, seed_arrays,
    seed_new_nodes,
)
from linkgraph.streaming.screening import (
    frontier_add, frontier_add_arrays, frontier_del, frontier_del_arrays,
)

DELTA_SCHEMA = "ts int, op string, src long, dst long, weight double"
PHASES = ("del", "add")


def phase_order(ts: int, phase: str) -> tuple[int, int]:
    """Sortable position of a phase: static < (0,del) < (0,add) < (1,del) ..."""
    return (-(2**31), 0) if phase == "static" else (int(ts), PHASES.index(phase))


def run_phase(graph, phase: str, rows, screening: bool = True):
    """One phase transition on the carried graph; screening=False makes
    R every vertex (the GPU driver's -f mode). Returns (graph, |R|,
    modularity, Louvain result or None when R is empty)."""
    graph = graph.apply(phase, rows)
    if phase == "add":
        graph = graph.seed(rows)
    r, r_size = graph.frontier(phase, rows, screening)
    if not r_size:
        return graph, 0, graph.rescore(), None
    graph, res = graph.louvain(r)
    return graph, r_size, res.modularity, res


def _deltas(deltas: DataFrame) -> DataFrame:
    """Typed delta rows (a null or missing weight counts 1.0) plus
    ``ok``: False for a row whose op is not 'add'/'del' or whose ts,
    src or dst is null."""
    w = F.coalesce(F.col("weight"), F.lit(1.0)) if "weight" in deltas.columns else F.lit(1.0)
    ok = F.col("op").isin(*PHASES) & F.col("ts").isNotNull()
    ok = ok & F.col("src").isNotNull() & F.col("dst").isNotNull()
    return deltas.select(
        F.col("ts").cast("int").alias("ts"), "op", F.col("src").cast("long"),
        F.col("dst").cast("long"), w.cast("double").alias("weight"),
        F.coalesce(ok, F.lit(False)).alias("ok"),
    )


def _reject(bad: int) -> None:
    if bad:
        raise ValueError(f"{bad} malformed delta row(s): op not 'add'/'del' or null ts/src/dst")


@dataclass
class LocalLouvain:
    """A driver-held louvain() result; the hierarchy frame is built on first use."""

    spark: SparkSession
    hierarchy_levels: list
    modularity: float
    metrics: list

    @cached_property
    def hierarchy(self) -> DataFrame:
        return hierarchy_frame(self.spark, self.hierarchy_levels)


@dataclass(frozen=True, eq=False)
class ArrayGraph:
    """The carried graph on the driver: symmetric edge rows and the
    partition (ids ascending) as arrays, published as lazy frames.
    Batch rows are (src, dst, weight) arrays."""

    spark: SparkSession
    opts: dict  # louvain() settings: min_gain, max_levels, ...
    src: np.ndarray
    dst: np.ndarray
    w: np.ndarray
    ids: np.ndarray | None = None
    comm: np.ndarray | None = None

    @cached_property
    def edges(self) -> DataFrame:
        return local.frame(self.spark, local.EDGE_SCHEMA, src=self.src, dst=self.dst, weight=self.w)

    @cached_property
    def state(self) -> DataFrame:
        return local.frame(self.spark, "id long, community long", id=self.ids, community=self.comm)

    @property
    def n(self) -> int:
        return len(self.ids)

    def phases(self, deltas: DataFrame) -> list:
        """[(ts, phase, rows)] in phase order, from one collect."""
        pdf = _deltas(deltas).toPandas()
        _reject(int((~pdf["ok"].astype(bool)).sum()))
        groups = pdf.groupby(["ts", "op"]).groups
        cols = [("src", np.int64), ("dst", np.int64), ("weight", np.float64)]
        return [
            (int(ts), op, [pdf.loc[groups[ts, op], c].to_numpy(dtype=t) for c, t in cols])
            for ts, op in sorted(groups, key=lambda k: phase_order(*k))
        ]

    def apply(self, phase: str, rows) -> ArrayGraph:
        if phase == "del":
            src, dst, w = delete_arrays(self.src, self.dst, self.w, *rows[:2])
        else:
            src, dst, w = add_arrays(self.src, self.dst, self.w, *rows)
        return replace(self, src=src, dst=dst, w=w)

    def seed(self, rows) -> ArrayGraph:
        ends = np.concatenate(rows[:2])
        ids, comm = seed_arrays(self.src, self.dst, self.ids, self.comm, ends)
        return replace(self, ids=ids, comm=comm)

    def frontier(self, phase: str, rows, screening: bool):
        if not screening:
            r = self.ids
        elif phase == "del":
            r = frontier_del_arrays(self.src, self.dst, self.ids, self.comm, *rows[:2])
        else:
            r = frontier_add_arrays(self.src, self.dst, self.w, self.ids, self.comm, *rows[:2])
        return r, len(r)

    def louvain(self, r=None) -> tuple[ArrayGraph, LocalLouvain]:
        """Warm-started on the frontier ``r``; the static run if r is None."""
        warm = r is not None
        levels, (ids, comm), q, _, metrics = run_local_complete(
            (self.src, self.dst, self.w),
            self.ids if warm else np.concatenate([self.src, self.dst]),
            float(self.w.sum()) / 2.0, self.opts["min_gain"], MAX_ROUNDS_PER_LEVEL,
            self.opts["max_levels"], init=(self.ids, self.comm) if warm else None,
            frontier=r, force=warm,
        )
        return replace(self, ids=ids, comm=comm), LocalLouvain(self.spark, levels, q, metrics)

    def rescore(self) -> float:
        return modularity((self.src, self.dst, self.w), self.ids, self.comm)


def _partitioned(edges: DataFrame, pre_partitioned: bool = False) -> DataFrame:
    """Normalized edges, hash(src)-partitioned and materialized
    (pre_partitioned: the caller's layout, e.g. the K1 bucketed read)."""
    e = local.normalized(edges)
    if pre_partitioned:
        return e
    n_part = int(e.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return barrier(e.repartition(n_part, "src"), reset_stats=True, preserve_partitioning=True)


@dataclass(frozen=True, eq=False)
class FrameGraph:
    """The carried graph as barriered frames; ``n`` counts ``state``.
    Every edge version stays hash(src)-partitioned (deletions through
    the broadcast anti-join, additions inside the merge aggregation), so
    louvain() runs pre_partitioned. Batch rows: a (src, dst, weight) frame."""

    spark: SparkSession
    opts: dict
    edges: DataFrame
    state: DataFrame | None = None
    n: int | None = None

    def phases(self, deltas: DataFrame) -> list:
        """[(ts, phase, rows)] in phase order; the (ts, op) pairs and
        the malformed-row count come from one aggregation."""
        d = _deltas(deltas)
        bad = F.sum((~F.col("ok")).cast("int")).alias("bad")
        keys = d.groupBy("ts", "op").agg(bad).collect()
        _reject(sum(k.bad for k in keys))
        return [
            (k.ts, k.op, d.filter((F.col("ts") == k.ts) & (F.col("op") == k.op))
             .select("src", "dst", "weight"))
            for k in sorted(keys, key=lambda k: phase_order(k.ts, k.op))
        ]

    def apply(self, phase: str, rows: DataFrame) -> FrameGraph:
        if phase == "del":
            e = apply_deletions(self.edges, rows)
        else:
            n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            e = apply_additions(self.edges, rows, repartition_src=n_part)
        return replace(self, edges=barrier(e, reset_stats=True, preserve_partitioning=True))

    def seed(self, rows: DataFrame) -> FrameGraph:
        state = seed_new_nodes(self.spark, self.edges, self.state, batch=rows)
        return self if state is self.state else replace(self, state=state, n=state.count())

    def frontier(self, phase: str, rows: DataFrame, screening: bool):
        if not screening:
            r = barrier(self.state.select("id"))
        elif phase == "del":
            r = barrier(frontier_del(self.spark, self.edges, self.state, rows))
        else:
            r = barrier(frontier_add(self.spark, self.edges, self.state, rows))
        return r, r.count()

    def louvain(self, r: DataFrame | None = None) -> tuple[FrameGraph, object]:
        """Warm-started on the frontier ``r`` over the exact vertex set
        (the carried state); the static run if r is None."""
        warm = {} if r is None else dict(
            init_partition=self.state, frontier=r, vertices=self.state.select("id"),
            vertices_exact=True, n_vertices=self.n,
        )
        res = louvain(self.spark, self.edges, pre_partitioned=True, **self.opts, **warm)
        state = barrier(res.assignment)
        return replace(self, state=state, n=self.n or state.count()), res

    def rescore(self) -> float:
        return partition_modularity(self.edges, self.state)


def carry(spark: SparkSession, edges: DataFrame, state: DataFrame | None = None,
          opts: dict | None = None, pre_partitioned: bool = False):
    """The carried graph of ``edges`` and the partition ``state`` on the
    backend the small-graph guard picks (state=None: no partition yet;
    ``louvain()`` runs the static pass). opts: louvain() settings."""
    opts = {"min_gain": 1e-6, "max_levels": MAX_LEVELS, **(opts or {})}
    n, rows = local.graph_size(edges) if state is None else (state.count(), edges)
    if local.fits(n, rows):
        held = () if state is None else local.collect_state(state)
        return ArrayGraph(spark, opts, *local.collect_edges(edges), *held)
    edges = _partitioned(edges, pre_partitioned)
    if state is None:
        return FrameGraph(spark, opts, edges)
    return FrameGraph(spark, opts, edges, barrier(state), n)


class IncrementalStream:
    """Incremental Louvain over a delta stream, one ``process_batch`` per
    micro-batch: ``run_phase`` per (ts, phase) of the batch, ts order,
    del before add (availableNow folds many timesteps into one batch);
    a malformed delta row raises ValueError before any phase runs.

    Within the small-graph guard (50,000 vertices AND 5,000,000 edge
    rows) construction is one collect plus the full-local Louvain and a
    batch one collect; above it, or once a batch grows the graph past
    it, the stream carries barriered frames. A checkpoint dir keeps
    ``edges`` and ``state`` per batch, restored at construction.
    """

    def __init__(self, spark: SparkSession, base_edges: DataFrame,
                 checkpoint_dir: str | None = None, min_gain: float = 1e-6):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.opts = {"min_gain": min_gain}
        self.batches_done = -1
        if not (checkpoint_dir and self._restore()):
            self.graph, res = carry(spark, base_edges, opts=self.opts).louvain()
            self.modularity = res.modularity

    @property
    def edges(self) -> DataFrame:
        return self.graph.edges

    @property
    def state(self) -> DataFrame:
        return self.graph.state

    # -- durable state ------------------------------------------------
    def _save(self, batch_id: int) -> None:
        if not self.checkpoint_dir:
            return
        base = os.path.join(self.checkpoint_dir, f"batch={batch_id}")
        self.edges.write.mode("overwrite").parquet(f"{base}/edges")
        self.state.write.mode("overwrite").parquet(f"{base}/state")
        with open(os.path.join(self.checkpoint_dir, "MANIFEST.json"), "w") as f:
            json.dump({"batch_id": batch_id, "modularity": self.modularity}, f)

    def _restore(self) -> bool:
        if not os.path.exists(os.path.join(self.checkpoint_dir, "MANIFEST.json")):
            return False
        with open(os.path.join(self.checkpoint_dir, "MANIFEST.json")) as f:
            m = json.load(f)
        base = os.path.join(self.checkpoint_dir, f"batch={m['batch_id']}")
        read = self.spark.read.parquet
        self.graph = carry(self.spark, read(f"{base}/edges"), read(f"{base}/state"), self.opts)
        self.modularity = m["modularity"]
        self.batches_done = m["batch_id"]
        return True

    # -- the foreachBatch sink -----------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.batches_done:
            return  # replayed batch after restart: idempotent skip
        graph = self.graph
        for _, phase, rows in graph.phases(batch_df):
            graph, _, self.modularity, _ = run_phase(graph, phase, rows)
        if isinstance(graph, ArrayGraph) and not local.fits(graph.n, len(graph.src)):
            graph = carry(self.spark, graph.edges, graph.state, self.opts)  # hand over
        self.graph = graph
        self.batches_done = batch_id
        self._save(batch_id)

    def attach(self, delta_stream: DataFrame, **trigger):
        """Start the streaming query over a streaming frame of DELTA_SCHEMA."""
        return (
            delta_stream.writeStream.outputMode("append")
            .foreachBatch(self.process_batch)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )
