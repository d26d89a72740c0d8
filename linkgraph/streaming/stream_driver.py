"""Structured-Streaming wrapper for the incremental layer (stretch
beyond reference parity — SURVEY.md §1.4 notes the reference is
strictly micro-batch-per-timestep; this adapts the same per-batch
transition to a live stream via foreachBatch).

A delta stream (ts, op, src, dst, weight) — e.g. a file source watching
a landing directory, or Kafka in production — drives
``IncrementalStream.process_batch`` exactly once per micro-batch:
apply deletions, apply additions, seed new nodes, compute the
delta-screening frontier, and re-run warm-started Louvain on R.
State (edges + partition) lives on the driver: as NumPy arrays while
the graph fits the small-graph guard, as barriered DataFrames above
it (see ``IncrementalStream``), checkpointed durably per batch when a
checkpoint dir is given —
so a restart resumes from the last completed batch (exactly-once at
the batch level, the foreachBatch idempotency contract).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import numpy as np

from linkgraph.operators.louvain import (
    MAX_LEVELS,
    MAX_ROUNDS_PER_LEVEL,
    louvain,
    partition_modularity,
)
from linkgraph.operators.louvain_local import modularity, run_local_complete
from linkgraph.plans import local
from linkgraph.plans.superstep import barrier
from linkgraph.streaming.deltas import (
    add_arrays,
    apply_additions,
    apply_deletions,
    delete_arrays,
    seed_arrays,
    seed_new_nodes,
)
from linkgraph.streaming.incremental import run_incremental  # noqa: F401 (parity anchor)
from linkgraph.streaming.screening import (
    frontier_add,
    frontier_add_arrays,
    frontier_del,
    frontier_del_arrays,
)

DELTA_SCHEMA = "ts int, op string, src long, dst long, weight double"


class IncrementalStream:
    """Incremental Louvain over a delta stream, one ``process_batch``
    per micro-batch.

    Tier: a graph within the small-graph guard of ``plans/local.py``
    (at most 50,000 vertices AND at most 5,000,000 edge rows, both
    read off one vertex-count aggregation) is held on the driver.
    Construction collects it once and runs the full-local Louvain
    (``run_local_complete``); each batch is collected once and its
    whole phase transition — deletions, additions, new-node
    seeding, both delta-screening frontiers and the warm-started
    Louvain — runs on driver-held arrays through the same cores the
    guarded DataFrame operators use, so labels are identical and
    modularity agrees to 1e-12 with the distributed path. ``modularity``
    always scores ``state`` on the current graph, also after a phase
    whose frontier was empty (partition copied forward). ``state``
    and ``edges`` are published as lazy frames over those arrays. A
    graph over the guard runs the distributed path: barriered frames
    and one Spark plan per phase; a batch that grows a driver-held
    graph past the guard hands it over to that path for the rest of
    the stream. A checkpoint dir works on both tiers (the published
    frames are written per batch and restored at construction).
    """

    def __init__(
        self,
        spark: SparkSession,
        base_edges: DataFrame,
        checkpoint_dir: str | None = None,
        min_gain: float = 1e-6,
    ):
        self.spark = spark
        self.min_gain = min_gain
        self.checkpoint_dir = checkpoint_dir
        # driver-held graph (src, dst, weight, ids, comm) on the local
        # tier, None on the distributed one
        self._graph: tuple | None = None
        if local.fits(*local.graph_size(base_edges)):
            src, dst, w = local.collect_edges(base_edges)
            ids = np.unique(np.concatenate([src, dst]))
            ids, comm, self.modularity = self._louvain(src, dst, w, ids)
            self._hold(src, dst, w, ids, comm)
        else:
            self.edges = barrier(base_edges.select("src", "dst", "weight"))
            res = louvain(spark, self.edges, min_gain=min_gain)
            self.state = barrier(res.assignment)
            self.modularity = res.modularity
        self.batches_done = -1
        if checkpoint_dir:
            self._restore()

    # -- the driver-held graph -------------------------------------------
    def _louvain(self, src, dst, w, ids, init=None, frontier=None):
        """louvain() with its default limits on driver-held arrays:
        (ids, communities, modularity)."""
        _, (ids, comm), q, _, _ = run_local_complete(
            (src, dst, w), ids, float(w.sum()) / 2.0, self.min_gain,
            MAX_ROUNDS_PER_LEVEL, MAX_LEVELS,
            init=init, frontier=frontier, force=init is not None,
        )
        return ids, comm, q

    def _hold(self, src, dst, w, ids, comm) -> None:
        """Keep the graph on the driver while it fits the guard and
        publish ``edges`` and ``state`` as lazy frames over it."""
        self.edges = local.frame(
            self.spark, local.EDGE_SCHEMA, src=src, dst=dst, weight=w
        )
        self.state = local.frame(
            self.spark, "id long, community long", id=ids, community=comm
        )
        fits = local.fits(len(ids), len(src))
        self._graph = (src, dst, w, ids, comm) if fits else None

    def _process_local(self, batch_df: DataFrame) -> None:
        """One batch on the driver-held graph: one collect of the
        batch, then every phase on arrays."""
        pdf = batch_df.select(
            F.col("ts").cast("int").alias("ts"),
            "op",
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.coalesce(F.col("weight"), F.lit(1.0)).cast("double").alias("weight"),
        ).toPandas()
        src, dst, w, ids, comm = self._graph
        for ts in np.unique(pdf["ts"].to_numpy()):
            for phase in ("del", "add"):
                rows = pdf[(pdf["ts"] == ts) & (pdf["op"] == phase)]
                if rows.empty:
                    continue
                b_src = rows["src"].to_numpy(dtype=np.int64)
                b_dst = rows["dst"].to_numpy(dtype=np.int64)
                if phase == "del":
                    src, dst, w = delete_arrays(src, dst, w, b_src, b_dst)
                    r = frontier_del_arrays(src, dst, ids, comm, b_src, b_dst)
                else:
                    src, dst, w = add_arrays(
                        src, dst, w, b_src, b_dst,
                        rows["weight"].to_numpy(dtype=np.float64),
                    )
                    ids, comm = seed_arrays(
                        src, dst, ids, comm, np.concatenate([b_src, b_dst])
                    )
                    r = frontier_add_arrays(src, dst, w, ids, comm, b_src, b_dst)
                if len(r):
                    ids, comm, self.modularity = self._louvain(
                        src, dst, w, ids, init=(ids, comm), frontier=r
                    )
                else:
                    # partition copied forward onto the changed graph
                    self.modularity = modularity((src, dst, w), ids, comm)
        self._hold(src, dst, w, ids, comm)

    # -- durable state ------------------------------------------------
    def _save(self, batch_id: int) -> None:
        if not self.checkpoint_dir:
            return
        base = os.path.join(self.checkpoint_dir, f"batch={batch_id}")
        self.edges.write.mode("overwrite").parquet(f"{base}/edges")
        self.state.write.mode("overwrite").parquet(f"{base}/state")
        with open(os.path.join(self.checkpoint_dir, "MANIFEST.json"), "w") as f:
            json.dump({"batch_id": batch_id, "modularity": self.modularity}, f)

    def _restore(self) -> None:
        mp = os.path.join(self.checkpoint_dir, "MANIFEST.json")
        if not os.path.exists(mp):
            return
        with open(mp) as f:
            m = json.load(f)
        base = os.path.join(self.checkpoint_dir, f"batch={m['batch_id']}")
        edges = self.spark.read.parquet(f"{base}/edges")
        state = self.spark.read.parquet(f"{base}/state")
        # the partition covers the vertex set: its size is the guard's
        # vertex count
        if local.fits(state.count(), edges):
            self._hold(*local.collect_edges(edges), *local.collect_state(state))
        else:
            self._graph = None
            self.edges = barrier(edges)
            self.state = barrier(state)
        self.modularity = m["modularity"]
        self.batches_done = m["batch_id"]

    # -- the foreachBatch sink -----------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.batches_done:
            return  # replayed batch after restart: idempotent skip
        # One micro-batch may span MANY timesteps (availableNow folds
        # all pending files into one batch) — reference semantics are
        # del-phase then add-phase PER TIMESTEP in ts order
        # (run_incremental's inner loop): an edge added at ts_i and
        # deleted at ts_j > i within the same batch must not survive.
        if self._graph is not None:
            self._process_local(batch_df)
        else:
            self._process_distributed(batch_df)
        self.batches_done = batch_id
        self._save(batch_id)

    def _process_distributed(self, batch_df: DataFrame) -> None:
        ts_list = [
            r.ts for r in batch_df.select("ts").distinct().orderBy("ts").collect()
        ]
        for ts, phase in ((t, p) for t in ts_list for p in ("del", "add")):
            batch = batch_df.filter(
                (F.col("ts") == ts) & (F.col("op") == phase)
            ).select("src", "dst", "weight")
            if batch.isEmpty():
                continue
            if phase == "del":
                new_edges = barrier(apply_deletions(self.edges, batch))
                verts = self.state.select("id")
                r = barrier(frontier_del(self.spark, new_edges, self.state, batch))
            else:
                new_edges = barrier(apply_additions(self.edges, batch))
                self.state = seed_new_nodes(self.spark, new_edges, self.state)
                verts = self.state.select("id")
                r = barrier(frontier_add(self.spark, new_edges, self.state, batch))
            if not r.isEmpty():
                res = louvain(
                    self.spark,
                    new_edges,
                    min_gain=self.min_gain,
                    init_partition=self.state,
                    frontier=r,
                    vertices=verts,
                )
                self.state = barrier(res.assignment)
                self.modularity = res.modularity
            else:
                # partition copied forward onto the changed graph
                self.modularity = partition_modularity(new_edges, self.state)
            self.edges = new_edges

    def attach(self, delta_stream: DataFrame, **trigger):
        """Start the streaming query: delta_stream must be a streaming
        DataFrame with DELTA_SCHEMA columns."""
        return (
            delta_stream.writeStream.outputMode("append")
            .foreachBatch(self.process_batch)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )
