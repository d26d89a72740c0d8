"""Checkpointed superstep execution — the engine's iteration substrate.

All four north-star queries (PageRank / CC / LPA / Louvain rounds) are
fixpoint recurrences ``state' = step(state)``. Iterative DataFrame code
has one dominant failure mode: the logical plan grows with every
iteration until planning time/driver memory explodes (SURVEY.md §7
watch list). This module owns the fix:

* ``barrier(df)`` truncates lineage every superstep via an eager
  ``localCheckpoint`` (executor-local materialization, no disk round
  trip — the cheap intra-run barrier);
* ``SuperstepRunner`` adds durable parquet checkpoints every
  ``checkpoint_every`` supersteps + a JSON manifest, making a run
  resumable mid-iteration (north_rule: "resumable from checkpoint"),
  and appends per-superstep convergence/row metrics to a parquet
  metrics table (the Spark analog of the reference's hierarchical
  timers, ``src/timer.h:8-11``, and its per-iteration cost print,
  ``src/louvain.cpp:462``).

State tables are small relative to edges (one row per vertex), so a
durable checkpoint is one narrow parquet write; edges are never
checkpointed — they are immutable per graph version.

Execution order per superstep (exactly one materialization of the
step's plan): ``new = step(state, i)`` builds the plan lazily →
``barrier(new)`` materializes it → ``converge(state, new, i)`` runs
its scalar aggregate against the already-materialized frame (cheap).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from linkgraph.plans import local


# localCheckpoint leaves its backing RDD persisted (DataFrame.unpersist
# does NOT free it) — over hundreds of supersteps that is an
# executor-memory leak causing GC spikes. barrier() keeps the handle of
# the RDD each checkpoint creates ON the returned frame; release() frees
# it eagerly when the state is superseded. A frame dropped without
# release() takes its handle with it: no module state outlives the
# frame, and Spark's ContextCleaner may unpersist the blocks once the
# plan is unreachable.
_RDDS_ATTR = "_barrier_rdds"


def barrier(
    df: DataFrame, reset_stats: bool = False, preserve_partitioning: bool = False
) -> DataFrame:
    """Materialize + truncate lineage (eager executor-local checkpoint).

    preserve_partitioning=True keeps the frame's physical partitioning
    across the barrier (LogicalRDD outputPartitioning), so a state kept
    hash-partitioned on its join key crosses barriers without
    re-exchanging. Under AQE the checkpoint cannot map the adaptive
    plan's partitioning back (the scan comes out unpartitioned), so
    this mode compiles/executes THIS materialization with AQE disabled
    — the right trade on superstep state plans, whose uniform vertex
    keys don't need AQE's runtime re-planning, while the exchange-free
    co-partitioned joins it buys are the big-path win.

    reset_stats=True rewraps the checkpointed RDD in a fresh LogicalRDD
    with default statistics. Needed by loops whose step multiplies the
    state's size-estimate through inner joins: localCheckpoint inherits
    the estimated sizeInBytes (originStats), so estimates compound
    multiplicatively across barriers until Catalyst spends minutes on
    BigInt products (SizeInBytesOnlyStatsPlanVisitor.visitJoin —
    observed x3 DIGIT growth per Louvain level: the contraction's two
    inner joins square the state estimate into the next level's edge
    estimate).

    BOTH flags together = the big-path iterative mode: fresh stats AND
    preserved partitioning, via a direct LogicalRDD rebuild that copies
    the checkpoint's output/rdd/partitioning but drops originStats and
    originConstraints. (internalCreateDataFrame, the reset-only path,
    cannot do this — it always produces UnknownPartitioning.)

    Footgun: barrier a FRESH frame. A Dataset that was already
    executed under AQE caches its adaptive plan, so the AQE-off
    compile here never happens and the checkpoint comes out
    UnknownPartitioning — rebuild the plan (re-call the producing
    function) instead of barriering a frame you already collected.
    """
    spark = df.sparkSession
    if preserve_partitioning:
        key = "spark.sql.adaptive.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            out = df.localCheckpoint(eager=True)
        finally:
            spark.conf.set(key, old)
    else:
        out = df.localCheckpoint(eager=True)
    # the RDD the checkpoint persisted IS the LogicalRDD leaf's rdd —
    # grab it directly (O(1) py4j) for release() bookkeeping. (The old
    # scheme diffed the context's whole persistent-RDD registry per
    # barrier: per-entry py4j calls over every leaked entry, quadratic
    # driver overhead across a multi-level run.)
    try:
        leaf = out._jdf.queryExecution().analyzed().collectLeaves().apply(0)
        created = [leaf.productElement(1)]
    except Exception:
        created = []
    if reset_stats and preserve_partitioning:
        # rebuild the LogicalRDD leaf: same output attrs, same
        # checkpointed RDD, same outputPartitioning/ordering — but
        # empty originStats/originConstraints (fresh default stats)
        jvm = spark._jvm
        leaf = out._jdf.queryExecution().analyzed().collectLeaves().apply(0)
        empty = jvm.scala.Option.empty()
        new_leaf = jvm.org.apache.spark.sql.execution.LogicalRDD(
            leaf.productElement(0),  # output: Seq[Attribute]
            leaf.productElement(1),  # rdd
            leaf.productElement(2),  # outputPartitioning
            leaf.productElement(3),  # outputOrdering
            False,                   # isStreaming
            leaf.productElement(5),  # stream
            spark._jsparkSession,
            empty,                   # originStats
            empty,                   # originConstraints
        )
        new_jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, new_leaf
        )
        out = DataFrame(new_jdf, spark)
    elif reset_stats:
        jdf = out._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(new_jdf, spark)
    setattr(out, _RDDS_ATTR, created)
    return out


def release(df: DataFrame) -> None:
    """Free the executor blocks of a superseded barriered state."""
    for jrdd in getattr(df, _RDDS_ATTR, ()):
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
    setattr(df, _RDDS_ATTR, ())
    try:
        df.unpersist()
    except Exception:
        pass


@dataclass
class SuperstepRunner:
    """Drives ``state' = step(state, i)`` to a fixpoint with barriers,
    durable checkpoints, and a metrics log.

    ``step(state, i) -> new_state`` builds the next state's plan
    (lazy). ``converge(old, new, i) -> (converged, delta)`` runs after
    the barrier, against materialized data — delta is whatever scalar
    the query's convergence test produced (max |score diff| for
    PageRank, move count for LPA/Louvain), logged per superstep like
    the reference's printed per-pass modularity.
    """

    spark: SparkSession
    run_id: str = "run"
    checkpoint_dir: str | None = None
    checkpoint_every: int = 10
    max_iter: int = 200
    # big-path mode: keep the state's hash partitioning across barriers
    # (see barrier(preserve_partitioning=True)) so co-partitioned
    # superstep joins stay exchange-free
    preserve_partitioning: bool = False
    # per-partition lineage (north_rule): record (partition_id, rows)
    # of the state at every durable checkpoint
    partition_lineage: bool = False
    metrics: list[dict] = field(default_factory=list)
    lineage: list[dict] = field(default_factory=list)

    # ---- durable checkpoint plumbing -------------------------------
    def _ckpt_path(self, superstep: int) -> str:
        return os.path.join(self.checkpoint_dir, self.run_id, f"superstep={superstep}")

    def _manifest_path(self) -> str:
        return os.path.join(self.checkpoint_dir, self.run_id, "MANIFEST.json")

    def save_checkpoint(self, state: DataFrame, superstep: int) -> None:
        path = self._ckpt_path(superstep)
        state.write.mode("overwrite").parquet(path)
        manifest = {"run_id": self.run_id, "superstep": superstep, "path": path}
        with open(self._manifest_path(), "w") as f:
            json.dump(manifest, f)
        if self.partition_lineage:
            from pyspark.sql import functions as F

            rows = (
                state.groupBy(F.spark_partition_id().alias("partition_id"))
                .count()
                .collect()
            )
            for r in rows:
                self.lineage.append(
                    {
                        "run_id": self.run_id,
                        "superstep": superstep,
                        "partition_id": int(r["partition_id"]),
                        "rows": int(r["count"]),
                    }
                )

    def load_checkpoint(self) -> tuple[DataFrame, int] | None:
        """Resume point: (state, last_completed_superstep) or None."""
        if not self.checkpoint_dir:
            return None
        mp = self._manifest_path()
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            manifest = json.load(f)
        return self.spark.read.parquet(manifest["path"]), manifest["superstep"]

    # ---- the loop ---------------------------------------------------
    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        converge: Callable[[DataFrame, DataFrame, int], tuple[bool, float]],
        resume: bool = True,
    ) -> DataFrame:
        start_step = 0
        if resume and self.checkpoint_dir:
            loaded = self.load_checkpoint()
            if loaded is not None:
                state, last = loaded
                start_step = last + 1
        state = barrier(state, preserve_partitioning=self.preserve_partitioning)
        for i in range(start_step, self.max_iter):
            t0 = time.perf_counter()
            new_state = barrier(
                step(state, i), preserve_partitioning=self.preserve_partitioning
            )
            converged, delta = converge(state, new_state, i)
            release(state)
            state = new_state
            dt = time.perf_counter() - t0
            self.metrics.append(
                {
                    "run_id": self.run_id,
                    "superstep": i,
                    "seconds": dt,
                    "delta": float(delta),
                    "converged": bool(converged),
                }
            )
            if self.checkpoint_dir and (
                converged or (i + 1) % self.checkpoint_every == 0
            ):
                self.save_checkpoint(state, i)
            if converged:
                break
        return state

    def write_lineage(self, path: str) -> None:
        """Persist per-partition lineage rows (north_rule F6 schema)."""
        if not self.lineage:
            return
        local.records(
            self.spark,
            "run_id string, superstep int, partition_id int, rows long",
            self.lineage,
        ).write.mode("append").parquet(path)

    def write_metrics(self, path: str) -> None:
        """Persist the metrics log (reference timer-tree analog)."""
        if not self.metrics:
            return
        local.records(
            self.spark,
            "run_id string, superstep int, seconds double, delta double, converged boolean",
            self.metrics,
        ).write.mode("append").parquet(path)
