"""The benchmark's workloads: inputs from the seed, timed operations,
untimed output checks.

Every workload is a closed loop with one client: the next operation is
issued when the previous one has returned its result. Generating the
inputs is fixture preparation and is not timed. Only public
``linkgraph`` functions are called, with their default parameters; the
few arguments passed define the queries (PageRank tolerance 1e-6, a
64-list IVF quantizer shared by both stores), name the stores, or
expose PageRank's superstep log.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import checks
from perfbench.trace import COUNTERS

# The vertex guard below which Louvain and screening run driver-local
# (``local_threshold`` default of louvain / frontier_add / frontier_del).
LOCAL_GUARD = 50_000

SIZES = {
    "full": {
        "pages_small": {"pages": 10_000, "min_batches": 2},
        "ivf_rw": {"vectors": 10_000, "dim": 64, "lists": 64, "queries": 200,
                   "upsert": 1_000, "delete": 200, "min_cycles": 2},
        "layouts": 2,
    },
    "smoke": {
        "pages_small": {"pages": 600, "min_batches": 2},
        "ivf_rw": {"vectors": 3_000, "dim": 16, "lists": 8, "queries": 40,
                   "upsert": 200, "delete": 50, "min_cycles": 2},
        "layouts": 2,
    },
}

# kNN calls never return a query's own id as its neighbour, so query ids
# start past every corpus id
QUERY_BASE = 10**12
N_PROBES = 20

# The page corpus is fixed (bench.py's seed); --seed drives the update
# stream. PageRank's superstep count on this generator moves from 25 to
# 41 with the corpus seed, which would swamp every other change in the
# read time.
PAGES_SEED = 42

INITS = 3
BATCH_DELETES = 20
BATCH_ADDS = 17
BATCH_NEW_VERTICES = 3


class Bench:
    """Timing samples, failure accounting and trace access for one run."""

    def __init__(self, spark, tracer, seed: int, seconds: float, workdir: str,
                 cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.workdir = workdir
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.shape: dict[str, object] = {}
        self.layer: dict[str, float] = {}
        self.role: dict[str, str] = {}  # op name -> read / write / rebuild
        self._serial = 0

    def op(self, name: str, role: str, fn, check=None):
        """Run ``fn`` timed inside a span, then ``check(out)`` untimed.
        An exception or a non-empty problem list fails the operation."""
        self.attempted += 1
        self.role[name] = role
        try:
            with self.tracer.span(name, role=role):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception:  # counted and reported; the caller decides whether to go on
            self.failed += 1
            self.problems.append(f"{name}: {traceback.format_exc(limit=-3)}")
            return None
        self.samples.setdefault(name, []).append(dt)
        problems = check(out) if check else []
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        return out

    def path(self, stem: str) -> str:
        """A fresh directory under the work dir; its base name doubles
        as a catalog table name."""
        self._serial += 1
        return os.path.join(self.workdir, f"pb_{stem}_{self._serial}")

    def median(self, name: str) -> float:
        return statistics.median(self.samples[name])

    def deadline_passed(self, start: float) -> bool:
        return time.perf_counter() - start >= self.seconds

    def trace_counts(self, name: str, prefix: str | None = None, per: int = 1) -> None:
        """Copy a span family's counters into the per-layer metrics."""
        prefix = prefix or name
        t = self.tracer
        for key in COUNTERS:
            self.layer[f"{prefix}.{key}"] = t.total(name, key) / per
        self.layer[f"{prefix}.s"] = sum(s["s"] for s in t.named(name)) / per


# ---------------------------------------------------------------------------
# graph workloads


class EdgeMirror:
    """Driver-side copy of the undirected graph, kept in step with the
    stream so every batch can be checked against NumPy."""

    def __init__(self, sym: pd.DataFrame):
        canon = sym[sym["src"] < sym["dst"]]
        self.edges = dict(
            zip(zip(canon["src"].tolist(), canon["dst"].tolist()), canon["weight"].tolist())
        )
        self.vertices = set(sym["src"].tolist())

    def arrays(self):
        k = np.array(list(self.edges), dtype=np.int64).reshape(-1, 2)
        w = np.fromiter(self.edges.values(), dtype=np.float64, count=len(self.edges))
        src = np.concatenate([k[:, 0], k[:, 1]])
        dst = np.concatenate([k[:, 1], k[:, 0]])
        return src, dst, np.concatenate([w, w])

    def make_batch(self, rng, ts: int) -> list[tuple]:
        """~20 deletions of existing edges, ~20 additions: new pairs of
        existing vertices plus a few edges to brand-new vertex ids."""
        keys = list(self.edges)
        dels = [keys[i] for i in rng.choice(len(keys), BATCH_DELETES, replace=False)]
        verts = np.array(sorted(self.vertices))
        adds: list[tuple[int, int]] = []
        while len(adds) < BATCH_ADDS:
            u, v = (int(x) for x in rng.choice(verts, 2, replace=False))
            key = (min(u, v), max(u, v))
            if key not in self.edges and key not in adds and key not in dels:
                adds.append(key)
        top = int(verts.max())
        for i in range(BATCH_NEW_VERTICES):
            adds.append((int(rng.choice(verts)), top + 1 + i))
        rows = [(ts, "del", u, v, 1.0) for u, v in dels]
        rows += [(ts, "add", u, v, 1.0) for u, v in adds]
        return rows

    def apply(self, rows) -> None:
        for _, op, u, v, w in rows:
            key = (min(u, v), max(u, v))
            if op == "del":
                self.edges.pop(key, None)
            else:
                self.edges[key] = self.edges.get(key, 0.0) + w
                self.vertices.update(key)


def _layout(b: Bench, edges, stem: str):
    """Lay the undirected graph out as the bucketed adjacency table and
    read it back materialized."""
    from linkgraph.graph.build import read_adjacency_table, write_adjacency_table

    path = b.path(stem)
    table = os.path.basename(path)
    cores = int(b.spark.conf.get("spark.sql.shuffle.partitions"))
    write_adjacency_table(edges, table, path, num_buckets=cores)
    e = read_adjacency_table(b.spark, table).persist()
    e.count()
    return e


def _graph_reads(b: Bench, e, directed, d_np, sym_np) -> None:
    """PageRank@1e-6 on the directed graph, Louvain on the undirected
    table; each result collected, then checked against NumPy."""
    from linkgraph.operators.louvain import louvain
    from linkgraph.operators.pagerank import pagerank
    from linkgraph.plans.superstep import SuperstepRunner

    spark = b.spark
    src, dst, w = sym_np
    # pagerank's own runner, made here so its superstep log is visible
    runner = SuperstepRunner(spark, run_id="pb-pagerank", max_iter=100)
    b.op(
        "pagerank", "read",
        lambda: pagerank(spark, directed, tol=1e-6, runner=runner).toPandas(),
        lambda pdf: checks.check_pagerank(pdf, *d_np),
    )
    steps = [m["seconds"] for m in runner.metrics]
    b.shape["pagerank_supersteps"] = len(steps)
    b.layer["plans.pagerank.supersteps"] = len(steps)
    if steps:
        b.layer["plans.pagerank.superstep_p50_s"] = statistics.median(steps)
        b.layer["plans.pagerank.edges_per_superstep_s"] = (
            len(d_np[0]) * len(steps) / b.median("pagerank"))

    def run_louvain():
        res = louvain(spark, e)
        b.shape["louvain_levels"] = res.levels
        b.shape["louvain_rounds"] = len(res.metrics)
        return res, res.assignment.toPandas()

    verts = np.unique(src)
    b.op(
        "louvain", "read", run_louvain,
        lambda out: checks.check_partition(
            out[1], out[0].modularity, src, dst, w, verts, "louvain"),
    )


def _stream(b: Bench, e, mirror: EdgeMirror, min_batches: int, start: float) -> None:
    """IncrementalStream on the laid-out graph, fed one batch per
    timestep until the run's time is up (at least ``min_batches``)."""
    from linkgraph.streaming.stream_driver import DELTA_SCHEMA, IncrementalStream

    spark = b.spark
    # construction is ~1 s: time it a few times, keep the last stream
    for _ in range(INITS):
        stream = b.op("stream_init", "rebuild", lambda: IncrementalStream(spark, e))
    if stream is None:
        return
    batch = 0
    n_delta = 0
    while batch < min_batches or not b.deadline_passed(start):
        rows = mirror.make_batch(b.rng, batch)
        df = spark.createDataFrame(rows, DELTA_SCHEMA)

        def process(df=df, batch=batch):
            # timed until the new state is materialized
            with b.tracer.span("streaming.batch"):
                stream.process_batch(df, batch)
                return stream.state.count()

        mirror.apply(rows)
        n_delta += len(rows)

        def check(_):
            src, dst, w = mirror.arrays()
            return checks.check_partition(
                stream.state.toPandas(), stream.modularity, src, dst, w,
                np.fromiter(mirror.vertices, np.int64), f"batch {batch}",
            )

        if b.op("batch", "write", process, check) is None:
            break
        batch += 1
    b.shape["batches"] = batch
    b.shape["delta_edges"] = n_delta


def _graph_layer_metrics(b: Bench) -> None:
    t = b.tracer
    b.trace_counts("pagerank")
    b.trace_counts("louvain")
    steps = b.layer["plans.pagerank.supersteps"]
    b.layer["plans.pagerank.jobs_per_superstep"] = b.layer["pagerank.jobs"] / max(steps, 1)
    b.layer["louvain.levels"] = b.shape.get("louvain_levels", 0)
    b.layer["louvain.rounds"] = b.shape.get("louvain_rounds", 0)
    n_b = max(b.shape.get("batches", 0), 1)
    b.trace_counts("stream_init", "streaming.init", per=INITS)
    for layer in ("apply", "seed", "frontier", "warm_louvain"):
        b.trace_counts(f"streaming.{layer}", per=n_b)
    b.trace_counts("streaming.batch", per=n_b)
    b.layer["streaming.frontier.shuffle_bytes"] = (
        b.layer["streaming.frontier.shuffle_read_bytes"]
        + b.layer["streaming.frontier.shuffle_write_bytes"]
    )
    calls = [s for s in t.named("streaming.warm_louvain") if s.get("call") == "louvain"]
    b.layer["streaming.warm_louvain.rounds"] = sum(s["rounds"] for s in calls) / n_b
    fracs = [s["r_size"] / s["n_vertices"] for s in calls]
    b.layer["streaming.r_frac"] = statistics.mean(fracs) if fracs else 0.0
    if not t.enabled:
        return
    b.shape["r_frac_mean"] = b.layer["streaming.r_frac"]
    # which tier ran: the distributed level loop schedules ~12 jobs per
    # round, the driver-local one a handful per call
    rounds = max(b.shape.get("louvain_rounds", 0), 1)
    b.shape["louvain_jobs"] = b.layer["louvain.jobs"]
    b.shape["louvain_tier"] = (
        "distributed" if b.layer["louvain.jobs"] >= rounds else "driver-local")
    b.shape["screening_tier"] = (
        "distributed" if b.shape["vertices"] > LOCAL_GUARD else "driver-local")
    b.shape["local_guard"] = LOCAL_GUARD


def run_pages_small(b: Bench, size: dict, layouts: int) -> None:
    from linkgraph.sources.extract import pages_to_graph
    from linkgraph.sources.pages import generate_pages

    spark = b.spark
    # the corpus is the same on every run: generate it once per checkout
    cache = os.path.join(b.cache_dir, f"pages-{size['pages']}-{PAGES_SEED}.parquet")
    if not os.path.exists(cache):
        tmp = b.path("pages_fixture")
        generate_pages(spark, size["pages"], seed=PAGES_SEED).write.parquet(tmp)
        os.makedirs(b.cache_dir, exist_ok=True)
        os.replace(tmp, cache)
    pages = spark.read.parquet(cache).persist()
    pages.count()
    e = directed = None

    def layout():
        """Extract the link graph from the pages, then lay it out."""
        d, und, _ = pages_to_graph(spark, pages)
        with b.tracer.span("sources.extract"):
            t0 = time.perf_counter()
            d = d.persist()
            n = d.count()
            b.samples.setdefault("extract", []).append(time.perf_counter() - t0)
        b.shape["directed_rows"] = n
        return d, _layout(b, und, "pages")

    for _ in range(layouts):
        for df in (e, directed):
            if df is not None:
                df.unpersist()
        directed, e = b.op("layout", "setup", layout)
    pages.unpersist()
    sym = e.toPandas()
    sym_np = tuple(sym[c].to_numpy() for c in ("src", "dst", "weight"))
    d = directed.toPandas()
    d_np = tuple(d[c].to_numpy() for c in ("src", "dst", "weight"))
    b.shape["vertices"] = int(len(np.unique(sym_np[0])))
    b.shape["edge_rows"] = len(sym)
    start = time.perf_counter()
    _graph_reads(b, e, directed, d_np, sym_np)
    _stream(b, e, EdgeMirror(sym), size["min_batches"], start)
    b.trace_counts("sources.extract", per=layouts)
    b.layer["sources.extract.rows_out"] = b.shape["directed_rows"]
    # the layout span holds the extraction; graph.layout is the rest
    b.trace_counts("layout", "graph.layout", per=layouts)
    for key in COUNTERS + ("s",):
        b.layer[f"graph.layout.{key}"] -= b.layer[f"sources.extract.{key}"]
    _graph_layer_metrics(b)


# ---------------------------------------------------------------------------
# IVF read/write


def _files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def run_ivf_rw(b: Bench, size: dict, layouts: int) -> None:
    from linkgraph.functions.similarity import (
        build_ivf_index, build_ivf_table, ivf_index_compact, ivf_index_delete,
        ivf_index_upsert, ivf_table_compact, ivf_table_delete, ivf_table_upsert,
        knn_ivf_indexed, knn_ivf_join_table,
    )

    spark = b.spark
    dim = size["dim"]
    schema = "vec_id long, embedding array<double>"

    def frame(ids, mat):
        return spark.createDataFrame(
            pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(mat)}), schema
        )

    n = size["vectors"]
    base = b.rng.standard_normal((n, dim))
    vectors = frame(np.arange(n), base).persist()
    vectors.count()
    store = {}

    def layout():
        path = b.path("ivf_index")
        table_path = b.path("ivf_table")
        table = os.path.basename(table_path)
        cents = build_ivf_index(vectors, path, n_centroids=size["lists"])
        build_ivf_table(vectors, table, table_path, centroids=cents)
        return path, table

    for _ in range(layouts):
        store["path"], store["table"] = b.op("layout", "setup", layout)
    vectors.unpersist()
    path, table = store["path"], store["table"]
    table_dir = os.path.join(b.workdir, table)

    live = set(range(n))
    deleted: set[int] = set()
    next_id = n

    def neighbours(pdf):
        return {(int(q), int(r)): int(v) for q, r, v in
                zip(pdf["query_id"], pdf["rank"], pdf["neighbor_id"])}

    def served_ok(what, got):
        back = {v for v in got.values() if v in deleted}
        return [f"{what}: deleted ids served again: {sorted(back)[:5]}"] if back else []

    def check_reads(what, got, probes):
        """No deleted id comes back; each probe (a vector just upserted)
        is its own nearest neighbour."""
        out = served_ok(what, got)
        miss = [i for i in probes if got.get((QUERY_BASE + i, 1)) != i]
        if miss:
            out.append(f"{what}: upserted vectors do not find themselves: {miss[:5]}")
        return out

    def compact():
        ivf_index_compact(spark, path)
        ivf_table_compact(spark, table)

    # random queries get ids no corpus vector will reach
    query_ids = QUERY_BASE + 10**9 + np.arange(size["queries"])

    def read(serve_name, join_name, role, probe_ids, probe_mat):
        """Serve and join one query batch that carries ``probe_ids``."""
        probes = [int(i) for i in probe_ids]
        qmat = np.vstack([b.rng.standard_normal((size["queries"], dim)), probe_mat])
        q = frame(np.concatenate([query_ids, QUERY_BASE + probe_ids]), qmat)
        served = b.op(
            serve_name, role,
            lambda: neighbours(knn_ivf_indexed(spark, path, q).toPandas()),
            lambda got: check_reads("serve", got, probes),
        )
        b.op(
            join_name, role,
            lambda: neighbours(knn_ivf_join_table(spark, table, q).toPandas()),
            lambda got: check_reads("join", got, probes) + (
                [] if served is None or got == served
                else ["serve and join disagree on the top-k"]
            ),
        )

    # untimed first reads of the fresh stores, probing corpus vectors:
    # the first kNN calls of a process pay one-time plan and code
    # generation that a serving process pays once
    probe_ids = b.rng.choice(n, N_PROBES, replace=False)
    read("knn_serve_warmup", "knn_join_warmup", "check", probe_ids, base[probe_ids])
    start = time.perf_counter()
    cycles = 0
    # each cycle writes, then reads under the delta and tombstones the
    # writes so far left; the reads carry the vectors just upserted as
    # probes. One compaction folds the debt back at the end.
    while cycles < size["min_cycles"] or not b.deadline_passed(start):
        new_ids = np.arange(next_id, next_id + size["upsert"])
        next_id += size["upsert"]
        new_mat = b.rng.standard_normal((size["upsert"], dim))
        up = frame(new_ids, new_mat).persist()
        up.count()
        gone = [int(i) for i in b.rng.choice(sorted(live), size["delete"], replace=False)]

        def write():
            with b.tracer.span("similarity.write"):
                ivf_index_upsert(spark, path, up)
                ivf_table_upsert(spark, table, up)
                ivf_index_delete(spark, path, gone)
                ivf_table_delete(spark, table, gone)

        b.op("ivf_write", "write", write)
        up.unpersist()
        live.update(int(i) for i in new_ids)
        live.difference_update(gone)
        deleted.update(gone)

        probe_ids, probe_mat = new_ids[:N_PROBES], new_mat[:N_PROBES]
        read("knn_serve", "knn_join", "read", probe_ids, probe_mat)
        cycles += 1
    b.shape["cycles"] = cycles
    b.shape["files_before_compact"] = _files(path) + _files(table_dir)
    b.op("ivf_compact", "rebuild", compact)
    b.shape["files_after_compact"] = _files(path) + _files(table_dir)

    probes = [int(i) for i in probe_ids]
    q = frame(QUERY_BASE + probe_ids, probe_mat)
    b.op("knn_serve_after_compact", "check",
         lambda: neighbours(knn_ivf_indexed(spark, path, q).toPandas()),
         lambda got: check_reads("serve after compact", got, probes))
    for name in ("knn_serve_warmup", "knn_join_warmup", "knn_serve_after_compact"):
        b.samples.pop(name, None)

    b.trace_counts("layout", "similarity.build", per=layouts)
    b.trace_counts("knn_serve", "similarity.serve", per=len(b.samples.get("knn_serve", [1])))
    b.trace_counts("knn_join", "similarity.join", per=len(b.samples.get("knn_join", [1])))
    b.trace_counts("ivf_write", "similarity.write", per=cycles)
    b.trace_counts("ivf_compact", "similarity.compact")
    b.layer["similarity.join.shuffle_bytes"] = (
        b.layer["similarity.join.shuffle_read_bytes"] + b.layer["similarity.join.shuffle_write_bytes"]
    )
    b.layer["similarity.files"] = b.shape["files_before_compact"]
    b.layer["similarity.files_after_compact"] = b.shape["files_after_compact"]


WORKLOADS = {
    "pages_small": run_pages_small,
    "ivf_rw": run_ivf_rw,
}
