"""The driver-local tier (plans/local.py): the one small-graph guard,
and local == distributed equivalence for the operators that use it
directly — PageRank (scores allclose 1e-6, same iteration count) and
IncrementalStream (labels exact, modularity within 1e-12 after every
batch)."""

from __future__ import annotations

import gc
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

import linkgraph.plans.local as local
from linkgraph.graph.build import build_graph
from linkgraph.operators.pagerank import pagerank
from linkgraph.plans.superstep import SuperstepRunner, barrier, release
from linkgraph.streaming.incremental import run_incremental
from linkgraph.streaming.stream_driver import (
    DELTA_SCHEMA,
    ArrayGraph,
    FrameGraph,
    IncrementalStream,
)
from tests.fixtures import TOY_DELTAS, random_edges, toy_deltas_df, toy_edges_df
from tests.oracle_dynamic import run_incremental_o

DANGLING = [(0, 1, 1.0), (1, 2, 1.0), (3, 0, 1.0), (0, 3, 2.0), (4, 2, 3.0)]


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    sc.setJobGroup("local-tier-probe", "probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup("local-tier-rest", "rest")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup("local-tier-probe"))


@pytest.fixture
def collects(monkeypatch):
    """Count the local tier's edge collects."""
    calls = []
    orig = local.collect_edges

    def spy(edges):
        calls.append(1)
        return orig(edges)

    monkeypatch.setattr(local, "collect_edges", spy)
    return calls


# ---- the guard ---------------------------------------------------------


def test_guard_counts_edge_rows_only_after_vertex_check(spark):
    df = spark.createDataFrame([(0, 1, 1.0), (1, 2, 1.0)], local.EDGE_SCHEMA)
    fits, jobs = _jobs(spark, lambda: local.fits(3, df, max_vertices=2))
    assert not fits and jobs == 0  # vertex side failed: no row count
    fits, jobs = _jobs(spark, lambda: local.fits(3, df, max_vertices=3))
    assert fits and jobs > 0
    assert not local.fits(3, df, max_vertices=3, max_edge_rows=1)
    assert not local.fits(0, 0, max_vertices=0)
    assert local.graph_size(df) == (3, 2)


def test_guard_at_zero_runs_every_operator_distributed(spark, monkeypatch, collects):
    monkeypatch.setattr(local, "MAX_VERTICES", 0)
    g = build_graph(toy_edges_df(spark))
    r = SuperstepRunner(spark, run_id="g0", max_iter=3)
    assert pagerank(spark, g, tol=0.0, runner=r).count() == 12
    # the stream runs louvain (cold and warm) and both frontiers
    inc = IncrementalStream(spark, g)
    inc.process_batch(toy_deltas_df(spark).filter("ts = 0"), 0)
    assert inc.state.count() == 16
    assert not collects


def test_pagerank_over_row_cap_runs_distributed(spark, monkeypatch, collects):
    df = spark.createDataFrame(DANGLING, local.EDGE_SCHEMA)
    monkeypatch.setattr(local, "MAX_EDGE_ROWS", len(DANGLING) - 1)
    pagerank(spark, df, tol=0.0, max_iter=2).collect()
    assert not collects
    monkeypatch.setattr(local, "MAX_EDGE_ROWS", len(DANGLING))
    pagerank(spark, df, tol=0.0, max_iter=2).collect()
    assert len(collects) == 1


# ---- PageRank ----------------------------------------------------------


def _pagerank_run(spark, df, tol, max_iter):
    r = SuperstepRunner(spark, run_id="tier", max_iter=max_iter)
    out = pagerank(spark, df, tol=tol, runner=r).collect()
    return {row.id: row.score for row in out}, len(r.metrics)


@pytest.mark.parametrize("graph", ["dangling", 3, 17])
@pytest.mark.parametrize("tol, max_iter", [(1e-7, 100), (0.0, 8)])
def test_pagerank_local_matches_distributed(
    spark, monkeypatch, collects, graph, tol, max_iter
):
    edges = (
        DANGLING if graph == "dangling" else random_edges(90, 300, graph, weighted=True)
    )
    df = spark.createDataFrame(edges, local.EDGE_SCHEMA)
    got, iters = _pagerank_run(spark, df, tol, max_iter)
    assert len(collects) == 1  # the local tier ran
    monkeypatch.setattr(local, "MAX_VERTICES", 0)
    want, want_iters = _pagerank_run(spark, df, tol, max_iter)
    assert len(collects) == 1  # ... and the distributed one did not collect
    assert set(got) == set(want)
    ids = sorted(want)
    np.testing.assert_allclose(
        [got[i] for i in ids], [want[i] for i in ids], rtol=0, atol=1e-6
    )
    assert iters == want_iters
    if tol == 0.0:
        assert iters == max_iter


def test_pagerank_checkpoint_runner_keeps_distributed_path(spark, tmp_path, collects):
    r = SuperstepRunner(
        spark, run_id="ck", checkpoint_dir=str(tmp_path), checkpoint_every=1, max_iter=2
    )
    pagerank(spark, build_graph(toy_edges_df(spark)), tol=0.0, runner=r).collect()
    assert not collects
    assert r.load_checkpoint()[1] == 1


# ---- IncrementalStream -------------------------------------------------

EXTRA_DELTAS = [
    (2, "add", 0, 20, 1.0),
    (2, "add", 20, 21, 1.0),
    (3, "del", 0, 20, 1.0),
]


def _stream_trail(spark, g, batches):
    """(stream, [(labels, modularity)] after construction and after
    every batch)."""
    inc = IncrementalStream(spark, g)

    def labels():
        return {r.id: r.community for r in inc.state.collect()}

    trail = [(labels(), inc.modularity)]
    for i, b in enumerate(batches):
        inc.process_batch(b, i)
        trail.append((labels(), inc.modularity))
    return inc, trail


def _assert_same_trail(a, b):
    assert len(a) == len(b)
    for (la, qa), (lb, qb) in zip(a, b):
        assert la == lb
        assert abs(qa - qb) < 1e-12


def _toy_batches(spark):
    deltas = toy_deltas_df(spark)
    folded = deltas.unionByName(spark.createDataFrame(EXTRA_DELTAS, DELTA_SCHEMA))
    return [
        [deltas.filter(F.col("ts") == t) for t in (0, 1)],
        [folded],  # one batch, four timesteps
    ]


@pytest.mark.parametrize("case", [0, 1], ids=["per_timestep", "multi_timestep"])
def test_stream_local_matches_distributed(spark, monkeypatch, case):
    g = build_graph(toy_edges_df(spark))
    batches = _toy_batches(spark)[case]
    loc, got = _stream_trail(spark, g, batches)
    assert isinstance(loc.graph, ArrayGraph)  # the driver-held tier ran
    monkeypatch.setattr(local, "MAX_VERTICES", 0)
    dist, want = _stream_trail(spark, g, batches)
    assert isinstance(dist.graph, FrameGraph)
    _assert_same_trail(got, want)
    def edges(inc):
        return {(r.src, r.dst): r.weight for r in inc.edges.collect()}

    assert edges(loc) == edges(dist)


def test_stream_local_matches_distributed_random_batch(spark, monkeypatch):
    """A weighted random graph and one batch of deletions, additions
    between old vertices, a degree-1 new vertex (adopts its neighbor's
    community) and two new vertices linked to each other (fresh
    communities)."""
    raw = random_edges(150, 450, seed=5, weighted=True)
    g = build_graph(spark.createDataFrame(raw, local.EDGE_SCHEMA)).persist()
    pairs = g.filter("src < dst").orderBy("src", "dst").collect()
    batch = [(0, "del", r.src, r.dst, 1.0) for r in pairs[::40]]
    batch += [
        (0, "add", u, (u * 7 + 3) % 150, 2.0)
        for u in range(0, 150, 15)
        if u != (u * 7 + 3) % 150
    ]
    batch += [
        (0, "add", 4, 500, 1.0), (0, "add", 501, 502, 1.0), (0, "add", 8, 501, 1.0)
    ]
    batches = [spark.createDataFrame(batch, DELTA_SCHEMA)]
    loc, got = _stream_trail(spark, g, batches)
    assert isinstance(loc.graph, ArrayGraph)
    monkeypatch.setattr(local, "MAX_VERTICES", 0)
    _, want = _stream_trail(spark, g, batches)
    _assert_same_trail(got, want)
    g.unpersist()


@pytest.mark.parametrize("guard", [None, 0], ids=["local", "distributed"])
def test_stream_modularity_scores_copied_forward_partition(spark, monkeypatch, guard):
    """One inter-community deletion leaves the frontier empty, so the
    partition is copied forward; the reported modularity must score it
    on the changed graph, not repeat the previous graph's value."""
    if guard is not None:
        monkeypatch.setattr(local, "MAX_VERTICES", guard)
    inc = IncrementalStream(spark, build_graph(toy_edges_df(spark)))
    before = {r.id: r.community for r in inc.state.collect()}
    assert before[4] != before[5]
    inc.process_batch(spark.createDataFrame([(0, "del", 4, 5, 1.0)], DELTA_SCHEMA), 0)
    state = {r.id: r.community for r in inc.state.collect()}
    assert state == before
    assert abs(inc.modularity - _modularity(inc.edges, state)) < 1e-12


@pytest.mark.parametrize("guard", [None, 0], ids=["local", "distributed"])
def test_incremental_modularity_scores_copied_forward_partition(
    spark, monkeypatch, guard
):
    """run_incremental on the same single inter-community deletion:
    the phase's Q and the run's modularity score the carried partition
    on the changed graph."""
    if guard is not None:
        monkeypatch.setattr(local, "MAX_VERTICES", guard)
    g = build_graph(toy_edges_df(spark))
    deltas = spark.createDataFrame([(0, "del", 4, 5, 1.0)], DELTA_SCHEMA)
    run = run_incremental(spark, g, deltas)
    assert [m["r_size"] for m in run.metrics] == [-1, 0]
    q = _modularity(run.edges, {r.id: r.community for r in run.state.collect()})
    assert abs(run.metrics[-1]["q"] - q) < 1e-12
    assert abs(run.modularity - q) < 1e-12


def _modularity(edges, state) -> float:
    """Q of ``state`` over a symmetric edge frame, from first principles."""
    rows = [(r.src, r.dst, r.weight) for r in edges.collect()]
    m2 = sum(w for _, _, w in rows)
    tot: dict[int, float] = {}
    for u, _, w in rows:
        tot[state[u]] = tot.get(state[u], 0.0) + w
    e_in = sum(w for u, v, w in rows if state[u] == state[v])
    return e_in / m2 - sum(t * t for t in tot.values()) / (m2 * m2)


BAD_ROWS = [
    (0, "upd", 1, 2, 1.0),
    (None, "add", 1, 2, 1.0),
    (0, None, 1, 2, 1.0),
    (0, "add", None, 2, 1.0),
    (0, "del", 1, None, 1.0),
]


@pytest.mark.parametrize("tier", [None, "frame_tier"], ids=["local", "distributed"])
def test_malformed_delta_rows_raise(spark, request, tier):
    """A delta row with an unknown op or a null ts, src or dst is an
    error on both tiers, in process_batch and in run_incremental — not
    a row to drop. The check belongs to the carried graph, so the
    distributed case carries frames (``frame_tier``)."""
    if tier is not None:
        request.getfixturevalue(tier)
    g = build_graph(toy_edges_df(spark))
    inc = IncrementalStream(spark, g)
    before = {r.id: r.community for r in inc.state.collect()}
    for bad in BAD_ROWS:
        df = spark.createDataFrame([(0, "add", 3, 9, 1.0), bad], DELTA_SCHEMA)
        with pytest.raises(ValueError, match="1 malformed delta row"):
            inc.process_batch(df, 0)
        with pytest.raises(ValueError, match="1 malformed delta row"):
            run_incremental(spark, g, df)
    assert inc.batches_done == -1
    assert {r.id: r.community for r in inc.state.collect()} == before


def test_stream_hands_over_when_a_batch_outgrows_the_guard(spark, monkeypatch):
    """The toy graph has 12 vertices; batch 0 adds four more, so with
    the guard at 12 the stream starts driver-held, then runs batch 1
    on the distributed path — and still matches the oracle."""
    monkeypatch.setattr(local, "MAX_VERTICES", 12)
    g = build_graph(toy_edges_df(spark))
    deltas = toy_deltas_df(spark)
    inc = IncrementalStream(spark, g)
    assert isinstance(inc.graph, ArrayGraph)
    inc.process_batch(deltas.filter("ts = 0"), 0)
    assert isinstance(inc.graph, FrameGraph)
    inc.process_batch(deltas.filter("ts = 1"), 1)
    base = {(r.src, r.dst): r.weight for r in g.collect()}
    want_state, want_edges, want_q, _ = run_incremental_o(base, TOY_DELTAS)
    assert {r.id: r.community for r in inc.state.collect()} == want_state
    assert {(r.src, r.dst): r.weight for r in inc.edges.collect()} == want_edges
    assert abs(inc.modularity - want_q) < 1e-12


# ---- barrier bookkeeping -----------------------------------------------


def _rdd_id(df) -> int:
    leaf = df._jdf.queryExecution().analyzed().collectLeaves().apply(0)
    return leaf.productElement(1).id()


def _module_refs(rdd_id: int) -> list[str]:
    """linkgraph module globals (walked through containers) that hold a
    JVM handle to the RDD ``rdd_id``."""
    from py4j.java_gateway import JavaObject

    found = []

    def walk(obj, path, depth):
        if isinstance(obj, JavaObject):
            try:
                if obj.id() == rdd_id:
                    found.append(path)
            except Exception:
                pass
        elif depth < 4 and isinstance(obj, dict):
            for k, v in list(obj.items()):
                walk(v, f"{path}[{k!r}]", depth + 1)
        elif depth < 4 and isinstance(obj, (list, tuple, set)):
            for i, v in enumerate(list(obj)):
                walk(v, f"{path}[{i}]", depth + 1)

    for name, mod in list(sys.modules.items()):
        if name.startswith("linkgraph"):
            for attr, v in list(vars(mod).items()):
                walk(v, f"{name}.{attr}", 0)
    return found


def test_dropped_barrier_frame_leaves_no_module_state(spark):
    df = barrier(spark.range(40).toDF("id"))
    rid = _rdd_id(df)
    del df
    gc.collect()
    assert _module_refs(rid) == []


def test_release_unpersists_the_checkpoint(spark):
    df = barrier(spark.range(40).toDF("id"))
    rid = _rdd_id(df)
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert persistent.contains(rid)
    release(df)
    assert not spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rid)
