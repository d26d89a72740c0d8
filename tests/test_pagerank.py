from __future__ import annotations

import numpy as np
import pytest

from linkgraph.graph.build import build_graph
from linkgraph.operators.pagerank import pagerank
from tests.fixtures import random_edges, toy_edges_df
from tests.oracles import pagerank_oracle


def _assert_allclose(spark_result, oracle, tol=1e-6):
    got = {r.id: r.score for r in spark_result.collect()}
    assert set(got) == set(oracle)
    for k in oracle:
        assert abs(got[k] - oracle[k]) < tol, (k, got[k], oracle[k])


def test_pagerank_toy_undirected(spark):
    g = build_graph(toy_edges_df(spark))
    edges = [(r.src, r.dst, r.weight) for r in g.collect()]
    result = pagerank(spark, g, tol=1e-9)
    _assert_allclose(result, pagerank_oracle(edges, tol=1e-9), tol=1e-6)


def test_pagerank_sums_to_one(spark):
    g = build_graph(toy_edges_df(spark))
    result = pagerank(spark, g)
    total = sum(r.score for r in result.collect())
    assert abs(total - 1.0) < 1e-9


def test_pagerank_directed_with_dangling(spark):
    # 0->1->2, 2 dangling; 3->0
    edges = [(0, 1, 1.0), (1, 2, 1.0), (3, 0, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, weight double")
    result = pagerank(spark, df, tol=1e-10)
    _assert_allclose(result, pagerank_oracle(edges, tol=1e-10), tol=1e-6)


@pytest.mark.parametrize("seed", [7, 42])
def test_pagerank_random_graph(spark, seed):
    raw = random_edges(60, 200, seed, weighted=True)
    df = spark.createDataFrame(raw, "src long, dst long, weight double")
    g = build_graph(df)
    edges = [(r.src, r.dst, r.weight) for r in g.collect()]
    result = pagerank(spark, g, tol=1e-9)
    _assert_allclose(result, pagerank_oracle(edges, tol=1e-9), tol=1e-6)


def test_pagerank_salted_matches_plain(spark, distributed):
    g = build_graph(toy_edges_df(spark))
    plain = {r.id: r.score for r in pagerank(spark, g, tol=1e-9).collect()}
    salted = {r.id: r.score for r in pagerank(spark, g, tol=1e-9, salt_hubs=True).collect()}
    assert plain.keys() == salted.keys()
    assert all(abs(plain[k] - salted[k]) < 1e-9 for k in plain)


def test_pagerank_checkpoint_resume(spark, tmp_path):
    """Kill-after-k / restart-from-checkpoint equivalence (north_rule)."""
    g = build_graph(toy_edges_df(spark))
    full = {r.id: r.score for r in pagerank(spark, g, tol=1e-10).collect()}

    ckpt = str(tmp_path / "ckpt")
    # phase 1: run only 3 supersteps, checkpointing every superstep
    from linkgraph.plans.superstep import SuperstepRunner

    r1 = SuperstepRunner(spark, run_id="pr", checkpoint_dir=ckpt, checkpoint_every=1, max_iter=3)
    pagerank(spark, g, tol=1e-10, runner=r1)
    assert r1.load_checkpoint()[1] == 2  # last completed superstep

    # phase 2: fresh runner resumes from the manifest and converges
    r2 = SuperstepRunner(spark, run_id="pr", checkpoint_dir=ckpt, checkpoint_every=5, max_iter=200)
    resumed = {r.id: r.score for r in pagerank(spark, g, tol=1e-10, runner=r2).collect()}
    assert r2.metrics[0]["superstep"] == 3  # actually resumed, not restarted
    assert all(abs(full[k] - resumed[k]) < 1e-9 for k in full)


def test_pagerank_metrics_logged(spark):
    from linkgraph.plans.superstep import SuperstepRunner

    r = SuperstepRunner(spark, run_id="m", max_iter=50)
    pagerank(spark, build_graph(toy_edges_df(spark)), tol=1e-6, runner=r)
    assert len(r.metrics) >= 2
    deltas = [m["delta"] for m in r.metrics]
    assert deltas[-1] < 1e-6
    assert all(np.isfinite(d) for d in deltas)


def test_pagerank_chained_matches_unchained(spark, distributed):
    """chain=k (k iterations per materialized barrier) must reproduce
    the per-iteration schedule's scores at the same iteration count —
    both with and without dangling vertices (the dangling case folds
    the mass as an in-plan broadcast scalar each chained iteration)."""
    from linkgraph.plans.superstep import SuperstepRunner

    # dangling: 2 has no out-edges
    dangling = [(0, 1, 1.0), (1, 2, 1.0), (3, 0, 1.0), (0, 3, 2.0)]
    # no dangling: every vertex links out (the constant-base fast case)
    cyclic = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 1.0), (3, 1, 1.0)]
    for edges in (dangling, cyclic):
        df = spark.createDataFrame(edges, "src long, dst long, weight double")
        r1 = SuperstepRunner(spark, run_id="chain-a", max_iter=12)
        a = {r.id: r.score
             for r in pagerank(spark, df, tol=0.0, runner=r1).collect()}
        r3 = SuperstepRunner(spark, run_id="chain-b", max_iter=4)
        b = {r.id: r.score
             for r in pagerank(spark, df, tol=0.0, runner=r3, chain=3).collect()}
        assert a.keys() == b.keys()
        assert all(abs(a[k] - b[k]) < 1e-12 for k in a), (edges, a, b)
        assert len(r3.metrics) == 4  # 4 chains of 3 = 12 iterations


def test_pagerank_chained_converges_to_oracle(spark, distributed):
    g = build_graph(toy_edges_df(spark))
    edges = [(r.src, r.dst, r.weight) for r in g.collect()]
    result = pagerank(spark, g, tol=1e-9, chain=4)
    _assert_allclose(result, pagerank_oracle(edges, tol=1e-9), tol=1e-6)


def test_pagerank_auto_chain_converges_like_unchained(spark, distributed):
    """chain='auto' (the default) must reach the same fixpoint as the
    reference per-iteration schedule: identical convergence criterion,
    scores allclose (auto may execute a few iterations past the
    crossing — same tolerance argument as fixed chains), and tol=0
    fixed-k mode is EXACTLY the chain=1 schedule (oracle safety)."""
    import math

    from linkgraph.plans.superstep import SuperstepRunner

    df = spark.createDataFrame(
        random_edges(120, 480, seed=3), "src long, dst long, weight double"
    )
    r_auto = SuperstepRunner(spark, run_id="auto-a", max_iter=100)
    auto = {r.id: r.score for r in pagerank(
        spark, df, tol=1e-8, runner=r_auto).collect()}
    r_one = SuperstepRunner(spark, run_id="auto-b", max_iter=100)
    one = {r.id: r.score for r in pagerank(
        spark, df, tol=1e-8, runner=r_one, chain=1).collect()}
    assert set(auto) == set(one)
    for k in one:
        assert math.isclose(auto[k], one[k], rel_tol=0, abs_tol=5e-8)
    # fixed-k mode: auto IS chain=1 (bit-identical schedule and scores)
    r_fa = SuperstepRunner(spark, run_id="fk-a", max_iter=6)
    fa = {r.id: r.score for r in pagerank(
        spark, df, tol=0.0, runner=r_fa).collect()}
    r_f1 = SuperstepRunner(spark, run_id="fk-b", max_iter=6)
    f1 = {r.id: r.score for r in pagerank(
        spark, df, tol=0.0, runner=r_f1, chain=1).collect()}
    assert fa == f1
    assert len(r_fa.metrics) == len(r_f1.metrics) == 6
