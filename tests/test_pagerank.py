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


def test_pagerank_distributed_runs_are_deterministic(spark, distributed):
    """Results depend only on the input and the parameters: two
    back-to-back tol-mode runs of the distributed plan take the same
    number of supersteps and agree within 1e-12 (not bit-exactly: the
    shuffle's float sums may arrive in a different order per run)."""
    from linkgraph.plans.superstep import SuperstepRunner

    df = spark.createDataFrame(
        random_edges(120, 480, seed=3), "src long, dst long, weight double"
    )
    runs = []
    for run_id in ("det-a", "det-b"):
        r = SuperstepRunner(spark, run_id=run_id, max_iter=100)
        scores = {row.id: row.score for row in pagerank(
            spark, df, tol=1e-7, runner=r).collect()}
        runs.append((scores, len(r.metrics)))
    (a, n_a), (b, n_b) = runs
    assert n_a == n_b < 100
    assert set(a) == set(b)
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a), (a, b)
