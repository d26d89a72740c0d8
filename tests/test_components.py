from __future__ import annotations

import pytest

from linkgraph.graph.build import build_graph
from linkgraph.operators.components import connected_components
from tests.fixtures import random_edges, toy_edges_df
from tests.oracles import cc_oracle


def test_cc_toy(spark):
    g = build_graph(toy_edges_df(spark))
    got = {r.id: r.component for r in connected_components(spark, g).collect()}
    edges = [(a, b, 1.0) for a, b in
             [(r.src, r.dst) for r in toy_edges_df(spark).collect()]]
    assert got == cc_oracle(edges)
    # two components: {0,1,2,4,5,6,7,8} labeled 0, {10..13} labeled 10
    assert got[7] == 0 and got[13] == 10


@pytest.mark.parametrize("seed", [3, 99])
def test_cc_random(spark, seed):
    df = spark.createDataFrame(
        random_edges(80, 60, seed), "src long, dst long, weight double"
    )
    got = {r.id: r.component for r in connected_components(spark, df).collect()}
    assert got == cc_oracle([(r.src, r.dst, r.weight) for r in df.collect()])


def test_cc_directed_edges_treated_undirected(spark):
    df = spark.createDataFrame([(5, 1, 1.0), (1, 0, 1.0)], "src long, dst long, weight double")
    got = {r.id: r.component for r in connected_components(spark, df).collect()}
    assert got == {0: 0, 1: 0, 5: 0}


def test_cc_star_matches_min_label_on_fixtures(spark):
    """algorithm='star' (large-star/small-star) must produce the exact
    labels of the default min-label path on every fixture."""
    g = build_graph(toy_edges_df(spark))
    base = {r.id: r.component for r in connected_components(spark, g).collect()}
    star = {
        r.id: r.component
        for r in connected_components(spark, g, algorithm="star").collect()
    }
    assert star == base
    for seed in (3, 99):
        df = spark.createDataFrame(
            random_edges(80, 60, seed), "src long, dst long, weight double"
        )
        got = {
            r.id: r.component
            for r in connected_components(spark, df, algorithm="star").collect()
        }
        assert got == cc_oracle([(r.src, r.dst, r.weight) for r in df.collect()])


def test_cc_star_logarithmic_rounds_on_path_graph(spark):
    """The web-scale straggler case: a 4096-chain has diameter 4095, so
    min-label propagation needs ~4095 supersteps; the star contraction
    must converge in O(log n) rounds with the same (all-zero) labels."""
    from linkgraph.operators.components import connected_components_star

    n = 4096
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    rounds: list[dict] = []
    out = connected_components_star(spark, chain, metrics=rounds)
    got = {r.id: r.component for r in out.collect()}
    assert got == {i: 0 for i in range(n)}
    assert len(rounds) <= 16, rounds  # log2(4096) = 12 (+ fixpoint checks)


def test_cc_star_isolated_and_selfloop_vertices(spark):
    from linkgraph.operators.components import connected_components_star

    df = spark.createDataFrame(
        [(1, 2), (3, 3)], "src long, dst long"
    )
    got = {r.id: r.component for r in connected_components_star(spark, df).collect()}
    assert got == {1: 1, 2: 1, 3: 3}


def test_cc_path_graph_matches_oracle_deterministically(spark):
    """Min-label propagation over two long paths (60 and 25 edges, one
    iteration per superstep): labels equal the union-find oracle, and a
    second run gives the same labels in the same number of supersteps."""
    from linkgraph.plans.superstep import SuperstepRunner

    path_edges = [(i, i + 1, 1.0) for i in range(60)] + [
        (100 + i, 101 + i, 1.0) for i in range(25)
    ]
    df = spark.createDataFrame(path_edges, "src long, dst long, weight double")
    runs = []
    for run_id in ("path-a", "path-b"):
        r = SuperstepRunner(spark, run_id=run_id, max_iter=100)
        labels = {row.id: row.component for row in connected_components(
            spark, df, runner=r).collect()}
        runs.append((labels, len(r.metrics)))
    (a, n_a), (b, n_b) = runs
    assert a == cc_oracle(path_edges)
    assert a == b
    # label 0 needs 60 hops to reach vertex 60, plus one superstep
    # that changes nothing
    assert n_a == n_b == 61
