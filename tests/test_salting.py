"""Hub-salting equivalence (SURVEY.md §4 X2): the salted two-level
aggregations must produce identical results to the plain paths — the
salt only changes WHERE partial sums happen, and every decision input
is a sum of integer-valued weights (exact in float64), so labels are
exact and PageRank scores agree to float tolerance."""

from __future__ import annotations

from linkgraph.graph.build import build_graph
from linkgraph.operators.louvain import louvain
from linkgraph.operators.lpa import label_propagation
from linkgraph.operators.pagerank import pagerank
from linkgraph.sources.edgegen import generate_edges


def _hub_graph(spark):
    # Pareto out-degree + quadratically in-skewed targets: real hubs
    return generate_edges(
        spark, 300, seed=11, base_out=1, max_out=200, pareto_a=1.05
    )


def test_pagerank_salted_equals_plain(spark, distributed):
    raw = _hub_graph(spark)
    plain = {r.id: r.score for r in pagerank(spark, raw, salt_hubs=False).collect()}
    # auto-probe path with a tiny threshold -> salting ON
    salted = {
        r.id: r.score
        for r in pagerank(spark, raw, hub_degree_threshold=5).collect()
    }
    assert set(plain) == set(salted)
    assert all(abs(plain[i] - salted[i]) < 1e-9 for i in plain)


def test_lpa_salted_equals_plain(spark):
    g = build_graph(_hub_graph(spark))
    plain = {
        r.id: r.label
        for r in label_propagation(spark, g, max_iter=4, salt_hubs=False).collect()
    }
    for kwargs in (
        {"salt_hubs": True},
        {"salt_hubs": True, "broadcast_threshold": 0},
        {"hub_degree_threshold": 5},  # auto-probe -> on
    ):
        got = {
            r.id: r.label
            for r in label_propagation(spark, g, max_iter=4, **kwargs).collect()
        }
        assert got == plain, kwargs


def test_louvain_salted_equals_plain(spark):
    # smaller hub fixture + level cap: the big path pays fixed job
    # overhead per round, and this test needs 3 full multi-level runs
    g = build_graph(
        generate_edges(spark, 120, seed=11, base_out=1, max_out=60, pareto_a=1.05)
    )
    base = louvain(spark, g, salt_hubs=False, max_levels=3)
    plain = {r.id: r.community for r in base.assignment.collect()}
    # salting is a big-path feature: force the shuffle path both ways
    a = louvain(spark, g, broadcast_threshold=0, salt_hubs=False, max_levels=3)
    b = louvain(spark, g, broadcast_threshold=0, salt_hubs=True, max_levels=3)
    la = {r.id: r.community for r in a.assignment.collect()}
    lb = {r.id: r.community for r in b.assignment.collect()}
    assert la == lb == plain
    assert a.modularity == b.modularity
