from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkgraph.graph.build import build_graph
from linkgraph.streaming.deltas import (
    apply_additions,
    apply_deletions,
    seed_new_nodes,
)
from linkgraph.streaming.incremental import run_incremental
from linkgraph.streaming.screening import frontier_add, frontier_del
from tests.fixtures import TOY_DELTAS, toy_deltas_df, toy_edges_df
from tests.oracle_dynamic import (
    apply_additions_o,
    apply_deletions_o,
    frontier_add_o,
    frontier_del_o,
    run_incremental_o,
    seed_new_nodes_o,
)
from tests.oracle_louvain import louvain_oracle


def _edges_dict(g):
    return {(r.src, r.dst): r.weight for r in g.collect()}


def _delta(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b), 1.0) for a, b in pairs], "src long, dst long, weight double"
    )


def test_apply_deltas_matches_oracle(spark):
    g = build_graph(toy_edges_df(spark))
    base = _edges_dict(g)
    dels = [(0, 1, 1.0), (1, 2, 1.0)]
    adds = [(3, 9, 1.0), (4, 6, 1.0), (14, 15, 1.0)]
    after_del = apply_deletions(g, _delta(spark, [(a, b) for a, b, _ in dels]))
    assert _edges_dict(after_del) == apply_deletions_o(base, dels)
    after_add = apply_additions(after_del, _delta(spark, [(a, b) for a, b, _ in adds]))
    assert _edges_dict(after_add) == apply_additions_o(
        apply_deletions_o(base, dels), adds
    )


def test_incremental_vs_static_edge_equivalence(spark):
    """After applying all deltas incrementally, the edge table equals a
    static build of the final edge list (SURVEY.md §5.2.4)."""
    g = build_graph(toy_edges_df(spark))
    edges = g
    final_pairs = {(a, b) for a, b in
                   [(r.src, r.dst) for r in toy_edges_df(spark).collect()]}
    for ts in (0, 1):
        dels = [(a, b) for t, op, a, b in TOY_DELTAS if t == ts and op == "del"]
        adds = [(a, b) for t, op, a, b in TOY_DELTAS if t == ts and op == "add"]
        edges = apply_deletions(edges, _delta(spark, dels))
        edges = apply_additions(edges, _delta(spark, adds))
        final_pairs -= {(a, b) for a, b in dels}
        final_pairs -= {(b, a) for a, b in dels}
        final_pairs |= set(adds)
    static = build_graph(_delta(spark, sorted(final_pairs)))
    assert _edges_dict(edges) == _edges_dict(static)


def test_seed_new_nodes(spark):
    g = build_graph(toy_edges_df(spark))
    base = _edges_dict(g)
    state = {r.id: r.community
             for r in spark.createDataFrame(
                 [(i, c) for i, c in louvain_oracle(
                     [(u, v, w) for (u, v), w in base.items()])[0].items()],
                 "id long, community long").collect()}
    adds = [(3, 9, 1.0), (4, 6, 1.0), (14, 15, 1.0)]
    new_edges_d = apply_additions_o(base, adds)
    want = seed_new_nodes_o(new_edges_d, state)

    new_edges = apply_additions(g, _delta(spark, [(a, b) for a, b, _ in adds]))
    st_df = spark.createDataFrame(list(state.items()), "id long, community long")
    got = {r.id: r.community
           for r in seed_new_nodes(spark, new_edges, st_df).collect()}
    assert got == want
    # 3 and 9 are new and only know each other -> two fresh singletons
    assert got[3] != got[9]
    assert got[3] not in state.values() and got[9] not in state.values()


def test_frontiers_match_oracle(spark):
    g = build_graph(toy_edges_df(spark))
    base = _edges_dict(g)
    assign, _, _ = louvain_oracle([(u, v, w) for (u, v), w in base.items()])
    st_df = spark.createDataFrame(list(assign.items()), "id long, community long")

    dels = [(0, 1, 1.0), (1, 2, 1.0)]
    new_d = apply_deletions(g, _delta(spark, [(a, b) for a, b, _ in dels]))
    r_del = {r.id for r in frontier_del(spark, new_d, st_df, _delta(
        spark, [(a, b) for a, b, _ in dels])).collect()}
    assert r_del == frontier_del_o(apply_deletions_o(base, dels), assign, dels)

    adds = [(3, 9, 1.0), (4, 6, 1.0), (14, 15, 1.0)]
    new_a_d = apply_additions_o(apply_deletions_o(base, dels), adds)
    st2 = seed_new_nodes_o(new_a_d, assign)
    new_a = apply_additions(new_d, _delta(spark, [(a, b) for a, b, _ in adds]))
    st2_df = spark.createDataFrame(list(st2.items()), "id long, community long")
    r_add = {r.id for r in frontier_add(spark, new_a, st2_df, _delta(
        spark, [(a, b) for a, b, _ in adds])).collect()}
    assert r_add == frontier_add_o(new_a_d, st2, adds)


def test_incremental_run_matches_oracle_end_to_end(spark):
    g = build_graph(toy_edges_df(spark))
    base = _edges_dict(g)
    run = run_incremental(spark, g, toy_deltas_df(spark))
    want_state, want_edges, want_q, want_metrics = run_incremental_o(
        base, TOY_DELTAS
    )
    got_state = {r.id: r.community for r in run.state.collect()}
    assert got_state == want_state
    assert _edges_dict(run.edges) == want_edges
    assert abs(run.modularity - want_q) < 1e-12
    got_m = [(m["ts"], m["phase"], m["r_size"]) for m in run.metrics]
    want_m = [(m["ts"], m["phase"], m["r_size"]) for m in want_metrics]
    assert got_m == want_m
    # delta-screening win: R is a strict subset of vertices somewhere
    fracs = [m["r_frac"] for m in run.metrics if m["phase"] != "static"]
    assert any(f < 1.0 for f in fracs)


def test_incremental_run_matches_oracle_end_to_end_distributed(spark, frame_tier):
    test_incremental_run_matches_oracle_end_to_end(spark)


def test_delta_screening_soundness_vs_full_reeval(spark):
    """R-restricted re-eval reaches the same modularity (within eps) as
    a full re-eval on the toy deltas (SURVEY.md §5.2.3)."""
    from linkgraph.operators.louvain import louvain

    g = build_graph(toy_edges_df(spark))
    run = run_incremental(spark, g, toy_deltas_df(spark))
    full = louvain(spark, run.edges)
    assert abs(run.modularity - full.modularity) < 0.05


def test_screening_off_full_reeval_mode(spark):
    """screening=False (GPU driver -f, main_louvain_gpu.cpp:946-953):
    every phase re-evaluates ALL vertices (r_frac == 1.0) and reaches
    the same final modularity as the screened run (within swap-guard
    determinism); the screened run's R%% < 100%% demonstrates the
    delta-screening win."""
    g = build_graph(toy_edges_df(spark))
    screened = run_incremental(spark, g, toy_deltas_df(spark))
    full = run_incremental(spark, g, toy_deltas_df(spark), screening=False)
    full_fracs = [m["r_frac"] for m in full.metrics if m["phase"] != "static"]
    assert all(f == 1.0 for f in full_fracs)
    scr_fracs = [m["r_frac"] for m in screened.metrics if m["phase"] != "static"]
    assert any(f < 1.0 for f in scr_fracs)
    assert abs(screened.modularity - full.modularity) < 0.05
    assert _edges_dict(screened.edges) == _edges_dict(full.edges)


def test_incremental_mid_run_resume(spark, tmp_path):
    """Durable mid-run resume (north rule "resumable from checkpoint";
    the analog of the reference driver's per-step .tree restart,
    main_louvain.cpp:1243-1253): a run killed inside a later phase
    restarts from the last completed phase's persisted state, replays
    only the completed phases' edge mutations, and ends with the same
    final state, modularity, edge version, and durable metrics history
    as an uninterrupted run. The kill hits the shared phase function,
    which both tiers run."""
    import linkgraph.streaming.stream_driver as sd

    g = build_graph(toy_edges_df(spark))
    full_dir = str(tmp_path / "full")
    full = run_incremental(spark, g, toy_deltas_df(spark), checkpoint_dir=full_dir)
    want_state = sorted((r.id, r.community) for r in full.state.collect())

    kill_dir = str(tmp_path / "killed")
    orig = sd.run_phase
    calls = {"phases": 0}

    def bomb(*a, **kw):
        calls["phases"] += 1
        if calls["phases"] == 2:
            raise RuntimeError("simulated kill")
        return orig(*a, **kw)

    sd.run_phase = bomb
    try:
        with pytest.raises(RuntimeError, match="simulated kill"):
            run_incremental(spark, g, toy_deltas_df(spark), checkpoint_dir=kill_dir)
    finally:
        sd.run_phase = orig
    assert calls["phases"] == 2  # the kill actually hit a later phase

    resumed = run_incremental(spark, g, toy_deltas_df(spark), checkpoint_dir=kill_dir)
    got_state = sorted((r.id, r.community) for r in resumed.state.collect())
    assert got_state == want_state
    assert resumed.modularity == full.modularity
    assert _edges_dict(resumed.edges) == _edges_dict(full.edges)
    # durable per-phase metrics: the two dirs hold identical histories
    # (the killed run wrote the completed phases; the resumed process
    # appended exactly the remaining ones, no duplicates)
    full_m = sorted(
        tuple(r) for r in spark.read.parquet(full_dir + "/incremental_metrics").collect()
    )
    kill_m = sorted(
        tuple(r) for r in spark.read.parquet(kill_dir + "/incremental_metrics").collect()
    )
    assert kill_m == full_m


def test_incremental_mid_run_resume_distributed(spark, tmp_path, frame_tier):
    test_incremental_mid_run_resume(spark, tmp_path)


def test_incremental_pre_partitioned_input_matches(spark, frame_tier):
    """run_incremental(pre_partitioned=True) over an already
    hash(src)-partitioned edge table (the K1 bucketed feed) skips the
    loop's one-time repartition and lands the identical final state,
    edges, modularity, and metrics trail (on the frame backend, which
    holds the layout under test)."""
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = build_graph(toy_edges_df(spark))
    plain = run_incremental(spark, g, toy_deltas_df(spark))
    pre = barrier(
        g.repartition(n_part, "src"),
        reset_stats=True,
        preserve_partitioning=True,
    )
    part = run_incremental(
        spark, pre, toy_deltas_df(spark), pre_partitioned=True
    )
    assert {r.id: r.community for r in plain.state.collect()} == {
        r.id: r.community for r in part.state.collect()
    }
    assert _edges_dict(plain.edges) == _edges_dict(part.edges)
    assert plain.modularity == part.modularity
    assert [(m["ts"], m["phase"], m["r_size"]) for m in plain.metrics] == [
        (m["ts"], m["phase"], m["r_size"]) for m in part.metrics
    ]


def test_incremental_write_trees_readback(spark, tmp_path):
    """K2 for the dynamic loop (VERDICT r4 #8; main_louvain.cpp:1243
    writes graph{t}.tree per step): write_trees=True persists one
    dendrogram per completed phase under <ckpt>/trees, and composing
    ANY phase's flattened labels reproduces exactly that phase's
    persisted state — including phases whose frontier was empty
    (identity tree of the carried partition)."""
    from linkgraph.graph.hierarchy import flatten_hierarchy
    from linkgraph.streaming.incremental import load_tree

    ckpt = str(tmp_path / "ckpt")
    g = build_graph(toy_edges_df(spark))
    run = run_incremental(
        spark, g, toy_deltas_df(spark), checkpoint_dir=ckpt, write_trees=True
    )
    assert run.metrics[0]["phase"] == "static"
    for m in run.metrics:
        ts = -1 if m["phase"] == "static" else m["ts"]
        tree = load_tree(spark, ckpt, ts, m["phase"])
        flat = {
            (r.node, r.community) for r in flatten_hierarchy(tree).collect()
        }
        state = {
            (r.id, r.community)
            for r in spark.read.parquet(
                f"{ckpt}/incremental_state/ts={ts}_phase={m['phase']}"
            ).collect()
        }
        assert flat == state, (ts, m["phase"])

    # write_trees without a checkpoint dir is a contract violation
    with pytest.raises(ValueError, match="checkpoint_dir"):
        run_incremental(spark, g, toy_deltas_df(spark), write_trees=True)


def test_incremental_write_trees_readback_distributed(spark, tmp_path, frame_tier):
    test_incremental_write_trees_readback(spark, tmp_path)


def test_frontier_local_fast_path_identical(spark):
    """Round-6 guarded local screening: frontier_del / frontier_add
    under the collect thresholds return EXACTLY the distributed
    plans' id sets (del is pure set logic; add evaluates the same gain
    expression tree on exact integer-weight sums)."""
    from pyspark.sql import functions as F

    from linkgraph.graph.build import build_graph
    from linkgraph.operators.louvain import louvain
    from linkgraph.streaming.deltas import (
        apply_additions, apply_deletions, seed_new_nodes)
    from tests.fixtures import random_edges

    base = build_graph(
        spark.createDataFrame(
            random_edges(200, 600, seed=5), "src long, dst long, weight double"
        )
    ).persist()
    state = louvain(spark, base).assignment.persist()
    batch = (
        base.filter(F.col("src") < F.col("dst"))
        .orderBy("src", "dst").limit(12).select("src", "dst", "weight")
        .persist()
    )
    # deletion side
    new_d = apply_deletions(base, batch).persist()
    loc = {r.id for r in frontier_del(spark, new_d, state, batch).collect()}
    dist = {r.id for r in frontier_del(
        spark, new_d, state, batch, local_threshold=0).collect()}
    assert loc == dist
    # addition side (re-add the same edges onto the deleted graph)
    new_a = apply_additions(new_d, batch).persist()
    st2 = seed_new_nodes(spark, new_a, state, batch=batch)
    loc_a = {r.id for r in frontier_add(spark, new_a, st2, batch).collect()}
    dist_a = {r.id for r in frontier_add(
        spark, new_a, st2, batch, local_threshold=0).collect()}
    assert loc_a == dist_a
    for df in (base, state, batch, new_d, new_a):
        df.unpersist()
