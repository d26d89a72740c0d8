from __future__ import annotations

import json

from linkgraph.cli import main
from linkgraph.graph.build import build_graph
from tests.fixtures import toy_edges_df
from tests.oracles import pagerank_oracle


def test_cli_pagerank_roundtrip(spark, tmp_path, capsys):
    g = build_graph(toy_edges_df(spark))
    edges_path = str(tmp_path / "edges")
    out_path = str(tmp_path / "pr")
    g.write.parquet(edges_path)

    rc = main(
        [
            "pagerank",
            "--edges",
            edges_path,
            "--output",
            out_path,
            "--tol",
            "1e-9",
            "--checkpoint-dir",
            str(tmp_path / "ckpt"),
        ]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["supersteps"] > 1

    got = {r.id: r.score for r in spark.read.parquet(out_path).collect()}
    want = pagerank_oracle(
        [(r.src, r.dst, r.weight) for r in g.collect()], tol=1e-9
    )
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)
    # metrics table written
    m = spark.read.parquet(str(tmp_path / "ckpt" / "metrics"))
    assert m.count() == meta["supersteps"]


def test_cli_louvain(spark, tmp_path, capsys):
    g = build_graph(toy_edges_df(spark))
    edges_path = str(tmp_path / "edges2")
    g.write.parquet(edges_path)
    rc = main(["louvain", "--edges", edges_path, "--output", str(tmp_path / "lv")])
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["levels"] >= 1 and 0 < meta["modularity"] <= 1
    assert spark.read.parquet(str(tmp_path / "lv" / "assignment")).count() == 12


def test_cli_cc_star_and_louvain_metrics(spark, tmp_path, capsys):
    g = build_graph(toy_edges_df(spark))
    edges_path = str(tmp_path / "edges3")
    g.write.parquet(edges_path)

    rc = main(
        ["cc", "--edges", edges_path, "--output", str(tmp_path / "cc"),
         "--algorithm", "star"]
    )
    assert rc == 0
    got = {r.id: r.component for r in spark.read.parquet(str(tmp_path / "cc")).collect()}
    assert got[7] == 0 and got[13] == 10

    rc = main(
        ["louvain", "--edges", edges_path, "--output", str(tmp_path / "lv2"),
         "--checkpoint-dir", str(tmp_path / "ck2")]
    )
    assert rc == 0
    capsys.readouterr()
    rounds = spark.read.parquet(str(tmp_path / "ck2" / "louvain_rounds"))
    assert rounds.count() > 0


def test_cli_incremental_roundtrip(spark, tmp_path, capsys):
    """`incremental` on the toy graph and deltas with full
    re-evaluation, a checkpoint dir and per-phase trees: the printed
    modularity and metrics and the written state match the dynamic
    oracle, and trees/ holds one entry per (ts, phase)."""
    import os

    from tests.fixtures import TOY_DELTAS, toy_deltas_df
    from tests.oracle_dynamic import run_incremental_o

    g = build_graph(toy_edges_df(spark))
    edges_path = str(tmp_path / "edges_inc")
    deltas_path = str(tmp_path / "deltas_inc")
    g.write.parquet(edges_path)
    toy_deltas_df(spark).write.parquet(deltas_path)
    ckpt = tmp_path / "ck_inc"
    rc = main(
        ["incremental", "--edges", edges_path, "--deltas", deltas_path,
         "--output", str(tmp_path / "inc"), "--checkpoint-dir", str(ckpt),
         "--write-trees", "--no-screening"]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    base = {(r.src, r.dst): r.weight for r in g.collect()}
    want_state, _, want_q, want_m = run_incremental_o(base, TOY_DELTAS, screening=False)
    assert abs(meta["modularity"] - want_q) < 1e-12
    keys = ("ts", "phase", "r_size")
    assert [tuple(m[k] for k in keys) for m in meta["metrics"]] == [
        tuple(m[k] for k in keys) for m in want_m
    ]
    for got, want in zip(meta["metrics"], want_m):
        assert abs(got["q"] - want["q"]) < 1e-12
        assert got["r_frac"] == want["r_frac"] == 1.0
    state = spark.read.parquet(str(tmp_path / "inc" / "state")).collect()
    assert {r.id: r.community for r in state} == want_state
    assert sorted(os.listdir(ckpt / "trees")) == sorted(
        f"ts={m['ts']}_phase={m['phase']}" for m in want_m
    )


def test_cli_build_adjacency_and_table_fed_pagerank(
    spark, tmp_path, capsys, monkeypatch
):
    """build-adjacency writes the catalog-known bucketed K1 table; the
    graph commands accept --table and run pre-partitioned: pagerank
    matches the --edges path's scores exactly, and incremental hands
    ``pre_partitioned=True`` to run_incremental and prints the dynamic
    oracle's modularity."""
    import linkgraph.streaming.incremental as incremental
    from tests.fixtures import TOY_DELTAS, toy_deltas_df
    from tests.oracle_dynamic import run_incremental_o

    g = build_graph(toy_edges_df(spark))
    edges_path = str(tmp_path / "edges_t")
    g.write.parquet(edges_path)

    spark.sql("DROP TABLE IF EXISTS t_cli_adj")
    rc = main(
        [
            "build-adjacency",
            "--edges",
            edges_path,
            "--output",
            str(tmp_path / "adj_tbl"),
            "--table",
            "t_cli_adj",
            "--num-buckets",
            "4",
        ]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["table"] == "t_cli_adj"

    rc = main(
        ["pagerank", "--table", "t_cli_adj", "--output", str(tmp_path / "pr_t"), "--tol", "1e-9"]
    )
    assert rc == 0
    capsys.readouterr()
    rc = main(
        ["pagerank", "--edges", edges_path, "--output", str(tmp_path / "pr_e"), "--tol", "1e-9"]
    )
    assert rc == 0
    capsys.readouterr()
    a = {r.id: r.score for r in spark.read.parquet(str(tmp_path / "pr_t")).collect()}
    b = {r.id: r.score for r in spark.read.parquet(str(tmp_path / "pr_e")).collect()}
    assert set(a) == set(b)
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)

    calls = []
    run_incremental = incremental.run_incremental

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return run_incremental(*args, **kwargs)

    monkeypatch.setattr(incremental, "run_incremental", spy)
    deltas_path = str(tmp_path / "deltas_t")
    toy_deltas_df(spark).write.parquet(deltas_path)
    rc = main(
        ["incremental", "--table", "t_cli_adj", "--deltas", deltas_path,
         "--output", str(tmp_path / "inc_t")]
    )
    assert rc == 0
    assert [c.get("pre_partitioned") for c in calls] == [True]
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    base = {(r.src, r.dst): r.weight for r in g.collect()}
    assert abs(meta["modularity"] - run_incremental_o(base, TOY_DELTAS)[2]) < 1e-12
    spark.sql("DROP TABLE t_cli_adj")


def test_cli_clean_corpus(spark, tmp_path, capsys):
    base = ("the cat and the dog of the house sat on the mat and "
            "the bird of the garden flew over the wall of the town")
    rows = [
        (0, base),
        (1, base),                               # exact dup
        (2, base + " and then the night came"),  # near dup
        (3, ""),                                  # fails quality
    ]
    docs_path = str(tmp_path / "docs")
    out_path = str(tmp_path / "cleaned")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs_path)

    rc = main(
        [
            "clean-corpus",
            "--docs", docs_path,
            "--output", out_path,
            "--min-quality", "0.2",
        ]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta == {"n_docs": 4, "n_survivors": 1}
    got = spark.read.parquet(out_path).collect()
    assert [r.doc_id for r in got] == [0] and got[0].pred_lang == "en"


def test_cli_ann(spark, tmp_path, capsys):
    """ann verb: ivf top-k over an embedding parquet; results are a
    subset of the exact method's ranking at full probe."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vec_path = str(tmp_path / "vecs")
    vecs.write.parquet(vec_path)

    rc = main(
        [
            "ann", "--vectors", vec_path, "--output", str(tmp_path / "knn"),
            "--method", "ivf", "--k", "3",
            "--n-centroids", "4", "--n-probe", "4",
        ]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["method"] == "ivf" and meta["pairs"] == 30 * 3

    rc = main(
        [
            "ann", "--vectors", vec_path, "--output", str(tmp_path / "knn_exact"),
            "--method", "exact", "--k", "3",
        ]
    )
    assert rc == 0
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in spark.read.parquet(str(tmp_path / "knn")).collect()}
    want = {(r.query_id, r.rank): r.neighbor_id
            for r in spark.read.parquet(str(tmp_path / "knn_exact")).collect()}
    assert got == want  # full probe == exact


def test_cli_ann_index_roundtrip(spark, tmp_path, capsys):
    """ann-index builds the cid-partitioned table; ann --index queries
    it and matches the ad-hoc ivf verb fed the same quantizer size at
    full probe (both reduce to exact ranking)."""
    import numpy as np

    rng = np.random.default_rng(9)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vec_path = str(tmp_path / "vecs")
    vecs.write.parquet(vec_path)

    idx_path = str(tmp_path / "ivf")
    rc = main(
        ["ann-index", "--vectors", vec_path, "--output", idx_path,
         "--n-centroids", "4"]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta == {"lists": 4, "index": idx_path}

    rc = main(
        ["ann", "--vectors", vec_path, "--queries", vec_path,
         "--output", str(tmp_path / "knn_idx"), "--method", "ivf",
         "--index", idx_path, "--k", "3", "--n-probe", "4"]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["pairs"] == 30 * 3

    rc = main(
        ["ann", "--vectors", vec_path, "--output", str(tmp_path / "knn_exact"),
         "--method", "exact", "--k", "3"]
    )
    assert rc == 0
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in spark.read.parquet(str(tmp_path / "knn_idx")).collect()}
    want = {(r.query_id, r.rank): r.neighbor_id
            for r in spark.read.parquet(str(tmp_path / "knn_exact")).collect()}
    assert got == want  # full probe == exact

    # ADVICE r4 validation: --index with a non-ivf method is an error
    # (the old elif chain silently ignored it), and indexed mode works
    # WITHOUT --vectors as long as --queries is given
    rc = main(
        ["ann", "--queries", vec_path, "--output", str(tmp_path / "bad"),
         "--method", "exact", "--index", idx_path]
    )
    assert rc == 2
    rc = main(
        ["ann", "--output", str(tmp_path / "bad2"), "--method", "ivf"]
    )
    assert rc == 2  # neither --index nor --vectors
    rc = main(
        ["ann", "--output", str(tmp_path / "bad3"), "--method", "ivf",
         "--index", idx_path]
    )
    assert rc == 2  # indexed but no --queries and no --vectors default
    capsys.readouterr()
    rc = main(
        ["ann", "--queries", vec_path, "--output", str(tmp_path / "knn_idx2"),
         "--method", "ivf", "--index", idx_path, "--k", "3", "--n-probe", "4"]
    )
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["pairs"] == 30 * 3


def test_cli_ann_index_maintain_and_join(spark, tmp_path, capsys):
    """ann-index-maintain: add/delete/compact round-trip, and ann
    --join serves the same live set as the collected-batch path."""
    import numpy as np

    rng = np.random.default_rng(13)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vec_path = str(tmp_path / "vecs")
    vecs.write.parquet(vec_path)
    idx = str(tmp_path / "ivf")
    assert main(["ann-index", "--vectors", vec_path, "--output", idx,
                 "--n-centroids", "4"]) == 0
    capsys.readouterr()

    add = spark.createDataFrame(
        [(100 + i, rng.standard_normal(8).tolist()) for i in range(5)],
        "vec_id long, embedding array<double>")
    add_path = str(tmp_path / "add")
    add.write.parquet(add_path)
    dels = spark.createDataFrame([(0,), (100,)], "vec_id long")
    del_path = str(tmp_path / "dels")
    dels.write.parquet(del_path)

    assert main(["ann-index-maintain", "--index", idx, "--add", add_path]) == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["gen"] == 1
    assert main(["ann-index-maintain", "--index", idx, "--delete", del_path]) == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["tombstoned"] == 2
    assert main(["ann-index-maintain", "--index", idx]) == 2  # no action
    capsys.readouterr()

    # join path == serving path on the live set
    assert main(["ann", "--queries", vec_path, "--method", "ivf",
                 "--index", idx, "--join", "--k", "3", "--n-probe", "4",
                 "--output", str(tmp_path / "knn_join")]) == 0
    assert main(["ann", "--queries", vec_path, "--method", "ivf",
                 "--index", idx, "--k", "3", "--n-probe", "4",
                 "--output", str(tmp_path / "knn_serve")]) == 0
    capsys.readouterr()
    j = {(r.query_id, r.rank): r.neighbor_id
         for r in spark.read.parquet(str(tmp_path / "knn_join")).collect()}
    s = {(r.query_id, r.rank): r.neighbor_id
         for r in spark.read.parquet(str(tmp_path / "knn_serve")).collect()}
    assert j == s
    assert 0 not in {n for n in j.values()}  # tombstoned id never served

    assert main(["ann-index-maintain", "--index", idx, "--compact"]) == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["live_rows"] == 33
