"""Physical-plan audits (SURVEY.md §4): assert the plans we designed
are the plans Catalyst actually produces — pushdown reaches the scan,
the hot joins use the intended strategy, and the PageRank superstep
has no redundant exchanges.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_parquet_filter_and_column_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    q = df.filter(F.col("o_custkey") == 7).select("o_orderkey")
    plan = q.queryExecution if False else q._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,7)]" in plan
    # column pruning: only the two referenced columns are read
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in plan


def test_small_dim_join_is_broadcast(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_pagerank_superstep_is_whole_stage_codegen(spark):
    """The score arithmetic must live inside WholeStageCodegen spans
    (no Python in the hot path) — audited on the superstep plan itself
    (the returned frame is a checkpoint scan, so build one step here)."""
    from linkgraph.graph.build import build_graph
    from tests.fixtures import toy_edges_df

    edges = build_graph(toy_edges_df(spark))
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    en = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("p")
    )
    verts = edges.select(F.col("src").alias("id")).distinct()
    state = verts.withColumn("score", F.lit(1.0 / 12))
    contribs = en.join(F.broadcast(state), en.src == state.id).select(
        "dst", (F.col("score") * F.col("p")).alias("c")
    )
    incoming = contribs.groupBy("dst").agg(F.sum("c").alias("inc"))
    new = state.join(incoming, state.id == incoming.dst, "left").select(
        state.id,
        (F.lit(0.0125) + F.lit(0.85) * F.coalesce("inc", F.lit(0.0))).alias("score"),
    )
    new.collect()
    plan = _plan(new)
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string
    assert "*(" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pagerank_big_path_exchange_count(spark):
    """Shuffle path (broadcast_threshold=0): one superstep's plan keeps
    the designed shape — the edges side of the state join is read from
    the pre-partitioned cache without a fresh Exchange, and the join
    strategy is ShuffledHashJoin (no per-superstep sort of the edge
    table)."""
    from pyspark.sql import functions as F
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50, 1.0) for i in range(400) if i % 50 != (i * 7) % 50],
        "src long, dst long, weight double",
    )
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    en = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("weight") / F.col("out_w")).alias("p"))
        .repartition(n_part, "src")
        .persist()
    )
    en.count()
    verts = edges.select(F.col("src").alias("id")).distinct()
    state = barrier(verts.withColumn("score", F.lit(0.02)).repartition(n_part, "id"))

    scores = state.select("id", "score").hint("shuffle_hash")
    contribs = en.join(scores, en.src == scores.id).select(
        "dst", (F.col("score") * F.col("p")).alias("c")
    )
    incoming = contribs.groupBy("dst").agg(F.sum("c").alias("inc")).hint("shuffle_hash")
    new = state.join(incoming, state.id == incoming.dst, "left").select(
        state.id, (F.lit(0.003) + F.lit(0.85) * F.coalesce("inc", F.lit(0.0))).alias("score")
    )
    new.collect()
    plan = _plan(new)
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    # the persisted, pre-partitioned edge cache must be scanned directly
    assert "InMemoryTableScan" in plan
    # no per-superstep sort of the edge table: SMJ may only appear inside
    # the cached InMemoryRelation subtree (the one-time edges_norm build)
    outer_plan = plan.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in outer_plan
    en.unpersist()


def test_louvain_gain_is_column_arithmetic(spark):
    """W1 gain must be pure column arithmetic (no Python UDF nodes)."""
    from linkgraph.graph.build import build_graph
    from linkgraph.operators.louvain import _k_table, _move_round
    from tests.fixtures import toy_edges_df

    e = build_graph(toy_edges_df(spark))
    verts = e.select(F.col("src").alias("id")).distinct()
    state = verts.select("id", F.col("id").alias("community"))
    out = _move_round(e, state, _k_table(e), 18.0, None, True)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extraction_is_arrow_vectorized(spark):
    """S5 runs as Arrow-batched mapInPandas (the sanctioned Python
    path), not row-at-a-time Python UDFs."""
    from linkgraph.sources.extract import extract_pages
    from linkgraph.sources.pages import generate_pages

    pages = generate_pages(spark, 10)
    plan = _plan(extract_pages(spark, pages))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan

def test_dense_ids_no_single_partition_exchange(spark):
    """S4/A6 scale audit: dense-id assignment must never collapse to a
    single task (the round-1 scale-killer was Window.orderBy with no
    partitionBy => Exchange SinglePartition at the head of the ingest
    spine). Audited on the url_dictionary plan AND on the Louvain dense
    renumber."""
    from linkgraph.graph.build import url_dictionary
    from linkgraph.operators.louvain import _dense_communities

    urls = spark.createDataFrame(
        [(f"https://example.org/p{i % 97}",) for i in range(300)], "url string"
    )
    d = url_dictionary(urls)
    assert "SinglePartition" not in _plan(d)

    state = spark.createDataFrame(
        [(i, i % 13) for i in range(200)], "id long, community long"
    )
    dense, n_comms = _dense_communities(state)
    assert n_comms == 13
    assert "SinglePartition" not in _plan(dense)


def test_dense_ids_match_global_sort_rank(spark):
    """The distributed offset scheme must be byte-identical to the
    global sorted rank, independent of the partition count."""
    from linkgraph.plans.ranks import dense_ids

    vals = [f"u{i:04d}" for i in range(311)]
    import random

    rng = random.Random(7)
    rng.shuffle(vals)
    # duplicates + nulls exercise distinct + null filtering
    df = spark.createDataFrame(
        [(v,) for v in vals] + [(vals[3],), (None,)], "url string"
    )
    expect = {v: i for i, v in enumerate(sorted(set(vals)))}
    for nparts in (1, 7, 32):
        mapping, n = dense_ids(df, "url", num_partitions=nparts)
        got = {r["url"]: r["id"] for r in mapping.collect()}
        assert got == expect, f"nparts={nparts}"
        assert n == len(expect)


def test_dense_ids_empty(spark):
    from linkgraph.plans.ranks import dense_ids

    df = spark.createDataFrame([], "url string")
    out, n = dense_ids(df, "url")
    assert out.count() == 0 and n == 0
    assert [f.name for f in out.schema.fields] == ["url", "id"]


def _outer_exchanges(plan: str) -> int:
    """Count Exchange nodes outside any cached InMemoryRelation subtree
    (plan strings indent the cached relation after the first marker)."""
    outer = plan.split("InMemoryRelation")[0]
    return outer.count("Exchange")


def test_cc_superstep_exchange_count(spark):
    """CC big path mirrors PageRank's one-exchange superstep: the
    dst-partitioned edge cache is scanned with no fresh Exchange, the
    gather join and the update join are exchange-free shuffle-hash, and
    the only shuffle is the min-agg's groupBy(src)."""
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40) for i in range(300) if i % 40 != (i * 11) % 40],
        "src long, dst long",
    )
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(n_part, "dst")
        .persist()
    )
    sym.count()
    verts = sym.select(F.col("src").alias("id")).distinct()
    st = barrier(
        verts.repartition(n_part, "id"), preserve_partitioning=True
    ).withColumn("component", F.col("id"))

    labels = st.select("id", "component").hint("shuffle_hash")
    nbr_min = (
        sym.join(labels, sym.dst == labels.id)
        .groupBy("src")
        .agg(F.min("component").alias("nbr_min"))
        .hint("shuffle_hash")
    )
    new = st.join(nbr_min, st.id == nbr_min.src, "left").select(
        st.id, F.least(st.component, F.coalesce(F.col("nbr_min"), st.component)).alias("c")
    )
    new.collect()
    plan = _plan(new)
    assert "ShuffledHashJoin" in plan
    outer = plan.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in outer
    assert _outer_exchanges(plan) == 1, plan
    sym.unpersist()


def test_cc_lpa_big_path_labels_match_broadcast_path(spark):
    """broadcast_threshold=0 (pure shuffle path) must produce the exact
    labels of the broadcast path."""
    from linkgraph.graph.build import build_graph
    from linkgraph.operators.components import connected_components
    from linkgraph.operators.lpa import label_propagation
    from tests.fixtures import toy_edges_df

    raw = toy_edges_df(spark)
    g = build_graph(raw)
    cc_b = {r.id: r.component for r in connected_components(spark, raw).collect()}
    cc_s = {
        r.id: r.component
        for r in connected_components(spark, raw, broadcast_threshold=0).collect()
    }
    assert cc_b == cc_s
    lpa_b = {r.id: r.label for r in label_propagation(spark, g, max_iter=4).collect()}
    lpa_s = {
        r.id: r.label
        for r in label_propagation(spark, g, max_iter=4, broadcast_threshold=0).collect()
    }
    assert lpa_b == lpa_s


def test_louvain_move_round_edge_side_exchange_saved(spark):
    """Louvain big path: the src-partitioned, partitioning-preserving
    edge checkpoint must remove the per-round edge-table exchange —
    the move-round plan over it has strictly fewer Exchanges than the
    same plan over raw edges (self-calibrating assertion). (The gather
    joins labels on the SRC endpoint, so hash(src) — the K1 bucketed
    layout's key — feeds it directly.)"""
    from linkgraph.graph.build import build_graph
    from linkgraph.operators.louvain import _k_table, _move_round
    from linkgraph.plans.superstep import barrier
    from tests.fixtures import toy_edges_df

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e_raw = build_graph(toy_edges_df(spark)).select("src", "dst", "weight")
    e_pre = barrier(e_raw.repartition(n_part, "src"), preserve_partitioning=True)

    def exchanges(e):
        verts = e.select(F.col("src").alias("id")).distinct()
        state = verts.select("id", F.col("id").alias("community"))
        out = _move_round(e, state, _k_table(e), 18.0, None, False)
        out.collect()
        return _plan(out).count("Exchange")

    n_pre, n_raw = exchanges(e_pre), exchanges(e_raw)
    assert n_pre < n_raw, (n_pre, n_raw)


def test_louvain_big_path_round_exchange_count_locked(spark):
    """The co-partitioned Louvain round's exchange budget, LOCKED (the
    CC-style count assertion, on the REAL operator functions, not a
    reconstruction): with dst-partitioned edges and an id-partitioned
    (id, community, k) state, one full move round plans EXACTLY 4
    Exchanges —

      1. the A1 repartition of the gather output onto the scored
         vertex (edge-sized, inherent),
      2. the community-totals groupBy(community),
      3. the community-keyed aug⋈comm join (the one legitimately
         community-partitioned step),
      4. the argmax groupBy(vid);

    the gather join (src-partitioned edges — the K1 bucketed key),
    the state⋈w_vc join, and the W4 update join are exchange-free
    shuffle-hash joins (no SortMergeJoin anywhere)."""
    from linkgraph.operators.louvain import _apply_moves, _round_tables, _k_table
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40, 1.0) for i in range(300) if i % 40 != (i * 11) % 40],
        "src long, dst long, weight double",
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    e = barrier(sym.repartition(n_part, "src"), preserve_partitioning=True)
    verts = e.select(F.col("src").alias("id")).distinct()
    # a GENERAL round state (real community column from a join — the
    # shape of every round after the first move); the identity start
    # (community := id) is audited separately below: its alias-aware
    # PartitioningCollection makes the two community-keyed exchanges
    # free as well (hash(id) == hash(community) there)
    init = verts.select("id", (F.col("id") % 5).alias("community"))
    st = barrier(
        verts.join(init, "id")
        .join(_k_table(e), "id", "left")
        .select("id", "community", F.coalesce("k", F.lit(0.0)).alias("k"))
        .repartition(n_part, "id"),
        preserve_partitioning=True,
    )

    def final_plan(df) -> str:
        df.collect()
        return _plan(df).split("== Initial Plan ==")[0]

    aug, _comm = _round_tables(e, st, small=False, n_part=n_part, persist=False)
    plan = final_plan(_apply_moves(st, aug, 150.0, None, small=False))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan
    assert plan.count("Exchange") == 4, plan

    # identity start, built the operator's way: checkpoint the bare
    # (id, k) frame FIRST, attach community := id after (the
    # alias-remap trap would silently drop the hash(id) partitioning
    # and re-exchange the state 3x per round — this lock catches that)
    st_id = barrier(
        verts.join(_k_table(e), "id", "left")
        .select("id", F.coalesce("k", F.lit(0.0)).alias("k"))
        .repartition(n_part, "id"),
        preserve_partitioning=True,
    ).withColumn("community", F.col("id")).select("id", "community", "k")
    aug2, _comm2 = _round_tables(e, st_id, small=False, n_part=n_part, persist=False)
    plan2 = final_plan(_apply_moves(st_id, aug2, 150.0, None, small=False))
    assert "SortMergeJoin" not in plan2, plan2
    assert plan2.count("Exchange") == 3, plan2


def test_barrier_combined_mode_preserves_partitioning_and_resets_stats(spark):
    """barrier(reset_stats=True, preserve_partitioning=True): the
    rebuilt LogicalRDD must keep hash partitioning (groupBy on the key
    plans zero exchanges) AND drop inherited originStats (fresh default
    sizeInBytes, independent of the input plan's estimate) — the
    cross-level stats-blowup fix for the Louvain big path."""
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = spark.createDataFrame([(i, float(i)) for i in range(200)], "id long, v double")
    b = spark.createDataFrame([(i, i % 7) for i in range(200)], "id long, g long")
    # inner join inflates the size estimate multiplicatively
    big_est = a.join(b, "id").join(b.withColumnRenamed("g", "g2"), "id")
    out = barrier(
        big_est.repartition(n_part, "id"),
        reset_stats=True,
        preserve_partitioning=True,
    )
    assert out.count() == 200
    assert sorted(out.columns) == ["g", "g2", "id", "v"]
    agg = out.groupBy("id").count()
    agg.collect()
    plan = _plan(agg).split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 0, plan
    # stats are the session default, NOT inherited from the join plan
    stats = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    default = spark.conf.get("spark.sql.defaultSizeInBytes", None)
    inherited = big_est._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert str(stats) != str(inherited)


def test_bucketed_k1_layout_no_initial_exchange(spark, tmp_path, distributed):
    """VERDICT r2 stretch: reading the K1 layout through the catalog's
    bucketing spec drops the per-operator one-time repartition —
    src-keyed aggregation over the table plans ZERO exchanges, the
    out-weight normalization join plans no shuffle exchange, and
    pagerank(pre_partitioned=True) over the table matches the plain
    path's scores."""
    from linkgraph.graph.build import read_adjacency_table, write_adjacency_table
    from linkgraph.operators.pagerank import pagerank

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40, 1.0) for i in range(300) if i % 40 != (i * 11) % 40],
        "src long, dst long, weight double",
    )
    spark.sql("DROP TABLE IF EXISTS t_adj_test")
    write_adjacency_table(
        edges, "t_adj_test", str(tmp_path / "adj"), num_buckets=n_part
    )
    t = read_adjacency_table(spark, "t_adj_test")

    def final_plan(df) -> str:
        df.collect()
        return _plan(df).split("== Initial Plan ==")[0]

    deg = t.groupBy("src").agg(F.sum("weight").alias("wdeg"))
    assert final_plan(deg).count("Exchange") == 0

    out_w = t.groupBy("src").agg(F.sum("weight").alias("out_w"))
    en = t.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("p")
    )
    assert "Exchange hashpartitioning" not in final_plan(en)

    plain = {r.id: r.score for r in pagerank(spark, edges, salt_hubs=False).collect()}
    buck = {
        r.id: r.score
        for r in pagerank(
            spark, t, salt_hubs=False, pre_partitioned=True, broadcast_threshold=0
        ).collect()
    }
    assert set(plain) == set(buck)
    assert all(abs(plain[i] - buck[i]) < 1e-12 for i in plain)
    spark.sql("DROP TABLE t_adj_test")


def _generalized_round_plan(spark, e, n_part, general_state: bool):
    """One louvain_generalized big-path round over a folded,
    hash(id)-partitioned state (the operator's own level-start shape),
    returning the executed plan string."""
    from linkgraph.operators.louvain import _k_table
    from linkgraph.operators.louvain_quality import _move_round_q
    from linkgraph.plans.superstep import barrier

    verts = e.select(F.col("src").alias("id")).distinct()
    k_df = _k_table(e)
    node_w = verts.select("id", F.lit(1.0).alias("w_u"))
    self_df = (
        e.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.sum("weight").alias("self_w"))
    )
    bare = (
        verts.join(k_df, "id", "left")
        .join(node_w, "id", "left")
        .join(self_df, "id", "left")
        .select(
            "id",
            F.coalesce("k", F.lit(0.0)).alias("k"),
            F.coalesce("w_u", F.lit(1.0)).alias("w_u"),
            F.coalesce("self_w", F.lit(0.0)).alias("self_w"),
        )
    )
    pn = barrier(
        bare.repartition(n_part, "id"),
        reset_stats=True,
        preserve_partitioning=True,
    )
    if general_state:
        # a real community column from a join (every round after moves)
        init = verts.select("id", (F.col("id") % 5).alias("community"))
        pn = barrier(
            pn.join(init, "id").select("id", "community", "k", "w_u", "self_w")
            .repartition(n_part, "id"),
            reset_stats=True,
            preserve_partitioning=True,
        )
    else:
        pn = pn.withColumn("community", F.col("id")).select(
            "id", "community", "k", "w_u", "self_w"
        )
    out = _move_round_q(e, pn, 0, {}, 300.0, 40.0, 1.0, False, n_part)
    out.collect()
    return _plan(out).split("== Initial Plan ==")[0]


def test_louvain_generalized_big_path_no_edge_exchange(spark):
    """louvain_generalized round over src-partitioned edges (the K1
    bucketed key): the edge table is joined exactly once (the gather)
    with no re-exchange, and the only explicit repartition is the A1
    onto the scored vertex. Over RAW edges the same round must
    exchange the edge side (self-calibrating contrast). The former
    second edge double-join (in_c) is structurally gone."""
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40, 1.0) for i in range(300) if i % 40 != (i * 11) % 40],
        "src long, dst long, weight double",
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )

    pre_plan = _generalized_round_plan(
        spark,
        barrier(sym.repartition(n_part, "src"), preserve_partitioning=True),
        n_part,
        general_state=True,
    )
    raw_plan = _generalized_round_plan(spark, sym, n_part, general_state=True)
    assert pre_plan.count("REPARTITION_BY_NUM") == 1, pre_plan  # the A1
    # the raw round pays one extra exchange: the edge side of the gather
    assert raw_plan.count("Exchange") == pre_plan.count("Exchange") + 1, (
        pre_plan,
        raw_plan,
    )


def test_louvain_generalized_big_path_round_exchange_count_locked(spark):
    """VERDICT r3 #3: the generalized round now carries the FOLDED
    state (id, community, k, w_u, self_w) hash(id)-partitioned across
    round barriers (the id-0 pattern). Exchange budget for one general
    round, LOCKED — exactly 4, the same budget as the id-0 round
    (test above) even though the generalized metrics additionally need
    in[c]:

      1. the A1 gather repartition on src (edge-sized, inherent),
      2. the community-base groupBy(community) over the state,
      3. the community-keyed aug⋈comm join (the in_c groupBy(cur)
         piggybacks on this exchange: its input is filtered to
         c_dst == cur, so hash(c_dst) satisfies its distribution),
      4. the argmax groupBy(vid);

    the gather join, the w_vc⋈state join, and the update join are
    exchange-free shuffle-hash joins (no SortMergeJoin anywhere). The
    identity start (community := id attached after the checkpoint)
    makes the state-side community aggregation alias-free as well:
    3 exchanges."""
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40, 1.0) for i in range(300) if i % 40 != (i * 11) % 40],
        "src long, dst long, weight double",
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    e = barrier(sym.repartition(n_part, "src"), preserve_partitioning=True)

    plan = _generalized_round_plan(spark, e, n_part, general_state=True)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert plan.count("Exchange") == 4, plan

    plan_id = _generalized_round_plan(spark, e, n_part, general_state=False)
    assert "SortMergeJoin" not in plan_id, plan_id
    assert plan_id.count("Exchange") == 3, plan_id


def test_louvain_big_path_labels_match_broadcast_path(spark):
    """broadcast_threshold=0 (pure shuffle path) must produce the exact
    labels, modularity, and level count of the broadcast path — the
    scaled-integer decision algebra is partition-count-invariant."""
    from linkgraph.graph.build import build_graph
    from linkgraph.operators.louvain import louvain
    from tests.fixtures import random_edges, toy_edges_df

    for df in (
        toy_edges_df(spark),
        spark.createDataFrame(
            random_edges(40, 100, 21, weighted=True), "src long, dst long, weight double"
        ),
    ):
        g = build_graph(df)
        a = louvain(spark, g)
        b = louvain(spark, g, broadcast_threshold=0)
        la = {r.id: r.community for r in a.assignment.collect()}
        lb = {r.id: r.community for r in b.assignment.collect()}
        assert la == lb
        assert a.modularity == b.modularity
        assert a.levels == b.levels


def test_lpa_superstep_exchange_count(spark):
    """LPA big path: per round, the ONLY shuffles are the two
    aggregations (groupBy(vid,label) with map-side combine + the
    label-count-sized argmax groupBy(vid)); the gather join and the
    update join are exchange-free against the dst-partitioned edge
    cache and the id-partitioned state."""
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40, 1.0) for i in range(300) if i % 40 != (i * 11) % 40],
        "src long, dst long, weight double",
    )
    e = edges.repartition(n_part, "dst").persist()
    e.count()
    verts = e.select(F.col("src").alias("id")).distinct()
    st = barrier(
        verts.repartition(n_part, "id"), preserve_partitioning=True
    ).withColumn("label", F.col("id"))

    labels = st.select(F.col("id").alias("nid"), F.col("label").alias("nbr_label")).hint(
        "shuffle_hash"
    )
    contribs = e.join(labels, e.dst == F.col("nid")).select(
        F.col("src").alias("vid"), "nbr_label", "weight", F.lit(False).alias("is_cur")
    )
    self_rows = st.select(
        F.col("id").alias("vid"),
        F.col("label").alias("nbr_label"),
        F.lit(0.0).alias("weight"),
        F.lit(True).alias("is_cur"),
    )
    by_label = (
        contribs.unionByName(self_rows)
        .groupBy("vid", "nbr_label")
        .agg(F.sum("weight").alias("w"), F.max("is_cur").alias("is_cur"))
    )
    best = by_label.groupBy("vid").agg(
        F.max_by(
            "nbr_label",
            F.struct(F.col("w"), F.col("is_cur"), (-F.col("nbr_label")).alias("n")),
        ).alias("best_label")
    ).hint("shuffle_hash")
    new = st.join(best, st.id == best.vid, "left").select(
        st.id, F.coalesce(F.col("best_label"), st.label).alias("label")
    )
    new.collect()
    plan = _plan(new)
    outer = plan.split("InMemoryRelation")[0]
    assert "SortMergeJoin" not in outer
    assert _outer_exchanges(plan) <= 2, plan


def test_bucketed_k1_feeds_cc_lpa_louvain(spark, tmp_path):
    """VERDICT r3 #4: the catalog-known bucketed K1 layout now feeds
    CC, LPA, and Louvain via pre_partitioned flags (mirroring
    pagerank): identical labels to the default path, and the superstep
    gather over the bucketed table plans strictly fewer exchanges than
    over the raw table (zero on the edge side — self-calibrating
    contrast, the test_louvain_move_round_edge_side_exchange_saved
    pattern)."""
    from linkgraph.graph.build import build_graph, read_adjacency_table, write_adjacency_table
    from linkgraph.operators.components import connected_components
    from linkgraph.operators.louvain import louvain
    from linkgraph.operators.lpa import label_propagation
    from tests.fixtures import toy_edges_df

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = build_graph(toy_edges_df(spark))  # symmetric, deduped
    spark.sql("DROP TABLE IF EXISTS t_adj_ops")
    write_adjacency_table(g, "t_adj_ops", str(tmp_path / "adj_ops"), num_buckets=n_part)
    t = read_adjacency_table(spark, "t_adj_ops")

    # plan audit: one CC gather (join labels on src, min per dst) over
    # the bucketed table vs the same over a raw re-read of the files
    raw = spark.read.parquet(str(tmp_path / "adj_ops"))

    def gather_exchanges(e):
        labels = e.select(F.col("src").alias("id")).distinct().withColumn(
            "component", F.col("id")
        ).hint("shuffle_hash")
        nm = (
            e.join(labels, e.src == labels.id)
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("component").alias("m"))
        )
        nm.collect()
        return _plan(nm).split("== Initial Plan ==")[0].count("Exchange")

    assert gather_exchanges(t) < gather_exchanges(raw)

    # result equality across the two paths for all three operators
    cc_a = {(r.id, r.component) for r in connected_components(spark, g).collect()}
    cc_b = {
        (r.id, r.component)
        for r in connected_components(spark, t, pre_partitioned=True).collect()
    }
    assert cc_a == cc_b

    lpa_a = {(r.id, r.label) for r in label_propagation(spark, g, max_iter=4).collect()}
    lpa_b = {
        (r.id, r.label)
        for r in label_propagation(
            spark, t, max_iter=4, pre_partitioned=True
        ).collect()
    }
    assert lpa_a == lpa_b

    lv_a = louvain(spark, g)
    lv_b = louvain(spark, t, pre_partitioned=True)
    a = {(r.id, r.community) for r in lv_a.assignment.collect()}
    b = {(r.id, r.community) for r in lv_b.assignment.collect()}
    assert a == b
    assert lv_a.modularity == lv_b.modularity
    spark.sql("DROP TABLE t_adj_ops")


def test_mutation_preserves_src_partitioning(spark):
    """Incremental-loop carried-graph invariant: every edge version is
    hash(src)-partitioned so EVERY warm Louvain call runs
    pre_partitioned (skipping the per-call 100%-of-graph persist +
    repartition — measured ~50s/phase at 123M rows). Locks the two
    mutation paths:

    * apply_deletions — broadcast anti-join: ZERO exchanges, and the
      surviving rows keep the partitioning (src-keyed agg on the
      barriered result plans no exchange);
    * apply_additions(repartition_src=n) — exactly ONE exchange (the
      explicit hash(src) repartition; the (src,dst) merge groupBy is
      satisfied by hash(src) and adds none), partitioning kept;
    * row equality with the unpartitioned path.
    """
    from linkgraph.streaming.deltas import apply_additions, apply_deletions
    from linkgraph.plans.superstep import barrier

    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 50, (i * 13) % 50, 1.0) for i in range(400) if i % 50 != (i * 13) % 50],
        "src long, dst long, weight double",
    )
    base = barrier(
        edges.repartition(n_part, "src"),
        reset_stats=True,
        preserve_partitioning=True,
    )
    delta = spark.createDataFrame(
        [(1, 13, 1.0), (2, 26, 1.0), (7, 41, 2.5)],
        "src long, dst long, weight double",
    )

    def final_plan(df) -> str:
        df.collect()
        return _plan(df).split("== Initial Plan ==")[0]

    # deletions: broadcast anti-join, zero SHUFFLE exchanges (the
    # BroadcastExchange is the point — delta batches are tiny).
    # Plan-audit on a SEPARATE instance: executing a Dataset under AQE
    # caches its adaptive plan, and a later barrier() on that same
    # object cannot recover the partitioning (the AQE trap barrier's
    # docstring documents) — production always barriers fresh frames.
    p = final_plan(apply_deletions(base, delta))
    assert p.count("Exchange hashpartitioning") == 0, p
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p
    del_v = barrier(
        apply_deletions(base, delta),
        reset_stats=True,
        preserve_partitioning=True,
    )
    agg = del_v.groupBy("src").agg(F.sum("weight").alias("w"))
    assert final_plan(agg).count("Exchange") == 0

    # additions: exactly the ONE explicit hash(src) exchange — the
    # (src,dst) merge groupBy is satisfied by hash(src) and adds none
    p = final_plan(apply_additions(base, delta, repartition_src=n_part))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "hashpartitioning(src" in p, p
    add_v = barrier(
        apply_additions(base, delta, repartition_src=n_part),
        reset_stats=True,
        preserve_partitioning=True,
    )
    agg = add_v.groupBy("src").agg(F.sum("weight").alias("w"))
    assert final_plan(agg).count("Exchange") == 0

    # same rows either way
    plain = {tuple(r) for r in apply_additions(base, delta).collect()}
    part = {tuple(r) for r in add_v.collect()}
    assert plain == part
    plain_d = {tuple(r) for r in base.join(
        delta.select("src", "dst").unionByName(
            delta.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ), ["src", "dst"], "left_anti").collect()}
    assert {tuple(r) for r in del_v.collect()} == plain_d
