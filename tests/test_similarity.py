from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.functions.similarity import (
    embedding_near_dup_exact,
    embedding_near_dup_pairs,
    knn_bruteforce,
    knn_lsh,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16))
    # planted near-dup of 0: collinear (guaranteed same LSH signs)
    base[1] = base[0] * 1.001
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _numpy_topk(vecs, qids, k):
    arr = {i: np.array(v) for i, v in vecs}
    out = {}
    for q in qids:
        sims = []
        for i, v in arr.items():
            if i == q:
                continue
            s = float(arr[q] @ v / (np.linalg.norm(arr[q]) * np.linalg.norm(v)))
            sims.append((round(s, 6), -i))
        sims.sort(reverse=True)
        out[q] = [(round(s, 6), -ni) for s, ni in sims[:k]]
    return out


def test_knn_bruteforce_matches_numpy(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 5)
    got = knn_bruteforce(vectors, queries, k=3).collect()
    vecs = [(r.vec_id, r.embedding) for r in vectors.collect()]
    want = _numpy_topk(vecs, range(5), 3)
    for r in got:
        w_sim, w_id = want[r.query_id][r.rank - 1]
        assert r.neighbor_id == w_id
        assert abs(r.sim - w_sim) < 2e-6


def test_knn_lsh_recall_on_planted_dup(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0)
    got = knn_lsh(vectors, queries, k=3, n_planes=6)
    top = got.filter(F.col("rank") == 1).first()
    assert top is not None and top.neighbor_id == 1  # near-identical vector shares every LSH bucket


def test_embedding_near_dup_pairs(spark, vectors):
    pairs = {(r.a, r.b): r.sim for r in
             embedding_near_dup_pairs(vectors, threshold=0.99, n_planes=6).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.999


def test_embedding_near_dup_exact_matches_numpy(spark, vectors):
    """Brute-force near-dup pairs equal an independent NumPy all-pairs
    evaluation, and the LSH-bucketed variant returns a subset of them
    (same exact-cosine filter, candidates restricted to buckets)."""
    vecs = {r.vec_id: np.array(r.embedding) for r in vectors.collect()}
    t = 0.3
    want = {}
    for a in sorted(vecs):
        for b in sorted(vecs):
            if a < b:
                s = round(float(vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))), 6)
                if s >= t:
                    want[(a, b)] = s
    got = {(r.a, r.b): r.sim for r in embedding_near_dup_exact(vectors, threshold=t).collect()}
    assert set(got) == set(want)
    assert all(abs(got[p] - want[p]) < 2e-6 for p in got)
    # subset check pinned to sim_impl="fold": identical rounding to the
    # exact baseline, so `lsh <= got` holds by construction (ADVICE r4:
    # the numpy batch cosine can disagree with the fold within float
    # noise of the 6-decimal rounding boundary, flipping the >= filter)
    lsh = {(r.a, r.b) for r in
           embedding_near_dup_pairs(vectors, threshold=t, n_planes=6,
                                    sim_impl="fold").collect()}
    assert lsh <= set(got)
    assert (0, 1) in lsh  # planted collinear dup survives bucketing
    # the numpy scale path is boundary-tolerant-equal to fold: same
    # pairs up to sims within 2e-6 of the threshold, sims within 2e-6
    np_pairs = {(r.a, r.b): r.sim for r in
                embedding_near_dup_pairs(vectors, threshold=t,
                                         n_planes=6).collect()}
    for p in set(np_pairs) ^ lsh:
        s = np_pairs.get(p, want.get(p, 0.0))
        assert abs(s - t) < 2e-6
    for p in set(np_pairs) & lsh:
        assert abs(np_pairs[p] - want[p]) < 2e-6


def test_knn_on_sf_embeddings(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = knn_bruteforce(emb, queries, k=5)
    cnt = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in cnt)


def test_knn_lsh_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe (hamming-1 buckets) must recover at least as many of
    the true top-k as single-probe, and strictly more on a fixture
    where neighbors straddle one hyperplane; every returned pair must
    also appear in the brute-force ranking with the same sim."""
    import numpy as np
    from linkgraph.functions.similarity import knn_bruteforce

    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 16))
    # 40 vectors in 8 tight clusters -> near neighbors, some across planes
    rows = [
        (i, (base[i // 5 * 5] + 0.15 * rng.standard_normal(16)).tolist())
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.limit(6)

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    truth = pairs(knn_bruteforce(vecs, queries, k=4))
    single = pairs(knn_lsh(vecs, queries, k=4, n_planes=8, multi_probe=False))
    multi = pairs(knn_lsh(vecs, queries, k=4, n_planes=8, multi_probe=True))
    assert len(multi & truth) >= len(single & truth)
    assert len(multi & truth) > len(single & truth), (
        len(multi & truth), len(single & truth))
    # candidates are genuine (sim values come from the same exact rerank)
    assert multi <= pairs(knn_bruteforce(vecs, queries, k=40))


def test_knn_ivf_full_probe_equals_bruteforce(spark, vectors):
    """n_probe == n_centroids degrades IVF to exact brute force: every
    vector is a candidate for every query, so the reranked top-k is
    identical (ids, sims and ranks)."""
    from linkgraph.functions.similarity import knn_ivf

    queries = vectors.filter(F.col("vec_id") < 5)
    want = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
            for r in knn_bruteforce(vectors, queries, k=3).collect()}
    got = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
           for r in knn_ivf(vectors, queries, k=3, n_centroids=8,
                            n_probe=8).collect()}
    assert got == want


def test_knn_ivf_recall_and_candidate_soundness(spark):
    """On a clustered fixture, IVF with a quarter-probe recovers the
    planted nearest neighbor (same tight cluster -> same inverted
    list), and every returned pair exists in the brute-force ranking
    (the rerank is the same exact cosine)."""
    import numpy as np
    from linkgraph.functions.similarity import knn_ivf

    rng = np.random.default_rng(11)
    base = rng.standard_normal((48, 16))
    rows = [
        (i, (3.0 * base[i // 6 * 6] + 0.1 * rng.standard_normal(16)).tolist())
        for i in range(48)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") % 6 == 0)

    got = knn_ivf(vecs, queries, k=3, n_centroids=8, n_probe=2)
    rows_got = got.collect()
    # soundness: subset of the full exact ranking, same sims
    truth = {(r.query_id, r.neighbor_id): r.sim
             for r in knn_bruteforce(vecs, queries, k=47).collect()}
    for r in rows_got:
        assert (r.query_id, r.neighbor_id) in truth
        assert abs(truth[(r.query_id, r.neighbor_id)] - r.sim) < 2e-6
    # recall: each query's rank-1 neighbor comes from its own tight
    # cluster (cosine within cluster ~1, across clusters ~random)
    for r in rows_got:
        if r.rank == 1:
            assert r.neighbor_id // 6 == r.query_id // 6


def test_ivf_centroids_deterministic_and_sized(spark, vectors):
    from linkgraph.functions.similarity import ivf_centroids

    a = ivf_centroids(vectors, n_centroids=8)
    b = ivf_centroids(vectors.repartition(7), n_centroids=8)
    assert a == b  # partitioning-independent selection
    assert [cid for cid, _ in a] == list(range(1, 9))
    assert all(len(v) == 16 for _, v in a)


def test_knn_ivf_join_path_identical_to_inlined(spark, vectors):
    """The large-quantizer broadcast-join assignment must produce the
    byte-identical result to the inlined-projection path: same fold
    distances, same (d, cid) tie-break, same probes."""
    from linkgraph.functions.similarity import knn_ivf

    queries = vectors.filter(F.col("vec_id") % 7 == 0)
    inline = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
              for r in knn_ivf(vectors, queries, k=3, n_centroids=8,
                               n_probe=3, inline_threshold=64).collect()}
    joined = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
              for r in knn_ivf(vectors, queries, k=3, n_centroids=8,
                               n_probe=3, inline_threshold=0).collect()}
    assert joined == inline


def test_knn_ivf_numpy_path_matches_fold_join_path(spark, vectors):
    """The Arrow/numpy large-quantizer path (default at scale) agrees
    with the pure-fold join path on this fixture: same neighbors, same
    ranks, sims equal to the rounding tolerance."""
    from linkgraph.functions.similarity import knn_ivf

    queries = vectors.filter(F.col("vec_id") % 7 == 0)
    fold = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
            for r in knn_ivf(vectors, queries, k=3, n_centroids=8,
                             n_probe=3, inline_threshold=0,
                             large_path="join").collect()}
    npy = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
           for r in knn_ivf(vectors, queries, k=3, n_centroids=8,
                            n_probe=3, inline_threshold=0,
                            large_path="numpy").collect()}
    assert set(fold) == set(npy)
    for key, (nid, sim) in fold.items():
        assert npy[key][0] == nid
        assert abs(npy[key][1] - sim) < 2e-6


def test_ivf_index_roundtrip_matches_adhoc_and_prunes(spark, vectors, tmp_path):
    """build_ivf_index + knn_ivf_indexed returns the byte-identical
    result to the ad-hoc knn_ivf with the same quantizer (numpy large
    path — same matmul assignment, same cogrouped rerank), and the
    corpus scan PRUNES to the probed inverted-list partitions: a
    single query probing 2 of 8 lists reads <= 2 cid partitions
    (PartitionFilters in the scan plan, not a post-scan filter)."""
    from linkgraph.functions.similarity import (
        build_ivf_index,
        ivf_centroids,
        knn_ivf,
        knn_ivf_indexed,
    )

    path = str(tmp_path / "ivf_index")
    cents = build_ivf_index(vectors, path, n_centroids=8)
    assert cents == ivf_centroids(vectors, 8)  # sidecar == recomputed

    queries = vectors.filter(F.col("vec_id") == 7)
    got_df = knn_ivf_indexed(spark, path, queries, k=3, n_probe=2)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
           for r in got_df.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
            for r in knn_ivf(vectors, queries, k=3, n_probe=2,
                             centroids=cents, inline_threshold=0,
                             large_path="numpy").collect()}
    assert got == want and len(got) == 3

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    inlist = pf[1].split("]", 1)[0]
    assert "cid" in inlist
    # one query, n_probe=2 -> at most 2 list ids survive the pruning
    assert inlist.count(",") <= 1, inlist
    # the corpus never shuffles: below the rerank kernel (plans print
    # top-down; keep only AQE's final plan, not the echoed initial
    # plan) there is only the pruned scan — no Exchange
    final_plan = plan.split("== Initial Plan ==", 1)[0]
    below_kernel = final_plan.split("MapInArrow", 1)
    assert len(below_kernel) == 2, final_plan
    assert "Exchange" not in below_kernel[1], final_plan


def test_ivf_train_kmeans_deterministic_and_improves(spark):
    """Lloyd's with exact decimal sums: bit-identical centroids under
    repartition (the float-sum order trap is closed), quantization
    error non-increasing per iteration, and the trained quantizer
    beats the sampled init on a clustered fixture. Trained centroids
    plug into knn_ivf unchanged (full probe == brute force)."""
    import numpy as np
    from linkgraph.functions.similarity import (
        ivf_centroids,
        ivf_train_kmeans,
        knn_ivf,
    )

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((6, 12)) * 4.0
    rows = [
        (i, (centers[i % 6] + 0.3 * rng.standard_normal(12)).tolist())
        for i in range(120)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    X = np.array([r[1] for r in rows])

    def qerr(cents):
        C = np.array([c for _, c in cents])
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d.min(axis=1).mean()

    sampled = ivf_centroids(vecs, 6)
    errs = [qerr(sampled)]
    for it in (1, 2, 3):
        errs.append(qerr(ivf_train_kmeans(vecs, 6, n_iters=it)))
    assert all(b <= a + 1e-12 for a, b in zip(errs, errs[1:])), errs
    assert errs[-1] < errs[0]  # trained beats the sampled init

    a = ivf_train_kmeans(vecs, 6, n_iters=3)
    b = ivf_train_kmeans(vecs.repartition(7), 6, n_iters=3)
    assert a == b  # exact decimal sums: partitioning-independent

    got = {(r.query_id, r.rank): r.neighbor_id
           for r in knn_ivf(vecs, vecs.filter(F.col("vec_id") < 3), k=3,
                            n_probe=6, centroids=a).collect()}
    from linkgraph.functions.similarity import knn_bruteforce
    want = {(r.query_id, r.rank): r.neighbor_id
            for r in knn_bruteforce(vecs, vecs.filter(F.col("vec_id") < 3),
                                    k=3).collect()}
    assert got == want


def test_ivf_indexed_query_batch_guard(spark, vectors, tmp_path):
    from linkgraph.functions.similarity import build_ivf_index, knn_ivf_indexed

    path = str(tmp_path / "ivf_guard")
    build_ivf_index(vectors, path, n_centroids=4)
    with pytest.raises(ValueError, match="max_query_batch"):
        knn_ivf_indexed(spark, path, vectors, k=2, max_query_batch=10)


# ---- round 5: distributed indexed join, hot-list split, maintenance ----


def test_knn_ivf_join_matches_adhoc(spark, vectors, tmp_path):
    """The distributed indexed JOIN path (queries never collected) must
    equal the ad-hoc knn_ivf fed the same quantizer — at full probe and
    at partial probe, with and without scan pruning."""
    from linkgraph.functions.similarity import build_ivf_index, knn_ivf, knn_ivf_join

    idx = str(tmp_path / "ivf_join")
    cents = build_ivf_index(vectors, idx, n_centroids=4)
    for n_probe in (4, 2):
        want = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
                knn_ivf(vectors, vectors, k=3, n_centroids=4, n_probe=n_probe,
                        centroids=cents).collect()}
        got = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
               knn_ivf_join(spark, idx, vectors, k=3, n_probe=n_probe).collect()}
        assert got == want
        pruned = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
                  knn_ivf_join(spark, idx, vectors, k=3, n_probe=n_probe,
                               prune_scan=True).collect()}
        assert pruned == want


def test_hot_list_split_identical(spark, vectors, tmp_path):
    """Forcing every list to split (cap below any list size) must not
    change a single row — same candidates, same global top-k."""
    from linkgraph.functions.similarity import build_ivf_index, knn_ivf, knn_ivf_join

    idx = str(tmp_path / "ivf_hot")
    cents = build_ivf_index(vectors, idx, n_centroids=4)
    base = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
            knn_ivf_join(spark, idx, vectors, k=3, n_probe=4).collect()}
    split = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
             knn_ivf_join(spark, idx, vectors, k=3, n_probe=4,
                          hot_list_cap=5).collect()}
    assert split == base
    # the ad-hoc numpy path takes the same cap
    adhoc = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
             knn_ivf(vectors, vectors, k=3, n_centroids=4, n_probe=4,
                     centroids=cents, inline_threshold=0,
                     hot_list_cap=5).collect()}
    assert adhoc == base


def test_split_hot_lists_only_splits_hot(spark, vectors):
    from linkgraph.functions.similarity import _np_quantizer_udfs, _split_hot_lists
    from linkgraph.functions.similarity import ivf_centroids

    cents = ivf_centroids(vectors, 4)
    assign_udf, probes_udf = _np_quantizer_udfs(cents, 2)
    v = vectors.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("nv")).withColumn(
        "cid", assign_udf(F.col("nv")))
    q = vectors.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("qv")).select(
        "query_id", "qv", F.explode(probes_udf(F.col("qv"))).alias("cid"))
    sizes = {r["cid"]: r["cnt"] for r in
             v.groupBy("cid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    cap = max(sizes.values()) - 1  # only the largest list splits
    v2, q2, splits = _split_hot_lists(v, q, cap)
    assert set(splits) == {c for c, s in sizes.items() if s > cap}
    # replication factor on the query side matches the split map
    n_extra = sum((splits.get(r["cid"], 1) - 1) for r in q.collect())
    assert q2.count() == q.count() + n_extra
    # vector side never replicates, only salts
    assert v2.count() == v.count()
    assert v2.filter(F.col("salt") >= F.coalesce(
        F.lit(None), F.lit(0))).count() == v.count()


def test_ivf_index_maintenance_lifecycle(spark, vectors, tmp_path):
    """Upsert/delete/replace/compact (VERDICT r4 #3): appends use the
    frozen quantizer and generation stamps; deletes are gen-cut
    tombstones (re-add of a deleted id works WITHOUT compact); both
    query paths (driver-batch serving + distributed join) serve the
    live set; compact rewrites to live rows and preserves results."""
    import numpy as np
    from linkgraph.functions.similarity import (
        _read_index_rows, build_ivf_index, ivf_index_compact,
        ivf_index_delete, ivf_index_upsert, knn_ivf_indexed, knn_ivf_join)

    idx = str(tmp_path / "ivf_maint")
    build_ivf_index(vectors, idx, n_centroids=4)
    rng = np.random.default_rng(11)
    newv = spark.createDataFrame(
        [(100 + i, rng.standard_normal(16).tolist()) for i in range(10)],
        "vec_id long, embedding array<double>")
    gen = ivf_index_upsert(spark, idx, newv)
    assert gen == 1
    assert _read_index_rows(spark, idx).count() == 50

    ivf_index_delete(spark, idx, [0, 100])
    live = _read_index_rows(spark, idx)
    assert live.count() == 48
    assert live.filter(F.col("neighbor_id").isin(0, 100)).count() == 0

    # both query paths hide tombstoned ids
    q5 = vectors.filter(F.col("vec_id") < 5)
    served = {r.neighbor_id for r in
              knn_ivf_indexed(spark, idx, q5, k=50, n_probe=4).collect()}
    joined = {r.neighbor_id for r in
              knn_ivf_join(spark, idx, q5, k=50, n_probe=4).collect()}
    assert 0 not in served and 100 not in served
    assert served == joined

    # re-add id 0 (replace): survives its own earlier tombstone
    re0 = vectors.filter(F.col("vec_id") == 0)
    gen2 = ivf_index_upsert(spark, idx, re0, replace=True)
    assert gen2 == 2
    live = _read_index_rows(spark, idx)
    assert live.count() == 49
    assert live.filter(F.col("neighbor_id") == 0).count() == 1

    before = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
              knn_ivf_join(spark, idx, vectors, k=3, n_probe=4).collect()}
    n = ivf_index_compact(spark, idx)
    assert n == 49
    assert _read_index_rows(spark, idx).count() == 49
    after = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
             knn_ivf_join(spark, idx, vectors, k=3, n_probe=4).collect()}
    assert after == before
    # tombstones cleared by the compact
    import os
    assert not os.path.exists(os.path.join(idx, "_tombstones"))


def test_knn_ivf_join_table_bucketed_zero_corpus_exchange(spark, vectors, tmp_path):
    """build_ivf_table (catalog-known bucketBy(cid) — the similarity
    tier's K1): knn_ivf_join_table returns exactly knn_ivf_join's rows
    while the corpus side of the cogroup reads STRAIGHT off its
    buckets — the executed plan has no Exchange between the bucketed
    FileScan and the cogroup (only the probe rows and the final
    window shuffle)."""
    from linkgraph.functions.similarity import (
        build_ivf_index, build_ivf_table, knn_ivf_join, knn_ivf_join_table)

    spark.sql("DROP TABLE IF EXISTS t_ivf_sim")
    spark.sql("DROP TABLE IF EXISTS t_ivf_sim_centroids")
    cents = build_ivf_table(
        vectors, "t_ivf_sim", str(tmp_path / "ivf_tbl"), n_centroids=4)
    idx = str(tmp_path / "ivf_path")
    build_ivf_index(vectors, idx, centroids=cents)

    got = knn_ivf_join_table(spark, "t_ivf_sim", vectors, k=3, n_probe=4)
    want = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
            knn_ivf_join(spark, idx, vectors, k=3, n_probe=4).collect()}
    assert {(r.query_id, r.rank): (r.neighbor_id, r.sim)
            for r in got.collect()} == want

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # corpus subtree = between the cogroup node and its first child
    # boundary; simpler robust check: exactly the probe-side cid
    # exchange and the window's query_id exchange exist, nothing else
    import re
    keys = [m.group(1) for m in
            re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)]
    assert set(keys) == {"cid", "query_id"}, keys
    # and the corpus scan feeds a partition-local Sort, not an Exchange
    corpus_seg = plan[plan.index("FlatMapCoGroupsInArrow"):]
    corpus_seg = corpus_seg[:corpus_seg.index("FileScan")]
    assert "Exchange" not in corpus_seg
    spark.sql("DROP TABLE t_ivf_sim")
    spark.sql("DROP TABLE t_ivf_sim_centroids")


def test_ivf_table_maintenance_merge_on_read(spark, vectors, tmp_path):
    """Bucketed-table maintenance (the round-4 known gap): V1 buckets
    cannot be appended, so upsert/delete are merge-on-read — a
    generation-stamped delta companion + gen-cut tombstones, served by
    knn_ivf_join_table as a SEPARATE cogroup whose partial top-ks
    union before the global window. Every step is mirrored on a
    path-based index with the SAME quantizer and asserted equal, so
    the maintained bucketed table serves exactly the path index's live
    set; compact folds everything back into the buckets and drops the
    companions."""
    from linkgraph.functions.similarity import (
        build_ivf_index, build_ivf_table, ivf_index_delete,
        ivf_index_upsert, ivf_table_compact, ivf_table_delete,
        ivf_table_upsert, knn_ivf_join, knn_ivf_join_table)

    for t in ("t_ivf_mnt", "t_ivf_mnt_centroids", "t_ivf_mnt_delta",
              "t_ivf_mnt_tombstones", "t_ivf_mnt_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    cents = build_ivf_table(
        vectors, "t_ivf_mnt", str(tmp_path / "ivf_mnt_tbl"), n_centroids=4)
    idx = str(tmp_path / "ivf_mnt_path")
    build_ivf_index(vectors, idx, centroids=cents)

    def both_equal():
        tbl = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
               knn_ivf_join_table(
                   spark, "t_ivf_mnt", vectors, k=3, n_probe=4).collect()}
        pth = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
               knn_ivf_join(spark, idx, vectors, k=3, n_probe=4).collect()}
        assert tbl == pth
        return tbl

    base = both_equal()

    rng = np.random.default_rng(23)
    newv = spark.createDataFrame(
        [(200 + i, rng.standard_normal(16).tolist()) for i in range(10)],
        "vec_id long, embedding array<double>")
    assert ivf_table_upsert(spark, "t_ivf_mnt", newv) == 1
    ivf_index_upsert(spark, idx, newv)
    after_add = both_equal()
    assert after_add != base  # the delta rows are actually served

    # delete one bucketed-main id and one delta id
    assert ivf_table_delete(spark, "t_ivf_mnt", [0, 200]) == 2
    ivf_index_delete(spark, idx, [0, 200])
    served = both_equal()
    assert all(n not in (0, 200) for n, _ in served.values())

    # replace-re-add id 0: survives its own earlier tombstone
    re0 = vectors.filter(F.col("vec_id") == 0)
    assert ivf_table_upsert(spark, "t_ivf_mnt", re0, replace=True) == 2
    ivf_index_upsert(spark, idx, re0, replace=True)
    with_re0 = both_equal()
    assert any(n == 0 for n, _ in with_re0.values())

    # compact: buckets hold exactly the live set, companions dropped,
    # results byte-equal
    n = ivf_table_compact(spark, "t_ivf_mnt")
    assert n == 49  # 40 - 2 deleted + 10 added + 1 re-added
    assert not spark.catalog.tableExists("t_ivf_mnt_delta")
    assert not spark.catalog.tableExists("t_ivf_mnt_tombstones")
    assert both_equal() == with_re0

    # the compacted table is still bucketed and its corpus cogroup is
    # still exchange-free
    got = knn_ivf_join_table(spark, "t_ivf_mnt", vectors, k=3, n_probe=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    corpus_seg = plan[plan.index("FlatMapCoGroupsInArrow"):]
    corpus_seg = corpus_seg[:corpus_seg.index("FileScan")]
    assert "Exchange" not in corpus_seg
    for t in ("t_ivf_mnt", "t_ivf_mnt_centroids", "t_ivf_mnt_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_table_tombstone_filter_keeps_buckets_exchange_free(
        spark, vectors, tmp_path):
    """Deletes alone must not cost the bucketed side its layout: the
    tombstone cut applies as a BROADCAST left join, which streams the
    bucketed scan and preserves HashPartitioning(cid) — the corpus
    cogroup plans with no shuffle Exchange even while tombstones are
    live (only the probe rows and the window shuffle)."""
    import re

    from linkgraph.functions.similarity import (
        build_ivf_table, ivf_table_delete, knn_ivf_join_table)

    for t in ("t_ivf_ts", "t_ivf_ts_centroids", "t_ivf_ts_delta",
              "t_ivf_ts_tombstones", "t_ivf_ts_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_ivf_table(
        vectors, "t_ivf_ts", str(tmp_path / "ivf_ts_tbl"), n_centroids=4)
    ivf_table_delete(spark, "t_ivf_ts", [3, 7])

    got = knn_ivf_join_table(spark, "t_ivf_ts", vectors, k=3, n_probe=4)
    assert got.filter(F.col("neighbor_id").isin(3, 7)).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    keys = [m.group(1) for m in
            re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)]
    # probe-side cid, window query_id, and the tombstone-cut groupBy's
    # own (tombstone-table-sized) id shuffle — never the corpus rows
    assert set(keys) <= {"cid", "query_id", "id"}, keys
    assert "BroadcastHashJoin" in plan
    corpus_seg = plan[plan.index("FlatMapCoGroupsInArrow"):]
    corpus_seg = corpus_seg[:corpus_seg.index("FileScan")]
    assert "Exchange hashpartitioning" not in corpus_seg
    for t in ("t_ivf_ts", "t_ivf_ts_centroids", "t_ivf_ts_tombstones",
              "t_ivf_ts_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cogroup_rerank_query_chunking_exact(spark, vectors, tmp_path, monkeypatch):
    """The cogrouped rerank chunks its QUERY side: a popular list
    probed by a large distributed query batch (knn_ivf_join at >=10^6
    query rows) must not materialize the full queries x list-rows sim
    matrix in one task (144 GiB observed at 1M queries x a 250k-row
    list before the fix). Forcing tiny chunks leaves results
    byte-identical — top-k is computed per query row."""
    import linkgraph.functions.similarity as sim

    idx = str(tmp_path / "ivf_chunk")
    sim.build_ivf_index(vectors, idx, n_centroids=4)
    want = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
            sim.knn_ivf_join(spark, idx, vectors, k=3, n_probe=2).collect()}
    want_idx = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
                sim.knn_ivf_indexed(
                    spark, idx, vectors, k=3, n_probe=2).collect()}
    # ~10-row lists -> 6-row query chunks: every group multi-chunks
    monkeypatch.setattr(sim, "_RERANK_CHUNK_CELLS", 64)
    got = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
           sim.knn_ivf_join(spark, idx, vectors, k=3, n_probe=2).collect()}
    assert got == want
    # the serving kernel chunks the same way (contractual 100k-query
    # batch x a scan batch is multi-GB unchunked)
    got_idx = {(r.query_id, r.rank): (r.neighbor_id, r.sim) for r in
               sim.knn_ivf_indexed(
                   spark, idx, vectors, k=3, n_probe=2).collect()}
    assert got_idx == want_idx


def test_capped_join_uses_persisted_sizes_no_extra_scan(spark, vectors, tmp_path):
    """VERDICT r5 #1: build_ivf_index persists per-list size stats and
    a capped knn_ivf_join sizes its hot-list salt from them — building
    the (lazy) join plan schedules ZERO Spark jobs (the former shape
    ran a full corpus-side groupBy-count before every capped join).
    Deleting the sidecar re-enables the count-pass fallback with
    byte-identical results."""
    import os

    from linkgraph.functions.similarity import (
        _read_index_sizes, build_ivf_index, knn_ivf_join)

    idx = str(tmp_path / "ivf_sz")
    build_ivf_index(vectors, idx, n_centroids=4)
    sizes = _read_index_sizes(spark, idx)
    assert sizes is not None and sum(sizes.values()) == 40
    truth = {
        int(r["cid"]): int(r["cnt"])
        for r in spark.read.parquet(idx)
        .groupBy("cid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert sizes == truth

    sc = spark.sparkContext
    # reference: jobs an UNCAPPED plan build schedules (parquet
    # partition discovery / schema read — read setup, not salt sizing)
    sc.setJobGroup("r6-uncapped", "uncapped join plan build")
    try:
        knn_ivf_join(spark, idx, vectors, k=3, n_probe=4, hot_list_cap=None)
    finally:
        base_jobs = sc.statusTracker().getJobIdsForGroup("r6-uncapped")
        sc.setJobGroup(None, None)
    sc.setJobGroup("r6-no-scan", "capped join plan build")
    try:
        # cap of 4 forces splitting on this index (lists ~10 rows)
        lazy = knn_ivf_join(spark, idx, vectors, k=3, n_probe=4, hot_list_cap=4)
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup("r6-no-scan")
        sc.setJobGroup(None, None)
    # the cap must add ZERO jobs over the uncapped build (the former
    # shape ran a full corpus groupBy-count here)
    assert len(jobs) <= len(base_jobs), (jobs, base_jobs)
    with_stats = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
                  for r in lazy.collect()}

    os.remove(os.path.join(idx, "_ivf_list_sizes.json"))
    assert _read_index_sizes(spark, idx) is None
    fallback = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
                for r in knn_ivf_join(
                    spark, idx, vectors, k=3, n_probe=4, hot_list_cap=4
                ).collect()}
    assert with_stats == fallback


def test_index_sizes_maintained_by_upsert_and_compact(spark, vectors, tmp_path):
    """The size stats follow the maintenance ops: upsert adds the
    batch's counts (physical rows — an upper bound under replace),
    compact resets them to exact live counts."""
    from linkgraph.functions.similarity import (
        _read_index_sizes, build_ivf_index, ivf_index_compact,
        ivf_index_delete, ivf_index_upsert)

    idx = str(tmp_path / "ivf_mnt_sz")
    build_ivf_index(vectors.filter(F.col("vec_id") < 30), idx, n_centroids=4)
    s0 = _read_index_sizes(spark, idx)
    assert sum(s0.values()) == 30
    ivf_index_upsert(spark, idx, vectors.filter(F.col("vec_id") >= 30))
    s1 = _read_index_sizes(spark, idx)
    assert sum(s1.values()) == 40
    # replace re-adds existing ids: physical counts now overcount live
    ivf_index_upsert(
        spark, idx, vectors.filter(F.col("vec_id") < 5), replace=True
    )
    s2 = _read_index_sizes(spark, idx)
    assert sum(s2.values()) == 45
    ivf_index_delete(spark, idx, [7, 8])
    ivf_index_compact(spark, idx)
    s3 = _read_index_sizes(spark, idx)
    assert sum(s3.values()) == 38  # 40 live - 2 deleted
    truth = {
        int(r["cid"]): int(r["cnt"])
        for r in spark.read.parquet(idx)
        .groupBy("cid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert s3 == truth


def test_hybrid_skew_bucketed_join(spark, vectors, tmp_path):
    """VERDICT r5 #4: with the <table>_sizes stats, a capped
    knn_ivf_join_table routes ONLY hot lists through the salted
    cogroup; cold lists cogroup exchange-free off the buckets. A cap
    small enough to make every list hot still returns byte-identical
    rows, and the hybrid plan keeps a no-exchange corpus subtree for
    the cold side."""
    from linkgraph.functions.similarity import (
        _table_list_sizes, build_ivf_table, knn_ivf_join_table)

    for t in ("t_ivf_hyb", "t_ivf_hyb_centroids", "t_ivf_hyb_sizes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_ivf_table(vectors, "t_ivf_hyb", str(tmp_path / "hyb"), n_centroids=4)
    sizes = _table_list_sizes(spark, "t_ivf_hyb")
    assert sizes is not None and sum(sizes.values()) == 40

    want = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
            for r in knn_ivf_join_table(
                spark, "t_ivf_hyb", vectors, k=3, n_probe=4,
                hot_list_cap=None,
            ).collect()}
    # cap 4 makes several lists hot -> hybrid two-cogroup plan
    hyb = knn_ivf_join_table(
        spark, "t_ivf_hyb", vectors, k=3, n_probe=4, hot_list_cap=4
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.sim)
           for r in hyb.collect()}
    assert got == want

    plan = hyb._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # the cold cogroup reads straight off the bucketed scan: at least
    # one FlatMapCoGroupsInArrow..FileScan segment with no Exchange
    segs = plan.split("FlatMapCoGroupsInArrow")
    corpus_free = 0
    for seg in segs[1:]:
        if "FileScan" in seg:
            head = seg[: seg.index("FileScan")]
            if "Exchange" not in head:
                corpus_free += 1
    assert corpus_free >= 1, plan
    for t in ("t_ivf_hyb", "t_ivf_hyb_centroids", "t_ivf_hyb_sizes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_table_sizes_maintained_by_upsert_and_compact(spark, vectors, tmp_path):
    """<table>_sizes follows ivf_table_upsert (append) and
    ivf_table_compact (exact reset) — the bucketed analog of the
    sidecar maintenance test."""
    from linkgraph.functions.similarity import (
        _table_list_sizes, build_ivf_table, ivf_table_compact,
        ivf_table_delete, ivf_table_upsert)

    for t in ("t_ivf_szm", "t_ivf_szm_centroids", "t_ivf_szm_sizes",
              "t_ivf_szm_delta", "t_ivf_szm_tombstones", "t_ivf_szm_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_ivf_table(
        vectors.filter(F.col("vec_id") < 30), "t_ivf_szm",
        str(tmp_path / "szm"), n_centroids=4)
    assert sum(_table_list_sizes(spark, "t_ivf_szm").values()) == 30
    ivf_table_upsert(spark, "t_ivf_szm", vectors.filter(F.col("vec_id") >= 30))
    assert sum(_table_list_sizes(spark, "t_ivf_szm").values()) == 40
    ivf_table_delete(spark, "t_ivf_szm", [3, 4])
    ivf_table_compact(spark, "t_ivf_szm")
    s = _table_list_sizes(spark, "t_ivf_szm")
    assert sum(s.values()) == 38
    truth = {
        int(r["cid"]): int(r["cnt"])
        for r in spark.table("t_ivf_szm")
        .groupBy("cid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert s == truth
    for t in ("t_ivf_szm", "t_ivf_szm_centroids", "t_ivf_szm_sizes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _run_jobs(spark, group: str, fn):
    """(fn(), the number of Spark jobs it ran); ``group`` must be fresh."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup(None, None)
    return out, len(jobs)


def _batch(spark, first_id: int, n: int, seed: int):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(
        [(first_id + i, rng.standard_normal(16).tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).persist()


def _drop_ivf_table(spark, table: str) -> None:
    for t in ("", "_centroids", "_sizes", "_delta", "_tombstones", "_meta"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{t}")


def test_ivf_write_calls_job_budget_and_counts(spark, vectors, tmp_path):
    """Each maintenance write moves its batch through Spark once: no
    parquet schema probe in the index upsert, one scan for the table's
    gen, no recount after a tombstone write. The per-call job counts on
    a small store are upper bounds here. Each delete returns the
    tombstone rows it wrote, a duplicate id counted each time, for a
    list, a one-column DataFrame and an empty list."""
    from linkgraph.functions.similarity import (
        _read_index_rows, build_ivf_index, build_ivf_table, ivf_index_delete,
        ivf_index_upsert, ivf_table_delete, ivf_table_upsert)

    _drop_ivf_table(spark, "t_ivf_bud")
    cents = build_ivf_table(
        vectors, "t_ivf_bud", str(tmp_path / "bud_tbl"), n_centroids=4)
    idx = str(tmp_path / "bud_idx")
    build_ivf_index(vectors, idx, centroids=cents)
    newv = _batch(spark, 500, 10, 41)
    newv.count()

    calls = {
        "index-upsert": (lambda: ivf_index_upsert(spark, idx, newv), 1, 4),
        "table-upsert": (lambda: ivf_table_upsert(spark, "t_ivf_bud", newv), 1, 6),
        "index-delete": (lambda: ivf_index_delete(spark, idx, [3, 3, 5]), 3, 1),
        "table-delete": (
            lambda: ivf_table_delete(spark, "t_ivf_bud", [3, 3, 5]), 3, 2),
    }
    for name, (call, want, budget) in calls.items():
        got, jobs = _run_jobs(spark, f"ivf-budget-{name}", call)
        assert got == want, (name, got)
        assert jobs <= budget, (name, jobs)
    newv.unpersist()

    ids_df = spark.createDataFrame([(6,), (7,)], "doc long")
    assert ivf_index_delete(spark, idx, ids_df) == 2
    assert ivf_table_delete(spark, "t_ivf_bud", ids_df) == 2
    assert ivf_index_delete(spark, idx, []) == 0
    assert ivf_table_delete(spark, "t_ivf_bud", []) == 0
    live = {r.neighbor_id for r in _read_index_rows(spark, idx).collect()}
    assert live == (set(range(40)) | set(range(500, 510))) - {3, 5, 6, 7}
    _drop_ivf_table(spark, "t_ivf_bud")


def test_ivf_index_without_meta_raises(spark, vectors, tmp_path):
    """A path index without its _ivf_meta.json generation record is
    refused by upsert and delete before anything is written: a guessed
    gen 0 would give a delete a cut that misses every upserted row."""
    import os

    from linkgraph.functions.similarity import (
        build_ivf_index, ivf_index_delete, ivf_index_upsert)

    idx = str(tmp_path / "ivf_nometa")
    build_ivf_index(vectors, idx, n_centroids=4)
    os.remove(os.path.join(idx, "_ivf_meta.json"))
    with pytest.raises(ValueError, match="_ivf_meta.json"):
        ivf_index_upsert(spark, idx, vectors.filter(F.col("vec_id") < 2))
    with pytest.raises(ValueError, match="_ivf_meta.json"):
        ivf_index_delete(spark, idx, [1])
    assert not os.path.exists(os.path.join(idx, "_tombstones"))
    assert not os.path.exists(os.path.join(idx, "_ivf_meta.json"))


def test_ivf_index_upsert_crash_after_gen_record(
        spark, vectors, tmp_path, monkeypatch):
    """Crash injection on the path index: the partitioned row append
    dies after the gen sidecar is written. The recorded gen has moved
    on with no rows, none of the batch is served, the next upsert takes
    the next gen and a later delete still hides its ids. With
    replace=True the tombstone lands first, so the crash hides the old
    copies and no id is ever served twice."""
    from pyspark.sql.readwriter import DataFrameWriter

    from linkgraph.functions.similarity import (
        _read_index_meta, _read_index_rows, build_ivf_index,
        ivf_index_delete, ivf_index_upsert)

    idx = str(tmp_path / "ivf_crash")
    build_ivf_index(vectors, idx, n_centroids=4)
    parquet = DataFrameWriter.parquet

    def crash_on_row_append(self, path, *a, **kw):
        if path.rstrip("/") == idx:
            raise RuntimeError("injected crash")
        return parquet(self, path, *a, **kw)

    def upsert_crashes(batch, replace):
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", crash_on_row_append)
            with pytest.raises(RuntimeError, match="injected crash"):
                ivf_index_upsert(spark, idx, batch, replace=replace)

    def served():
        ids = [r.neighbor_id for r in
               _read_index_rows(spark, idx).select("neighbor_id").collect()]
        assert len(ids) == len(set(ids)), "an id is served twice"
        return set(ids)

    batch = _batch(spark, 300, 5, 31)
    upsert_crashes(batch, replace=False)
    assert _read_index_meta(spark, idx)["gen"] == 1
    assert not served() & set(range(300, 305))
    assert ivf_index_upsert(spark, idx, batch) == 2
    assert ivf_index_delete(spark, idx, [300, 301]) == 2
    assert served() == (set(range(40)) | {302, 303, 304})

    again = vectors.filter(F.col("vec_id") < 3)
    upsert_crashes(again, replace=True)
    assert _read_index_meta(spark, idx)["gen"] == 3
    assert served() == (set(range(3, 40)) | {302, 303, 304})
    assert ivf_index_upsert(spark, idx, again, replace=True) == 4
    assert served() == (set(range(40)) | {302, 303, 304})
    batch.unpersist()


def test_ivf_table_upsert_crash_after_gen_record(
        spark, vectors, tmp_path, monkeypatch):
    """Crash injection on the bucketed table: the ``_delta`` append dies
    after the ``_meta`` gen row is written. Same contract as the path
    index, read through knn_ivf_join_table with every list probed and
    k above the corpus size, so each query is served the whole live
    set: the failed batch is never served, the next upsert takes the
    next gen, a later delete hides its ids, and after a replace=True
    crash the old copies are hidden and no id is served twice."""
    import linkgraph.functions.similarity as sim

    _drop_ivf_table(spark, "t_ivf_crash")
    sim.build_ivf_table(
        vectors, "t_ivf_crash", str(tmp_path / "crash_tbl"), n_centroids=4)
    write = sim._companion_write

    def crash_on_delta(spark_, table, suffix, df):
        if suffix == "_delta":
            raise RuntimeError("injected crash")
        return write(spark_, table, suffix, df)

    def upsert_crashes(batch, replace):
        with monkeypatch.context() as m:
            m.setattr(sim, "_companion_write", crash_on_delta)
            with pytest.raises(RuntimeError, match="injected crash"):
                sim.ivf_table_upsert(spark, "t_ivf_crash", batch, replace=replace)

    # a query id outside the corpus: no served row is dropped as "self"
    probe = vectors.filter(F.col("vec_id") == 10).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "embedding")

    def served():
        ids = [r.neighbor_id for r in sim.knn_ivf_join_table(
            spark, "t_ivf_crash", probe, k=100, n_probe=4).collect()]
        assert len(ids) == len(set(ids)), "an id is served twice"
        return set(ids)

    batch = _batch(spark, 300, 5, 37)
    upsert_crashes(batch, replace=False)
    assert sim._table_gen(spark, "t_ivf_crash") == 1
    assert not served() & set(range(300, 305))
    assert sim.ivf_table_upsert(spark, "t_ivf_crash", batch) == 2
    assert sim.ivf_table_delete(spark, "t_ivf_crash", [300, 301]) == 2
    assert served() == (set(range(40)) | {302, 303, 304})

    again = vectors.filter(F.col("vec_id") < 3)
    upsert_crashes(again, replace=True)
    assert sim._table_gen(spark, "t_ivf_crash") == 3
    assert served() == (set(range(3, 40)) | {302, 303, 304})
    assert sim.ivf_table_upsert(spark, "t_ivf_crash", again, replace=True) == 4
    assert served() == (set(range(40)) | {302, 303, 304})
    batch.unpersist()
    _drop_ivf_table(spark, "t_ivf_crash")
