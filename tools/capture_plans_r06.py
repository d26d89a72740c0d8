"""Round-6 plan capture: writes .explain("formatted") evidence files
for every query path the optimization round touched.

Usage: python tools/capture_plans_r06.py <outdir> <suffix>
  e.g.  python tools/capture_plans_r06.py plans/r06 after     (from HEAD)
        PYTHONPATH=/tmp/r5tree python tools/capture_plans_r06.py plans/r06 before

The script only uses public entry points of the tree on sys.path, so
running it against the round-5 checkout produces the genuine "before"
plans. Graphs/corpora are sf0.001-sized so captures are quick.
"""
from __future__ import annotations

import os
import sys

OUT = sys.argv[1] if len(sys.argv) > 1 else "plans/r06"
SUF = sys.argv[2] if len(sys.argv) > 2 else "after"

sys.path.insert(0, os.getcwd())

from linkgraph.session import get_spark  # noqa: E402

spark = get_spark("plan-capture-r06", master="local[8]", shuffle_partitions=8)
os.makedirs(OUT, exist_ok=True)


def dump(name: str, df) -> None:
    path = os.path.join(OUT, f"{name}_{SUF}.txt")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    with open(path, "w") as f:
        f.write(plan)
    print(f"wrote {path} ({len(plan)} chars)")


def dump_text(name: str, text: str) -> None:
    path = os.path.join(OUT, f"{name}_{SUF}.txt")
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path}")


from pyspark.sql import functions as F  # noqa: E402

from linkgraph.graph.build import (  # noqa: E402
    read_adjacency_table,
    write_adjacency_table,
)
from linkgraph.sources.testdata import undirected_edges  # noqa: E402

SF = "/root/testdata/sf0.001"
import tempfile  # noqa: E402

spark.sql("DROP TABLE IF EXISTS plans_r06_adj")
write_adjacency_table(
    undirected_edges(spark, SF),
    "plans_r06_adj",
    os.path.join(tempfile.mkdtemp(prefix="plans_r06_"), "adjacency"),
    num_buckets=8,
)
edges = read_adjacency_table(spark, "plans_r06_adj").persist()
edges.count()

# ---- cc / lpa setup subplans (the vertex-set + probe derivation) ----
e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long")).filter(
    F.col("src") != F.col("dst")
)
n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
try:
    # after: exchange-free src-domain derivation (symmetric contract)
    dump("cc_vertex_setup", e.select(F.col("src").alias("id")).distinct())
    dump(
        "lpa_vertex_degree_setup",
        e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d")),
    )
except Exception as ex:  # pragma: no cover
    print("setup capture failed:", ex)
# the round-5 construction, captured from either tree for comparison
dump(
    "cc_vertex_setup_unionpath",
    e.select(F.col("src").alias("id"))
    .unionByName(e.select(F.col("dst").alias("id")))
    .distinct()
    .repartition(n_part, "id"),
)

# ---- one pagerank superstep (captured via a barrier hook) ----------
import linkgraph.plans.superstep as ss  # noqa: E402

captured: list = []
orig_barrier = ss.barrier


def hook(df, **kw):
    captured.append(df)
    return orig_barrier(df, **kw)


ss.barrier = hook
from linkgraph.operators.pagerank import pagerank  # noqa: E402

# a graph this small would run on the driver-local tier, which has no
# superstep plan: force the distributed tier (trees without a local
# tier have nothing to force)
try:
    import linkgraph.plans.local as tiers  # noqa: E402
except ImportError:
    tiers = None
guard = tiers.MAX_VERTICES if tiers else None
if tiers:
    tiers.MAX_VERTICES = 0
try:
    pagerank(spark, edges, tol=1e-6, pre_partitioned=True, max_iter=3).count()
finally:
    ss.barrier = orig_barrier
    if tiers:
        tiers.MAX_VERTICES = guard
if len(captured) >= 2:
    dump("pagerank_superstep", captured[1])

# ---- corpus_clean ---------------------------------------------------
from linkgraph.functions.corpus import clean_corpus  # noqa: E402

docs = spark.read.parquet(f"{SF}/documents.parquet")
dump("corpus_clean", clean_corpus(docs))

# ---- knn_ivf_join (capped) over a stats-carrying index --------------
import numpy as np  # noqa: E402

rng = np.random.default_rng(7)
base = rng.standard_normal((40, 16))
vectors = spark.createDataFrame(
    [(i, [float(x) for x in base[i]]) for i in range(40)],
    "vec_id long, embedding array<double>",
)
from linkgraph.functions.similarity import (  # noqa: E402
    build_ivf_index,
    build_ivf_table,
    knn_ivf_join,
    knn_ivf_join_table,
)

idx = os.path.join(tempfile.mkdtemp(prefix="plans_r06_ivf_"), "idx")
cents = build_ivf_index(vectors, idx, n_centroids=4)
dump("knn_ivf_join_capped", knn_ivf_join(spark, idx, vectors, k=3, n_probe=4, hot_list_cap=4))

# ---- knn_ivf_join_table with a forced-hot cap (hybrid vs all-salted) -
for t in ("plans_r06_ivf", "plans_r06_ivf_centroids", "plans_r06_ivf_sizes"):
    spark.sql(f"DROP TABLE IF EXISTS {t}")
build_ivf_table(
    vectors,
    "plans_r06_ivf",
    os.path.join(tempfile.mkdtemp(prefix="plans_r06_tbl_"), "tbl"),
    n_centroids=4,
    centroids=cents,
)
dump(
    "knn_ivf_join_table_hotcap",
    knn_ivf_join_table(spark, "plans_r06_ivf", vectors, k=3, n_probe=4, hot_list_cap=4),
)

# ---- louvain / screening: note which mode the guards select ---------
from linkgraph.operators.louvain import louvain  # noqa: E402

res = louvain(spark, edges, pre_partitioned=True)
dump("louvain_assignment", res.assignment)
dump_text(
    "louvain_mode",
    f"levels={res.levels} q={res.modularity}\n"
    "assignment plan above shows the frame the caller receives; at\n"
    "sf0.001/sf0.1 the doubly-guarded full-local fast path produces it\n"
    "via one Arrow createDataFrame (round 6) or the distributed loop's\n"
    "checkpoint scan (round 5). The guards and equivalence proof are in\n"
    "operators/louvain.py and tests/test_louvain.py.\n",
)

print("done")
