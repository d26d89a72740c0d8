"""spark-submit entry point (north rule: "ships as a spark-submit
--py-files job").

Usage (cluster):
    zip -r linkgraph.zip linkgraph
    spark-submit --py-files linkgraph.zip linkgraph/cli.py \
        pagerank --edges s3://bucket/edges/ --output s3://bucket/pr/ --tol 1e-6

Local smoke:
    python linkgraph/cli.py pagerank --edges /tmp/edges --output /tmp/pr

Commands: ingest-pages, build-adjacency, pagerank, cc, lpa, louvain,
triangles, incremental, ann, ann-index, clean-corpus. Every command
reads/writes
parquet;
``--checkpoint-dir`` enables mid-run resumability (durable superstep /
per-phase checkpoints). Graph commands accept EITHER ``--edges`` (a
parquet path) or ``--table`` (a catalog-known src-bucketed adjacency
table written by ``build-adjacency`` — operators then run
pre-partitioned, skipping their one-time repartition).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="linkgraph")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--edges", help="parquet path of (src,dst,weight)")
        sp.add_argument(
            "--table",
            help="catalog name of a bucketed adjacency table "
            "(build-adjacency output) — read pre-partitioned",
        )
        sp.add_argument("--output", required=True)
        sp.add_argument("--checkpoint-dir")
        sp.add_argument("--shuffle-partitions", type=int, default=None)

    sp = sub.add_parser("ingest-pages", help="pages parquet -> edges + dictionary")
    sp.add_argument("--pages", required=True)
    sp.add_argument("--output", required=True)

    sp = sub.add_parser(
        "build-adjacency",
        help="edges parquet -> catalog-known src-bucketed K1 table",
    )
    sp.add_argument("--edges", required=True)
    sp.add_argument("--output", required=True, help="table storage path")
    sp.add_argument("--table", required=True, help="catalog table name")
    sp.add_argument("--num-buckets", type=int, default=32)

    for name in ("pagerank", "cc", "lpa", "louvain", "triangles"):
        sp = sub.add_parser(name)
        common(sp)
        if name == "pagerank":
            sp.add_argument("--tol", type=float, default=1e-6)
            sp.add_argument("--damping", type=float, default=0.85)
            sp.add_argument("--max-iter", type=int, default=100)
        if name == "cc":
            sp.add_argument(
                "--algorithm",
                choices=["min-label", "star"],
                default="min-label",
                help="star = large-star/small-star contraction (O(log n) "
                "rounds — high-diameter graphs)",
            )
        if name == "lpa":
            sp.add_argument("--max-iter", type=int, default=20)
        if name == "louvain":
            sp.add_argument("--min-gain", type=float, default=1e-6)
            # the reference driver's -q seam (main_louvain.cpp:889-899):
            # 0 = GPU-exact modularity path; 1-9 = generalized loop
            sp.add_argument("--quality-id", type=int, default=0, choices=range(10))
            sp.add_argument("--alpha", type=float, default=0.5, help="OwZad (id 2)")
            sp.add_argument("--kappa-min", type=float, default=0.0, help="ShiMalik (id 8)")

    sp = sub.add_parser("incremental", help="per-timestep delta loop")
    common(sp)
    sp.add_argument("--deltas", required=True, help="parquet (ts,op,src,dst,weight)")
    sp.add_argument(
        "--no-screening",
        action="store_true",
        help="full re-evaluation every phase (the GPU driver's -f mode)",
    )
    sp.add_argument(
        "--no-resume",
        action="store_true",
        help="ignore an existing per-phase checkpoint and start fresh",
    )
    sp.add_argument(
        "--write-trees",
        action="store_true",
        help="persist each phase's dendrogram under "
        "<checkpoint-dir>/trees/ts={t}_phase={p} (the per-timestep "
        "graph{t}.tree analog); requires --checkpoint-dir",
    )

    sp = sub.add_parser(
        "ann",
        help="top-k similarity search over an embedding parquet "
        "(exact | lsh | ivf)",
    )
    sp.add_argument(
        "--vectors",
        help="parquet (vec_id, embedding); required unless --index is given",
    )
    sp.add_argument(
        "--queries",
        help="parquet of query vectors (same schema); default: --vectors itself",
    )
    sp.add_argument("--output", required=True)
    sp.add_argument("--method", choices=["exact", "lsh", "ivf"], default="exact")
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--n-planes", type=int, default=8, help="lsh hyperplanes")
    sp.add_argument("--n-centroids", type=int, default=256, help="ivf lists")
    sp.add_argument("--n-probe", type=int, default=16, help="ivf probes/query")
    sp.add_argument(
        "--index",
        help="ivf only: a cid-partitioned table written by ann-index; "
        "queries then read ONLY their probed list partitions "
        "(--vectors/--n-centroids are ignored)",
    )
    sp.add_argument(
        "--join",
        action="store_true",
        help="with --index: use the distributed query JOIN (no driver "
        "query-batch cap — the corpus-vs-corpus shape) instead of the "
        "collected-batch serving path",
    )
    sp.add_argument("--shuffle-partitions", type=int, default=None)

    sp = sub.add_parser(
        "ann-index",
        help="materialize the IVF inverted lists as a cid-partitioned "
        "parquet table (+ quantizer sidecar) for ann --index",
    )
    sp.add_argument("--vectors", required=True, help="parquet (vec_id, embedding)")
    sp.add_argument("--output", required=True)
    sp.add_argument("--n-centroids", type=int, default=256)
    sp.add_argument(
        "--kmeans-iters",
        type=int,
        default=0,
        help="train the quantizer with N deterministic Lloyd's "
        "iterations (0 = hash-sampled seeds only)",
    )
    sp.add_argument("--shuffle-partitions", type=int, default=None)

    sp = sub.add_parser(
        "ann-index-maintain",
        help="incremental maintenance of an ann-index table: append a "
        "vector batch (frozen quantizer, generation-stamped), tombstone "
        "ids, or compact to live rows",
    )
    sp.add_argument(
        "--index", help="cid-partitioned path index written by ann-index"
    )
    sp.add_argument(
        "--table",
        help="maintained BUCKETED catalog table (build_ivf_table) "
        "instead of --index: appends land in a <table>_delta companion "
        "(merge-on-read; V1 buckets are immutable), compact folds the "
        "delta + tombstones back into the buckets",
    )
    sp.add_argument("--add", help="parquet (vec_id, embedding) to append")
    sp.add_argument(
        "--replace",
        action="store_true",
        help="with --add: tombstone the incoming ids' older copies",
    )
    sp.add_argument("--delete", help="parquet of ids to tombstone")
    sp.add_argument(
        "--compact",
        action="store_true",
        help="rewrite the index to live rows and clear tombstones",
    )
    sp.add_argument("--shuffle-partitions", type=int, default=None)

    sp = sub.add_parser(
        "clean-corpus",
        help="documents parquet -> cleaned survivors (quality filter, "
        "language filter, exact dedup, verified near-dup removal)",
    )
    sp.add_argument("--docs", required=True, help="parquet (doc_id, text, ...)")
    sp.add_argument("--output", required=True)
    sp.add_argument("--min-quality", type=float, default=0.5)
    sp.add_argument("--lang", default="en")
    sp.add_argument("--jaccard-threshold", type=float, default=0.6)
    sp.add_argument("--shuffle-partitions", type=int, default=None)

    args = p.parse_args(argv)

    from linkgraph.session import get_spark

    spark = get_spark(f"linkgraph-{args.cmd}", shuffle_partitions=getattr(args, "shuffle_partitions", None))

    if args.cmd == "ingest-pages":
        from linkgraph.sources.extract import pages_to_graph

        pages = spark.read.parquet(args.pages)
        directed, undirected, dictionary = pages_to_graph(spark, pages)
        directed.write.mode("overwrite").parquet(f"{args.output}/edges_directed")
        undirected.write.mode("overwrite").parquet(f"{args.output}/edges")
        dictionary.write.mode("overwrite").parquet(f"{args.output}/url_dict")
        return 0

    if args.cmd == "ann-index":
        from linkgraph.functions.similarity import (
            build_ivf_index,
            ivf_train_kmeans,
        )

        vectors = spark.read.parquet(args.vectors)
        trained = (
            ivf_train_kmeans(
                vectors, args.n_centroids, n_iters=args.kmeans_iters
            )
            if args.kmeans_iters > 0
            else None
        )
        cents = build_ivf_index(
            vectors, args.output, n_centroids=args.n_centroids,
            centroids=trained,
        )
        print(json.dumps({"lists": len(cents), "index": args.output}))
        return 0

    if args.cmd == "ann-index-maintain":
        from linkgraph.functions import similarity as sim

        if bool(args.index) == bool(args.table):
            print(
                "error: ann-index-maintain needs exactly one of "
                "--index or --table",
                file=sys.stderr,
            )
            return 2
        if args.index:
            target, upsert, delete, compact = (
                args.index,
                lambda df, rep: sim.ivf_index_upsert(
                    spark, args.index, df, replace=rep
                ),
                lambda df: sim.ivf_index_delete(spark, args.index, df),
                lambda: sim.ivf_index_compact(spark, args.index),
            )
        else:
            target, upsert, delete, compact = (
                args.table,
                lambda df, rep: sim.ivf_table_upsert(
                    spark, args.table, df, replace=rep
                ),
                lambda df: sim.ivf_table_delete(spark, args.table, df),
                lambda: sim.ivf_table_compact(spark, args.table),
            )
        out: dict = {"index": target}
        if args.add:
            out["gen"] = upsert(spark.read.parquet(args.add), args.replace)
        if args.delete:
            out["tombstoned"] = delete(spark.read.parquet(args.delete))
        if args.compact:
            out["live_rows"] = compact()
        if len(out) == 1:
            print(
                "error: ann-index-maintain needs --add, --delete "
                "and/or --compact",
                file=sys.stderr,
            )
            return 2
        print(json.dumps(out))
        return 0

    if args.cmd == "ann":
        from linkgraph.functions.similarity import (
            knn_bruteforce,
            knn_ivf,
            knn_ivf_indexed,
            knn_ivf_join,
            knn_lsh,
        )

        if args.index and args.method != "ivf":
            print(
                "error: --index only applies to --method ivf "
                f"(got --method {args.method})",
                file=sys.stderr,
            )
            return 2
        if not args.index and not args.vectors:
            print(
                "error: --vectors is required unless --index is given",
                file=sys.stderr,
            )
            return 2
        vectors = (
            spark.read.parquet(args.vectors) if args.vectors else None
        )
        if args.queries:
            queries = spark.read.parquet(args.queries)
        elif vectors is not None:
            queries = vectors
        else:
            print(
                "error: --queries is required with --index "
                "(no --vectors to default to)",
                file=sys.stderr,
            )
            return 2
        if args.method == "exact":
            out = knn_bruteforce(vectors, queries, k=args.k)
        elif args.method == "lsh":
            out = knn_lsh(vectors, queries, k=args.k, n_planes=args.n_planes)
        elif args.index and args.join:
            out = knn_ivf_join(
                spark, args.index, queries, k=args.k, n_probe=args.n_probe
            )
        elif args.index:
            out = knn_ivf_indexed(
                spark, args.index, queries, k=args.k, n_probe=args.n_probe
            )
        else:
            out = knn_ivf(
                vectors,
                queries,
                k=args.k,
                n_centroids=args.n_centroids,
                n_probe=args.n_probe,
            )
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "method": args.method,
                    "pairs": spark.read.parquet(args.output).count(),
                }
            )
        )
        return 0

    if args.cmd == "clean-corpus":
        from linkgraph.functions.corpus import clean_corpus

        docs = spark.read.parquet(args.docs)
        out = clean_corpus(
            docs,
            min_quality=args.min_quality,
            lang=args.lang,
            jaccard_threshold=args.jaccard_threshold,
        )
        out.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"n_docs": docs.count(), "n_survivors": n_out}))
        return 0

    if args.cmd == "build-adjacency":
        from linkgraph.graph.build import write_adjacency_table

        write_adjacency_table(
            spark.read.parquet(args.edges),
            args.table,
            args.output,
            num_buckets=args.num_buckets,
        )
        print(json.dumps({"table": args.table, "path": args.output}))
        return 0

    pre_partitioned = bool(getattr(args, "table", None))
    if pre_partitioned:
        from linkgraph.graph.build import read_adjacency_table

        edges = read_adjacency_table(spark, args.table)
    else:
        if not args.edges:
            p.error("one of --edges / --table is required")
        edges = spark.read.parquet(args.edges)

    if args.cmd == "pagerank":
        from linkgraph.operators.pagerank import pagerank
        from linkgraph.plans.superstep import SuperstepRunner

        runner = SuperstepRunner(
            spark, run_id="pagerank", checkpoint_dir=args.checkpoint_dir, max_iter=args.max_iter
        )
        out = pagerank(
            spark, edges, damping=args.damping, tol=args.tol, runner=runner,
            pre_partitioned=pre_partitioned,
        )
        out.write.mode("overwrite").parquet(args.output)
        if args.checkpoint_dir:
            runner.write_metrics(f"{args.checkpoint_dir}/metrics")
        print(json.dumps({"supersteps": len(runner.metrics)}))
    elif args.cmd == "cc":
        from linkgraph.operators.components import connected_components

        connected_components(
            spark, edges, algorithm=args.algorithm, pre_partitioned=pre_partitioned
        ).write.mode("overwrite").parquet(args.output)
    elif args.cmd == "lpa":
        from linkgraph.operators.lpa import label_propagation

        label_propagation(
            spark, edges, max_iter=args.max_iter, pre_partitioned=pre_partitioned
        ).write.mode("overwrite").parquet(args.output)
    elif args.cmd == "louvain":
        if args.quality_id == 0:
            from linkgraph.operators.louvain import louvain

            res = louvain(
                spark, edges, min_gain=args.min_gain,
                pre_partitioned=pre_partitioned,
            )
            res.assignment.write.mode("overwrite").parquet(f"{args.output}/assignment")
            res.hierarchy.write.mode("overwrite").parquet(f"{args.output}/hierarchy")
            if args.checkpoint_dir and res.metrics:
                # north rule: convergence metrics persisted durably
                spark.createDataFrame(
                    [
                        (int(m["level"]), int(m["round"]), float(m["q"]), float(m["gain"]))
                        for m in res.metrics
                        if "round" in m
                    ],
                    schema="level int, round int, q double, gain double",
                ).write.mode("append").parquet(f"{args.checkpoint_dir}/louvain_rounds")
            print(json.dumps({"modularity": res.modularity, "levels": res.levels}))
        else:
            from linkgraph.operators.louvain_quality import louvain_generalized

            gres = louvain_generalized(
                spark,
                edges,
                quality_id=args.quality_id,
                params={"alpha": args.alpha, "kappa_min": args.kappa_min},
                pre_partitioned=pre_partitioned,
            )
            gres.assignment.write.mode("overwrite").parquet(f"{args.output}/assignment")
            print(
                json.dumps(
                    {
                        "quality_id": gres.quality_id,
                        "quality": gres.quality,
                        "levels": gres.levels,
                    }
                )
            )
    elif args.cmd == "triangles":
        from linkgraph.operators.triangles import triangle_count

        triangle_count(spark, edges).write.mode("overwrite").parquet(args.output)
    elif args.cmd == "incremental":
        from linkgraph.streaming.incremental import run_incremental

        deltas = spark.read.parquet(args.deltas)
        run = run_incremental(
            spark,
            edges,
            deltas,
            checkpoint_dir=args.checkpoint_dir,
            screening=not args.no_screening,
            resume=not args.no_resume,
            pre_partitioned=pre_partitioned,
            write_trees=args.write_trees,
        )
        run.state.write.mode("overwrite").parquet(f"{args.output}/state")
        run.edges.write.mode("overwrite").parquet(f"{args.output}/edges")
        print(json.dumps({"modularity": run.modularity, "metrics": run.metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
