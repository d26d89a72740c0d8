"""linkgraph benchmark: one seeded workload per process.

    python3 perfbench/run.py --workload pages_small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. Spark runs at ``local[<cores>]`` with
shuffle partitions equal to the core count. The process prints every
metric by name and unit, one per line, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` records spans with Spark counters
and reports the per-layer metrics. ``--smoke`` runs both workloads
at toy size and asserts every metric is emitted with its unit and that
no operation failed. See perfbench/README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the named metrics each workload prints as `metric` lines
NAMED = {
    "pages_small": ("setup_s", "extract_s", "pagerank_s", "louvain_s", "stream_init_s",
                    "batch_p50_s", "delta_edges_per_s", "error_rate", "peak_rss_mb"),
    "ivf_rw": ("setup_s", "knn_serve_p50_s", "knn_join_p50_s", "ivf_write_p50_s",
               "ivf_compact_s", "error_rate", "peak_rss_mb"),
}


def load_spec() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _named_metrics(b, setup_s, rss_mb) -> dict:
    """name -> (unit, value) for the named metrics this run produced."""
    med = lambda k: b.median(k) if k in b.samples else None  # noqa: E731
    batch = b.samples.get("batch")
    out = {
        "setup_s": ("s", setup_s),
        "extract_s": ("s", med("extract")),
        "pagerank_s": ("s", med("pagerank")),
        "louvain_s": ("s", med("louvain")),
        "stream_init_s": ("s", med("stream_init")),
        "batch_p50_s": ("s", med("batch")),
        "delta_edges_per_s": (
            "1/s", b.shape["delta_edges"] / sum(batch) if batch else None),
        "knn_serve_p50_s": ("s", med("knn_serve")),
        "knn_join_p50_s": ("s", med("knn_join")),
        "ivf_write_p50_s": ("s", med("ivf_write")),
        "ivf_compact_s": ("s", med("ivf_compact")),
        "error_rate": ("ratio", b.failed / max(b.attempted, 1)),
        "peak_rss_mb": ("MB", rss_mb),
    }
    return {k: v for k, v in out.items() if v[1] is not None}


def _rss_mb(pids) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def start_session(workdir: str):
    from linkgraph.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_one(spark, tracer, workload, seed, seconds, size, layouts, workdir, session_s):
    from perfbench.workloads import WORKLOADS, Bench

    tracer.spans.clear()
    b = Bench(spark, tracer, seed, seconds, workdir,
              os.path.join(ROOT, ".perfbench_work", "cache"))
    WORKLOADS[workload](b, size, layouts)
    setup_s = session_s + b.median("layout")
    reads = [k for k, r in b.role.items() if r == "read" and k in b.samples]
    writes = [k for k, r in b.role.items() if r == "write" and k in b.samples]
    rebuilds = [k for k, r in b.role.items() if r == "rebuild" and k in b.samples]
    e2e = {
        "setup_s": setup_s,
        "read_s": sum(b.median(k) for k in reads),
        "write_p50_s": statistics.median(v for k in writes for v in b.samples[k]),
        "rebuild_s": statistics.median(v for k in rebuilds for v in b.samples[k]),
    }
    b.layer["session.start_s"] = session_s
    for role in ("setup", "read", "write", "rebuild"):
        spans = [s for s in tracer.spans if s.get("role") == role]
        for key in ("task_s", "gc_s"):
            b.layer[f"{role}.{key}"] = sum(tracer.inclusive(s)[key] for s in spans)
    return b, e2e


def report(b, e2e, spec, trace: bool, rss_mb: float, workload: str, seed: int) -> dict:
    """Print every metric as a line and return the result object."""
    end_to_end, per_layer = spec
    b.layer["peak_rss_mb"] = rss_mb
    print(f"# workload {workload} seed {seed}: {b.attempted} operations, {b.failed} failed")
    for k, (unit, v) in _named_metrics(b, e2e["setup_s"], rss_mb).items():
        print(f"metric {k} {v:.6g} {unit}")
    for k, v in b.samples.items():
        print(f"samples {k} n={len(v)} median={statistics.median(v):.4f} s:",
              " ".join(f"{x:.4f}" for x in v))
    for k, v in sorted(b.shape.items()):
        print(f"shape {k} {v}")
    for p in b.problems:
        print(f"problem {p}")
    if trace:
        for k in sorted(b.layer):
            print(f"layer {k} {b.layer[k]:.6g}")
        # a layer the workload leaves idle reads 0
        metrics = {k: {"value": float(b.layer.get(k, 0)), "unit": u} for k, u in per_layer.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in end_to_end.items()}
    for k, v in e2e.items():
        print(f"end_to_end {k} {v:.6g} {end_to_end[k]}")
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }


def _driver_rss_mb(spark) -> float:
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    return _rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["pages_small", "ivf_rw"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    if not os.path.isdir(os.path.join(ROOT, "linkgraph")):
        print(f"no linkgraph package next to {HERE}; run from a checkout", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    # Python workers import linkgraph too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tag = "smoke" if args.smoke else f"{args.workload}-{args.seed}"
    workdir = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Python, the launcher JVM and the driver JVM out of /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}") if p)

    from perfbench.trace import Tracer, wrap_stream_driver
    from perfbench.workloads import SIZES

    spec = load_spec()
    spark = start_session(workdir)
    session_s = time.perf_counter() - T_START
    trace = bool(args.trace or args.smoke)
    tracer = Tracer(spark, trace)
    if trace:
        wrap_stream_driver(tracer)
    sizes = SIZES["smoke" if args.smoke else "full"]
    try:
        if args.smoke:
            return smoke(spark, tracer, spec, sizes, workdir, session_s)
        b, e2e = run_one(
            spark, tracer, args.workload, args.seed, args.seconds,
            sizes[args.workload], sizes["layouts"], workdir, session_s,
        )
        result = report(b, e2e, spec, trace, _driver_rss_mb(spark), args.workload, args.seed)
        if trace:
            tracer.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{tag}.json"))
    finally:
        stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def smoke(spark, tracer, spec, sizes, workdir, session_s) -> int:
    """Both workloads at toy size in one session. Each must print its
    named metrics and every end-to-end metric with its unit, every
    per-layer metric must be produced by one of them, and no operation
    may fail."""
    end_to_end, per_layer = spec
    bad = []
    produced = set()
    for w in ("pages_small", "ivf_rw"):
        b, e2e = run_one(spark, tracer, w, 7, 0.0, sizes[w], sizes["layouts"], workdir, session_s)
        rss = _driver_rss_mb(spark)
        report(b, e2e, spec, True, rss, w, 7)
        produced |= set(b.layer)
        named = _named_metrics(b, e2e["setup_s"], rss)
        bad += [f"{w}: named metric {m} missing" for m in NAMED[w] if m not in named]
        bad += [f"{w}: end-to-end metric {m} missing" for m in end_to_end
                if not isinstance(e2e.get(m), float) or e2e[m] <= 0]
        if b.failed:
            bad.append(f"{w}: error_rate {b.failed}/{b.attempted}: {b.problems[:3]}")
    bad += [f"per-layer metric {m} produced by no workload" for m in per_layer
            if m not in produced]
    for line in bad:
        print(f"SMOKE FAIL {line}")
    print("SMOKE OK" if not bad else f"SMOKE FAILED ({len(bad)})")
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
