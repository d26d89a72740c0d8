"""The driver-local tier: one small-graph guard and one edge collect.

Below the guard an iterative operator's wall time is Spark's fixed cost
per job (scheduling, barriers, scalar fetches), not graph work: a
10k-vertex PageRank pays ~6 jobs per superstep for microseconds of
arithmetic. The reference runs the whole optimization on one device
(``gpulouvain.cu``); the Spark analog is to collect a guarded-small
graph to the driver once, through Arrow, and run the same recurrence in
NumPy. Above the guard every operator runs its distributed plan
unchanged.

The guard is two-sided: at most ``MAX_VERTICES`` vertices AND at most
``MAX_EDGE_ROWS`` edge rows. A small vertex set can still carry a huge
multigraph, and the row cap bounds what the collect moves. The vertex
check comes first: a separate edge-row count job runs only for graphs
that passed it (``fits`` with a frame), and an operator that sizes its
vertex set anyway reads the row count off the same aggregation
(``graph_size``). Setting ``MAX_VERTICES`` to 0 sends every operator down
its distributed plan (the plan-audit and equivalence-test setting).
Operators that read the guard look these names up at call time, so a
patched value takes effect on the next call.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MAX_VERTICES = 50_000
MAX_EDGE_ROWS = 5_000_000

EDGE_SCHEMA = "src long, dst long, weight double"


def fits(
    n_vertices: int,
    edge_rows: int | DataFrame,
    max_vertices: int | None = None,
    max_edge_rows: int | None = None,
) -> bool:
    """True when a graph of ``n_vertices`` vertices and ``edge_rows``
    edge rows may be collected to the driver.

    edge_rows: a known row count, or the edge frame itself — counted
    (one job) only once the vertex check has passed. max_vertices /
    max_edge_rows: an operator's own thresholds; None reads the module
    guard. A vertex threshold of 0 or below never fits."""
    if max_vertices is None:
        max_vertices = MAX_VERTICES
    if max_edge_rows is None:
        max_edge_rows = MAX_EDGE_ROWS
    if max_vertices <= 0 or n_vertices > max_vertices:
        return False
    if isinstance(edge_rows, DataFrame):
        edge_rows = edge_rows.count()
    return edge_rows <= max_edge_rows


def graph_size(edges: DataFrame) -> tuple[int, int]:
    """(vertices, edge rows) of an edge frame from ONE aggregation: the
    distinct-endpoint count that sizes the vertex side of the guard
    also sums the endpoints it grouped, which is twice the row count —
    so an operator that must count its vertices anyway gets the row
    side of the guard without a separate count job."""
    row = (
        edges.select(F.explode(F.array("src", "dst")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("ends"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("ends").alias("ends"))
        .first()
    )
    return int(row["n"]), int(row["ends"] or 0) // 2


def normalized(edges: DataFrame) -> DataFrame:
    """(src long, dst long, weight double); a null weight counts 1.0."""
    w = (
        F.coalesce(F.col("weight"), F.lit(1.0))
        if "weight" in edges.columns
        else F.lit(1.0)
    )
    return edges.select(
        F.col("src").cast("long"),
        F.col("dst").cast("long"),
        w.cast("double").alias("weight"),
    )


def collect_edges(edges: DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One Arrow collect of the normalized edges into (src int64,
    dst int64, weight float64) arrays."""
    pdf = normalized(edges).toPandas()
    return (
        pdf["src"].to_numpy(dtype=np.int64),
        pdf["dst"].to_numpy(dtype=np.int64),
        pdf["weight"].to_numpy(dtype=np.float64),
    )


def collect_state(state: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """One Arrow collect of a partition (id, community) into (ids
    ascending, communities) arrays."""
    pdf = state.select(
        F.col("id").cast("long"), F.col("community").cast("long")
    ).toPandas()
    ids = pdf["id"].to_numpy(dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    return ids[order], pdf["community"].to_numpy(dtype=np.int64)[order]


def index_of(sorted_ids: np.ndarray, keys) -> tuple[np.ndarray, np.ndarray]:
    """(position, found) of each key in an ascending id array; the
    position is only meaningful where found is True."""
    keys = np.asarray(keys, dtype=np.int64)
    pos = np.searchsorted(sorted_ids, keys)
    pos = np.minimum(pos, max(len(sorted_ids) - 1, 0))
    hit = (
        sorted_ids[pos] == keys if len(sorted_ids) else np.zeros(len(keys), bool)
    )
    return pos, hit


def _names(schema: str) -> list[str]:
    return [c.strip().split()[0] for c in schema.split(",")]


def records(spark: SparkSession, schema: str, rows: list[dict]) -> DataFrame:
    """``frame`` over dict rows, each keyed by ``schema``'s column names."""
    return frame(spark, schema, **{k: [r[k] for r in rows] for k in _names(schema)})


def frame(spark: SparkSession, schema: str, **columns) -> DataFrame:
    """A lazy frame over driver-held arrays (one Arrow createDataFrame;
    the columns follow ``schema``'s order)."""
    import pandas as pd

    names = _names(schema)
    if not len(columns[names[0]]):
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame({k: columns[k] for k in names}), schema=schema
    )
