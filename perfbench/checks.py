"""Untimed output checks: NumPy oracles for the benchmark.

Each check returns a list of problems; an empty list means the output
is correct. Edge arrays are NumPy (src, dst, weight) over the symmetric
edge rows the program was given.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def pagerank_np(src, dst, w, damping=0.85, tol=1e-6, max_iter=100):
    """The operator's recurrence, vectorised: weighted out-edges,
    uniform dangling redistribution, stop when max |delta| < tol."""
    nodes = np.unique(np.concatenate([src, dst]))
    si, di = np.searchsorted(nodes, src), np.searchsorted(nodes, dst)
    n = len(nodes)
    out_w = np.bincount(si, weights=w, minlength=n)
    share = w / out_w[si]
    dangling = out_w == 0
    score = np.full(n, 1.0 / n)
    for _ in range(max_iter):
        incoming = np.bincount(di, weights=score[si] * share, minlength=n)
        new = (1.0 - damping) / n + damping * (incoming + score[dangling].sum() / n)
        done = np.max(np.abs(new - score)) < tol
        score = new
        if done:
            break
    return nodes, score


def check_pagerank(pdf: pd.DataFrame, src, dst, w) -> list[str]:
    nodes, want = pagerank_np(src, dst, w)
    got = pdf.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), nodes):
        return ["pagerank: vertex set differs from the graph's"]
    score = got["score"].to_numpy()
    out = []
    if abs(score.sum() - 1.0) > 1e-9:
        out.append(f"pagerank: mass sums to {score.sum()!r}")
    if not np.allclose(score, want, rtol=1e-6, atol=0.0):
        out.append("pagerank: differs from the NumPy power iteration")
    return out


def modularity_np(src, dst, w, ids, comm) -> float:
    """Newman modularity of a partition over symmetric edge rows."""
    order = np.argsort(ids)
    ids, comm = ids[order], comm[order]
    cs = comm[np.searchsorted(ids, src)]
    cd = comm[np.searchsorted(ids, dst)]
    m2 = w.sum()
    _, ck = np.unique(cs, return_inverse=True)
    tot = np.bincount(ck, weights=w)
    return float(w[cs == cd].sum() / m2 - np.sum((tot / m2) ** 2))


def check_partition(
    pdf: pd.DataFrame, q_reported: float, src, dst, w, vertices: np.ndarray,
    what: str,
) -> list[str]:
    ids = pdf["id"].to_numpy()
    comm = pdf["community"].to_numpy()
    if pdf["community"].isna().any() or len(np.unique(ids)) != len(ids):
        return [f"{what}: null or duplicate community rows"]
    if not np.array_equal(np.sort(ids), np.sort(vertices)):
        return [f"{what}: {len(ids)} labelled vertices, graph has {len(vertices)}"]
    q = modularity_np(src, dst, w, ids, comm.astype(np.int64))
    if abs(q - q_reported) > 1e-9:
        return [f"{what}: modularity {q_reported!r} reported, {q!r} recomputed"]
    return []
