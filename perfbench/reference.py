"""networkx references for every op the benchmark runs, and the gates that
compare engine output against them.

References are computed once per (workload, seed) and cached as JSON under
the work directory, so repeated runs of one seed pay for networkx once. scipy
is not installed, so PageRank uses networkx's pure-Python kernel
``_pagerank_python`` on the weighted graph (parallel links coalesce to
weight > 1 in both the engine and the reference).
"""

from __future__ import annotations

import json
import os

import networkx as nx
import numpy as np
from networkx.algorithms.link_analysis.pagerank_alg import _pagerank_python

PAGERANK_ATOL = 1e-6
# power iterates kept past convergence, so the gate can tell an engine that
# ran too many iterations from one that ran the right number
EXTRA_ITERATES = 2
# The engine's ranks equal one power iterate to float rounding; consecutive
# iterates of the graphs used here differ by far more than this.
ITERATE_MATCH_ATOL = 1e-10


def cached(path: str, compute):
    """JSON value at ``path``, computed and written on first use."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def pagerank_reference(G: nx.Graph) -> dict:
    """networkx ranks, its iteration count, and the power iterates around it.

    The iterates come from a numpy replica of networkx's recurrence; they
    let the gate tell which iterate the engine returned. The replica's
    iteration count k is networkx's own: networkx run with ``max_iter=k``
    converges (else it raises) and returns the replica's k-th iterate, not
    an earlier one.
    """
    nodes = sorted(G)
    iterates = _power_iterates(G, nodes)
    k = len(iterates) - EXTRA_ITERATES
    ranks = _pagerank_python(G, max_iter=k)
    want = np.array([ranks[n] for n in nodes])
    if not np.allclose(iterates[k - 1], want, rtol=0, atol=ITERATE_MATCH_ATOL):
        raise RuntimeError("numpy replica disagrees with networkx")
    return {
        "nodes": nodes,
        "ranks": want.tolist(),
        "iterations": k,
        "iterates": [x.tolist() for x in iterates],
        "edges": G.to_directed().number_of_edges(),
    }


def _power_iterates(G: nx.Graph, nodes):
    index = {n: i for i, n in enumerate(nodes)}
    D = G.to_directed()
    src = np.array([index[u] for u, v in D.edges()], dtype=np.int64)
    dst = np.array([index[v] for u, v in D.edges()], dtype=np.int64)
    w = np.array([d.get("weight", 1.0) for u, v, d in D.edges(data=True)], dtype=float)
    return power_iterates(len(nodes), src, dst, w, extra=EXTRA_ITERATES)


def power_iterates(n: int, src, dst, w, extra: int, alpha=0.85, tol=1e-6, max_iter=100):
    """Iterates x_1.. of networkx's PageRank recurrence on the weighted
    digraph ``src -> dst`` over nodes ``0..n-1`` (uniform start,
    personalization and dangling weights), up to ``extra`` past the first
    one with ``|x_k - x_(k-1)|_1 < n * tol``."""
    out_w = np.bincount(src, weights=w, minlength=n)
    dangling = out_w == 0
    p = w / out_w[src]
    x = np.full(n, 1.0 / n)
    out, converged_at = [], None
    for k in range(1, max_iter + 1):
        last = x
        x = np.bincount(dst, weights=alpha * last[src] * p, minlength=n)
        x += alpha * last[dangling].sum() / n + (1.0 - alpha) / n
        out.append(x)
        if converged_at is None and np.abs(x - last).sum() < n * tol:
            converged_at = k
        if converged_at is not None and k >= converged_at + extra:
            return out
    raise nx.PowerIterationFailedConvergence(max_iter)


def component_labels(G: nx.Graph) -> list[list[int]]:
    """[node, smallest node of its component] pairs (the engine's labels)."""
    out = []
    for comp in nx.connected_components(G):
        m = min(comp)
        out.extend([v, m] for v in comp)
    return sorted(out)


def triangle_counts(G: nx.Graph) -> list[list[int]]:
    return sorted([v, t] for v, t in nx.triangles(G).items())


def lpa_partition(G: nx.Graph) -> list[list[int]]:
    H = nx.Graph()
    H.add_nodes_from(sorted(G))
    H.add_edges_from(G.edges())
    comms = nx.community.label_propagation_communities(H)
    return sorted(sorted(c) for c in comms)


# ---------------------------------------------------------------------- #
# gates: each returns None when the engine output is right, else a reason
# ---------------------------------------------------------------------- #


def check_pagerank(got: dict, ref: dict):
    """``got`` maps node -> rank. Returns (reason or None, engine iterations)."""
    nodes = ref["nodes"]
    if len(got) != len(nodes) or any(n not in got for n in nodes):
        return "pagerank: node set differs from the reference", None
    x = np.array([got[n] for n in nodes])
    dist = [np.abs(x - np.array(it)).max() for it in ref["iterates"]]
    best = int(np.argmin(dist))
    iterations = best + 1 if dist[best] < ITERATE_MATCH_ATOL else None
    diff = np.abs(x - np.array(ref["ranks"])).max()
    if diff > PAGERANK_ATOL:
        return f"pagerank: max |engine - networkx| = {diff:.3g}", iterations
    if iterations != ref["iterations"]:
        return (
            f"pagerank: engine stopped after {iterations} iterations, "
            f"networkx after {ref['iterations']}",
            iterations,
        )
    return None, iterations


def check_equal(what: str, got: dict, want: dict):
    if got == want:
        return None
    missing = len(set(want) - set(got))
    wrong = sum(1 for k, v in want.items() if k in got and got[k] != v)
    return f"{what}: {wrong} wrong and {missing} missing of {len(want)}"
