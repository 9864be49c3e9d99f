"""Per-layer metrics of a traced run.

Every traced run reports every layer. Layers the workload's own calls reach
are measured on those calls. The rest are measured by probes run after the
traced pass, so each probe is that layer's first call in the session:

- ``io.extract`` and ``io.pages``: ``extract_hrefs_series`` called on the
  driver over a fixed html batch of the seed's crawl, and ``extract_pages``
  over the seed's pages forced through a noop write;
- ``graph``: ``SparkGraph`` over the seed's raw link list, directed
  (coalesce) and undirected, forced through a noop write;
- an algorithm layer no call of the workload reached: that layer's call on
  a fixture graph (``OPS``: PageRank on Langville & Meyer's digraph with a
  dangling node, the rest on Zachary's karate club); ``state`` is probed
  with a store-backed ``connected_components``.
"""

from __future__ import annotations

import importlib
import os
import time

import networkx as nx
import pandas as pd

from perfbench import reference as R
from perfbench import workloads as W
from perfbench.harness import checkpoint_input, median
from perfbench.tracing import MB

HREF_BATCH = 2000
HREF_REPEATS = 5

# Langville & Meyer's 6-node digraph; node 2 has no out-links (dangling).
LM6_EDGES = [(1, 2), (1, 3), (3, 1), (3, 2), (3, 5), (4, 5), (4, 6), (5, 4), (5, 6), (6, 4)]

# algorithm op -> (layer span name, module, function, fixture graph it probes)
OPS = {
    "pagerank": ("algos.pagerank", "linkgraph.algos.pagerank", "pagerank", "lm6"),
    "components": ("algos.components", "linkgraph.algos.components", "connected_components", "karate"),
    "triangles": ("algos.triangles", "linkgraph.algos.triangles", "triangles", "karate"),
    "lpa": ("algos.lpa", "linkgraph.algos.lpa", "label_propagation_communities", "karate"),
}


# algorithm op -> its networkx reference on a fixture graph
REFERENCES = {
    "pagerank": R.pagerank_reference,
    "components": R.component_labels,
    "triangles": R.triangle_counts,
    "lpa": R.lpa_partition,
}


def fixture_graphs() -> dict:
    return {"karate": nx.karate_club_graph(), "lm6": nx.DiGraph(LM6_EDGES)}


def spark_graph(spark, G: nx.Graph):
    """SparkGraph of a networkx graph: every node, and every edge with its
    ``weight`` (1.0 when absent)."""
    from linkgraph.graph import SparkGraph

    edges = [(int(u), int(v), float(d.get("weight", 1.0))) for u, v, d in G.edges(data=True)]
    return SparkGraph(
        spark.createDataFrame(edges, "src long, dst long, weight double"),
        spark.createDataFrame([(int(n),) for n in G], "id long"),
        directed=G.is_directed(),
    )


def run_probes(bench, wl, traced: list[dict]) -> list[dict]:
    """Run the layer probes; returns the probe calls that carry an output
    to check (fixture calls), each with its reference attached."""
    crawl = wl.crawl
    probe_dir = os.path.join(bench.work, "probe")
    pages, edges = os.path.join(probe_dir, "pages"), os.path.join(probe_dir, "edges")
    crawl.write_pages(pages, W.FILES)
    crawl.write_edges(edges, W.FILES)
    _probe_extract(bench, crawl)
    _probe_pages(bench, pages)
    _probe_graph(bench, edges)

    reached = {c["attrs"].get("fn") for c in traced}
    stored = any(c.get("state") for c in traced)
    checked = []
    graphs = fixture_graphs()
    for op, (layer, module, fn_name, name) in OPS.items():
        # state is reached only through a store-backed connected_components
        need_state = op == "components" and not stored
        if fn_name in reached and not need_state:
            continue
        G = graphs[name]
        g = spark_graph(bench.spark, G)
        g.edges = checkpoint_input(g.edges)
        kwargs = {}
        if need_state:
            from linkgraph.state import CheckpointStore

            store = CheckpointStore(os.path.join(probe_dir, "ckpt"), name, bench.spark)
            kwargs["checkpoint_store"] = store
        fn = getattr(importlib.import_module(module), fn_name)
        out, rec = bench.call(
            layer, op, lambda: fn(g, **kwargs).toPandas(), fn=fn_name, graph=name, i="probe"
        )
        rec.update(out=out, want=REFERENCES[op](G))
        if need_state:
            rec["rounds"] = store.latest_iteration() + 1
            rec["state"] = W.store_stats(store, 0)
        checked.append(rec)
        bench.release()
    return checked


def check_probe(call: dict):
    """None when a fixture probe's output matches networkx, else the reason."""
    op, out, want = call["op"], call["out"], call["want"]
    if op == "pagerank":
        reason, call["iterations"] = R.check_pagerank(W.as_dict(out, "id", "rank"), want)
        return reason
    if op == "components":
        return R.check_equal("components", W.as_dict(out, "id", "component"), dict(map(tuple, want)))
    if op == "triangles":
        return R.check_equal("triangles", W.as_dict(out, "id", "triangles"), dict(map(tuple, want)))
    groups = out.groupby("label")["id"].apply(lambda s: sorted(int(v) for v in s))
    got = sorted(groups.tolist())
    return None if got == want else f"lpa: {len(got)} communities, expected {len(want)}"


def _probe_extract(bench, crawl) -> None:
    from linkgraph.io.extract import extract_hrefs_series

    html = pd.Series(crawl.html_and_text()[0][:HREF_BATCH], dtype=object)
    mb = sum(len(h) for h in html) / MB
    with bench.tracer.span("io.extract", fn="extract_hrefs_series", probe=True) as rec:
        walls = []
        for _ in range(HREF_REPEATS):
            t0 = time.perf_counter()
            extract_hrefs_series(html)
            walls.append(time.perf_counter() - t0)
    rec["wall_s"] = median(walls)
    rec["mb_per_s"] = mb / rec["wall_s"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe_pages(bench, path: str) -> None:
    from linkgraph.io.pages import extract_pages

    pages = bench.spark.read.parquet(path)
    bench.call("io.pages", "extract", lambda: _noop(extract_pages(pages)), fn="extract_pages", probe=True)


def _probe_graph(bench, path: str) -> None:
    from linkgraph.graph import SparkGraph

    edges = bench.spark.read.parquet(path)
    for directed in (True, False):
        bench.call(
            "graph", "build",
            lambda: _noop(SparkGraph(edges, directed=directed).edges),
            fn="SparkGraph", probe=True, directed=directed,
        )


# ---------------------------------------------------------------------- #


def layer_metrics(spans: list[dict], overhead_s: float, peak_rss_mb: float) -> dict:
    """The per-layer metrics, from the traced spans after ``Tracer.collect``."""
    traced = [s for s in spans if s["traced"]]

    def of(fn, **match):
        return [
            s for s in traced
            if s["attrs"].get("fn") == fn and all(s["attrs"].get(k) == v for k, v in match.items())
        ]

    def total(recs, key):
        return float(sum(r["spark"][key] for r in recs))

    def pinned(recs):
        return sum(r["pinned_rdds_left"] for r in recs)

    pr = of("pagerank")
    cc = of("connected_components")
    cc_rounds = [c for c in cc if c.get("rounds")]
    tri = of("triangles")
    lpa = of("label_propagation_communities")
    graph = of("SparkGraph", probe=True)
    pr_iters = sum(c.get("iterations") or 0 for c in pr)
    rounds = sum(c["rounds"] for c in cc_rounds)
    state = [c["state"] for c in cc if c.get("state")]
    return {
        "extract.hrefs_mb_per_s": (of("extract_hrefs_series")[0]["mb_per_s"], "MB/s"),
        "pages.extract_s": (of("extract_pages")[0]["wall_s"], "s"),
        "graph.coalesce_s": (of("SparkGraph", probe=True, directed=True)[0]["wall_s"], "s"),
        "graph.undirected_s": (of("SparkGraph", probe=True, directed=False)[0]["wall_s"], "s"),
        "graph.shuffle_mb": (total(graph, "shuffle_read_mb"), "MB"),
        "pagerank.jobs": (int(total(pr, "jobs")), "count"),
        "pagerank.jobs_per_iter": (total(pr, "jobs") / pr_iters if pr_iters else 0.0, "ratio"),
        "pagerank.driver_gap_s": (total(pr, "driver_gap_s"), "s"),
        "pagerank.exec_busy_s": (total(pr, "exec_busy_s"), "s"),
        "pagerank.shuffle_mb": (total(pr, "shuffle_read_mb"), "MB"),
        "pagerank.spill_mb": (total(pr, "spill_mb"), "MB"),
        "pagerank.pinned_rdds_left": (pinned(pr), "count"),
        "components.rounds": (rounds, "count"),
        "components.jobs_per_round": (total(cc_rounds, "jobs") / rounds if rounds else 0.0, "ratio"),
        "components.shuffle_mb": (total(cc, "shuffle_read_mb"), "MB"),
        "components.pinned_rdds_left": (pinned(cc), "count"),
        "state.bytes_written_mb": (sum(s["bytes_written"] for s in state) / MB, "MB"),
        "state.commits": (sum(s["commits"] for s in state), "count"),
        "state.commit_s": (float(sum(s["commit_s"] for s in state)), "s"),
        "triangles.shuffle_mb": (total(tri, "shuffle_read_mb"), "MB"),
        "triangles.task_skew": (max(t["spark"]["largest_stage_task_skew"] for t in tri), "ratio"),
        "triangles.pinned_rdds_left": (pinned(tri), "count"),
        "lpa.jobs": (int(total(lpa, "jobs")), "count"),
        "lpa.driver_gap_s": (total(lpa, "driver_gap_s"), "s"),
        "lpa.pinned_rdds_left": (pinned(lpa), "count"),
        "trace.overhead_s": (overhead_s, "s"),
        "driver.peak_rss_mb": (peak_rss_mb, "MB"),
    }
