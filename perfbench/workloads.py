"""The benchmark's workloads. Each is a closed loop of one client: the next
call starts when the previous one has returned its result to the driver.

- ``crawl_pagerank``: pages parquet -> ``build_link_graph`` -> ``pagerank()``
  with default arguments. Volume-heavy with few supersteps: stresses Arrow
  href extraction, the edge coalesce shuffle and the PageRank join/aggregate.
- ``crawl_structure``: edge parquet (no extraction) -> undirected graph ->
  ``connected_components`` with a durable ``CheckpointStore``, a resume from
  a mid-run snapshot, and ``triangles``. The most shuffle, the only store
  writes and reads, and skewed hub wedges; no extraction and no PageRank.

A pass is one round of a workload's calls. ``run_pass`` returns one record
per call: its wall time, the edges and supersteps it processed, and its
output for the correctness gate.
"""

from __future__ import annotations

import os
import shutil

import networkx as nx
import numpy as np
import pandas as pd

from perfbench import reference as R
from perfbench.crawl import Crawl
from perfbench.harness import checkpoint_input, median

CRAWL_PAGES = 20_000
FILES = 8
# Every seed's crawl takes this many power iterations to converge, so every
# seed does the same PageRank work: at 20 000 pages 6 is the common count,
# and about one crawl in six needs 7 (or 5).
PAGERANK_ITERATIONS = 6
# The warm-up pass runs on a separate crawl of the full size: after a pass
# over a 100-page crawl the next full-size pass was still 15-30% slower than
# the one after it (the JIT was still compiling), which made the measured
# pass depend on compile timing.
WARM_STREAM = 1


def seed_crawl(seed: int, stream: int = 0) -> Crawl:
    """The first crawl drawn from ``seed`` (variants ``stream``,
    ``stream + 2``, ...) whose weighted PageRank converges in exactly
    ``PAGERANK_ITERATIONS`` iterations."""
    variant = stream
    while True:
        c = Crawl(CRAWL_PAGES, seed, variant)
        pairs, w = np.unique(np.stack([c.src, c.dst], axis=1), axis=0, return_counts=True)
        its = R.power_iterates(CRAWL_PAGES, pairs[:, 0], pairs[:, 1], w.astype(float), extra=0)
        if len(its) == PAGERANK_ITERATIONS:
            return c
        variant += 2


def as_dict(pdf: pd.DataFrame, key: str, value: str) -> dict:
    return dict(zip(pdf[key].astype("int64").tolist(), pdf[value].tolist()))


class Workload:
    name = ""

    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.dir = os.path.join(bench.work, self.name)

    def prepare(self) -> None:
        """Generate this seed's inputs (part of set-up)."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed pass over a separate crawl (part of set-up)."""
        raise NotImplementedError

    def run_pass(self, i) -> list[dict]:
        raise NotImplementedError

    def reference(self) -> dict:
        raise NotImplementedError

    def check(self, call: dict, ref: dict):
        """None when the call's output is right, else the reason. Also sets
        the call's ``supersteps`` where only the reference knows them."""
        raise NotImplementedError

    def summary(self, calls: list[dict]) -> dict:
        """Figures under the workload's own names, as (value, unit): first
        the median time of each kind of call."""
        out = {}
        for op in dict.fromkeys(c["op"] for c in calls):
            out[f"{op}_s"] = (median([c["wall_s"] for c in calls if c["op"] == op]), "s")
        return out


# ---------------------------------------------------------------------- #


class CrawlPagerank(Workload):
    name = "crawl_pagerank"

    def prepare(self) -> None:
        self.crawl = seed_crawl(self.bench.seed)
        self.pages = os.path.join(self.dir, "pages")
        shutil.rmtree(self.pages, ignore_errors=True)
        self.crawl.write_pages(self.pages, FILES)

    def warm_up(self) -> None:
        path = os.path.join(self.dir, "warm-pages")
        seed_crawl(self.bench.seed, WARM_STREAM).write_pages(path, FILES)
        self._pass(path, "warm-up")

    def run_pass(self, i) -> list[dict]:
        return self._pass(self.pages, i)

    def _pass(self, path: str, i) -> list[dict]:
        from pyspark.sql import functions as F

        from linkgraph.algos.pagerank import pagerank
        from linkgraph.io.pages import build_link_graph

        b = self.bench
        pages = self.spark.read.parquet(path)

        def build():
            g = build_link_graph(pages)
            g.edges = checkpoint_input(g.edges)
            return g

        g, build_rec = b.call("io.pages", "build", build, keep_result=True, fn="build_link_graph", i=i)
        row = g.edges.agg(F.count("*").alias("m"), F.sum("weight").alias("w")).first()
        build_rec["out"] = {"edges": row["m"], "weight": row["w"]}
        ranks, pr_rec = b.call(
            "algos.pagerank", "pagerank", lambda: pagerank(g).toPandas(),
            fn="pagerank", i=i,
        )
        pr_rec.update(out=ranks, edges=row["m"])
        b.release()
        return [build_rec, pr_rec]

    def reference(self) -> dict:
        c = self.crawl
        G = nx.DiGraph()
        G.add_nodes_from(range(c.n_pages))
        pairs, counts = np.unique(np.stack([c.src, c.dst], axis=1), axis=0, return_counts=True)
        G.add_weighted_edges_from((int(u), int(v), float(w)) for (u, v), w in zip(pairs, counts))
        ref = R.pagerank_reference(G)
        ref["anchors"] = int(c.src.size)
        return ref

    def check(self, call: dict, ref: dict):
        if call["op"] == "build":
            out = call["out"]
            if out["edges"] != ref["edges"] or out["weight"] != ref["anchors"]:
                return (
                    f"build: {out['edges']} edges of weight {out['weight']}, "
                    f"expected {ref['edges']} of weight {ref['anchors']}"
                )
            return None
        call["supersteps"] = ref["iterations"]
        ids = self._page_index()
        got = {ids[v]: r for v, r in zip(call["out"]["id"].tolist(), call["out"]["rank"].tolist())}
        reason, call["iterations"] = R.check_pagerank(got, ref)
        return reason

    def _page_index(self) -> dict:
        """engine vertex id (xxhash64 of the url) -> page index."""
        if not hasattr(self, "_ids"):
            from linkgraph.io.pages import page_vertices

            v = page_vertices(self.spark.read.parquet(self.pages)).toPandas()
            self._ids = dict(zip(v["id"].tolist(), (int(u.rsplit("/", 1)[1]) for u in v["url"])))
        return self._ids

    def summary(self, calls: list[dict]) -> dict:
        out = super().summary(calls)
        pr = next(c for c in calls if c["op"] == "pagerank")
        out.update(
            pagerank_iterations=(pr["supersteps"], "count"),
            pr_edges_per_s_iter=(pr["edges"] * pr["supersteps"] / out["pagerank_s"][0], "1/s"),
            pages=(CRAWL_PAGES, "count"),
            edges=(pr["edges"], "count"),
            dangling_share=(1.0 - np.unique(self.crawl.src).size / CRAWL_PAGES, "ratio"),
        )
        return out


# ---------------------------------------------------------------------- #


class CrawlStructure(Workload):
    name = "crawl_structure"

    def prepare(self) -> None:
        self.crawl = seed_crawl(self.bench.seed)
        self.edges = os.path.join(self.dir, "edges")
        shutil.rmtree(self.edges, ignore_errors=True)
        self.crawl.write_edges(self.edges, FILES)

    def warm_up(self) -> None:
        # the resume runs the same plans as the fresh run; warming it too
        # would add 3 s to every run's set-up
        path = os.path.join(self.dir, "warm-edges")
        seed_crawl(self.bench.seed, WARM_STREAM).write_edges(path, FILES)
        self._pass(path, "warm-up", resume=False)

    def run_pass(self, i) -> list[dict]:
        return self._pass(self.edges, i)

    def _pass(self, path: str, i, resume: bool = True) -> list[dict]:
        from linkgraph.algos.components import connected_components
        from linkgraph.algos.triangles import triangles
        from linkgraph.graph import SparkGraph
        from linkgraph.state import CheckpointStore

        b = self.bench

        def build():
            g = SparkGraph(self.spark.read.parquet(path), directed=False)
            g.edges = checkpoint_input(g.edges)
            return g

        g, build_rec = b.call("graph", "build", build, keep_result=True, fn="SparkGraph", i=i)
        m = g.edges.count()
        build_rec["out"] = {"edges": m}

        ckpt = os.path.join(self.dir, f"ckpt-{i}")
        shutil.rmtree(ckpt, ignore_errors=True)
        fresh = CheckpointStore(ckpt, "fresh", self.spark)
        cc, cc_rec = b.call(
            "algos.components", "cc",
            lambda: connected_components(g, checkpoint_store=fresh).toPandas(),
            fn="connected_components", i=i,
        )
        rounds = fresh.latest_iteration() + 1
        cc_rec.update(out=cc, edges=m, supersteps=rounds, rounds=rounds, state=store_stats(fresh, 0))

        calls = [build_rec, cc_rec]
        if resume:
            calls.append(self._resume(g, fresh, cc_rec, i))
        tri, tri_rec = b.call(
            "algos.triangles", "triangles", lambda: triangles(g).toPandas(), fn="triangles", i=i
        )
        tri_rec.update(out=tri, edges=m, supersteps=1)
        b.release()
        shutil.rmtree(ckpt, ignore_errors=True)
        return calls + [tri_rec]

    def _resume(self, g, fresh, cc_rec: dict, i) -> dict:
        """connected_components resumed from a store holding the first half
        of the fresh run, as a crash leaves it."""
        from linkgraph.algos.components import connected_components
        from linkgraph.state import CheckpointStore

        mid = max(0, cc_rec["rounds"] // 2 - 1)
        resumed = CheckpointStore(os.path.dirname(fresh.dir), "resume", self.spark)
        for k in range(mid + 1):
            shutil.copytree(fresh._iter_dir(k), resumed._iter_dir(k))
        rc, rc_rec = self.bench.call(
            "algos.components", "cc_resume",
            lambda: connected_components(g, checkpoint_store=resumed, resume=True).toPandas(),
            fn="connected_components", i=i,
        )
        resumed_rounds = resumed.latest_iteration() - mid
        rc_rec.update(
            out=rc, fresh=cc_rec["out"], edges=cc_rec["edges"], supersteps=resumed_rounds,
            rounds=resumed_rounds, state=store_stats(resumed, mid + 1),
        )
        return rc_rec

    def reference(self) -> dict:
        G = nx.Graph()
        G.add_edges_from(zip(self.crawl.src.tolist(), self.crawl.dst.tolist()))
        return {
            "edges": G.number_of_edges(),
            "components": R.component_labels(G),
            "triangles": R.triangle_counts(G),
        }

    def check(self, call: dict, ref: dict):
        op = call["op"]
        if op == "build":
            got = call["out"]["edges"]
            return None if got == ref["edges"] else f"build: {got} edges, expected {ref['edges']}"
        if op == "triangles":
            return R.check_equal(
                "triangles", as_dict(call["out"], "id", "triangles"), dict(map(tuple, ref["triangles"]))
            )
        got = as_dict(call["out"], "id", "component")
        reason = R.check_equal(op, got, dict(map(tuple, ref["components"])))
        if reason is None and op == "cc_resume":
            reason = R.check_equal(
                "cc_resume vs fresh run", got, as_dict(call["fresh"], "id", "component")
            )
        return reason

    def summary(self, calls: list[dict]) -> dict:
        out = super().summary(calls)
        cc = next(c for c in calls if c["op"] == "cc")
        out.update(
            cc_rounds=(cc["rounds"], "count"),
            pages=(CRAWL_PAGES, "count"),
            edges=(cc["edges"], "count"),
        )
        return out


def store_stats(store, first: int) -> dict:
    """Bytes, commits and commit time of iterations ``first..`` of a store,
    read from its files and manifests."""
    written, commits, commit_s = 0, 0, 0.0
    for k in range(first, store.latest_iteration() + 1):
        for root, _, files in os.walk(store._iter_dir(k)):
            written += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        commits += 1
        commit_s += store.manifest(k)["commit_wall_ms"] / 1000.0
    return {"bytes_written": written, "commits": commits, "commit_s": commit_s}


WORKLOADS = {w.name: w for w in (CrawlPagerank, CrawlStructure)}
