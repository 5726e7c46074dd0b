"""The link-graph phase of the corpus_graph workload: symmetric_edges ->
pagerank (fixed supersteps) -> triangle_count over a seeded host link graph
with skewed degrees.

Iterative per-superstep shuffles and the cache-or-lazy decision show here.
Checked against a plain-Python integer power iteration and a
set-intersection triangle count.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from harness import median

N_NODES = 3000
SUPERSTEPS = 5


def python_pagerank(pairs, iterations: int) -> dict[int, int]:
    """The engine's integer update rule over the symmetrized edge set."""
    from ia_hadoop_tools_spark.operators.graph import DAMP_DEN, DAMP_NUM, PR_SCALE

    edges = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    outdeg: dict[int, int] = {}
    for a, _ in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    base = PR_SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN
    ranks = dict.fromkeys(outdeg, PR_SCALE)
    for _ in range(iterations):
        sums: dict[int, int] = {}
        for a, b in edges:
            sums[b] = sums.get(b, 0) + ranks[a] // outdeg[a]
        ranks = {
            v: base + DAMP_NUM * (c // DAMP_DEN) + (DAMP_NUM * (c % DAMP_DEN)) // DAMP_DEN
            for v, c in sums.items()
        }
    return ranks


def python_triangles(pairs) -> int:
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    return sum(
        sum(1 for c in adj[a] & adj[b] if c > b)
        for a in adj for b in adj[a] if b > a
    )


class Graph:
    def __init__(self, ctx):
        self.ctx = ctx
        self.pairs, props = gen.link_graph(ctx.seed, N_NODES)
        ctx.props.update(graph=props, supersteps=SUPERSTEPS)
        self.in_dir = os.path.join(ctx.work_dir, "in", "graph")
        self.path = os.path.join(self.in_dir, "links.parquet")

    def setup(self) -> None:
        """Write the seeded link pairs as Parquet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        pq.write_table(pa.table({"src": [a for a, _ in self.pairs],
                                 "dst": [b for _, b in self.pairs]}), self.path)

    def run_pass(self, spark, tr) -> dict:
        from ia_hadoop_tools_spark.operators.graph import (
            pagerank,
            symmetric_edges,
            triangle_count,
        )

        links = spark.read.parquet(self.path)
        t0 = time.perf_counter()
        with tr.span("graph", "phase"):
            edges = tr.layer("graph", lambda: symmetric_edges(links, "src", "dst"))
            ranks = tr.layer("graph", lambda: {
                r["node"]: r["rank"]
                for r in pagerank(edges, iterations=SUPERSTEPS,
                                  all_nodes_have_inedges=True).collect()
            })
            tri = tr.layer("graph", lambda: triangle_count(
                links, "src", "dst", eager=True).first()["n_triangles"])
        res = {"graph_s": time.perf_counter() - t0, "ranks": ranks, "triangles": tri,
               "ops": 3}
        spark.catalog.clearCache()
        return res

    def check(self, spark, passes: list[dict]) -> None:
        want_ranks = python_pagerank(self.pairs, SUPERSTEPS)
        want_tri = python_triangles(self.pairs)
        for i, p in enumerate(passes):
            diff = sum(1 for k in want_ranks.keys() | p["ranks"].keys()
                       if want_ranks.get(k) != p["ranks"].get(k))
            self.ctx.check(f"pass {i} pagerank equals Python power iteration", diff == 0,
                           f"{diff} of {len(want_ranks)} nodes differ")
            self.ctx.check(f"pass {i} triangle_count equals set intersection",
                           p["triangles"] == want_tri,
                           f"{p['triangles']} vs {want_tri}")

    def named(self, passes: list[dict]) -> dict:
        return {"graph_wall_s": (median([p["graph_s"] for p in passes]), "s")}

    def ratios(self, out: dict, traced: list[dict]) -> None:
        out["graph.jobs_per_superstep"] = out["graph.jobs"] / SUPERSTEPS
