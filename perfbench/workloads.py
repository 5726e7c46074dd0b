"""Workload registry and the pass loop shared by the Spark workloads."""

from __future__ import annotations

import time

from harness import PeakRSS, SparkRunner, StatusCounters, Tracer, median, spark_layer_metrics
from wl_curation import Curation
from wl_graph import Graph
from wl_index import IndexWorkload
from wl_lookup import run_lookup

#: set-up repetitions per run; set-up time is their median
SETUP_REPS = 3


def run_spark_workload(wl_cls, ctx) -> dict:
    """Set up ``SETUP_REPS`` times, then run passes for ``ctx.seconds``: a
    pass starts only while the previous pass's wall says it will end in
    time, and at least one runs.  The first pass of a fresh JVM is the
    batch user's cold run and counts like the rest.

    Traced runs first run one untraced pass to warm the JVM, then
    alternate untraced and traced passes (at least one of each), so the
    ratio of their median walls is the tracing overhead."""
    runner = SparkRunner(ctx.work_dir)
    rss = PeakRSS()
    try:
        wl = wl_cls(ctx)
        setup = []
        with rss:
            for _ in range(SETUP_REPS):
                # each rep starts a new JVM; the previous one's shutdown is
                # not set-up time
                runner.stop()
                t0 = time.perf_counter()
                runner.start()
                wl.setup()
                setup.append(time.perf_counter() - t0)
            spark = runner.spark
            counters = StatusCounters(spark) if ctx.trace else None
            if counters is not None:
                errs = counters.self_test()
                ctx.check("status-store counter self-test", not errs, "; ".join(errs))
                ctx.ops(wl.run_pass(spark, Tracer(False))["ops"])
            tr = Tracer(False, counters)
            runs: dict[bool, list[dict]] = {True: [], False: []}
            walls: dict[bool, list[float]] = {True: [], False: []}
            t_start = time.perf_counter()
            while True:
                on = ctx.trace and len(runs[False]) > len(runs[True])
                tr.enabled = on
                t0 = time.perf_counter()
                with tr.span("pass", "phase"):
                    runs[on].append(wl.run_pass(spark, tr))
                walls[on].append(time.perf_counter() - t0)
                elapsed = time.perf_counter() - t_start
                if elapsed + walls[on][-1] > ctx.seconds and (
                    not ctx.trace or runs[True]
                ):
                    break
        untraced, traced = runs[False], runs[True]
        for res in untraced + traced:
            ctx.ops(res["ops"])
        wl.check(spark, untraced + traced)
        out = wl.metrics(untraced)
        out["peak_rss_mb"] = rss.peak_mb
        out["peak_rss_by_process_mb"] = {k: v / 1024 for k, v in rss.peak_by_name.items()}
        out["setup_s"] = median(setup)
        out["setup_reps_s"] = setup
        if ctx.trace:
            out["layers"] = wl.layer_metrics(tr, traced, walls[True])
            out["layers"]["session.get_spark_s"] = median(runner.start_s)
            out["layers"]["trace.overhead_ratio"] = (
                median(walls[True]) / median(walls[False]) - 1
            )
            out["trace"] = {
                "spans": tr.spans,
                "self_s": tr.self_times(),
                "pass_walls_untraced_s": walls[False],
                "pass_walls_traced_s": walls[True],
                "overhead_s": median(walls[True]) - median(walls[False]),
            }
        return out
    finally:
        runner.stop()


class CorpusGraph:
    """corpus_graph: the curation chain, then link-graph analytics, per pass."""

    name = "corpus_graph"

    def __init__(self, ctx):
        self.phases = {"curation": Curation(ctx), "graph": Graph(ctx)}

    def setup(self) -> None:
        for ph in self.phases.values():
            ph.setup()

    def run_pass(self, spark, tr) -> dict:
        out = {name: ph.run_pass(spark, tr) for name, ph in self.phases.items()}
        out["ops"] = sum(r["ops"] for r in out.values())
        return out

    def check(self, spark, passes: list[dict]) -> None:
        for name, ph in self.phases.items():
            ph.check(spark, [p[name] for p in passes])

    def metrics(self, passes: list[dict]) -> dict:
        named = {}
        for name, ph in self.phases.items():
            named.update(ph.named([p[name] for p in passes]))
        return {
            "named": named,
            "contract": {
                "throughput_per_s": named["curation_docs_per_s"],
                "op_ms": (named["graph_wall_s"][0] * 1e3, "ms"),
            },
            "samples": {
                "passes": len(passes),
                "chain_s": [p["curation"]["chain_s"] for p in passes],
                "graph_s": [p["graph"]["graph_s"] for p in passes],
            },
        }

    def layer_metrics(self, tr, traced: list[dict], walls: list[float]) -> dict:
        out = spark_layer_metrics(tr, len(traced), walls)
        for name, ph in self.phases.items():
            ph.ratios(out, [p[name] for p in traced])
        return out


WORKLOADS = {
    "wayback_index": lambda ctx: run_spark_workload(IndexWorkload, ctx),
    "wayback_lookup": run_lookup,
    "corpus_graph": lambda ctx: run_spark_workload(CorpusGraph, ctx),
}
