"""Benchmark of the ia_hadoop_tools_spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: wayback_index, wayback_lookup, corpus_graph (see
perfbench/README.md for what each stresses and which layer metric should move
which end-to-end metric).  The inputs are generated from ``--seed``; the
outputs are checked; the last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports
the end-to-end metrics with the engine running its natural plans;
``--trace 1`` reports the per-layer metrics from a traced run and writes the
spans to ``.bench_out/``.  The line before the last holds the report: the
environment stamp, the generated input properties, the per-workload named
metrics with their units, the checks and the trace summary.

The benchmark drives the engine only through the public functions of its
modules and changes no engine code.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

RATIOS = (
    ("filters.keep_ratio", "ratio"),
    ("daylimit.keep_ratio", "ratio"),
    ("merge.rows_out_per_row_in", "ratio"),
    ("zipnum.bytes_per_line", "bytes"),
    ("cdx_query.jobs_per_query", "count"),
    ("bpe.jobs_per_merge", "count"),
    ("graph.jobs_per_superstep", "count"),
    ("textops.hot_bucket_rows_dropped", "count"),
    ("spark.core_util", "ratio"),
)
SERVING = (
    ("cdx_http_server.prune_us", "us"),
    ("cdx_http_server.closest_us", "us"),
    ("cdx_http_server.deref_us", "us"),
    ("cdx_http_server.http_overhead_us", "us"),
    ("cdx_http_server.lines_scanned_per_line_returned", "ratio"),
    ("fsio.read_range_us", "us"),
    ("zipnum.blocks_per_lookup", "count"),
    ("zipnum.bytes_read_per_lookup", "bytes"),
    ("session.get_spark_s", "s"),
    ("trace.overhead_ratio", "ratio"),
)
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("throughput_per_s", "1/s"),
    ("op_ms", "ms"),
)


def per_layer_names() -> list[tuple[str, str]]:
    from harness import COUNTERS, SPARK_LAYERS

    units = {"wall_s": "s", "jobs": "count", "tasks": "count", "executor_run_s": "s",
             "executor_cpu_s": "s", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
    names = [(f"{layer}.{c}", units[c]) for layer in SPARK_LAYERS for c in COUNTERS]
    return names + list(RATIOS) + list(SERVING)


class Ctx:
    """Per-run state shared with the workload: arguments, work directory,
    generated-input properties and the check/operation tally."""

    def __init__(self, args, work_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work_dir
        self.props: dict = {}
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        from harness import log

        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"CHECK FAILED: {name}: {detail}")
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    def ops(self, attempted: int, failed: int = 0) -> None:
        self.attempted += attempted
        self.failed += failed


def _prepare_env(work_dir: str) -> None:
    from harness import nproc

    # session.py defaults to 32 cores; pin to the machine's cores so the
    # engine neither over-subscribes nor under-uses it
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # a 2 GB driver heap unless set (session.py defaults to 8 GB): enough
    # for these inputs, and it bounds the JVM's resident size on a machine
    # shared with other work
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still leaves through the workloads' finally blocks,
    # which stop the Spark JVM and the lookup server
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path.insert(0, str(HERE))
    from harness import env_stamp, loadavg, log

    if not (ROOT / "ia_hadoop_tools_spark" / "session.py").is_file():
        log(f"error: no ia_hadoop_tools_spark package under {ROOT}; run from a checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    work_dir = str(ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    _prepare_env(work_dir)
    ctx = Ctx(args, work_dir)
    stamp = env_stamp()
    err = None
    out: dict = {}
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
    except Exception:
        err = traceback.format_exc()
        log(err)
        ctx.ops(1, 1)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    stamp["loadavg_end"] = loadavg()
    correct = err is None and ctx.failed == 0

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": stamp, "inputs": ctx.props,
        # no CDX sample or server access log backs the generators' shares
        "input_shares": "assumed, not measured (perfbench/README.md, Input assumptions)",
        "checks": ctx.checks, "error": err,
    }
    metrics = {}
    if err is None:
        report["named_metrics"] = {k: {"value": v, "unit": u}
                                   for k, (v, u) in out["named"].items()}
        report["samples"] = out.get("samples")
        report["setup_reps_s"] = out["setup_reps_s"]
        report["peak_rss_by_process_mb"] = out.get("peak_rss_by_process_mb")
        if args.trace:
            trace = out.pop("trace")
            os.makedirs(ROOT / ".bench_out", exist_ok=True)
            path = ROOT / ".bench_out" / f"trace-{args.workload}-seed{args.seed}.json"
            path.write_text(json.dumps(trace, indent=1))
            report["trace"] = {
                "file": str(path.relative_to(ROOT)),
                "spans": len(trace["spans"]),
                "self_s": {k: round(v, 4) for k, v in trace["self_s"].items()},
                "overhead_s": trace["overhead_s"],
                "pass_walls_untraced_s": trace["pass_walls_untraced_s"],
                "pass_walls_traced_s": trace["pass_walls_traced_s"],
            }
            for name, unit in per_layer_names():
                metrics[name] = {"value": float(out["layers"].get(name, 0.0)), "unit": unit}
        else:
            values = dict(out["contract"])
            values["setup_s"] = (out["setup_s"], "s")
            values["peak_rss_mb"] = (out["peak_rss_mb"], "MB")
            for name, unit in END_TO_END:
                metrics[name] = {"value": float(values[name][0]), "unit": unit}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
