"""wayback_lookup: an open-loop stream of independent users against the
engine's CDX HTTP server over a ZipNum cluster of thousands of blocks.

The cluster is written once from the seeded lines in the engine's ZipNum
layout, and the server runs in a process of its own, so no JVM runs at any
point of the workload.  The generator is this process: one asyncio loop
with at most ``nproc`` connections, timing each request from its scheduled
send time and recording how late it sent.  Every response is compared with the answer
computed in Python from the generated lines.
"""

from __future__ import annotations

import asyncio
import bisect
import gzip
import math
import os
import random
import signal
import subprocess
import sys
import time
import zlib
from datetime import datetime
from urllib.parse import urlencode

import gen
from harness import (
    PeakRSS,
    Tracer,
    median,
    nproc,
    percentile,
    supported_percentile,
)

N_KEYS = 2000
LINES_PER_BLOCK = 20
PAGE_SIZE = 4
SETUP_REPS = 5
#: fixed offered rate for the latency figures, well under capacity
NOMINAL_RPS = 250
#: latency limit on p99 for the rate ladder
P99_LIMIT_MS = 50.0
#: fixed ladder of offered rates; the highest that meets the limit is reported
LADDER = tuple(round(100 * 1.05**k) for k in range(80))
#: per-request cost is measured on a fixed mix of the seeded stream, so
#: every seed replays the same cost profile: (kind, mega-key) -> requests
REPLAY_MIX = {("closest", False): 667, ("closest", True): 33, ("range", False): 100,
              ("numpages", False): 100, ("miss", False): 100}
#: the measured time alternates ROUNDS windows at the nominal rate with
#: closed-loop capacity windows (shares below), so both figures sample the
#: whole run; the rest probes the ladder
ROUNDS = 4
#: in-process replays of the fixed mix after each round's capacity window;
#: on a shared host a core runs fast only part of the time, so each request
#: needs many replays for its fastest one to be steady from run to run
REPLAYS_PER_ROUND = 9
NOMINAL_SHARE = 0.3
CAPACITY_SHARE = 0.4
PROBE_S = 1.0
LOW_RPS = 100
#: untraced/traced replay pairs of the traced run
TRACE_REPLAYS = 5


def _secs(ts: str) -> int:
    return int((datetime.strptime(ts, "%Y%m%d%H%M%S") - datetime(1970, 1, 1)).total_seconds())


class Expected:
    """Answers computed in Python from the generated lines; page layout
    from the cluster's block keys (ALL.summary), pruned as the server's
    paging contract states."""

    def __init__(self, by_key: dict[str, list[str]], all_lines: list[str], summary: str):
        self.by_key = by_key
        self.lines = all_lines
        self.keys = [" ".join(x.split(" ", 2)[:2]) for x in all_lines]
        with open(summary) as fh:
            blocks = [line.rstrip("\n").split("\t") for line in fh]
        self.block_keys = [b[0] for b in blocks]
        # lines per block (shard, offset): block i holds the keys in
        # [key_i, key_i+1), so the generated lines give its size
        bounds = [bisect.bisect_left(self.keys, k) for k in self.block_keys]
        bounds.append(len(self.keys))
        self.block_lines = {
            (b[1], int(b[2])): bounds[i + 1] - bounds[i] for i, b in enumerate(blocks)
        }
        self._cache: dict[tuple, str] = {}

    def _prune(self, start: str, end: str) -> tuple[int, int]:
        lo = max(bisect.bisect_left(self.block_keys, start) - 1, 0)
        return lo, bisect.bisect_left(self.block_keys, end, lo)

    def body(self, r: dict) -> str:
        key = tuple(sorted(r.items()))
        if key not in self._cache:
            self._cache[key] = self._body(r)
        return self._cache[key]

    def _body(self, r: dict) -> str:
        if r["kind"] in ("closest", "miss"):
            target = _secs(r["ts"])
            caps = self.by_key.get(r["key"], [])
            ranked = sorted(caps, key=lambda x: (abs(_secs(x.split(" ", 2)[1]) - target),
                                                 x.split(" ", 2)[1]))
            return "".join(x + "\n" for x in ranked[: r["limit"]])
        lo, hi = self._prune(r["start"], r["end"])
        if r["kind"] == "numpages":
            return f"{math.ceil((hi - lo) / PAGE_SIZE)}\n"
        b0, b1 = lo, min(lo + PAGE_SIZE, hi)
        if b0 >= b1:
            return ""
        lower = max(self.block_keys[b0], r["start"])
        upper = self.block_keys[b1] if b1 < len(self.block_keys) else None
        upper = r["end"] if upper is None else min(upper, r["end"])
        i = bisect.bisect_left(self.keys, lower)
        j = bisect.bisect_left(self.keys, upper)
        return "".join(x + "\n" for x in self.lines[i:j])


def request_path(r: dict) -> str:
    if r["kind"] in ("closest", "miss"):
        q = {"key": r["key"], "closest": r["ts"], "limit": r["limit"]}
    elif r["kind"] == "numpages":
        q = {"start": r["start"], "end": r["end"], "showNumPages": "true"}
    else:
        q = {"start": r["start"], "end": r["end"], "page": r["page"]}
    return "/?" + urlencode(q)


class LoadGen:
    """Open-loop generator: Poisson arrivals at a fixed rate, at most
    ``conns`` requests in flight; latency counts from the scheduled time."""

    def __init__(self, port: int, requests: list[dict], conns: int, seed: int):
        self.port = port
        self.reqs = requests
        self.raw = [
            f"GET {request_path(r)} HTTP/1.0\r\nHost: localhost\r\n\r\n".encode()
            for r in requests
        ]
        self.conns = conns
        self.seed = seed
        self.cursor = 0

    async def _fetch(self, raw: bytes) -> tuple[int, bytes]:
        reader, writer = await asyncio.open_connection("127.0.0.1", self.port)
        try:
            writer.write(raw)
            data = await reader.read(-1)
        finally:
            writer.close()
        head, _, body = data.partition(b"\r\n\r\n")
        return int(head.split(b" ", 2)[1]), body

    async def _run(self, rate: float, seconds: float, label: str) -> list[dict]:
        rng = random.Random(f"{self.seed}:{label}")
        offs, t = [], 0.0
        while True:
            t += rng.expovariate(rate)
            if t >= seconds:
                break
            offs.append(t)
        n = len(offs)
        start = self.cursor
        self.cursor += n
        out: list[dict | None] = [None] * n
        loop = asyncio.get_running_loop()
        t0 = loop.time() + 0.02
        nxt = 0

        async def worker():
            nonlocal nxt
            while nxt < n:
                i = nxt
                nxt += 1
                due = t0 + offs[i]
                delay = due - loop.time()
                if delay > 0:
                    await asyncio.sleep(delay)
                sent = loop.time()
                k = (start + i) % len(self.reqs)
                try:
                    status, body = await self._fetch(self.raw[k])
                except OSError as e:
                    status, body = None, repr(e).encode()
                done = loop.time()
                out[i] = {"req": k, "status": status, "crc": zlib.crc32(body),
                          "len": len(body), "lat_s": done - due, "late_s": sent - due,
                          "done_s": done - t0}

        await asyncio.gather(*(worker() for _ in range(self.conns)))
        return out

    def run(self, rate: float, seconds: float, label: str) -> list[dict]:
        return asyncio.run(self._run(rate, seconds, label))

    async def _closed(self, seconds: float) -> list[dict]:
        loop = asyncio.get_running_loop()
        t0 = loop.time()
        out: list[dict] = []

        async def worker():
            while loop.time() - t0 < seconds:
                k = self.cursor % len(self.reqs)
                self.cursor += 1
                sent = loop.time()
                try:
                    status, body = await self._fetch(self.raw[k])
                except OSError as e:
                    status, body = None, repr(e).encode()
                done = loop.time()
                out.append({"req": k, "status": status, "crc": zlib.crc32(body),
                            "len": len(body), "lat_s": done - sent, "late_s": 0.0,
                            "done_s": done - t0})

        await asyncio.gather(*(worker() for _ in range(self.conns)))
        return out

    def closed(self, seconds: float) -> list[dict]:
        """Closed loop for ``seconds``: every connection always busy."""
        return asyncio.run(self._closed(seconds))

    def max_rate(self, capacity: float, budget_s: float) -> tuple[float | None, list, list]:
        """Highest ladder rate whose open-loop p99 meets the limit with no
        failures.  The search starts at the highest ladder rate under 90 %
        of the closed-loop capacity (rates above the capacity cannot meet
        it: the backlog grows), steps up while rates pass and down while
        they fail, and stops where the verdict changes or time is up."""
        k = max(0, bisect.bisect_right(LADDER, 0.9 * capacity) - 1)
        res, steps, best, step = [], [], None, 0
        deadline = time.perf_counter() + budget_s
        while 0 <= k < len(LADDER) and time.perf_counter() + PROBE_S <= deadline:
            probe = self.run(LADDER[k], PROBE_S, f"ladder{k}")
            res += probe
            s = summarize(probe)
            ok = s["failed"] == 0 and s["p99_ms"] <= P99_LIMIT_MS
            steps.append({"rps": LADDER[k], "ok": ok, **s})
            if ok:
                best = LADDER[k] if best is None else max(best, LADDER[k])
            if step and (step > 0) != ok:
                break
            step = 1 if ok else -1
            k += step
        return best, res, steps


def summarize(res: list[dict]) -> dict:
    lat = [r["lat_s"] * 1e3 for r in res]
    q = supported_percentile(len(lat)) if lat else 50
    return {
        "n": len(res),
        "failed": sum(1 for r in res if r["status"] != 200),
        "p50_ms": percentile(lat, 50) if lat else float("nan"),
        "p99_ms": percentile(lat, 99) if lat else float("nan"),
        "supported_percentile": q,
        "late_p50_ms": percentile([r["late_s"] * 1e3 for r in res], 50) if res else 0.0,
        "late_max_ms": max((r["late_s"] * 1e3 for r in res), default=0.0),
    }


class Server:
    """The CDX server subprocess."""

    def __init__(self, cluster_dir: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "lookup_server.py"), cluster_dir,
             str(PAGE_SIZE)],
            stdout=subprocess.PIPE, text=True,
        )
        try:
            line = self.proc.stdout.readline()
            if not line.strip().isdigit():
                raise RuntimeError(f"lookup server did not start: {line!r}")
        except BaseException:
            self.stop()
            raise
        self.port = int(line)

    def cpu_s(self) -> float:
        """User + system CPU seconds the server process has used."""
        with open(f"/proc/{self.proc.pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / os.sysconf("SC_CLK_TCK")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        self.proc.stdout.close()


def write_cluster(lines: list[str], out_dir: str, shards: int) -> None:
    """Write sorted CDX lines as a ZipNum cluster in the layout
    ``write_zipnum`` produces: ``shards`` contiguous key ranges
    ``part-NNNNN.gz``, one gzip member per ``LINES_PER_BLOCK`` lines, a
    ``.summary`` sidecar per shard; the engine's ``summary_generator`` and
    ``manifest_aggregator`` then write ``ALL.summary`` and ``manifest.txt``.
    Writing it here keeps the run free of a JVM; a layout the server cannot
    read fails every response check."""
    from ia_hadoop_tools_spark.sources.zipnum import manifest_aggregator, summary_generator

    os.makedirs(out_dir, exist_ok=True)
    per = math.ceil(len(lines) / shards)
    names = []
    for s in range(shards):
        chunk = lines[s * per : (s + 1) * per]
        if not chunk:
            break
        name, offset, idx = f"part-{s:05d}.gz", 0, []
        with open(os.path.join(out_dir, name), "wb") as fh:
            for i in range(0, len(chunk), LINES_PER_BLOCK):
                block = chunk[i : i + LINES_PER_BLOCK]
                payload = gzip.compress("".join(x + "\n" for x in block).encode(), mtime=0)
                fh.write(payload)
                key = " ".join(block[0].split(" ", 2)[:2])
                idx.append(f"{key}\t{name}\t{offset}\t{len(payload)}\n")
                offset += len(payload)
        with open(os.path.join(out_dir, name[: -len(".gz")] + ".summary"), "w") as fh:
            fh.writelines(idx)
        names.append(name)
    summary_generator(out_dir, shards=names)
    manifest_aggregator(out_dir, names)


def replay(cluster_dir: str, reqs: list[dict], tr: Tracer | None,
           block_lines: dict | None = None) -> dict:
    """Serve ``reqs`` in-process through ``ClusterPager`` as the handler
    does.  With a tracer, ``prune`` and ``fsio.read_range`` are wrapped to
    time and count each layer; ``block_lines`` ((shard, offset) -> lines)
    counts the lines each block read holds."""
    from ia_hadoop_tools_spark.sources import cdx_http_server as chs
    from ia_hadoop_tools_spark.sources import fsio

    pager = chs.ClusterPager(cluster_dir)
    st = {"prune_s": [], "closest_s": [], "deref_s": [], "read_s": [], "read_bytes": 0,
          "reads": 0, "lines_scanned": 0, "lines_returned": 0, "closest_reads": 0,
          "closest_bytes": 0, "closest_n": 0, "req_s": [], "req_cpu_s": []}
    orig_read, orig_prune = fsio.read_range, pager.prune
    traced = tr is not None and tr.enabled

    def timed_read(path, offset, length, filesystem=None):
        t = time.perf_counter()
        data = orig_read(path, offset, length, filesystem)
        t_end = time.perf_counter()
        st["read_s"].append(t_end - t)
        tr.record("fsio.read_range", "io", t - tr.t0, t_end - tr.t0, bytes=len(data))
        st["reads"] += 1
        st["read_bytes"] += len(data)
        st["lines_scanned"] += block_lines[(os.path.basename(path), offset)]
        return data

    def timed_prune(start, end):
        t = time.perf_counter()
        out = orig_prune(start, end)
        st["prune_s"].append(time.perf_counter() - t)
        return out

    if traced:
        fsio.read_range, pager.prune = timed_read, timed_prune
    try:
        t_all = time.perf_counter()
        for r in reqs:
            span = tr.open(r["kind"], "layer") if traced else None
            c = time.thread_time()
            t = time.perf_counter()
            reads0, bytes0 = st["reads"], st["read_bytes"]
            if r["kind"] in ("closest", "miss"):
                body = pager.closest_lines(r["key"], r["ts"], r["limit"])
                st["closest_s"].append(time.perf_counter() - t)
                st["closest_n"] += 1
                st["closest_reads"] += st["reads"] - reads0
                st["closest_bytes"] += st["read_bytes"] - bytes0
            elif r["kind"] == "numpages":
                body = f"{pager.num_pages(r['start'], r['end'], PAGE_SIZE)}\n"
            else:
                blocks = pager.page_blocks(r["page"], r["start"], r["end"], PAGE_SIZE)
                t1 = time.perf_counter()
                body = pager.deref_lines(blocks, r["start"], r["end"])
                st["deref_s"].append(time.perf_counter() - t1)
            st["lines_returned"] += body.count("\n")
            st["req_s"].append(time.perf_counter() - t)
            st["req_cpu_s"].append(time.thread_time() - c)
            if span is not None:
                tr.close(span)
                span["attrs"] = {"reads": st["reads"] - reads0,
                                 "bytes": st["read_bytes"] - bytes0}
        st["wall_s"] = time.perf_counter() - t_all
    finally:
        fsio.read_range = orig_read
    return st


def replay_mix(reqs: list[dict], mega: list[str]) -> list[dict]:
    """The first requests of each ``REPLAY_MIX`` class in stream order."""
    mega_set, left, out = set(mega), dict(REPLAY_MIX), []
    for r in reqs:
        cls = (r["kind"], r.get("key") in mega_set)
        if left.get(cls, 0) > 0:
            left[cls] -= 1
            out.append(r)
    return out


def mix_wall_ms(mix: list[dict], mega: set, req_s: list[float]) -> float:
    """Wall per request of a replayed fixed mix: each request class's median
    wall, weighted by the class's share of the mix.  A preempted request
    does not move it; a slower or blocking path in any class does."""
    by_cls: dict[tuple, list[float]] = {}
    for r, s in zip(mix, req_s):
        by_cls.setdefault((r["kind"], r.get("key") in mega), []).append(s)
    return sum(len(v) * median(v) for v in by_cls.values()) / len(mix) * 1e3


def run_lookup(ctx) -> dict:
    seed = ctx.seed
    by_key, all_lines, mega, cprops = gen.lookup_cluster_lines(seed, N_KEYS)
    reqs, rprops = gen.lookup_requests(seed, list(by_key), mega, 20000)
    cluster_dir = os.path.join(ctx.work_dir, "out", "zipnum")
    server = None
    setup = []
    try:
        # input preparation: the cluster is written once; set-up time is
        # the server's start until it answers
        t0 = time.perf_counter()
        write_cluster(all_lines, cluster_dir, nproc())
        build_s = time.perf_counter() - t0
        for _ in range(SETUP_REPS):
            if server is not None:
                server.stop()
            t0 = time.perf_counter()
            server = Server(cluster_dir)
            setup.append(time.perf_counter() - t0)
        with open(os.path.join(cluster_dir, "ALL.summary")) as fh:
            n_blocks = sum(1 for _ in fh)
        ctx.props.update(cluster=cprops, requests=rprops, blocks=n_blocks,
                         replay_mix={f"{k}{'/mega' if m else ''}": n
                                     for (k, m), n in REPLAY_MIX.items()},
                         cluster_build_s=build_s,
                         lines_per_block=LINES_PER_BLOCK, page_size=PAGE_SIZE,
                         nominal_rps=NOMINAL_RPS, p99_limit_ms=P99_LIMIT_MS,
                         connections=nproc(), arrivals="poisson, open loop")
        expected = Expected(by_key, all_lines, os.path.join(cluster_dir, "ALL.summary"))
        fixed_mix = replay_mix(reqs, mega)
        lg = LoadGen(server.port, reqs, nproc(), seed)
        lg.closed(1.0)  # warm-up: the server's first calls import and page in
        out: dict = {"setup_s": median(setup), "setup_reps_s": setup}
        all_res: list[dict] = []
        if ctx.trace:
            out.update(trace_lookup(ctx, lg, reqs, cluster_dir, all_res,
                                    expected.block_lines))
        else:
            nominal, closed, closed_s, server_cpu_s = [], [], 0.0, 0.0
            per_cpu_rounds, replay_walls, pager_cpu_ms = [], [], []
            with PeakRSS() as rss:
                for r in range(ROUNDS):
                    offered = lg.run(NOMINAL_RPS, NOMINAL_SHARE * ctx.seconds / ROUNDS,
                                     f"nominal{r}")
                    nominal += offered
                    t0, c0 = time.perf_counter(), server.cpu_s()
                    window = lg.closed(CAPACITY_SHARE * ctx.seconds / ROUNDS)
                    closed += window
                    closed_s += time.perf_counter() - t0
                    cpu = server.cpu_s() - c0
                    server_cpu_s += cpu
                    per_cpu_rounds.append(len(window) / cpu)
                    for _ in range(REPLAYS_PER_ROUND):
                        st = replay(cluster_dir, fixed_mix, None)
                        replay_walls.append(st["req_s"])
                        pager_cpu_ms.append(sum(st["req_cpu_s"]) / len(fixed_mix) * 1e3)
                capacity = len(closed) / closed_s
                max_rps, probes, steps = lg.max_rate(
                    capacity, (1 - NOMINAL_SHARE - CAPACITY_SHARE) * ctx.seconds)
            all_res += nominal + closed + probes
            nom = summarize(nominal)
            per_core = len(closed) / server_cpu_s
            # each request's best replay: a machine slow-down that covers
            # some replays does not move it, a path every replay pays does
            pager_ms = mix_wall_ms(fixed_mix, set(mega), [min(w) for w in zip(*replay_walls)])
            out["peak_rss_mb"] = rss.peak_mb
            out["peak_rss_by_process_mb"] = {k: v / 1024 for k, v in rss.peak_by_name.items()}
            out["named"] = {
                "lookup_p50_ms": (nom["p50_ms"], "ms"),
                "lookup_p99_ms": (nom["p99_ms"], "ms"),
                "lookup_max_rps": (max_rps, "1/s"),
                "lookup_capacity_rps": (capacity, "1/s"),
                "lookup_rps_per_server_cpu": (per_core, "1/s"),
                "lookup_pager_wall_ms": (pager_ms, "ms"),
                "lookup_pager_cpu_mean_ms": (median(pager_cpu_ms), "ms"),
            }
            out["contract"] = {
                "throughput_per_s": (per_core, "1/s"),
                "op_ms": (pager_ms, "ms"),
            }
            out["samples"] = {"nominal": nom, "capacity_requests": len(closed),
                              "rps_per_server_cpu_per_round": per_cpu_rounds,
                              "pager_wall_ms_per_replay": [
                                  mix_wall_ms(fixed_mix, set(mega), w) for w in replay_walls],
                              "pager_cpu_mean_ms_per_replay": pager_cpu_ms, "ladder": steps}
        ctx.ops(len(all_res))
        bad = sum(
            1 for r in all_res
            if r["status"] != 200
            or r["crc"] != zlib.crc32(expected.body(reqs[r["req"]]).encode())
        )
        ctx.check("every lookup response equals the Python answer", bad == 0,
                  f"{bad} of {len(all_res)} responses differ")
        return out
    finally:
        if server is not None:
            server.stop()


def trace_lookup(ctx, lg: LoadGen, reqs, cluster_dir: str, all_res: list,
                 block_lines: dict) -> dict:
    """Low-rate HTTP phase plus in-process replays of the same requests: a
    warm-up, then ``TRACE_REPLAYS`` alternations of an untraced and a traced
    replay; the tracing overhead compares their median walls, and the
    layer figures come from the last traced replay."""
    low = lg.run(LOW_RPS, ctx.seconds / 2, "low")
    all_res += low
    sample = [reqs[r["req"]] for r in low]
    replay(cluster_dir, sample, None)  # first calls import and page in
    untraced, traced = [], []
    for _ in range(TRACE_REPLAYS):
        base = replay(cluster_dir, sample, None)
        untraced.append(base["wall_s"])
        tr = Tracer(True)
        with tr.span("wayback_lookup", "workload"), tr.span("replay", "phase"):
            st = replay(cluster_dir, sample, tr, block_lines)
        traced.append(st["wall_s"])
    base_s, traced_s = median(untraced), median(traced)
    us = 1e6
    returned = max(1, st["lines_returned"])
    layers = {
        "cdx_http_server.prune_us": median(st["prune_s"]) * us,
        "cdx_http_server.closest_us": median(st["closest_s"]) * us,
        "cdx_http_server.deref_us": median(st["deref_s"]) * us if st["deref_s"] else 0.0,
        "cdx_http_server.http_overhead_us": (
            median([r["lat_s"] for r in low]) - median(base["req_s"])) * us,
        "cdx_http_server.lines_scanned_per_line_returned": st["lines_scanned"] / returned,
        "fsio.read_range_us": median(st["read_s"]) * us if st["read_s"] else 0.0,
        "zipnum.blocks_per_lookup": st["closest_reads"] / max(1, st["closest_n"]),
        "zipnum.bytes_read_per_lookup": st["closest_bytes"] / max(1, st["closest_n"]),
        "trace.overhead_ratio": traced_s / base_s - 1,
    }
    return {
        "layers": layers,
        "named": {"lookup_low_rate_p50_ms": (summarize(low)["p50_ms"], "ms")},
        "samples": {"low_rate": summarize(low), "replayed": len(sample)},
        "trace": {
            "spans": tr.spans,
            "self_s": tr.self_times(),
            "pass_walls_untraced_s": untraced,
            "pass_walls_traced_s": traced,
            "overhead_s": traced_s - base_s,
        },
    }
