"""wayback_index: the reference's production loop on seeded CDX text.

One pass: raw text -> parse -> filters -> day limit -> sorted Parquet
cluster -> ZipNum; then an incremental merge of an overlapping delta batch
(dedup + daily limit); then a seeded batch of Spark lookups against the
merged cluster.  Outputs are checked against a DuckDB recomputation over
the generated lines.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from datetime import datetime

import gen
from harness import median, spark_layer_metrics
from ia_hadoop_tools_spark.schemas import CDX_COLUMNS

BASE_LINES = 15000
DELTA_LINES = 4000
DAY_CAP = 40
NUM_RANGES = 4
ZIPNUM_LINES_PER_BLOCK = 200
QUERIES_PER_PASS = 15

_TIES = (
    "compressed_length", "compressed_offset", "digest", "filename",
    "meta_flags", "mimetype", "original_url", "redirect", "statuscode",
)
_QUERY_ORDER = "timestamp, original_url, digest, compressed_offset, filename"


def _arrow_table(rows):
    import pyarrow as pa

    cols = list(zip(*rows))
    types = [pa.string()] * 4 + [pa.int32()] + [pa.string()] * 3 + [pa.int64()] * 2 + [pa.string()]
    return pa.table(
        {name: pa.array(list(c), type=t) for name, c, t in zip(CDX_COLUMNS, cols, types)}
    )


def _filter_sql(src: str) -> str:
    """cdx_filter + global_wayback_filter, in the registry oracles' shape."""
    cols = ", ".join(
        "substr(digest, 1, 3) AS digest" if c == "digest" else c for c in CDX_COLUMNS
    )
    return f"""
      SELECT {cols} FROM {src}
      WHERE NOT (starts_with(urlkey, ' CDX') OR starts_with(urlkey, 'dns:')
                 OR starts_with(urlkey, 'filedesc:') OR starts_with(urlkey, 'warcinfo:'))
        AND NOT coalesce(contains(meta_flags, 'A'), false)
        AND (statuscode IS NOT NULL OR contains(mimetype, 'warc/'))
        AND compressed_offset IS NOT NULL
        AND NOT (coalesce(statuscode IN (502, 504), false)
                 AND NOT coalesce(contains(mimetype, 'warc/'), false)
                 AND coalesce(starts_with(filename, 'live-20'), false)
                 AND coalesce(ends_with(filename, '.arc.gz'), false))"""


def _daylimit_sql(src: str, cap: int) -> str:
    order = ", ".join(f"{c} ASC NULLS FIRST" for c in _TIES)
    cols = ", ".join(CDX_COLUMNS)
    return f"""
      SELECT {cols} FROM (
        SELECT *, row_number() OVER (
          PARTITION BY urlkey, substr(timestamp, 1, 8)
          ORDER BY timestamp ASC, {order}) AS rn
        FROM ({src})
      ) WHERE rn <= {cap}"""


def _pad(ts: str, low: bool) -> str:
    return ts.ljust(14, "0" if low else "9")


#: popularity ranks of the queried hosts: fixed, so every seed asks
#: questions of the same cost and only paths and days vary
QUERY_HOST_RANKS = (1, 4, 12)


def query_batch(seed: int, n: int) -> list[dict]:
    """Seeded Spark lookups: exact, prefix (one day), closest, collapse and a
    raw key range, each on hosts of fixed popularity rank."""
    rng = random.Random(f"{seed}:queries")
    kinds = ("exact", "prefix", "closest", "collapse", "range")
    out = []
    for i in range(n):
        h = QUERY_HOST_RANKS[(i // len(kinds)) % len(QUERY_HOST_RANKS)]
        url, key = gen.url_of(h, rng.randrange(40))
        day = f"202001{1 + rng.randrange(28):02d}"
        kind = kinds[i % len(kinds)]
        q = {"kind": kind, "url": url, "key": key}
        if kind == "prefix":
            q.update(url=f"http://{gen.host_name(h)}/a/", key=gen.host_surt(h) + "/a/",
                     from_ts=day, to_ts=day)
        elif kind == "closest":
            q.update(closest=day + f"{rng.randrange(24):02d}", limit=3)
        elif kind == "collapse":
            q.update(key=gen.host_surt(h), from_ts=day[:6] + "01", to_ts=day[:6] + "10")
        elif kind == "range":
            q.update(start=gen.host_surt(h), end=gen.host_surt(h + 1))
        out.append(q)
    return out


def run_query(spark, cluster, q: dict):
    from ia_hadoop_tools_spark.operators.cdx_query import cdx_query
    from ia_hadoop_tools_spark.operators.cluster import cluster_range

    k = q["kind"]
    if k == "exact":
        df = cdx_query(cluster, q["url"])
    elif k == "prefix":
        df = cdx_query(cluster, q["url"], match_type="prefix",
                       from_ts=q["from_ts"], to_ts=q["to_ts"])
    elif k == "closest":
        df = cdx_query(cluster, q["url"], sort="closest", closest=q["closest"],
                       limit=q["limit"])
    elif k == "collapse":
        df = cdx_query(cluster, q["url"], match_type="host", collapse="timestamp:8",
                       from_ts=q["from_ts"], to_ts=q["to_ts"])
    else:
        df = cluster_range(cluster, q["start"], q["end"])
    return [tuple(r) for r in df.collect()]


def expected_query(con, q: dict):
    k = q["kind"]
    cols = ", ".join(CDX_COLUMNS)
    if k == "exact":
        sql = f"SELECT {cols} FROM merged WHERE urlkey = $1 ORDER BY {_QUERY_ORDER}"
        return con.execute(sql, [q["key"]]).fetchall()
    if k == "prefix":
        sql = (f"SELECT {cols} FROM merged WHERE starts_with(urlkey, $1) "
               f"AND timestamp >= $2 AND timestamp <= $3 ORDER BY urlkey, {_QUERY_ORDER}")
        return con.execute(sql, [q["key"], _pad(q["from_ts"], True),
                                 _pad(q["to_ts"], False)]).fetchall()
    if k == "closest":
        target = datetime.strptime(q["closest"].ljust(14, "0"), "%Y%m%d%H%M%S")
        sql = (f"SELECT {cols} FROM merged WHERE urlkey = $1 ORDER BY "
               f"abs(epoch(strptime(timestamp, '%Y%m%d%H%M%S')) - epoch($2::TIMESTAMP)), "
               f"{_QUERY_ORDER} LIMIT {q['limit']}")
        return con.execute(sql, [q["key"], target]).fetchall()
    if k == "collapse":
        sql = f"""SELECT {cols} FROM (
              SELECT *, row_number() OVER (PARTITION BY urlkey, substr(timestamp, 1, 8)
                                           ORDER BY {_QUERY_ORDER}) AS rn
              FROM merged WHERE starts_with(urlkey, $1)
                AND timestamp >= $2 AND timestamp <= $3)
            WHERE rn = 1 ORDER BY urlkey, {_QUERY_ORDER}"""
        return con.execute(sql, [q["key"], _pad(q["from_ts"], True),
                                 _pad(q["to_ts"], False)]).fetchall()
    sql = f"SELECT {cols} FROM merged WHERE urlkey >= $1 AND urlkey < $2"
    return sorted(con.execute(sql, [q["start"], q["end"]]).fetchall(), key=repr)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".crc") or f.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(root, f))
    return total


class IndexWorkload:
    name = "wayback_index"

    def __init__(self, ctx):
        self.ctx = ctx
        seed = ctx.seed
        self.base_rows, self.base_lines, base_props = gen.cdx_batch(seed, "base", BASE_LINES)
        self.delta_rows, self.delta_lines, delta_props = gen.cdx_batch(
            seed, "delta", DELTA_LINES, copy_from=self.base_rows, copy_share=0.1
        )
        self.queries = query_batch(seed, QUERIES_PER_PASS)
        ctx.props.update(
            base=base_props, delta=delta_props, day_cap=DAY_CAP,
            zipnum_lines_per_block=ZIPNUM_LINES_PER_BLOCK,
            queries_per_pass=QUERIES_PER_PASS,
            query_kinds=[q["kind"] for q in self.queries],
        )
        w = ctx.work_dir
        self.base_path = os.path.join(w, "in", "base.cdx")
        self.delta_path = os.path.join(w, "in", "delta.cdx")
        self.cluster_dir = os.path.join(w, "out", "cluster")
        self.zip_dir = os.path.join(w, "out", "zipnum")
        self.merged_dir = os.path.join(w, "out", "merged")

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Write the seeded CDX batches as text files."""
        shutil.rmtree(os.path.join(self.ctx.work_dir, "in"), ignore_errors=True)
        os.makedirs(os.path.dirname(self.base_path))
        for path, lines in ((self.base_path, self.base_lines),
                            (self.delta_path, self.delta_lines)):
            with open(path, "w") as fh:
                fh.write("\n".join(lines) + "\n")

    # -- one pass ----------------------------------------------------------

    def run_pass(self, spark, tr) -> dict:
        from ia_hadoop_tools_spark.operators.cluster import write_cluster
        from ia_hadoop_tools_spark.operators.components import release_local_checkpoint
        from ia_hadoop_tools_spark.operators.daylimit import day_limit
        from ia_hadoop_tools_spark.operators.filters import cdx_filter, global_wayback_filter
        from ia_hadoop_tools_spark.operators.merge import merge_clusters
        from ia_hadoop_tools_spark.operators.parse import cdx_to_text, parse_cdx, read_cdx_text
        from ia_hadoop_tools_spark.sources.zipnum import write_zipnum

        res = {}
        t0 = time.perf_counter()
        with tr.span("index", "phase"):
            raw = tr.layer("parse", lambda: parse_cdx(read_cdx_text(spark, self.base_path)))
            kept = tr.layer("filters", lambda: global_wayback_filter(cdx_filter(raw)))
            capped = tr.layer("daylimit", lambda: day_limit(kept, n=DAY_CAP))
            tr.layer("cluster", lambda: write_cluster(capped, self.cluster_dir,
                                                      num_ranges=NUM_RANGES))
            idx = tr.layer(
                "zipnum",
                lambda: write_zipnum(cdx_to_text(spark.read.parquet(self.cluster_dir)),
                                     self.zip_dir, lines_per_block=ZIPNUM_LINES_PER_BLOCK,
                                     num_shards=NUM_RANGES),
                materialize=False,
            )
        res["index_s"] = time.perf_counter() - t0
        if tr.enabled:
            res["counts"] = {
                "parse_rows": raw.count(), "filters_rows": kept.count(),
                "daylimit_rows": capped.count(),
            }
        release_local_checkpoint(idx)
        t0 = time.perf_counter()
        with tr.span("merge", "phase"):
            tr.layer(
                "merge",
                lambda: merge_clusters(
                    [spark.read.parquet(self.cluster_dir),
                     parse_cdx(read_cdx_text(spark, self.delta_path))],
                    filters=[cdx_filter, global_wayback_filter],
                    dedup=True, daily_limit=DAY_CAP, num_ranges=NUM_RANGES,
                ).write.mode("overwrite").parquet(self.merged_dir),
            )
        res["merge_s"] = time.perf_counter() - t0
        merged = spark.read.parquet(self.merged_dir)
        res["query_s"], res["answers"] = [], []
        with tr.span("queries", "phase"):
            for q in self.queries:
                t0 = time.perf_counter()
                ans = tr.layer("cdx_query", lambda q=q: run_query(spark, merged, q))
                res["query_s"].append(time.perf_counter() - t0)
                res["answers"].append(ans)
        spark.catalog.clearCache()
        res["ops"] = 6 + len(self.queries)
        return res

    # -- checks ------------------------------------------------------------

    def check(self, spark, passes: list[dict]) -> None:
        """Compare the last pass's outputs (and every pass's answers) with a
        DuckDB recomputation over the generated lines."""
        import duckdb

        from ia_hadoop_tools_spark.sources.zipnum import read_zipnum

        ctx = self.ctx
        con = duckdb.connect()
        con.register("base_raw", _arrow_table(self.base_rows))
        con.register("delta_raw", _arrow_table(self.delta_rows))
        con.execute("CREATE TABLE base AS " + _daylimit_sql(_filter_sql("base_raw"), DAY_CAP))
        con.execute(
            "CREATE TABLE merged AS " + _daylimit_sql(
                f"SELECT DISTINCT * FROM (SELECT * FROM base UNION ALL "
                f"{_filter_sql('delta_raw')})", DAY_CAP)
        )
        for table, path in (("base", self.cluster_dir), ("merged", self.merged_dir)):
            got = f"read_parquet('{path}/*.parquet')"
            missing, extra, n_exp, n_got = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT * FROM {table} EXCEPT ALL SELECT * FROM {got})),"
                f" (SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL SELECT * FROM {table})),"
                f" (SELECT count(*) FROM {table}), (SELECT count(*) FROM {got})"
            ).fetchone()
            ctx.check(f"{table} cluster rows equal DuckDB recomputation",
                      missing == 0 and extra == 0 and n_exp == n_got,
                      f"expected {n_exp} rows, got {n_got}; {missing} missing, {extra} extra")
        want = sorted(gen.render(r) for r in con.execute(
            f"SELECT * FROM read_parquet('{self.cluster_dir}/*.parquet')").fetchall())
        got = sorted(r[0] for r in read_zipnum(spark, self.zip_dir).collect())
        ctx.check("ZipNum round-trip equals the Parquet cluster", got == want,
                  f"{len(got)} ZipNum lines vs {len(want)} cluster rows")
        expected = [expected_query(con, q) for q in self.queries]
        for p in passes:
            for q, ans, exp in zip(self.queries, p["answers"], expected):
                if q["kind"] == "range":
                    ans = sorted(ans, key=repr)
                ctx.check(f"cdx query {q['kind']} {q.get('key', q.get('start'))}",
                          ans == exp, f"{len(ans)} rows vs {len(exp)} expected")
        self.base_rows_out, self.merged_rows_out = con.execute(
            "SELECT (SELECT count(*) FROM base), (SELECT count(*) FROM merged)"
        ).fetchone()
        con.close()

    # -- metrics -----------------------------------------------------------

    def metrics(self, passes: list[dict]) -> dict:
        """Rates use the median pass (one pass at the default sizes)."""
        idx_s = median([p["index_s"] for p in passes])
        merge_s = median([p["merge_s"] for p in passes])
        both_s = median([p["index_s"] + p["merge_s"] for p in passes])
        q_s = [t for p in passes for t in p["query_s"]]
        n = len(passes)
        merge_in = self.base_rows_out + DELTA_LINES
        stored = dir_bytes(self.cluster_dir) + dir_bytes(self.zip_dir)
        in_bytes = self.ctx.props["base"]["input_bytes"]
        # the gate uses the geometric mean of the lookup walls: every call
        # counts and no single kind's cost sets it, so it holds steadier
        # across runs than the median
        geo_s = math.exp(sum(math.log(t) for t in q_s) / len(q_s))
        named = {
            "index_lines_per_s": (BASE_LINES / idx_s, "1/s"),
            "merge_lines_per_s": (merge_in / merge_s, "1/s"),
            "stored_bytes_per_input_byte": (stored / in_bytes, "ratio"),
            "range_query_p50_s": (median(q_s), "s"),
            "range_query_geomean_s": (geo_s, "s"),
        }
        contract = {
            "throughput_per_s": ((BASE_LINES + merge_in) / both_s, "1/s"),
            "op_ms": (geo_s * 1e3, "ms"),
        }
        return {"named": named, "contract": contract,
                "samples": {"passes": n, "queries": len(q_s),
                            "index_s": [p["index_s"] for p in passes],
                            "merge_s": [p["merge_s"] for p in passes],
                            "query_s": q_s}}

    def layer_metrics(self, tr, traced: list[dict], walls: list[float]) -> dict:
        out = spark_layer_metrics(tr, len(traced), walls)
        c = traced[-1]["counts"]
        out["filters.keep_ratio"] = c["filters_rows"] / c["parse_rows"]
        out["daylimit.keep_ratio"] = c["daylimit_rows"] / c["filters_rows"]
        out["merge.rows_out_per_row_in"] = self.merged_rows_out / (
            self.base_rows_out + DELTA_LINES
        )
        out["zipnum.bytes_per_line"] = dir_bytes(self.zip_dir) / self.base_rows_out
        out["cdx_query.jobs_per_query"] = out["cdx_query.jobs"] / len(self.queries)
        return out
