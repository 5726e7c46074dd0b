"""The training-data curation phase of the corpus_graph workload.

quality_filter -> dedup_exact_text -> minhash_lsh_pairs -> dedup_groups ->
decontaminate -> bpe_train + bpe_token_counts -> pack_sequences.  Dozens
of small jobs, driver loops and Arrow UDFs: the per-job floor and the
partition spread show here.  Checked against the generator's known
duplicate, near-duplicate, quality-failure and contamination sets.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
from harness import median

N_DOCS = 1000
BPE_MERGES = 4
PACK_BUDGET = 2048
DECONTAM_N = 8
#: a chain that drops below this share of injected near-duplicate groups
#: has lost recall, not just speed
RECALL_FLOOR = 0.75


def _write_parquet(path: str, columns: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(columns), path)


class Curation:
    def __init__(self, ctx):
        self.ctx = ctx
        self.docs, self.bench, self.truth, props = gen.documents(ctx.seed, N_DOCS)
        ctx.props.update(docs=props, bpe_merges=BPE_MERGES, pack_budget=PACK_BUDGET,
                         decontam_ngram=DECONTAM_N)
        self.in_dir = os.path.join(ctx.work_dir, "in", "corpus")
        self.docs_path = os.path.join(self.in_dir, "docs.parquet")
        self.bench_path = os.path.join(self.in_dir, "bench.parquet")

    def setup(self) -> None:
        """Write the seeded corpus and benchmark set as Parquet."""
        shutil.rmtree(self.in_dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        _write_parquet(self.docs_path, {"doc_id": [d for d, _ in self.docs],
                                        "text": [t for _, t in self.docs]})
        _write_parquet(self.bench_path, {"text": self.bench})

    def run_pass(self, spark, tr) -> dict:
        from ia_hadoop_tools_spark.operators.bpe import bpe_token_counts, bpe_train
        from ia_hadoop_tools_spark.operators.components import dedup_groups
        from ia_hadoop_tools_spark.operators.decontam import decontaminate
        from ia_hadoop_tools_spark.operators.quality import quality_filter
        from ia_hadoop_tools_spark.operators.sampling import pack_sequences, release_pack_cache
        from ia_hadoop_tools_spark.operators.textops import (
            dedup_exact_text,
            minhash_lsh_pairs,
        )

        docs = spark.read.parquet(self.docs_path)
        bench = spark.read.parquet(self.bench_path)
        res = {}
        t0 = time.perf_counter()
        with tr.span("curation", "phase"):
            kept = tr.layer("quality", lambda: docs.join(
                quality_filter(docs).filter("passes").select("doc_id"), "doc_id"))
            uniq = tr.layer("textops", lambda: dedup_exact_text(kept))
            pairs = tr.layer("textops", lambda: minhash_lsh_pairs(uniq))
            deduped = tr.layer("components", lambda: uniq.join(
                dedup_groups(uniq, pairs).filter("keep").select("doc_id"), "doc_id"))
            # the curated corpus feeds three consumers: persist it once,
            # as a pipeline author would
            clean = tr.layer("decontam", lambda: decontaminate(
                deduped, bench, n=DECONTAM_N).persist())
            merges = tr.layer("bpe", lambda: bpe_train(clean, num_merges=BPE_MERGES))
            counts = tr.layer("bpe", lambda: bpe_token_counts(
                clean, [(a, b) for a, b, _ in merges]))
            packed = tr.layer("sampling", lambda: pack_sequences(
                counts, budget=PACK_BUDGET, token_col="n_tokens"))
            rows = tr.layer("sampling", lambda: packed.select(
                "doc_id", "n_tokens", "bin").collect())
        res["chain_s"] = time.perf_counter() - t0
        if tr.enabled:
            res["hot_bucket_rows_dropped"] = (pairs.hot_bucket_obs.get.get("hot_band_rows")
                                              or 0)
        res["merges"] = len(merges)
        res["out_ids"] = sorted(r["doc_id"] for r in rows)
        release_pack_cache(packed)
        pairs.shingle_cache.unpersist()
        clean.unpersist()
        spark.catalog.clearCache()
        res["ops"] = 9
        return res

    def check(self, spark, passes: list[dict]) -> None:
        ctx = self.ctx
        text = dict(self.docs)
        first = passes[0]["out_ids"]
        for i, p in enumerate(passes[1:], 1):
            ctx.check(f"pass {i} curated set equals pass 0", p["out_ids"] == first,
                      f"{len(p['out_ids'])} vs {len(first)} docs")
        out = set(first)
        texts = [text[d] for d in first]
        ctx.check("no exact duplicate survives curation", len(set(texts)) == len(texts),
                  f"{len(texts) - len(set(texts))} duplicate texts in the output")
        bad = out & set(self.truth["quality_fail"])
        ctx.check("quality failures are dropped", not bad, f"{len(bad)} survived")
        bad = out & set(self.truth["contaminated"])
        ctx.check("contaminated docs are dropped", not bad, f"{len(bad)} survived")
        groups = self.truth["neardup_groups"]
        reduced = sum(1 for g in groups if len(out & set(g)) == 1)
        self.recall = reduced / len(groups)
        ctx.check("near-duplicate recall above floor", self.recall >= RECALL_FLOOR,
                  f"recall {self.recall:.3f} over {len(groups)} injected groups")

    def named(self, passes: list[dict]) -> dict:
        chain_s = median([p["chain_s"] for p in passes])
        return {
            "curation_docs_per_s": (N_DOCS / chain_s, "1/s"),
            "neardup_recall": (self.recall, "ratio"),
        }

    def ratios(self, out: dict, traced: list[dict]) -> None:
        out["bpe.jobs_per_merge"] = out["bpe.jobs"] / max(1, traced[-1]["merges"])
        out["textops.hot_bucket_rows_dropped"] = traced[-1]["hot_bucket_rows_dropped"]
