"""Workload ``curate``: the training-data tier's read-then-write path.

One pass takes synthetic documents through the C4 gate → MinHash near-dup
collapse → benchmark decontamination (token 8-grams against the
``doc_id % 19`` eval slice, left-anti) → token-budget JSONL shards. It
uses no crawl layer.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import numpy as np
from pyspark.sql import functions as F

from politics_crawler_spark.operators import dedup as dedup_mod
from politics_crawler_spark.operators.curation import contaminated_ids, token_budget_shards
from politics_crawler_spark.operators.webquality import c4_filter
from politics_crawler_spark.sinks.shards import write_jsonl_shards
from tools.gen_sf_measure import gen_documents

SIZES = {"full": {"docs": 2_000}, "smoke": {"docs": 300}}
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"
BUDGET = 2000
EVAL_MOD = 19
NGRAM = 8
DEDUP_THRESHOLD = 0.5
# Spark's regexp \w is ASCII-only; the generated corpus is ASCII
_WORD = re.compile(r"[A-Za-z0-9_]+")

# the cascade inside minhash_dedup, in order, with the metrics each feeds
DEDUP_STEPS = ("minhash_signatures", "lsh_candidate_pairs", "sig_jaccard_refine",
               "exact_jaccard_verify", "connected_min_reps")
DEDUP_METRICS = (
    "operators.dedup.signatures_s", "operators.dedup.lsh_s",
    "operators.dedup.candidate_pairs", "operators.dedup.refine_s",
    "operators.dedup.refined_pairs", "operators.dedup.verify_s",
    "operators.dedup.verified_pairs", "operators.dedup.components_s",
    "operators.dedup.pair_precision", "operators.dedup.dropped",
)


def read_shards(out_dir: str) -> list[dict]:
    recs = []
    for path in glob.glob(os.path.join(out_dir, "shard_id=*", "*.json")):
        with open(path) as f:
            recs.extend(json.loads(line) for line in f if line.strip())
    return recs


class Curate:
    name = "curate"
    setup_metric = None  # gen_documents has no per-layer metric

    def __init__(self, spark, seed: int, n_docs: int, workdir: str):
        self.spark, self.seed, self.n_docs = spark, seed, n_docs
        self.out_dir = os.path.join(workdir, "shards")
        self.docs = None
        self.first: dict | None = None
        self.expected: dict | None = None

    @classmethod
    def sized(cls, spark, seed, size, workdir):
        return cls(spark, seed, SIZES[size]["docs"], workdir)

    def setup(self) -> None:
        if self.docs is not None:
            self.docs.unpersist()
        table = gen_documents(np.random.default_rng(self.seed), self.n_docs)
        self.docs = self.spark.createDataFrame(table.to_pandas(), DOCS_SCHEMA).persist()
        self.docs.count()

    def evalset(self):
        return self.docs.filter(F.col("doc_id") % EVAL_MOD == 0)

    def prepare(self) -> None:
        pass  # the shard write overwrites

    def run_pass(self) -> dict:
        kept = c4_filter(self.docs)
        deduped = dedup_mod.minhash_dedup(kept, threshold=DEDUP_THRESHOLD)
        flagged = contaminated_ids(deduped, self.evalset(), n=NGRAM)
        clean = deduped.join(F.broadcast(flagged), "doc_id", "left_anti")
        audit = write_jsonl_shards(clean, self.out_dir, budget=BUDGET).collect()
        return {
            "shards": len(audit),
            "docs": sum(r["n_docs"] for r in audit),
            "tokens": sum(r["shard_tokens"] for r in audit),
        }

    def items(self, out: dict) -> int:
        return self.n_docs

    def _expected_counts(self) -> dict:
        """Per-stage counts from separate, materialized jobs — computed once
        per run, outside any timed pass."""
        kept = c4_filter(self.docs).localCheckpoint(eager=True)
        deduped = dedup_mod.minhash_dedup(kept, threshold=DEDUP_THRESHOLD).localCheckpoint(eager=True)
        n_kept, n_dedup = kept.count(), deduped.count()
        n_flagged = contaminated_ids(deduped, self.evalset(), n=NGRAM).count()
        return {
            "c4_dropped": self.n_docs - n_kept,
            "dup_dropped": n_kept - n_dedup,
            "contaminated": n_flagged,
        }

    def check(self, out: dict) -> list[str]:
        """Docs in = C4-dropped + dup-dropped + contaminated + written; the
        audit's token sum equals the survivors' tokens counted here; the
        survivor set is identical across passes."""
        recs = read_shards(self.out_dir)
        ids = sorted(r["doc_id"] for r in recs)
        tokens = sum(len(_WORD.findall(r["text"])) for r in recs)
        digest = hashlib.sha1(np.asarray(ids, dtype=np.int64).tobytes()).hexdigest()
        errs = []
        if self.n_docs and not recs:
            errs.append("no documents written")
        if len(ids) != out["docs"] or len(set(ids)) != len(ids):
            errs.append(f"audit says {out['docs']} docs; shards hold {len(ids)} "
                        f"records, {len(set(ids))} distinct")
        if tokens != out["tokens"]:
            errs.append(f"audit tokens {out['tokens']} != survivors' tokens {tokens}")
        if self.expected is None:
            self.expected = self._expected_counts()
        accounted = sum(self.expected.values()) + len(ids)
        if accounted != self.n_docs:
            errs.append(f"docs in {self.n_docs} != {self.expected} + written {len(ids)}")
        if self.first is None:
            self.first = {"digest": digest, **out}
        elif digest != self.first["digest"]:
            errs.append("survivor set differs from the first pass")
        return errs

    # -- traced path ---------------------------------------------------------

    def traced_pass(self, tracer) -> tuple[float, dict, dict]:
        """The pipeline as separately materialized stages, each in its own
        span, with the dedup cascade called step by step. Returns (wall,
        out, metrics); the written shards are checked like an untraced pass."""
        m: dict = {}

        def stage(name, df):
            with tracer.span(name) as sp:
                df = df.localCheckpoint(eager=True)
            return df, sp["end"] - sp["start"]

        with tracer.span("perfbench.curate") as top:
            kept, m["operators.webquality.c4_s"] = stage(
                "operators.webquality.c4_filter", c4_filter(self.docs))
            n_kept = kept.count()
            m["operators.webquality.kept_ratio"] = n_kept / self.n_docs if self.n_docs else 0.0
            if all(hasattr(dedup_mod, f) for f in DEDUP_STEPS):
                deduped = self._traced_dedup(kept, stage, m)
            else:
                deduped, _ = stage("operators.dedup.minhash_dedup",
                                   dedup_mod.minhash_dedup(kept, threshold=DEDUP_THRESHOLD))
            flagged, m["operators.curation.decontam_s"] = stage(
                "operators.curation.contaminated_ids",
                contaminated_ids(deduped, self.evalset(), n=NGRAM))
            m["operators.curation.flagged"] = flagged.count()
            clean = deduped.join(F.broadcast(flagged), "doc_id", "left_anti")
            _, m["operators.curation.shard_assign_s"] = stage(
                "operators.curation.token_budget_shards",
                token_budget_shards(clean, budget=BUDGET))
            with tracer.span("sinks.shards.write_jsonl_shards") as sp:
                audit = write_jsonl_shards(clean, self.out_dir, budget=BUDGET).collect()
            m["sinks.shards.write_s"] = sp["end"] - sp["start"]
        files = glob.glob(os.path.join(self.out_dir, "shard_id=*", "*.json"))
        m["sinks.shards.files"] = len(files)
        m["sinks.shards.bytes_written"] = sum(os.path.getsize(f) for f in files)
        out = {
            "shards": len(audit),
            "docs": sum(r["n_docs"] for r in audit),
            "tokens": sum(r["shard_tokens"] for r in audit),
        }
        return top["end"] - top["start"], out, m

    def _traced_dedup(self, kept, stage, m):
        d = dedup_mod
        sigs, m["operators.dedup.signatures_s"] = stage(
            "operators.dedup.minhash_signatures", d.minhash_signatures(kept))
        cands, m["operators.dedup.lsh_s"] = stage(
            "operators.dedup.lsh_candidate_pairs", d.lsh_candidate_pairs(sigs, est_threshold=0.0))
        refined, m["operators.dedup.refine_s"] = stage(
            "operators.dedup.sig_jaccard_refine",
            d.sig_jaccard_refine(cands, sigs, min_est=DEDUP_THRESHOLD * 0.7))
        verified, m["operators.dedup.verify_s"] = stage(
            "operators.dedup.exact_jaccard_verify",
            d.exact_jaccard_verify(refined, kept, threshold=DEDUP_THRESHOLD))
        reps, m["operators.dedup.components_s"] = stage(
            "operators.dedup.connected_min_reps", d.connected_min_reps(verified))
        n_cand = cands.count()
        m["operators.dedup.candidate_pairs"] = n_cand
        m["operators.dedup.refined_pairs"] = refined.count()
        m["operators.dedup.verified_pairs"] = n_ver = verified.count()
        m["operators.dedup.pair_precision"] = n_ver / n_cand if n_cand else 0.0
        dropped = reps.filter(F.col("rep") < F.col("node")).select(F.col("node").alias("doc_id"))
        m["operators.dedup.dropped"] = dropped.count()
        return kept.join(dropped, "doc_id", "left_anti").localCheckpoint(eager=True)

    def probes(self, tracer) -> tuple[dict, list[str]]:
        """Every curation layer already has its own span in traced_pass;
        the dedup steps are absent when the engine no longer has them."""
        if all(hasattr(dedup_mod, f) for f in DEDUP_STEPS):
            return {}, []
        return {}, list(DEDUP_METRICS)
