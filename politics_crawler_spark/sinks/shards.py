"""Shard-layout sink: materialize the token-budget shard assignment
(`operators/curation.py::token_budget_shards`) as the on-disk layout a
pre-training data loader actually consumes — one directory per shard,
JSONL records inside (the interchange format of published LLM data
recipes: The Pile, Dolma, RedPajama all ship JSONL shards).

Scale notes (100 TB):
- The write is `partitionBy(shard_id)` — Spark's native dynamic-partition
  write. One shuffle keyed by the long `shard_id` routes each document to
  its shard's writer; no driver-side loop over shards, no collect.
- `repartition(defaultParallelism, shard_id)` before the write hashes
  each shard's rows to one task, so each shard directory holds ONE file
  (what a data loader wants) instead of one fragment per upstream
  partition, and the shards are written by one writer per core. The
  explicit partition count matters: a bare `repartition(shard_id)` lets
  AQE coalesce a small write to a single task.
  shard_id is derived from a running token sum, so shard populations are
  near-uniform by construction (≈ budget tokens each) — the repartition
  cannot skew.
- Documents larger than the budget land in their own shard (the
  assignment's floor semantics); the sink never splits a document.

Input columns: documents are read as ``doc_id`` (a long) and ``text``.

The reference appends rows to flat per-site CSVs
(crawler_schedule.py:150-179); a partitioned training-shard layout is
engine-added surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.curation import token_budget_shards


def write_jsonl_shards(df: DataFrame, out_dir: str, budget: int = 2000) -> DataFrame:
    """Assign token-budget shards and write `out_dir/shard_id=N/*.json`
    (JSONL: one record per line with id, token count, and text).

    Returns the per-shard audit table (shard_id, n_docs, shard_tokens) —
    what an operator inspects before launching a training run.
    """
    # Two cuts, so the input plan runs once. `docs` (id, text) feeds both
    # the assignment and the write: joining the assignment back to `df`
    # itself would re-run all of `df` in the write (for a curation plan,
    # its dedup anti-join and decontamination join). `assign` feeds both the
    # write and the audit aggregation; its rows are fixed-width (id,
    # n_tokens, shard_id). The blocks free with the returned audit frame.
    docs = df.select("doc_id", "text").localCheckpoint(eager=True)
    assign = token_budget_shards(docs, budget=budget).localCheckpoint(eager=True)
    rows = docs.join(assign, "doc_id")
    (
        rows.repartition(df.sparkSession.sparkContext.defaultParallelism, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .json(out_dir)
    )
    return (
        assign.groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
        )
        .orderBy("shard_id")
    )

