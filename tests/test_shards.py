"""JSONL shard sink (sinks/shards.py): layout, budget accounting, and
round-trip fidelity of the token-budget shard materialization."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def read_jsonl_shards(spark, out_dir: str):
    """Read the layout back (partition column `shard_id` is recovered
    from the directory names)."""
    return spark.read.json(out_dir)


def test_write_jsonl_shards_layout_and_budget(spark, tmp_path):
    from politics_crawler_spark.sinks.shards import write_jsonl_shards

    # 240 docs x 10 tokens = 2400 tokens over three 100-doc prefix-sum
    # buckets; budget 600 -> 4 shards of 60 docs
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(10))) for i in range(240)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    audit = write_jsonl_shards(d, out, budget=600)

    a = {r["shard_id"]: r for r in audit.collect()}
    assert sorted(a) == [0, 1, 2, 3]
    assert all(a[s]["n_docs"] == 60 and a[s]["shard_tokens"] == 600 for s in a)

    # one directory per shard, ONE data file per shard (repartition by id)
    dirs = sorted(
        p for p in os.listdir(out) if p.startswith("shard_id=")
    )
    assert dirs == ["shard_id=0", "shard_id=1", "shard_id=2", "shard_id=3"]
    for sd in dirs:
        files = [
            f
            for f in glob.glob(os.path.join(out, sd, "part-*"))
            if not f.endswith(".crc")
        ]
        assert len(files) == 1

    # round trip: every doc back, in its assigned shard, text intact
    back = read_jsonl_shards(spark, out)
    assert back.count() == 240
    assert back.select("doc_id").distinct().count() == 240
    orig = d.withColumnRenamed("text", "orig_text")
    j = back.join(orig, "doc_id")
    assert j.filter(F.col("text") != F.col("orig_text")).count() == 0
    # shard membership matches the floor(running_total/budget) contract
    got = {r["doc_id"]: r["shard_id"] for r in back.collect()}
    assert all(got[i] == i // 60 for i in range(240))


def test_write_jsonl_shards_oversized_doc_gets_own_shard(spark, tmp_path):
    from politics_crawler_spark.sinks.shards import write_jsonl_shards

    # doc 100 alone exceeds the budget; it must not be split and later
    # docs start new shards after it (one doc per 100-doc bucket)
    rows = [
        (0, "a b c"),                                 # 3 tokens -> shard 0
        (100, " ".join(f"x{k}" for k in range(25))),  # 25 tokens, budget 10
        (200, "d e f"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    audit = write_jsonl_shards(d, str(tmp_path / "s"), budget=10)
    a = {r["shard_id"]: r for r in audit.collect()}
    # offsets: doc0 starts 0 -> shard 0; doc100 starts 3 -> shard 0 (floor
    # 3/10); doc200 starts 28 -> shard 2
    assert a[0]["n_docs"] == 2 and a[0]["shard_tokens"] == 28
    assert a[2]["n_docs"] == 1 and a[2]["shard_tokens"] == 3


def test_write_jsonl_shards_runs_input_once(spark, tmp_path):
    """The input plan executes once: the assignment and the write share
    one materialized (id, text) cut instead of each re-running `df`."""
    from pyspark.sql.types import StringType

    from politics_crawler_spark.sinks.shards import write_jsonl_shards

    evals = spark.sparkContext.accumulator(0)

    def tap(text):
        evals.add(1)
        return text

    tap_udf = F.udf(tap, StringType()).asNondeterministic()
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(10))) for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", tap_udf("text").alias("text")
    )
    audit = write_jsonl_shards(d, str(tmp_path / "s"), budget=100)
    assert sum(r["n_docs"] for r in audit.collect()) == 40
    assert evals.value == 40


def test_write_jsonl_shards_one_writer_per_core(spark, tmp_path):
    """With more shards than cores the write still leaves ONE part file per
    shard directory, and it runs as defaultParallelism tasks: hashing
    shard_id into an explicit partition count keeps AQE from coalescing a
    small write onto a single task."""
    from politics_crawler_spark.sinks.shards import write_jsonl_shards

    sc = spark.sparkContext
    n_shards = 3 * sc.defaultParallelism
    rows = [(i, " ".join(f"w{i}t{j}" for j in range(10))) for i in range(10 * n_shards)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "shards")
    sc.setJobGroup("shard_write", "shard_write")
    try:
        audit = write_jsonl_shards(d, out, budget=100)
    finally:
        sc.setJobGroup("", "")
    assert [r["n_docs"] for r in audit.collect()] == [10] * n_shards

    dirs = sorted(p for p in os.listdir(out) if p.startswith("shard_id="))
    assert len(dirs) == n_shards
    for sd in dirs:
        assert len(glob.glob(os.path.join(out, sd, "part-*.json"))) == 1, sd

    # the write is the group's last job; its result stage is the writers
    st = sc.statusTracker()
    write_job = max(st.getJobIdsForGroup("shard_write"))
    stages = map(st.getStageInfo, st.getJobInfo(write_job).stageIds)
    tasks = [s.numTasks for s in stages if s is not None]
    assert max(tasks) == sc.defaultParallelism, tasks
