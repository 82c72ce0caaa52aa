"""Distributed URL-seen filter over sharded blooms (D1/D2 at scale).

The reference keeps an in-memory ``processed_links = set()`` per run
(fmkorea_politics.py:113,223-225,284). At a 10^10-URL frontier that set is a
partitioned, versioned structure instead:

- candidates get ``shard_id = pmod(url_hash, n_shards)``
- ``applyInPandas`` per shard loads that shard's bloom bytes (shipped in via
  a same-key join against the ``seen`` table — one shard row per group, no
  broadcast of the whole filter), marks members, emits survivors, and folds
  the round's keys into a fresh shard version (copy-on-write; monotonically
  increasing ``version``)

Probe and fold are one operator, :func:`probe_and_update`; every crawl mode
reads and writes the seen table through it. A caller that needs one half
only (the live-fetch crawl probes at select time and folds after the fetch
resolves) discards the other.

Input columns: probed and folded key frames are read as ``url_hash``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SEEN
from .bloom import BloomShard

DEFAULT_SHARDS = 64
DEFAULT_KEYS_PER_SHARD = 1 << 17  # sized generously for sandbox scales
DEFAULT_FPR = 0.001


def empty_seen(spark: SparkSession, n_shards: int = DEFAULT_SHARDS) -> DataFrame:
    shard = BloomShard.sized_for(DEFAULT_KEYS_PER_SHARD, DEFAULT_FPR)
    rows = [
        {"shard_id": i, "version": 0, "bloom": shard.to_bytes(), "n_keys": 0}
        for i in range(n_shards)
    ]
    return spark.createDataFrame(rows, schema=SEEN)


def with_shard(df: DataFrame, n_shards: int) -> DataFrame:
    return df.withColumn("shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))


def probe_and_update(
    cand_keys: DataFrame,
    list_keys: DataFrame,
    seen: DataFrame,
    n_shards: int,
) -> DataFrame:
    """FUSED probe + fold: ONE cogroup pass per round instead of two.

    Input: candidate url_hashes (probed against the previous bloom version;
    survivors are returned) and list-URL hashes (add-only — list pages are
    never revisited, so they skip the probe). Inside each shard group the
    bloom bytes deserialize ONCE; survivors are computed against the
    pre-update bits (identical semantics to probe-then-fold), then ALL keys
    fold in (adding an already-present key is a bloom no-op, so folding
    every candidate — not just survivors — changes nothing and removes the
    probe→fold data dependency).

    Output rows share one schema, discriminated by nullability: survivor
    rows carry ``url_hash`` (shard fields null), shard rows carry the new
    bloom (``url_hash`` null). Caller localCheckpoints the union once and
    splits it with two cheap filters — halving the per-round Python stage
    dispatch + bloom (de)serialization that previously gated the fixed
    round cost (BENCH_SCALING round-2 decomposition: t_seen ≈ 1.9 s of the
    ~3.1 s round floor at 8 cores).

    Returns the combined DataFrame, which must be materialized
    (localCheckpoint) before use; helper :func:`split_probe_update` then
    splits it into (survivors, new seen table).
    """
    keys = with_shard(
        cand_keys.select("url_hash").withColumn("is_cand", F.lit(True)).unionByName(
            list_keys.select("url_hash").withColumn("is_cand", F.lit(False))
        ),
        n_shards,
    )

    def _probe_fold(key, keys_pdf, seen_pdf):
        if len(seen_pdf) == 0:
            shard = BloomShard.sized_for(DEFAULT_KEYS_PER_SHARD, DEFAULT_FPR)
            version = 0
        else:
            shard = BloomShard.from_bytes(seen_pdf["bloom"].iloc[0])
            version = int(seen_pdf["version"].iloc[0])
        cand = keys_pdf.loc[keys_pdf["is_cand"], "url_hash"]
        if len(cand):
            mask = shard.contains(cand.to_numpy(dtype=np.int64))
            surv = cand[~mask]
        else:
            surv = cand
        if len(keys_pdf) == 0:
            new_bloom, new_version, nk = (
                (seen_pdf["bloom"].iloc[0], version, int(seen_pdf["n_keys"].iloc[0]))
                if len(seen_pdf)
                else (shard.to_bytes(), 0, 0)
            )
        else:
            shard.add(keys_pdf["url_hash"].to_numpy(dtype=np.int64))
            new_bloom, new_version, nk = shard.to_bytes(), version + 1, shard.n_keys
        # nullable Int64 arrays: a plain list with None would coerce to
        # float64 and corrupt 64-bit url_hash values past 2^53
        return pd.DataFrame(
            {
                "url_hash": pd.array(
                    list(surv.astype("int64")) + [None], dtype="Int64"
                ),
                "shard_id": pd.array(
                    [None] * len(surv) + [int(key[0])], dtype="Int32"
                ),
                "version": pd.array(
                    [None] * len(surv) + [new_version], dtype="Int64"
                ),
                "bloom": pd.Series([None] * len(surv) + [new_bloom], dtype="object"),
                "n_keys": pd.array([None] * len(surv) + [nk], dtype="Int64"),
            }
        )

    combined = (
        keys.groupBy("shard_id")
        .cogroup(seen.groupBy("shard_id"))
        .applyInPandas(
            _probe_fold,
            schema="url_hash long, shard_id int, version long, bloom binary, n_keys long",
        )
    )
    return combined


def split_probe_update(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a materialized probe_and_update output into (survivor url_hashes,
    new seen table)."""
    survivors = combined.filter(F.col("url_hash").isNotNull()).select("url_hash")
    new_seen = combined.filter(F.col("bloom").isNotNull()).select(
        "shard_id", "version", "bloom", "n_keys"
    )
    return survivors, new_seen

