"""Structured-Streaming surface for the engine (SURVEY.md §2.9).

The reference is pure batch on a 4×/day cron (crawler_schedule.py:373-376);
the SURVEY decision is batch-over-snapshots. This module provides the
equivalent streaming entry points for deployments that prefer them:

- ``stream_extract``: readStream over a pages directory → stateless
  extraction (same E1-E11 UDF) → parquet sink with checkpointing,
  ``Trigger.AvailableNow`` = the reference's "run now, drain, stop" cadence.
- ``stream_hourly_rollup``: event-time windowed aggregation with watermark
  (the A2 metrics rollup as a stream; late data bounded by the watermark).

Input columns: pages directories hold the ``PAGES`` schema, docs
directories ``DOCS_DDL`` (deduped on ``text``); rollup events are read as
``ts``, ``event_type`` and ``value``, fetch events as ``host`` and ``ts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import site_expr, with_extraction
from ..schemas import PAGES


def stream_extract(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Extract every detail page arriving in ``pages_dir`` (parquet files),
    draining what is there and stopping (``Trigger.AvailableNow``).

    Returns the StreamingQuery; caller awaits termination. Stateless map —
    scales with input files, no state store.
    """
    src = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_dir)
    )
    detail = src.filter(F.col("text") != "").withColumn(
        "site", site_expr(F.parse_url(F.col("url"), F.lit("HOST")))
    )
    out = with_extraction(detail).select(
        "url", "warc_ts", "site", "content", "images", "status"
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_hourly_rollup(events: DataFrame) -> DataFrame:
    """Hourly rollup with a one-hour watermark (works on a streaming or
    batch frame)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "total_value")
    )


# Custom STATEFUL operator: per-host crawl-rate sessionization. The
# reference's per-site serial loop implicitly sessionizes fetches (one site
# at a time, sleeps between); partition-parallel crawling needs the same
# signal — "how hot is this host right now" — as an explicit stateful
# stream over fetch events, keyed by host, with arbitrary session state
# (applyInPandasWithState; no built-in aggregation expresses gap-based
# sessions with running state across micro-batches).
HOST_SESSION_OUT = (
    "host string, session_start double, session_end double, "
    "n_fetches long, closed boolean"
)
_HOST_SESSION_STATE = "start double, last double, n long"
# A quiet gap longer than this (seconds) closes a host's fetch session.
SESSION_GAP_S = 600.0


def host_fetch_sessions(fetches: DataFrame) -> DataFrame:
    """Gap-based per-host fetch sessions over a STREAMING frame of
    ``(host string, ts timestamp)`` rows.

    Emits one row per closed session (``closed=true``; a quiet gap longer
    than ``SESSION_GAP_S`` ended it) plus an open-session snapshot per host per
    micro-batch (``closed=false`` — the live crawl-rate view). State (one
    tiny tuple per host) persists in the state store across micro-batches,
    so session counts span batch boundaries — the property the test pins.

    Scale: state is O(#hosts in the trigger), shuffled once on the group
    key; Arrow-batched like every other Python stage in this engine.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        host = key[0]
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        rows = []
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(float(t.timestamp()) for t in pdf["ts"])
        for tt in sorted(ts_all):
            if last is not None and tt - last > SESSION_GAP_S:
                rows.append((host, start, last, n, True))
                start, n = tt, 0
            if start is None:
                start = tt
            n += 1
            last = tt
        if start is not None:
            state.update((start, last, n))
            rows.append((host, start, last, n, False))  # open-session snapshot
        yield pd.DataFrame(
            rows,
            columns=["host", "session_start", "session_end", "n_fetches", "closed"],
        )

    return fetches.groupBy("host").applyInPandasWithState(
        fn,
        outputStructType=HOST_SESSION_OUT,
        stateStructType=_HOST_SESSION_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"


def stream_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Incremental exact dedup over a GROWING corpus directory
    (``DOCS_DDL`` parquet files, drained per ``Trigger.AvailableNow``):
    emit each document whose content digest has never been seen in any
    prior micro-batch OR any prior run — the streaming form of
    ``operators.dedup.exact_dedup`` for continuous ingestion (new crawl
    drops land as files; only never-before-seen docs flow to the sink).

    Cross-run continuity is the state store + checkpoint: restarting with
    the same ``checkpoint_dir`` restores the seen-digest state exactly
    once (the same guarantee the batch path gets from
    ``sinks/upsert.py`` + ``streaming/cadence.py`` ``initial_seen``,
    reference cross-run dedup: crawler_schedule.py:150-179).

    Scale: ``dropDuplicates`` keeps one state row per DISTINCT digest —
    the key is the fixed-width 32-char md5 (same digest convention as the
    batch operator so the two paths agree), never the text, so state is
    ~60 B/distinct doc and partitioned by the state store across
    executors. State grows with corpus cardinality by design (global
    dedup has irreducible memory); for bounded-lateness dedup use
    ``dropDuplicatesWithinWatermark`` instead.

    Returns the StreamingQuery; caller awaits termination.
    """
    src = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(docs_dir)
    )
    deduped = src.withColumn("_digest", F.md5(F.col("text"))).dropDuplicates(
        ["_digest"]
    ).drop("_digest")
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
