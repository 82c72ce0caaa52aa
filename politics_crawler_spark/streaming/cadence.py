"""Streaming-driven crawl cadence — P11 as an ENGINE surface.

The reference schedules 4 crawls/day from an external cron loop
(crawler_schedule.py:373-399: a sleep-poll over wall-clock fire times that
then runs every crawler serially). Round 3 mapped that to "call job.py from
cron"; this module makes the cadence engine-native with Structured
Streaming:

- a TICK DIRECTORY is the schedule: the scheduler (cron, an operator, a
  test) drops one small text file per requested run, optionally containing
  the run_date (``YYYY-MM-DD``; empty file = config default). This is the
  streaming analog of the reference's fire-time list.
- ``crawl_cadence`` reads the tick dir as a file stream with
  ``maxFilesPerTrigger=1`` — each tick file becomes its OWN micro-batch —
  and ``foreachBatch`` runs one full crawl per batch. Under
  ``Trigger.AvailableNow`` the query drains all pending ticks then stops
  (the reference's "run now, finish, exit" shape); the fire times come
  from whatever starts it, as cron supplies the reference's
  (crawler_schedule.py:373-376).
- the stream CHECKPOINT makes ticks exactly-once across restarts: a
  processed tick file is never re-run, an unprocessed one survives a
  crash. A retried batch (crash mid-crawl) reruns against the same prior
  seen state and overwrites the same run dirs — deterministic, so the
  retry converges.

Cross-run continuity (D3): each run loads the previous run's sharded
bloom table and passes it to ``run_crawl(initial_seen=...)``; URLs
extracted by ANY earlier run stay dropped. Run artifacts land under
``state_dir``::

    state_dir/extracted/run=<k>/   one parquet dir per completed run
    state_dir/seen/v<k>/           the bloom table AFTER run k
    state_dir/state.json           {"last_run": k, "n_shards": n}

state.json is published atomically (``plans.crawl.publish_json``: write +
rename) AFTER the run's parquet is durable, so a crash between writes is
invisible to the next tick — the same commit the in-run round checkpoint
makes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..plans.crawl import CrawlResult, publish_json, read_json, run_crawl


def crawl_tick(
    spark: SparkSession,
    state_dir: str,
    pages=None,
    fetcher=None,
    run_id: int | None = None,
    run_date: str | None = None,
    n_shards: int = 16,
    **crawl_kw,
) -> dict:
    """One scheduled crawl run with cross-run seen continuity.

    Loads the latest committed seen table from ``state_dir`` (if any),
    crawls, writes ``extracted/run=<k>`` + ``seen/v<k>``, then atomically
    publishes ``state.json``. Returns ``{"run": k, "extracted": n}``.
    Idempotent per ``run_id``: a retry recomputes from the same prior seen
    version and overwrites the same dirs.
    """
    os.makedirs(state_dir, exist_ok=True)
    st = read_json(state_dir)
    if st is not None and st["n_shards"] != n_shards:
        raise ValueError(
            f"seen table sharded {st['n_shards']}-way; got n_shards={n_shards}"
        )
    k = run_id if run_id is not None else (0 if st is None else st["last_run"] + 1)
    # seen version to build on: strictly the one BEFORE this run — never
    # st.last_run blindly, which after a crash between state.json and the
    # stream-checkpoint commit would be run k's OWN output (the replayed
    # batch would then see all its urls as duplicates and write an empty
    # run). Replays therefore always recompute from the same input state.
    prev = k - 1
    initial_seen = None
    if prev >= 0 and os.path.isdir(os.path.join(state_dir, f"seen/v{prev}")):
        initial_seen = spark.read.parquet(os.path.join(state_dir, f"seen/v{prev}"))

    kw = dict(crawl_kw)
    if run_date:
        kw["run_date"] = run_date
    res: CrawlResult = run_crawl(
        spark, pages, fetcher=fetcher, n_shards=n_shards,
        initial_seen=initial_seen, **kw,
    )
    out_dir = os.path.join(state_dir, f"extracted/run={k}")
    res.extracted.write.mode("overwrite").parquet(out_dir)
    res.seen.write.mode("overwrite").parquet(os.path.join(state_dir, f"seen/v{k}"))
    # the written row count, from the METRICS rows the write resolved
    n = sum(r["n_out"] for r in res.metric_rows() if r["stage"] == "extract")
    for c in res.caches:
        c.unpersist()
    publish_json(state_dir, {"last_run": k, "n_shards": n_shards})
    return {"run": k, "extracted": n}


def crawl_cadence(
    spark: SparkSession,
    tick_dir: str,
    checkpoint_dir: str,
    state_dir: str,
    pages=None,
    fetcher=None,
    n_shards: int = 16,
    **crawl_kw,
):
    """Start the cadence stream: one crawl per pending tick file, then
    stop. Returns the StreamingQuery; the caller awaits its termination.
    ``batch_id`` keys the run dirs, so stream-checkpoint replay after
    a crash rewrites the same run deterministically instead of forking."""
    os.makedirs(tick_dir, exist_ok=True)
    src = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)  # one tick file == one run
        .load(tick_dir)
    )

    def _run_batch(batch_df, batch_id: int):
        lines = [r.value.strip() for r in batch_df.collect() if r.value.strip()]
        kw = dict(crawl_kw)
        # a date in the tick file wins over the cadence-level default; the
        # pop must be UNCONDITIONAL — short-circuiting it behind the tick
        # date would leave run_date in kw and crash crawl_tick with a
        # duplicate keyword whenever the tick file is non-empty (ADVICE r4)
        default_rd = kw.pop("run_date", None)
        run_date = (lines[0] if lines else None) or default_rd
        crawl_tick(
            spark, state_dir, pages=pages, fetcher=fetcher,
            run_id=int(batch_id), run_date=run_date, n_shards=n_shards,
            **kw,
        )

    return (
        src.writeStream.foreachBatch(_run_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
