"""Structured-Streaming surface tests (AvailableNow drain + watermark agg)."""

from pyspark.sql import functions as F

from politics_crawler_spark.streaming.micro_batch import (
    stream_extract,
    stream_hourly_rollup,
)


def test_stream_extract_available_now(spark, pages_pdf, tmp_path):
    from politics_crawler_spark.schemas import PAGES

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "pages_out")
    ck = str(tmp_path / "ck")
    sample = pages_pdf.head(300)
    spark.createDataFrame(sample, schema=PAGES).write.parquet(src)

    q = stream_extract(spark, src, out, ck)
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    n_detail = int((sample["text"] != "").sum())
    assert got.count() == n_detail
    # streaming path produces the same byte-identical content
    exp = spark.createDataFrame(sample[["url", "text"]])
    j = got.join(exp, on="url")
    assert j.filter(F.col("content") != F.col("text")).count() == 0


def test_host_fetch_sessions_stateful_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionization: per-host state must persist
    across micro-batches (host A's count spans two files), and an in-batch
    quiet gap must close a session (host B)."""
    import datetime as dt
    import time

    from politics_crawler_spark.streaming.micro_batch import (
        HOST_SESSION_OUT,
        host_fetch_sessions,
    )

    src = str(tmp_path / "fetches")
    base = dt.datetime(2024, 1, 1, 10, 0)
    sec = dt.timedelta(seconds=1)

    # file 1: host A burst 1 (3 fetches), host B burst + gap-closed burst
    f1 = [("a.com", base + i * sec) for i in range(3)] + [
        ("b.com", base + i * sec) for i in range(2)
    ] + [("b.com", base + dt.timedelta(seconds=5000) + i * sec) for i in range(4)]
    # file 2: host A burst 2, within gap of burst 1's end
    f2 = [("a.com", base + dt.timedelta(seconds=10) + i * sec) for i in range(5)]
    schema = "host string, ts timestamp"
    spark.createDataFrame(f1, schema).coalesce(1).write.parquet(src)
    time.sleep(1.1)  # distinct mtimes → deterministic file order
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        host_fetch_sessions(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM sessions").collect()

    # host B: one CLOSED session (gap 5000s > 600s) with 2 fetches
    closed_b = [r for r in rows if r.host == "b.com" and r.closed]
    assert len(closed_b) == 1 and closed_b[0].n_fetches == 2

    # host A: the LAST open snapshot counts fetches from BOTH files — the
    # state store carried (start, last, n) across micro-batches
    open_a = [r for r in rows if r.host == "a.com" and not r.closed]
    assert max(r.n_fetches for r in open_a) == 8
    # and its session_start is file 1's first fetch
    last_a = max(open_a, key=lambda r: r.n_fetches)
    assert last_a.session_start == base.timestamp()


def test_stream_hourly_rollup_batch_parity(spark):
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 10, 5), "click", 1.0),
        (dt.datetime(2024, 1, 1, 10, 55), "click", 2.0),
        (dt.datetime(2024, 1, 1, 11, 5), "view", 3.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = {(r.hour, r.event_type): (r.n, r.total_value)
           for r in stream_hourly_rollup(df).collect()}
    assert out[(dt.datetime(2024, 1, 1, 10, 0), "click")] == (2, 3.0)
    assert out[(dt.datetime(2024, 1, 1, 11, 0), "view")] == (1, 3.0)


# ---------------------------------------------------------------------------
# P11 engine-native: streaming-driven crawl cadence (round-4 item)
# ---------------------------------------------------------------------------

def test_crawl_cadence_two_ticks_cross_run_seen(spark, pages_df, tmp_path):
    """Two tick files -> two micro-batches -> two full crawl runs. Run 0
    extracts the snapshot's fresh posts; run 1 (same snapshot, same date)
    must extract ZERO rows because the previous run's bloom table carries
    over (D3 cross-run continuity). A restarted stream with no new ticks
    runs nothing (stream checkpoint = exactly-once ticks); a third tick
    after restart fires exactly one more (still-empty) run."""
    import pathlib

    from politics_crawler_spark.streaming.cadence import crawl_cadence

    tick = tmp_path / "ticks"
    ck = str(tmp_path / "ck")
    state = str(tmp_path / "state")
    tick.mkdir()
    (tick / "t0.txt").write_text("")
    (tick / "t1.txt").write_text("")

    q = crawl_cadence(spark, str(tick), ck, state, pages=pages_df, n_shards=8)
    assert q.awaitTermination(300)

    runs = sorted(pathlib.Path(state, "extracted").glob("run=*"))
    assert [p.name for p in runs] == ["run=0", "run=1"]
    n0 = spark.read.parquet(str(runs[0])).count()
    n1 = spark.read.parquet(str(runs[1])).count()
    assert n0 > 0 and n1 == 0
    import json

    st = json.loads(pathlib.Path(state, "state.json").read_text())
    assert st["last_run"] == 1
    assert pathlib.Path(state, "seen/v1").is_dir()

    # restart with no new ticks: nothing re-runs
    q2 = crawl_cadence(spark, str(tick), ck, state, pages=pages_df, n_shards=8)
    assert q2.awaitTermination(120)
    assert sorted(p.name for p in pathlib.Path(state, "extracted").glob("run=*")) \
        == ["run=0", "run=1"]

    # a new tick fires exactly one more run, still fully deduped
    (tick / "t2.txt").write_text("")
    q3 = crawl_cadence(spark, str(tick), ck, state, pages=pages_df, n_shards=8)
    assert q3.awaitTermination(300)
    assert spark.read.parquet(str(pathlib.Path(state, "extracted/run=2"))).count() == 0


def test_crawl_cadence_dated_tick_overrides_default(spark, pages_df, tmp_path):
    """A date INSIDE the tick file must win over the cadence-level
    run_date default (ADVICE r4: the short-circuited pop left run_date in
    the kwargs and crashed crawl_tick with a duplicate keyword on every
    non-empty tick file — only empty ticks were tested). The cadence gets
    a default date that matches nothing in the snapshot; the tick carries
    the snapshot's real date, so rows extracted proves the tick date won
    AND the call survived."""
    import pathlib

    from politics_crawler_spark.config import RUN_DATE
    from politics_crawler_spark.streaming.cadence import crawl_cadence

    tick = tmp_path / "ticks"
    tick.mkdir()
    (tick / "t0.txt").write_text(RUN_DATE + "\n")

    q = crawl_cadence(
        spark, str(tick), str(tmp_path / "ck"), str(tmp_path / "state"),
        pages=pages_df, n_shards=8, run_date="1999-01-01",
    )
    assert q.awaitTermination(300)
    n = spark.read.parquet(str(pathlib.Path(tmp_path, "state/extracted/run=0"))).count()
    assert n > 0  # default date would have matched zero pages


def test_crawl_cadence_processing_time_trigger(spark, pages_df, tmp_path):
    """The long-running mode (processing-time trigger) must fire a crawl
    when a tick lands, without the stream terminating (VERDICT r4 #5: only
    Trigger.AvailableNow was exercised)."""
    import pathlib
    import time

    from politics_crawler_spark.streaming.cadence import crawl_cadence

    tick = tmp_path / "ticks"
    tick.mkdir()
    (tick / "t0.txt").write_text("")

    q = crawl_cadence(
        spark, str(tick), str(tmp_path / "ck"), str(tmp_path / "state"),
        pages=pages_df, n_shards=8,
        available_now=False, processing_interval="500 milliseconds",
    )
    try:
        state_json = pathlib.Path(tmp_path, "state/state.json")
        deadline = time.time() + 240
        while time.time() < deadline and not state_json.exists():
            if q.exception():
                raise q.exception()
            time.sleep(0.5)
        assert state_json.exists(), "processing-time trigger never ran the tick"
        assert q.isActive  # the stream stays up after the batch
        n = spark.read.parquet(
            str(pathlib.Path(tmp_path, "state/extracted/run=0"))
        ).count()
        assert n > 0
    finally:
        q.stop()


def test_job_ticks_drain_with_zero_ticks(tmp_path, capsys):
    """--ticks with an empty tick dir must report an empty run, not crash
    on the missing state.json (ADVICE r4)."""
    import json

    from politics_crawler_spark import job

    tick = tmp_path / "ticks"
    tick.mkdir()
    job.main([
        "--pages", "synthetic:200",
        "--out", str(tmp_path / "out"),
        "--ticks", str(tick),
    ])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line) == {"last_run": None}


def test_stream_exact_dedup_cross_batch_and_cross_run(spark, tmp_path):
    """Incremental exact dedup: duplicates are suppressed WITHIN a run's
    batches and ACROSS runs (state restored from checkpoint), and only
    never-before-seen docs reach the sink on the second run."""
    from politics_crawler_spark.streaming.micro_batch import (
        DOCS_DDL,
        stream_exact_dedup,
    )

    src = str(tmp_path / "docs_in")
    out = str(tmp_path / "docs_out")
    ck = str(tmp_path / "ck")

    def docs(rows):
        return spark.createDataFrame(rows, DOCS_DDL)

    # run 1: 10 docs, two of which are exact-text duplicates of others
    batch1 = [(i, f"text {i % 8}", "en", "s0", 6) for i in range(10)]
    docs(batch1).write.parquet(src)
    q = stream_exact_dedup(spark, src, out, ck)
    q.awaitTermination(300)
    got1 = spark.read.parquet(out)
    assert got1.count() == 8  # texts 'text 0'..'text 7' once each
    assert got1.select("text").distinct().count() == 8

    # run 2: a new file with 3 re-crawled duplicates + 4 new docs
    batch2 = [(100 + i, f"text {i}", "en", "s1", 6) for i in range(3)] + [
        (200 + i, f"fresh {i}", "en", "s1", 7) for i in range(4)
    ]
    docs(batch2).write.mode("append").parquet(src)
    q2 = stream_exact_dedup(spark, src, out, ck)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(out)
    # only the 4 fresh docs were appended; cross-run state killed the rest
    assert got2.count() == 12
    assert got2.select("text").distinct().count() == 12
    assert got2.filter(F.col("text").startswith("fresh")).count() == 4
