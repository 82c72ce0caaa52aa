"""Structured-Streaming surface tests: the streaming-driven crawl cadence
(P11)."""

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
