"""Live-fetch stage tests (P1 UA rotation, P2 timeout, P6 retry/backoff +
short-response detection) — fault-injecting transports and a real local
HTTP page server driving the full crawl loop."""

from __future__ import annotations

import threading
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, quote, urlparse

import pytest
from pyspark.sql import functions as F

from politics_crawler_spark.operators.fetch import (
    DEFAULT_UA_POOL,
    make_fetch_stage,
    urllib_transport,
)

# ---------------------------------------------------------------------------
# unit: retry / short-response / UA rotation via an injected fake transport
# ---------------------------------------------------------------------------

def _flaky_transport(url, ua, timeout_s):
    """Deterministic per-task transport: per-url call counting works because
    the test runs the stage in one task (coalesce(1))."""
    _flaky_transport.calls.setdefault(url, 0)
    _flaky_transport.calls[url] += 1
    n = _flaky_transport.calls[url]
    if "flaky" in url:
        if n == 1:
            raise TimeoutError("simulated timeout")  # P2/P6
        return 200, b"<html>recovered</html>"
    if "dead" in url:
        return 500, b""
    if "gone" in url:
        return 404, b""  # permanent: never retried
    if "throttled" in url:
        return 429, b""  # transient: retried
    if "short" in url:
        return (200, b"x") if n == 1 else (200, b"<html>full body here</html>")
    if "tiny" in url:
        return 200, b"y"  # short on every attempt -> status 'short'
    return 200, b"<html>ok</html>"


_flaky_transport.calls = {}


def test_fetch_retry_short_and_ua(spark):
    urls = [
        ("https://h/flaky", "h"),
        ("https://h/dead", "h"),
        ("https://h/gone", "h"),
        ("https://h/throttled", "h"),
        ("https://h/short", "h"),
        ("https://h/tiny", "h"),
        ("https://h/fine", "h"),
    ]
    df = spark.createDataFrame(urls, "url string, host string").coalesce(1)
    fetch = make_fetch_stage(
        transport=_flaky_transport, max_attempts=2, min_bytes=5, sleep=None
    )
    rows = {r.url: r for r in fetch(df).collect()}

    assert rows["https://h/flaky"].fetch_status == "ok"
    assert rows["https://h/flaky"].attempts == 2          # P6 retry recovered
    assert rows["https://h/dead"].fetch_status == "error"
    assert rows["https://h/dead"].attempts == 2
    assert rows["https://h/dead"].html is None
    assert rows["https://h/gone"].fetch_status == "error"  # a 4xx is final
    assert rows["https://h/gone"].attempts == 1
    assert rows["https://h/gone"].html is None
    assert rows["https://h/throttled"].fetch_status == "error"
    assert rows["https://h/throttled"].attempts == 2
    assert rows["https://h/short"].fetch_status == "ok"   # short → retry → full
    assert rows["https://h/short"].attempts == 2
    assert rows["https://h/tiny"].fetch_status == "short"  # gave up with body
    assert rows["https://h/tiny"].html == b"y"
    assert rows["https://h/fine"].attempts == 1

    # P1: deterministic UA rotation — pool[crc32(url#attempt) % n]
    for url, r in rows.items():
        exp = DEFAULT_UA_POOL[
            zlib.crc32(f"{url}#{r.attempts}".encode()) % len(DEFAULT_UA_POOL)
        ]
        assert r.ua == exp
    # a retried url saw a DIFFERENT UA on attempt 1 than on attempt 2
    u = "https://h/flaky"
    ua1 = DEFAULT_UA_POOL[zlib.crc32(f"{u}#1".encode()) % len(DEFAULT_UA_POOL)]
    assert rows[u].ua != ua1


def test_fetch_backoff_exhausts_attempts_with_bounded_jitter(spark):
    fetch = make_fetch_stage(
        transport=lambda u, ua, t: (500, b""),
        max_attempts=3,
        sleep=None,  # executor-side sleeps aren't observable; jitter checked below
    )
    df = spark.createDataFrame(
        [("https://h/x", "h")], "url string, host string"
    ).coalesce(1)
    out = fetch(df).collect()
    assert out[0].attempts == 3 and out[0].fetch_status == "error"
    # deterministic backoff jitter lands in [lo, hi)
    for attempt in (1, 2):
        j = zlib.crc32(f"https://h/x#{attempt + 7919}".encode()) % 1000
        assert 2.0 <= 2.0 + (j / 1000.0) * 2.0 < 4.0


# ---------------------------------------------------------------------------
# end-to-end: full crawl over a fault-injecting local HTTP page server
# ---------------------------------------------------------------------------

class _PageServer:
    """Serves the synthetic pages table over HTTP with injected faults:
    every 7th url 500s on first hit, every 13th returns a short body on
    first hit (instiz_issue.py:221-229 territory). All recover on retry."""

    def __init__(self, pages: dict[str, bytes]):
        self.pages = pages
        self.hits: dict[str, int] = {}
        self.lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                q = parse_qs(urlparse(self.path).query)
                url = q.get("u", [""])[0]
                body = outer.pages.get(url)
                with outer.lock:
                    outer.hits[url] = outer.hits.get(url, 0) + 1
                    n = outer.hits[url]
                if body is None:
                    self.send_response(404)
                    self.end_headers()
                    return
                h = zlib.crc32(url.encode())
                if n == 1 and h % 7 == 0:
                    self.send_response(500)
                    self.end_headers()
                    return
                if n == 1 and h % 13 == 0:
                    body = b"x"  # short response
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def stop(self):
        self.server.shutdown()


def test_crawl_over_live_http_matches_snapshot_join(spark, pages_pdf, pages_df):
    """The live-fetch crawl (UA pool, retry, short-response detection, no
    pages snapshot at all) produces the same extracted set and contents as
    the synthetic join-based crawl; retry counters land in metrics."""
    from politics_crawler_spark.plans.crawl import run_crawl

    from .test_crawl import _assert_metrics_flow

    srv = _PageServer(dict(zip(pages_pdf["url"], pages_pdf["html"])))
    try:
        port = srv.port

        def transport(url, ua, timeout_s):
            return urllib_transport(
                f"http://127.0.0.1:{port}/?u={quote(url, safe='')}", ua, timeout_s
            )

        fetch = make_fetch_stage(
            transport=transport, max_attempts=2, min_bytes=50, sleep=None,
            timeout_s=5.0,
        )
        live = run_crawl(spark, None, n_shards=8, fetcher=fetch)
        base = run_crawl(spark, pages_df, n_shards=8)

        live_rows = live.extracted.collect()
        a = {(r.url, r.content) for r in live_rows}
        b = {(r.url, r.content) for r in base.extracted.collect()}
        assert a == b and len(a) > 0
        # per-round extraction conserves the seen stage's flow in METRICS
        _assert_metrics_flow(spark, live, len(live_rows))

        # P6 retry counters observed per round, and faults actually fired
        total_att = sum(m["detail_fetch_attempts"] + m["list_fetch_attempts"]
                        for m in live.metrics)
        total_fetch = sum(m["detail_fetches"] + m["list_fetches"]
                          for m in live.metrics)
        assert total_att > total_fetch  # at least one retry happened
    finally:
        srv.stop()


# ---------------------------------------------------------------------------
# P3-P5: per-host pacing is ENFORCED in the fetch stage (round-4 item)
# ---------------------------------------------------------------------------

def _recording_transport(log_path):
    """Appends '<host> <monotonic>' per request — O_APPEND short writes are
    atomic, and local-mode Python workers share the filesystem."""

    def transport(url, ua, timeout_s):
        import time as _t
        from urllib.parse import urlsplit

        with open(log_path, "a") as f:
            f.write(f"{urlsplit(url).netloc} {_t.monotonic():.6f}\n")
        return 200, b"<html>plenty long ok body</html>"

    return transport


def _times_by_host(log_path):
    by = {}
    with open(log_path) as f:
        for line in f:
            h, t = line.split()
            by.setdefault(h, []).append(float(t))
    return {h: sorted(ts) for h, ts in by.items()}


def test_per_host_pacing_unsalted(spark, tmp_path):
    """Consecutive requests to one host are spaced >= min_interval_s even
    when several hosts share a task; distinct hosts don't inherit each
    other's pacing state (both hosts complete in one batch)."""
    import time as _time

    log = str(tmp_path / "req.log")
    rows = [(f"https://{h}/p{i}", h) for h in ("a.com", "b.com") for i in range(5)]
    df = spark.createDataFrame(rows, "url string, host string").coalesce(1)
    fetch = make_fetch_stage(
        transport=_recording_transport(log), max_attempts=1,
        sleep=_time.sleep, min_interval_s=0.05,
    )
    out = fetch(df).collect()
    assert len(out) == 10 and all(r.fetch_status == "ok" for r in out)
    times = _times_by_host(log)
    eps = 0.01
    for h in ("a.com", "b.com"):
        diffs = [b - a for a, b in zip(times[h], times[h][1:])]
        assert len(diffs) == 4
        assert all(d >= 0.05 - eps for d in diffs), (h, diffs)


def test_per_host_pacing_salted_budget_division(spark, tmp_path):
    """A salt-split mega-host's AGGREGATE request rate honors the same
    per-host budget: salt_n concurrent tasks each pace at salt_n ×
    min_interval_s (the salted repartition's ``_salt_n``), so among any salt_n+1
    consecutive requests (merged across tasks) two share a task and are
    >= salt_n × interval apart — the merged stream can never exceed
    1/min_interval_s for long."""
    import time as _time

    from politics_crawler_spark.plans.politeness import (
        salted_repartition_by_host,
    )

    log = str(tmp_path / "req.log")
    salt_n, interval = 3, 0.05
    plan = {"m.com": salt_n}
    df = spark.createDataFrame(
        [(f"https://m.com/p{i}", "m.com") for i in range(12)],
        "url string, host string",
    )
    paced = salted_repartition_by_host(
        df, salt_plan=plan, num_partitions=spark.sparkContext.defaultParallelism
    )
    assert "_salt_n" in paced.columns
    fetch = make_fetch_stage(
        transport=_recording_transport(log), max_attempts=1, sleep=_time.sleep,
        min_interval_s=interval,
    )
    out = fetch(paced).collect()
    assert len(out) == 12
    assert "_salt_n" not in out[0].asDict()  # stage consumes the salt column
    ts = _times_by_host(log)["m.com"]
    eps = 0.01
    # pigeonhole over the merged stream: any salt_n+1 consecutive requests
    # include two from the same task, spaced >= salt_n * interval
    for i in range(len(ts) - salt_n):
        assert ts[i + salt_n] - ts[i] >= salt_n * interval - eps, (
            i, ts[i + salt_n] - ts[i]
        )


def test_run_crawl_live_pacing_wiring(spark, pages_pdf, pages_df):
    """The stage's min_interval_s under run_crawl (list and detail fetches
    both salted by host, budget-divided pace) must leave the
    extracted output IDENTICAL to the unpaced snapshot crawl — the salt
    column and host repartitions are pure scheduling, never semantics."""
    import time as _time

    from politics_crawler_spark.plans.crawl import run_crawl

    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))

    def transport(url, ua, timeout_s):
        body = pages.get(url)
        return (200, body) if body is not None else (404, b"")

    fetch = make_fetch_stage(
        transport=transport, max_attempts=2, min_bytes=50,
        sleep=_time.sleep, min_interval_s=0.002,
    )
    live = run_crawl(spark, None, n_shards=8, fetcher=fetch)
    base = run_crawl(spark, pages_df, n_shards=8)
    a = {(r.url, r.content) for r in live.extracted.collect()}
    b = {(r.url, r.content) for r in base.extracted.collect()}
    assert a == b and len(a) > 0


def test_run_crawl_paces_salted_host_from_stage_interval(
    spark, pages_pdf, pages_df, tmp_path
):
    """The interval set only on the fetch stage is honoured per host by a
    live run_crawl: with ``pages`` and a small ``host_target_rows`` the
    mega-host is salt-split, and any salt_n+1 consecutive requests to it
    (list and detail, merged across tasks) still span >= salt_n ×
    interval — no salted task paces at the bare interval."""
    import time as _time

    from politics_crawler_spark.plans.crawl import run_crawl
    from politics_crawler_spark.plans.politeness import host_salt_plan

    from .test_crawl import first_pages_boards

    target, interval = 100, 0.005
    plan = host_salt_plan(
        pages_df.select(F.parse_url(F.col("url"), F.lit("HOST")).alias("host")),
        target_rows_per_task=target,
    )
    host, salt_n = max(plan.items(), key=lambda kv: kv[1])
    assert salt_n >= 2
    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    log = str(tmp_path / "req.log")
    record = _recording_transport(log)

    def transport(url, ua, timeout_s):
        record(url, ua, timeout_s)
        body = pages.get(url)
        return (200, body) if body is not None else (404, b"")

    fetch = make_fetch_stage(
        transport=transport, max_attempts=1, sleep=_time.sleep,
        min_interval_s=interval,
    )
    res = run_crawl(
        spark, pages_df, n_shards=8, fetcher=fetch, boards=first_pages_boards(16),
        host_target_rows=target,
    )
    assert res.extracted.count() > 0
    ts = _times_by_host(log)[host]
    assert len(ts) > 2 * salt_n
    eps = 0.01
    tightest = min(ts[i + salt_n] - ts[i] for i in range(len(ts) - salt_n))
    assert tightest >= salt_n * interval - eps, tightest


def test_live_crawl_keeps_failed_detail_url_unseen(spark, pages_pdf):
    """D1 in live mode: a detail URL enters the seen table only once its
    fetch resolved. A URL whose every fetch attempt fails is absent from the
    output yet still a survivor against the final seen table (a later run
    retries it); a fetched URL is not."""
    from politics_crawler_spark.config import ENABLED_BOARDS, RUN_DATE
    from politics_crawler_spark.functions.urls import url_hash
    from politics_crawler_spark.plans import seen as seen_mod
    from politics_crawler_spark.plans.crawl import run_crawl

    from .ref_simulator import simulate

    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    _, expected = simulate(pages, ENABLED_BOARDS, RUN_DATE)
    failed = sorted(expected)[0]

    def transport(url, ua, timeout_s):
        body = None if url == failed else pages.get(url)
        return (200, body) if body is not None else (500, b"")

    fetch = make_fetch_stage(
        transport=transport, max_attempts=2, min_bytes=50, sleep=None
    )
    res = run_crawl(spark, None, n_shards=8, fetcher=fetch)
    got = {r.url for r in res.extracted.select("url").collect()}
    assert failed not in got
    assert got == expected - {failed}
    fetched = sorted(got)[0]

    keys = spark.createDataFrame([(failed,), (fetched,)], "url string").select(
        "url", url_hash(F.col("url")).alias("url_hash")
    )
    no_keys = spark.createDataFrame([], "url_hash long")
    survivors, _ = seen_mod.split_probe_update(
        seen_mod.probe_and_update(keys, no_keys, res.seen, 8)
        .localCheckpoint(eager=True)
    )
    by_hash = {r.url_hash: r.url for r in keys.collect()}
    assert {by_hash[r.url_hash] for r in survivors.collect()} == {failed}


# ---------------------------------------------------------------------------
# live crawls resume from round commits and carry seen state across ticks
# ---------------------------------------------------------------------------

def _logged_fetch(pages, log_path):
    """A fetch stage over ``pages`` that appends each requested url to
    ``log_path``, one line per request (O_APPEND short writes are atomic,
    and local-mode Python workers share the filesystem)."""

    def transport(url, ua, timeout_s):
        with open(log_path, "a") as f:
            f.write(url + "\n")
        body = pages.get(url)
        return (200, body) if body is not None else (404, b"")

    return make_fetch_stage(
        transport=transport, max_attempts=2, min_bytes=50, sleep=None
    )


def _fetched_detail_urls(pages, log_path):
    """The detail urls the log shows served: every requested url with a
    page, list pages excepted."""
    from politics_crawler_spark.config import ENABLED_BOARDS
    from politics_crawler_spark.sources.synthetic_pages import list_url

    lists = {list_url(b, p) for b in ENABLED_BOARDS for p in range(b.max_pages)}
    with open(log_path) as f:
        return {u for u in f.read().split() if u in pages} - lists


def test_live_checkpoint_resume_skips_committed_fetches(
    spark, pages_pdf, pages_df, tmp_path
):
    """A checkpointed live crawl killed after one committed round and
    resumed returns the posts of an uninterrupted live crawl and of the
    snapshot crawl, its METRICS conserve flow, and the resume requests no
    detail url of the committed round (its pages come from the commit)."""
    import os

    from politics_crawler_spark.plans.crawl import run_crawl

    from .test_crawl import _assert_metrics_flow, killed_after_commits

    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    logs = {k: str(tmp_path / f"{k}.log") for k in ("first", "resume", "full")}
    ck = str(tmp_path / "ck")
    with killed_after_commits(1):
        run_crawl(
            spark, None, n_shards=8, fetcher=_logged_fetch(pages, logs["first"]),
            checkpoint_dir=ck, pages_per_round=2,
        )
    committed = {
        r.url for r in spark.read.parquet(os.path.join(ck, "pages/round=0")).collect()
    }
    assert committed and committed <= _fetched_detail_urls(pages, logs["first"])
    resumed = run_crawl(
        spark, None, n_shards=8, fetcher=_logged_fetch(pages, logs["resume"]),
        checkpoint_dir=ck, pages_per_round=2,
    )
    full = run_crawl(
        spark, None, n_shards=8, fetcher=_logged_fetch(pages, logs["full"]),
        pages_per_round=2,
    )
    base = run_crawl(spark, pages_df, n_shards=8)

    got = resumed.extracted.collect()
    a = {(r.url, r.content) for r in got}
    assert resumed.rounds > 1 and len(a) > 0
    assert a == {(r.url, r.content) for r in full.extracted.collect()}
    assert a == {(r.url, r.content) for r in base.extracted.collect()}
    _assert_metrics_flow(spark, resumed, len(got))

    assert not committed & _fetched_detail_urls(pages, logs["resume"])
    for res in (resumed, full, base):
        for c in res.caches:
            c.unpersist()


def test_live_crawl_extracts_a_retried_detail_url_once(spark, pages_pdf, tmp_path):
    """A detail url whose fetch failed stays unseen, so a later round that
    lists it again fetches it again; only the round that banked its page
    banks its candidate, so the crawl extracts it once. The web serves list
    page 2 as a copy of page 1, and one post of page 1 fails both attempts
    in round 0."""
    import dataclasses

    from politics_crawler_spark.config import ENABLED_BOARDS
    from politics_crawler_spark.plans.crawl import run_crawl
    from politics_crawler_spark.sources.synthetic_pages import list_url

    board = ENABLED_BOARDS[0]
    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    first = run_crawl(
        spark, None, n_shards=8, boards=[dataclasses.replace(board, max_pages=1)],
        pages_per_round=1,
        fetcher=_logged_fetch(pages, str(tmp_path / "first.log")),
    )
    target = min(r.url for r in first.extracted.select("url").collect())
    web = {**pages, list_url(board, 1): pages[list_url(board, 0)]}
    log = str(tmp_path / "req.log")

    def transport(url, ua, timeout_s):
        with open(log, "a") as f:
            f.write(url + "\n")
        with open(log) as f:
            n = f.read().split().count(url)
        body = None if url == target and n <= 2 else web.get(url)
        return (200, body) if body is not None else (500, b"")

    res = run_crawl(
        spark, None, n_shards=8, boards=[dataclasses.replace(board, max_pages=2)],
        pages_per_round=1,
        fetcher=make_fetch_stage(
            transport=transport, max_attempts=2, min_bytes=50, sleep=None
        ),
    )
    got = [r.url for r in res.extracted.select("url").collect()]
    with open(log) as f:
        assert f.read().split().count(target) == 3  # 2 failed attempts, 1 retry
    assert got.count(target) == 1
    assert len(got) == len(set(got))


def test_live_crawl_ticks_skip_fetched_detail_urls(spark, pages_pdf, tmp_path):
    """Two live ticks over the same web: tick 1 starts from tick 0's seen
    table, so it extracts 0 posts and requests no detail url tick 0
    fetched."""
    from politics_crawler_spark.streaming.cadence import crawl_tick

    pages = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    state = str(tmp_path / "state")
    logs = [str(tmp_path / f"tick{k}.log") for k in range(2)]
    ticks = [
        crawl_tick(spark, state, fetcher=_logged_fetch(pages, log), n_shards=8)
        for log in logs
    ]
    assert ticks[0]["run"] == 0 and ticks[0]["extracted"] > 0
    assert ticks[1] == {"run": 1, "extracted": 0}
    fetched = _fetched_detail_urls(pages, logs[0])
    assert fetched
    assert not fetched & _fetched_detail_urls(pages, logs[1])
