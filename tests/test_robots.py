"""robots.txt gating tests (P12)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from politics_crawler_spark.plans.crawl import run_crawl
from politics_crawler_spark.plans.robots import gate_by_robots

from .test_crawl import first_pages_boards

# The robots table gate_by_robots reads (one row per host fetch).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("rules", T.StringType(), True),
        T.StructField("fetched_ts", T.TimestampType(), True),
        T.StructField("allow_all", T.BooleanType(), False),
    ]
)


def robots_df(spark, rows: list[dict]):
    return spark.createDataFrame(rows, schema=ROBOTS)


def test_gate_by_robots(spark):
    cand = spark.createDataFrame(
        [
            ("a.com", "https://a.com/private/1"),
            ("a.com", "https://a.com/public/2"),
            ("b.com", "https://b.com/private/3"),  # allow_all host
            ("c.com", "https://c.com/x"),  # unknown host → allowed
        ],
        "host string, link string",
    )
    robots = robots_df(
        spark,
        [
            {"host": "a.com", "rules": "/private/", "fetched_ts": None, "allow_all": False},
            {"host": "b.com", "rules": "", "fetched_ts": None, "allow_all": True},
        ],
    )
    got = {
        r.link
        for r in gate_by_robots(cand, robots, url_col="link").collect()
    }
    assert got == {
        "https://a.com/public/2",
        "https://b.com/private/3",
        "https://c.com/x",
    }


def test_gate_by_robots_uses_each_hosts_latest_row(spark):
    """A newer robots fetch overrides an older one: an old allow_all row
    must not re-open a path the newer row disallows. A null fetched_ts is
    the oldest, and of two rows fetched at once the disallowing one wins."""
    import datetime as dt

    cand = spark.createDataFrame(
        [
            ("a.com", "https://a.com/private/1"),
            ("a.com", "https://a.com/public/2"),
            ("b.com", "https://b.com/private/3"),
            ("c.com", "https://c.com/private/4"),
        ],
        "host string, link string",
    )
    old, new = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)
    robots = robots_df(
        spark,
        [
            {"host": "a.com", "rules": "", "fetched_ts": old, "allow_all": True},
            {"host": "a.com", "rules": "/private/", "fetched_ts": new, "allow_all": False},
            {"host": "b.com", "rules": "", "fetched_ts": new, "allow_all": True},
            {"host": "b.com", "rules": "/private/", "fetched_ts": None, "allow_all": False},
            {"host": "c.com", "rules": "", "fetched_ts": new, "allow_all": True},
            {"host": "c.com", "rules": "/private/", "fetched_ts": new, "allow_all": False},
        ],
    )
    got = [r.link for r in gate_by_robots(cand, robots, url_col="link").collect()]
    assert sorted(got) == ["https://a.com/public/2", "https://b.com/private/3"]


def test_crawl_with_blocking_robots(spark, pages_df):
    """Blocking one site's detail paths removes exactly that site's posts."""
    robots = robots_df(
        spark,
        [
            {
                "host": "theqoo.net",
                "rules": "/hot/",
                "fetched_ts": None,
                "allow_all": False,
            }
        ],
    )
    res = run_crawl(spark, pages_df, n_shards=8, robots=robots)
    assert res.extracted.filter(F.col("url").contains("theqoo.net/hot/")).count() == 0
    assert res.extracted.count() > 0


def test_crawl_with_two_robots_rows_per_host_keeps_urls_unique(spark, pages_df):
    """ROBOTS carries fetched_ts, so a host fetched twice has two rows. The
    gate joins only the latest one, so no candidate of that host reaches
    the output twice."""
    import datetime as dt

    robots = robots_df(
        spark,
        [
            {"host": "theqoo.net", "rules": "/private/",
             "fetched_ts": dt.datetime(2024, 1, d), "allow_all": False}
            for d in (1, 2)
        ],
    )
    res = run_crawl(
        spark, pages_df, n_shards=8, robots=robots, boards=first_pages_boards(16)
    )
    urls = [r.url for r in res.extracted.select("url").collect()]
    assert any("theqoo.net" in u for u in urls)
    assert len(urls) == len(set(urls))
