"""Scalar-function tests (L1-L7) via Spark expressions on tiny frames."""

import datetime as dt

from pyspark.sql import functions as F

from politics_crawler_spark.functions.dates import is_today, parse_list_date
from politics_crawler_spark.functions.numbers import parse_recommend, parse_views
from politics_crawler_spark.functions.urls import (
    canonical_url,
    is_valid_post_url,
    url_hash,
)

RUN = "2025-03-12"


def _dates(spark, rows):
    df = spark.createDataFrame(rows, "date_txt string, date_attr string")
    return [
        r.ts
        for r in df.select(
            parse_list_date(F.col("date_txt"), F.col("date_attr"), RUN).alias("ts")
        ).collect()
    ]


def test_date_cascade(spark):
    got = _dates(
        spark,
        [
            ("13:45", ""),                     # time-only → today
            ("22:01:09", ""),                  # mlbpark seconds form
            ("25/03/11", ""),                  # dcinside yy/mm/dd
            ("2025.03.10", ""),                # fmkorea absolute
            ("25.03.11", ""),                  # theqoo/ruliweb yy.mm.dd
            ("2025-03-11 10:00:00", ""),       # clien
            ("2025-03-11 10:00", ""),          # 82cook
            ("03.11 09:15", ""),               # instiz month-day
            ("03-11", ""),                     # inven month-day
            ("12.30 23:00", ""),               # instiz year-boundary → last year
            ("xx", "25.03.12 08:30:00"),       # ppomppu title attr wins
            ("garbage", ""),                   # unparseable → NULL
        ],
    )
    assert got[0] == dt.datetime(2025, 3, 12, 13, 45)
    assert got[1] == dt.datetime(2025, 3, 12, 22, 1, 9)
    assert got[2] == dt.datetime(2025, 3, 11)
    assert got[3] == dt.datetime(2025, 3, 10)
    assert got[4] == dt.datetime(2025, 3, 11)
    assert got[5] == dt.datetime(2025, 3, 11, 10, 0, 0)
    assert got[6] == dt.datetime(2025, 3, 11, 10, 0)
    assert got[7] == dt.datetime(2025, 3, 11, 9, 15)
    assert got[8] == dt.datetime(2025, 3, 11)
    assert got[9] == dt.datetime(2024, 12, 30, 23, 0)
    assert got[10] == dt.datetime(2025, 3, 12, 8, 30, 0)
    assert got[11] is None


def test_is_today(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2025, 3, 12, 23, 59),), (dt.datetime(2025, 3, 11, 23, 59),)],
        "ts timestamp",
    )
    got = [r.t for r in df.select(is_today(F.col("ts"), RUN).alias("t")).collect()]
    assert got == [True, False]


def test_parse_views(spark):
    df = spark.createDataFrame(
        [("123",), ("1,234",), ("2.5 k",), ("17k",), ("abc",), ("",)], "v string"
    )
    got = [r.views for r in df.select(parse_views(F.col("v"))).collect()]
    assert got == [123, 1234, 2500, 17000, 0, 0]


def test_parse_recommend(spark):
    df = spark.createDataFrame([("3 - 0",), ("42",), ("x",)], "r string")
    got = [r.recommend for r in df.select(parse_recommend(F.col("r"))).collect()]
    assert got == [3, 42, 0]


def test_url_validity(spark):
    df = spark.createDataFrame(
        [
            ("https://x.com/1",),
            ("javascript:void(0);",),
            ("ftp://x/1",),
            ("https://addc.dcinside.com/ad",),
            (None,),
        ],
        "u string",
    )
    got = [r.ok for r in df.select(is_valid_post_url(F.col("u")).alias("ok")).collect()]
    assert got == [True, False, False, False, None] or got == [True, False, False, False, False]


def test_canonical_url(spark):
    df = spark.createDataFrame(
        [
            ("https://gall.dcinside.com/board/lists/?id=g", "/board/view/?id=g&no=5"),
            ("https://x.com/a/", "https://y.com/b"),
        ],
        "base string, href string",
    )
    got = [r.c for r in df.select(canonical_url(F.col("base"), F.col("href")).alias("c")).collect()]
    assert got == [
        "https://gall.dcinside.com/board/view/?id=g&no=5",
        "https://y.com/b",
    ]


def test_canonical_url_all_forms(spark):
    from urllib.parse import urljoin

    cases = [
        ("https://a.com/x/y?p=1", "//cdn.b.com/i.png"),
        ("https://a.com/x/y?p=1", "/root/z"),
        ("https://a.com/x/y?p=1", "?page=2"),
        ("https://a.com/x/y?p=1", "sibling/page"),
        ("http://a.com/x/", "/q"),
        ("https://a.com", "/q"),
    ]
    df = spark.createDataFrame(cases, "base string, href string")
    got = [
        r.c
        for r in df.select(canonical_url(F.col("base"), F.col("href")).alias("c")).collect()
    ]
    want = [urljoin(b, h) for b, h in cases]
    assert got == want  # JVM expressions match urllib semantics


def test_url_hash_is_stable_xxhash(spark):
    df = spark.createDataFrame([("https://a/1",)], "u string")
    h1 = df.select(url_hash(F.col("u")).alias("h")).collect()[0].h
    h2 = df.select(F.xxhash64(F.col("u")).alias("h")).collect()[0].h
    assert h1 == h2
