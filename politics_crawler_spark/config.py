"""Per-board crawl configuration — the reference's 19 crawlers as one
dimension table (broadcast-joined to the frontier, never hand-scheduled).

Values transcribed from the reference ``__main__`` invocations and loop
constants (SURVEY.md §2.3 F3 min_views, §2.5 P8 max_pages / P9 stop_n /
P3 delay). ``site_rank`` is the scheduler's fixed execution order
(crawler_schedule.py:23-46: hotissue list then politics list) — kept as a
deterministic tiebreak column so the reference's serial ordering stays
reproducible even though we run everything partition-parallel.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class BoardConfig:
    board: str  # unique per reference crawler script
    community: str  # reference Community code ("1".."11", politics +"p")
    site: str  # parser family (parsers.sites)
    host: str
    min_views: int
    max_pages: int
    delay_s: float
    stop_n: int  # consecutive stale pages/posts before early-stop (P9)
    encoding: str
    site_rank: int  # scheduler order (crawler_schedule.py:23-46)
    enabled: bool = True


# fmt: off
BOARDS: list[BoardConfig] = [
    # hotissue, scheduler order crawler_schedule.py:23-34
    BoardConfig("dcinside_realtimebest", "1",  "dcinside",   "gall.dcinside.com",     7000, 5,  5.0, 3, "utf-8",  0),
    BoardConfig("theqoo_hot",            "2",  "theqoo",     "theqoo.net",            7000, 3,  2.0, 3, "utf-8",  1),
    BoardConfig("instiz_issue",          "3",  "instiz",     "www.instiz.net",         500, 15, 2.0, 3, "utf-8",  2),
    BoardConfig("clien_park",            "4",  "clien",      "www.clien.net",         2500, 10, 2.0, 3, "utf-8",  3),
    BoardConfig("ppomppu_free",          "5",  "ppomppu",    "www.ppomppu.co.kr",     2000, 10, 2.0, 1, "euc-kr", 4),
    BoardConfig("ruliweb_funny",         "6",  "ruliweb",    "bbs.ruliweb.com",        100, 5,  2.0, 5, "utf-8",  5, enabled=False),  # crawler_schedule.py:35 commented out
    BoardConfig("bobae_best",            "7",  "bobaedream", "www.bobaedream.co.kr",  7000, 3,  2.0, 3, "utf-8",  6),
    BoardConfig("cook82_free",           "8",  "82cook",     "www.82cook.com",        1500, 10, 2.0, 3, "utf-8",  7),
    BoardConfig("mlbpark_bullpen",       "9",  "mlbpark",    "mlbpark.donga.com",      600, 99, 2.0, 3, "utf-8",  8),
    BoardConfig("inven_openissue",       "10", "inven",      "www.inven.co.kr",       2000, 5,  2.0, 3, "utf-8",  9),
    BoardConfig("fmkorea_funny",         "11", "fmkorea",    "www.fmkorea.com",        200, 30, 2.0, 5, "utf-8",  10),
    # politics, crawler_schedule.py:37-46
    BoardConfig("dcinside_politics",     "1p",  "dcinside",   "gall.dcinside.com",     150, 99, 5.0, 3, "utf-8",  11),
    BoardConfig("dcinside_peoplepower",  "1p",  "dcinside",   "gall.dcinside.com",     150, 99, 5.0, 3, "utf-8",  12),
    BoardConfig("fmkorea_politics",      "11p", "fmkorea",    "www.fmkorea.com",       100, 10, 2.0, 3, "utf-8",  13),
    BoardConfig("ruliweb_politics",      "6p",  "ruliweb",    "bbs.ruliweb.com",       500, 5,  2.0, 3, "utf-8",  14),
    BoardConfig("ruliweb_society",       "6p",  "ruliweb",    "bbs.ruliweb.com",       100, 5,  2.0, 3, "utf-8",  15),
    BoardConfig("mlbpark_politics",      "9p",  "mlbpark",    "mlbpark.donga.com",     500, 99, 2.0, 3, "utf-8",  16),
    BoardConfig("ppomppu_politics",      "5p",  "ppomppu",    "www.ppomppu.co.kr",     150, 10, 2.0, 1, "euc-kr", 17),
    BoardConfig("bobae_politics",        "7p",  "bobaedream", "www.bobaedream.co.kr",   50, 99, 2.0, 3, "utf-8",  18),
]
# fmt: on

ENABLED_BOARDS = [b for b in BOARDS if b.enabled]

# Fixed run date for deterministic tests/benchmarks ("today" in the
# reference's freshness filters; matches the ruliweb fixture date in
# FIXTURES.md §3).
RUN_DATE = "2025-03-12"

