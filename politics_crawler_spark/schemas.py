"""Declared schemas for every engine table (FIXTURES.md §1-§2).

The reference's schema is convention-only (each crawler rebuilds the same
dict literal, dcinside_politics.py:202-214); ours is fixed and columnar.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table (BASELINE.json input_hint): Common-Crawl-style pages.
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# One crawl round's list frontier (plans/crawl.py): a row per list page of
# every active board's depth slice, with the board settings later stages
# read.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("board", T.StringType(), True),
        T.StructField("community", T.StringType(), True),
        T.StructField("site", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("encoding", T.StringType(), True),
        T.StructField("min_views", T.LongType(), True),
        T.StructField("site_rank", T.IntegerType(), True),
        T.StructField("page_no", T.IntegerType(), True),
        T.StructField("check_detail_date", T.BooleanType(), True),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("version", T.LongType(), False),
        T.StructField("bloom", T.BinaryType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("community", T.StringType(), True),
        T.StructField("n_in", T.LongType(), False),
        T.StructField("n_out", T.LongType(), False),
        T.StructField("n_filtered", T.LongType(), False),
        T.StructField("n_dup", T.LongType(), False),
        T.StructField("n_error", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)

# Output of the extraction stage (reference's 11+2 canonical columns,
# SURVEY.md §1.2, with types normalized).
EXTRACTED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("community", T.StringType(), True),
        T.StructField("post_id", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("link", T.StringType(), True),
        T.StructField("writer", T.StringType(), True),
        T.StructField("date", T.TimestampType(), True),
        T.StructField("views", T.LongType(), True),
        T.StructField("recommend", T.LongType(), True),
        T.StructField("comments", T.LongType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("images", T.ArrayType(T.StringType()), True),
        T.StructField("status", T.StringType(), True),
    ]
)

# Struct returned by the extraction pandas UDF per page.
EXTRACT_RESULT = T.StructType(
    [
        T.StructField("content", T.StringType(), True),
        T.StructField("images", T.ArrayType(T.StringType()), True),
        T.StructField("recommend_raw", T.StringType(), True),
        T.StructField("actual_date", T.TimestampType(), True),
        T.StructField("status", T.StringType(), True),
        # detail-page-recovered post id (bobaedream ipAdd, L6 variant)
        T.StructField("post_id_rec", T.StringType(), True),
    ]
)
