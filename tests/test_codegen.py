"""Generated code: compiled once per session, and small enough to JIT."""

import pandas as pd
from pyspark.sql import functions as F

from politics_crawler_spark.config import ENABLED_BOARDS, RUN_DATE
from politics_crawler_spark.functions.dates import parse_list_date
from politics_crawler_spark.plans.crawl import (
    BoardState,
    _board_frontier_rows,
    _normalized_candidates,
)
from politics_crawler_spark.schemas import FRONTIER

# HotSpot does not JIT a method whose bytecode exceeds this (its
# DontCompileHugeMethods flag is on by default); Spark logs such a method as
# "Generated method too long to be JIT compiled".
_HUGE_METHOD_LIMIT = 8000


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_query_does_not_recompile(spark):
    """Spark keys its codegen cache by (context class loader, code), so on a
    local master each class takes a driver entry and a task-thread entry.
    60 distinct projections are 120+ entries, past Spark's default of 100:
    there the first projection is evicted and its re-run recompiles."""

    def run(k):
        spark.range(1, numPartitions=1).select((F.col("id") * k + k).alias("x")).collect()

    run(0)
    for k in range(1, 61):
        run(k)
    before = _compiles(spark)
    run(0)
    assert _compiles(spark) == before


def test_candidate_stage_fits_the_jit_limit(spark, pages_df):
    """The candidate normalization generates the date cascade once, and no
    method of its whole-stage code exceeds the JIT limit. A date filter in
    the same stage is pushed below the projection with the cascade inlined,
    and the inferred ``isnotnull`` inlines it again: three copies, and one
    22,800-byte method over this snapshot that ran interpreted."""
    rows = _board_frontier_rows(
        ENABLED_BOARDS, {b.board: BoardState() for b in ENABLED_BOARDS}, 16
    )
    frontier = spark.createDataFrame(pd.DataFrame(rows), schema=FRONTIER)
    lists = F.broadcast(frontier).join(pages_df.select("url", "html"), "url")
    cand = _normalized_candidates(lists, RUN_DATE)

    qe = cand._jdf.queryExecution()
    one = spark.createDataFrame([("", "")], "t string, a string").select(
        parse_list_date(F.col("t"), F.col("a"), RUN_DATE).alias("d")
    )._jdf.queryExecution()
    # a plan string lists at most maxToStringFields projections
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        n_cascade = one.optimizedPlan().toString().count("try_to_timestamp")
        n_plan = qe.optimizedPlan().toString().count("try_to_timestamp")
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert n_cascade > 0
    assert n_plan == n_cascade

    # AQE collapses whole-stage code per query stage, so the subtrees exist
    # once the plan ran
    assert cand.collect()
    debug = spark.sparkContext._jvm.org.apache.spark.sql.execution.debug.package
    subtrees = debug.codegenStringSeq(qe.executedPlan())
    sizes = [subtrees.apply(i)._3().maxMethodCodeSize() for i in range(subtrees.size())]
    assert sizes
    assert max(sizes) <= _HUGE_METHOD_LIMIT, sizes
