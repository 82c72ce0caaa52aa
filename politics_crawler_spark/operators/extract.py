"""Extraction stage — host-dispatched E1–E11 parsers as one Arrow-batched
pandas UDF (SURVEY.md §2.10 item 1).

The UDF is the only Python in the page hot path; everything around it
(validity gate, freshness filter, thresholds, dedup, sort) is JVM-side.
Batch size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``;
HTML parsing cost dominates, so 10k-row batches keep Arrow overhead <1%.

Input columns: pages are read as ``html`` and ``url``, plus the parser
family column named by ``site_col``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..parsers import sites
from ..schemas import EXTRACT_RESULT

_EXTRACT_COLS = list(EXTRACT_RESULT.fieldNames())


@pandas_udf(EXTRACT_RESULT)
def extract_udf(site: pd.Series, html: pd.Series, url: pd.Series) -> pd.DataFrame:
    # tuple rows, not per-row dicts: same values in schema order, without
    # 6 hash inserts + a dict alloc per page (r6 — the q40 lesson)
    rows = [
        (r.content, r.images, r.recommend, r.actual_date, r.status, r.post_id)
        for r in (sites.extract(s, h, u) for s, h, u in zip(site, html, url))
    ]
    return pd.DataFrame(rows, columns=_EXTRACT_COLS)


def site_expr(host: Column) -> Column:
    """Host → parser-family dispatch, JVM-side (no UDF)."""
    expr = F.lit(None).cast("string")
    for token in sites._PARSERS:
        expr = F.when(host.contains(token), F.lit(token)).otherwise(expr)
    return expr


def with_extraction(df: DataFrame, site_col: str = "site") -> DataFrame:
    """Append content/images/recommend_raw/actual_date/status columns."""
    res = extract_udf(F.col(site_col), F.col("html"), F.col("url"))
    return df.withColumn("_x", res).select("*", "_x.*").drop("_x")
