"""robots.txt gating (P12) — ABSENT in the reference (no robotparser
anywhere; SURVEY.md §2.5), REQUIRED by north_rule.

The ``robots`` table (``host``, ``rules``, ``fetched_ts``, ``allow_all``)
holds one row per fetch of a host's robots.txt: its ``Disallow`` path
prefixes for ``User-agent: *``, newline-separated, plus an ``allow_all``
fast-path flag. Only a host's latest fetch applies. The table is tiny
relative to the frontier (a few rows per distinct host) → broadcast join;
the path check is a vectorized pandas UDF over (rules, url). Candidates
are read as ``host`` plus the url column named by ``url_col``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


@pandas_udf(T.BooleanType())
def can_fetch_udf(rules: pd.Series, url: pd.Series) -> pd.Series:
    """True when no Disallow prefix matches the URL path."""
    from urllib.parse import urlparse

    out = []
    for r, u in zip(rules, url):
        if not r or u is None:
            out.append(True)
            continue
        path = urlparse(u).path or "/"
        qs = urlparse(u).query
        full = path + ("?" + qs if qs else "")
        out.append(not any(full.startswith(p) for p in r.split("\n")))
    return pd.Series(out)


def gate_by_robots(candidates: DataFrame, robots: DataFrame,
                   url_col: str = "url") -> DataFrame:
    """Broadcast-join each host's latest robots row; drop disallowed URLs.

    The latest row is the one with the newest ``fetched_ts`` (a null
    timestamp counts as oldest; of tied rows the disallowing one wins), so
    the join is 1:1 and a stale ``allow_all`` row cannot re-open a path a
    newer fetch disallows. Unknown hosts (no robots row) are allowed — the
    fetch stage would populate the table in a live deployment.
    """
    latest = Window.partitionBy("host").orderBy(
        F.col("fetched_ts").desc_nulls_last(), F.col("allow_all").asc(),
        F.col("rules").desc_nulls_last(),
    )
    r = robots.select(
        "host", F.col("rules").alias("_rules"), F.col("allow_all").alias("_allow_all"),
        F.row_number().over(latest).alias("_rn"),
    ).filter(F.col("_rn") == 1).drop("_rn")
    joined = candidates.join(F.broadcast(r), on="host", how="left")
    ok = (
        F.col("_allow_all").isNull()
        | F.col("_allow_all")
        | can_fetch_udf(F.col("_rules"), F.col(url_col))
    )
    return joined.filter(ok).drop("_rules", "_allow_all")
