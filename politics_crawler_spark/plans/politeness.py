"""Politeness / scheduling operators (SURVEY.md §2.5, north_rule).

The reference's sleeps (P3-P5) serialize one site at ~0.1-0.3 posts/s.
Partition-parallel politeness instead means a salted repartition by host
with skew splitting: every host's fetches land in its own task(s); a
mega-host (dcinside holds ~50% of synthetic rows) is split across
``ceil(count/target)`` salted partitions so it can't straggle the stage,
while per-host budget accounting stays keyed by the true host.

Input columns: crawl frames are read as ``host`` and ``url``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.fetch import SALT_N_COL


def host_salt_plan(df: DataFrame, target_rows_per_task: int = 5000) -> dict[str, int]:
    """One ``groupBy(host).count()`` pre-pass → per-host salt factors.

    Only MEGA-hosts (count > target) are collected; everything else defaults
    to salt_n=1 via the ``coalesce(map[host], 1)`` lookup in
    :func:`salted_repartition_by_host`. At a web-scale frontier (millions of
    hosts, north_rule) collecting every host would be a multi-million-row
    driver collect AND a multi-million-entry Catalyst literal map — the
    filter keeps both O(#mega-hosts), which skew distributions keep tiny
    (the hosts that matter are exactly the heavy tail). Compute ONCE per
    snapshot (host distribution is stable across depth rounds) and reuse.
    """
    rows = (
        df.groupBy("host")
        .count()
        .filter(F.col("count") > target_rows_per_task)  # mega-hosts only
        .collect()
    )
    return {
        r["host"]: max(1, -(-int(r["count"]) // target_rows_per_task)) for r in rows
    }


def salted_repartition_by_host(
    df: DataFrame, salt_plan: dict[str, int], num_partitions: int
) -> DataFrame:
    """Repartition fetch candidates by (host, salt) into ``num_partitions``
    and keep each row's host salt factor as the ``_salt_n`` column. The
    count is explicit because a bare ``repartition(key)`` lets AQE
    coalesce a small fetch shuffle into one task, which runs every host's
    requests in series.

    ``salt_plan`` comes from :func:`host_salt_plan`; its factors are
    inlined as a literal map lookup (no extra job), and a host absent from
    it gets salt_n = 1. The live fetch stage reads ``_salt_n`` to
    BUDGET-DIVIDE pacing: a mega-host split across salt_n concurrent tasks
    paces each task at ``min_interval_s × salt_n``, so its aggregate rate
    stays the ``1 / min_interval_s`` an unsalted host gets (round-3
    verdict).
    """
    salt_n = F.lit(1)
    if salt_plan:
        mapping = F.create_map(*[F.lit(x) for kv in salt_plan.items() for x in kv])
        salt_n = F.coalesce(mapping[F.col("host")], F.lit(1))
    salted = df.withColumn(SALT_N_COL, salt_n)
    key = F.concat_ws(
        "#", F.col("host"), F.pmod(F.xxhash64(F.col("url")), F.col(SALT_N_COL))
    )
    return salted.repartition(num_partitions, key)

