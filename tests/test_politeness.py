"""Politeness/scheduling operator tests (P3 as salted partitioning)."""

from politics_crawler_spark.plans.politeness import (
    host_salt_plan,
    salted_repartition_by_host,
)


def _cand(spark):
    rows = [("mega.com", f"https://mega.com/{i}") for i in range(900)] + [
        ("tiny.org", f"https://tiny.org/{i}") for i in range(30)
    ]
    return spark.createDataFrame(rows, "host string, url string")


def test_salt_plan_splits_only_mega_hosts(spark):
    df = _cand(spark)
    plan = host_salt_plan(df, target_rows_per_task=100)
    assert plan["mega.com"] == 9
    # non-mega hosts are NOT collected (default to salt_n=1 at lookup time)
    assert "tiny.org" not in plan


def test_salt_plan_bounded_on_wide_frontier(spark):
    """At a web-scale frontier (thousands of hosts) the collected plan must
    stay O(#mega-hosts) — a full per-host dict would be a multi-million-row
    collect plus a Catalyst literal-map blowup at north_rule scale."""
    rows = [(f"h{i}.example.com", f"https://h{i}.example.com/p") for i in range(5000)]
    rows += [("mega.com", f"https://mega.com/{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "host string, url string")
    plan = host_salt_plan(df, target_rows_per_task=100)
    assert plan == {"mega.com": 4}  # 1 entry for 5001 hosts (<1%)
    # lookup path still salts the mega-host and defaults the rest to 1
    out = salted_repartition_by_host(df, salt_plan=plan, num_partitions=8)
    assert out.count() == len(rows)


def test_salted_repartition_bounds_per_task_host_rows(spark):
    df = _cand(spark)
    plan = host_salt_plan(df, target_rows_per_task=100)
    out = salted_repartition_by_host(df, salt_plan=plan, num_partitions=16)

    def per_part(it):
        import collections

        c = collections.Counter()
        for row in it:
            c[row.host] += 1
        return [(h, n) for h, n in c.items()]

    counts = out.rdd.mapPartitions(lambda it: per_part(it)).collect()
    mega = [n for h, n in counts if h == "mega.com"]
    # 900 mega rows split over 9 salts → no single task holds them all
    assert max(mega) < 900
    assert sum(mega) == 900

