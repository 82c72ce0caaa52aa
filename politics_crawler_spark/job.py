"""spark-submit entry point (north_rule: ``spark-submit --py-files``).

Usage:
  spark-submit --py-files politics_crawler_spark.zip \
      -m politics_crawler_spark.job -- \
      --pages <parquet dir or 'synthetic:N[:replicas]'> \
      --out /path/extracted --checkpoint /path/ck [--run-date YYYY-MM-DD]

Local sandbox equivalent: ``python -m politics_crawler_spark.job ...`` —
the session factory picks local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import argparse
import json


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True,
                    help="parquet dir of the pages snapshot, or synthetic:N[:replicas]")
    ap.add_argument("--out", required=True, help="output dir for extracted parquet")
    ap.add_argument("--checkpoint", default=None, help="resume-safe checkpoint dir")
    ap.add_argument("--run-date", default=None)
    ap.add_argument("--n-shards", type=int, default=64)
    ap.add_argument("--pages-per-round", type=int, default=16)
    ap.add_argument("--max-seconds", type=float, default=None)
    ap.add_argument("--ticks", default=None,
                    help="tick-file dir: run as a streaming cadence "
                         "(one crawl per tick file, Trigger.AvailableNow, "
                         "cross-run seen continuity under <out>)")
    args = ap.parse_args(argv)

    from .config import RUN_DATE
    from .plans.crawl import read_json, run_crawl
    from .session import get_spark
    from .sources.synthetic_pages import crawl_boards, synthesize_pages

    spark = get_spark(app_name="pcs-crawl-job")
    spark.sparkContext.setLogLevel("WARN")

    boards = None
    if args.pages.startswith("synthetic:"):
        parts = args.pages.split(":")
        n = int(parts[1])
        replicas = int(parts[2]) if len(parts) > 2 else 1
        pages = synthesize_pages(spark, n, replicas=replicas)
        boards = crawl_boards(replicas)
    else:
        pages = spark.read.parquet(args.pages)

    if args.ticks:
        # P11 engine-native: Structured Streaming drains the pending tick
        # files (one crawl per tick, exactly-once across restarts) and
        # chains the seen table across runs — see streaming/cadence.py
        from .streaming.cadence import crawl_cadence

        q = crawl_cadence(
            spark, args.ticks,
            checkpoint_dir=args.out + "_cadence_ck",
            state_dir=args.out,
            pages=pages,
            run_date=args.run_date or RUN_DATE,
            boards=boards,
            n_shards=args.n_shards,
            pages_per_round=args.pages_per_round,
        )
        q.awaitTermination()
        # zero pending ticks → crawl_tick never ran and state.json does
        # not exist yet: report an empty run instead of crashing (ADVICE r4)
        print(json.dumps(read_json(args.out) or {"last_run": None}))
        return

    res = run_crawl(
        spark,
        pages,
        run_date=args.run_date or RUN_DATE,
        boards=boards,
        n_shards=args.n_shards,
        pages_per_round=args.pages_per_round,
        max_seconds=args.max_seconds,
        checkpoint_dir=args.checkpoint,
    )
    res.extracted.write.mode("overwrite").parquet(args.out)
    # after the terminal write: the terminal extraction observation has resolved
    res.metrics_table(spark).write.mode("overwrite").parquet(args.out + "_metrics")
    print(json.dumps({"rounds": res.rounds, "metrics": res.metrics}))


if __name__ == "__main__":
    main()
