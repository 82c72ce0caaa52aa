"""One scaling-bench job: run one workload at a given local[N] parallelism,
print one JSON line.

Invoked by tools/bench_scaling.py in a fresh subprocess per parallelism
level so each run gets its own JVM (the sandbox stand-in for N-executor vs
4N-executor clusters per BASELINE.md's sandbox evidence plan).

Modes:
- crawl: `run_crawl` over the synthetic pages table (urls/s);
- extract: the pure extraction full scan over its detail pages (urls/s);
- dupngram: `dup_ngram_coverage`, the shuffle-heaviest training-data
  operator (two gram-keyed aggregations, a covered-position rollup);
- lmscore: `unigram_lm` train + `lm_score`, the aggregation plus
  broadcast-join shape.
The two curation modes (docs/s) run on `synth_docs` instead of the pages
table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CURATION_MODES = ("dupngram", "lmscore")


def synth_docs(spark, docs: int, partitions: int):
    """Deterministic synthetic corpus: 40-80 hash-derived tokens per doc
    over a 20k vocab, plus a per-source 8-token boilerplate trailer
    (40 sources ⇒ every source's trailer is massively cross-doc
    duplicated — the Zipf-headed dup-gram skew dup_ngram_coverage
    targets)."""
    from pyspark.sql import functions as F

    d = spark.range(0, docs, 1, partitions)
    n_body = (F.pmod(F.xxhash64("id"), F.lit(41)) + 40).cast("int")  # 40-80
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), n_body - 1),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(20000))
            ),
        ),
    )
    src = F.pmod(F.col("id"), F.lit(40))
    trailer = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: F.concat(F.lit("b"), src * 8 + j),
        ),
    )
    return d.select(
        F.col("id").alias("doc_id"),
        F.concat(body, F.lit(" "), trailer).alias("text"),
        F.concat(F.lit("src"), src).alias("source"),
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--mode", choices=["crawl", "extract", *CURATION_MODES],
                    default="crawl")
    ap.add_argument("--pages", type=int, default=150_000,
                    help="pages table rows (crawl, extract)")
    ap.add_argument("--docs", type=int, default=1_200_000,
                    help="corpus documents (dupngram, lmscore)")
    ap.add_argument("--repeat", type=int, default=2,
                    help="trials; best wall reported (shared-host noise)")
    ap.add_argument("--row-lo", type=int, default=None)
    ap.add_argument("--row-hi", type=int, default=None)
    ap.add_argument("--write-snapshot", default=None, metavar="DIR",
                    help="synthesize the mode's input table, write it as "
                         "parquet to DIR, and exit (untimed prep step)")
    ap.add_argument("--read-snapshot", default=None, metavar="DIR",
                    help="read the input table from a parquet snapshot "
                         "instead of caching an in-memory synthesis — the "
                         "Iceberg-snapshot-shaped input of the north rule; "
                         "scan parallelism then scales with cores and the "
                         "JVM carries no 30GB cache")
    args = ap.parse_args()
    curation = args.mode in CURATION_MODES

    # big enough that the cached snapshot + concurrent task memory never
    # evict/recompute at the widest parallelism (the 125 GiB box takes it;
    # at 48g the 8-core leg thrashed storage at 4.8M pages while the 2-core
    # leg did not — an asymmetry that corrupts the scaling ratio)
    os.environ.setdefault("SPARK_DRIVER_MEM", "96g")

    from pyspark.sql import functions as F

    from politics_crawler_spark.session import get_spark
    from politics_crawler_spark.sources.synthetic_pages import (
        crawl_boards,
        synthesize_pages,
    )

    spark = get_spark(
        app_name=f"scaling-{args.mode}-{args.cpus}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=max(args.cpus * 4, 8) if curation else args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # wide frontier: replicate boards so each slice is ~2800 rows — the
    # 10^10 frontier is wide (many hosts), page budgets bound the depth
    replicas = max(1, round(args.pages / (19 * 2800)))

    def synth(partitions: int):
        if curation:
            return synth_docs(spark, args.docs, partitions)
        return synthesize_pages(
            spark, args.pages, partitions=partitions, replicas=replicas,
            row_lo=args.row_lo, row_hi=args.row_hi,
        )

    if args.write_snapshot:
        synth(64).write.mode("overwrite").parquet(args.write_snapshot)
        print(json.dumps({"wrote": args.write_snapshot, "mode": args.mode}))
        return
    if args.read_snapshot:
        pages = spark.read.parquet(args.read_snapshot)
        n_rows = pages.count()  # warm file listing; data stays on disk
    else:
        pages = synth(args.cpus * 2).persist()
        n_rows = pages.count()  # materialize before timing

    best = None
    trial_walls: list[float] = []
    best_phases: dict | None = None
    for trial in range(args.repeat):
        if args.mode == "crawl":
            from politics_crawler_spark.plans.crawl import run_crawl

            t0 = time.time()
            # pages_per_round covers the largest board budget (max_pages 99):
            # the wide frontier is depth-BOUNDED (P8), so block-speculative
            # expansion handles every board's whole budget in one round and
            # the staleness cut is applied post-hoc — exact semantics, one
            # round of fixed driver cost.
            res = run_crawl(
                spark, pages, n_shards=16, pages_per_round=128,
                boards=crawl_boards(replicas),
            )
            t_loop = time.time() - t0
            n_out = res.extracted.count()
            wall = time.time() - t0
            n_lists = sum(m["list_pages"] for m in res.metrics)
            items = n_out + n_lists
            print(json.dumps({"trial": trial, "wall": round(wall, 2),
                              "t_loop": round(t_loop, 2),
                              "t_terminal": round(wall - t_loop, 2),
                              "setup": res.setup_ms, "rounds": res.metrics}),
                  file=sys.stderr)
            for c in res.caches:  # trials must not inherit cache pressure
                c.unpersist()
        elif args.mode == "extract":
            from politics_crawler_spark.operators.extract import site_expr, with_extraction

            detail = pages.filter(F.col("text") != "").withColumn(
                "site", site_expr(F.parse_url(F.col("url"), F.lit("HOST")))
            )
            t0 = time.time()
            out = with_extraction(detail).select(
                "url", "status", F.length("content").alias("n")
            )
            items = out.filter(F.col("status") == "ok").count()
            wall = time.time() - t0
        else:
            from politics_crawler_spark.operators.corpus_quality import (
                dup_ngram_coverage,
                lm_score,
                unigram_lm,
            )

            t0 = time.time()
            lm = None
            if args.mode == "dupngram":
                out = dup_ngram_coverage(pages)
                # force every column end-to-end (count alone would let
                # Catalyst prune the coverage join)
                n_flagged = out.filter(F.col("dup_coverage") > 0.05).count()
            else:
                lm = unigram_lm(pages)
                out = lm_score(pages, lm, oov=0.0)
                n_flagged = out.filter(F.col("bits_per_token") > 0).count()
            wall = time.time() - t0
            items = n_rows
            print(json.dumps({"trial": trial, "wall": round(wall, 2),
                              "n_flagged": n_flagged}), file=sys.stderr)
            if lm is not None:
                lm.unpersist()  # the caller owns the LM table's storage
        trial_walls.append(round(wall, 2))
        if best is None or wall < best[0]:
            best = (wall, items)
            if args.mode == "crawl":
                best_phases = {
                    "setup": res.setup_ms,
                    "t_loop": round(t_loop, 2),
                    "t_terminal": round(wall - t_loop, 2),
                    "t_seen": round(sum(m["t_seen_ms"] for m in res.metrics) / 1000, 2),
                }
        # In-JVM churn hygiene: checkpoint blocks and broadcast vars are
        # freed by ContextCleaner only after JVM GC notices the refs died
        # (round-3 measured a 2.5× late-trial wall inflation from this).
        # Drop the Python refs, then ask both collectors explicitly so
        # trial k+1 starts from the same storage state as trial 0.
        import gc as _gc

        if args.mode == "crawl":
            del res
        _gc.collect()
        spark.sparkContext._jvm.System.gc()
    wall, items = best

    out = {"cpus": args.cpus, "mode": args.mode}
    if curation:
        out.update(docs=n_rows, wall_sec=round(wall, 3),
                   docs_per_sec=round(n_rows / wall, 1))
    else:
        out.update(pages=n_rows, processed_urls=items, wall_sec=round(wall, 3),
                   urls_per_sec=round(items / wall, 2))
    out["trial_walls"] = trial_walls
    if best_phases:
        out["best_trial_phases"] = best_phases
    print(json.dumps(out))


if __name__ == "__main__":
    main()
