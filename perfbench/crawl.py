"""Workload ``crawl_fresh``: the first crawl of a page snapshot.

One pass is ``streaming.cadence.crawl_tick(run_id=0)`` on an empty state
directory over a synthetic snapshot: frontier → list parse → bloom seen
filter (every probe misses, every key folds in) → extraction at the scan →
parquet write of the posts and the new seen table. Every crawl layer works
on this workload. The traced run also times one re-crawl tick on the same
snapshot, the scheduled steady state, in which every probe hits.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from politics_crawler_spark.functions.urls import url_hash
from politics_crawler_spark.operators import extract as extract_mod
from politics_crawler_spark.operators import listparse as listparse_mod
from politics_crawler_spark.parsers import dom, sites
from politics_crawler_spark.plans import seen as seen_mod
from politics_crawler_spark.plans.bloom import BloomShard
from politics_crawler_spark.sources.synthetic_pages import (
    board_layout,
    crawl_boards,
    gen_row,
    list_url,
    synthesize_pages,
)
from politics_crawler_spark.streaming import cadence

SIZES = {
    "full": {"pages": 8_000, "replicas": 1},
    "smoke": {"pages": 1_000, "replicas": 1},
}
N_SHARDS = 16
PAGES_PER_ROUND = 32
# fixed-sample micro-benchmarks (no Spark): pages per board, keys per run
PARSER_SAMPLE_PER_BOARD = 8
BLOOM_KEYS = 1 << 16
MICRO_MIN_S = 0.3


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


@contextmanager
def captured_crawl(tracer=None):
    """Keep the ``CrawlResult`` that ``crawl_tick`` gets from ``run_crawl``
    (the tick itself returns only counts). With a tracer, the call is also
    wrapped in a span. The module attribute is restored on exit."""
    box: dict = {}
    orig = cadence.run_crawl

    def run_crawl(*args, **kw):
        if tracer is None:
            box["result"] = orig(*args, **kw)
        else:
            with tracer.span("plans.crawl.run_crawl"):
                box["result"] = orig(*args, **kw)
        return box["result"]

    cadence.run_crawl = run_crawl
    try:
        yield box
    finally:
        cadence.run_crawl = orig


class CrawlFresh:
    name = "crawl_fresh"
    setup_metric = "sources.synthetic_pages.synth_s"  # what setup() times

    def __init__(self, spark, seed: int, n_pages: int, replicas: int, workdir: str):
        self.spark, self.seed = spark, seed
        self.n_pages, self.replicas = n_pages, replicas
        self.boards = crawl_boards(replicas)
        self.state_dir = os.path.join(workdir, "crawl_state")
        self.pages = None
        self.first: dict | None = None

    @classmethod
    def sized(cls, spark, seed, size, workdir):
        return cls(spark, seed, SIZES[size]["pages"], SIZES[size]["replicas"], workdir)

    # -- untraced path: the top-level entry point only ----------------------

    def setup(self) -> None:
        if self.pages is not None:
            self.pages.unpersist()
        self.pages = synthesize_pages(
            self.spark, self.n_pages, seed=self.seed, replicas=self.replicas
        ).persist()
        self.pages.count()

    def prepare(self) -> None:
        shutil.rmtree(self.state_dir, ignore_errors=True)

    def _tick(self, tracer=None, run_id: int = 0) -> dict:
        with captured_crawl(tracer) as box:
            r = cadence.crawl_tick(
                self.spark, self.state_dir, pages=self.pages, run_id=run_id,
                n_shards=N_SHARDS, boards=self.boards,
                pages_per_round=PAGES_PER_ROUND,
            )
        res = box["result"]
        return {
            "posts": r["extracted"],
            "list_pages": sum(m["list_pages"] for m in res.metrics),
            "result": res,
        }

    def run_pass(self) -> dict:
        return self._tick()

    def items(self, out: dict) -> int:
        return out["list_pages"] + out["posts"]

    def check(self, out: dict) -> list[str]:
        """Every extracted ``content`` equals the generator's ``text`` for
        that URL, URLs are unique, and the counts repeat across passes."""
        ext = self.spark.read.parquet(os.path.join(self.state_dir, "extracted/run=0"))
        row = (
            ext.select("url", "content")
            .join(self.pages.select("url", "text"), "url", "left")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("url").alias("urls"),
                F.coalesce(
                    F.sum((~F.col("content").eqNullSafe(F.col("text"))).cast("long")),
                    F.lit(0),
                ).alias("bad"),
            )
            .first()
        )
        errs = []
        if self.n_pages and row["n"] == 0:
            errs.append("no posts extracted")
        if row["n"] != out["posts"]:
            errs.append(f"tick reported {out['posts']} posts, parquet holds {row['n']}")
        if row["urls"] != row["n"]:
            errs.append(f"{row['n'] - row['urls']} duplicate urls")
        if row["bad"]:
            errs.append(f"{row['bad']} posts whose content differs from the generator text")
        counts = {k: out[k] for k in ("posts", "list_pages")}
        if self.first is None:
            self.first = counts
        elif counts != self.first:
            errs.append(f"counts {counts} differ from the first pass {self.first}")
        return errs

    # -- traced path ---------------------------------------------------------

    def traced_pass(self, tracer) -> tuple[float, dict, dict]:
        """The same tick with spans, plus the per-round walls and stage
        counts the crawl records about itself. Returns (wall, out, metrics)."""
        with tracer.span("streaming.cadence.crawl_tick") as sp:
            out = self._tick(tracer)
        wall = sp["end"] - sp["start"]
        res = out["result"]
        with tracer.span("plans.crawl.metrics_table"):
            stages = res.metrics_table(self.spark).collect()

        ms = res.metrics
        round_walls = sum(m["wall_ms"] for m in ms) / 1000
        pool_s = res.setup_ms["t_pool_ms"] / 1000
        seen_dir = os.path.join(self.state_dir, "seen/v0")
        m = {
            "plans.crawl.rounds": res.rounds,
            "plans.crawl.pool_s": pool_s,
            "plans.crawl.build_s": sum(x["t_build_ms"] for x in ms) / 1000,
            "plans.crawl.round_job_s": sum(x["t_seen_ms"] for x in ms) / 1000,
            "plans.crawl.stale_wait_s": sum(x["t_stale_ms"] for x in ms) / 1000,
            "plans.crawl.terminal_s": wall - pool_s - round_walls,
            "plans.crawl.list_pages": out["list_pages"],
            "plans.crawl.candidates": stage_sum(stages, "list", "n_out"),
            "plans.crawl.selected": stage_sum(stages, "select", "n_out"),
            "plans.seen.dup_ratio": dup_ratio(stages),
            "plans.seen.keys": self.seen_keys(0),
            "plans.seen.state_bytes": dir_bytes(seen_dir),
            "streaming.cadence.bytes_written": dir_bytes(seen_dir)
            + dir_bytes(os.path.join(self.state_dir, "extracted/run=0")),
        }
        return wall, out, m

    def probes(self, tracer) -> tuple[dict, list[str]]:
        """Direct calls to the crawl's sub-step functions on this pass's
        inputs, then the pure-Python parser and bloom costs on fixed samples.
        A sub-step missing from the engine is reported absent, not failed."""
        spark, m, absent = self.spark, {}, []
        pool = spark.createDataFrame(
            [(list_url(b, p), b.encoding) for b in self.boards for p in range(b.max_pages)],
            "url string, encoding string",
        )
        posts = spark.read.parquet(
            os.path.join(self.state_dir, "extracted/run=0")
        ).select("url")

        parse = getattr(listparse_mod, "parse_list_pages", None)
        if parse is None:
            absent += ["operators.listparse.parse_s", "operators.listparse.pages",
                       "operators.listparse.candidates_per_page"]
        else:
            lists = self.pages.select("url", "html").join(F.broadcast(pool), "url")
            n_lists = lists.count()
            with tracer.span("operators.listparse.parse_list_pages") as sp:
                n_rows = parse(lists).count()
            m["operators.listparse.parse_s"] = sp["end"] - sp["start"]
            m["operators.listparse.pages"] = n_lists
            m["operators.listparse.candidates_per_page"] = n_rows / n_lists if n_lists else 0.0

        probe = getattr(seen_mod, "probe_and_update", None)
        if probe is None:
            absent.append("plans.seen.probe_update_s")
        else:
            with tracer.span("plans.seen.probe_and_update") as sp:
                probe(
                    posts.select(url_hash(F.col("url")).alias("url_hash")),
                    pool.select(url_hash(F.col("url")).alias("url_hash")),
                    seen_mod.empty_seen(spark, N_SHARDS), N_SHARDS,
                ).localCheckpoint(eager=True)
            m["plans.seen.probe_update_s"] = sp["end"] - sp["start"]

        with_extraction = getattr(extract_mod, "with_extraction", None)
        if with_extraction is None:
            absent += ["operators.extract.extract_s", "operators.extract.pages",
                       "operators.extract.ok_ratio"]
        else:
            detail = self.pages.select("url", "html").join(posts, "url", "left_semi")
            detail = detail.withColumn(
                "_site", extract_mod.site_expr(F.parse_url(F.col("url"), F.lit("HOST")))
            )
            with tracer.span("operators.extract.with_extraction") as sp:
                row = with_extraction(detail, site_col="_site").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum((F.col("status") == "ok").cast("long")), F.lit(0)).alias("ok"),
                ).first()
            m["operators.extract.extract_s"] = sp["end"] - sp["start"]
            m["operators.extract.pages"] = row["n"]
            m["operators.extract.ok_ratio"] = row["ok"] / row["n"] if row["n"] else 0.0

        with tracer.span("parsers.micro"):
            m.update(parser_costs(self.seed))
        with tracer.span("plans.bloom.micro"):
            m.update(bloom_costs(self.seed))
        m.update(self.recrawl(tracer))
        return m, absent

    def recrawl(self, tracer) -> dict:
        """A second tick (``run_id=1``) over the same snapshot, building on
        this pass's ``seen/v0``: the scheduled re-crawl, in which every
        detail candidate is already seen. It must extract nothing and keep
        every key of ``seen/v0``."""
        with tracer.span("streaming.cadence.recrawl_tick") as sp:
            out = self._tick(tracer, run_id=1)
        stages = out["result"].metrics_table(self.spark).collect()
        if out["posts"]:
            raise AssertionError(f"re-crawl extracted {out['posts']} posts, expected 0")
        if self.seen_keys(1) < self.seen_keys(0):
            raise AssertionError("re-crawl lost keys: seen/v1 holds fewer than seen/v0")
        return {
            "streaming.cadence.recrawl_s": sp["end"] - sp["start"],
            "streaming.cadence.recrawl_dup_ratio": dup_ratio(stages),
        }

    def seen_keys(self, run_id: int) -> int:
        seen = self.spark.read.parquet(os.path.join(self.state_dir, f"seen/v{run_id}"))
        return seen.agg(F.sum("n_keys")).first()[0] or 0


def stage_sum(stages, stage: str, col: str) -> int:
    """Sum of one column of ``metrics_table()`` over one stage's rows."""
    return sum(r[col] for r in stages if r["stage"] == stage)


def dup_ratio(stages) -> float:
    """Share of the seen stage's input keys that were already seen."""
    n_in = stage_sum(stages, "seen", "n_in")
    return stage_sum(stages, "seen", "n_dup") / n_in if n_in else 0.0


def _per_page_ms(fn, sample) -> float:
    """Loop ``fn`` over the sample until MICRO_MIN_S has passed."""
    n, t0 = 0, time.perf_counter()
    while True:
        for page in sample:
            fn(page)
        n += len(sample)
        dt = time.perf_counter() - t0
        if dt >= MICRO_MIN_S:
            return dt / n * 1000


def parser_costs(seed: int) -> dict:
    """Pure-Python cost of the detail-page parsers, without Spark, on the
    first PARSER_SAMPLE_PER_BOARD detail pages of every board."""
    layout = board_layout(SIZES["full"]["pages"])
    sample = []
    for sl in layout:
        for j in range(min(PARSER_SAMPLE_PER_BOARD, sl["n_detail"])):
            row = gen_row(sl["start"] + sl["n_pages"] + j, layout, seed)
            site = sites.site_of_host(row["url"].split("/")[2])
            sample.append((site, row["html"], row["url"]))
            got = sites.extract(site, row["html"], row["url"])
            if got.status != "ok" or got.content != row["text"]:
                raise AssertionError(f"parser output differs from the generator on {row['url']}")
    return {
        "parsers.sites.ms_per_page": _per_page_ms(lambda p: sites.extract(*p), sample),
        "parsers.dom.parse_ms_per_page": _per_page_ms(
            lambda p: dom.parse_html(sites.decode_html(p[0], p[1])), sample
        ),
    }


def bloom_costs(seed: int, repeats: int = 3) -> dict:
    """Per-key fold and probe cost of the seen filter's bloom, in process:
    BLOOM_KEYS seed-derived keys spread over N_SHARDS shards sized as the
    engine sizes them. Every probe is of a folded key, so all of them hit."""
    keys = np.random.default_rng(seed).integers(
        np.iinfo(np.int64).min, np.iinfo(np.int64).max, BLOOM_KEYS, dtype=np.int64
    )
    parts = [keys[keys % N_SHARDS == i] for i in range(N_SHARDS)]
    add, probe = [], []
    for _ in range(repeats):
        shards = [
            BloomShard.sized_for(seen_mod.DEFAULT_KEYS_PER_SHARD, seen_mod.DEFAULT_FPR)
            for _ in parts
        ]
        t0 = time.perf_counter()
        for s, k in zip(shards, parts):
            s.add(k)
        t1 = time.perf_counter()
        hits = sum(int(s.contains(k).sum()) for s, k in zip(shards, parts))
        t2 = time.perf_counter()
        if hits != BLOOM_KEYS:
            raise AssertionError(f"bloom false negatives: {BLOOM_KEYS - hits}")
        add.append((t1 - t0) / BLOOM_KEYS * 1e9)
        probe.append((t2 - t1) / BLOOM_KEYS * 1e9)
    return {
        "plans.bloom.add_ns_per_key": statistics.median(add),
        "plans.bloom.probe_ns_per_key": statistics.median(probe),
    }
