"""End-to-end crawl tests: byte identity, filter semantics, dedup, ordering
equivalence vs the independent reference simulator, and checkpoint resume."""

import contextlib
import dataclasses
import datetime as dt

import pytest
from pyspark.sql import functions as F

from politics_crawler_spark.config import ENABLED_BOARDS, RUN_DATE
from politics_crawler_spark.plans import seen as seen_mod
from politics_crawler_spark.plans.crawl import run_crawl

from .ref_simulator import simulate


@pytest.fixture(scope="module")
def crawl_result(spark, pages_df):
    res = run_crawl(spark, pages_df, n_shards=8, keep_lineage=True)
    res.extracted.cache().count()
    return res


def test_crawl_content_byte_identical(crawl_result, pages_df):
    joined = crawl_result.extracted.join(
        pages_df.select("url", F.col("text").alias("expected")), on="url"
    )
    assert joined.count() == crawl_result.extracted.count()
    assert joined.filter(F.col("content") != F.col("expected")).count() == 0


def test_list_pool_one_partition_per_core(spark, crawl_result):
    """The staged list-page pool is hashed into one partition per core:
    every list-parse task pays a Python worker round trip whatever its
    rows, so more tasks than cores only add that cost."""
    pools = [c for c in crawl_result.caches if c.columns == ["url", "html"]]
    assert len(pools) == 1
    assert pools[0].rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_terminal_semi_join_broadcasts_survivors(crawl_result):
    """Each round's `selected ⋉ survivors` semi-join broadcasts the survivor
    keys (at most the round's selected rows), so the terminal plan neither
    sort-merge joins nor shuffles on url_hash."""
    plan = crawl_result.extracted._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(url_hash" not in plan


def test_crawl_filters(crawl_result):
    ext = crawl_result.extracted
    # F4: every extracted post dated today
    run = dt.date.fromisoformat(RUN_DATE)
    assert ext.filter(F.to_date("date") != F.lit(run)).count() == 0
    # F6: only ok status
    assert ext.filter(F.col("status") != "ok").count() == 0
    # D1: no duplicate urls
    assert ext.count() == ext.select("url").distinct().count()
    # F3: views >= per-board min (min over extracted rows per community)
    cfg = {b.community: b.min_views for b in ENABLED_BOARDS}
    for row in ext.groupBy("community").agg(F.min("views").alias("mn")).collect():
        floor = min(
            v for k, v in cfg.items() if k == row.community
        )  # duplicate community codes (6p, 1p): weakest floor applies
        assert row.mn >= floor


def test_frontier_equivalence_with_reference_simulator(crawl_result, pages_pdf):
    pages_map = dict(zip(pages_pdf["url"], pages_pdf["html"]))
    sim_order, sim_seen = simulate(pages_map, ENABLED_BOARDS, RUN_DATE)

    got = {r.url for r in crawl_result.extracted.select("url").collect()}
    assert got == sim_seen

    # ordering equivalence under the deterministic priority key
    eng = [
        r.url
        for r in crawl_result.extracted.orderBy("site_rank", "page_no", "row_idx")
        .select("url")
        .collect()
    ]
    sim = [u for (_, _, _, u) in sorted(sim_order)]
    assert eng == sim


def test_replay_staleness_carries_streak_across_rounds():
    """P9 on the driver: a stale streak carries into the next round's
    slice, the board stops on the page where it reaches stop_n (here the
    first page of round 2), and the page budget stops a board too. The
    returned count covers the whole fetched slice."""
    from politics_crawler_spark.config import BoardConfig
    from politics_crawler_spark.plans.crawl import BoardState, _replay_staleness

    a = BoardConfig("a", "1", "dcinside", "h", 0, 9, 1.0, 2, "utf-8", 0)
    b = BoardConfig("b", "2", "dcinside", "h", 0, 4, 1.0, 5, "utf-8", 1)
    state = {"a": BoardState(), "b": BoardState()}
    counts = {("a", 1): 3, ("b", 0): 1, ("b", 3): 2}
    assert _replay_staleness([a, b], state, 3, counts) == {"a": (2, 3), "b": (2, 1)}
    assert state["a"] == BoardState(page_no=3, stale=1, active=True)
    assert state["b"] == BoardState(page_no=3, stale=2, active=True)
    counts = {("a", 4): 7, ("b", 3): 2}
    assert _replay_staleness([a, b], state, 3, counts) == {"a": (3, 7), "b": (3, 2)}
    assert state["a"] == BoardState(page_no=4, stale=2, active=False)
    assert state["b"] == BoardState(page_no=4, stale=0, active=False)  # budget
    assert _replay_staleness([a, b], state, 3, counts) == {}


def test_seen_filter_unit(spark):
    cand = spark.createDataFrame([(i,) for i in range(100)], "url_hash long")
    no_keys = spark.createDataFrame([], "url_hash long")
    seen0 = seen_mod.empty_seen(spark, 4)

    def probe(cand_keys, list_keys, seen):
        return seen_mod.split_probe_update(
            seen_mod.probe_and_update(cand_keys, list_keys, seen, 4)
            .localCheckpoint(eager=True)
        )

    out0, _ = probe(cand, no_keys, seen0)
    assert out0.count() == 100  # nothing seen yet
    _, seen1 = probe(no_keys, cand.filter(F.col("url_hash") < 50), seen0)
    out1, _ = probe(cand, no_keys, seen1)
    survivors = {r.url_hash for r in out1.collect()}
    assert survivors.issubset(set(range(50, 100)))  # no false negatives
    assert len(survivors) >= 45  # fpr small
    # version monotonicity on touched shards
    v = {r.shard_id: r.version for r in seen1.collect()}
    assert all(ver >= 0 for ver in v.values()) and max(v.values()) == 1
    # list keys fold into the table but are never returned as survivors
    lst = spark.createDataFrame([(i,) for i in range(1000, 1020)], "url_hash long")
    out2, seen2 = probe(cand.filter(F.col("url_hash") >= 50), lst, seen1)
    assert {r.url_hash for r in out2.collect()} <= set(range(50, 100))
    again, _ = probe(lst, no_keys, seen2)
    assert again.count() == 0


def first_pages_boards(max_pages):
    """ENABLED_BOARDS with each P8 page budget cut to ``max_pages``: a
    crawl with ``pages_per_round >= max_pages`` runs one round."""
    return [
        dataclasses.replace(b, max_pages=min(b.max_pages, max_pages))
        for b in ENABLED_BOARDS
    ]


class _Killed(Exception):
    """The crawl process dying inside a round commit."""


@contextlib.contextmanager
def killed_after_commits(n):
    """The crawl run in the body dies right after its ``n``-th round
    commit: the next round writes its banks and seen table, then the
    process is killed before state.json names that round."""
    from politics_crawler_spark.plans import crawl

    publish, commits = crawl.publish_json, []

    def dying_publish(directory, obj):
        if len(commits) == n:
            raise _Killed
        publish(directory, obj)
        commits.append(obj["round"])

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl, "publish_json", dying_publish)
        with pytest.raises(_Killed):
            yield


def _assert_metrics_flow(spark, res, n_out):
    """METRICS flow conservation: per round, extraction takes exactly the
    seen stage's survivors and filters a non-negative count; the extract
    rows sum to the output rows. Call after the terminal action."""
    mt = res.metrics_table(spark).collect()
    seen = {r.round: r for r in mt if r.stage == "seen"}
    ext = [r for r in mt if r.stage == "extract"]
    assert sorted(r.round for r in ext) == sorted(seen) == list(range(res.rounds))
    for r in ext:
        assert r.n_in == seen[r.round].n_out
        assert r.n_filtered >= 0
    assert sum(r.n_out for r in ext) == n_out


@pytest.mark.parametrize("keep_lineage", [False, True], ids=["plain", "lineage"])
def test_checkpoint_resume_identical(spark, pages_df, pages_pdf, tmp_path,
                                     crawl_result, keep_lineage):
    """A crawl killed after two committed rounds and resumed yields the
    uninterrupted run's posts; with lineage on, the resumed output keeps
    the lineage columns and the reference simulator's crawl order, and the
    METRICS table covers every round, the inherited ones included."""
    from politics_crawler_spark.plans.crawl import read_json

    ck = str(tmp_path / "ck")
    with killed_after_commits(2):
        run_crawl(
            spark, pages_df, n_shards=8, checkpoint_dir=ck,
            pages_per_round=2, keep_lineage=keep_lineage,
        )
    assert read_json(ck)["round"] == 1
    resumed = run_crawl(
        spark, pages_df, n_shards=8, checkpoint_dir=ck, pages_per_round=2,
        keep_lineage=keep_lineage,
    )
    full = {r.url for r in crawl_result.extracted.select("url").collect()}
    got = resumed.extracted.collect()
    assert {r.url for r in got} == full
    _assert_metrics_flow(spark, resumed, len(got))
    if keep_lineage:
        pages_map = dict(zip(pages_pdf["url"], pages_pdf["html"]))
        sim_order, _ = simulate(pages_map, ENABLED_BOARDS, RUN_DATE)
        eng = [r.url for r in sorted(got, key=lambda r: (r.site_rank, r.page_no, r.row_idx))]
        assert eng == [u for (_, _, _, u) in sorted(sim_order)]
    for c in resumed.caches:
        c.unpersist()


def test_sweep_orphans_covers_live_commits(tmp_path):
    """A kill inside a live round's commit can leave ``candidates``,
    ``pages`` and ``seen`` dirs newer than state.json. The resume sweep
    removes all three orphans and keeps every committed round's dirs."""
    import os

    from politics_crawler_spark.plans.crawl import _sweep_orphans, publish_json, read_json

    ck = str(tmp_path / "ck")
    dirs = {
        k: [f"candidates/round={k}", f"pages/round={k}", f"seen/v{k}"] for k in range(3)
    }
    for d in sum(dirs.values(), []):
        os.makedirs(os.path.join(ck, d, "part-0.parquet"))
    publish_json(ck, {"round": 1})
    _sweep_orphans(ck, read_json(ck)["round"])
    for k, ds in dirs.items():
        for d in ds:
            assert os.path.isdir(os.path.join(ck, d)) == (k <= 1), d


def test_checkpoint_resume_with_orphan_round(spark, pages_df, tmp_path, crawl_result):
    """Kill-inside-commit window: a round=K dir written AFTER the last
    state.json rename (orphan) must be ignored AND cleaned on resume —
    otherwise its pinned file listing collides with round K's recompute."""
    import os
    import shutil

    from politics_crawler_spark.plans.crawl import read_json

    ck = str(tmp_path / "ck_orphan")
    with killed_after_commits(2):
        run_crawl(spark, pages_df, n_shards=8, checkpoint_dir=ck, pages_per_round=2)
    # the kill left round 2's parquet written and state.json NOT advanced;
    # poison the orphans with round 1's artifacts
    assert read_json(ck)["round"] == 1
    for orphan, src in (("candidates/round=2", "candidates/round=1"), ("seen/v2", "seen/v1")):
        shutil.rmtree(os.path.join(ck, orphan))
        shutil.copytree(os.path.join(ck, src), os.path.join(ck, orphan))

    resumed = run_crawl(
        spark, pages_df, n_shards=8, checkpoint_dir=ck, pages_per_round=2
    )
    full = {r.url for r in crawl_result.extracted.select("url").collect()}
    got = [r.url for r in resumed.extracted.select("url").collect()]
    assert set(got) == full
    assert len(got) == len(full)  # no duplicated rows from the orphan


def test_comments_populated_for_l10_sites(crawl_result):
    """L10: comment counts flow through for instiz/clien/82cook only."""
    ext = crawl_result.extracted
    with_c = ext.filter(F.col("community").isin("3", "4", "8"))
    if with_c.count() > 0:
        assert with_c.filter(F.col("comments").isNull()).count() == 0
    others = ext.filter(~F.col("community").isin("3", "4", "8"))
    assert others.filter(F.col("comments").isNotNull()).count() == 0


def test_theqoo_replynum_stored_as_recommend(crawl_result):
    """theqoo quirk frozen from the reference: Recommend carries the list
    row's a.replyNum count (theqoo_hotboard.py:145-147,160). Ground truth
    reconstructed from the deterministic generator."""
    from politics_crawler_spark.sources.synthetic_pages import (
        board_layout,
        detail_url,
        post_attrs,
    )

    layout = board_layout(2500)
    expected = {}
    for sl in layout:
        b = sl["board"]
        if b.site != "theqoo":
            continue
        for j in range(sl["n_detail"]):
            a = post_attrs(b, j, sl["n_detail"], 42)
            expected[detail_url(b, a["post_no"])] = a["comments"]
    rows = crawl_result.extracted.filter(F.col("community") == "2").collect()
    assert rows, "no theqoo rows extracted"
    for r in rows:
        assert r.recommend == expected[r.url], (r.url, r.recommend)


def test_bobaedream_post_id_from_ipadd(crawl_result):
    """bobaedream post ids come from the detail page's ipAdd widget (which
    the generator renders with the true id), matching the URL-derived id."""
    rows = crawl_result.extracted.filter(F.col("community").isin("7", "7p")).collect()
    assert rows, "no bobaedream rows extracted"
    import re

    for r in rows:
        assert r.post_id == re.search(r"No=(\d+)", r.url).group(1)


def test_frontier_equivalence_wide_frontier(spark):
    """Ordering/set equivalence also holds on a replicated (wide) frontier
    — the configuration the scale benchmarks run."""
    from politics_crawler_spark.schemas import PAGES
    from politics_crawler_spark.sources.synthetic_pages import (
        crawl_boards,
        synthesize_pages_pandas,
    )

    pdf = synthesize_pages_pandas(3000, replicas=3)
    boards = crawl_boards(3)
    df = spark.createDataFrame(pdf, schema=PAGES).cache()
    res = run_crawl(spark, df, boards=boards, n_shards=8, keep_lineage=True)

    pages_map = dict(zip(pdf["url"], pdf["html"]))
    sim_order, sim_seen = simulate(pages_map, boards, RUN_DATE)
    got = {r.url for r in res.extracted.select("url").collect()}
    assert got == sim_seen
    eng = [
        r.url
        for r in res.extracted.orderBy("site_rank", "page_no", "row_idx")
        .select("url")
        .collect()
    ]
    assert eng == [u for (_, _, _, u) in sorted(sim_order)]
    df.unpersist()


def test_metrics_table_from_observations(spark, pages_df):
    """A2 METRICS surface: per-round x per-stage rows fed by the crawl's
    own Observations (VERDICT r2 #9) — counts must reconcile with the
    actual output, stage flows must be conserved."""
    res = run_crawl(spark, pages_df, n_shards=8)
    n_out = res.extracted.count()  # terminal action resolves observations
    mt = res.metrics_table(spark, run_id="t1").collect()
    # 4 stage rows per round — the terminal observation's
    # per-round metric expressions attribute extraction back to the round
    # that selected the candidates (VERDICT r3 #5; no round=-1 rows)
    assert len(mt) == 4 * res.rounds
    assert all(r.round >= 0 for r in mt)
    by = {}
    for r in mt:
        assert r.run_id == "t1"
        by.setdefault(r.stage, []).append(r)
    # flow conservation per round: list.n_out = select.n_in,
    # select.n_out = seen.n_in = extract.n_in
    for rnd in range(res.rounds):
        rowz = {r.stage: r for r in mt if r.round == rnd}
        assert rowz["list"].n_out == rowz["select"].n_in
        assert rowz["select"].n_out == rowz["seen"].n_in
        assert rowz["select"].n_filtered == rowz["select"].n_in - rowz["select"].n_out
        assert rowz["seen"].n_dup == rowz["seen"].n_in - rowz["seen"].n_out
        assert rowz["extract"].n_in == rowz["seen"].n_out
    # extract rows reconcile exactly with the terminal output
    assert sum(r.n_in for r in by["extract"]) == sum(r.n_out for r in by["seen"])
    assert sum(r.n_out for r in by["extract"]) == n_out
    for c in res.caches:
        c.unpersist()


def test_crawl_tick_metrics_count_each_post_once(spark, pages_df, tmp_path, monkeypatch):
    """A scheduled tick writes the sorted crawl output, and the sort samples
    its input in a job of its own before shuffling it. The METRICS extract
    rows must still count every written post once: extract n_out equals the
    rows in extracted/run=k, and no round filters a negative count."""
    import os

    from politics_crawler_spark.streaming import cadence

    box = {}

    def capture(*args, **kw):
        box["res"] = run_crawl(*args, **kw)
        return box["res"]

    monkeypatch.setattr(cadence, "run_crawl", capture)
    state = str(tmp_path / "state")
    tick = cadence.crawl_tick(spark, state, pages=pages_df, n_shards=8)
    written = spark.read.parquet(
        os.path.join(state, f"extracted/run={tick['run']}")
    ).count()
    ext = [r for r in box["res"].metrics_table(spark).collect() if r.stage == "extract"]
    assert written == tick["extracted"] > 0
    assert sum(r.n_out for r in ext) == written
    assert all(r.n_filtered >= 0 for r in ext)


def test_metrics_table_bogus_key_raises(spark, pages_df):
    """The empty-round guard must stay NARROW (VERDICT r3 #6): only a
    missing CollectMetrics node (PropagateEmptyRelation on an empty round)
    reads as zero; asking a resolved observation for a key it never
    computed is a genuine bug and must raise, not silently read 0."""
    import pytest

    res = run_crawl(spark, pages_df, n_shards=8, boards=first_pages_boards(16))
    res.extracted.count()
    # relabel the one round so metrics_table asks the (resolved) terminal
    # observation for metric keys that were never registered
    assert res.extract_obs is not None and len(res.metrics) == 1
    res.metrics[0]["round"] = 9999
    with pytest.raises(KeyError):
        res.metrics_table(spark).collect()
    for c in res.caches:
        c.unpersist()


def test_round_counts_are_plain_values(spark, pages_df, tmp_path):
    """Every round's list/select/seen counts are plain integers in its
    ``metrics`` entry when run_crawl returns, before any terminal action,
    and each round commit (state.json) carries them. A resumed crawl's rows
    for the inherited rounds come from state.json's metrics alone."""
    import json
    import os

    from politics_crawler_spark.plans.crawl import read_json

    ck = str(tmp_path / "ck")
    with killed_after_commits(2):
        run_crawl(spark, pages_df, n_shards=8, checkpoint_dir=ck, pages_per_round=2)
    state = read_json(ck)
    counts = [(m["candidates"], m["selected"], m["unseen"]) for m in state["metrics"]]
    assert len(counts) == 2 and "stages" not in state
    for c in counts:
        assert all(type(v) is int for v in c)
        assert c[0] >= c[1] >= c[2] > 0
    # plant a count only state.json knows
    state["metrics"][0]["candidates"] += 1000
    with open(os.path.join(ck, "state.json"), "w") as f:
        json.dump(state, f)

    resumed = run_crawl(
        spark, pages_df, n_shards=8, checkpoint_dir=ck, pages_per_round=2
    )
    assert resumed.rounds > 2
    for m in resumed.metrics:
        assert all(type(m[k]) is int for k in ("candidates", "selected", "unseen"))
    resumed.extracted.count()
    rows = {(r.round, r.stage): r for r in resumed.metrics_table(spark).collect()}
    assert rows[(0, "list")].n_out == rows[(0, "select")].n_in == counts[0][0] + 1000
    for rnd, (n_cand, n_sel, n_uns) in enumerate(counts):
        assert rows[(rnd, "select")].n_out == rows[(rnd, "seen")].n_in == n_sel
        assert rows[(rnd, "seen")].n_out == rows[(rnd, "extract")].n_in == n_uns
    for c in resumed.caches:
        c.unpersist()
