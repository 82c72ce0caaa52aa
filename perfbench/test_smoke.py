"""Smoke tests for the benchmark at tiny sizes: the output checks pass on
this tree and catch a corrupted result, the result line has the shape the
benchmark contract asks for, and a directory without the engine sources
exits non-zero without printing a result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys

import pytest

from perfbench import run

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark():
    return run.start_session()


def _run(spark, name, trace):
    from perfbench.host import RssSampler

    args = run.parse_args(["--workload", name, "--smoke", "--seconds", "0",
                           "--trace", str(trace), "--seed", "5"])
    wl = run.make_workload(name, spark, args.seed, "smoke")
    rss = RssSampler().start()
    try:
        rec = run.run_workload(spark, wl, args, 1.0, rss)
    finally:
        rss.stop()
    return wl, rec, run.report([rec], trace)


def _assert_shape(result, section):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert set(m) == {"value", "unit"} and m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))


def test_curate_traced(spark):
    """Curate with tracing also runs the crawl tier on an empty snapshot,
    so every per-layer metric is reported."""
    wl, rec, result = _run(spark, "curate", 1)
    _assert_shape(result, "per_layer")
    assert result["metrics"]["plans.crawl.list_pages"]["value"] > 0
    assert result["metrics"]["operators.extract.pages"]["value"] == 0
    assert result["metrics"]["operators.dedup.candidate_pairs"]["value"] > 0
    out = {k: wl.first[k] for k in ("shards", "docs", "tokens")}
    assert not wl.check(out)
    assert wl.check({**out, "tokens": out["tokens"] + 1})


def test_crawl_fresh_untraced(spark):
    wl, rec, result = _run(spark, "crawl_fresh", 0)
    _assert_shape(result, "end_to_end")
    assert all(result["metrics"][m]["value"] > 0 for m in result["metrics"])
    # a pass whose reported counts disagree with what it wrote fails its check
    bad = {**wl.first, "posts": wl.first["posts"] + 1}
    assert wl.check(bad)


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copytree(run.ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(run.ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "curate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
