#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload crawl_fresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all                 # every workload, one process
    python3 perfbench/run.py --workload curate --smoke      # tiny inputs

Run it from the repository root. One run starts a ``local[nproc]`` Spark
session, sets the workload up ``SETUP_REPEATS`` times, then repeats timed
passes until ``--seconds`` have passed (a cold pass plus at least
``MIN_WARM`` warm ones), checking every pass's output. ``--trace 1``
interleaves traced passes with untraced ones and reports per-layer
metrics instead of end-to-end ones. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The full record
(settings, host drift, every wall, spans) goes to
``.perfbench/results/``. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
NEEDS = ("BENCHMARK.json", "politics_crawler_spark/session.py", "tools/gen_sf_measure.py")
WORKLOADS = ("crawl_fresh", "curate")
SETUP_REPEATS = 3
MIN_WARM = 2
DRIVER_MEM_CAP_MB = 2048


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    return p.parse_args(argv)


def pin_environment() -> None:
    """Fix what the session depends on before the JVM starts: core count,
    driver heap below physical memory, and every scratch dir inside the
    checkout."""
    from perfbench.host import cpu_count

    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = WORK / "tmp"
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_DRIVER_MEM": f"{min(DRIVER_MEM_CAP_MB, total_mb // 4)}m",
        "TMPDIR": str(tmp),
        # no hsperfdata file: the JVM would write it to /tmp whatever tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"], WORK / "results"):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)


def start_session():
    """Pin the environment, then start the ``local[nproc]`` session."""
    from perfbench.host import cpu_count
    from politics_crawler_spark.session import get_spark

    pin_environment()
    cpus = cpu_count()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_workload(name: str, spark, seed: int, size: str):
    from perfbench.crawl import CrawlFresh
    from perfbench.curate import Curate

    cls = {"crawl_fresh": CrawlFresh, "curate": Curate}[name]
    return cls.sized(spark, seed, size, str(WORK / "state" / name))


def make_bypassed(name: str, spark, seed: int):
    """The tier a workload does not use, bound to an empty input: its
    layers still report, as their cost on no data."""
    from perfbench.crawl import CrawlFresh
    from perfbench.curate import Curate

    workdir = str(WORK / "state" / f"{name}-bypassed")
    if name == "crawl_fresh":
        return Curate(spark, seed, 0, workdir)
    return CrawlFresh(spark, seed, 0, 1, workdir)


def hygiene(spark) -> None:
    """Free checkpoint blocks and broadcasts of the last pass (the
    ContextCleaner acts only once GC notices the dead references)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measure(spark, wl, seconds: float, min_warm: int, tracer=None) -> dict:
    """Timed passes until ``seconds`` have passed. Untraced: cold, warm,
    warm, ... With a tracer: cold, then untraced and traced passes in
    turn. Every pass's output is checked; a pass that raises ends the
    loop."""
    untraced, traced, errors, layer = [], [], [], {}
    attempted = failed = 0
    t0 = time.perf_counter()
    while True:
        is_traced = tracer is not None and len(untraced) >= 2 and len(traced) < len(untraced) - 1
        wl.prepare()
        attempted += 1
        try:
            if is_traced:
                wall, out, m = wl.traced_pass(tracer)
                layer = m
            else:
                t = time.perf_counter()
                out = wl.run_pass()
                wall = time.perf_counter() - t
            errs = wl.check(out)
        except Exception:
            errors.append(traceback.format_exc())
            failed += 1
            break
        (traced if is_traced else untraced).append(wall)
        if errs:
            failed += 1
            errors.extend(errs)
        hygiene(spark)
        enough = len(untraced) >= 1 + min_warm and (tracer is None or traced)
        if enough and time.perf_counter() - t0 >= seconds:
            break
    return {
        "untraced": untraced, "traced": traced, "attempted": attempted,
        "failed": failed, "errors": errors, "layer": layer,
        "items": wl.items(out) if untraced else 0,
    }


def layer_values(spark, name, wl, seed, setups, res, tracer) -> tuple[dict, list]:
    """Per-layer metrics: the last traced pass, the workload's sub-step
    probes, the tracing overhead, and the bypassed tier on empty input."""
    values = dict(res["layer"])
    m, absent = wl.probes(tracer)
    values.update(m)
    values["trace.overhead_s"] = (
        statistics.median(res["traced"]) - statistics.median(res["untraced"][1:])
    )
    bypassed = make_bypassed(name, spark, seed)
    with tracer.span("perfbench.bypassed_tier"):
        t = time.perf_counter()
        bypassed.setup()
        bypassed_setup = time.perf_counter() - t
        bypassed.prepare()
        values.update(bypassed.traced_pass(tracer)[2])
        m, more_absent = bypassed.probes(tracer)
    values.update(m)
    for tier, wall in ((wl, statistics.median(setups)), (bypassed, bypassed_setup)):
        if tier.setup_metric:
            values[tier.setup_metric] = wall
    return values, absent + more_absent


def run_workload(spark, wl, args, session_s: float, rss) -> dict:
    """Set ``wl`` up, measure it, and write the run record. ``--smoke``
    sets up once and needs one warm pass."""
    from perfbench.host import Tracer, host_drift, host_sample, run_settings

    name = wl.name
    start = host_sample()
    setups = []
    for _ in range(1 if args.smoke else SETUP_REPEATS):
        t = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t)
    tracer = Tracer() if args.trace else None
    min_warm = 1 if args.smoke else MIN_WARM
    res = measure(spark, wl, args.seconds, min_warm, tracer)
    values: dict = {}
    absent: list[str] = []
    warm = res["untraced"][1:]
    if tracer is None:
        if warm:
            values = {
                "setup_s": session_s + statistics.median(setups),
                "cold_pass_s": res["untraced"][0],
                "pass_s": statistics.median(warm),
                "items_per_s": res["items"] / statistics.median(warm),
                "peak_rss_mb": rss.peak_kb / 1024.0,
            }
    elif res["traced"] and not res["failed"]:
        try:
            values, absent = layer_values(spark, name, wl, args.seed, setups, res, tracer)
        except Exception:
            res["errors"].append(traceback.format_exc())
            res["failed"] += 1
    stem = WORK / "results" / f"{name}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "settings": run_settings(spark),
        "host": host_drift(start, host_sample()),
        "session_s": session_s, "setup_walls": setups,
        "pass_walls": res["untraced"], "traced_walls": res["traced"],
        "attempted": res["attempted"], "failed": res["failed"],
        "errors": res["errors"], "values": values, "absent": absent,
    }
    if tracer is not None:
        tracer.dump(f"{stem}-spans.json")
    with open(f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1)
    return record


def report(records: list[dict], trace: int) -> dict:
    """Print every metric with its unit, then return the result object."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = spec["per_layer" if trace else "end_to_end"]
    prefix = len(records) > 1
    metrics = {}
    for rec in records:
        name = rec["workload"]
        for err in rec["errors"]:
            print(f"[{name}] CHECK FAILED: {err}", file=sys.stderr)
        for m in listed:
            key = f"{name}.{m['name']}" if prefix else m["name"]
            if m["name"] in rec["values"]:
                metrics[key] = {"value": rec["values"][m["name"]], "unit": m["unit"]}
                print(f"{name:12s} {m['name']:40s} {rec['values'][m['name']]:14.6g} {m['unit']}")
            elif m["name"] not in rec["absent"]:
                rec["errors"].append(f"metric {m['name']} was not measured")
        for a in rec["absent"]:
            print(f"{name:12s} {a:40s} {'absent':>14s}")
        print(f"{name:12s} {'fail_ratio':40s} {rec['failed'] / max(1, rec['attempted']):14.6g} "
              f"({rec['failed']}/{rec['attempted']} passes)")
        print(f"{name:12s} settings {json.dumps(rec['settings'])} host {json.dumps(rec['host'])}")
    return {
        "correct": all(not r["errors"] for r in records),
        "attempted": sum(r["attempted"] for r in records),
        "failed": sum(r["failed"] for r in records),
        "metrics": metrics,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in NEEDS if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing} under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.host import RssSampler

    rss = RssSampler().start()
    t = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t
    try:
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        size = "smoke" if args.smoke else "full"
        records = [
            run_workload(spark, make_workload(n, spark, args.seed, size), args, session_s, rss)
            for n in names
        ]
    finally:
        stop_session(spark)
        rss.stop()
    result = report(records, args.trace)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
