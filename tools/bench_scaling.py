"""Two-cluster-size scaling evidence (BASELINE.json north_rule, sandbox
plan per BASELINE.md): run the identical job at a ladder of local[N]
parallelism levels on the same on-disk input, each in its own JVM with
the whole process tree taskset-pinned to exactly N cores (the sandbox
stand-in for N-executor vs 4N-executor clusters), and report throughput at
every level plus scaling efficiency for the N→4N pair.

Usage:
  python tools/bench_scaling.py [pages]                  # crawl, extract
  python tools/bench_scaling.py [docs] dupngram lmscore  # curation tier

Modes are tools/scaling_job.py's. The crawl modes write
BENCH_SCALING.json; the curation modes (training-data operators on a
synthetic corpus) write BENCH_SCALING_CURATION.json. Each leg's results so
far are kept in `<output>.partial.json` while the ladder runs.

The headline pair is 2→8 pinned cores — the per-node operating point that
multiplies across a real cluster's nodes. 8→32 on this single box runs
into its measured memory-bandwidth ceiling (~85-105k pages/s box-wide
regardless of topology; see BASELINE.md round-1 control experiments) and is
reported separately as the saturation pair when run with LADDER=[8,32].
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LADDER = [2, 8]
CURATION_MODES = ("dupngram", "lmscore")

# Fresh-JVM invocations per leg, legs ALTERNATING, best-of-all-trials per
# leg (3 in-JVM trials each). Rationale, measured: the first in-JVM trial
# pays ~15 s of JIT/codegen warmup, while long-lived JVMs accumulate
# checkpoint-block/GC churn that can triple a late crawl trial's seen-stage
# wall (extract-mode trials in the same JVM stay ±3%, so it is session
# state, not host noise) — a fresh JVM per invocation bounds the churn,
# repeat=3 inside gives one warmed trial, and alternation makes host drift
# hit both legs equally. The curation operators showed 10×+ cold-trial
# inflation (JIT + cold page cache), so they get best-of-6.
INVOCATIONS = {"crawl": 3, "extract": 1, "dupngram": 2, "lmscore": 2}


def job(argv: list[str], cpus: int | None = None) -> dict:
    # Pin the whole process tree (JVM + Python UDF workers) to exactly
    # `cpus` cores — local[N] alone schedules N tasks but the JVM scan
    # threads and N python workers together use ~2N cores, which would
    # inflate the small-N baseline and understate scaling efficiency.
    pin = ["taskset", "-c", f"0-{cpus - 1}"] if cpus else []
    out = subprocess.run(
        pin + [sys.executable, "tools/scaling_job.py", *argv],
        capture_output=True, text=True, cwd=ROOT, timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(f"[scaling_job {argv} rc={out.returncode}]\n")
        sys.stderr.write(out.stderr[-4000:] + "\n")
        raise RuntimeError("scaling job produced no result line")
    return json.loads(lines[-1])


def ladder_for(mode: str, size: int, snapshot: str, partial: str) -> dict:
    size_arg = "--docs" if mode in CURATION_MODES else "--pages"
    rate = "docs_per_sec" if mode in CURATION_MODES else "urls_per_sec"
    ladder: dict = {}
    walls: dict = {f"local{c}": [] for c in LADDER}
    for inv in range(INVOCATIONS[mode]):
        for cpus in LADDER:
            r = job(["--cpus", str(cpus), size_arg, str(size), "--mode", mode,
                     "--read-snapshot", snapshot, "--repeat", "3"], cpus)
            key = f"local{cpus}"
            walls[key].extend(r["trial_walls"])
            if key not in ladder or r["wall_sec"] < ladder[key]["wall_sec"]:
                ladder[key] = r
            print(json.dumps({"mode": mode, "invocation": inv, "cpus": cpus,
                              "wall_sec": r["wall_sec"],
                              "trial_walls": r["trial_walls"],
                              rate: r[rate]}), flush=True)
            # persist after EVERY leg: a killed/timed-out ladder keeps
            # the legs it paid for (a degraded-host run taught this)
            with open(partial, "w") as f:
                json.dump({"mode": mode, "ladder": ladder, "walls": walls,
                           "size": size}, f, indent=1)
    for key in ladder:
        ladder[key]["all_trial_walls"] = walls[key]
    effs = {
        f"{lo}to{hi}": round(
            (ladder[f"local{hi}"][rate] / ladder[f"local{lo}"][rate]) / (hi / lo), 3)
        for lo, hi in zip(LADDER, LADDER[1:])
    }
    print(json.dumps({"mode": mode, "efficiency": effs}))
    return {"ladder": ladder, "scaling_efficiency": effs}


def main():
    args = sys.argv[1:]
    curation = any(a in CURATION_MODES for a in args)
    size = next((int(a) for a in args if a.isdigit()),
                1_200_000 if curation else 4_800_000)
    modes = [a for a in args if not a.isdigit()] or ["crawl", "extract"]
    if curation and not set(modes) <= set(CURATION_MODES):
        sys.exit("crawl and curation modes need separate ladders")
    kind, size_arg = ("docs", "--docs") if curation else ("pages", "--pages")
    # the shared on-disk parquet snapshot, written once (untimed)
    snapshot = os.path.join(tempfile.gettempdir(), f"{kind}_snapshot_{size}")
    if not os.path.exists(snapshot + "/_SUCCESS"):
        job(["--cpus", "24", size_arg, str(size), "--mode", modes[0],
             "--write-snapshot", snapshot])

    name = "BENCH_SCALING_CURATION" if curation else "BENCH_SCALING"
    results: dict = {}
    for mode in modes:
        results[mode] = ladder_for(
            mode, size, snapshot, os.path.join(ROOT, f"{name}.partial.json"))
    if curation:
        results["docs"] = size
    with open(os.path.join(ROOT, f"{name}.json"), "w") as f:
        json.dump(results, f, indent=2)


if __name__ == "__main__":
    main()
