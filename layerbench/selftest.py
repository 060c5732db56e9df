#!/usr/bin/env python3
"""Self-test of the benchmark harness: a short end-to-end run of every workload.

    python3 layerbench/selftest.py

Checks, on small inputs (--short 1):
  * every workload prints a last line with exactly correct/attempted/failed/metrics,
    every end-to-end metric (untraced) and every per-layer metric (traced)
    of BENCHMARK.json with its unit, and passes its correctness gate;
  * the traced run writes its span file;
  * a deliberately throwing registry entry is counted as failed and left out
    of pass_s, entry_geomean_s and the entry latencies;
  * in a directory holding only BENCHMARK.json and the benchmark, the runner
    exits non-zero without printing a result.
Exits 1 on the first failed check.
"""
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ARTIFACTS = os.path.join(HERE, ".run", "artifacts")
SECONDS = "3"


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def run(cwd, *args):
    p = subprocess.run([sys.executable, os.path.join(cwd, "layerbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def result(lines):
    r = json.loads(lines[-1])
    check(sorted(r) == ["attempted", "correct", "failed", "metrics"], "result keys are exactly correct/attempted/failed/metrics")
    return r


def metrics_match(r, specs, what):
    names = [m["name"] for m in specs]
    check(sorted(r["metrics"]) == sorted(names), f"{what}: every metric of BENCHMARK.json is printed, and no other")
    for m in specs:
        v = r["metrics"][m["name"]]
        check(v["unit"] == m["unit"] and isinstance(v["value"], (int, float)) and math.isfinite(v["value"]),
              f"{what}: {m['name']} = {v['value']} {v['unit']}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (x["name"] for x in bench["workloads"]):
        rc, lines, err = run(ROOT, "--workload", w, "--seed", "1", "--seconds", SECONDS, "--trace", "0", "--short", "1")
        check(rc == 0, f"{w}: untraced run exits 0 ({err.strip()[-300:]})")
        r = result(lines)
        check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, f"{w}: correctness gate passes, 0 failed")
        metrics_match(r, bench["end_to_end"], f"{w} untraced")
        check(all(r["metrics"][m]["value"] > 0 for m in r["metrics"]), f"{w}: no end-to-end metric reads 0")
        rc, lines, err = run(ROOT, "--workload", w, "--seed", "1", "--seconds", SECONDS, "--trace", "1", "--short", "1")
        check(rc == 0, f"{w}: traced run exits 0 ({err.strip()[-300:]})")
        r = result(lines)
        check(r["correct"], f"{w}: traced run passes its gate")
        metrics_match(r, bench["per_layer"], f"{w} traced")
        spans = os.path.join(ARTIFACTS, f"{w}-seed1-trace1-spans.json")
        with open(spans) as fh:
            doc = json.load(fh)
        check(len(doc["spans"]) > 0 and len(doc["self_time"]) > 0, f"{w}: span file has spans and self times")
        check(any(l.startswith("# tracing overhead") for l in lines), f"{w}: traced run reports the tracing overhead")

    rc, lines, err = run(ROOT, "--workload", "registry", "--seed", "1", "--seconds", SECONDS, "--trace", "0",
                         "--short", "1", "--inject-failure", "1")
    check(rc == 0, "registry with a throwing entry still exits 0")
    r = result(lines)
    with open(os.path.join(ARTIFACTS, "registry-seed1-trace0.json")) as fh:
        art = json.load(fh)
    notes = art["notes"]
    head = {h["name"]: h["value"] for h in art["headline"]}
    n_passes = len(notes["pass_s"])
    check(not r["correct"] and r["failed"] == n_passes
          and all(f["entry"] == "injected_failure" and "injected failure" in f["error"] for f in notes["failed_runs"]),
          f"the throwing entry counts as failed once per pass ({r['failed']} of {r['attempted']})")
    check("injected_failure" not in notes["entry_wall_s"], "the throwing entry has no entry time")
    walls = list(notes["entry_wall_s"].values())
    check(math.isclose(head["entry_geomean_s"], math.exp(sum(map(math.log, walls)) / len(walls)), rel_tol=1e-9),
          "entry_geomean_s is over the entries that succeeded only")
    check(head["pass_s"] == statistics.median(notes["pass_s"]) and
          math.isclose(sum(walls), statistics.median(notes["pass_s"]), rel_tol=0.5),
          "pass_s sums the entries that succeeded only")
    check(art["context"]["result_samples"] == r["attempted"] - r["failed"],
          "entry latencies come from the entries that succeeded only")

    bare = os.path.join(HERE, ".run", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "layerbench"),
                    ignore=shutil.ignore_patterns(".build", ".run", "target"))
    rc, lines, err = run(bare, "--workload", "taxi_paced", "--seed", "1", "--seconds", SECONDS, "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and not any(l.startswith("{") for l in lines),
          "without the engine sources the runner exits non-zero and prints no result")
    print("selftest passed")


if __name__ == "__main__":
    main()
