#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the parent directory.

    python3 layerbench/run.py --workload taxi_paced --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark once per source state with sbt (the
classpath is cached under layerbench/.build), then starts the JVM
directly, so the build tool is never inside a timing. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics of BENCHMARK.json (end_to_end with --trace 0, per_layer with
--trace 1). Lines before it name the workload's headline numbers.
Artifacts (full result, context stamps, span file) go to
layerbench/.run/artifacts; a traced run reports its tracing overhead
against the median of the untraced runs there of the same workload,
run length and source state that passed their gates.

The JVM gets no SPARK_* or JVM-option variables from the caller's
environment, so the engine's own overrides (SPARK_GRAFT_*) cannot move
the numbers.

Extra flags:
  --short 1            small inputs and short warm-up (self-test)
  --inject-failure 1   registry only: add a throwing entry to every pass (self-test)
  --record 1           registry only: write the fingerprints the entries
                       give now to layerbench/registry_expected.json
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".run")
ARTIFACTS = os.path.join(RUNS, "artifacts")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these module openings when the session is not
# created by spark-submit (same list as the engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads: both build definitions and all sources."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for sub in ("src/main",):
            for dirpath, dirnames, filenames in os.walk(os.path.join(base, sub)):
                dirnames.sort()
                files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine sources (../build.sbt, ../src/main) are missing; nothing to benchmark")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp and all(os.path.exists(p) for p in cached["classpath"]):
            return cached["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(out)
    if proc.returncode != 0:
        fail(f"build failed (log: {log_path})")
    lines = [l for l in out.splitlines() if not l.startswith("[") and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath (log: {log_path})")
    classpath = lines[-1].strip().split(os.pathsep)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath, stamp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "not a git checkout"
    except (OSError, subprocess.SubprocessError):
        return "not a git checkout"


def number(v):
    """A finite number, or None (the JVM writes NaN as a string)."""
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def jvm_env():
    """The caller's environment without SPARK_* and JVM-option variables."""
    drop = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_") and k not in drop}


def untraced_medians(workload, seconds, short, stamp, settings_sha):
    """Median of each end-to-end metric over the untraced runs in the
    artifacts of the workload with the same run length, mode, source
    state and settings that passed their gates."""
    values = {}
    if os.path.isdir(ARTIFACTS):
        for name in os.listdir(ARTIFACTS):
            if name.startswith(f"{workload}-") and name.endswith("-trace0.json"):
                with open(os.path.join(ARTIFACTS, name)) as fh:
                    art = json.load(fh)
                ctx = art["context"]
                if (ctx["seconds"], ctx["short"], ctx.get("source_stamp"), ctx.get("settings_sha")) != \
                        (seconds, short, stamp, settings_sha) or not art["correct"]:
                    continue
                for k, v in art["end_to_end"].items():
                    if number(v["value"]) is not None:
                        values.setdefault(k, []).append(v["value"])
    return {k: (statistics.median(xs), len(xs)) for k, xs in values.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--short", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found next to the benchmark directory")
    with open(bench_json) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    if args.record and args.workload != "registry":
        fail("--record 1 applies to the registry workload only")
    settings_path = os.path.join(HERE, "settings.json")
    with open(settings_path, "rb") as fh:
        raw = fh.read()
    settings = json.loads(raw)
    settings_sha = hashlib.sha256(raw).hexdigest()

    classpath, stamp = build()

    os.makedirs(ARTIFACTS, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(RUNS, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_path = os.path.join(work, "result.json")
    spans_path = os.path.join(ARTIFACTS, f"{tag}-spans.json")
    heap = settings["jvm"]["heap"]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}"] + settings["jvm"]["flags"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", os.pathsep.join(classpath), "graft.layerbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--settings", settings_path, "--work-dir", work, "--out", out_path,
              "--spans", spans_path,
              "--short", str(args.short), "--inject-failure", str(args.inject_failure),
              "--record", str(args.record)])
    log_path = os.path.join(ARTIFACTS, f"{tag}.log")
    env = jvm_env()
    launch_ns = time.time_ns()
    cmd += ["--launch-epoch-ns", str(launch_ns)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            # SIGTERM first, so the JVM's shutdown hook removes its scratch dir
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=5)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    if rc != 0 or not os.path.isfile(out_path):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"JVM exited with code {rc} (log: {log_path})")
    with open(out_path) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    res["context"].update({"git_commit": git_commit(), "source_stamp": stamp, "settings_sha": settings_sha,
                           "launch_epoch_ns": launch_ns})
    artifact = os.path.join(ARTIFACTS, f"{tag}.json")
    with open(artifact, "w") as fh:
        json.dump(res, fh, indent=1)
    if args.trace:
        wanted = [m["name"] for m in bench["per_layer"]]
        layer = dict(res["per_layer"])
        for k, v in res["end_to_end"].items():
            if number(v["value"]) is not None:
                layer[f"traced.{k}"] = v["value"]
        base = untraced_medians(args.workload, args.seconds, bool(args.short), stamp, settings_sha)
        overhead = {}
        for k, v in res["end_to_end"].items():
            b, n = base.get(k, (None, 0))
            if b and number(v["value"]) is not None:
                overhead[k] = {"traced": v["value"], "untraced_median": b, "untraced_runs": n,
                               "overhead_pct": 100.0 * (v["value"] - b) / b}
        res["tracing_overhead"] = overhead
        # a layer the workload does not touch did no work: it reads 0
        res["not_exercised"] = [n for n in wanted if n not in layer]
        metrics = {m["name"]: {"value": number(layer.get(m["name"])) or 0.0, "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {}
        for m in bench["end_to_end"]:
            v = number(res["end_to_end"].get(m["name"], {}).get("value"))
            if v is None:
                # failed operations are never timed: a run whose every
                # operation failed has no timing and reports 0 beside correct=false
                if res["correct"]:
                    fail(f"end-to-end metric {m['name']} was not measured")
                v = 0.0
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    with open(artifact, "w") as fh:
        json.dump(res, fh, indent=1)
    ctx = res["context"]
    print(f"# {args.workload} seed={args.seed} nproc={ctx['nproc']} load {ctx['load_before']} -> "
          f"{ctx['load_after']} steal={ctx['cpu_steal_pct']:.1f}% calib {ctx['calib_ms']:.0f} ms "
          f"commit={ctx['git_commit'][:12]}")
    for h in res["headline"]:
        print(f"# {args.workload} {h['name']} = {h['value']} {h['unit']}")
    if args.trace:
        for k, o in res["tracing_overhead"].items():
            print(f"# tracing overhead {k}: {o['overhead_pct']:+.1f}% (traced {o['traced']:.4f} vs "
                  f"median {o['untraced_median']:.4f} of {o['untraced_runs']} untraced runs)")
        if not res["tracing_overhead"]:
            print("# tracing overhead: no untraced run of this workload in this checkout yet")
        print(f"# spans: {spans_path}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
