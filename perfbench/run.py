#!/usr/bin/env python3
"""Pipeline benchmark of the graft program.

Usage (from the repository root):
    python3 perfbench/run.py --workload <backfill|curation>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(outputs under .bench_build/), runs one workload in one JVM, checks the
program's outputs and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero without a result if the program's sources are missing or
the build or the run breaks.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import benchlib

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"
# the output digest each seed must reproduce, per workload
EXPECTED_DIGESTS = os.path.join(BENCH_DIR, "expected_digests.json")

WORKLOADS = ("backfill", "curation")
# the operation whose latency is op_p50_s, per workload
PRIMARY = {"backfill": "Incremental.run", "curation": "Curation.curate"}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("rows_per_s", "1/s")]

SPARK_LAYER = [
    ("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"), ("spark.sched_delay_s", "s"),
    ("spark.driver_gap_s", "s"), ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"), ("spark.busy_share", "ratio"),
    ("spark.stage_skew_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.input_mb", "MB"), ("spark.output_mb", "MB"),
    ("spark.failed_tasks", "count"),
]
SELF_LAYER = [("self.workload_s", "s"), ("self.pipeline_s", "s"),
              ("self.job_s", "s"), ("self.stage_s", "s")]
OBSERVED_LAYER = [
    ("io.fact_files", "count"), ("io.agg_files", "count"),
    ("io.bytes_per_line", "B"), ("io.load_s", "s"), ("ops.fact_transform_s", "s"),
    ("ops.antijoin_s", "s"), ("ops.antijoin_keep_ratio", "ratio"),
    ("dedup.pairs_s", "s"), ("dedup.resolve_s", "s"),
    ("curation.consumer_s", "s"), ("dedup.candidates", "count"),
    ("dedup.pairs", "count"), ("dedup.verify_yield", "ratio"),
]
PER_LAYER = (SPARK_LAYER
             + [(f"{m}.{k}", u) for m in benchlib.MODULES
                for k, u in (("jobs", "count"), ("job_s", "s"))]
             + SELF_LAYER + OBSERVED_LAYER
             + [("jvm.peak_rss_mb", "MB"), ("trace.overhead", "ratio")])

# the module opens Spark needs on JDK 17 outside spark-submit, as in the
# program's build.sbt
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program and benchmark sources and
    both build definitions."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for dirpath, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program and benchmark unless the sources are unchanged
    since the last build; returns the runtime classpath. Concurrent runs
    in one checkout wait for each other's build."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked()


def build_locked():
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and "classes" in l
           and os.pathsep in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def run_jvm(classpath, args, deadline):
    """Runs one workload in a fresh JVM inside a fresh work directory, which
    is removed afterwards; returns the raw record the JVM wrote."""
    work = os.path.join(BUILD, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "jvm-tmp"))
    out = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    try:
        with open(log, "w") as logf:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=logf,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=max(1, deadline - time.time())).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            fail(f"JVM run failed ({rc})")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measured(raw, name=None):
    return [o for o in raw["ops"] if o["measured"] and o["ok"]
            and (name is None or o["name"] == name)]


def end_to_end(raw):
    primary = [o["wall_s"] for o in measured(raw, PRIMARY[raw["workload"]])]
    all_ops = measured(raw)
    return {
        "setup_s": raw["setup_s"],
        "op_p50_s": benchlib.median(primary),
        "rows_per_s": sum(o["rows"] for o in all_ops) / sum(o["wall_s"] for o in all_ops),
    }


def summary_line(raw, e2e):
    """The workload's end-to-end figures under their workload-specific
    names (backfill_s, daily_s, curate_s, ...)."""
    w = raw["workload"]
    named = {"setup_s": (e2e["setup_s"], "s")}
    if w == "backfill":
        named["backfill_s"] = (e2e["op_p50_s"], "s")
        daily = [o["wall_s"] for o in measured(raw, "Daily.runDaily")]
        if daily:
            named["daily_s"] = (benchlib.median(daily), "s")
    else:
        named["curate_s"] = (e2e["op_p50_s"], "s")
    named["peak_rss_mb"] = (raw.get("peak_rss_mb", 0.0), "MB")
    named["fail_ratio"] = (raw["failed"] / max(1, raw["attempted"]), "ratio")
    walls = " ".join(f"{o['wall_s']:.2f}" for o in measured(raw))
    return (f"perfbench {w} seed={raw['seed']} cores={raw['cores']} "
            f"heap_mb={raw['heap_mb']} spark={raw['spark_version']} "
            f"java={raw['java_version']}\n"
            f"  set-up: session_s={raw['session_s']:.2f} "
            f"warmup_s={raw['warmup_s']:.2f} (input generation "
            f"{raw['generate_s']:.2f} s, not counted)\n"
            f"  measured operations (s): {walls}\n"
            + (f"  output digest: {raw['digest']}\n" if "digest" in raw else "")
            + "  " + " ".join(f"{k}={v:.4f} {u}" for k, (v, u) in named.items()))


def trace_tree(raw):
    """Spans of all four layers: workload -> pipeline call -> Spark job ->
    stage, in seconds, with self times."""
    spans = [dict(s, start=s["start"] / 1000, end=s["end"] / 1000) for s in raw["spans"]]
    for j in raw["jobs"]:
        if j["end"] >= 0:
            spans.append({"id": f"j{j['job']}", "name": j["callsite"] or "",
                          "layer": "job", "parent": j["span"], "op": -1,
                          "start": j["start"] / 1000, "end": j["end"] / 1000})
    for s in raw["stages"]:
        if s["start"] >= 0 and s["end"] >= 0:
            spans.append({"id": f"s{s['stage']}.{s['attempt']}", "name": f"stage {s['stage']}",
                          "layer": "stage", "parent": f"j{s['job']}", "op": -1,
                          "start": s["start"] / 1000, "end": s["end"] / 1000})
    selfs = benchlib.self_times(spans)
    for s in spans:
        s["self"] = selfs[s["id"]]
    return spans


def per_layer(raw):
    """Per-layer metrics over the traced measured steps, normalised per
    primary operation, and the span tree of the whole run; None if the run
    lacks a traced or an untraced primary step (a step failed early)."""
    primary = PRIMARY[raw["workload"]]
    walls = lambda t: [o["wall_s"] for o in measured(raw, primary) if o["traced"] == t]
    if not walls(True) or not walls(False):
        return None
    spans = trace_tree(raw)
    traced = [o for o in measured(raw) if o["traced"]]
    op_ids = {o["span"] for o in traced}
    ops = [s for s in spans if s["id"] in op_ids]
    n = max(1, sum(o["name"] == primary for o in traced))
    window = [s for s in spans if s["layer"] == "workload"]
    jobs = [j for j in raw["jobs"] if j["span"] in op_ids and j["end"] >= 0]
    job_ids = {j["job"] for j in jobs}
    stages = [s for s in raw["stages"] if s["job"] in job_ids]
    wall = sum(s["end"] - s["start"] for s in ops)
    tot = lambda k: sum(s[k] for s in stages)
    mb = 1e6
    m = {
        "spark.jobs_per_op": len(jobs) / n,
        "spark.stages_per_op": len(stages) / n,
        "spark.tasks_per_op": tot("tasks") / n,
        "spark.sched_delay_s": tot("sched_ms") / 1e3 / n,
        "spark.driver_gap_s": sum(s["self"] for s in ops) / n,
        "spark.task_run_s": tot("run_ms") / 1e3 / n,
        "spark.task_cpu_s": tot("cpu_ns") / 1e9 / n,
        "spark.gc_s": tot("gc_ms") / 1e3 / n,
        "spark.busy_share": tot("run_ms") / 1e3 / max(1e-9, wall * raw["cores"]),
        "spark.stage_skew_s": sum(max(s["durations"]) - benchlib.median(s["durations"])
                                  for s in stages if s["durations"]) / 1e3 / n,
        "spark.shuffle_write_mb": tot("shuffle_write") / mb / n,
        "spark.shuffle_read_mb": tot("shuffle_read") / mb / n,
        "spark.spill_mb": tot("spill") / mb / n,
        "spark.input_mb": tot("input") / mb / n,
        "spark.output_mb": tot("output") / mb / n,
        "spark.failed_tasks": tot("failed_tasks"),
    }
    index = benchlib.module_index(os.path.join(ROOT, "src", "main", "scala", "graft"))
    bench_files = {f[:-6] for f in os.listdir(os.path.join(BENCH_DIR, "src", "main",
                                                           "scala", "perfbench"))}
    for mod in benchlib.MODULES:
        m[f"{mod}.jobs"] = 0.0
        m[f"{mod}.job_s"] = 0.0
    for j in jobs:
        mod = benchlib.module_of(j["callsite"], index, bench_files)
        m[f"{mod}.jobs"] += 1 / n
        m[f"{mod}.job_s"] += (j["end"] - j["start"]) / 1e3 / n
    by_id = {s["id"]: s for s in spans}
    in_window = lambda s, layer: s["layer"] == layer and (
        s["parent"] in op_ids if layer == "job"
        else by_id.get(s["parent"], {}).get("parent") in op_ids)
    # benchmark work between operations (landing files, checks), all steps
    m["self.workload_s"] = window[0]["self"] / max(1, len(measured(raw, primary)))
    m["self.pipeline_s"] = m["spark.driver_gap_s"]
    m["self.job_s"] = sum(s["self"] for s in spans if in_window(s, "job")) / n
    m["self.stage_s"] = sum(s["self"] for s in spans if in_window(s, "stage")) / n
    for k, _ in OBSERVED_LAYER:
        m[k] = float(raw["layer"].get(k, 0.0))
    m["jvm.peak_rss_mb"] = raw.get("peak_rss_mb", 0.0)
    m["trace.overhead"] = benchlib.median(walls(True)) / benchlib.median(walls(False))
    return m, spans


def digest_problem(raw):
    """Compares the run's output digest with the one its seed must give:
    the one in expected_digests.json, or for a seed not listed there, the
    first one recorded in this checkout. Returns a message on a mismatch."""
    if "digest" not in raw:
        return None
    with open(EXPECTED_DIGESTS) as f:
        expected = json.load(f).get(raw["workload"], {}).get(str(raw["seed"]))
    if expected is None:
        record = os.path.join(BUILD, "digests", f"{raw['workload']}-{raw['seed']}.txt")
        if not os.path.exists(record):
            os.makedirs(os.path.dirname(record), exist_ok=True)
            with open(record, "w") as f:
                f.write(raw["digest"])
        with open(record) as f:
            expected = f.read()
    if raw["digest"] != expected:
        return f"output digest {raw['digest']}, expected {expected}"
    return None


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"the program's sources are not in {ROOT}")
    classpath = build()
    # a first build may take most of the budget; the run gets its own
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)
    raw = run_jvm(classpath, args, deadline)
    if "error" in raw:
        print(f"perfbench: run error: {raw['error']}", file=sys.stderr)
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    problem = digest_problem(raw)
    if problem:
        print(f"perfbench: check failed: output digest of seed {args.seed}: {problem}",
              file=sys.stderr)
        raw["failed"] = min(raw["attempted"], raw["failed"] + 1)
    ok = "error" not in raw and raw["failed"] == 0
    e2e = end_to_end(raw) if measured(raw, PRIMARY[args.workload]) else None
    layers = per_layer(raw) if e2e is not None and args.trace else None
    if e2e is None or (args.trace and layers is None):
        ok = False
        metrics = {}
    elif args.trace:
        m, spans = layers
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        trace_file = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump(spans, f)
        print(f"perfbench: {len(spans)} spans in {trace_file}; "
              f"tracing overhead {m['trace.overhead']:.3f}")
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    if e2e is not None:
        print(summary_line(raw, e2e))
    print(json.dumps({"correct": ok, "attempted": max(1, raw["attempted"]),
                      "failed": raw["failed"] if ok else max(1, raw["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
