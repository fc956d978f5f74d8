#!/usr/bin/env python3
"""Run one benchmark workload against the program in the current directory.

    python3 layerbench/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The first run compiles
the program's sources and the benchmark's harness into `.bench_build/`
with the Scala compiler that ships with Spark, and generates the parquet
fixtures there; later runs reuse both while the sources are unchanged.

One run is one JVM: set-up, a cold pass, warm-up passes, timed passes for
`--seconds`, then a write of every op's result; then the outputs are
checked. With `--trace 0` the last
line of stdout is a JSON object with the end-to-end metrics; with
`--trace 1` the run alternates plain and traced passes, writes its spans
to `.bench_build/last/<workload>-trace.spans.json` and reports the
per-layer metrics. Lines before the last one are for people.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import fixtures  # noqa: E402
import stats  # noqa: E402

# Each workload's scale factor, ops and untimed warm-up passes (enough to
# reach the JIT's plateau). Why each exists is in BENCHMARK.json.
WORKLOADS = {
    "catalog_mix": dict(sf=0.01, ops_file="catalog_mix.txt", warmups=2),
    "merge_ingest": dict(sf=0.01, ops=["q3_shipping_priority", "q13_customer_distribution"],
                         warmups=3),
}
BATCHES = 150       # change batches generated per merge_ingest run
RUN_LIMIT_S = 170   # a run's own deadline; a run that also builds gets BUILD_LIMIT_S
BUILD_LIMIT_S = 880

# Metric -> unit. Every metric is better lower.
END_TO_END = {"pass_s": "s", "op_geomean_s": "s", "task_cpu_s": "s",
              "setup_s": "s", "retained_mb": "MB"}
PER_LAYER = {
    "cold.first_pass_s": "s",
    "sources.files_listed": "count", "sources.resolve_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "plans.optimize_s": "s", "plans.physical_s": "s", "codegen.compiles": "count",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_s": "s", "exec.task_run_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "storage.block_writes": "count", "storage.block_write_mb": "MB",
    "storage.cached_mb": "MB", "ops.release_s": "s",
    "write.mb": "MB", "write.files": "count", "write.amp": "ratio",
    "driver.cpu_s": "s", "jvm.gc_s": "s", "jvm.jit_s": "s",
    "host.steal_pct": "%", "host.calib_s": "s", "trace.overhead_pct": "%",
}

# As build.sbt's javaOptions: Spark on JDK 17 outside spark-submit.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"layerbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the build uses: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    cands = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    die("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        die("no program sources under src/main/scala; run from the repository root")
    return prog + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build(root, build_dir, jars):
    """Compile program + harness once per source content; return
    (classes dir, source digest, whether this call compiled)."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        h.update(open(p, "rb").read())
    digest = h.hexdigest()[:16]
    out = os.path.join(build_dir, f"classes-{digest}")
    if os.path.isdir(out):
        return out, digest, False
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       capture_output=True, text=True, timeout=BUILD_LIMIT_S - 60)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("compilation failed")
    os.rename(tmp, out)
    return out, digest, True


def host(root, digest, raw):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    sha = None
    try:
        # the checkout itself only: a repository around it is not this code
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        sha = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb,
            "jdk": raw.get("java_version"), "spark": raw.get("spark_version"),
            "max_heap_mb": raw.get("max_heap_b", 0) / stats.MB,
            "git_sha": sha, "source_digest": digest}


def heap_gb():
    """-Xmx as Tier-1 verify sizes it: half of MemTotal, 2 to 8 GiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    wl = WORKLOADS[a.workload]
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes, digest, built = build(root, build_dir, jars)
    data = fixtures.ensure(os.path.join(build_dir, "data"), wl["sf"])
    ops = wl.get("ops") or open(os.path.join(HERE, wl["ops_file"])).read().split()

    work = os.path.join(build_dir, "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(work, d))
    batches = []
    if a.workload == "merge_ingest":
        batches = fixtures.change_batches(os.path.join(data, "orders.parquet"),
                                          os.path.join(work, "batches"), a.seed, BATCHES)
        shutil.copytree(data, os.path.join(work, "state"))

    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.language=en", "-Duser.country=US"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(jars, '*')}", "layerbench.Harness",
              f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
              f"trace={a.trace}", f"warmups={wl['warmups']}",
              f"cpus={len(os.sched_getaffinity(0))}", f"data={data}", f"work={work}",
              f"ops={','.join(ops)}", f"batches={os.path.join(work, 'batches')}"])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, limit))
        except subprocess.TimeoutExpired:
            die(f"run exceeded {limit:.0f} s; log in {work}/jvm.log")
    raw_path = os.path.join(work, "raw.json")
    if r.returncode != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        die(f"harness exited with {r.returncode}")
    raw = json.load(open(raw_path))

    harness_s = time.monotonic() - started
    # correctness, outside every timed window
    attempted = failed = 0
    errors = {}
    for p in raw["passes"]:
        for o in p["ops"]:
            attempted += 1
            if o["error"] is not None:
                failed += 1
                errors.setdefault(o["op"], o["error"])
    state = os.path.join(work, "state")
    wrong = check.check_outputs(os.path.join(work, "out"),
                                state if batches else data, ops, raw["oracle"])
    if batches:
        applied = raw["passes"][-1]["batches_applied"]
        wrong["ingest"] = check.expected_orders_diff(
            os.path.join(data, "orders.parquet"), batches[:applied], state)
    wrong = {k: v for k, v in wrong.items() if v}
    failed += len(wrong)

    if a.trace:
        spans = json.load(open(os.path.join(work, "spans.json")))
        spans += stats.spark_spans(spans, raw["passes"])
        metrics, units = stats.per_layer(raw, spans), PER_LAYER
        extra = {"self_s": stats.self_times(spans)}
        keep = os.path.join(build_dir, "last", f"{a.workload}-trace.spans.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        json.dump(spans, open(keep, "w"))
    else:
        metrics, extra = stats.end_to_end(raw)
        units = END_TO_END
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "host": host(root, digest, raw), "metrics": metrics, **extra,
              "error_rate": failed / max(1, attempted), "errors": errors, "wrong": wrong,
              "run_wall_s": time.monotonic() - started, "harness_end_s": harness_s,
              "phase_s": raw["phase_s"],
              "passes": {k: sum(1 for p in raw["passes"] if p["kind"] == k)
                         for k in ("cold", "warmup", "timed", "traced")}}
    os.makedirs(os.path.join(build_dir, "last"), exist_ok=True)
    json.dump(report, open(os.path.join(build_dir, "last",
                                        f"{a.workload}-trace{a.trace}.json"), "w"), indent=1)
    for k in ("out", "state", "local", "tmp", "batches"):
        shutil.rmtree(os.path.join(work, k), ignore_errors=True)

    for k, v in metrics.items():
        print(f"{k:24s} {v:14.6f} {units[k]}")
    print("host " + json.dumps(report["host"]))
    print("passes " + json.dumps(report["passes"]) + f" error_rate {report['error_rate']:.4f}"
          f" op_tail {json.dumps(report.get('op_tail'))} run_wall_s {report['run_wall_s']:.1f}")
    for k, v in {**errors, **wrong}.items():
        print(f"WRONG {k}: {v}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
