"""Arithmetic over one run's raw record: the end-to-end and per-layer
metrics, span self times and host diagnostics. Pure functions, covered by
tests/test_stats.py."""
import math
import statistics

MB = float(1 << 20)
TAIL_LADDER = (0.5, 0.75, 0.9, 0.95, 0.99, 0.999)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    if not xs or min(xs) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, beyond=10):
    """The highest ladder percentile with at least `beyond` samples above it.

    Nearest-rank: the p-th percentile of n sorted samples is the
    ceil(p*n)-th smallest, so n - ceil(p*n) samples lie beyond it.
    Returns (value, p, n), or None when even the median lacks `beyond`
    samples beyond it."""
    s = sorted(xs)
    n = len(s)
    best = None
    for p in TAIL_LADDER:
        rank = math.ceil(p * n - 1e-9)
        if rank >= 1 and n - rank >= beyond:
            best = (s[rank - 1], p, n)
    return best


def quartile_spread(xs):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives
    them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def parse_cpu_line(line):
    """The aggregate `cpu` line of /proc/stat -> (total, steal) jiffies.
    Guest time is already counted in user time, so it is left out of the
    total."""
    f = line.split()
    if not f or f[0] != "cpu":
        raise ValueError(f"not an aggregate cpu line: {line!r}")
    v = [int(x) for x in f[1:9]]
    v += [0] * (8 - len(v))
    return sum(v), v[7]


def steal_pct(line0, line1):
    t0, s0 = parse_cpu_line(line0)
    t1, s1 = parse_cpu_line(line1)
    return 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0


def rollup(stages):
    """Sum one pass's stage records. A stage's scheduling delay is its wall
    time minus its longest task: the time no task of it was the one
    holding the result back."""
    out = dict(stages=len(stages), tasks=0, run_s=0.0, cpu_s=0.0,
               shuffle_read_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0, sched_s=0.0)
    for st in stages:
        out["tasks"] += st.get("tasks", 0)
        out["run_s"] += st.get("run_ms", 0) / 1e3
        out["cpu_s"] += st.get("cpu_ns", 0) / 1e9
        out["shuffle_read_mb"] += st.get("shuffle_read_b", 0) / MB
        out["shuffle_write_mb"] += st.get("shuffle_write_b", 0) / MB
        out["spill_mb"] += st.get("spill_b", 0) / MB
        wall = st.get("complete_ms", 0) - st.get("submit_ms", 0)
        out["sched_s"] += max(0, wall - st.get("max_task_ms", 0)) / 1e3
    return out


def _covered(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """Per span name, the summed duration not covered by its children."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        cov = _covered([(max(s, k["start_ms"]), min(e, k["end_ms"]))
                        for k in kids.get(sp["id"], []) if k["end_ms"] > s and k["start_ms"] < e])
        out[sp["name"]] = out.get(sp["name"], 0.0) + (e - s - cov) / 1e3
    return out


def spark_spans(spans, passes):
    """Child spans for Spark jobs and stages, from listener timestamps.

    A job hangs under the innermost harness span of the same op that was
    open when it started; a stage under the job of the same tag that
    contains its submission."""
    by_op = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    next_id = max((sp["id"] for sp in spans), default=0) + 1
    out = []

    def innermost(cands, t):
        inside = [c for c in cands if c["start_ms"] <= t <= c["end_ms"]]
        return min(inside, key=lambda c: c["end_ms"] - c["start_ms"]) if inside else None

    for p in passes:
        if not p.get("traced"):
            continue
        jobs_by_tag = {}
        for j in p.get("jobs", []):
            tag = j.get("tag") or ""
            op = tag.rsplit("/", 1)[0]
            parent = innermost(by_op.get(op, []), j["start_ms"])
            if parent is None:
                continue
            sp = dict(id=next_id, parent=parent["id"], name="spark.job", op=op,
                      start_ms=float(j["start_ms"]), end_ms=float(j["end_ms"]))
            next_id += 1
            out.append(sp)
            jobs_by_tag.setdefault(tag, []).append(sp)
        for st in p.get("stages", []):
            parent = innermost(jobs_by_tag.get(st.get("tag") or "", []), st["submit_ms"])
            if parent is None:
                continue
            out.append(dict(id=next_id, parent=parent["id"], name="spark.stage", op=parent["op"],
                            start_ms=float(st["submit_ms"]), end_ms=float(st["complete_ms"])))
            next_id += 1
    return out


def _span_sums(spans, pass_idx):
    prefix = f"{pass_idx}/"
    out = {}
    for sp in spans:
        if sp["op"].startswith(prefix):
            out[sp["name"]] = out.get(sp["name"], 0.0) + (sp["end_ms"] - sp["start_ms"]) / 1e3
    return out


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, and the pooled op-latency
    tail when the run has enough samples for one."""
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    lat = {}
    for p in timed:
        for o in p["ops"]:
            if o["error"] is None:
                lat.setdefault(o["op"], []).append(o["s"])
    t = tail([x for xs in lat.values() for x in xs])
    return {
        "pass_s": median([p["wall_s"] for p in timed]),
        "op_geomean_s": geomean([median(xs) for xs in lat.values()]),
        "task_cpu_s": median([rollup(p["stages"])["cpu_s"] for p in timed]),
        "setup_s": raw["setup_s"],
        "retained_mb": raw["retained_b"] / MB,
    }, {"op_tail": dict(zip(("s", "p", "n"), t)) if t else None}


def per_layer(raw, spans):
    """The per-layer metrics of a traced run: medians over its traced
    passes, plus the overhead of tracing against its plain passes."""
    passes = raw["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if p["kind"] == "timed"]
    both = traced + plain
    rows = []
    for p in traced:
        c, r, s = p["counters"], rollup(p["stages"]), _span_sums(spans, p["idx"])
        jobs = p.get("jobs", [])
        wb, bb = p.get("write_b", 0), p.get("batch_b", 0)
        rows.append({
            "sources.files_listed": c["files_listed"],
            "queries.build_s": s.get("queries.build", 0.0),
            "queries.build_jobs": sum(1 for j in jobs if (j.get("tag") or "").endswith("/build")),
            "plans.optimize_s": s.get("plans.optimize", 0.0),
            "plans.physical_s": s.get("plans.physical", 0.0),
            "codegen.compiles": c["codegen_compiles"],
            "exec.wall_s": s.get("exec", 0.0),
            "exec.jobs": len(jobs),
            "exec.stages": r["stages"],
            "exec.tasks": r["tasks"],
            "exec.sched_s": r["sched_s"],
            "exec.task_run_s": r["run_s"],
            "exec.shuffle_write_mb": r["shuffle_write_mb"],
            "exec.shuffle_read_mb": r["shuffle_read_mb"],
            "exec.spill_mb": r["spill_mb"],
            "storage.block_writes": p["block_writes"],
            "storage.block_write_mb": p["block_write_b"] / MB,
            "storage.cached_mb": p["cached_b"] / MB,
            "ops.release_s": s.get("ops.release", 0.0),
            "write.mb": wb / MB,
            "write.files": p.get("write_files", 0),
            "write.amp": wb / bb if bb else 0.0,
            "driver.cpu_s": c["driver_cpu_s"],
            "jvm.gc_s": c["gc_s"],
            "jvm.jit_s": c["jit_s"],
        })
    out = {k: median([row[k] for row in rows]) for k in rows[0]}
    out["sources.resolve_s"] = median(raw["resolve_probe_s"])
    out["cold.first_pass_s"] = next(p["wall_s"] for p in passes if p["kind"] == "cold")
    out["host.steal_pct"] = median([steal_pct(p["stat0"], p["stat1"]) for p in both])
    out["host.calib_s"] = median([p["calib_s"] for p in both])
    out["trace.overhead_pct"] = 100.0 * (
        median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in plain]) - 1.0)
    return out
