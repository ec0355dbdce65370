"""Metrics from one run's raw samples (the harness's result JSON).

Batch figures are sums over the workload's queries of each query's median,
the way graft.Bench reports `total_s`; stream figures are sums over the
pipelines of each pipeline's median replay, or per-micro-batch means for
the progress phases. "Per pass" means per replay of every operation once.
"""
import json
import math
import statistics
from collections import defaultdict
from types import SimpleNamespace

MB = 1048576.0


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _by_name(records, field):
    groups = defaultdict(list)
    for r in records:
        if r.get("ok"):
            groups[r["name"]].append(r[field])
    return groups


def _sum_of_medians(records, field):
    return sum(_med(v) for v in _by_name(records, field).values())


def _batches(replays):
    return [b for r in replays if r.get("ok") for b in r["batches"]]


def compute(res, launched, cpus, faulty=frozenset()):
    """End-to-end metrics and the attempted / failed counts. Executions of
    `faulty` operations (wrong result, right shape) are timed but failed."""
    stream = "replays" in res
    recs = res["replays"] if stream else res["ops"]
    passes = res["timed"]["passes"]
    if stream:
        batches = _batches(recs)
        attempted = sum(max(1, len(r.get("batches", []))) for r in recs)
        failed = sum(max(1, len(r.get("batches", []))) for r in recs if not r.get("ok"))
        lat = [b["duration_ms"]["triggerExecution"] for b in batches]
        rows = sum(b["rows"] for b in batches)
        busy_s = sum(lat) / 1000.0
    else:
        attempted = len(recs)
        failed = sum(1 for r in recs if not r.get("ok") or r["name"] in faulty)
        lat = [r["wall_ms"] for r in recs if r.get("ok")]
        rows = sum(r["rows"] for r in recs if r.get("ok"))
        busy_s = sum(lat) / 1000.0
    e2e = {
        "setup_s": res["first_op_us"] / 1e6 - launched,
        "total_s": _sum_of_medians(recs, "wall_ms") / 1000.0,
        "op_gmean_ms": math.exp(statistics.fmean(math.log(x) for x in lat)) if lat else 0.0,
        "rows_per_s": rows / busy_s if busy_s else 0.0,
        "cpu_s": sum(r.get("cpu_ms", 0.0) for r in recs) / 1000.0 / passes,
        "heap_retained_mb": res["heap_retained_mb"],
    }
    units = {"setup_s": "s", "total_s": "s", "op_gmean_ms": "ms", "rows_per_s": "rows/s",
             "cpu_s": "s", "heap_retained_mb": "MB"}
    return SimpleNamespace(
        attempted=attempted, failed=failed,
        end_to_end={k: {"value": v, "unit": units[k]} for k, v in e2e.items()})


def _union_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    spans = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _op_layers(rec, jobs, stages, tasks, cpus):
    """Scheduler and task counters of one operation (a query execution or a
    replay). Times in ms."""
    lo, hi = rec["start_us"] / 1000.0, rec["end_us"] / 1000.0
    intervals = [(j["start_ms"], j["end_ms"]) for j in jobs]
    job_wall = _union_ms(intervals, lo, hi)
    covered = list(intervals)
    if "build_ms" in rec:
        covered.append((lo, lo + rec["build_ms"]))
    for s, e in rec.get("phases", {}).values():
        covered.append((s, e))
    t = defaultdict(float)
    for agg in tasks:
        for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_rows", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes"):
            t[k] += agg[k]
    return {
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": t["tasks"],
        "sched.job_wall_ms": job_wall,
        "sched.task_wait_ms": sum(s["first_launch_ms"] - s["submit_ms"] for s in stages),
        "sched.unattributed_ms": rec["wall_ms"] - _union_ms(covered, lo, hi),
        "exec.task_ms": t["run_ms"],
        "exec.cpu_ms": t["cpu_ms"],
        "exec.gc_ms": t["gc_ms"],
        "exec.input_rows": t["input_rows"],
        "exec.shuffle_write_mb": t["shuffle_write_bytes"] / MB,
        "exec.shuffle_read_mb": t["shuffle_read_bytes"] / MB,
        "exec.spill_mb": t["spill_bytes"] / MB,
    }


PER_LAYER = {
    "ops.build_ms": "ms", "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.exchanges": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_wall_ms": "ms", "sched.task_wait_ms": "ms", "sched.unattributed_ms": "ms",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.core_busy": "ratio",
    "exec.input_rows": "count", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "caching.persisted_rdds": "count", "caching.release_ms": "ms",
    "tables.load_ms": "ms", "tables.memo_hit_ms": "ms",
    "jvm.gc_pause_ms": "ms", "jvm.jit_ms": "ms",
    "stream.start_ms": "ms", "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms",
    "stream.latestOffset_ms": "ms", "stream.getBatch_ms": "ms", "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms", "stream.jobs_per_batch": "count",
    "state.rows_total": "count", "state.memory_mb": "MB", "state.commit_ms": "ms",
    "state.rows_updated": "count", "state.rows_dropped_late": "count",
}


def per_layer(res, cpus, stem):
    """Per-layer metrics of a traced run; also writes `<stem>.spans.jsonl`
    and `<stem>.breakdown.json`."""
    stream = "replays" in res
    recs = res["replays"] if stream else res["ops"]
    tr = res["trace"]
    jobs, stages, tasks = defaultdict(list), defaultdict(list), defaultdict(list)
    for j in tr["jobs"]:
        jobs[j["op"]].append(j)
    for s in tr["stages"]:
        stages[s["op"]].append(s)
    for t in tr["tasks"]:
        tasks[t["op"]].append(t)
    per_op = {}
    for r in recs:
        if not r.get("ok"):
            continue
        key = str(r["id"])
        layers = _op_layers(r, jobs[key], stages[key], tasks[key], cpus)
        layers["ops.build_ms"] = r.get("build_ms", 0.0)
        for ph in ("analysis", "optimization", "planning"):
            s, e = r.get("phases", {}).get(ph, (0, 0))
            layers[f"plan.{ph}_ms"] = e - s
        layers["plan.exchanges"] = r.get("exchanges", 0)
        layers["caching.persisted_rdds"] = r.get("persisted_rdds", 0)
        layers["caching.release_ms"] = r.get("release_ms", 0.0)
        if stream:
            b = r["batches"]
            layers["state.rows_total"] = b[-1]["state_rows_total"] if b else 0
            layers["state.memory_mb"] = b[-1]["state_memory_bytes"] / MB if b else 0
            layers["state.rows_updated"] = sum(x["state_rows_updated"] for x in b)
            layers["stream.start_ms"] = (r["first_batch_us"] - r["start_us"]) / 1000.0
        per_op[key] = (r["name"], layers)

    # per operation name: the median of each layer over its executions
    by_name = defaultdict(lambda: defaultdict(list))
    for name, layers in per_op.values():
        for k, v in layers.items():
            by_name[name][k].append(v)
    breakdown = {name: {k: _med(v) for k, v in ls.items()} for name, ls in sorted(by_name.items())}
    out = {k: 0.0 for k in PER_LAYER}
    for ls in breakdown.values():
        for k, v in ls.items():
            if k != "stream.start_ms":
                out[k] += v
    job_wall = out["sched.job_wall_ms"]
    out["exec.core_busy"] = out["exec.task_ms"] / (job_wall * cpus) if job_wall else 0.0
    tables = res["setup"]["tables"]
    out["tables.load_ms"] = sum(t["cold_ms"] for t in tables.values())
    out["tables.memo_hit_ms"] = sum(t["memo_ms"] for t in tables.values())
    passes = res["timed"]["passes"]
    out["jvm.gc_pause_ms"] = sum(r.get("gc_ms", 0) for r in recs) / passes
    out["jvm.jit_ms"] = sum(r.get("jit_ms", 0) for r in recs) / passes
    if stream:
        batches = _batches(recs)
        n = max(1, len(batches))
        for ph in ("addBatch", "queryPlanning", "latestOffset", "getBatch", "walCommit", "commitOffsets"):
            out[f"stream.{ph}_ms"] = sum(b["duration_ms"].get(ph, 0) for b in batches) / n
        out["stream.start_ms"] = _med([ls["stream.start_ms"] for _, ls in per_op.values()])
        stream_jobs = sum(len(jobs[str(r["id"])]) for r in recs if r.get("ok"))
        out["stream.jobs_per_batch"] = stream_jobs / n
        out["state.commit_ms"] = sum(b["state_commit_ms"] for b in batches) / n
        out["state.rows_dropped_late"] = sum(
            b["state_dropped_late"] for r in recs for b in r.get("batches", []))

    _write_spans(res, recs, jobs, stem)
    e2e_traced = {k: v["value"] for k, v in compute(res, res["launched"], cpus).end_to_end.items()}
    with open(f"{stem}.breakdown.json", "w") as f:
        json.dump({"workload": res["workload"], "seed": res["seed"], "passes": passes, "cpus": cpus,
                   "per_layer": out, "per_operation": breakdown, "setup": res["setup"],
                   "end_to_end_traced": e2e_traced}, f, indent=1, sort_keys=True)
    return {k: {"value": out[k], "unit": u} for k, u in PER_LAYER.items()}


def _write_spans(res, recs, jobs, stem):
    """One span per line: name, start/end (epoch µs), id, parent and the
    operation id shared by every span of one operation."""
    lines = []
    for r in recs:
        op = str(r["id"])
        root = f"{op}"
        lines.append({"name": f"op:{r['name']}", "start_us": r["start_us"], "end_us": r["end_us"],
                      "id": root, "parent": None, "op": op})
        if "build_ms" in r:
            lines.append({"name": "ops.build", "start_us": r["start_us"],
                          "end_us": r["start_us"] + int(r["build_ms"] * 1000),
                          "id": f"{op}.build", "parent": root, "op": op})
        for ph, (s, e) in r.get("phases", {}).items():
            lines.append({"name": f"plan.{ph}", "start_us": s * 1000, "end_us": e * 1000,
                          "id": f"{op}.{ph}", "parent": root, "op": op})
        for b in r.get("batches", []):
            lines.append({"name": "stream.batch", "start_us": b["start_us"],
                          "end_us": b["start_us"] + b["duration_ms"].get("triggerExecution", 0) * 1000,
                          "id": f"{op}.b{b['batch_id']}", "parent": root, "op": op,
                          "phases_ms": b["duration_ms"]})
        for j in jobs.get(op, []):
            parent = f"{op}.b{j['batch']}" if j["batch"] else root
            lines.append({"name": "spark.job", "start_us": j["start_ms"] * 1000,
                          "end_us": j["end_ms"] * 1000, "id": f"{op}.j{j['id']}",
                          "parent": parent, "op": op})
    with open(f"{stem}.spans.jsonl", "w") as f:
        for s in lines:
            f.write(json.dumps(s) + "\n")


def render_breakdown(stem):
    """Per-operation table of a traced run, for the log."""
    with open(f"{stem}.breakdown.json") as f:
        b = json.load(f)
    cols = ["ops.build_ms", "plan.optimization_ms", "plan.planning_ms", "sched.jobs",
            "sched.job_wall_ms", "sched.unattributed_ms", "exec.task_ms", "exec.core_busy"]
    lines = [f"{'operation':34s}" + "".join(f"{c.split('.', 1)[1]:>16s}" for c in cols)]
    for name, ls in b["per_operation"].items():
        core = ls["exec.task_ms"] / (ls["sched.job_wall_ms"] * b["cpus"]) if ls["sched.job_wall_ms"] else 0
        vals = [ls.get(c, 0.0) if c != "exec.core_busy" else core for c in cols]
        lines.append(f"{name:34s}" + "".join(f"{v:16.2f}" for v in vals))
    lines.append(f"spans: {stem}.spans.jsonl")
    return "\n".join(lines)
