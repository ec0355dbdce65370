#!/usr/bin/env python3
"""The repo's benchmark: runs one workload against the engine, checks its
outputs against DuckDB, and prints every metric as one JSON line.

    python3 perfbench/run.py --workload batch_mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the engine-side harness (`perfbench/scala`) into
`.bench_build/perfbench/classes`; later runs reuse that build while the
sources are unchanged. Inputs come from the fixture graft.Bench grades
(`SPARK_GRAFT_SF_DIR` overrides it). Everything a run writes stays under
`.bench_build/perfbench`, and the run's scratch directory is removed at
the end. See perfbench/README.md for the workloads and metrics.
"""
import sys

sys.dont_write_bytecode = True  # write nothing beside the benchmark's sources

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import time
from pathlib import Path

import inputs
import metrics
from oracle import TABLES as oracle_tables, Oracle

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_LIMIT_S = 170  # every run must end within 180 s

# BASELINE.md's graded subset, as graft.Bench lists it
GRADED = ["agg_pricing_summary", "join_star_q5", "topk_global", "agg_count_distinct",
          "win_topk_per_group", "win_running_sum", "pt_sessionize", "pt_tumbling_1h",
          "llm_dedup_exact", "llm_wordcount", "llm_knn_cosine", "set_except"]
PIPELINES = ["tumbling", "sessions", "ewma", "funnel"]
STREAM_FILES = 4  # micro-batches per replay
WARM_FILES = 2  # micro-batches per warm-up replay

# Operations whose checked result differs from the oracle on the fixture,
# on every run and every seed. Their executions are timed like the others
# but counted as failed; any other mismatch makes the run incorrect.
KNOWN_FAULTS = {
    "agg_pricing_summary": "group (R, F) sum_disc_price is 0.01 above DuckDB's at sf0.1: "
                           "the rounded double sum is order-sensitive",
}

WORKLOADS = {
    # the graded queries bypass ptx.Caching; llm_curation_pipeline pins
    "batch_mixed": {"queries": GRADED + ["llm_curation_pipeline"]},
    "stream_events": {"pipelines": PIPELINES},
}

# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution the repo builds against: $SPARK_HOME, else
    build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    fail("no Spark jars: set SPARK_HOME")


def fixture_dir():
    """The sf directory graft.Bench times by default."""
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env:
        return Path(env)
    bench = ROOT / "src/main/scala/graft/Bench.scala"
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', bench.read_text()) if bench.exists() else None
    if not m:
        fail("cannot find graft.Bench's fixture directory; set SPARK_GRAFT_SF_DIR")
    return Path(m.group(1))


def build(jars):
    """Compiles the program and the harness with the Scala compiler that
    ships with Spark; skipped while the sources are unchanged."""
    srcs = sorted((ROOT / "src/main/scala").rglob("*.scala")) + sorted((BENCH / "scala").glob("*.scala"))
    if not any(p.is_relative_to(ROOT / "src") for p in srcs):
        fail("program sources (src/main/scala) not found")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp, classes = BUILD / "classes.stamp", BUILD / "classes"
    if classes.is_dir() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp] + [str(p) for p in srcs]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(h.hexdigest())
    return classes


def heap_size():
    """-Xms = -Xmx, a quarter of physical memory in [2, 4] GiB: one local
    engine at sf0.1 retains under 100 MB, and the machine is shared."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(4, max(2, total // 4 // 2**30))}g"


def file_id(path):
    st = os.stat(path)
    return f"{os.path.basename(path)}:{st.st_size}:{int(st.st_mtime)}"


def launch(classes, jars, work, args, budget):
    """Runs the engine harness; returns (result dict, launch time)."""
    cmd = (["java", f"-Xms{heap_size()}", f"-Xmx{heap_size()}", "-Xss8m"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Harness"])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    log = open(work / "engine.log", "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    log.close()
    out = work / "result.json"
    if code != 0 or not out.exists():
        tail = (work / "engine.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"engine exited with {code}")
    return json.loads(out.read_text()), launched


def check_batch(res, oracle):
    """Problems found, and the operations whose result is known to be wrong."""
    problems, faulty = [], set()
    for name, sql in sorted(res["oracle_sql"].items()):
        if name not in res["dumps"]:
            continue
        why = oracle.compare_ordered(sql, res["work"] + f"/results/{name}")
        if why and name in KNOWN_FAULTS:
            faulty.add(name)
        elif why:
            problems.append(f"{name}: {why}")
    for name in res["queries"]:
        if name not in res["oracle_sql"]:
            problems.append(f"{name}: no oracle SQL")
        if name not in res["dumps"]:
            problems.append(f"{name}: no checked result")
    return problems, faulty


def check_stream(res, oracle):
    problems = []
    sql = res["oracle_sql"]
    dumps = res["dumps"]
    work = res["work"]
    for p in res["pipelines"]:
        if p not in dumps:
            problems.append(f"{p}: no checked result")
            continue
        files = res["admission"].get(p, [])
        if [len(f) for f in files] != [1] * res["setup"]["source_files"] or \
                [f[0] for f in files] != sorted(f[0] for f in files):
            problems.append(f"{p}: files not admitted one per batch in event-time order: {files}")
    for r in res["replays"]:
        late = sum(b["state_dropped_late"] for b in r.get("batches", []))
        if late:
            problems.append(f"{r['name']} replay {r['id']}: {late} rows dropped as late")
    checks = {
        # pipeline: (oracle query, engine projection, oracle projection, keys, float tolerance)
        "ewma": ("pt_ewma", "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, ewma_e2 FROM engine",
                 "SELECT event_id, user_id, ts, ewma_e2 FROM oracle", ["event_id"], 0.0),
        "tumbling": ("pt_tumbling_1h", "SELECT CAST(hour AS TIMESTAMP) AS hour, event_type, n, sum_val FROM engine",
                     "SELECT hour, event_type, n, sum_val FROM oracle", ["hour", "event_type"], 0.0100001),
        # append mode emits a session once the final watermark passes its end
        "sessions": ("pt_session_native",
                     "SELECT user_id, CAST(session_start AS TIMESTAMP) AS session_start, "
                     "CAST(session_end AS TIMESTAMP) AS session_end, n_events, sum_val FROM engine",
                     "SELECT user_id, session_start, session_end, n_events, sum_val FROM oracle "
                     "WHERE session_end <= make_timestamp({wm})", ["user_id", "session_start"], 0.0100001),
        "funnel": ("pt_funnel",
                   "SELECT 1 AS k, count(*) FILTER (WHERE stage = 'view') AS n_view, "
                   "count(*) FILTER (WHERE stage = 'click') AS n_click_after_view, "
                   "count(*) FILTER (WHERE stage = 'purchase') AS n_purchase_after_click FROM engine",
                   "SELECT 1 AS k, n_view, n_click_after_view, n_purchase_after_click FROM oracle", ["k"], 0.0),
    }
    for p, (q, eng, orc, keys, tol) in checks.items():
        if p in dumps:
            why = oracle.compare_keyed(f"{work}/results/stream_{p}", eng, sql[q],
                                       orc.format(wm=dumps[p]["watermark_us"]), keys, tol)
            if why:
                problems.append(f"{p} vs {q}: {why}")
    return problems, set()


def prepare(workload, seed, work, fixture):
    """Engine arguments and the oracle for one run."""
    spec = WORKLOADS[workload]
    args = {}
    data_id = ",".join(file_id(fixture / f"{t}.parquet") for t in oracle_tables)
    if "queries" in spec:
        args["queries"] = ",".join(spec["queries"])
    if "pipelines" in spec:
        src, warm = work / "stream", work / "stream-warm"
        inputs.write_stream_files(str(fixture), str(src), seed, STREAM_FILES)
        inputs.copy_first_files(str(src), str(warm), WARM_FILES)
        args.update({"pipelines": ",".join(spec["pipelines"]), "stream-src": src, "warm-src": warm})
    return args, Oracle(str(fixture), data_id, str(BUILD / "oracle"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    jars = spark_jars()
    fixture = fixture_dir()
    classes = build(jars)
    if not (fixture / "lineitem.parquet").exists():
        fail(f"fixture not found at {fixture}")
    cpus = len(os.sched_getaffinity(0))
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        args, oracle = prepare(a.workload, a.seed, work, fixture)
        args.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                     "cpus": cpus, "work": work, "data": fixture, "out": work / "result.json"})
        res, launched = launch(classes, jars, work, args,
                               budget=max(30, RUN_LIMIT_S - (time.time() - started)))
        res.update(work=str(work), launched=launched, seed=a.seed)
        last = BUILD / "last"
        last.mkdir(exist_ok=True)
        (last / f"{a.workload}.json").write_text(json.dumps(res))  # raw samples of the last run
        res["queries"] = WORKLOADS[a.workload].get("queries", [])
        res["pipelines"] = WORKLOADS[a.workload].get("pipelines", [])
        check = check_stream if a.workload == "stream_events" else check_batch
        problems, faulty = check(res, oracle)
        problems += res.get("errors", [])
        m = metrics.compute(res, launched, cpus, faulty)
        if a.trace:
            traces = BUILD / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            stem = traces / f"{a.workload}-seed{a.seed}"
            layers = metrics.per_layer(res, cpus, stem)
            print(metrics.render_breakdown(stem))
        for p in problems:
            print(f"CHECK FAILED: {p}")
        result = {"correct": not problems, "attempted": m.attempted, "failed": m.failed,
                  "metrics": layers if a.trace else m.end_to_end}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
