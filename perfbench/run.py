#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed
into a fresh directory under perfbench/runs, runs the harness JVM on
local[4], checks every op's output, and writes a detailed result (and,
with --trace 1, a trace file) to perfbench/runs/results. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# pipeline_cron_reference is not in BENCHMARK.json: it runs the pipeline
# configuration that fails at this benchmark's introduction (README.md).
WORKLOADS = ("headline_queries", "pipeline_cron", "stream_dedup_ingest",
             "pipeline_cron_reference")
HEAP = "3g"
CORES = 4
JVM_TIMEOUT_S = 150
RUNS = os.path.join(HERE, "runs")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/src/main/scala/**/*.scala", recursive=True)
                   + [f"{HERE}/build.sbt"])
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest):
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        f"{os.path.expanduser('~/.sbt/repositories')} -Dsbt.offline=true "
        "-Dsbt.server.autostart=false -Xmx2g"))
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


# --------------------------------------------------------------------- run

def run_jvm(workload, inputs, work, seconds, trace):
    record = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Harness",
           "--workload", workload, "--inputs", inputs, "--work", work,
           "--seconds", str(seconds), "--trace", str(trace), "--out", record]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S}s; see {log}")
    if rc != 0 or not os.path.exists(record):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited {rc}:\n{tail}")
    with open(record) as f:
        return json.load(f)


def check(workload, seed, inputs, work, ops):
    if workload == "headline_queries":
        return checks.check_headline(inputs, f"{work}/results", ops)
    if workload.startswith("pipeline_cron"):
        return checks.check_pipeline(seed, f"{work}/pipeline/dumps", ops,
                                     reference=workload == "pipeline_cron_reference")
    with open(f"{work}/stream/survivors.json") as f:
        return checks.check_stream(seed, json.load(f), ops)


# ----------------------------------------------------------------- metrics

def end_to_end(rec, ops):
    good = [o for o in ops if o["ok"]]
    busy = sum(o["seconds"] for o in good)
    return {
        "setup_s": stats.median(rec["setup_s"]),
        "op_s_p50": stats.median([o["seconds"] for o in good]),
        "items_per_s": sum(o["items"] for o in good) / busy if busy else None,
    }


def build_spans(rec, ops):
    """One span per op, with SQL execution, job, stage and micro-batch
    children; times in seconds since the epoch."""
    spans = {}
    for o in ops:
        spans[f"op{o['id']}"] = {"kind": "op", "name": o["name"], "op": o["id"],
                                 "start": o["start_ms"] / 1e3, "end": o["end_ms"] / 1e3,
                                 "parent": None}

    def owner(t):
        for o in ops:
            if o["start_ms"] <= t <= o["end_ms"] + 1:
                return o["id"]
        return None

    recs = rec["records"]
    sql_start = {r["sql"]: r for r in recs if r["kind"] == "sql_start"}
    sql_end = {r["sql"]: r for r in recs if r["kind"] == "sql_end"}
    aqe = {}
    for r in recs:
        if r["kind"] == "aqe_update":
            aqe[r["sql"]] = aqe.get(r["sql"], 0) + 1
    for r in recs:
        if r["kind"] == "progress":
            op = owner(r["start"])
            if op is not None:
                spans[f"mb{r['start']}"] = {
                    "kind": "micro_batch", "op": op, "start": r["start"] / 1e3,
                    "end": r["end"] / 1e3, "parent": f"op{op}", "attrs": r}
    batches = [s for s in spans.values() if s["kind"] == "micro_batch"]

    def container(op, t):
        for b in batches:
            if b["op"] == op and b["start"] <= t <= b["end"]:
                return f"mb{b['attrs']['start']}"
        return f"op{op}"
    for sid, r in sql_start.items():
        op = owner(r["t"])
        if op is None or sid not in sql_end:
            continue
        root = r.get("root", sid)
        parent = f"sql{root}" if root != sid and root in sql_start else container(op, r["t"] / 1e3)
        spans[f"sql{sid}"] = {"kind": "sql", "op": op, "start": r["t"] / 1e3,
                              "end": sql_end[sid]["t"] / 1e3, "parent": parent,
                              "attrs": dict(sql_end[sid], aqe_replans=aqe.get(sid, 0))}
    job_end = {r["job"]: r["t"] for r in recs if r["kind"] == "job_end"}
    stage_job = {}
    for r in recs:
        if r["kind"] != "job_start" or r["job"] not in job_end:
            continue
        op = owner(r["t"])
        if op is None:
            continue
        parent = f"sql{r['sql']}" if f"sql{r['sql']}" in spans else container(op, r["t"] / 1e3)
        spans[f"job{r['job']}"] = {"kind": "job", "op": op, "start": r["t"] / 1e3,
                                   "end": job_end[r["job"]] / 1e3, "parent": parent}
        for st in r["stages"]:
            stage_job.setdefault(st, []).append(r["job"])
    for r in recs:
        if r["kind"] != "stage" or not r["start"]:
            continue
        op = owner(r["start"])
        if op is None:
            continue
        jobs = [j for j in stage_job.get(r["stage"], []) if f"job{j}" in spans]
        parent = f"job{jobs[-1]}" if jobs else f"op{op}"
        spans[f"stage{r['stage']}.{r['attempt']}"] = {
            "kind": "stage", "op": op, "start": r["start"] / 1e3, "end": r["end"] / 1e3,
            "parent": parent, "attrs": r}
    for sid, s in stats.self_times(spans).items():
        spans[sid]["self_s"] = s
    return spans


def per_layer(workload, rec, ops, spans, inputs, work):
    good = {o["id"]: o for o in ops if o["ok"]}
    by_op = {}
    for s in spans.values():
        if s["op"] in good:
            by_op.setdefault(s["op"], []).append(s)

    def per_op(f):
        return stats.median([f(good[i], by_op.get(i, [])) for i in good]) or 0.0

    def kind(ss, k):
        return [s for s in ss if s["kind"] == k]

    def attr_sum(ss, k, key):
        return sum(s["attrs"].get(key, 0) for s in kind(ss, k))

    def op_len(o):
        return (o["end_ms"] - o["start_ms"]) / 1e3

    def stage_union(o, ss):
        return stats.union_length([(s["start"], s["end"]) for s in kind(ss, "stage")],
                                  o["start_ms"] / 1e3, o["end_ms"] / 1e3)

    def sql_union(o, ss):
        return stats.union_length([(s["start"], s["end"]) for s in kind(ss, "sql")],
                                  o["start_ms"] / 1e3, o["end_ms"] / 1e3)

    def write_s(ss, suffix):
        return sum(s["end"] - s["start"] for s in kind(ss, "sql")
                   if any(p.rstrip("/").endswith(suffix)
                          for p in s["attrs"].get("write_path", "").split(",") if p))

    all_spans = [s for ss in by_op.values() for s in ss]
    stages = kind(all_spans, "stage")
    batches = kind(all_spans, "micro_batch")
    task_s = sum(s["attrs"]["task_ms"] for s in stages) / 1e3
    busy = sum(op_len(o) for o in good.values())
    written = sum(s["attrs"]["output_bytes"] for s in stages)
    in_bytes = checks.input_bytes(workload, inputs, list(good.values()))
    rows_in = attr_sum(all_spans, "sql", "filter_rows_in")
    rows_out = attr_sum(all_spans, "sql", "filter_rows_out")
    m = {
        "entry.build_s": per_op(lambda o, ss: o["build_s"]),
        "plan.analysis_s": per_op(lambda o, ss: attr_sum(ss, "sql", "analysis_ms") / 1e3),
        "plan.optimization_s": per_op(
            lambda o, ss: attr_sum(ss, "sql", "optimization_ms") / 1e3),
        "plan.planning_s": per_op(lambda o, ss: attr_sum(ss, "sql", "planning_ms") / 1e3),
        "plan.aqe_replans": per_op(lambda o, ss: attr_sum(ss, "sql", "aqe_replans")),
        "dispatch.jobs": per_op(lambda o, ss: len(kind(ss, "job"))),
        "dispatch.stages": per_op(lambda o, ss: len(kind(ss, "stage"))),
        "dispatch.tasks": per_op(lambda o, ss: attr_sum(ss, "stage", "tasks")),
        "dispatch.gap_s": per_op(lambda o, ss: op_len(o) - stage_union(o, ss)),
        "exec.stage_s": per_op(stage_union),
        "exec.task_s": per_op(lambda o, ss: attr_sum(ss, "stage", "task_ms") / 1e3),
        "exec.task_cpu_s": per_op(lambda o, ss: attr_sum(ss, "stage", "cpu_ns") / 1e9),
        "exec.gc_s": per_op(lambda o, ss: attr_sum(ss, "stage", "gc_ms") / 1e3),
        "exec.core_util": task_s / (CORES * busy) if busy else 0.0,
        "exec.input_bytes": per_op(lambda o, ss: attr_sum(ss, "stage", "input_bytes")),
        "exec.shuffle_read_bytes": per_op(
            lambda o, ss: attr_sum(ss, "stage", "shuffle_read_bytes")),
        "exec.shuffle_write_bytes": per_op(
            lambda o, ss: attr_sum(ss, "stage", "shuffle_write_bytes")),
        "exec.spill_bytes": per_op(lambda o, ss: attr_sum(ss, "stage", "spill_bytes")),
        "exec.reused_exchanges": per_op(lambda o, ss: attr_sum(ss, "sql", "reused_exchanges")),
        "exec.non_codegen_ops": per_op(lambda o, ss: attr_sum(ss, "sql", "non_codegen_ops")),
        "store.bytes_written": per_op(lambda o, ss: attr_sum(ss, "stage", "output_bytes")),
        "store.files_written": per_op(lambda o, ss: attr_sum(ss, "sql", "files_written")),
        "store.write_amp": written / in_bytes if in_bytes else 0.0,
        "pipeline.etl_write_s": per_op(lambda o, ss: write_s(ss, "/stage")),
        "pipeline.load_write_s": per_op(lambda o, ss: write_s(ss, "/result_next")),
        "pipeline.driver_s": per_op(lambda o, ss: op_len(o) - sql_union(o, ss))
        if workload.startswith("pipeline_cron") else 0.0,
        "pipeline.stage_rows": 0.0,
        "filter.rows_in": rows_in,
        "filter.rows_out": rows_out,
        "filter.pass_ratio": rows_out / rows_in if rows_in else 0.0,
        "stream.trigger_s": stats.median([b["attrs"]["trigger_ms"] / 1e3 for b in batches]) or 0.0,
        "stream.add_batch_s": stats.median(
            [b["attrs"]["add_batch_ms"] / 1e3 for b in batches]) or 0.0,
        "stream.query_planning_s": stats.median(
            [b["attrs"]["query_planning_ms"] / 1e3 for b in batches]) or 0.0,
        "stream.wal_commit_s": stats.median(
            [b["attrs"]["wal_commit_ms"] / 1e3 for b in batches]) or 0.0,
        "stream.state_rows": max([b["attrs"]["state_rows"] for b in batches] or [0]),
        "stream.dropped_duplicates": sum(b["attrs"]["dropped_duplicates"] for b in batches),
        "ingest.survivor_ratio": 0.0,
        "ingest.index_bytes": 0.0,
        "jvm.gc_s": rec["jvm"]["gc_s"],
        "jvm.peak_heap_mb": rec["jvm"]["peak_heap_mb"],
    }
    if workload.startswith("pipeline_cron"):
        rows = []
        for i in good:
            p = f"{work}/pipeline/dumps/op{i}_stage.jsonl"
            if os.path.exists(p):
                with open(p) as f:
                    rows.append(sum(1 for _ in f))
        m["pipeline.stage_rows"] = stats.median(rows) or 0.0
    if workload == "stream_dedup_ingest":
        with open(f"{work}/stream/survivors.json") as f:
            survivors = len(json.load(f))
        # batch 0 is ingested before the timed ops
        docs = gen.STREAM_DOCS + sum(o["items"] for o in ops)
        m["ingest.survivor_ratio"] = survivors / docs
        with open(f"{work}/stream/index_bytes.txt") as f:
            m["ingest.index_bytes"] = float(f.read())
    return m


def overhead(workload, traced):
    """Traced op_s_p50 against the untraced runs of this workload so far."""
    base = []
    for p in glob.glob(f"{RUNS}/results/{workload}_s*_t0.json"):
        with open(p) as f:
            v = json.load(f)["metrics"].get("op_s_p50")
        if v:
            base.append(v)
    if not base or not traced.get("op_s_p50"):
        return {"ratio": None, "note": "no untraced run of this workload to compare"}
    b = stats.median(base)
    return {"ratio": traced["op_s_p50"] / b - 1, "traced_op_s_p50": traced["op_s_p50"],
            "untraced_op_s_p50": b, "untraced_runs": len(base)}


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(f"{ROOT}/src/main/scala/graft"):
        fail(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
    digest = source_hash()
    build(digest)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(RUNS, run_id)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        gen.GENERATORS[a.workload.removesuffix("_reference")](a.seed, inputs)
        rec = run_jvm(a.workload, inputs, work, a.seconds, a.trace)
        ops = rec["ops"]
        wrong = check(a.workload, a.seed, inputs, work, ops)
        for o in ops:
            if o["id"] in wrong:
                o["ok"], o["error"] = False, "WrongOutput: " + wrong[o["id"]]
        e2e = end_to_end(rec, ops)
        spans = build_spans(rec, ops) if a.trace else {}
        layer = per_layer(a.workload, rec, ops, spans, inputs, work) if a.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if not o["ok"]]
    errors = {}
    for o in failed:
        errors[o["error"].split(":")[0]] = errors.get(o["error"].split(":")[0], 0) + 1
    tail = stats.tail_percentile([o["seconds"] for o in ops if o["ok"]])
    host = {"nproc": os.cpu_count(), "heap": HEAP, "jvm": rec["jvm"]["java"],
            "jvm_processors": rec["jvm"]["processors"], "python": platform.python_version(),
            "seed": a.seed, "commit": commit(digest)}
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host, "metrics": e2e,
              "op_samples": len(ops) - len(failed),
              "op_tail": {"percentile": tail[0], "value": tail[1]} if tail else None,
              "setup_samples": rec["setup_s"], "warm_up_s": rec["warm_up_s"],
              "measured_s": rec["measured_s"],
              "errors": errors, "ops": ops}
    os.makedirs(f"{RUNS}/results", exist_ok=True)
    with open(f"{RUNS}/results/{a.workload}_s{a.seed}_t{a.trace}.json", "w") as f:
        json.dump(detail, f, indent=1)
    if a.trace:
        trace = {"workload": a.workload, "seed": a.seed, "host": host,
                 "per_layer": layer, "end_to_end_traced": e2e,
                 "listener_callback_s": rec["callback_s"],
                 "tracing_overhead": overhead(a.workload, e2e),
                 "spans": sorted(({"id": k, **{x: y for x, y in v.items() if x != "attrs"},
                                   "attrs": v.get("attrs", {})} for k, v in spans.items()),
                                 key=lambda s: (s["start"], s["id"]))}
        with open(f"{RUNS}/results/trace_{a.workload}_s{a.seed}.json", "w") as f:
            json.dump(trace, f)

    # BENCHMARK.json names the metrics each mode prints, with their units.
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = layer if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec
               if values.get(m["name"]) is not None}
    print(json.dumps({"correct": not wrong, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


def commit(digest):
    """The git commit when the checkout is a repository, else a hash of
    the sources the run was built from."""
    if os.path.isdir(f"{ROOT}/.git"):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    return "sources-sha256:" + digest[:16]


if __name__ == "__main__":
    main()
