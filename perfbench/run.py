#!/usr/bin/env python3
"""Benchmark runner: one closed-loop workload in a fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the benchmark classes from source on first use
(sbt, into perfbench/target), generates the seeded inputs under
.bench_build/, runs graftbench.Main, checks outputs, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end set, with --trace 1 the per-layer set (see
NOTES.md for what each one means).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "runtime.classpath")
STAMP = os.path.join(TARGET, "runtime.stamp")
WORK_ROOT = os.path.join(ROOT, ".bench_build", "work")
DEADLINE_S = 170.0
# a fixed heap: with a growable one the resident-set peak follows G1's
# sizing decisions and spread 10-26% between identical runs
HEAP = ["-Xms2g", "-Xmx2g"]

ITERATIVE = ["q_g17_community_pagerank", "q_st17_stream_components"]

WORKLOADS = {
    # passes: the minimum number of timed passes after the first; sync passes
    # are shorter, so three fit where the gates take two
    "sync_remote": {"kind": "sync", "sf": 0.02, "passes": 3, "queries": []},
    "gates_iterative": {"kind": "gates", "sf": 0.01, "passes": 2, "queries": ITERATIVE},
}

END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
              "records_per_s": "1/s", "rss_peak_mb": "MB"}

SPAN_KINDS = ["pass", "sync_run", "query_call", "noop_write", "spark_job",
              "stream_batch", "rest_send"]
PER_LAYER = {
    **{m: "count" for m in ["sources.rest_requests", "sources.rest_posts",
                            "sources.rest_deletes", "sources.rest_404",
                            "sources.rest_failed", "sources.token_refreshes",
                            "sources.sink_tasks_per_stage"]},
    **{m: "s" for m in ["sources.rest_busy_s", "sources.rest_s.p50",
                        "sources.rest_s.p99", "sources.sink_job_s"]},
    "sources.rest_concurrency": "ratio",
    "spark.input_mb": "MB",
    **{m: "s" for m in ["plans.dump_s", "plans.quarantine_s", "core.compile_s"]},
    **{m: "count" for m in ["plans.upserts", "plans.deletes", "plans.quarantined"]},
    "queries.build_s": "s", "queries.exec_s": "s",
    **{f"queries.{q}_s": "s" for q in ITERATIVE},
    "operators.leaked_rdds": "count",
    "streaming.batches": "count", "streaming.batch_s": "s",
    **{m: "count" for m in ["spark.jobs", "spark.stages", "spark.tasks",
                            "catalyst.executions"]},
    **{m: "s" for m in ["spark.job_union_s", "driver.outside_jobs_s",
                        "catalyst.plan_s", "spark.task_run_s", "spark.task_cpu_s",
                        "spark.gc_s", "spark.one_task_stage_s",
                        "spark.first_pass_gc_s", "catalyst.first_pass_plan_s"]},
    "driver.outside_jobs_share": "ratio", "spark.slot_idle_share": "ratio",
    **{m: "MB" for m in ["spark.shuffle_write_mb", "spark.shuffle_read_mb",
                         "spark.spill_mb", "spark.peak_exec_mem_mb"]},
    **{f"self.{k}_s": "s" for k in SPAN_KINDS},
    "trace.spans": "count",
    "trace.overhead_s": "s",
}

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# engine's own build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest() -> str:
    h = hashlib.sha256()
    roots = [SOURCES, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline: float) -> list:
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == digest:
                with open(CLASSPATH) as g:
                    return g.read().split(os.pathsep)
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                timeout=max(10.0, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    with open(CLASSPATH) as g:
        return g.read().split(os.pathsep)


def run_jvm(cp: list, spec: dict, args, work: str, deadline: float) -> tuple:
    ready = os.path.join(work, "ready")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = tmp
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *HEAP, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "graftbench.Main", spec["kind"], str(args.seed),
            str(args.seconds), str(spec["passes"]), str(args.trace), work, ready]
    if spec["queries"]:
        cmd.append(",".join(spec["queries"]))
    launched = time.time()
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out; log in {log}")
        finally:
            # also on a timeout or a signal: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM failed (exit {rc})")
    with open(ready) as f:
        ready_s = int(f.read()) / 1000.0
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f), ready_s - launched


def oracle_check(work: str, queries: list) -> dict:
    """Compare each dumped gate output with its DuckDB oracle on the same
    parquet, with the normalisation of the repository's tools/check.py.
    Returns {query: problem} for every mismatch."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES, norm

    out = os.path.join(work, "outputs")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/data/{t}.parquet'")
    problems = {}
    for q in queries:
        if q not in oracle:
            problems[q] = "no oracle"
            continue
        try:
            g = norm(pd.read_parquet(os.path.join(out, q)))
            w = norm(con.sql(oracle[q]).df())
            same = list(g.columns) == list(w.columns) and len(g) == len(w) and (
                g.equals(w) or g.sort_values(list(g.columns)).reset_index(drop=True).equals(
                    w.sort_values(list(w.columns)).reset_index(drop=True)))
            if not same:
                problems[q] = f"mismatch rows={len(g)}/{len(w)}"
        except Exception as e:  # noqa: BLE001
            problems[q] = f"error: {e}"
    return problems


def median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def span_self_times(path: str, traces: set) -> dict:
    """Median per pass of each span kind's self time: its duration minus the
    union of its children. Listener and transport spans take the innermost
    benchmark span that contains their start as parent."""
    spans = []
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            if s["trace"] in traces:
                spans.append(s)
    bench = [s for s in spans if s["parent"] >= 0]
    for s in spans:
        if s["parent"] < 0:
            inside = [b for b in bench if b["trace"] == s["trace"]
                      and b["start_ns"] <= s["start_ns"] <= b["end_ns"]]
            s["parent"] = min(inside, key=lambda b: b["end_ns"] - b["start_ns"])["id"] \
                if inside else 0
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    per_trace = {t: {k: 0.0 for k in SPAN_KINDS} for t in traces}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                    for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                covered += (cur_e - cur_s) if cur_e is not None else 0
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        covered += (cur_e - cur_s) if cur_e is not None else 0
        if s["kind"] in per_trace[s["trace"]]:
            per_trace[s["trace"]][s["kind"]] += (hi - lo - covered) / 1e9
    out = {f"self.{k}_s": median([per_trace[t][k] for t in traces]) for k in SPAN_KINDS}
    out["trace.spans"] = len(spans) / max(1, len(traces))
    return out


def main() -> None:
    # a terminating signal unwinds normally, so the JVM is stopped and awaited
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    spec = WORKLOADS[args.workload]

    if not os.path.isfile(os.path.join(SOURCES, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {SOURCES}", 2)
    cp = build(time.time() + 850.0)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, BENCH)
    import gen
    t0 = time.time()
    gen.generate(work, args.seed, spec["sf"], spec["kind"] == "sync")
    gen_s = time.time() - t0

    res, jvm_setup_s = run_jvm(cp, spec, args, work, deadline)
    passes = res["passes"]
    first, rest = passes[0], passes[1:]

    problems = {}
    if spec["kind"] == "gates":
        problems.update(oracle_check(work, spec["queries"]))
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    # a wrong output fails every execution of that query
    for q in problems:
        failed += sum(1 for p in passes if q not in p["failed_queries"])
    bad_passes = [f"pass {i}: {p['check']}" for i, p in enumerate(passes) if p["check"] != "ok"]
    for line in bad_passes + [f"{q}: {e}" for q, e in problems.items()]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)

    env = dict(res["env"], workload=args.workload, sf=spec["sf"],
               seconds=args.seconds, trace=args.trace,
               failed_share=failed / attempted)
    print("# env " + json.dumps(env))

    if args.trace == 0:
        metrics = {
            "setup_s": gen_s + jvm_setup_s,
            "first_pass_s": first["wall_s"],
            "pass_s": median([p["wall_s"] for p in rest]),
            "records_per_s": median([(p["attempted"] - p["failed"]) / p["wall_s"] for p in rest]),
            "rss_peak_mb": res["rss_peak_mb"],
        }
        units = END_TO_END
    else:
        traced = [p for p in rest if p["traced"]]
        untraced = [p for p in rest if not p["traced"]]
        metrics = {k: median([p["layers"].get(k, 0.0) for p in traced]) for k in PER_LAYER}
        metrics["queries.build_s"] = median([p["build_s"] for p in traced])
        metrics["queries.exec_s"] = median([p["exec_s"] for p in traced])
        for q in spec["queries"]:
            metrics[f"queries.{q}_s"] = median([p["queries"][q] for p in traced])
        metrics["operators.leaked_rdds"] = median([p["leaked_rdds"] for p in traced])
        metrics["spark.first_pass_gc_s"] = first["layers"].get("spark.gc_s", 0.0)
        metrics["catalyst.first_pass_plan_s"] = first["layers"].get("catalyst.plan_s", 0.0)
        traces = {f"{args.seed}-{i}" for i, p in enumerate(passes) if i > 0 and p["traced"]}
        metrics.update(span_self_times(os.path.join(work, "spans.jsonl"), traces))
        metrics["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - \
            median([p["wall_s"] for p in untraced])
        units = PER_LAYER
    out = {"correct": failed == 0 and not problems and not bad_passes,
           "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
