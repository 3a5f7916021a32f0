#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.sbt) with sbt and caches the classpath under
.bench_build/; later runs reuse it while the sources are unchanged.

Each run generates the workload's inputs from --seed, starts the harness
(perfbench.Main) at local[<cpus>], checks its outputs with DuckDB, and
prints a record line followed by the result line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything it writes lives
under .bench_run/<run>/ and is deleted at exit. Exit code 0 means the run
completed and its outputs were correct.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import trace_summary  # noqa: E402

BUILD_DIR = os.path.join(REPO, ".bench_build", "perfbench")
RUN_BASE = os.path.join(REPO, ".bench_run")
HEAP = "3g"
SETUP_REPS = 2
JVM_TIMEOUT_S = 150

# query_mix: read-only SparkEntry queries that never construct a Warehouse,
# by module: the staged-artifact producers and consumers (typos, lm_*,
# graph_pagerank/graph_ppr) and two plain queries.
QUERY_MIX = {
    "q2_orphans": "queries",
    "graph_pagerank": "operators", "graph_ppr": "operators",
    "text_stats": "llmops", "dedup_typos": "llmops", "typos_pipeline": "llmops",
    "lm_trigram_backoff": "llmops", "lm_ppl_buckets": "llmops",
}

# Input scale (the fixture's scale factor) and op-list length of each
# workload. dml_mix's orders span `span_days`, so lineitem has ~6 ship-month
# partitions; each pass lands one event batch of `rows_per_batch`.
WORKLOADS = {
    "dml_mix": {"sf": 0.003, "passes": 6, "span_days": 60, "rows_per_batch": 1000},
    "query_mix": {"sf": 0.01, "passes": 30},
}
# --smoke: the same workloads at the smallest scale, for the harness's own tests.
SMOKE = {"dml_mix": {"sf": 0.001, "passes": 3, "span_days": 60, "rows_per_batch": 200},
         "query_mix": {"sf": 0.001, "passes": 3}}

# End-to-end metrics (in BENCHMARK.json order) and their units. Op latency
# is bounded as a geometric mean: a window of one pass holds 8 or 9 ops of
# different kinds, whose median falls in a gap between kinds and jumps
# (quartile spread 0.28 over ten query_mix seeds); the median and the tail
# go in the record line.
UNITS = {"setup_s": "s", "cold_pass_s": "s", "op_gmean_s": "s", "ops_per_s": "1/s",
         "rows_per_s": "rows/s", "write_amp": "ratio", "peak_native_rss_mb": "MB"}

CORE_VERBS = ["merge_into", "merge_into_mor", "delete_where_mor", "update_where", "append",
              "compact", "analyze_bloom"]
PER_LAYER = (
    [(f"core.{v}_s", "s") for v in CORE_VERBS] +
    [("core.outside_job_s", "s"), ("core.jobs_per_op", "count"),
     ("core.fragments_pruned_frac", "frac"), ("core.dv_debt_rows", "rows"),
     ("core.snapshot_versions", "count"), ("core.bytes_written", "bytes"),
     ("core.files_written", "count"), ("core.space_amp", "ratio"),
     ("sql.analysis_s", "s"), ("sql.optimizer_s", "s"), ("sql.planning_s", "s"),
     ("sql.executions", "count"), ("sql.dml_stmt_s", "s"),
     ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
     ("spark.job_s", "s"), ("spark.task_cpu_s", "s"), ("spark.shuffle_read_mb", "MB"),
     ("spark.shuffle_write_mb", "MB"), ("spark.input_mb", "MB"), ("spark.spill_mb", "MB"),
     ("spark.executor_gc_s", "s"),
     ("artifact.build_s", "s"), ("artifact.builds", "count"), ("spark.storage_used_mb", "MB"),
     ("streaming.batch_s", "s"), ("streaming.batches", "count"),
     ("streaming.rows_per_batch", "rows"), ("streaming.outside_job_s", "s"),
     ("streaming.commit_s", "s"),
     ("manifest.select_s", "s")] +
    [(f"materialize.{k}_s", "s") for k in ("render", "topo_order", "view", "table",
                                            "incremental", "data_tests")] +
    [("backfill.task_s", "s"), ("backfill.tasks", "count"), ("backfill.failed_tasks", "count"),
     ("backfill.wall_s", "s"), ("backfill.parallel_eff", "frac"),
     ("queries.s", "s"), ("operators.s", "s"), ("llmops.s", "s"), ("query.max_s", "s"),
     ("jvm.jit_s", "s"), ("jvm.classes_loaded", "count"), ("jvm.gc_s", "s"),
     ("jvm.gc_count", "count"), ("jvm.heap_peak_mb", "MB"),
     ("trace.overhead_frac", "frac"), ("trace.coverage_worst", "frac"),
     ("trace.uncovered_frac", "frac"), ("run.failed_frac", "frac")])


def cpus():
    return len(os.sched_getaffinity(0))


# -------------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def _stamp():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath.
    A lock serialises concurrent first runs in one checkout."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    stamp, cp_file = _stamp(), os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ------------------------------------------------------------------- inputs

def generate(workload, seed, inputs, spec):
    """Write the workload's inputs; the harness reads nothing else."""
    if workload == "dml_mix":
        rows = gen.fixture(inputs, seed, spec["sf"], ["lineitem", "orders"], spec["span_days"])
        gen.dml_ops(inputs, seed, spec["sf"], spec["passes"], spec["span_days"])
        gen.dbt_windows(inputs, spec["passes"])
        batches = spec["passes"] + 1  # batch 0 lands at set-up
        gen.stream_batches(inputs, seed, spec["sf"], batches, spec["rows_per_batch"])
        with open(os.path.join(inputs, "stream.json"), "w") as f:
            json.dump({"batches": batches, "rows_per_batch": spec["rows_per_batch"]}, f)
    else:
        rows = gen.fixture(inputs, seed, spec["sf"])
        gen.query_order(inputs, QUERY_MIX, spec["passes"])
    fixture = {t: {"rows": n, "bytes": os.path.getsize(os.path.join(inputs, f"{t}.parquet"))}
               for t, n in rows.items()}
    with open(os.path.join(inputs, "fixture.json"), "w") as f:
        json.dump(fixture, f, sort_keys=True)


# ---------------------------------------------------------------------- jvm

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(classpath, args, root, log):
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # the heap is committed and touched up front, so the resident set
           # beyond it is the program's native memory (peak_native_rss_mb)
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main"] + args)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException as e:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit(f"perfbench: harness timed out after {JVM_TIMEOUT_S}s")
            raise


# ------------------------------------------------------------------ metrics

def _dur(s):
    return (s["end"] - s["start"]) / 1e9


def end_to_end(res):
    samples = res["samples"]
    cold = [s for s in samples if s["pass"] == 0]
    win = [s for s in samples if s["pass"] >= 1 and not s["traced"]]
    wall = (res["window_end"] - res["window_start"]) / 1e9
    durs = [_dur(s) for s in win]
    q, tail, beyond = stats.tail(durs)
    in_bytes = sum(s["in_bytes"] for s in win)
    m = {
        "setup_s": res["session_ready_s"] + stats.median(res["setup_landings_s"]),
        "cold_pass_s": (max(s["end"] for s in cold) - min(s["start"] for s in cold)) / 1e9,
        "op_gmean_s": stats.gmean(durs),
        "ops_per_s": len(win) / wall,
        "rows_per_s": sum(s["rows"] for s in win) / wall,
        "write_amp": sum(s["wchar"] for s in win) / in_bytes if in_bytes else 0.0,
        "peak_native_rss_mb": res["peak_rss_mb"] - res["heap_committed_mb"],
    }
    by_kind = {}
    for s in win:
        by_kind.setdefault(s["kind"], []).append(_dur(s))
    info = {"setups_s": res["setup_landings_s"], "peak_rss_mb": res["peak_rss_mb"],
            "op_p50_s": stats.median(durs), "op_tail_s": tail, "op_tail_percentile": q, "op_tail_samples_beyond": beyond,
            "window_ops": len(win),
            "backfill_failed_tasks": res["extra"].get("backfill_failed_tasks", 0),
            "backfill_task_errors": res["extra"].get("backfill_task_errors", []),
            "window_s": wall, "window_passes": res["passes"] - 1,
            "kind_p50_s": {k: stats.median(v) for k, v in sorted(by_kind.items())}}
    return m, info


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(a, f)) for a, _, fs in os.walk(d) for f in fs)


def per_layer(res, summ, out, failed_frac):
    c = res["counters"]
    extra = res["extra"]
    traced = [s for s in res["samples"] if s["traced"]]
    n_traced = max(1, len(traced))
    calls, total, selfs, jobs = (summ["name_calls"], summ["name_total_s"], summ["name_self_s"],
                                 summ["jobs_under"])

    def mean(name):
        return total.get(name, 0.0) / calls[name] if calls.get(name) else 0.0

    def prefixed(prefix, d):
        return sum(v for k, v in d.items() if k.startswith(prefix))

    def per_call(prefix, d):
        n = prefixed(prefix, calls)
        return prefixed(prefix, d) / n if n else 0.0

    live = sum(_dir_bytes(os.path.join(out, t)) for t in extra.get("live_tables", []))
    tp = [s for s in res["samples"] if s["pass"] >= 1]
    pass_wall = {}
    for s in tp:
        a, b = pass_wall.get(s["pass"], (s["start"], s["end"]))
        pass_wall[s["pass"]] = (min(a, s["start"]), max(b, s["end"]))
    t_walls = [(b - a) / 1e9 for p, (a, b) in pass_wall.items() if p % 2 == 1]
    u_walls = [(b - a) / 1e9 for p, (a, b) in pass_wall.items() if p % 2 == 0]
    batches = c.get("streaming.batches", 0)
    stream_ops = [s for s in traced if s["layer"] == "streaming"]
    query_ops = [s for s in traced if s["layer"] in ("queries", "operators", "llmops")]
    # a backfill op's wall time includes the serial retry of failed tasks
    backfills = [_dur(s) for s in traced if s["kind"] == "backfill"]
    m = {f"core.{v}_s": mean(f"core.{v}") for v in CORE_VERBS}
    m.update({f"materialize.{k}_s": mean(f"materialize.{k}")
              for k in ("render", "topo_order", "view", "table", "incremental", "data_tests")})
    m.update({
        "core.outside_job_s": per_call("core.", selfs),
        "core.jobs_per_op": per_call("core.", jobs),
        "core.fragments_pruned_frac": (c.get("core.fragments_pruned", 0) /
                                       c["core.fragments_considered"]
                                       if c.get("core.fragments_considered") else 0.0),
        "core.dv_debt_rows": (c.get("core.dv_debt_rows", 0) / c["core.dv_debt_samples"]
                              if c.get("core.dv_debt_samples") else 0.0),
        "core.snapshot_versions": extra.get("snapshot_versions", 0),
        "core.bytes_written": c.get("core.bytes_written", 0) / n_traced,
        "core.files_written": c.get("core.files_written", 0) / n_traced,
        "core.space_amp": extra["warehouse_bytes"] / live if live and "warehouse_bytes" in extra
        else 0.0,
        "sql.dml_stmt_s": mean("sql.dml_stmt"),
        "artifact.build_s": extra.get("artifact_build_s", 0.0),
        "artifact.builds": extra.get("artifact_builds", 0),
        "spark.storage_used_mb": res["storage_used_mb"],
        "streaming.batch_s": mean("streaming.batch"),
        "streaming.batches": batches / len(stream_ops) if stream_ops else 0.0,
        "streaming.rows_per_batch": (sum(s["rows"] for s in stream_ops) / batches
                                     if batches else 0.0),
        "streaming.outside_job_s": per_call("streaming.", selfs),
        "streaming.commit_s": mean("streaming.commit"),
        "queries.s": mean("queries.query"),
        "operators.s": mean("operators.query"),
        "llmops.s": mean("llmops.query"),
        "query.max_s": max((_dur(s) for s in query_ops), default=0.0),
        "manifest.select_s": mean("manifest.select"),
        "backfill.task_s": mean("backfill.task"),
        "backfill.tasks": c.get("backfill.tasks", 0) / len(backfills) if backfills else 0.0,
        "backfill.failed_tasks": c.get("backfill.failed_tasks", 0),
        "backfill.wall_s": sum(backfills) / len(backfills) if backfills else 0.0,
        "backfill.parallel_eff": (total.get("backfill.task", 0.0) /
                                  (sum(backfills) * extra["backfill_parallelism"])
                                  if backfills else 0.0),
        "trace.overhead_frac": (sum(t_walls) / len(t_walls)) / (sum(u_walls) / len(u_walls)) - 1
        if t_walls and u_walls else 0.0,
        "trace.coverage_worst": summ["coverage_worst"],
        "trace.uncovered_frac": summ["layer_self_s"].get("uncovered", 0.0) / summ["wall_s"]
        if summ["wall_s"] else 0.0,
        "run.failed_frac": failed_frac,
    })
    for k in ("analysis_s", "optimizer_s", "planning_s", "executions"):
        m[f"sql.{k}"] = c.get(f"sql.{k}", 0.0) / n_traced
    for k in ("jobs", "stages", "tasks", "job_s", "task_cpu_s", "shuffle_read_mb",
              "shuffle_write_mb", "input_mb", "spill_mb", "executor_gc_s"):
        m[f"spark.{k}"] = c.get(f"spark.{k}", 0.0) / n_traced
    for k, v in res["jvm"].items():
        m[f"jvm.{k}"] = v
    return m


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="smallest inputs (harness tests)")
    a = ap.parse_args()
    # a TERM must still stop the JVM and remove the run directory (finally:)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        sys.stderr.write("perfbench: engine sources not found next to perfbench/\n")
        return 2
    classpath = build()

    run_dir = os.path.join(RUN_BASE, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    inputs, root, out = (os.path.join(run_dir, d) for d in ("inputs", "root", "out"))
    for d in (inputs, root, out):
        os.makedirs(d)
    phases = {}
    t0 = time.time()
    try:
        spec = (SMOKE if a.smoke else WORKLOADS)[a.workload]
        generate(a.workload, a.seed, inputs, spec)
        phases["generate_s"] = time.time() - t0
        load_before = os.getloadavg()[0]
        rc = run_jvm(classpath, ["--workload", a.workload, "--inputs", inputs, "--root", root,
                                 "--out", out, "--seconds", str(a.seconds),
                                 "--trace", str(a.trace), "--cpus", str(cpus()),
                                 "--setup-reps", str(SETUP_REPS)],
                     root, os.path.join(run_dir, "jvm.log"))
        load_after = os.getloadavg()[0]
        phases["jvm_s"] = time.time() - t0 - phases["generate_s"]
        if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.stderr.write(f"perfbench: harness exited with {rc}\n")
            return 1
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)

        if a.workload == "dml_mix":
            executed = {(s["pass"], s["kind"]) for s in res["samples"] if s["ok"]}
            fails = (check.check_dml(inputs, out, executed) +
                     check.check_stream(inputs, out, res["extra"]["batches_landed"]) +
                     check.check_dbt(inputs, out, executed))
        else:
            fails = check.check_queries(inputs, out)
        phases["check_s"] = time.time() - t0 - phases["generate_s"] - phases["jvm_s"]
        op_errors = [s["err"] for s in res["samples"] if not s["ok"]]
        attempted = len(res["samples"])
        failed = attempted if fails else len(op_errors)
        correct = not fails and not op_errors

        if a.trace:
            spans = trace_summary.load(os.path.join(out, "spans.jsonl"))
            summ = trace_summary.summarize(spans)
            metrics = per_layer(res, summ, out, failed / attempted)
            units = dict(PER_LAYER)
            info = {"coverage_ok": summ["coverage_ok"], "coverage_bad_ops": summ["coverage_bad_ops"],
                    "layer_self_s": summ["layer_self_s"]}
        else:
            metrics, info = end_to_end(res)
            units = UNITS
        record = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "ambient": {"nproc": cpus(), "heap_max_mb": res["heap_max_mb"], "jdk": res["jdk"],
                        "spark": res["spark"], "loadavg_1m": [load_before, load_after],
                        "calibration_s": res["calibration_s"]},
            "info": info, "phases": phases, "check_failures": fails[:5], "op_errors": op_errors[:5],
        }
        print("record " + json.dumps(record, sort_keys=True))
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
