#!/usr/bin/env python3
"""graft benchmark: one workload pass in one fresh Spark process.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness from
source with sbt (offline) into .bench_build/ and perfbench/target/.
Each run then:

1. stages its inputs from --seed (three times; the median staging time
   goes into setup_s, and the three copies must be byte-identical);
2. starts one JVM with Spark at local[N], N = the CPUs this process may
   use, and runs the workload's fixed operation list once, in order, as
   one closed-loop client (perfbench/src/main/scala/perfbench/Main.scala);
3. checks every committed output against DuckDB (perfbench/check.py);
4. prints one line per metric and, last, one JSON object with keys
   correct, attempted, failed and metrics.

--trace 0 reports the end-to-end metrics with no listeners registered.
--trace 1 registers the harness's listeners, writes spans to
.bench_build/runs/<workload>-<seed>-1/spans.jsonl and reports the
per-layer metrics. --seconds is the nominal length of the measured pass:
each workload's operation list is fixed so that both sides of a
comparison run the same work, and is sized to about this long on a
4-core machine. A pass that is not done 170 s after start is killed and
the run fails without a result.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import stage  # noqa: E402
import stats  # noqa: E402

# Every workload runs a fixed operation list over inputs staged from the
# seed. `sf` is the staging scale factor (0.1 = 600k lineitem rows).
WORKLOADS = {
    # The paper's step-driven batch ETL as one job: many short plans over
    # 600k-row inputs, so Catalyst phases, codegen, scan, exchange,
    # aggregate and window work dominate; no loops, no merges. Every module
    # family that can run inside the checkout is represented; q57, q69 and
    # q73 build fixed fixtures and do not depend on the seed (see README.md).
    "transit_batch": {"sf": 0.1, "ops": [
        "q01_ruleagg_basic", "q11_impute", "q30_trip_segmentation",
        "q57_demand_assembly", "q68_taxi_segmentation", "q69_map_matching",
        "q73_master_route", "q77_mode_lookup"]},
    # Iterative graph loops on small data, so each round's fixed cost (the
    # lineage-cut job, the stop probe, the replan) dominates; they also
    # leave lineage cuts persisted. No sinks. q182 is left out: on some
    # seeds its ranks drift from its oracle (see README.md).
    "graph_loops": {"sf": 0.01, "ops": [
        "q188_lpa_tol", "q191_kcore", "q202_anf"]},
    # The write path: partitioned write of a 10x orders table, month-bounded
    # merges one by one, compaction, read-back aggregate.
    "sink_upsert": {"sf": 0.01, "changesets": 8},
}

# Loop queries without a declared `iters` output run a fixed number of hops.
FIXED_ROUNDS = {"q202_anf": 4}

END_TO_END = {"setup_s": "s", "wall_s": "s", "ok_frac": "ratio"}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

DEADLINE_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Digest of the paths, sizes and mtimes of every build input."""
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles the program and the harness (once per source state) and
    returns the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read().strip()
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log("building the program and the harness (first run in this checkout)")
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
        out.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {os.path.join(build_dir, 'build.log')}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def digest(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stage_inputs(spec, seed, data_dir):
    if "changesets" in spec:
        stage.stage_sink(seed, spec["sf"], spec["changesets"], data_dir)
    else:
        stage.stage_tables(seed, spec["sf"], data_dir)


def stage_timed(spec, seed, run_dir, repeats=3):
    """Stages the inputs `repeats` times; returns (data dir, median
    seconds). Every copy must be byte-identical."""
    times, digests = [], []
    for i in range(repeats):
        d = os.path.join(run_dir, f"data{i}")
        t = time.perf_counter()
        stage_inputs(spec, seed, d)
        times.append(time.perf_counter() - t)
        digests.append(digest(d))
        if i:
            shutil.rmtree(d)
    if len(set(digests)) != 1:
        fail("staging is not deterministic: copies of one seed differ", 4)
    return os.path.join(run_dir, "data0"), statistics.median(times)


def run_jvm(cp, workload, spec, data_dir, run_dir, trace, deadline):
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--data", data_dir,
            "--run", run_dir, "--cpus", str(cpus), "--trace", str(trace)]
    if "ops" in spec:
        cmd += ["--ops", ",".join(spec["ops"])]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        spawn = time.time()
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail("the pass did not finish in time", 5)
        finally:
            # also on SIGTERM (see main): never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    log(f"jvm cpu {ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime:.1f} s")
    if code != 0:
        fail(f"the Spark process exited with {code}, see {run_dir}/jvm.log", 6)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), spawn


def verdicts_for(workload, spec, data_dir, run_dir, ops):
    """{operation name: None or why it failed}, plus partitions changed
    per changeset for the sink workload."""
    tmp = os.path.join(run_dir, "tmp")
    verdict = {o["name"]: o["error"] for o in ops}
    changed = []
    if workload == "sink_upsert":
        checks, changed = check.check_sink(data_dir, run_dir, tmp)
        # the table check covers every operation that wrote the table; a
        # mismatch is billed to the last of them
        verdict["compact"] = verdict["compact"] or checks["table"]
        verdict["readback"] = verdict["readback"] or checks["readback"]
    else:
        checks = check.check_queries(data_dir, os.path.join(run_dir, "out"),
                                     os.path.join(run_dir, "oracle_sql.json"),
                                     spec["ops"], tmp)
        for name, why in checks.items():
            verdict[name] = verdict[name] or why
    return verdict, changed


def end_to_end(result, ops, setup_s, failed):
    return {
        "setup_s": setup_s,
        "wall_s": result["wall_s"],
        "ok_frac": (len(ops) - failed) / len(ops),
    }


def per_layer(result, ops, run_dir, changed, failed):
    """Every per-layer metric, summed over the pass's operations."""
    m = {}
    walls = [o["build_ms"] + o["action_ms"] for o in ops]
    m["op_p50_ms"] = statistics.median(walls)
    t = stats.tail(walls)
    m["op_tail_ms"], m["op_tail_pct"] = (t[1], t[0]) if t else (max(walls), 100.0)
    m["op_samples"] = len(walls)
    m["failed_frac"] = failed / len(ops)
    m["retained_mb"] = result["retained_mb"]
    m["catalog.build_ms"] = sum(o["build_ms"] for o in ops)
    m["catalog.action_ms"] = sum(o["action_ms"] for o in ops)
    for key in LAYER_SUMS:
        m[key] = sum(o["layers"].get(key, 0.0) for o in ops)

    loops = [o for o in ops if o.get("rounds")]
    rounds = sum(o["rounds"] for o in loops)
    loop_ms = sum(o["build_ms"] + o["action_ms"] for o in loops)
    m["graph.rounds"] = rounds
    m["graph.round_ms"] = loop_ms / rounds if rounds else 0.0
    m["graph.jobs_per_round"] = (sum(o["layers"].get("scheduler.jobs", 0) for o in loops) / rounds
                                 if rounds else 0.0)
    for key in ("graph.checkpoint_jobs", "graph.probe_jobs"):
        m[key] = sum(o["layers"].get(key, 0.0) for o in loops)
    m["rounds_per_s"] = rounds / (loop_ms / 1000) if rounds else 0.0

    sink = {k: [o for o in ops if o["kind"] == k] for k in ("write", "merge", "compact")}
    sink_ops = sink["write"] + sink["merge"] + sink["compact"]
    for kind, key in (("write", "sinks.write_ms"), ("merge", "sinks.merge_ms"),
                      ("compact", "sinks.compact_ms")):
        m[key] = sum(o["build_ms"] + o["action_ms"] for o in sink[kind])
    for key in ("files_written", "bytes_written"):
        m[f"sinks.{key}"] = sum(o["extra"].get(key, 0.0) for o in sink_ops)
    # useful/attempted for the merges: partitions whose content a merge
    # changed, over the partitions it rewrote
    m["sinks.partitions_rewritten"] = sum(o["extra"]["partitions_rewritten"] for o in sink["merge"])
    m["sinks.partitions_changed"] = sum(changed)
    merged_in = sum(o["extra"].get("input_bytes", 0.0) for o in sink["merge"])
    m["sinks.write_amp"] = (sum(o["extra"]["bytes_written"] for o in sink["merge"]) / merged_in
                            if merged_in else 0.0)
    last = sink["merge"][-1]["extra"] if sink["merge"] else {}
    m["sinks.files_per_partition"] = (last["files"] / last["partitions"]
                                      if last.get("partitions") else 0.0)

    m["state.persisted_rdds_after_op"] = ops[-1]["persisted_after"]
    m["state.storage_mb_after_op"] = ops[-1]["storage_mb_after"]
    m["state.leaking_ops"] = sum(
        1 for prev, o in zip([0] + [p["persisted_after"] for p in ops], ops)
        if o["persisted_after"] > prev)

    spans = []
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        for line in f:
            spans.append(json.loads(line))
    own = stats.self_times(spans)
    m["trace.wall_s"] = result["wall_s"]
    m["trace.op_self_ms"] = sum(own[s["id"]] for s in spans if s["kind"] == "operation")
    m["trace.job_self_ms"] = sum(own[s["id"]] for s in spans if s["kind"] == "job")
    m["trace.spans"] = len(spans)
    return m


LAYER_SUMS = [
    "driver.analysis_ms", "driver.optimizer_ms", "driver.planning_ms",
    "driver.codegen_ms", "driver.codegen_compiles", "driver.sql_executions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.sched_delay_ms", "scheduler.tasks_failed",
    "executor.run_ms", "executor.gc_ms", "executor.spill_mb", "executor.input_mb",
    "executor.shuffle_write_mb", "executor.shuffle_read_mb", "executor.output_mb",
    "exec.scan.rows", "exec.exchange.bytes", "exec.aggregate.ms",
    "exec.join.build_ms", "exec.sort.ms"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]
    # turn SIGTERM into SystemExit so the cleanup in run_jvm runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)

    start = time.monotonic()
    runs = os.path.join(build_dir, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    os.makedirs(run_dir)
    data_dir, staging_s = stage_timed(spec, a.seed, run_dir)
    result, spawn = run_jvm(cp, a.workload, spec, data_dir, run_dir, a.trace,
                            start + DEADLINE_S)
    setup_s = staging_s + (result["ready_epoch_ms"] / 1000.0 - spawn)
    log(f"staged in {staging_s:.2f} s; pass {result['wall_s']:.2f} s; "
        f"{time.monotonic() - start:.1f} s since start")

    ops = result["ops"]
    verdict, changed = verdicts_for(a.workload, spec, data_dir, run_dir, ops)
    if a.workload == "graph_loops":
        for o in ops:
            o["rounds"] = (check.loop_rounds(os.path.join(run_dir, "out"), o["name"])
                           or FIXED_ROUNDS.get(o["name"], 0))
    log(f"checked; {time.monotonic() - start:.1f} s since start")
    bad = [(n, why) for n, why in verdict.items() if why]
    for name, why in bad:
        print(f"[perfbench] FAIL {name}: {why}")

    if a.trace:
        metrics = per_layer(result, ops, run_dir, changed, len(bad))
        units = LAYER_UNITS
    else:
        metrics = end_to_end(result, ops, setup_s, len(bad))
        units = END_TO_END
    for k, v in metrics.items():
        print(f"{k} = {v} {units[k]}")
    print(json.dumps({
        "correct": not bad,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))


LAYER_UNITS = {
    "op_p50_ms": "ms", "op_tail_ms": "ms", "op_tail_pct": "%", "op_samples": "count",
    "failed_frac": "ratio", "retained_mb": "MB",
    "catalog.build_ms": "ms", "catalog.action_ms": "ms",
    "driver.analysis_ms": "ms", "driver.optimizer_ms": "ms", "driver.planning_ms": "ms",
    "driver.codegen_ms": "ms", "driver.codegen_compiles": "count",
    "driver.sql_executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.sched_delay_ms": "ms", "scheduler.tasks_failed": "count",
    "executor.run_ms": "ms", "executor.gc_ms": "ms", "executor.spill_mb": "MB",
    "executor.input_mb": "MB", "executor.shuffle_write_mb": "MB",
    "executor.shuffle_read_mb": "MB", "executor.output_mb": "MB",
    "exec.scan.rows": "count", "exec.exchange.bytes": "B", "exec.aggregate.ms": "ms",
    "exec.join.build_ms": "ms", "exec.sort.ms": "ms",
    "graph.rounds": "count", "graph.round_ms": "ms", "graph.jobs_per_round": "count",
    "graph.checkpoint_jobs": "count", "graph.probe_jobs": "count", "rounds_per_s": "1/s",
    "sinks.write_ms": "ms", "sinks.merge_ms": "ms", "sinks.compact_ms": "ms",
    "sinks.files_written": "count", "sinks.bytes_written": "B",
    "sinks.partitions_rewritten": "count", "sinks.partitions_changed": "count",
    "sinks.write_amp": "ratio", "sinks.files_per_partition": "count",
    "state.persisted_rdds_after_op": "count", "state.storage_mb_after_op": "MB",
    "state.leaking_ops": "count",
    "trace.wall_s": "s", "trace.op_self_ms": "ms", "trace.job_self_ms": "ms",
    "trace.spans": "count",
}

if __name__ == "__main__":
    main()
