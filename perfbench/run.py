#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload api_list --seed 1 --seconds 6 --trace 0

Run from the repository root. Builds graft plus the harness from source
when the sources changed (perfbench/target), generates the workload's
inputs from the seed (under .bench_build/perfbench), runs one JVM on
local[<cores>] as a closed loop with one client, checks every distinct
query's answer against its DuckDB oracle, and prints one JSON line last:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
Spans of a traced run are kept under .bench_build/perfbench/traces.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

HEAP = "4g"
JVM_TIMEOUT_S = 160
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
# the JDK 17 module opens Spark needs when started outside spark-submit
# (the list the repository's build.sbt gives its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest(root):
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile graft and the harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft's sources (src/main/scala/graft) are missing; "
                         "run from the repository root")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def inputs(work, run_dir, workload, seed):
    """Generated input directory for the workload. Seed-free base data is
    kept for later runs; a seeded copy lives and dies with its run."""
    w = workloads.WORKLOADS[workload]
    if w["copies"] > 1:
        d = os.path.join(run_dir, "data")
        gen.generate(d, w["sf"], w["copies"], seed)
        return d
    d = os.path.join(work, "data", f"sf{w['sf']}")
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, w["sf"])
        os.replace(tmp, d)
    return d


def run_jvm(root, classes, plan_path, tmp):
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cp = os.pathsep.join([classes, os.path.join(HERE, "conf"), jars])
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", plan_path])
    p = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if p.poll() is None:  # timed out or interrupted: never leave the JVM behind
            p.kill()
            p.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: harness JVM failed ({rc})")


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw, reqs):
    walls = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    lat = [r["sweep_ms"] + r["build_ms"] + r["exec_ms"] for r in reqs if not r["traced"]]
    return {
        "setup_s": metric(raw["setup_s"], "s"),
        "batch_s": metric(stats.median(walls), "s"),
        "latency_p50_ms": metric(stats.median(lat), "ms"),
        "latency_p90_ms": metric(stats.percentile(lat, 90), "ms"),
    }


def per_layer(raw, reqs):
    """Per-layer metrics of the traced passes: per-request means unless the
    name says otherwise."""
    tr = [r for r in reqs if r["traced"]]
    n = len(tr)

    def mean(f, rs=tr):
        return sum(f(r) for r in rs) / len(rs) if rs else 0.0

    wall_ms = sum(r["sweep_ms"] + r["build_ms"] + r["exec_ms"] for r in tr)
    untraced = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    traced = [p["wall_s"] for p in raw["passes"] if p["traced"]]
    m = {
        "build.ms": metric(mean(lambda r: r["build_ms"]), "ms"),
        "build.jobs": metric(mean(lambda r: r["build_jobs"]), "count"),
        "build.self_ms": metric(mean(lambda r: r["build_ms"] - r["build_job_ms"]), "ms"),
        "cachescope.sweep_ms": metric(mean(lambda r: r["sweep_ms"]), "ms"),
        "indexcache.mb": metric(raw["indexcache_mb_end"], "MB"),
        "storage.peak_mb": metric(max(r["storage_mb"] for r in reqs), "MB"),
        "exec.ms": metric(mean(lambda r: r["exec_ms"]), "ms"),
        "exec.self_ms": metric(mean(lambda r: r["exec_ms"] - r["exec_job_ms"]), "ms"),
        "exec.jobs": metric(mean(lambda r: r["exec_jobs"]), "count"),
        "exec.stages": metric(mean(lambda r: r["exec_stages"]), "count"),
        "exec.tasks": metric(mean(lambda r: r["exec_tasks"]), "count"),
        "exec.driver_gap_ms": metric(mean(lambda r: r["driver_gap_ms"]), "ms"),
        "exec.task_ms": metric(mean(lambda r: r["task_ms"]), "ms"),
        "exec.core_busy": metric(sum(r["task_ms"] for r in tr) / (wall_ms * raw["cores"])
                                 if wall_ms else 0.0, "ratio"),
        "exec.gc_ms": metric(mean(lambda r: r["gc_ms"]), "ms"),
        "exec.task_skew": metric(stats.median([r["task_skew"] for r in tr]) if tr else 0.0,
                                 "ratio"),
        "exec.task_retries": metric(sum(r["task_retries"] for r in tr), "count"),
        "shuffle.write_mb": metric(mean(lambda r: r["shuffle_write_mb"]), "MB"),
        "shuffle.read_mb": metric(mean(lambda r: r["shuffle_read_mb"]), "MB"),
        "spill.mb": metric(mean(lambda r: r["spill_mb"]), "MB"),
        "scan.input_mb": metric(mean(lambda r: r["scan_input_mb"]), "MB"),
        "scan.records": metric(mean(lambda r: r["scan_records"]), "count"),
        "sink.output_mb": metric(mean(lambda r: r["sink_output_mb"]), "MB"),
        "sink.records": metric(mean(lambda r: r["sink_records"]), "count"),
        "codegen.compiles": metric(raw["codegen_compiles"], "count"),
        "codegen.compile_ms": metric(raw["codegen_compile_ms"], "ms"),
        "trace.requests": metric(n, "count"),
        "trace.overhead_s": metric(stats.median(traced) - stats.median(untraced), "s"),
    }
    for fam in workloads.FAMILIES:
        rs = [r for r in tr if workloads.MODULE[r["q"]] == fam]
        m[f"family.{fam}.build_ms"] = metric(mean(lambda r: r["build_ms"], rs), "ms")
        m[f"family.{fam}.exec_ms"] = metric(mean(lambda r: r["exec_ms"], rs), "ms")
        m[f"family.{fam}.jobs"] = metric(
            mean(lambda r: r["build_jobs"] + r["exec_jobs"], rs), "count")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run unwinds like an interrupted one, stopping its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("perfbench: SPARK_HOME must name the Spark installation")
    root = os.getcwd()
    classes = build(root)
    work = os.path.join(root, ".bench_build", "perfbench")
    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        data = inputs(work, run_dir, a.workload, a.seed)
        w = workloads.WORKLOADS[a.workload]
        warmup, passes = workloads.plan(a.workload, a.seed)
        cores = len(os.sched_getaffinity(0))
        plan_path = os.path.join(run_dir, "plan.txt")
        with open(plan_path, "w") as f:
            f.write(f"data={data}\nout={run_dir}\nsink={w['sink']}\n"
                    f"sink_dir={os.path.join(run_dir, 'sink')}\ncores={cores}\n"
                    f"seconds={a.seconds}\nmin_passes={w['min_passes']}\ntrace={a.trace}\n"
                    f"warmup={','.join(warmup)}\n")
            f.writelines(f"pass={','.join(p)}\n" for p in passes)
        t = time.time()
        run_jvm(root, classes, plan_path, tmp)
        log(f"harness JVM finished in {time.time() - t:.1f} s")
        with open(os.path.join(run_dir, "raw.json")) as f:
            raw = json.load(f)
        reqs = raw["requests"]
        answers = os.path.join(run_dir, "sink" if w["sink"] == "parquet" else "verify")
        mismatches = oracle.check(answers, data, raw["oracle_sql"], warmup)
        for q, why in {**raw["verify_errors"], **mismatches}.items():
            log(f"answer check failed: {q}: {why[:300]}")
        for r in reqs:
            if r["error"]:
                log(f"request failed: {r['q']}: {r['error'][:300]}")
        attempted, failed = stats.failures(reqs, raw["verify_errors"], mismatches, len(warmup))
        if a.trace:
            metrics = per_layer(raw, reqs)
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "trace.json"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.json"))
        else:
            metrics = end_to_end(raw, reqs)
        log(f"failed_ratio = {failed}/{attempted}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
