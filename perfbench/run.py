#!/usr/bin/env python3
"""Benchmark for the graft engine: one workload per run, in its own JVM.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload query_stream --seed 1 --seconds 10 --trace 0

It builds the engine and the harness from source (cached under
`.bench_build/`, or `$CARGO_TARGET_DIR` when set), generates the
workload's inputs from the seed, runs `perfbench.Harness` at
local[nproc] with every scratch directory inside a per-run work dir,
checks the outputs, deletes the work dir, and prints the metrics: one
`name value unit` line each, then the run record, then one JSON summary
as the last line. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer ones (from a run with listeners and spans on).
Exit code 0 means every output check passed.
"""
import argparse
import fcntl
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

import stats  # noqa: E402

# Sizes of the inputs generated here, per workload (see BENCHMARK.json
# for why each workload exists). The harness keeps its own fixed sizes
# (players, queries, stream interval) and reports them in the record.
SIZES = {
    "etl_season": {},
    "query_stream": {"orders": 3000, "docs": 600, "seed_frac": 1 / 3,
                     "docs_per_file": 40},
}
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jars the engine compiles and runs against: $SPARK_HOME/jars,
    else the `unmanagedBase` directory the project's build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    main = []
    for d, _, fs in os.walk(os.path.join(root, "src", "main", "scala")):
        main += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    bench = [os.path.join(HERE, "scala", f)
             for f in os.listdir(os.path.join(HERE, "scala")) if f.endswith(".scala")]
    return sorted(main), sorted(bench)


def build(root, build_dir):
    """Compile the engine, then the harness against it, with the Scala
    compiler that ships in the Spark jars. Cached by source digest."""
    main, bench = sources(root)
    if not main:
        fail("no engine sources under src/main/scala: run from a source checkout")
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir, f"classes-{key}")
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".ok")):
            return out, key
        shutil.rmtree(out, ignore_errors=True)
        for old in os.listdir(build_dir):
            if old.startswith("classes-"):
                shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
        os.makedirs(out)
        cp = os.path.join(spark_jars(root), "*")
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                  "scala.tools.nsc.Main",
                  "-usejavacp", "-nowarn", "-d", out]
        t0 = time.time()
        for files, extra in ((main, []), (bench, ["-classpath", out])):
            r = subprocess.run(scalac + extra + files, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                fail("build failed")
        open(os.path.join(out, ".ok"), "w").close()
        print(f"# built {len(main)}+{len(bench)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return out, key


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def make_inputs(workload, seed, inputs):
    """The workload's input files; the season of etl_season is made
    inside the harness, from the same seed."""
    import gen
    sz = SIZES[workload]
    if workload == "query_stream":
        gen.warehouse(seed, sz["orders"], os.path.join(inputs, "warehouse"))
        n_seed = int(sz["docs"] * sz["seed_frac"])
        gen.stream_docs(seed, sz["docs"], n_seed, inputs, sz["docs_per_file"])


def heap():
    """Half the machine's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def layer_metrics(res, nproc):
    """Per-layer metrics from a traced run's result file. Every metric is
    reported on both workloads; a layer a workload does not call reads 0
    (its predicted no-change). Stage times are shares of the wall time
    of the operation they belong to, so that they read 0, not a
    constant time, where the layer is idle."""
    c = res["counters"]
    eng = res["engine"]
    t = eng["total"]
    ops = max(1, res["attempted"])
    window = res["window_s"]
    spans = res["spans"]
    m = {}

    def share(x, whole):
        return x / whole if whole > 0 else 0.0

    def span_s(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    # sources / transform / load: the one EtlRun.run
    etl = sum(span_s("etl.run"))
    for name, span in (("sources.extract_share", "sources.extract"),
                       ("transform.stage_share", "transform.stage"),
                       ("load.stage_share", "load.stage")):
        m[name] = (share(sum(span_s(span)), etl), "fraction")
    m["sources.http_gets"] = (c.get("sources.http_gets", 0), "count")
    m["sources.landing_bytes"] = (c.get("sources.landing_bytes", 0), "bytes")
    tspans = [(s["start"], s["end"]) for s in spans if s["name"] == "transform.stage"]
    m["transform.jobs"] = (sum(1 for _, js, _ in eng["jobs"]
                               if any(a <= js <= b for a, b in tspans)), "count")
    m["load.rows"] = (c.get("load.rows", 0), "count")
    m["load.rows_per_s"] = (share(c.get("load.rows", 0), sum(span_s("load.stage"))), "1/s")
    # queries and the operators they call: one cold and one warm pass
    cold = c.get("queries.cold_pass_s", 0.0)
    warm = c.get("queries.warm_pass_s", 0.0)
    m["queries.cold_pass_share"] = (share(cold, window), "fraction")
    m["queries.warm_over_cold"] = (share(warm, cold), "ratio")
    groups = eng["groups"]
    passes = 2
    for q in res["queries"]:
        m[f"queries.{q}.cold_share"] = (share(c.get(f"queries.{q}.cold_s", 0.0), cold), "fraction")
        m[f"queries.{q}.warm_share"] = (share(c.get(f"queries.{q}.warm_s", 0.0), warm), "fraction")
        m[f"queries.{q}.shuffle_bytes"] = (
            groups.get(q, {}).get("shuffle_write_bytes", 0) / passes, "bytes/op")
    # the seed index is built in set-up: share of the kept set-up
    m["operators.seed_index_build_share"] = (
        share(c.get("operators.seed_index_build_s", 0.0), res["setup_s"][-1]), "fraction")
    m["operators.framecache_builds_cold"] = (c.get("operators.framecache_builds_cold", 0), "count")
    m["operators.framecache_builds_warm"] = (c.get("operators.framecache_builds_warm", 0), "count")
    # streaming: per micro-batch, as shares of the median latency
    lat = stats.median(res["op_s"]) if res["op_s"] else 0.0
    interval_ms = res["sizes"].get("interval_ms", 0)
    for name, key in (("streaming.add_batch_share", "streaming.add_batch_ms_p50"),
                      ("streaming.planning_share", "streaming.planning_ms_p50"),
                      ("streaming.wal_commit_share", "streaming.wal_commit_ms_p50"),
                      ("streaming.queue_wait_share", "streaming.queue_wait_ms_p50")):
        m[name] = (share(c.get(key, 0.0) / 1e3, lat), "fraction")
    m["streaming.index_bytes_end"] = (c.get("streaming.index_bytes_end", 0), "bytes")
    m["streaming.tail_over_head"] = (c.get("streaming.tail_over_head", 0.0), "ratio")
    m["streaming.generator_late_share"] = (
        share(c.get("streaming.generator_late_ms_max", 0.0), interval_ms), "fraction")
    m["streaming.backlog_files_end"] = (c.get("streaming.backlog_files_end", 0), "count")
    m["streaming.latency_over_interval"] = (share(lat * 1e3, interval_ms), "ratio")
    # the engine under every layer, per operation
    m["spark.jobs"] = (t["jobs"] / ops, "count/op")
    m["spark.stages"] = (t["stages"] / ops, "count/op")
    m["spark.tasks"] = (t["tasks"] / ops, "count/op")
    m["spark.task_run_s"] = (t["task_run_s"] / ops, "s")
    m["spark.task_cpu_s"] = (t["task_cpu_s"] / ops, "s")
    m["spark.core_busy_frac"] = (share(t["task_run_s"], window * nproc), "fraction")
    m["spark.task_skew_max"] = (eng["task_skew_max"], "ratio")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "input_bytes", "output_bytes"):
        m[f"spark.{k}"] = (t[k] / ops, "bytes/op")
    m["spark.codegen_compile_ms"] = (res["codegen_compile_ms"] / ops, "ms")
    m["jvm.gc_s"] = (res["gc_s"] / ops, "s")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    # the tracing itself: traced run_s (minus the untraced run_s = the
    # overhead) and how far span self-times miss the wall time
    self_sum = sum(stats.self_times(spans).values())
    m["trace.run_s"] = (window, "s")
    m["trace.self_time_gap_frac"] = (share(abs(self_sum - window), window), "fraction")
    return m, stats.self_time_by_name(spans), self_sum


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "EtlRun.scala")):
        fail("run from the root of a graft source checkout (src/main/scala missing)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes, code_key = build(root, build_dir)

    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    for d in (inputs, work, os.path.join(work, "tmp"), os.path.join(work, "index")):
        os.makedirs(d, exist_ok=True)
    proc = None
    try:
        tot0, steal0 = cpu_ticks()
        t_gen = time.time()
        make_inputs(a.workload, a.seed, inputs)
        gen_s = time.time() - t_gen
        xmx = heap()
        out_file = os.path.join(run_dir, "result.json")
        # -UsePerfData: no hsperfdata file in the system temp dir
        cmd = ["java", "-XX:-UsePerfData", f"-Xmx{xmx}", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}:{os.path.join(spark_jars(root), '*')}", "perfbench.Harness",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--inputs", inputs, "--nproc", str(nproc),
                "--out", out_file]
        env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   SPARK_GRAFT_CPUS=str(nproc))
        env.pop("SPARK_GRAFT_CKPT_DIR", None)
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        tot1, steal1 = cpu_ticks()
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        with open("/proc/loadavg") as f:
            loadavg = [float(x) for x in f.read().split()[:3]]
        if rc != 0 or not os.path.exists(out_file):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness exited with {rc}", 1)
        with open(out_file) as f:
            res = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed_checks = [c for c in res["checks"] if not c["ok"]]
    correct = not failed_checks and res["failed"] == 0
    ops = res["op_s"]
    e2e = {
        "run_s": (res["window_s"], "s"),
        "cpu_s": (res["cpu_s"], "core-s"),
        "setup_s": (stats.median(res["setup_s"]), "s"),
    }
    if a.trace:
        metrics, self_by, span_sum = layer_metrics(res, nproc)
    else:
        metrics, self_by, span_sum = e2e, {}, None

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL).stdout.strip()
    except OSError:
        sha = ""
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc, "cores_used": nproc, "java": res["java_version"],
        "spark": res["spark_version"], "xmx": xmx, "max_heap_mb": res["max_heap_mb"],
        "git_sha": sha or "unknown", "source_digest": code_key,
        "conf": res["conf"], "sizes": {**SIZES[a.workload], **res["sizes"]},
        "input_gen_s": round(gen_s, 3),
        "steal_frac": (steal1 - steal0) / max(1, tot1 - tot0), "loadavg": loadavg,
        "op_s": ops, "peak_rss_mb": res["peak_rss_mb"],
        "n_ops": len(ops), "setup_runs": res["setup_s"],
        "op_s_p90": stats.percentile(ops, 90) if ops else None,
        "window_s": res["window_s"], "attempted": res["attempted"], "failed": res["failed"],
        "failed_checks": failed_checks, "counters": res["counters"],
    }
    if a.trace:
        record["self_time_s"] = self_by
        record["self_time_sum_s"] = span_sum
    for name, (v, unit) in (list(e2e.items()) + (list(metrics.items()) if a.trace else [])):
        print(f"{name} {v} {unit}")
    print("# record " + json.dumps(record, sort_keys=True))
    summary = {"correct": correct, "attempted": int(res["attempted"]),
               "failed": int(res["failed"]) + (1 if failed_checks and res["failed"] == 0 else 0),
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(summary))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
