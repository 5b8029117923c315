#!/usr/bin/env python3
"""Benchmark of the kascade-spark library: one workload, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  kascade_pipeline    the reference workflow (ingest, build, augment, fit,
                      evaluate) on 200 000 synthetic shower events
  headline_onepass    the 18 single-plan headline queries at sf 0.1
  headline_iterative  the 7 round-looping headline queries at sf 0.1

The first run in a checkout compiles the library together with the
benchmark's own sources (sbt, offline). Each run then starts one Spark
session at local[<cores>], runs set-up (inputs: the pipeline's events from
the seed; the headline tables are fixed, and the seed shuffles the order the
queries run in), and runs passes until --seconds of passes are measured (at
least one). Every call is checked: headline queries against recorded result
digests, pipeline steps against invariants. The last stdout line is the
result JSON; the full record (host state, per-pass counters, calls, spans
when traced) is written to perfbench/runs/results/.

--trace 0 reports the end-to-end metrics; --trace 1 adds plan-metric and
streaming listeners plus spans and reports the per-layer metrics.
"""
import argparse
import json
import multiprocessing as mp
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, "runs")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
DEADLINE_S = 170.0
EVENTS, WARM_EVENTS = 200_000, 25_000  # pipeline events per pass, and in its warm-up

WORKLOADS = ("kascade_pipeline", "headline_onepass", "headline_iterative")
END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p90_s": "s", "cpu_s": "s",
              "peak_exec_mem_mb": "MB"}
# Per-layer metrics of a traced run. Set-up phases are read once per run; the
# rest are per-pass counters, reported as the median over the run's passes.
# Counters that one gated workload never produces (a pipeline step's time,
# one query's time, shuffle fetch wait in local mode) stay in the result
# record only: as metrics they would be a constant zero time.
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s", "trace.pass_s": "s",
    "queries.plan_s": "s", "queries.jobs": "count", "queries.stages": "count",
    "queries.tasks": "count", "scan.rows": "count", "scan.bytes": "B",
    "scan.time_s": "s", "exchange.records": "count", "exchange.bytes": "B",
    "exchange.write_s": "s", "sort.time_s": "s", "agg.time_s": "s",
    "join.build_s": "s", "broadcast.bytes": "B", "spill.bytes": "B",
    "sink.bytes": "B", "sink.files": "count", "sink.bytes_per_event": "B",
    "streaming.batches": "count", "streaming.batch_s": "s", "task.gc_s": "s",
    "task.skew": "ratio"}
SETUP_LAYERS = {"session.start_s": "session", "session.warmup_s": "warmup"}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(jars):
    """Compile the library and the benchmark unless the build is current."""
    if os.path.exists(STAMP) and os.path.getmtime(STAMP) >= newest_source_mtime():
        return
    log("compiling the library and the benchmark (sbt, offline)")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, GRAFT_SPARK_JARS=jars, SBT_OPTS=" ".join(filter(None, [
        os.environ.get("SBT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false"])))
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(STAMP, "w") as f:
        f.write(str(time.time()))


def host_probe(cores, seconds=0.5):
    """Steal % and per-core throughput spread under an all-core busy loop,
    measured as tools/steal_probe.py does, for a shorter time; None where
    /proc/stat is absent.
    """
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from steal_probe import _burn, _stat
    try:
        s0, t0 = _stat(), time.time()
        with mp.Pool(cores) as pool:
            iters = pool.map(_burn, [seconds] * cores)
        elapsed = time.time() - t0
        steal = _stat()[7] - s0[7]
        return {"steal_pct": round(100.0 * steal / (elapsed * os.sysconf("SC_CLK_TCK") * cores), 3),
                "spread_pct": round(100.0 * (max(iters) - min(iters)) / max(iters), 3)}
    except (OSError, IndexError):
        return None


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(7, kb // 2097152))
    except (OSError, StopIteration):
        return 4


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def summarize(res, trace):
    """The benchmark's metrics from one JVM result record."""
    passes, calls, setup = res["passes"], res["calls"], res["setup"]
    if trace:
        names = {k: setup.get(SETUP_LAYERS[k], 0.0) if k in SETUP_LAYERS else
                 median([p.get("pass_s" if k == "trace.pass_s" else k, 0.0) for p in passes])
                 for k in PER_LAYER}
        units = PER_LAYER
    else:
        lat = [c["seconds"] for c in calls]
        names = {"setup_s": sum(setup.values()),
                 "pass_s": median([p["pass_s"] for p in passes]),
                 "query_p90_s": p90(lat),
                 "cpu_s": median([p.get("cpu_s", 0.0) for p in passes]),
                 "peak_exec_mem_mb": median([p.get("peak_exec_mem_mb", 0.0) for p in passes])}
        units = END_TO_END
    return {k: {"value": v, "unit": units[k]} for k, v in names.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (the `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the library sources (src/main/scala/graft) are not "
                 "next to perfbench/; run from the root of a full checkout")
    jars = spark_jars()
    build(jars)
    started = time.time()  # the run's time limit excludes a first build

    cores = len(os.sched_getaffinity(0))
    heap = heap_gb()
    host = host_probe(cores)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(RUNS, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(RUNS, "results"), exist_ok=True)
    out = os.path.join(work, "result.json")
    proc = None
    try:
        sys.path.insert(0, HERE)
        import datagen
        data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
        t0 = time.time()
        if a.workload != "kascade_pipeline":  # the pipeline lands its own
            datagen.write(data)
            datagen.write(warm, 0.01)  # the warm-up's tables
        inputs_s = time.time() - t0

        cmd = ["java", f"-Xmx{heap}g", "-XX:+UseG1GC",
               *[x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={work}/tmp",
               f"-Dspark.local.dir={work}/local",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{CLASSES}{os.pathsep}{jars}/*", "graft.perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--data", data, "--warm", warm, "--work", work, "--out", out,
               "--digests", os.path.join(HERE, "digests.tsv"),
               "--cores", str(cores), "--inputs-s", repr(inputs_s),
               "--events", str(EVENTS), "--warm-events", str(WARM_EVENTS)]
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=sys.stderr, stderr=sys.stderr,
                                start_new_session=True)
        proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - started)))
        if proc.returncode != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: the benchmark JVM exited with {proc.returncode}")
        with open(out) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    metrics = summarize(res, a.trace)
    attempted = len(res["calls"])
    failed = sum(1 for c in res["calls"] if not c["ok"])
    res.update(host=host, heap_gb=heap, metrics=metrics, wall_s=time.time() - started)
    with open(os.path.join(RUNS, "results", f"{tag}.json"), "w") as f:
        json.dump(res if a.trace else {k: v for k, v in res.items() if k != "spans"}, f)
    for msg in res["failures"]:
        log(f"FAILED {msg}")
    print(json.dumps({"host": host, "cores": cores, "heap_gb": heap,
                      "passes": len(res["passes"]), "calls": attempted,
                      "setup": res["setup"]}))
    print(json.dumps({"correct": failed == 0 and not res["failures"],
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
