#!/usr/bin/env python3
"""The repo's benchmark: three workloads over the engine, end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads (see perfbench/README.md):
  candle_stream    streaming indicators into the parquet sink
  stock_api        StockApi requests over the day-partitioned store
  analytics_batch  13 registry queries, built and fully materialized
  all              the three in one JVM, for a human-readable table

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships with Spark, into .bench_build/. Inputs are the repo's sf0.1
events table and sf0.01 tables, copied under perfbench/data/; the seed
drives the stream's backfill/live split and re-sends and the API request
sequence. Every operation's output is checked; a failed or wrong operation
is counted in `failed` and never timed.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones; a traced run also writes spans, the
per-module metrics, the count-vs-noop table and the tracing overhead under
.bench_build/runs/<workload>-s<seed>-t1/.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "bench.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DATA = os.path.join(HERE, "data")
WORKLOADS = ["candle_stream", "stock_api", "analytics_batch"]
# 100k candles from the sf0.1 events for the stream and the API; every
# table at sf0.01 for the batch queries (one cold sf0.1 pass takes minutes)
INPUTS = {"candle_stream": "sf0.1", "stock_api": "sf0.1",
          "analytics_batch": "sf0.01"}
JVM_TIMEOUT_S = 165
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        fail(f"engine sources not found under {engine}; run from a checkout")
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def check_inputs():
    """The input tables must be the ones SHA256SUMS lists."""
    sums = os.path.join(DATA, "SHA256SUMS")
    if not os.path.exists(sums):
        fail(f"input tables not found under {DATA}")
    for line in open(sums):
        digest, name = line.split()
        path = os.path.join(DATA, name)
        if not os.path.exists(path) or \
                hashlib.sha256(open(path, "rb").read()).hexdigest() != digest:
            fail(f"input table {name} is missing or altered")


def build(jars):
    """Compile engine + benchmark into .bench_build/bench.jar and record a
    class-data-sharing archive of the classes a short training run loads
    (it cuts JVM start and class loading, the same for every run). Skipped
    when the sources are unchanged since the last build; a build whose
    archive could not be recorded fails, so every run of a build starts
    the same way."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for stale in (stamp_file, JAR, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    log(f"compiling {len(files)} Scala files")
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        fail("compilation failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                full = os.path.join(d, n)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    log(f"compiled in {time.time() - t0:.1f} s")

    t0 = time.time()
    out = os.path.join(BUILD, "train")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        run_jvm(jars, WORKLOADS, 0, 0, 0, out, len(os.sched_getaffinity(0)),
                ["-XX:ArchiveClassesAtExit=" + ARCHIVE], quick=True,
                inputs={w: "sf0.01" for w in WORKLOADS})
    except BenchError as e:
        fail(f"class-data archive not recorded: {e}")
    shutil.rmtree(out, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("class-data archive not recorded")
    log(f"class-data archive recorded in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)


class BenchError(Exception):
    pass


def run_jvm(jars, workloads, seed, seconds, trace, out, cores,
            jvm_flags=(), quick=False, inputs=INPUTS):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if not jvm_flags:
        jvm_flags = ["-XX:SharedArchiveFile=" + ARCHIVE]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData"] + opens + list(jvm_flags) + [
        f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", JAR + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--workload", ",".join(workloads),
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", out,
        "--cores", str(cores), "--quick", "1" if quick else "0"] +
        [x for w in workloads
         for x in (f"--data-{w}", os.path.join(DATA, inputs[w]))])
    logf = os.path.join(out, "jvm.log")
    t0 = time.time()
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             cwd=out)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S * len(workloads))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write("".join(open(logf).readlines()[-40:]))
        raise BenchError(f"benchmark JVM exited with {rc}")
    log(f"JVM for {','.join(workloads)} took {time.time() - t0:.1f} s")


def pct(xs, p):
    """Percentile p of xs (the median for p=50, else nearest rank); None
    unless at least 10 samples lie beyond it."""
    xs = sorted(xs)
    k = max(0, math.ceil(p / 100 * len(xs)) - 1)
    if len(xs) - 1 - k < 10:
        return None
    return statistics.median(xs) if p == 50 else xs[k]


# stock_api periods (minutes) whose window spans at most two day partitions
SHORT_PERIODS = (60, 1440)


def median(xs):
    return statistics.median(xs) if xs else None


def summarize(workload, res):
    """End-to-end metrics from the ops of one workload's result; plus the
    workload's own named metrics, for the human-readable table.

    `latency_ms` and `bulk_ms` time disjoint sets of ops: the small ops,
    where fixed per-op cost dominates, and the bulk ones, where per-row
    work does."""
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    named = {}
    if workload == "candle_stream":
        live = [o["ms"] for o in ok if o["kind"] == "live"]
        back = [o for o in ok if o["kind"] == "backfill"]
        latency = median(live)
        bulk = median([o["ms"] * 1e4 / o["candles"] for o in back])
        named = {"backfill_candles_per_s":
                     (sum(o["candles"] for o in back) * 1e3 /
                      sum(o["ms"] for o in back) if back else None, "1/s"),
                 "live_trigger_p50_ms": (pct(live, 50), "ms"),
                 "live_trigger_p90_ms": (pct(live, 90), "ms"),
                 "live_triggers": (len(live), "count")}
    elif workload == "stock_api":
        ms = [o["ms"] for o in ok]
        latency = median([o["ms"] for o in ok
                          if o["period"] in SHORT_PERIODS])
        bulk = median([o["ms"] for o in ok
                       if o["period"] not in SHORT_PERIODS])
        named = {"api_request_p50_ms": (pct(ms, 50), "ms"),
                 "api_request_p90_ms": (pct(ms, 90), "ms"),
                 "requests": (len(ms), "count")}
    else:
        passes = {}
        for o in ops:
            passes.setdefault(o["pass"], []).append(o)
        whole = [p for p in passes.values() if all(o["ok"] for o in p)]

        def relational(p):  # sum over its queries of the median round
            rounds = {}
            for o in p:
                if o["kind"] == "relational":
                    rounds.setdefault(o["query"], []).append(o["ms"])
            return sum(statistics.median(v) for v in rounds.values())
        latency = median([relational(p) for p in whole])
        bulk = median([sum(o["ms"] for o in p if o["kind"] != "relational")
                       for p in whole])
        by_query = {}
        for o in ok:
            by_query.setdefault((o["kind"], o["query"]), []).append(o["ms"])
        for fam in ("relational", "iterative", "ann", "local_tail"):
            named[f"batch_{fam}_s"] = (sum(
                statistics.median(v) for (f, _), v in by_query.items()
                if f == fam) / 1e3, "s")
        named["passes"] = (len(passes), "count")
    attempted, failed = len(ops), len(ops) - len(ok)
    metrics = {
        "latency_ms": (latency, "ms"),
        "bulk_ms": (bulk, "ms"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
    }
    named["error_rate"] = (failed / attempted if attempted else None, "ratio")
    named["setup_s"] = metrics["setup_s"]
    named["peak_heap_mb"] = (res["info"]["peak_heap_mb"], "MB")
    named["peak_rss_mb"] = (res["info"]["peak_rss_mb"], "MB")
    return metrics, named, attempted, failed


def check_batch(res, data, out):
    """Compare every batch op's output with its DuckDB oracle."""
    import oracle  # needs the repo's tools/, so only once the run is on
    t0 = time.time()
    sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
    checker = oracle.Checker(data, sqls, threads=len(os.sched_getaffinity(0)),
                             cache=os.path.join(BUILD, "oracle"))
    for o in res["ops"]:
        if o["ok"]:
            why = checker.check(o["query"], o["output"])
            if why:
                log(f"{o['query']} run {o['run']} is wrong: {why}")
                o["ok"] = False
    checker.close()
    log(f"oracle check took {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    check_inputs()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(BUILD, "runs",
                       f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    load_before = open("/proc/loadavg").read().strip()
    try:  # one JVM for all the workloads asked for
        run_jvm(jars, workloads, args.seed, args.seconds, args.trace, out,
                cores)
    except BenchError as e:
        fail(str(e))

    final = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        wout = os.path.join(out, w)
        res = json.load(open(os.path.join(wout, "result.json")))
        if w == "analytics_batch":
            check_batch(res, os.path.join(DATA, INPUTS[w]), wout)
        metrics, named, attempted, failed = summarize(w, res)
        layers = {**res["layer"], **res["detail"]}
        record = {"workload": w, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "correct": res["correct"],
                  "attempted": attempted, "failed": failed,
                  "metrics": {k: v for k, (v, _) in metrics.items()},
                  "named": {k: v for k, (v, _) in named.items()},
                  "info": {**res["info"], "runner_loadavg_before": load_before,
                           "runner_loadavg_after":
                               open("/proc/loadavg").read().strip()}}
        if args.trace:
            record["layers"] = layers
            record["overhead"] = overhead(w, args.seed, metrics)
            with open(os.path.join(wout, "layers.json"), "w") as f:
                json.dump(layers, f, indent=1, sort_keys=True)
        with open(os.path.join(wout, "record.json"), "w") as f:
            json.dump(record, f, indent=1)
        print_table(w, metrics, named, res, attempted, failed)
        for bulky in ("stream-store", "stream-checkpoint", "warmup-store",
                      "warmup-checkpoint", "results", "store-0", "store-1",
                      "store-2"):
            shutil.rmtree(os.path.join(wout, bulky), ignore_errors=True)
        final["correct"] &= bool(res["correct"]) and failed == 0
        final["attempted"] += attempted
        final["failed"] += failed
        prefix = "" if len(workloads) == 1 else w + "."
        if args.trace:
            final["metrics"].update({prefix + k: {"value": v, "unit": unit(k)}
                                     for k, v in res["layer"].items()})
        else:
            final["metrics"].update({prefix + k: {"value": v, "unit": u}
                                     for k, (v, u) in metrics.items()})
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    for v in final["metrics"].values():
        if v["value"] is None:
            final["correct"] = False
            v["value"] = 0.0
    print(json.dumps(final), flush=True)


UNITS = {"_ms": "ms", "_s": "s", "_bytes": "bytes", "_mb": "MB"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def overhead(workload, seed, traced):
    """Traced minus untraced end-to-end metrics, as a share of the
    untraced value, against the last untraced run of this workload and
    seed (run it first to get the overhead)."""
    path = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t0", workload,
                        "record.json")
    if not os.path.exists(path):
        return {"note": "no untraced run with this seed to compare against"}
    base = json.load(open(path))["metrics"]
    return {k: (v - base[k]) / base[k] for k, (v, _) in traced.items()
            if v is not None and base.get(k)}


def print_table(workload, metrics, named, res, attempted, failed):
    info = res["info"]
    print(f"== {workload}: {attempted} ops, {failed} failed, "
          f"correct={bool(res['correct']) and failed == 0}")
    for k, (v, u) in {**metrics, **named}.items():
        shown = "n/a (fewer than 10 samples beyond it)" if v is None \
            else f"{v:.6g}"
        print(f"   {k:<28} {shown} {u}")
    print(f"   nproc={info['nproc']} loadavg {info['loadavg_before']} -> "
          f"{info['loadavg_after']} cpu_steal={info['cpu_steal_s']:.2f}s "
          f"gc={info['jvm_gc_s']:.3f}s")


if __name__ == "__main__":
    main()
