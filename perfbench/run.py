#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sensor_sync --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark harness from source on first use
(sbt, into perfbench/target), stages the workload's inputs from the seed
in a fresh run directory, runs the workload in one JVM, grades the
outputs, and prints one line per metric followed by a last line of JSON:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` attaches the listeners and spans and
reports the per-layer metrics, writing the span file to
perfbench/results/. See perfbench/README.md."""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import grade, metrics, stats  # noqa: E402

WORKLOADS = ("sensor_sync", "query_mix")
TARGET = os.path.join(HERE, "target")
RESULTS = os.path.join(HERE, "results")
TABLES = os.path.join(HERE, "data", "tables")
DEADLINE_S = 170  # a run must end within 180 s

# warm passes per run: --seconds over the nominal pass time (one warm
# pass on 4 cores), at least two. A fixed count, not a clock, ends the
# run: the JIT is still speeding the engine up pass by pass, so a run
# that fits one pass more would read faster than its neighbours.
NOMINAL_PASS_S = {"sensor_sync": 6.0, "query_mix": 6.0}
MIN_PASSES = 2

# sensor_sync: one recording of RECORDING_MIN minutes, the longest whose
# runs leave the benchmark's time budget a fifth spare (see README.md)
RECORDING_MIN = 30.0

# query_mix: a fixed panel, so that every tree runs the same queries:
# the median-cost query of the ext, analytics, multimodal and sync
# families, four sql queries one per cost stratum, and one stream. The
# seed sets only the order. WARMUP_QUERY runs once in set-up, as the
# engine's own bench does, so the first timed query does not absorb the
# JVM's first Spark job.
PANEL = ("a3_median", "dedup_neardup_minhash", "mm_image_entropy", "q_cochran_q",
         "q_event_transitions", "q_ipw_ate", "q_viterbi_states", "y5_asof_nearest",
         "q_stream_tumbling")
WARMUP_QUERY = "q1_pricing_summary"

# exact export (rows, checksum) for the default seed and recording size
DEFAULT_SEED = 1
RECORDED_EXPORT = {(1, 30.0): (10099, 7885471643204582134)}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

UNITS = {
    "setup_s": "s", "cpu_s": "s", "op_cpu_ms": "ms", "cold_cpu_s": "s", "peak_rss_mb": "MB",
    "jit_s": "s", "wall_s": "s", "op_wall_ms": "ms", "cold_wall_s": "s",
}


def panel_order(seed, registry):
    """The panel in the order the seed gives; exits when a panel query or
    the warm-up query is not registered."""
    missing = [q for q in PANEL + (WARMUP_QUERY,) if q not in registry]
    if missing:
        fail("queries not registered: " + " ".join(missing))
    order = list(PANEL)
    random.Random(seed).shuffle(order)
    return order


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build(env):
    """Compile the engine with the harness (once per source change) and
    write the classpath and the query registry next to the classes."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found next to perfbench/ (expected src/main/scala/graft)")
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    reg_file = os.path.join(TARGET, "registry.jsonl")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isfile(cp_file) and os.path.isfile(reg_file):
        return open(cp_file).read().strip(), reg_file
    if not shutil.which("sbt"):
        fail("sbt not found")
    log("building (sbt compile) ...")
    t0 = time.time()
    p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=850)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("build did not finish in time")
    classes = os.path.join(TARGET, "scala-2.13", "classes")
    cps = [l.strip() for l in out.splitlines() if l.strip().startswith(classes)]
    if p.returncode != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    subprocess.run(java_cmd(cps[-1], []) + ["perfbench.Main", "--list", reg_file],
                   env=env, check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cps[-1], reg_file


def java_cmd(cp, props):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    log4j = os.path.join(HERE, "log4j2.properties")
    # a fixed heap, touched at start, so the peak resident size does not
    # depend on how much of the heap the collector happened to use; no
    # perf-data file in /tmp
    return [java, "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=" + log4j] + opens + props + ["-cp", cp]


def shm_entries():
    try:
        return set(os.listdir("/dev/shm"))
    except OSError:
        return set()


def tree_bytes(path):
    total = 0
    if os.path.isfile(path):
        return os.path.getsize(path)
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def run_jvm(args, env, cp, run_dir, queries, started):
    """Run the workload's JVM; returns the records path."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    records = os.path.join(run_dir, "records.jsonl")
    cmd = java_cmd(cp, ["-Djava.io.tmpdir=" + tmp]) + [
        "perfbench.Main", "--workload", args.workload,
        "--passes", str(max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))),
        "--trace", str(args.trace), "--cores", str(len(os.sched_getaffinity(0))),
        "--run", run_dir, "--records", records]
    if args.workload == "sensor_sync":
        cmd += ["--seed", str(args.seed), "--minutes", str(RECORDING_MIN)]
    else:
        tables = os.path.join(run_dir, "tables")
        shutil.copytree(TABLES, tables)
        sample_file = os.path.join(run_dir, "sample.txt")
        with open(sample_file, "w") as f:
            f.write("\n".join(queries) + "\n")
        cmd += ["--tables", tables, "--sample", sample_file, "--warmup", WARMUP_QUERY]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(DEADLINE_S - (time.time() - started), 10))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("workload did not finish in time")
    if p.returncode != 0 or not os.path.isfile(records):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("workload JVM exited with %d" % p.returncode)
    return records


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp, reg_file = build(env)
    started = time.time()  # the deadline excludes the one-time build
    registry = [json.loads(l) for l in open(reg_file)]
    oracles = {r["name"]: r["oracle"] for r in registry}
    queries = panel_order(args.seed, oracles) if args.workload == "query_mix" else []

    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    run_dir = os.path.join(HERE, ".runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    shm_before = shm_entries()

    def shm_new():
        return sorted(e for e in shm_entries() - shm_before if e.startswith("graft_"))
    try:
        records = run_jvm(args, env, cp, run_dir, queries, started)
        # what the program leaves in the run's temp dir and in /dev/shm
        scratch_left = tree_bytes(os.path.join(run_dir, "tmp")) + sum(
            tree_bytes(os.path.join("/dev/shm", e)) for e in shm_new())
        run = metrics.Run(metrics.load(records))
        if args.workload == "sensor_sync":
            reason, summary = grade.grade_export(
                os.path.join(run_dir, "in"), os.path.join(run_dir, "out", "sync"),
                RECORDED_EXPORT.get((args.seed, RECORDING_MIN)))
            print("export: %s rows, checksum %s" % summary if summary else "export: none")
            wrong = {"pipeline": reason} if reason else {}
        else:
            wrong = grade.grade_queries(queries, oracles, os.path.join(run_dir, "tables"),
                                        os.path.join(run_dir, "out"))
        report(args, run, wrong, scratch_left, queries)
    finally:
        for e in shm_new():
            shutil.rmtree(os.path.join("/dev/shm", e), ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, run, wrong, scratch_left, queries):
    attempted, failed = stats.tally(run.ops, wrong)
    for name, reason in sorted(wrong.items()):
        print("WRONG %s: %s" % (name, reason))
    for o in run.ops:
        if not o["ok"]:
            print("FAILED %s: %s" % (o["name"], o["err"]))
        if o["cache_left"]:
            print("CACHE LEFT %s: %d entries" % (o["name"], o["cache_left"]))
    e2e, wall = metrics.end_to_end(run)
    tag = "%s-seed%d" % (args.workload, args.seed)
    os.makedirs(RESULTS, exist_ok=True)
    warm, cold = run.latencies(run.warm()), run.latencies(run.cold())
    print("workload %s seed %d: %d operations, %d failed (fail_ratio %.4f), %d warm passes"
          % (args.workload, args.seed, attempted, failed, failed / attempted, len(run.passes())))
    if queries:
        print("queries: " + " ".join(queries))
    print("warm passes (s): " + " ".join("%.2f" % (sum(o["t1"] - o["t0"] for o in p) / 1000.0)
                                         for p in run.passes()))
    for label, lat in (("warm", warm), ("cold", cold)):
        top = stats.highest_supported(lat)
        print("%s op latency ms: %s; %s; highest percentile with %d samples beyond: %s" % (
            label, stats.describe(lat, 0.5), stats.describe(lat, 0.9), stats.MIN_BEYOND,
            "p%d=%.1f" % (round(top[0] * 100), top[1]) if top else "none"))
    print("%s end-to-end%s:" % (tag, " (traced run)" if args.trace else ""))
    for k, v in e2e.items():
        print("  %-14s %12.3f %s" % (k, v, UNITS[k]))
    print("JIT compile time of a warm pass, and wall clock (not in the JSON):")
    for k, v in wall.items():
        print("  %-14s %12.3f %s" % (k, v, UNITS[k]))
    if args.trace:
        layer = metrics.per_layer(run, scratch_left)
        spans_path = os.path.join(RESULTS, tag + "-spans.jsonl")
        with open(spans_path, "w") as f:
            for s in metrics.span_rows(run):
                f.write(json.dumps(s) + "\n")
        print("span file: " + os.path.relpath(spans_path, ROOT))
        base_path = os.path.join(RESULTS, tag + "-trace0.json")
        if os.path.isfile(base_path):
            base = json.load(open(base_path))
            print("tracing overhead against the untraced run of this seed:")
            for k, v in dict(e2e, **wall).items():
                if base.get(k):
                    print("  %-14s %+8.1f%%" % (k, 100.0 * (v - base[k]) / base[k]))
        else:
            print("tracing overhead: no untraced run of this seed to compare with")
        extra = metrics.added_by_trace(run)
        print("Janino compiles in the process: %d; compile time unknown (over the timing "
              "histogram's sample) for %d of %d warm and %d of %d cold operations" % (
                  run.end["codegen_total"], metrics.codegen(run.warm(), extra)[2],
                  len(run.warm()), metrics.codegen(run.cold(), extra)[2], len(run.cold())))
        for k, v in layer.items():
            print("  %-32s %16.3f" % (k, v))
        out = layer
    else:
        with open(os.path.join(RESULTS, tag + "-trace0.json"), "w") as f:
            json.dump(dict(e2e, **wall), f)
        out = e2e
    print(json.dumps({
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS.get(k) or layer_unit(k)} for k, v in out.items()},
    }))


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_ratio", "_skew")):
        return "ratio"
    if name.endswith("rows_per_s"):
        return "rows/s"
    return "count"


if __name__ == "__main__":
    main()
