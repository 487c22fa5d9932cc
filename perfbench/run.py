#!/usr/bin/env python3
"""Feature-store benchmark: one command per (workload, seed) run.

Usage, from the root of a source checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 4 --trace 0

It compiles the program (src/main) and the harness (perfbench/scala) with the
Scala compiler that ships in the Spark distribution's jars, generates the
workload's inputs from the seed, runs the harness JVM, checks every op's
output, and prints one JSON object as its last line. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. Everything it builds or
writes stays under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # the run writes only under .bench_build/
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

RUN_LIMIT_S = 170  # everything after the build
BUILD_LIMIT_S = 700
BUILD = ".bench_build"
SCALA_VERSION = "2.13.17"

# Each workload: input replication factors over the sf0.01 fixture, and its
# ops as (registered query, R = read-only | W = writes state or a sink).
WORKLOADS = {
    # the paper's path: event log -> parse -> type gate -> numeric extraction
    # -> validation -> dwd sinks, batch and streaming, then the feature reads
    # a feature store runs over that log; no standing state
    "ingest": {
        "factors": {"events": 4},
        "ops": [("a12_sink_dwd", "W"), ("s1_stream_pipeline", "W"),
                ("s6_stream_dedup", "W"), ("a14_pipeline_e2e", "R"),
                ("a18_quarantine", "R"), ("b1_agg_user_features", "R"),
                ("b7_asof_join", "R")],
    },
    # lifecycle of standing state (posting index, ANN codes, LM counts):
    # maintenance writes beside reads of that state
    "maintenance": {
        "factors": {},
        "ops": [("x_neardup_incremental", "W"), ("x_ann_append", "W"),
                ("x_contain_from_postings", "R"), ("x_lm_heldout", "R")],
    },
}
# the single-core baseline of a traced run replays the ingest ops
PROBE_OPS = WORKLOADS["ingest"]["ops"]
FILES_PER_TABLE = 2

# Modules whose exports the JVM needs opened when a SparkSession starts
# outside spark-submit (the list build.sbt passes to forked runs).
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


CHILD = None


def stop_child(signum=None, _frame=None):
    """Kills the running child's process group and waits for it."""
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, timeout, what, **kw):
    """Runs cmd in a process group of its own that never outlives this one."""
    global CHILD
    CHILD = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return CHILD.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{what} exceeded its time limit")


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, else those next to
    the first bin directory on PATH that belongs to a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    fail(f"no Spark distribution with Scala {SCALA_VERSION}: set SPARK_HOME")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(root, "**", "*.java"), recursive=True))


def build():
    """Compiles program and harness once per source state; returns the classpath."""
    deadline = time.monotonic() + BUILD_LIMIT_S
    prog = sources("src/main")
    if not prog:
        fail("no program sources under src/main: run from the root of a source checkout")
    bench = sources(os.path.join(HERE, "scala"))
    spark = spark_jars()
    jars = sorted(glob.glob(os.path.join(spark, "*.jar")))
    compiler = [os.path.join(spark, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        fail(f"Scala {SCALA_VERSION} compiler, library or reflect jar missing under {spark}")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    cp = [os.path.join(out, "main"), os.path.join(out, "bench")] + jars
    if os.path.isdir(out):
        return cp
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for part, srcs, extra in (("main", prog, []), ("bench", bench, [os.path.join(tmp, "main")])):
        os.makedirs(os.path.join(tmp, part))
        argfile = os.path.join(tmp, part + ".args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(extra + jars),
               "-d", os.path.join(tmp, part), "@" + argfile]
        log = os.path.join(tmp, part + ".log")
        with open(log, "w") as f:
            rc = run_child(cmd, deadline - time.monotonic(), f"compiling {part}",
                           stdout=f, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log) as f:
                fail(f"compiling {part} failed:\n{f.read()[-4000:]}")
    os.replace(tmp, out)
    return cp


def input_key(workload, seed):
    """Names a generated input set; changes whenever what generates it does."""
    h = hashlib.sha256(json.dumps([WORKLOADS[workload]["factors"], FILES_PER_TABLE]).encode())
    for f in [os.path.join(HERE, "gen.py")] + sorted(glob.glob(os.path.join(gen.FIXTURE, "*"))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return f"{workload}-s{seed}-{h.hexdigest()[:12]}"


def inputs(key, workload, seed):
    d = os.path.join(BUILD, "data", key)
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, WORKLOADS[workload]["factors"], seed, FILES_PER_TABLE)
        os.replace(tmp, d)
    return os.path.abspath(d)


def run_jvm(cp, workload, data, work, seed, seconds, trace, deadline):
    def spec(ops):
        return ",".join(f"{n}:{c}" for n, c in ops)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={m}" for m in ADD_OPENS]
           + ["-cp", os.pathsep.join(os.path.abspath(p) for p in cp), "perfbench.Harness",
              "--data", data, "--work", work, "--cpus", str(os.cpu_count()),
              "--seconds", str(seconds), "--seed", str(seed), "--trace", str(trace),
              "--ops", spec(WORKLOADS[workload]["ops"]), "--probe", spec(PROBE_OPS),
              "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_child(cmd, deadline - time.monotonic(), "the harness", cwd=work,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            fail(f"harness exited with {rc}:\n{f.read()[-3000:]}")
    with open(out) as f:
        return json.load(f)


def tail(samples):
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    if len(xs) < 11:
        return None, None
    return xs[len(xs) - 11], round(100.0 * (len(xs) - 10) / len(xs))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    key = input_key(a.workload, a.seed)
    data = inputs(key, a.workload, a.seed)
    work = os.path.abspath(os.path.join(BUILD, "run", a.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    r = run_jvm(cp, a.workload, data, work, a.seed, a.seconds, a.trace, deadline)

    ops = [n for n, _ in WORKLOADS[a.workload]["ops"]]
    wrong, recall, unchecked = check.check(
        data, os.path.join(work, "out"), os.path.join(BUILD, "oracle", key),
        ops, r["oracle_sql"])
    errors = {s["op"]: s["err"] for s in r["samples"] if s["err"]}
    failed = len(r["setup_errors"]) + len(wrong) + sum(1 for s in r["samples"] if s["err"])
    attempted = len(ops) + len(r["samples"])
    for what, table in (("set-up", r["setup_errors"]), ("timed", errors), ("wrong", wrong)):
        for op, msg in table.items():
            print(f"# {what} failure {op}: {msg}")

    untraced = [s for s in r["samples"] if not s["traced"] and not s["err"]]
    passes = [p["s"] for p in r["passes"] if not p["traced"]]
    # read_s and write_s split a pass into the time its R ops and its W ops
    # took; like run_s they are medians over passes
    by_pass = {}
    for s in untraced:
        by_pass.setdefault(s["pass"], {"R": 0.0, "W": 0.0})[s["cls"]] += s["s"]
    wall = {
        "run_s": statistics.median(passes),
        "read_s": statistics.median(p["R"] for p in by_pass.values()),
        "write_s": statistics.median(p["W"] for p in by_pass.values()),
        "calib_s": statistics.median(r["calib_s"]),
    }
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "heap_retained_mb": (r["heap_retained_mb"], "MiB"),
        "disk_mb": (r["disk_mb"], "MiB"),
    }
    # The time metrics of the contract line are in units of the calibration
    # probe's wall (graft.Bench's probe shape, timed twice before each pass):
    # a shared machine's speed swings by tens of percent within minutes, and
    # the ratio cancels most of that. The seconds go on the "# wall" line.
    for k in ("run", "read", "write"):
        e2e[f"{k}_calib"] = (wall[f"{k}_s"] / wall["calib_s"], "calib")
    print("# wall " + json.dumps(wall))
    # Not in the contract line: single-op latency (a tail needs eleven
    # samples of a class, which a run rarely has), error_rate (0 when all is
    # well; `failed` carries it) and recall_at_10 (maintenance only).
    lat = {}
    for cls, name in (("R", "read"), ("W", "write")):
        xs = [s["s"] for s in untraced if s["cls"] == cls]
        value, pct = tail(xs)
        lat[f"{name}_p50_s"] = statistics.median(xs) if xs else None
        lat[f"{name}_tail_s"] = {"value": value, "percentile": pct, "samples": len(xs)}
    print("# end-to-end " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}))
    print("# diagnostics " + json.dumps(dict(
        lat, error_rate=failed / attempted, recall_at_10=recall, passes=len(passes),
        first_call_s=r["first_call_s"], unchecked_ops=unchecked)))
    if a.trace:
        layers = r["layers"]
        print("# per-op " + json.dumps(r["op_s"]))
        print("# trace " + json.dumps({
            "recon_err_frac": layers["trace.recon_err_frac"],
            "recon_tolerance": r["recon_tolerance"],
            "speedup_pass_s": r["speedup_pass_s"], "spans": os.path.join(work, "spans.json")}))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_s", "s"), ("mb", "MiB"), ("_frac", "ratio")):
        if leaf.endswith(suffix):
            return unit
    return {"cpu_util": "ratio", "skew": "ratio", "speedup_vs_1": "ratio"}.get(leaf, "count")


if __name__ == "__main__":
    main()
