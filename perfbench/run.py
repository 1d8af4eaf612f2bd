#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

usage (from the repository root):
  python3 perfbench/run.py --workload graph_solve|query_mix \
      --seed N --seconds S --trace 0|1

Builds the engine and the JVM driver from source when they changed, runs the
driver on local[<cores>] and prints, as its last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A traced run also writes its
spans and job records to .bench_build/traces/. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("graph_solve", "query_mix")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PINS = os.path.join(HERE, "query_pins.json")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

UNITS = {"setup_s": "s", "op_p50_s": "s", "live_heap_mb": "MB"}

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build's
# forked runs set them).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """Driver heap as the repository's test run sizes it: half of
    MemTotal, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def spark_home():
    """The Spark installation whose jars the engine compiles and runs on."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("Spark not found: set SPARK_HOME")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + driver with the benchmark's own sbt build when the
    sources changed since the last build in this checkout."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(BUILD_DIR, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    # -XX:-UsePerfData and the tmpdir keep the JVM's files inside the checkout
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and driver (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true",
                             "clean", "compile"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        raise RuntimeError(f"build failed (exit {rc}); see .bench_build/build.log")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_jvm(classes, args, work, out):
    cmd = (["java", *ADD_OPENS, f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{classes}{os.pathsep}{spark_home()}/jars/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--cores", str(cores())])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # SparkEntry's i1 query keeps its temporary stores under GRAFT_LOCAL_DIR
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    jvm_log = os.path.join(BUILD_DIR, "jvm.log")
    with open(jvm_log, "w") as err:
        proc = subprocess.Popen(cmd, env=env, stdout=err, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("driver timed out; see .bench_build/jvm.log")
    with open(jvm_log) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"driver exited {rc}; see .bench_build/jvm.log")
    with open(out) as f:
        return json.load(f)


def load_pins():
    if not os.path.exists(PINS):
        return {}
    with open(PINS) as f:
        return json.load(f)


def write_pins(result):
    pins = {o["name"]: {"rows": o["rows"], "digest": o["digest"]}
            for o in result["ops"] if o["op"] == "query" and "digest" in o}
    with open(PINS, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    log(f"wrote {len(pins)} pins to {PINS}")


def report(result, pins, trace):
    attempted, failed = metrics.failure_counts(result["ops"], pins)
    e2e = metrics.end_to_end(result, pins)
    ph = metrics.phases(result, pins)
    walls = metrics.op_walls(result, pins)
    n = len(walls)
    w = result["workload"]
    named = ([f"{k}_s" for k in metrics.SOLVE_STEPS] if w == "graph_solve"
             else ["query_block_s"])
    lines = [f"{k} = {e2e[k]:.6g} {UNITS[k]}" for k in UNITS]
    lines += [f"{k} = {ph[k]:.6g} s" for k in named]
    lines.append(f"failed_frac = {failed}/{attempted}")
    pct = metrics.percentile_report(walls)
    tail = (f"p{pct['pct']:g} {pct['value']:.4g} s" if pct["pct"]
            else "no tail percentile (< 20 samples)")
    log(f"{w} seed {result['seed']}: op_p50_s over n={n} timed units, {tail}; "
        + "; ".join(lines))
    log("set-up reps " + ", ".join(f"{x:.2f}" for x in result["setup_s"])
        + f" s; once {result['setup_once_s']:.2f} s; timed units "
        + ", ".join(f"{x:.2f}" for x in walls) + " s")
    if trace:
        values = metrics.per_layer(result, pins)
        units = {}
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            for m in json.load(f)["per_layer"]:
                units[m["name"]] = m["unit"]
        out = {k: {"value": values[k], "unit": units[k]} for k in units}
    else:
        out = {k: {"value": e2e[k], "unit": UNITS[k]} for k in UNITS}
    return {"correct": failed == 0 and n > 0, "attempted": attempted,
            "failed": failed, "metrics": out}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-pins", action="store_true",
                   help="query_mix: record the warm-up outputs as the pins")
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        log(f"no engine sources under {ROOT}/src: run from a full checkout")
        return 2
    os.makedirs(BUILD_DIR, exist_ok=True)
    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    out = os.path.join(work, "result.json")
    try:
        result = run_jvm(build(), args, work, out)
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(str(e))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.write_pins:
        write_pins(result)
    if args.trace:
        tdir = os.path.join(BUILD_DIR, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(tdir, f"{args.workload}-seed{args.seed}.jsonl")
        with open(path, "w") as f:
            for rec in metrics.trace_records(result):
                f.write(json.dumps(rec) + "\n")
        log(f"trace written to {path}")
    print(json.dumps(report(result, load_pins(), args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
