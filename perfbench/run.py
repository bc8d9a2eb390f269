#!/usr/bin/env python3
"""Benchmark runner. From the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark JVM's code when their sources changed, rewrites
the sf0.1 tables into a seeded input directory, runs the workload's ops
in one JVM, checks every op's output against its DuckDB oracle, and
prints the metrics. The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.

The source tables are read from $SPARK_GRAFT_SF_DIR, or ~/testdata/sf0.1.
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

import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

SETUPS = 3
HEAP = "4g"
# the JVM's time limit: start-up and set-ups, then every pass at up to
# PASS_SLACK times its nominal length (the cold pass counts as three)
JVM_FIXED_S = 40.0
PASS_SLACK = 2.0
BUILD_LIMIT_S = 840.0
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_logged(cmd, log, timeout, **kw):
    """Runs `cmd` with its output in `log` and returns its exit code. On
    timeout the whole process group is killed and waited for (-1). A
    failure's log tail goes to stderr."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
    return rc


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark JVM's code unless an
    up-to-date build exists. Returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    log = os.path.join(WORK, "build.log")
    # resolve from the local dependency cache only
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], log,
                    BUILD_LIMIT_S, cwd=HERE, env=dict(os.environ, COURSIER_MODE="offline"))
    if rc != 0:
        fail(f"build failed with {rc} (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(CLASSPATH) as c:
        return c.read().strip()


def run_jvm(classpath, args, timeout):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    # the program's own environment switches would change the session
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(WORK, "jvm.log")
    rc = run_logged(cmd, log, timeout, env=env)
    if rc != 0:
        fail(f"benchmark JVM exited with {rc} (log: {log})", 2 if rc == 2 else 1)


def cpu_jiffies():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return 0, 0


def check_outputs(result, input_dir, content_key):
    """Compares each op's output from the warm-up pass with its oracle. Returns
    (names of mismatched ops, whether the negative self-check caught a
    corrupted expected fingerprint)."""
    import oracle
    o = oracle.Oracle(input_dir, os.path.join(WORK, "oracle"), content_key)
    saved = next(p["index"] for p in result["passes"] if p["kind"] == "warmup")
    threw = {r["op"] for r in result["op_runs"] if r["pass"] == saved and r["error"]}
    mismatched, caught = [], None
    for op in result["ops"]:
        if op in threw:
            continue
        sql = result["oracle_sql"].get(op)
        if sql is None:
            mismatched.append(op)
            continue
        try:
            expected = o.expected(op, sql)
            actual = o.actual(os.path.join(WORK, "out"), op)
        except Exception as e:  # an unreadable output or oracle counts as a mismatch
            print(f"  {op}: {e}", file=sys.stderr)
            mismatched.append(op)
            continue
        if not oracle.matches(expected, actual):
            mismatched.append(op)
        elif caught is None:
            caught = not oracle.matches(oracle.corrupted(expected), actual)
    o.close()
    return mismatched, bool(caught)


def result_line(correct, attempted, failed, values, names):
    """The last stdout line: the named metrics, each with its unit."""
    import metrics
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": metrics.UNITS[k]} for k in names},
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    if not os.path.exists(PROGRAM_ENTRY):
        fail(f"program source not found ({os.path.relpath(PROGRAM_ENTRY, ROOT)})", 3)
    source = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isdir(source):
        fail(f"source tables not found in {source}", 3)
    with open(BENCHMARK) as f:
        bench = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    import inputs
    import metrics
    input_dir = os.path.join(WORK, "input")
    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(out_dir, ignore_errors=True)
    rewrite_s = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        inputs.rewrite(source, input_dir, a.seed)
        rewrite_s.append(time.perf_counter() - t0)
    content_key = inputs.check_same_rows(source, input_dir)

    result_file = os.path.join(WORK, "result.json")
    ops = workloads.WORKLOADS[a.workload]
    n_cores = cores()
    # a traced run: untraced, traced, traced, untraced
    passes = 4 if a.trace else workloads.measured_passes(a.workload, a.seconds)
    warmups = workloads.WARMUP_PASSES[a.workload]
    steal0, total0 = cpu_jiffies()
    run_jvm(classpath, {
        "input": input_dir, "out": out_dir, "result": result_file,
        "ops": ",".join(ops), "seed": a.seed, "warmups": warmups, "passes": passes,
        "trace": a.trace, "cores": n_cores, "setups": SETUPS,
    }, timeout=JVM_FIXED_S + (3 + warmups + passes) * workloads.NOMINAL_PASS_S[a.workload]
       * PASS_SLACK)
    steal1, total1 = cpu_jiffies()
    with open(result_file) as f:
        result = json.load(f)

    mismatched, self_check = check_outputs(result, input_dir, content_key)
    runs = result["op_runs"]
    threw = [r for r in runs if r["error"]]
    attempted, failed = len(runs), len(threw) + len(mismatched)
    e2e, samples = metrics.end_to_end(result, rewrite_s, failed, attempted)
    correct = failed == 0 and self_check

    print(f"workload={a.workload} seed={a.seed} trace={a.trace} master=local[{n_cores}] "
          f"ops={len(ops)} warm_passes={samples['passes']} op_samples={samples['op_s']} "
          f"epoch_samples={samples['epoch_s']}")
    for r in threw[:5]:
        print(f"  op failed: {r['op']} (pass {r['pass']}): {r['error']}")
    for op in mismatched:
        print(f"  output mismatch: {op}")
    # time the hypervisor gave this machine's CPUs to other guests: on a
    # shared host it explains most run-to-run spread of the wall times
    print(f"  host steal share during the run: "
          f"{(steal1 - steal0) / max(1, total1 - total0):.3f}")
    print(f"  oracle self-check caught a corrupted digest: {self_check}")
    walls = {kind: " ".join(f"{w:.2f}{'t' if t else ''}" for w, t in metrics.pass_walls(result, kind))
             for kind in ("cold", "warmup", "warm")}
    print(f"  passes (s, t = traced): cold {walls['cold']}, unmeasured {walls['warmup']}, "
          f"warm {walls['warm']}")

    if a.trace:
        layer, detail = metrics.per_layer(result, n_cores)
        trace_file = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": detail["spans"]}, f)
        bad = detail["unaccounted_ops"]
        print(f"  spans={len(detail['spans'])} (written to {os.path.relpath(trace_file, ROOT)}) "
              f"ops outside the accounting tolerance: {len(bad)}")
        correct = correct and not bad
        wanted = [m["name"] for m in bench["per_layer"]]
        shown = layer
    else:
        wanted = [m["name"] for m in bench["end_to_end"]]
        shown = e2e
    for k in sorted(shown):
        print(f"  {k:32s} {shown[k]:14.6f} {metrics.UNITS[k]}")
    missing = [k for k in wanted if k not in shown]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(result_line(correct, attempted, failed, shown, wanted))


if __name__ == "__main__":
    main()
